package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TokenDict

/**
 * BPE vocabulary induction — the tokenizer-training half of a
 * training-data pipeline (the engine already ships the APPLY half:
 * `TermStats.encodeTokens` / `TextFunctions` token estimates). No reference
 * analogue; the algorithm is the published byte-pair-encoding procedure
 * (Sennrich et al. 2016): iteratively merge the most frequent adjacent
 * token pair.
 *
 * THE scale property (the classic BPE trick, kept intact here): after ONE
 * corpus pass builds the word-frequency table, every training iteration
 * runs on the WORD VOCABULARY — corpus text is never touched again. The
 * table is collected in one action, at most [[DriverWords]] + 1 rows of
 * it, and the path follows its size:
 *
 *  - up to [[DriverWords]] words, the merge loop runs on the DRIVER, as
 *    the usual tokenizer trainers do: pair counts are kept incrementally,
 *    so a merge touches only the words that contain its pair, and no
 *    merge costs a Spark job. The trained dictionary then reaches the
 *    corpus inside one codegen'd lookup expression ([[TokenDict]]);
 *  - above it (a 100 TB corpus's vocabulary can outgrow driver memory)
 *    the loop is DISTRIBUTED: each batch of merges costs one
 *    vocabulary-bounded (t1, t2) aggregation plus a top-K collect, and
 *    the dictionary broadcasts into the corpus scan.
 *
 * Both paths learn the same merges and segment every word the same way
 * (BpeSpec-pinned; a bound of 0 forces the distributed path).
 *
 * Cross-engine determinism: pair counts are integer sums of integer word
 * frequencies (order-independent); the winning pair breaks ties on
 * (count DESC, t1 ASC, t2 ASC) over `[a-z]+` tokens where byte order and
 * lexicographic order coincide; and the merge application is the
 * left-to-right non-overlapping `replace` every engine implements
 * identically. The token-boundary encoding makes `replace` safe:
 * a word's working form is ` t1  t2  t3 ` — tokens joined by TWO spaces,
 * one space at each end. A pair pattern ` t1  t2 ` (single-space flanks)
 * can then only match whole adjacent tokens — never inside a multi-char
 * token (its flank chars are letters, not spaces) — and consecutive
 * matches never share characters (each boundary donates a space to each
 * side), so ` a  a  a ` under merge (a,a) correctly yields ` aa  a `
 * (greedy left-to-right, the published BPE application order). The
 * invariant (double-space joints, single-space ends) is restored by the
 * replacement string itself.
 *
 * Scope contract: words are whitespace tokens matching `^[a-z]+$` (the
 * corpus's normalized form — see `NormalizeExpr` for getting there);
 * punctuation/digit/mixed-case tokens are out of vocabulary by design.
 */
object Bpe {

  /** One learned merge: the pair and its count at selection time. */
  final case class Merge(t1: String, t2: String, count: Long)

  /** The largest word vocabulary that trains on the driver; a larger one
    * trains distributed. At this bound a 30,000-merge training peaks at
    * about 150 MB of driver heap for the word table, the pair counts, the
    * pair → words index and the ranked pairs (BENCH_NOTES). */
  val DriverWords = 100000

  /** The (w, f) word-frequency table: the one corpus pass. The
    * aggregation runs HERE (adaptive execution runs its map stage when
    * the frame is re-rooted on its output rows), so the bounded collect
    * and the distributed loop both read that output: the corpus is
    * aggregated once, whichever path the training takes. */
  private[graft] def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    org.apache.spark.sql.GraftBridge.dropLineageAndStats(
      docs.select(explode(split(col(textCol), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("f")))

  /** At most `bound` + 1 rows of a [[wordCounts]] table, in one action:
    * all of it when it fits the bound, and proof that it does not when
    * `bound` + 1 rows come back. */
  private[graft] def collectWords(words: DataFrame,
                                  bound: Int): Array[(String, Long)] = {
    require(bound >= 0 && bound < Int.MaxValue, "word bound in [0, Int.MaxValue)")
    words.limit(bound + 1).collect().map(r => (r.getString(0), r.getLong(1)))
  }

  /** (word, f, repr) working table over a [[wordCounts]] table: repr =
    * ` c1  c2 … cn ` per the boundary encoding above. */
  private def initRepr(words: DataFrame): DataFrame =
    words
      .withColumn("_s", concat(lit(" "), regexp_replace(col("w"), "(.)", "$1  ")))
      .withColumn("repr", expr("substring(_s, 1, length(_s) - 1)"))
      .drop("_s")

  /** Adjacent-pair counts of a working table, weighted by word frequency. */
  private def pairCounts(repr: DataFrame): DataFrame = {
    val toks = split(trim(col("repr")), "  ")
    repr.select(col("f"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("t1"), b.as("t2")))).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(sum(col("f")).as("cnt"))
  }

  /**
   * Learn `merges` BPE merges from the corpus. Returns the ordered merge
   * list and the final token vocabulary with frequencies — both the
   * artifacts a tokenizer build consumes.
   *
   * A vocabulary of at most `driverWords` words trains on the driver (the
   * scale property above): one Spark action collects the word table and
   * the vocabulary returned is a local relation. A larger one trains
   * distributed, as follows.
   *
   * BATCHED selection (the job-count fix for real tokenizer builds —
   * 30k merges must not be 30k Spark actions): each vocabulary action
   * collects the top `batchSize` pairs and accepts a PREFIX of them that
   * is provably what sequential selection would pick, by two rules over
   * the collected list alone:
   *
   *  - token disjointness: a candidate is only accepted while neither of
   *    its tokens appears in an earlier accepted merge of this batch —
   *    applying those merges then provably leaves the candidate's own
   *    count unchanged (no shared adjacency can be created or destroyed);
   *  - interference bound: a merge (a,b)→ab can CREATE pairs — (x,ab)
   *    needs an (x,a) adjacency and (ab,y) needs (b,y), so every created
   *    pair's count is bounded by the current count of an old pair with
   *    t2 = a or t1 = b (chained products (ab_i, ab_j) reduce to (b_i,
   *    a_j), the same bound). Old pairs NOT in the collected top-K are
   *    bounded by the K-th count. A candidate is accepted only while its
   *    count STRICTLY exceeds the running maximum of these bounds —
   *    strict, because an equal-count created pair could win the
   *    (cnt, t1, t2) tie-break. Destroyed/shrunk pairs only ever drop in
   *    rank, so the collected order stays valid for the rest.
   *
   * The batch stops at the first rejection (sequential selection could
   * diverge there), so `batchSize = 1` degenerates to the classic
   * one-merge-per-action loop and every batch size learns the IDENTICAL
   * merge sequence (BpeSpec-pinned). Zipfian corpora share letters across
   * top pairs, so typical batches accept a few merges each — the job
   * count drops by that factor, it does not divide perfectly by
   * `batchSize`.
   */
  def train(docs: DataFrame, textCol: String,
            merges: Int, checkpointEvery: Int = 16,
            batchSize: Int = 16,
            driverWords: Int = DriverWords): (Seq[Merge], DataFrame) = {
    val (learned, segmented) =
      trainCore(docs, textCol, merges, checkpointEvery, batchSize, driverWords)
    val vocab = segmented match {
      case Left(t) =>
        val freq = scala.collection.mutable.HashMap.empty[String, Long]
        for (i <- t.tokens.indices; tok <- t.tokens(i))
          freq(tok) = freq.getOrElse(tok, 0L) + t.words(i)._2
        docs.sparkSession.createDataFrame(freq.toSeq).toDF("token", "freq")
      case Right(repr) => repr
        .select(col("f"), explode(split(trim(col("repr")), "  ")).as("token"))
        .groupBy("token").agg(sum(col("f")).as("freq"))
    }
    (learned, vocab)
  }

  /** A driver-trained segmentation: word `words(i)._1`, seen
    * `words(i)._2` times, segments as `tokens(i)`. */
  private final case class DriverTable(words: Array[(String, Long)],
                                       tokens: Array[Array[String]])

  /** The job description of the vocabulary collect and of the driver loop. */
  val DriverLabel = "bpe/train driver"
  /** The job description of the distributed loop's actions. */
  val DistributedLabel = "bpe/train distributed"

  /** The train loop proper: collects the word table once and, when it
    * fits `driverWords`, merges on the driver; otherwise it runs the
    * distributed loop and returns its final WORKING TABLE (w, f, repr).
    * [[train]] derives the token vocabulary from either, [[trainEncode]]
    * uses either as the word→tokens dictionary. The collect runs under
    * the job description [[DriverLabel]] and the distributed loop's
    * actions under [[DistributedLabel]], so a job list shows which path a
    * training took; the caller's description is restored on return. */
  private def trainCore(docs: DataFrame, textCol: String,
                        merges: Int, checkpointEvery: Int, batchSize: Int,
                        driverWords: Int): (Seq[Merge], Either[DriverTable, DataFrame]) = {
    require(merges >= 0, "non-negative merge count")
    require(checkpointEvery >= 1, "positive checkpoint interval")
    require(batchSize >= 1, "positive selection batch size")
    val sc = docs.sparkSession.sparkContext
    val callerLabel = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription(DriverLabel)
      val table = wordCounts(docs, textCol)
      val words = collectWords(table, driverWords)
      if (words.length <= driverWords) {
        val (learned, tokens) = mergeOnDriver(words, merges)
        (learned, Left(DriverTable(words, tokens)))
      } else {
        sc.setJobDescription(DistributedLabel)
        val (learned, repr) = mergeDistributed(table, merges, checkpointEvery, batchSize)
        (learned, Right(repr))
      }
    } finally sc.setJobDescription(callerLabel)
  }

  /** Pairs in selection order: count DESC, t1 ASC, t2 ASC — the
    * distributed loop's `orderBy`, since `[a-z]+` tokens compare the same
    * as strings and as bytes. */
  private val selectionOrder: java.util.Comparator[Merge] = (x, y) =>
    if (x.count != y.count) java.lang.Long.compare(y.count, x.count)
    else { val c = x.t1.compareTo(y.t1); if (c != 0) c else x.t2.compareTo(y.t2) }

  /** `ts` with every (a, b) adjacency merged into `ab`, greedy left to
    * right: the token form of the boundary-encoded `replace`. */
  private def applyMerge(ts: Array[Int], a: Int, b: Int, ab: Int): Array[Int] = {
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < ts.length) {
      if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) { out += ab; i += 2 }
      else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** Sequential BPE over a collected word table, on the driver. Tokens are
    * ids and a pair is one Long key, (t1 id, t2 id). Pair counts are kept
    * incrementally: a merge re-counts only the words that hold its pair
    * (their old pairs out, their new pairs in), and a tree set keeps the
    * pairs in selection order. Returns the merges and each word's final
    * tokens. */
  private def mergeOnDriver(words: Array[(String, Long)],
                            merges: Int): (Seq[Merge], Array[Array[String]]) = {
    import scala.collection.mutable
    val names = mutable.ArrayBuffer.empty[String]
    val ids = mutable.HashMap.empty[String, Int]
    def id(t: String): Int = ids.getOrElseUpdate(t, { names += t; names.length - 1 })
    // t1's id in the high half, t2's in the low half XOR t1's scrambled:
    // LongMap hashes high ^ low, which puts every pair with the same
    // a ^ b in one probe chain unless the halves are mixed
    def key(a: Int, b: Int): Long = (a.toLong << 32) | ((b ^ (a * 0x9E3779B9)) & 0xFFFFFFFFL)
    def merge(p: Long, cnt: Long) = {
      val a = (p >>> 32).toInt
      Merge(names(a), names(p.toInt ^ (a * 0x9E3779B9)), cnt)
    }
    def pairs(ts: Array[Int]): Iterator[Long] =
      Iterator.range(1, ts.length).map(j => key(ts(j - 1), ts(j)))

    val tokens = words.map(_._1.toCharArray.map(c => id(c.toString)))
    val counts = mutable.LongMap.empty[Long]
    val holders = mutable.LongMap.empty[mutable.Set[Int]] // indices of the words
    for (i <- tokens.indices; p <- pairs(tokens(i))) {
      counts(p) = counts.getOrElse(p, 0L) + words(i)._2
      holders.getOrElseUpdate(p, mutable.Set.empty) += i
    }
    val ranked = new java.util.TreeSet[Merge](selectionOrder)
    counts.foreachEntry((p, cnt) => ranked.add(merge(p, cnt)))
    val learned = mutable.ArrayBuffer.empty[Merge]
    while (learned.size < merges && !ranked.isEmpty) {
      val m = ranked.first()
      learned += m
      val (a, b, ab) = (ids(m.t1), ids(m.t2), id(m.t1 + m.t2))
      val before = mutable.LongMap.empty[Long] // each touched pair's old count
      def shift(p: Long, by: Long): Unit = {
        val cnt = counts.getOrElse(p, 0L)
        before.getOrElseUpdate(p, cnt)
        counts(p) = cnt + by
      }
      for (i <- holders(key(a, b)).toArray) {
        val f = words(i)._2
        pairs(tokens(i)).foreach { p => shift(p, -f); holders(p) -= i }
        tokens(i) = applyMerge(tokens(i), a, b, ab)
        pairs(tokens(i)).foreach { p =>
          shift(p, f); holders.getOrElseUpdate(p, mutable.Set.empty) += i
        }
      }
      before.foreachEntry { (p, old) =>
        val cnt = counts(p)
        if (cnt != old) {
          if (old > 0) ranked.remove(merge(p, old))
          if (cnt > 0) ranked.add(merge(p, cnt))
        }
        if (cnt == 0) { counts -= p; holders -= p }
      }
    }
    (learned.toSeq, tokens.map(_.map(names)))
  }

  /** The batched distributed loop over the (w, f, repr) working table
    * built from a [[wordCounts]] table (see [[train]]); returns the merges
    * and the final working table. */
  private def mergeDistributed(words: DataFrame, merges: Int,
                               checkpointEvery: Int,
                               batchSize: Int): (Seq[Merge], DataFrame) = {
    // iterations re-read the working table; vocabulary-bounded cache
    var repr = graft.CacheRegistry.track(initRepr(words))
    val learned = Seq.newBuilder[Merge]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      val top = pairCounts(repr)
        .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)
        .limit(batchSize).collect()
        .map(r => Merge(r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true // no pairs left (all words 1 token)
      else {
        // pairs beyond the collected K can hold at most the K-th count;
        // a short collect means the table is exhausted — nothing hides
        val tailBound = if (top.length < batchSize) 0L else top.last.count
        val used = scala.collection.mutable.Set.empty[String]
        var interference = 0L
        var stop = false
        for (c <- top if !stop && step < merges) {
          val disjoint = !used(c.t1) && !used(c.t2)
          if (disjoint && (used.isEmpty || c.count > interference)) {
            learned += c
            val product = c.t1 + c.t2
            used += c.t1; used += c.t2
            // the product symbol is a token too: later candidates naming
            // it would have boosted counts — exclude them like the parents
            used += product
            val neighborBound = top.iterator
              .filter(p => p.t2 == c.t1 || p.t1 == c.t2)
              .map(_.count).maxOption.getOrElse(0L)
            // a pair CREATED by this merge, (x, product) or (product, y),
            // inherits its count from the source pair (x, t1) / (t2, y) —
            // which may be COLLECTED (≤ neighborBound) or UNCOLLECTED
            // (≤ tailBound), so the creation side is bounded by
            // max(neighborBound, tailBound), NOT neighborBound alone
            // (with neighborBound < tailBound the old `tailBound +
            // neighborBound` undercounted and a later batch pick could
            // diverge from the sequential merge sequence). An UNCOLLECTED
            // old pair that already involves a token spelled `product`
            // can additionally carry its own ≤ tailBound count on top —
            // the sum covers both. A COLLECTED pair already naming the
            // product symbol can be boosted past any bound we can compute
            // from here, so the batch conservatively ends with this pick.
            interference = math.max(interference,
              tailBound + math.max(neighborBound, tailBound))
            if (top.exists(p => p.t1 == product || p.t2 == product))
              stop = true
            repr = repr.withColumn("repr", replace(col("repr"),
              lit(s" ${c.t1}  ${c.t2} "), lit(s" ${c.t1}${c.t2} ")))
            step += 1
            // a REAL tokenizer build runs tens of thousands of merges, and
            // the naive loop would nest one `replace` per merge —
            // expression depth grows linearly, so analyzer + codegen cost
            // compounds quadratically and the plan eventually breaks the
            // JVM method limit. Cut the lineage every `checkpointEvery`
            // merges (the Clustering discipline): the working table is
            // vocabulary-sized, so a localCheckpoint materialization is
            // cheap, and the plan stays O(checkpointEvery) deep FOREVER
            // regardless of merge count. Between cuts the frame is
            // deliberately NOT cached: tracking a new persist per merge
            // would accumulate O(merges) vocabulary copies in the block
            // manager (none released until releaseAll), while recomputing
            // ≤checkpointEvery map-only replaces over the materialized
            // checkpoint is vocabulary-cheap by construction.
            if (step % checkpointEvery == 0)
              repr = org.apache.spark.sql.GraftBridge.dropLineageAndStats(
                repr.localCheckpoint())
          } else stop = true
        }
      }
    }
    (learned.result(), repr)
  }

  /**
   * Train `merges` merges and tokenize the SAME corpus with them, reusing
   * the trained segmentation as the word→tokens dictionary — result-
   * identical to `applyMerges(docs, …, train(docs, …)._1)` (BpeSpec-pinned)
   * because apply ≡ train segmentation by construction over the exact same
   * `[a-z]+` word set, but one corpus explode+distinct shuffle and one
   * vocabulary-sized merge replay cheaper (guide §2.4: the apply half's
   * word table re-derived what training already materialized). A
   * driver-trained dictionary rides in one codegen'd lookup expression
   * ([[TokenDict]]), so the encode plans no join and no broadcast; a
   * distributed one broadcasts as in [[applyMerges]].
   */
  def trainEncode(docs: DataFrame, textCol: String, keyCol: String,
                  merges: Int, checkpointEvery: Int = 16,
                  batchSize: Int = 16, driverWords: Int = DriverWords): DataFrame =
    trainCore(docs, textCol, merges, checkpointEvery, batchSize, driverWords)._2 match {
      case Left(t) =>
        val dict = new TokenDict(t.words.map(_._1), t.tokens)
        docs.select(col(keyCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
          .select(col(keyCol), col("pos"),
            posexplode(TokenDict.lookup(col("w"), dict)).as(Seq("subpos", "token")))
      case Right(repr) => encodeWithDict(docs, textCol, keyCol,
        repr.select(col("w"), split(trim(col("repr")), "  ").as("toks")))
    }

  /**
   * Tokenize a corpus with learned merges — the APPLY half. The merge
   * chain runs ONCE over the distinct word vocabulary (the same replace
   * discipline as training, so apply ≡ train segmentation by
   * construction), producing a word → tokens dictionary that BROADCASTS;
   * the corpus then tokenizes in its scan stage via the dictionary join —
   * the corpus itself never shuffles, the published "cache word
   * segmentations" trick in distributed form. Out-of-scope words (not
   * `[a-z]+`) pass through as single opaque tokens.
   *
   * Output: one row per (document, word position, token position, token) —
   * the exploded form downstream encoders consume.
   */
  def applyMerges(docs: DataFrame, textCol: String, keyCol: String,
                  merges: Seq[Merge], checkpointEvery: Int = 16): DataFrame = {
    val words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .distinct()
      .withColumn("_s", concat(lit(" "), regexp_replace(col("w"), "(.)", "$1  ")))
      .withColumn("repr", expr("substring(_s, 1, length(_s) - 1)"))
      .drop("_s")
    // same lineage discipline as train(): a 30k-merge chain folded into one
    // projection would exceed any codegen/analyzer budget — cut every
    // `checkpointEvery` merges on the vocabulary-sized working table
    val segmented = merges.zipWithIndex.foldLeft(words) { case (acc, (m, i)) =>
      val next = acc.withColumn("repr", replace(col("repr"),
        lit(s" ${m.t1}  ${m.t2} "), lit(s" ${m.t1}${m.t2} ")))
      if ((i + 1) % checkpointEvery == 0)
        org.apache.spark.sql.GraftBridge.dropLineageAndStats(next.localCheckpoint())
      else next
    }
    encodeWithDict(docs, textCol, keyCol,
      segmented.select(col("w"), split(trim(col("repr")), "  ").as("toks")))
  }

  /** Tokenize the corpus against a (w, toks) dictionary: the dictionary
    * broadcasts, the corpus tokenizes in its scan stage (shared by
    * [[applyMerges]] and [[trainEncode]]). */
  private def encodeWithDict(docs: DataFrame, textCol: String, keyCol: String,
                             dict: DataFrame): DataFrame =
    docs.select(col(keyCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .join(broadcast(dict), Seq("w"), "left_outer")
      // out-of-scope word = itself, one token (no silent drops)
      .withColumn("toks", coalesce(col("toks"), array(col("w"))))
      .select(col(keyCol), col("pos"),
        posexplode(col("toks")).as(Seq("subpos", "token")))

  /**
   * Persist a learned merge list as the tokenizer artifact — merge ORDER
   * is the tokenizer (applying the same merges in a different order
   * segments differently), so the row carries its index explicitly and
   * [[loadMerges]] restores exactly that order. CAS-versioned like every
   * other artifact (IndexLifecycle): the list stages under an immutable
   * `v=N` and the pointer flips last — a retrain over a live tokenizer
   * can never hand a concurrent encode job a torn/truncated merge list
   * (merge order IS the tokenizer; a truncated list segments every
   * document differently, silently).
   */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[Merge], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val next = IndexLifecycle.nextVersion(spark, path)
    spark.createDataFrame(
      merges.zipWithIndex.map { case (m, i) =>
        org.apache.spark.sql.Row(i, m.t1, m.t2, m.count)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("t1",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("t2",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .write.mode("overwrite").parquet(s"$path/v=$next")
    IndexLifecycle.flipPointer(spark, path, next)
  }

  /** Restore a merge list in its learned order (bounded: merge lists are
    * vocabulary-scale — tens of thousands of rows). Resolves the CAS
    * pointer; a legacy flat artifact (pre-versioning) reads as-is. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[Merge] =
    spark.read.parquet(IndexLifecycle.resolveDir(spark, path))
      .orderBy(org.apache.spark.sql.functions.col("idx"))
      .collect()
      .map(r => Merge(r.getString(1), r.getString(2), r.getLong(3))).toSeq
}