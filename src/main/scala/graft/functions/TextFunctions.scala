package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis primitives for large-scale corpus pipelines: tokenization,
 * word-position indexes (the reference's phrase-search substrate,
 * reference: proto/hydraide.proto:2647-2686), shingling, hashing /
 * fingerprinting, language-ID heuristics and quality scoring.
 *
 * Everything is built from codegen'd built-in functions (no UDFs) so the
 * hot path stays inside whole-stage codegen and scales linearly over a
 * 100 TB corpus scan.
 */
object TextFunctions {

  /** Whitespace tokenization (fixtures are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Rolling k-gram hashes of a token-array column — O(n) hash work and
    * zero string allocation per row (see [[RollingGramHashExpr]]). */
  def gramHashes(toks: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      RollingGramHashExpr(org.apache.spark.sql.GraftBridge.expression(toks), k))

  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * Overlapping token-window chunks for long-document splitting: windows
   * of `windowSize` tokens starting every `stride` tokens (stride <
   * windowSize ⇒ overlap, the usual context-preserving setting). A doc of
   * n tokens yields ceil((n - windowSize) / stride) + 1 chunks (min 1);
   * the last window truncates at the end. Pure per-row expression — no
   * shuffle, codegen-eligible, pairs with posexplode for (chunk_no, text)
   * rows.
   */
  def chunkWindows(text: Column, windowSize: Int, stride: Int): Column = {
    require(windowSize > 0 && stride > 0, "windowSize and stride must be positive")
    val toks = tokens(text)
    val n = size(toks)
    // clamp the count to starts that actually land inside the doc: with
    // stride > windowSize (legal — gapped subsampling) the coverage
    // formula can schedule a start past n, whose slice is empty and whose
    // array_join is a PHANTOM "" chunk entering the corpus
    val covering = ceil((n - lit(windowSize)).cast("double") / stride).cast("int") + 1
    val inDoc = floor((n - 1).cast("double") / stride).cast("int") + 1
    val numChunks = when(n <= windowSize, lit(1))
      .otherwise(least(covering, inDoc))
    transform(sequence(lit(0), numChunks - 1), i =>
      array_join(slice(toks, i * stride + 1, lit(windowSize)), " "))
  }

  /**
   * BPE-ish subword count estimate: whitespace tokens plus extra splits on
   * punctuation/digit boundaries — a deterministic proxy for tokenizer cost
   * used by training-data pipelines to budget documents.
   */
  def tokenCountBpeIsh(text: Column): Column =
    size(split(text, "[\\s\\p{Punct}]+")) +
      (length(text) / lit(16)).cast(IntegerType)

  /**
   * Word-position index `map[word] -> sorted positions` — the exact shape the
   * reference stores for phrase search (map[string][]int). Built entirely
   * from higher-order functions: one pass to tag positions, one to group.
   * Positions are 0-based.
   */
  def wordIndex(text: Column): Column =
    // let-bind the tagged token array: referencing it inside the per-key
    // lambda would rebuild it once per distinct word (O(distinct x tokens)
    // duplicate evaluation — HOF lambdas defeat subexpression elimination)
    element_at(
      transform(array(transform(tokens(text), (w, i) => struct(w.as("w"), i.as("p")))),
        tagged => {
          val keys = array_distinct(transform(tagged, s => s("w")))
          map_from_arrays(
            keys,
            transform(keys, k => transform(filter(tagged, s => s("w") === k), s => s("p"))))
        }),
      1)

  /** Contiguous n-gram shingles over the token array, space-joined.
    * The token array is let-bound (array(x) + transform) so the `split`
    * runs once per row — referencing it directly inside the per-shingle
    * lambda would re-split the text once per shingle (O(tokens²)). */
  def shingles(text: Column, n: Int): Column =
    element_at(
      transform(array(tokens(text)), toks =>
        when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - lit(n)),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array(concat_ws(" ", toks)))),
      1)

  /**
   * Portable 32-bit hash: first 8 hex digits of md5 as an unsigned int.
   * Chosen over xxhash64/murmur because MD5 is bit-identical across engines
   * (Spark, DuckDB, Python) — this is what makes differential testing of the
   * dedup/minhash pipeline possible.
   */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType)

  /** 60-bit stable fingerprint from md5 (15 hex digits => < 2^60, positive). */
  def fingerprint64(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /**
   * MinHash signature: k permutations (a_i * h + b_i) mod p over the 32-bit
   * shingle hashes; signature[i] = min. Standard construction (Broder '97).
   */
  val MinhashPrime = 4294967311L // smallest prime > 2^32

  /** Fixed-seed (a,b) permutation params. Kept < 2^20 so a*h (h < 2^32)
    * stays < 2^52 — no int64 overflow in ANY engine evaluating the same
    * formula (differential-oracle requirement; overflow semantics differ
    * across engines). */
  def minhashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)(((rnd.nextInt(1 << 20) + 1).toLong, rnd.nextInt(1 << 20).toLong))
  }

  def minhashSignature(shingleArr: Column, k: Int, seed: Long = 42L): Column = {
    // Single-pass fold with an array accumulator: the shingle->md5 hash array
    // is evaluated ONCE per row. The naive form (k independent
    // array_min(transform(hashes, ...)) terms) re-inlines the entire
    // split->slice->concat_ws->md5 pipeline k times, because HOF lambdas
    // defeat Catalyst's common-subexpression elimination — at sf0.1 that was
    // 12.1 s for k=8 vs <1 s for this form, same output bit-for-bit.
    val params = array(minhashParams(k, seed).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    // array(x) + outer transform = "let hs = x in ..." — the only way to
    // bind a subexpression to a variable inside a single Column tree
    element_at(
      transform(array(transform(shingleArr, s => hash32(s))), hs =>
        transform(params, p =>
          array_min(transform(hs, h => (h * p("a") + p("b")) % MinhashPrime)))),
      1)
  }

  /**
   * 32-bit SimHash over token 32-bit hashes: per-bit majority vote.
   * Near-duplicate docs land within a small Hamming distance.
   */
  def simhash32(text: Column): Column = {
    // Single-pass fold: one walk over the token-hash array accumulates all
    // 32 per-bit counts (plus the token count) in a struct accumulator, then
    // the finish lambda reduces the 32-element count array to the signature.
    // The naive 32-term sum re-walked the md5 hash array 64x (a filter and a
    // size per bit) — 6.8 s at sf0.1 vs <1 s here, same output.
    val powArr = array((0 until 32).map(b => lit(1L << b)): _*)
    // bind the hash array once (array(x) + outer transform = let-binding),
    // then one majority-vote term per bit over the bound variable
    element_at(
      transform(array(transform(tokens(text), t => hash32(t))), hs =>
        aggregate(
          transform(powArr, p =>
            when(size(filter(hs, h => h.bitwiseAND(p) =!= 0)) * 2 >= size(hs), p)
              .otherwise(lit(0L))),
          lit(0L), (s, x) => s + x)),
      1)
  }

  /** [[minhashSignature]] over an ALREADY-HASHED shingle array (the
    * signature-table plan hashes once and shares the array between the
    * signature and the stored verify set). min over the distinct hash set
    * equals min over the raw multiset, so signatures are bit-identical
    * to the from-strings form. */
  def minhashSignatureFromHashes(hashArr: Column, k: Int,
                                 seed: Long = 42L): Column = {
    val params = array(minhashParams(k, seed).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    transform(params, p =>
      array_min(transform(hashArr, h => (h * p("a") + p("b")) % MinhashPrime)))
  }

  /** Jaccard similarity of the distinct-shingle sets of two texts. */
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val a = array_distinct(shinglesA)
    val b = array_distinct(shinglesB)
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val uni = size(array_union(a, b)).cast(DoubleType)
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  // --- language ID (n-gram/stopword heuristic) -----------------------------

  /** Marker stopwords per language; the score is hits/tokens, argmax wins.
    * Deterministic, SQL-expressible, linear — the idiom a real pipeline
    * would use before paying for a model-based identifier. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** Marker hit count for one language's word list. */
  def langHits(text: Column, lang: String): Column = {
    val ws = LangMarkers.toMap.apply(lang)
    size(filter(tokens(text), t => t.isin(ws: _*)))
  }

  /** Predicted language = argmax marker hits, first-listed language wins
    * ties; "und" when no marker hits at all, and for NULL text under ANSI
    * mode (the default; size(NULL) is NULL). The array_max + CASE chain
    * mirrors the DuckDB oracle's greatest + CASE expression.
    *
    * The five hit counts are let-bound (array(x) + transform) because each
    * is a `filter` lambda: codegen's subexpression elimination skips
    * lambda-containing subtrees, so referencing the counts directly in the
    * max and in every CASE branch plans 35 marker walks per row instead of
    * 5. (Binding the lambda-FREE `split` as well was measured slower —
    * CSE already dedupes that.) */
  def langId(text: Column): Column = {
    val langs = LangMarkers.map(_._1)
    element_at(
      transform(array(array(langs.map(langHits(text, _)): _*)), hits => {
        val best = array_max(hits)
        langs.indices.foldLeft(when(best === 0, lit("und"))) {
          (acc, i) => acc.when(hits(i) === best, lit(langs(i)))
        }.otherwise(lit("und"))
      }),
      1)
  }

  // --- PII scanning ---------------------------------------------------------

  /** ONE definition each for scan and redact — the pair must never
    * diverge. Patterns are deliberately in the RE2-compatible subset so
    * Spark (java.util.regex) and DuckDB (RE2) agree exactly, and
    * deliberately NARROW: lowercase local/domain, single-label domain.
    * They are corpus-heuristic shapes, not an RFC 5322 matcher. */
  private[functions] val EmailPattern = "[a-z0-9._]+@[a-z0-9-]+\\.[a-z]{2,}"
  private[functions] val PhonePattern = "[0-9]{3}-[0-9]{3,4}-[0-9]{4}"

  /** Email-shaped substring present (see [[EmailPattern]]'s scope note). */
  def hasEmail(text: Column): Column = text.rlike(EmailPattern)

  /** Phone-shaped digit group (NNN-NNN-NNNN / NNN-NNNN-NNNN). */
  def hasPhoneLike(text: Column): Column = text.rlike(PhonePattern)

  /** Redaction counterpart of the scan flags: spans the SCAN patterns
    * match are replaced by placeholder tokens — exactly the hasEmail/
    * hasPhoneLike shapes, with their documented limits ('Alice@X.com' or a
    * subdomain local part is NOT fully matched; widen the shared patterns
    * for a production redactor, which widens scan and redact together).
    * Per-row codegen'd regexp_replace — no shuffle, corpus-scan friendly. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  // --- quality scoring ------------------------------------------------------

  val Stopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast(DoubleType) /
      greatest(length(text), lit(1)).cast(DoubleType)

  /** Stopword token ratio. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(Stopwords: _*))).cast(DoubleType) /
      greatest(size(toks), lit(1)).cast(DoubleType)
  }

  /** Mean token length. */
  def meanWordLen(text: Column): Column =
    (length(text) - tokenCount(text) + lit(1)).cast(DoubleType) /
      greatest(tokenCount(text), lit(1)).cast(DoubleType)

  /**
   * Composite quality score in [0,1]: rewards mid-range length, some
   * stopwords, low punctuation — the C4/Gopher-rule shape every training
   * pipeline applies, reduced to a deterministic closed form.
   */
  def qualityScore(text: Column): Column = {
    // counters fused into ONE byte loop (QualityCountsExpr — the
    // gopherCounts discipline): the split + interpreted filter/isin HOF
    // walk was the measured floor of every calibration-family query. The
    // score arithmetic stays in Columns so the round(6) boundary
    // discipline is byte-identical to the SQL mirror.
    val c = QualityFunctions.qualityCounts(text, Stopwords)
    val nWords = c.getField("n_words")
    val lenScore = least(nWords.cast(DoubleType) / lit(50.0), lit(1.0))
    val stopScore = least(
      c.getField("n_stop").cast(DoubleType) /
        greatest(nWords, lit(1L)).cast(DoubleType) * lit(5.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) -
      c.getField("n_punct").cast(DoubleType) /
        greatest(c.getField("n_chars"), lit(1L)).cast(DoubleType) * lit(5.0),
      lit(0.0))
    round((lenScore * lit(0.4) + stopScore * lit(0.3) + punctPenalty * lit(0.3)), 6)
  }

  /** Duplicate-token fraction, the word-level Gopher repetition signal
    * (published in the Gopher corpus-filtering rules): 1 - |distinct
    * tokens| / |tokens|. Pure per-row HOF — no shuffle. */
  def dupTokenFrac(text: Column): Column =
    round(lit(1.0) - size(array_distinct(tokens(text))).cast(DoubleType) /
      greatest(tokenCount(text), lit(1)).cast(DoubleType), 6)

  /** Word bigrams ("a b") from an ALREADY-BOUND token-array column, for
    * mode-count repetition signals. Callers must project `tokens(text)`
    * into a column first and pass that attribute: passing the split
    * expression directly puts it INSIDE the transform lambda, where
    * per-element re-evaluation turns an O(n) row into O(n^2) splits
    * (measured 6x on q_repetition). The COUNTING is a (doc, bigram)
    * aggregation the caller shuffles — see q_repetition's shape note. */
  def wordBigrams(toks: Column): Column = {
    // size<2 guard: Spark's sequence(1, 0) would generate DESCENDING [1,0]
    // and element_at(t, 0) throws — a 1-token doc must yield no bigrams
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Longest run of equal adjacent elements in an ALREADY-SORTED array of
    * STRINGS — i.e. the mode count, as one per-row fold. State is (prev,
    * run, best); `<=>` keeps the fold total when elements can be NULL (the
    * initial prev is NULL and never equals a real element). String-typed
    * accumulator only: the Column API cannot see the element type, and the
    * fold's zero must type `prev` concretely — widen by parameter, not by
    * guesswork, if a non-string caller ever appears. */
  def maxRunCount(sortedArr: Column): Column =
    aggregate(
      sortedArr,
      struct(lit(null).cast(StringType).as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (st, x) => {
        val run = when(st.getField("prev") <=> x, st.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))

  /** Mode-bigram fraction (the Gopher top-bigram repetition signal) as a
    * pure per-row pass: sort the bigram array, take the longest equal run
    * over it, divide by the bigram count. O(n log n) per document and ZERO
    * shuffle — the (doc, bigram) explode→count→max/sum→join shape computes
    * the same number but moves every bigram of the corpus through a
    * shuffle; at 100 TB that shuffle IS the query, while this form is a
    * map-only scan (A/B at sf0.1: 0.93 s → see q_repetition). Callers bind
    * the token array to a column first (see [[wordBigrams]]'s doc). */
  def topBigramFrac(toks: Column): Column =
    // the bigram count IS size(toks)-1, so the sorted array is evaluated
    // exactly once (no second array subtree for the denominator)
    when(size(toks) >= 2,
      round(maxRunCount(array_sort(wordBigrams(toks))).cast(DoubleType) /
        (size(toks) - lit(1)).cast(DoubleType), 6))
      .otherwise(lit(0.0))
}

/**
 * Rolling k-gram hashes of a token array as ONE codegen'd expression:
 * each token hashes once (Spark's XXH64 over its UTF-8 bytes), and the
 * gram hash is the degree-(k−1) polynomial combination of its k token
 * hashes over 2^64 — computed ROLLING, so a document of n tokens costs
 * O(n) hash work and ZERO string allocation, versus the
 * `xxhash64(concat_ws(slice(...)))` formulation's O(n·k) bytes built and
 * hashed per document. Output: long[n−k+1] (empty when n < k).
 *
 * Equality contract: two grams collide only by 64-bit hash collision —
 * token boundaries cannot alias (the polynomial runs over per-token
 * hashes, not a joined byte stream). Consumers (substring dedup) compare
 * hashes for EQUALITY only, and the DuckDB oracle joins the gram STRINGS,
 * so the hash function is a free implementation choice differentially
 * covered end-to-end.
 */
case class RollingGramHashExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
                               k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData

  require(k >= 1, "k must be >= 1")

  // SQL-registered (graft_gram_hashes): a wrong-typed argument must fail
  // analysis cleanly, not execution with a cast error
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_gram_hashes needs an array<string> token column, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // odd multiplier (2^64 / golden ratio) — full-period over Z/2^64
  private final val B = 0x9E3779B97F4A7C15L
  /** B^(k-1) mod 2^64 — the coefficient of the outgoing token hash. */
  private lazy val bPow: Long = {
    var p = 1L; var i = 1
    while (i < k) { p *= B; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) 0L
        else org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + th(i); i += 1 }
    out(0) = h
    i = 1
    while (i <= n - k) {
      h = (h - th(i - 1) * bPow) * B + th(i + k - 1)
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val th = ctx.freshName("th")
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      val h = ctx.freshName("h"); val j = ctx.freshName("j")
      s"""
         |final int $n = $c.numElements();
         |if ($n < $k) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $th = new long[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $th[$i] = $c.isNullAt($i) ? 0L :
         |      org.apache.spark.sql.catalyst.expressions.XXH64
         |        .hashUTF8String($c.getUTF8String($i), 42L);
         |  }
         |  long[] $out = new long[$n - $k + 1];
         |  long $h = 0L;
         |  for (int $j = 0; $j < $k; $j++) { $h = $h * ${B}L + $th[$j]; }
         |  $out[0] = $h;
         |  for (int $i = 1; $i <= $n - $k; $i++) {
         |    $h = ($h - $th[$i - 1] * ${bPow}L) * ${B}L + $th[$i + $k - 1];
         |    $out[$i] = $h;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): RollingGramHashExpr =
    copy(child = newChild)
}
