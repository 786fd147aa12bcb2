package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{ShingleFunctions => SF, TextFunctions => TF, VectorFunctions => VF}

/**
 * Deduplication suite for training-data pipelines — exact, MinHash-LSH,
 * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
 *
 * Scale notes (the part that matters at 100 TB):
 *  - exact dedup is one hash-shuffle on a 16-byte digest, never on the text;
 *  - ALL near-dup paths share one candidate-generation shape: a persisted
 *    signature table is exploded to (band, bandHash) rows and self-joined on
 *    the band key — candidate generation is linear in corpus size, only keys
 *    cross the band shuffle, and the expensive payloads (shingle arrays) are
 *    fetched by joining BACK to the persisted signature table only for the
 *    surviving candidate pairs;
 *  - at cluster scale the `persist()` becomes a materialized signature table
 *    ([[Dedup.buildSignatures]]: write once, reuse for every band and the
 *    verify join, and across crawls) — the plan shape is identical.
 */
object Dedup {

  /**
   * Persist a signature table, tracked in [[graft.CacheRegistry]] so the
   * caches can be released after the pipeline outputs are consumed.
   *
   * The persist is LAZY by choice: every consumer here self-joins the
   * table, and the self-join's two shuffle-map stages run concurrently, so
   * a not-yet-materialized cache can be computed once per racing stage
   * ("Asked to cache already cached data" warnings). That duplicate work
   * fully overlaps in wall-clock (measured faster than an eager count(),
   * which serializes materialization before the join) — but it IS duplicate
   * CPU. The cluster-scale fix is shipped as [[buildSignatures]] +
   * [[minhashLshPrebuilt]] / [[dedupAgainstCorpusPrebuilt]]: one explicit
   * materialized write, then pure reads.
   */
  private def tracked(df: DataFrame): DataFrame =
    graft.CacheRegistry.track(df, StorageLevel.MEMORY_AND_DISK)

  /** Spread target for the CPU-heavy signature scans feeding a self-join:
    * enough parallelism to cover the hashing work on a small input without
    * drowning the many short downstream join stages in per-task overhead
    * (32-way spread measured ~2x slower end-to-end than 8-way at sf0.1).
    * Identity at cluster scale — see [[graft.Tables.spread]]. */
  private def spreadModest(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    graft.Tables.spread(df, math.max(4, p / 4))
  }

  /** Unpersist every signature table cached by dedup pipelines so far
    * (delegates to the engine-wide registry). */
  def releaseCaches(): Unit = graft.CacheRegistry.releaseAll()

  /** Exact dedup on a digest of `textCol`: keeps the row with the smallest
    * key per digest (deterministic winner), drops the rest. Shuffles only
    * (digest, key) — the canonical 100 TB-safe formulation. */
  def exact(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    // null text coalesces to a sentinel digest (md5 output is hex-only, so
    // "null" can never collide with a real digest): md5(NULL) is NULL, and
    // the null-hostile using-columns semi-join below would drop EVERY
    // null-text row — including the group's elected winner — instead of
    // keeping one, silently shrinking the corpus. With the sentinel, all
    // null-text rows form one dedup group like any other (matching the
    // oracle's PARTITION BY md5(text), which groups NULLs together).
    // Null KEYS keep the engine-wide probe discipline: they cannot win or
    // match, so null-keyed rows drop with the rest of their group.
    val withH = df.withColumn("_digest",
      coalesce(md5(col(textCol)), lit("null")))
    val winners = withH.groupBy(col("_digest")).agg(min(col(keyCol)).as(keyCol))
    withH.join(winners, Seq("_digest", keyCol), "left_semi").drop("_digest")
  }

  /** Exact dedup specialized for outputs that are FUNCTIONS OF THE TEXT:
    * one digest groupBy carries (key, derived values) — no join back, no
    * second scan of the input. Valid because an exact-dup group shares one
    * text, so any text-determined derived column is constant within the
    * group and `first` is deterministic in VALUE. Versus [[exact]] (which
    * must semi-join to recover arbitrary row payloads), this is one scan +
    * one map-combined shuffle of (digest, key, derived…) — the narrowest
    * possible plan for the "curate then keep (id, score)" shape, and the
    * one you want at 100 TB (the text never moves, and there is no second
    * pass over it). Null keys keep the engine-wide probe discipline: a
    * group whose every key is null elects no winner and is dropped
    * (matching [[exact]]'s null-hostile semi-join). */
  def exactDerived(df: DataFrame, textCol: String, keyCol: String,
                   derived: (String, Column)*): DataFrame = {
    val withH = df.withColumn("_digest",
      coalesce(md5(col(textCol)), lit("null")))
    withH.groupBy(col("_digest"))
      .agg(min(col(keyCol)).as(keyCol),
        derived.map { case (n, c) => first(c).as(n) }: _*)
      .filter(col(keyCol).isNotNull)
      .drop("_digest")
  }

  // ==========================================================================
  // MinHash signature table — the shared artifact of every LSH consumer
  // ==========================================================================

  /** The signature-table plan: (keyCol, _sh = distinct HASHED shingles,
    * _sig = `numHashes`-element minhash signature). One scan over the
    * text; every LSH consumer (banding, verify join) derives from this
    * shape. `_sh` stores hash32 INTS, not shingle strings: the exact-
    * Jaccard verify is invariant under the (engine-and-oracle-identical)
    * hashing — |A∩B|/|A∪B| over hashed sets equals the string-set value
    * wherever hashes don't collide, and where they DO collide both
    * engines see the same collided sets, so parity holds bit-for-bit —
    * while the artifact shrinks ~10x and the verify joins decode int
    * arrays instead of string arrays (measured 8.0 → ~1.5 s on the
    * prebuilt LSH probe at a 5x fixture: parquet string-array decode of
    * the shingle sets was ~95% of the probe). The signature derives from
    * the same hash array, so build cost is unchanged. */
  private def signaturePlan(df: DataFrame, textCol: String, keyCol: String,
                            shingleN: Int, numHashes: Int): DataFrame = {
    // let-bind the hashed set ONCE per row (array(x) + transform — the
    // minhashSignature idiom): _sh and the signature both consume it, and
    // Catalyst's project collapse would otherwise re-inline the shingle→
    // hash pipeline into both consumers. The pipeline itself and the k-lane
    // min fold are FUSED codegen kernels (r18, ShingleExpr — bit-identical
    // to the transform(shingles, hash32) / per-lane array_min chains,
    // ShingleExprSpec-pinned): the HOF forms dispatched an interpreted
    // lambda per shingle, built every shingle string via concat_ws over a
    // slice, and rounded each md5 through a 32-char hex parse — the
    // measured floor of every signature scan (the TokenSlotsExpr lesson).
    val hs = array_distinct(SF.shingleHashes(col(textCol), shingleN))
    spreadModest(df)
      .select(col(keyCol), element_at(
        transform(array(hs), h => struct(
          h.as("sh"),
          SF.minhashSigFromHashes(h, numHashes).as("sig"))), 1).as("_t"))
      .select(col(keyCol), col("_t.sh").as("_sh"), col("_t.sig").as("_sig"))
      // the shingle width rides IN the table (constant column — parquet
      // RLE makes it free): numHashes is recoverable from the stored
      // signature length, shingleN is NOT recoverable from anything, and
      // an append/probe with a different shingleN silently collapses the
      // exact-Jaccard verify (3-gram vs 5-gram sets share ~no shingles ⇒
      // every true near-dup passes the gate). requireSigParams reads it.
      .withColumn("_sn", lit(shingleN))
  }

  /**
   * Materialize the signature table to `path` — the cluster-scale form of
   * the in-memory persist: ONE pass over the text writes (key, shingles,
   * signature); every downstream consumer ([[minhashLshPrebuilt]],
   * [[dedupAgainstCorpusPrebuilt]], the next crawl's incremental dedup) is
   * then pure column-pruned parquet reads — no recomputation race between
   * a self-join's concurrent shuffle-map stages (the documented duplicate-
   * CPU cost of the lazy in-memory persist in [[tracked]]), and the
   * artifact survives the job, which is what makes incremental dedup
   * incremental: build once per corpus, reuse on every subsequent crawl
   * (same build-once/reuse discipline as the reference's bucket index,
   * `app/core/hydra/swamp/beacon/bucket.go:145-163`).
   */
  def buildSignatures(df: DataFrame, textCol: String, keyCol: String,
                      path: String, shingleN: Int = 3, numHashes: Int = 16): Unit = {
    // CAS-versioned like every serving artifact (IndexLifecycle): the
    // table stages under an immutable v=N and the pointer flips last, so
    // a REBUILD over a live artifact never tears a concurrent band scan;
    // legacy flat layouts stay readable and appendable
    val spark = df.sparkSession
    val next = IndexLifecycle.nextVersion(spark, path)
    signaturePlan(df, textCol, keyCol, shingleN, numHashes)
      .write.mode("overwrite").parquet(s"$path/v=$next")
    IndexLifecycle.flipPointer(spark, path, next)
  }

  /** Extend the signature artifact with NEW documents — the maintenance
    * half of incremental dedup: after a crawl batch's survivors are
    * accepted into the corpus, append their signatures so the NEXT batch
    * dedups against them too. Same parameters as the original build or
    * the banding widths diverge ([[requireSigWidth]] guards the read
    * side). The rows land through [[IndexLifecycle.appendOnce]], so the
    * effect is EXACTLY-ONCE under replay: a re-appended batch would leave
    * duplicate signature rows — dedup verdicts stay right but every band
    * join and verify pays the duplicates forever. A pre-_sn legacy
    * artifact needs `allowUnverifiedWidth`; a legacy STRING-shingle one is
    * refused (rebuild it). Returns false on the replay no-op. */
  def appendSignaturesOnce(df: DataFrame, textCol: String, keyCol: String,
                           path: String, runId: String, batchId: Long,
                           shingleN: Int = 3, numHashes: Int = 16,
                           allowUnverifiedWidth: Boolean = false): Boolean =
    // plan construction (and its eager artifact guards — a head(1) job)
    // stays inside the callback: a no-op replay must run no Spark action
    IndexLifecycle.appendOnce(df.sparkSession, path, runId, batchId) {
      staging =>
        signatureAppendPlan(df, textCol, keyCol, path, shingleN, numHashes,
            allowUnverifiedWidth)
          .write.mode("overwrite").parquet(staging)
    }

  /** The append body: the batch's signature plan, parameter- and
    * schema-guarded against the LIVE artifact at `path`. */
  private def signatureAppendPlan(df: DataFrame, textCol: String,
                                  keyCol: String, path: String,
                                  shingleN: Int, numHashes: Int,
                                  allowUnverifiedWidth: Boolean): DataFrame = {
    val spark = df.sparkSession
    val dir = IndexLifecycle.resolveDir(spark, path)
    val existing = spark.read.parquet(dir)
    // BOTH build parameters must match the artifact: numHashes via the
    // stored signature width, shingleN via the stored _sn column — a
    // shingle-width mismatch silently zeroes every exact-Jaccard verify
    // (3-gram vs 5-gram sets share ~no shingles), letting every true
    // near-dup of an appended doc into the corpus
    requireSigParams(existing, numHashes, shingleN, path)
    val plan = signaturePlan(df, textCol, keyCol, shingleN, numHashes)
    // a pre-_sn legacy artifact must not grow schema-divergent parquet
    // (the appendTextIndexOnce pre-dl rule): keep the dir uniform, legacy
    // stays legacy until its next rebuild — which means the shingleN
    // guard above can only check numHashes for it. Nudge loudly: the
    // artifacts most likely to carry a forgotten non-default shingleN are
    // exactly the ones the guard cannot protect
    if (!existing.columns.contains("_sn")) {
      require(allowUnverifiedWidth,
        s"appendSignaturesOnce: $path is a pre-_sn legacy artifact, so " +
          s"shingleN=$shingleN CANNOT be verified against its build — a " +
          "mismatch silently zeroes every exact-Jaccard verify. Rebuild with " +
          "buildSignatures (stamps _sn), or pass allowUnverifiedWidth=true " +
          "after confirming the original build parameter out-of-band")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"appendSignaturesOnce: $path is a pre-_sn legacy artifact — " +
          s"shingleN=$shingleN is UNVERIFIED against its build " +
          "(allowUnverifiedWidth=true); rebuild with buildSignatures to " +
          "enable the mismatch guard")
    }
    // a pre-hashed-verify artifact stores _sh as shingle STRINGS; the
    // current plan emits hash32 ints. Appending would write two
    // incompatible parquet element types into one directory, corrupting
    // every later read — refuse with the rebuild instruction instead
    existing.schema("_sh").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) =>
        throw new IllegalArgumentException(
          s"signature table $path stores legacy STRING shingle sets; this " +
            "build writes hashed sets — rebuild the artifact with " +
            "buildSignatures before appending")
      case _ => ()
    }
    if (existing.columns.contains("_sn")) plan else plan.drop("_sn")
  }

  /** Jaccard over columns KNOWN to be distinct sets (signature-table
    * `_sh`): |A∩B| / (|A|+|B|−|A∩B|). [[TF.jaccard]] re-distincts both
    * sides and materializes the union array — on set inputs that is pure
    * overhead (measured ~40% of the whole LSH verify stage at a 5x
    * fixture). Values are identical on set inputs by |A∪B| = |A|+|B|−|A∩B|. */
  private def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** Band projection of a signature table: (key, _band, _bh) — the ONLY
    * rows that enter any LSH candidate shuffle. */
  private def bandedOf(base: DataFrame, keyCol: String,
                       numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(rowsPerBand * bands == numHashes, "bands must divide numHashes")
    base.select(
      col(keyCol),
      posexplode(array((0 until bands).map { b =>
        md5(concat_ws(",", slice(col("_sig"), b * rowsPerBand + 1, rowsPerBand)))
      }: _*)).as(Seq("_band", "_bh")))
  }

  /** The LSH pair kernel over an existing signature table: band self-join
    * for candidates (keys only), join back for shingle sets, exact-Jaccard
    * verify. Shared by [[minhashLsh]] (in-memory persist) and
    * [[minhashLshPrebuilt]] (materialized table). */
  private def lshPairsFrom(base: DataFrame, keyCol: String, numHashes: Int,
                           bands: Int, threshold: Double): DataFrame = {
    val banded = bandedOf(base, keyCol, numHashes, bands)
    val cand = banded.as("a").join(banded.as("b"),
        col("a._band") === col("b._band") && col("a._bh") === col("b._bh") &&
          col(s"a.$keyCol") < col(s"b.$keyCol"))
      .select(col(s"a.$keyCol").as("key_a"), col(s"b.$keyCol").as("key_b"))
      .dropDuplicates("key_a", "key_b")

    // fetch shingle sets only for surviving candidates, verify exact Jaccard
    cand
      .join(base.select(col(keyCol).as("key_a"), col("_sh").as("_sha")), Seq("key_a"))
      .join(base.select(col(keyCol).as("key_b"), col("_sh").as("_shb")), Seq("key_b"))
      // EvalOnce barrier (r18): bare, the >= threshold predicate is pushed
      // into the fetch join's condition and the set-intersect Jaccard is
      // recomputed in the output projection for every surviving pair
      .withColumn("jaccard", graft.functions.EvalOnceExpr.evalOnce(
        setJaccard(col("_sha"), col("_shb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("key_a"), col("key_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * Shared MinHash-LSH candidate kernel (Broder '97 / standard banding):
   * k-hash signature over n-gram shingles, split into `bands`; docs sharing
   * any band bucket are candidate pairs; candidates are verified by exact
   * Jaccard over the distinct-shingle sets.
   *
   * Plan shape, deliberately: (1) the signature table (key, shingles, sig)
   * is computed ONCE and persisted — round-1's version recomputed the whole
   * shingle pipeline on both sides of the self-join; (2) the band self-join
   * carries only (key, band, bandHash) — no arrays cross that shuffle;
   * (3) shingle arrays are joined back only for deduplicated candidate
   * pairs, a result set orders of magnitude smaller than the corpus.
   *
   * Recall is governed by (numHashes, bands): P(candidate) =
   * 1-(1-s^r)^bands with r = numHashes/bands — NOT by document length, which
   * was the correctness flaw of the round-1 shingle-count banding.
   */
  def minhashLsh(df: DataFrame, textCol: String, keyCol: String,
                 shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 threshold: Double = 0.8): DataFrame =
    lshPairsFrom(tracked(signaturePlan(df, textCol, keyCol, shingleN, numHashes)),
      keyCol, numHashes, bands, threshold)

  /**
   * [[minhashLsh]] over a signature table previously materialized by
   * [[buildSignatures]] — no document text is touched (the API takes no
   * document relation at all): candidates, verify, everything derives
   * from column-pruned reads of the persisted table. `numHashes` must
   * match the build (banding slices the stored signature).
   */
  def minhashLshPrebuilt(spark: org.apache.spark.sql.SparkSession,
                         sigPath: String, keyCol: String,
                         numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.8): DataFrame =
    lshPairsFrom(requireSigWidth(graft.Tables.artifact(spark, IndexLifecycle.resolveDir(spark, sigPath)), numHashes, sigPath),
      keyCol, numHashes, bands, threshold)

  /** A prebuilt table consumed with the WRONG numHashes is a silent
    * cluster-killer, not a wrong answer: slice() past the stored signature
    * width returns an empty array, md5 of the empty concat is one
    * CONSTANT, so every document lands in the same bucket for the
    * overflowing bands and the "LSH" self-join quietly degenerates to
    * all-pairs n^2/2 (results stay correct through the exact-Jaccard
    * verify — only the job explodes). One limit-1 probe of the stored
    * width turns that into an immediate require() failure. */
  private def requireSigWidth(base: DataFrame, numHashes: Int,
                              src: String): DataFrame =
    requireSigParams(base, numHashes, shingleN = -1, src)

  /** One limit-1 probe checks BOTH stored build parameters: the signature
    * width (a mismatch collapses banding into all-pairs — see the
    * requireSigWidth scaladoc above) and, where the artifact carries the
    * `_sn` column (post-round-13 builds), the shingle width (a mismatch
    * silently zeroes exact-Jaccard verification). shingleN = -1 skips the
    * shingle check for callers that only band. */
  private def requireSigParams(base: DataFrame, numHashes: Int,
                               shingleN: Int, src: String): DataFrame = {
    val hasSn = base.columns.contains("_sn")
    val cols =
      if (hasSn) Seq(size(col("_sig")).as("n"), col("_sn"))
      else Seq(size(col("_sig")).as("n"))
    base.select(cols: _*).head(1).foreach { r =>
      require(r.getInt(0) == numHashes,
        s"signature table $src stores ${r.getInt(0)}-hash signatures, but " +
          s"numHashes=$numHashes was requested — rebuild the artifact or " +
          "match the build parameter (a mismatch collapses LSH banding " +
          "into an all-pairs join)")
      if (hasSn && shingleN > 0)
        require(r.getInt(1) == shingleN,
          s"signature table $src was built with shingleN=${r.getInt(1)}, " +
            s"but shingleN=$shingleN was requested — a shingle-width " +
            "mismatch makes every exact-Jaccard verify ~0 (silent " +
            "recall collapse); rebuild or match the build parameter")
    }
    base
  }

  /**
   * Exact n-gram Jaccard near-dup pairs at scale: candidates from the
   * MinHash-LSH kernel (high-recall parameters: 32 hashes x 16 bands of 2 ⇒
   * P(candidate | jaccard 0.5) ≈ 1-(1-0.25)^16 ≈ 99%), verified by exact
   * Jaccard on the candidate pairs only. Replaces round-1's shingle-count
   * banding, which was both a scale-killer (skewed mega-bands ⇒ effectively
   * all-pairs with full arrays in the shuffle) and a recall hole (near-dups
   * straddling a count decile were never compared).
   */
  def ngramJaccardJoin(df: DataFrame, textCol: String, keyCol: String,
                       shingleN: Int, minJaccard: Double): DataFrame =
    minhashLsh(df, textCol, keyCol, shingleN,
      numHashes = 32, bands = 16, threshold = minJaccard)

  /**
   * Incremental dedup — drop incoming documents that near-duplicate an
   * EXISTING corpus (the "dedup the new crawl against what we already
   * have" pass of a growing training set). Candidate generation is the
   * same banded-signature join as [[minhashLsh]], but across the two
   * relations: only (incomingKey, corpusKey) pairs sharing a band bucket
   * are verified. Returns the surviving incoming rows.
   *
   * Scale shape: at 100 TB the corpus-side signature table is the
   * persisted artifact of the original dedup run (write once, reuse every
   * crawl) — only the incoming side's signatures are computed fresh, and
   * the band join shuffles keys + band hashes, never text. Note this pass
   * intentionally does NOT dedup incoming-vs-incoming — run [[minhashLsh]]
   * (or exact) on the incoming slice first; the two passes compose.
   */
  def dedupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
                         textCol: String, keyCol: String,
                         shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.8): DataFrame =
    dedupAgainstSignatures(
      tracked(signaturePlan(corpus, textCol, keyCol, shingleN, numHashes)),
      incoming, textCol, keyCol, shingleN, numHashes, bands, threshold)

  /**
   * [[dedupAgainstCorpus]] with the corpus side served from a signature
   * table materialized by [[buildSignatures]] — the production shape of
   * incremental dedup: the corpus text is NEVER rescanned (only the new
   * crawl's signatures are computed fresh), and the artifact is reused
   * across crawls. Parameters must match the build.
   */
  def dedupAgainstCorpusPrebuilt(spark: org.apache.spark.sql.SparkSession,
                                 corpusSigPath: String, incoming: DataFrame,
                                 textCol: String, keyCol: String,
                                 shingleN: Int = 3, numHashes: Int = 16,
                                 bands: Int = 4, threshold: Double = 0.8): DataFrame =
    dedupAgainstSignatures(
      requireSigParams(graft.Tables.artifact(spark,
          IndexLifecycle.resolveDir(spark, corpusSigPath)),
        numHashes, shingleN, corpusSigPath),
      incoming, textCol, keyCol, shingleN, numHashes, bands, threshold)

  private def dedupAgainstSignatures(corSig: DataFrame, incoming: DataFrame,
                                     textCol: String, keyCol: String,
                                     shingleN: Int, numHashes: Int, bands: Int,
                                     threshold: Double): DataFrame = {
    // a legacy (string-shingle) corpus artifact cannot exact-verify
    // against the freshly HASHED incoming sets — the jaccard would be a
    // type error deep in analysis; name the fix here instead
    require(!(corSig.schema("_sh").dataType match {
        case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
        case _ => false
      }),
      "corpus signature table stores legacy STRING shingle sets — rebuild " +
        "it with buildSignatures (current builds store hashed sets)")
    val inSig = tracked(signaturePlan(incoming, textCol, keyCol, shingleN, numHashes))
    val cand = bandedOf(inSig, keyCol, numHashes, bands).as("i")
      .join(bandedOf(corSig, keyCol, numHashes, bands).as("c"),
        col("i._band") === col("c._band") && col("i._bh") === col("c._bh"))
      .select(col(s"i.$keyCol").as("_ik"), col(s"c.$keyCol").as("_ck"))
      .dropDuplicates("_ik", "_ck")
    val matched = cand
      .join(inSig.select(col(keyCol).as("_ik"), col("_sh").as("_sha")), Seq("_ik"))
      .join(corSig.select(col(keyCol).as("_ck"), col("_sh").as("_shb")), Seq("_ck"))
      .filter(setJaccard(col("_sha"), col("_shb")) >= threshold)
      .select(col("_ik").as(keyCol)).distinct()
    incoming.join(matched, Seq(keyCol), "left_anti")
  }

  /** SimHash near-dup: 32-bit signature; candidates = equal on any of 4
    * 8-bit table-split bands, verified by Hamming distance (bit_count of
    * xor — single codegen'd instruction, not 32 shift-add terms). The
    * signature table is persisted so the per-document simhash (a 32-term
    * HOF reduction) is computed once, not once per join side. */
  def simhashPairs(df: DataFrame, textCol: String, keyCol: String,
                   maxHamming: Int = 3, maxBucket: Long = 100000L): DataFrame = {
    val sigs = tracked(spreadModest(df)
      // fused kernel (r18, ShingleExprSpec-pinned == TF.simhash32): one
      // token loop per row instead of 32 interpreted filter/size HOF terms
      .select(col(keyCol), SF.simhash(col(textCol)).as("_sig")))
    val tables = 4
    val banded = sigs.select(col(keyCol), col("_sig"),
      posexplode(array((0 until tables).map { t =>
        shiftright(col("_sig"), t * 8) % 256
      }: _*)).as(Seq("_t", "_band")))
    // Hot-bucket salt split (the embeddingNearDup regime): 8-bit bands
    // give only 256 buckets per table, so a big corpus — or one exact-dup
    // cluster sharing all 4 bands — concentrates n/256+ rows in one
    // bucket, and the self-join's hottest (table, band) serializes into a
    // single O(cnt^2) task. Past `maxBucket` the home side splits into g
    // salt groups and the probe side explodes across ALL g (full recall,
    // unlike a candidate cap): the same candidates now arrive as g
    // independent tasks of cnt^2/g. The counts table is <= 4*256 rows BY
    // CONSTRUCTION — this broadcast is bounded at any corpus size. At
    // fixture scale every bucket is far below the default, g=1, and the
    // pair set is byte-identical to the unsalted form.
    val counts = banded.groupBy(col("_t"), col("_band"))
      .agg(count(lit(1)).as("_cnt"))
      .select(col("_t"), col("_band"), greatest(lit(1L),
        ceil(col("_cnt").cast("double") / maxBucket).cast("long")).as("_g"))
    val home = banded.join(broadcast(counts), Seq("_t", "_band"))
      .select(col("_t"), col("_band"),
        pmod(hash(col(keyCol)), col("_g")).as("_salt"),
        col(keyCol).as("key_b"), col("_sig").as("_sb"))
    val probes = banded.join(broadcast(counts), Seq("_t", "_band"))
      .select(col("_t"), col("_band"), col(keyCol).as("key_a"),
        col("_sig").as("_sa"),
        explode(sequence(lit(0L), col("_g") - 1)).as("_salt"))
    // hamming filter BEFORE the pair-dedup shuffle: only true near-dups
    // (hamming <= max) pay the dropDuplicates exchange
    probes.join(home, Seq("_t", "_band", "_salt"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        bit_count(col("_sa").bitwiseXOR(col("_sb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("key_a", "key_b")
  }

  /** KeyProbe-style regime probe for a "small by assumption" side: is the
    * frame at most `maxRows` rows? `limit(n+1).count()` does BOUNDED work
    * in either regime — the count stops at n+1 rows, so deciding that a
    * billion-row benchmark is "too big" never costs a full scan of it. */
  private def fitsBroadcast(df: DataFrame, maxRows: Long): Boolean = {
    // a cap past Int range means "force the broadcast regime" — clamp to
    // the largest probe-able limit instead of silently DISABLING the hint
    // (the opposite of what a caller raising the cap asked for)
    val cap = math.max(0L, math.min(maxRows, Int.MaxValue - 1L))
    df.limit(cap.toInt + 1).count() <= cap
  }

  /**
   * Benchmark-contamination check — the decontamination pass every training
   * pipeline runs before a model sees the corpus: per document, how many
   * distinct n-gram shingles it shares with a benchmark/eval corpus.
   * Scale shape: an eval-set-sized benchmark (<= `maxBroadcastDocs` rows,
   * measured by a bounded probe) has its distinct shingle set BROADCAST;
   * the corpus explodes to (key, shingle) and the broadcast join filters
   * before the per-key count — the 100 TB side never shuffles its text,
   * only surviving (key, shingle) pairs reach the count shuffle.
   * Past the gate ("decontaminate against last year's whole corpus") the
   * hint is withheld: a forced corpus-sized broadcast is the same OOM
   * cliff the round-7 findings removed from clustering/boilerplate, while
   * the un-hinted shuffled join is bounded — and AQE still broadcasts at
   * runtime whenever the shingle set actually measures small.
   *
   * COST NOTE: the regime probe is an EAGER bounded job at construction
   * time (this method is not a pure plan builder). The probe stops after
   * `maxBroadcastDocs + 1` rows, but when `benchmark` is a derived plan
   * (say a selective filter that yields fewer rows than the cap) the
   * limit cannot short-circuit the scan underneath it — worst case one
   * extra pass over the benchmark plan's probe columns, on top of the
   * shingle pass the query itself performs. That is benchmark-side-bounded
   * work; the corpus side is never touched by the probe. Callers probing
   * the same benchmark repeatedly should cache it first.
   */
  def contaminationOverlap(docs: DataFrame, benchmark: DataFrame,
                           textCol: String, keyCol: String,
                           shingleN: Int = 3,
                           maxBroadcastDocs: Long = 100000L,
                           maxBroadcastShingles: Long = 2000000L): DataFrame =
    // one shared kernel with [[contaminationMulti]] (constant set tag,
    // dropped on output) — the subtle broadcast-gate logic must not live
    // twice and silently diverge
    contaminationMulti(docs,
        benchmark.withColumn("_one_set", lit("_")), textCol, keyCol,
        "_one_set", shingleN, maxBroadcastDocs, maxBroadcastShingles)
      .select(col(keyCol), col("overlap"))

  /**
   * Multi-benchmark decontamination in ONE corpus pass: per (document,
   * benchmark-set) distinct-shingle overlap against K eval sets at once.
   * A pipeline decontaminates against MANY benchmarks (MMLU + GSM8K +
   * HumanEval + ...); running [[contaminationOverlap]] K times re-scans
   * the 100 TB corpus K times — at scale the corpus scan IS the cost, so
   * the K shingle sets must union (tagged by `setCol`) and ride a single
   * scan. Output: (`keyCol`, bench_set, overlap).
   *
   * Same regime discipline as [[contaminationOverlap]]: the union of all
   * benchmark shingle sets broadcasts only under the bounded probe
   * (rows + estimated shingle volume); past either gate the hint is
   * withheld and AQE decides at runtime. A shingle shared by several
   * benchmarks appears once PER SET in the probe (set-tagged distinct),
   * so per-set overlap counts are independent and exact.
   */
  def contaminationMulti(docs: DataFrame, benchmark: DataFrame,
                         textCol: String, keyCol: String, setCol: String,
                         shingleN: Int = 3,
                         maxBroadcastDocs: Long = 100000L,
                         maxBroadcastShingles: Long = 2000000L): DataFrame = {
    val benchSh = benchmark
      .select(col(setCol).as("bench_set"),
        explode(array_distinct(TF.shingles(col(textCol), shingleN))).as("_sh"))
      .distinct()
    val fits = fitsBroadcast(benchmark, maxBroadcastDocs) && {
      val est = benchmark.select(sum(greatest(
        size(split(col(textCol), " ")) - (shingleN - 1), lit(0))).as("n")).head()
      est.isNullAt(0) || est.getLong(0) <= maxBroadcastShingles
    }
    val probe = if (fits) broadcast(benchSh) else benchSh
    spreadModest(docs)
      .select(col(keyCol), explode(array_distinct(TF.shingles(col(textCol), shingleN))).as("_sh"))
      .join(probe, Seq("_sh"))
      .groupBy(col(keyCol), col("bench_set"))
      .agg(count(lit(1)).as("overlap"))
  }

  /** Seeded random hyperplanes — exposed so the DuckDB oracle can embed the
    * exact same constants (differential-testing requirement). */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /**
   * Embedding-cosine near-dup: random-hyperplane LSH buckets (sign bits of
   * `planes` fixed random projections), exact cosine verification. Result =
   * all pairs whose buckets are within Hamming distance 1 with cosine >=
   * `minCosine`. Pre-normalized vectors => cosine = dot.
   *
   * Scale features:
   *  - **multi-probe**: each row probes its home bucket plus every 1-bit
   *    flip, so a near-dup pair straddling one hyperplane (the dominant
   *    boundary-recall failure of single-probe LSH) is still compared. Each
   *    qualifying pair is generated exactly once: the lower key's single
   *    matching probe hits the higher key's home bucket — no dedup shuffle.
   *  - **skew guard**: per-bucket counts (a tiny <= 2^planes-row table,
   *    broadcast) split oversized home buckets into ceil(cnt/maxBucket)
   *    deterministic salt groups; probe rows replicate across the target
   *    bucket's groups, so one hot bucket can no longer serialize the join
   *    into a single O(n^2) task. The pair set is unchanged — salting only
   *    re-blocks the work.
   */
  def embeddingNearDup(df: DataFrame, vecCol: String, keyCol: String,
                       minCosine: Double = 0.95, planes: Int = 8,
                       dim: Int = 64, seed: Long = 42L,
                       maxBucket: Long = 100000L): DataFrame = {
    val hyps = hyperplanes(planes, dim, seed)
    val bucket = (0 until planes).map { p =>
      when(VF.cosine(col(vecCol), hyps(p)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

    val bucketed = tracked(spreadModest(df)
      .select(col(keyCol), col(vecCol)).withColumn("_bkt", bucket))

    val counts = bucketed.groupBy("_bkt").agg(count(lit(1)).as("_cnt"))
      .select(col("_bkt"),
        greatest(lit(1L), ceil(col("_cnt").cast("double") / maxBucket).cast("long")).as("_g"))

    val home = bucketed.join(broadcast(counts), Seq("_bkt"))
      .select(col("_bkt"), pmod(hash(col(keyCol)), col("_g")).as("_salt"),
        col(keyCol).as("key_b"), col(vecCol).as("_vb"))

    val probeBkts = array(
      (col("_bkt") +: (0 until planes).map(p => col("_bkt").bitwiseXOR(lit(1L << p)))): _*)
    val probes = bucketed
      .select(col(keyCol).as("key_a"), col(vecCol).as("_va"), explode(probeBkts).as("_bkt"))
      .join(broadcast(counts), Seq("_bkt")) // also prunes probes into empty buckets
      .withColumn("_salt", explode(sequence(lit(0L), col("_g") - 1)))

    probes.join(home, Seq("_bkt", "_salt"))
      .filter(col("key_a") < col("key_b"))
      // EvalOnce barrier (r18): bare, the threshold predicate is pushed
      // into the banded join's condition AND recomputed in the projection,
      // so every surviving pair pays the dot loop twice; pinned, each
      // candidate pays it exactly once (the key_a < key_b prune still
      // rides the join condition — only the dot stays above)
      .select(col("key_a"), col("key_b"),
        round(graft.functions.EvalOnceExpr.evalOnce(
          VF.dot(col("_va"), col("_vb"))), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /**
   * Containment pairs — the ASYMMETRIC duplication signal Jaccard
   * misses: a short document quoted wholesale inside a long one shares
   * nearly all of ITS shingles (containment ≈ 1) while the union-based
   * Jaccard stays low, so MinHash-LSH near-dup never surfaces the pair.
   * Containment here = shared distinct shingles / the smaller side's
   * distinct-shingle count.
   *
   * Kernel: exact inverted-index join — distinct (key, shingleHash)
   * pairs self-join on the hash, count shared per pair, divide by the
   * smaller size. Shuffles carry (key, 32-bit hash) ints, never text.
   * Candidate volume is Σ df(s)² over shingles; the stop-shingle cap
   * (`maxDf`) removes the quadratic hot tail the same way LSH salting
   * caps hot buckets — dropped shingles are excluded from the measure on
   * BOTH numerator and denominator (documented, mirrored in the oracle).
   */
  def containmentPairs(df: DataFrame, textCol: String, keyCol: String,
                       shingleN: Int = 3, minContainment: Double = 0.5,
                       maxDf: Int = 20): DataFrame =
    containmentFromPostings(
      tracked(postingsPlan(df, textCol, keyCol, shingleN)),
      minContainment, maxDf)

  /** The distinct (key, 32-bit shingle hash) posting table containment
    * works from — the build side of [[buildShinglePostings]]. */
  private def postingsPlan(df: DataFrame, textCol: String, keyCol: String,
                           shingleN: Int): DataFrame =
    spreadModest(df)
      // fused kernel (r18, ShingleExprSpec-pinned == explode(shingles) then
      // hash32): no shingle string is ever built — each window hashes a
      // contiguous byte range of the text
      .select(col(keyCol).as("_k"),
        explode(SF.shingleHashes(col(textCol), shingleN)).as("_s"))
      .distinct()
      // the shingle width rides IN the table (constant column, parquet-RLE
      // free — the signature `_sn` discipline): hashes of 3-gram and 5-gram
      // shingles share ~nothing, so a mismatched append silently collapses
      // every containment ratio; storing the parameter lets appends refuse
      .withColumn("_sn", lit(shingleN))

  /** Append-side guard: where the artifact carries `_sn` (post-r15
    * builds), a width mismatch refuses loudly; a legacy artifact keeps
    * its schema uniform (plan drops `_sn`) and gets the unverifiable
    * warning — the [[appendSignaturesOnce]] legacy rules verbatim. */
  private def postingsPlanGuarded(df: DataFrame, textCol: String,
                                  keyCol: String, path: String,
                                  shingleN: Int,
                                  allowUnverifiedWidth: Boolean): DataFrame = {
    val spark = df.sparkSession
    val existing = spark.read.parquet(IndexLifecycle.resolveDir(spark, path))
    val plan = postingsPlan(df, textCol, keyCol, shingleN)
    if (existing.columns.contains("_sn")) {
      existing.select(col("_sn")).head(1).foreach { r =>
        require(r.getInt(0) == shingleN,
          s"shingle-posting table $path was built with shingleN=${r.getInt(0)}, " +
            s"but shingleN=$shingleN was requested — mixed widths share ~no " +
            "hashes and collapse every containment ratio; rebuild or match " +
            "the build parameter")
      }
      plan
    } else {
      require(allowUnverifiedWidth,
        s"appendShinglePostingsOnce: $path is a pre-_sn legacy artifact, " +
          s"so shingleN=$shingleN CANNOT be verified against its build — " +
          "mixed widths share ~no hashes and collapse every containment " +
          "ratio. Rebuild with buildShinglePostings (stamps _sn), or pass " +
          "allowUnverifiedWidth=true after confirming the original build " +
          "parameter out-of-band")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"appendShinglePostingsOnce: $path is a pre-_sn legacy artifact — " +
          s"shingleN=$shingleN is UNVERIFIED against its build " +
          "(allowUnverifiedWidth=true); rebuild with buildShinglePostings " +
          "to enable the mismatch guard")
      plan.drop("_sn")
    }
  }

  /** Materialize the shingle-posting table once per corpus — the same
    * build-once artifact discipline as [[buildSignatures]]: text is
    * shingled and hashed exactly once, and every later containment pass
    * (or a re-run with a different `maxDf`/`minContainment`) is a pure
    * 8-byte-row parquet read. The artifact is parameterized only by
    * `shingleN`; the df-cap and threshold stay query-time knobs. */
  def buildShinglePostings(df: DataFrame, textCol: String, keyCol: String,
                           path: String, shingleN: Int = 3): Unit = {
    // CAS-versioned (IndexLifecycle) — see [[buildSignatures]]
    val spark = df.sparkSession
    val next = IndexLifecycle.nextVersion(spark, path)
    postingsPlan(df, textCol, keyCol, shingleN)
      .write.mode("overwrite").parquet(s"$path/v=$next")
    IndexLifecycle.flipPointer(spark, path, next)
  }

  /** Extend the posting artifact with NEW documents (the
    * [[appendSignaturesOnce]] maintenance step for the containment
    * kernel): postings are per-(doc, shingle) rows, so new docs only ADD
    * rows — moved into the current version through
    * [[IndexLifecycle.appendOnce]], nothing re-read. EXACTLY-ONCE under
    * replay: duplicated posting rows would inflate every containment
    * count AND each doc's own shingle total, skewing containment ratios,
    * not just costs. A stamped artifact refuses a mismatched `shingleN`; a
    * pre-_sn legacy one needs `allowUnverifiedWidth`. Returns false on the
    * replay no-op (plan construction and the artifact guards stay inside
    * the callback, so a no-op replay runs no Spark action). */
  def appendShinglePostingsOnce(df: DataFrame, textCol: String,
                                keyCol: String, path: String, runId: String,
                                batchId: Long, shingleN: Int = 3,
                                allowUnverifiedWidth: Boolean = false): Boolean =
    IndexLifecycle.appendOnce(df.sparkSession, path, runId, batchId) {
      staging => postingsPlanGuarded(df, textCol, keyCol, path, shingleN,
          allowUnverifiedWidth)
        .write.mode("overwrite").parquet(staging)
    }

  /** [[containmentPairs]] served from a posting table materialized by
    * [[buildShinglePostings]] — the production shape for the heaviest
    * dedup kernel: the corpus text is NEVER rescanned, the scan reads two
    * int-sized columns, and the artifact is shared across maxDf /
    * threshold sweeps (unlike signatures, the postings are parameter-free
    * beyond shingleN). Results identical to [[containmentPairs]] by
    * construction. */
  def containmentPairsPrebuilt(spark: org.apache.spark.sql.SparkSession,
                               postingsPath: String,
                               minContainment: Double = 0.5,
                               maxDf: Int = 20): DataFrame =
    // spreadModest on the read: AQE right-sizes the build's shuffle to ONE
    // file at modest volume, so the cache fill and every map side downstream
    // would run single-threaded off the raw scan (the signature-scan lesson,
    // Tables.spread) — and unlike the text scans, what shuffles here is the
    // 8-byte (key, hash) rows, so the spread is cheap where it fires and
    // identity at cluster scale where the artifact already has >= cores
    // splits.
    containmentFromPostings(
      tracked(spreadModest(graft.Tables.artifact(spark,
        IndexLifecycle.resolveDir(spark, postingsPath)))),
      minContainment, maxDf)

  private def containmentFromPostings(sh: DataFrame, minContainment: Double,
                                      maxDf: Int): DataFrame = {
    // ONE exchange keyed on the shingle builds the per-shingle posting
    // LIST, and the df cap becomes a size() filter on it — r18 (guide
    // §2.3/§2.4), replacing the previous three-subtree form (a (count >
    // maxDf) hot-set aggregation, an anti-join against it, and a two-sided
    // self-join on _s). Candidate pairs now explode from each kept list
    // (bounded: ≤ maxDf keys ⇒ ≤ maxDf(maxDf-1)/2 pairs per shingle)
    // scan-side above that single exchange, so the posting table crosses
    // the network ONCE instead of three times (hot agg + both join
    // probes), and the skew ceiling per shingle group is the same bound
    // the old maxDf anti-join enforced. Results are identical by
    // construction: size(list) == the old per-shingle row count (postings
    // are distinct (_k, _s) rows), sorted-list (i < j) pairs == the
    // key_a < key_b self-join pairs, and the key_a < key_b guard is kept
    // so even a (contract-violating) duplicate posting row degrades
    // exactly like the join form did.
    // (Lazy cache kept deliberately — the eager-checkpoint A/B history in
    // the scaladoc of [[containmentPairs]]'s r17 form still applies: the
    // two readers' duplicate work overlaps in wall-clock, an eager cut
    // serializes it. [[buildShinglePostings]] + [[containmentPairsPrebuilt]]
    // are the cluster-scale materialized alternative.)
    // the cap filters on count(*), not size(_ks): collect_list SKIPS null
    // keys while the old hot-set count included them — count(*) keeps the
    // df measure bit-identical even on degenerate null-keyed rows (which
    // then contribute no pairs, exactly like the old inner equi-joins
    // dropped them)
    // a NULL shingle is no shingle: no group, so no pair and no df
    val groups = tracked(sh.filter(col("_s").isNotNull).groupBy(col("_s"))
      .agg(sort_array(collect_list(col("_k"))).as("_ks"),
        count(lit(1)).as("_c"))
      .filter(col("_c") <= maxDf))
    val sizes = groups.select(explode(col("_ks")).as("_k"))
      .groupBy(col("_k")).agg(count(lit(1)).as("_n"))
    groups
      .select(explode(flatten(transform(col("_ks"), (a, i) =>
        transform(slice(col("_ks"), i + 2, greatest(size(col("_ks")) - i - 1, lit(0))),
          b => struct(a.as("a"), b.as("b")))))).as("_p"))
      .select(col("_p.a").as("key_a"), col("_p.b").as("key_b"))
      .filter(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b")).agg(count(lit(1)).as("_shared"))
      .join(sizes.select(col("_k").as("key_a"), col("_n").as("_na")), Seq("key_a"))
      .join(sizes.select(col("_k").as("key_b"), col("_n").as("_nb")), Seq("key_b"))
      .select(col("key_a"), col("key_b"),
        round(col("_shared") / least(col("_na"), col("_nb")).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /**
   * Embedding-space decontamination: corpus rows whose vector is within
   * `minCosine` of ANY benchmark vector — the semantic complement of the
   * n-gram [[contaminationOverlap]] (catches paraphrased eval leakage
   * that shares no shingles). Same hyperplane-LSH discipline as
   * [[embeddingNearDup]]: candidates come from Hamming-1 bucket probes,
   * exact cosine verifies.
   *
   * 100 TB shape: an eval-set-sized benchmark (thousands, not billions —
   * measured by the same bounded probe as [[contaminationOverlap]])
   * carries the probe expansion and BROADCASTS; the corpus is scanned
   * once, bucketed map-side, and never shuffles. A benchmark past
   * `maxBroadcastDocs` loses the hint: the bucket equi-join shuffles
   * (keys + vectors, bounded) instead of forcing a broadcast cliff, and
   * AQE re-broadcasts at runtime if the probe side measures small.
   * Returns one row per contaminated corpus key with its best benchmark
   * cosine.
   */
  def embeddingContamination(corpus: DataFrame, benchmark: DataFrame,
                             vecCol: String, keyCol: String,
                             minCosine: Double = 0.4, planes: Int = 8,
                             dim: Int = 64, seed: Long = 42L,
                             maxBroadcastDocs: Long = 100000L): DataFrame = {
    val hyps = hyperplanes(planes, dim, seed)
    def bucket(c: Column) = (0 until planes).map { p =>
      when(VF.cosine(c, hyps(p)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val corpusB = corpus.select(col(keyCol), col(vecCol))
      .withColumn("_bkt", bucket(col(vecCol)))
    val benchProbes = benchmark.select(col(vecCol).as("_vb"))
      .withColumn("_bb", bucket(col("_vb")))
      .select(col("_vb"), explode(array(
        (col("_bb") +: (0 until planes).map(p =>
          col("_bb").bitwiseXOR(lit(1L << p)))): _*)).as("_bkt"))
    // gate on PROBE volume, not raw docs: the broadcast payload is rows x
    // (planes+1) multi-probe copies, each carrying the full vector — the
    // row cap divides by that multiplier so the default bounds the
    // broadcast at ~maxBroadcastDocs probe ROWS (vector-sized), the same
    // payload-not-rows discipline as contaminationOverlap's shingle gate
    val probes =
      if (fitsBroadcast(benchmark, math.max(1L, maxBroadcastDocs / (planes + 1))))
        broadcast(benchProbes)
      else benchProbes
    corpusB.join(probes, Seq("_bkt"))
      // EvalOnce barrier (r18): see [[embeddingNearDup]] — one dot per
      // candidate instead of join-condition + projection copies
      .withColumn("_cos", round(graft.functions.EvalOnceExpr.evalOnce(
        VF.dot(col(vecCol), col("_vb"))), 6))
      .filter(col("_cos") >= minCosine)
      .groupBy(col(keyCol)).agg(max(col("_cos")).as("max_cosine"))
  }

  // ==========================================================================
  // Segment-level dedup (the RefinedWeb/CCNet "line dedup" kernel, with
  // fixed-width token segments standing in for lines on line-less corpora)
  // ==========================================================================

  /** A document's non-overlapping `segTokens`-token segments, in order,
    * as one array column (the trailing segment may be shorter). Derived
    * per-row with HOFs — no explode, no shuffle. The token array is bound
    * OUTSIDE the lambda so it is computed once per row, not once per
    * segment (the q_repetition lesson). */
  private def segmentsOf(toks: Column, segTokens: Int): Column = {
    val nSegs = ceil(size(toks).cast("double") / segTokens).cast("int")
    transform(sequence(lit(0), nSegs - 1),
      i => concat_ws(" ", slice(toks, i * segTokens + 1, lit(segTokens))))
  }

  /** (_k = doc key, _i = segment index, _h = 64-bit segment hash) — the
    * ONLY shape segment-level dedup ever shuffles: 24 bytes per segment,
    * never the text. */
  private def segIndex(df: DataFrame, textCol: String, keyCol: String,
                       segTokens: Int): DataFrame =
    // null-key strip (the exact() discipline): struct ordering sorts null
    // fields FIRST, so a null-keyed doc would WIN every first-occurrence
    // election in segmentDedup — and then match nothing in the reassemble
    // join, deleting the segment from every real document that shares it
    df.filter(col(keyCol).isNotNull)
      .withColumn("_toks", split(col(textCol), " "))
      .select(col(keyCol).as("_k"),
        posexplode(segmentsOf(col("_toks"), segTokens)).as(Seq("_i", "_seg")))
      .select(col("_k"), col("_i"), xxhash64(col("_seg")).as("_h"))

  /** Rebuild each document from the segments listed in `keep`
    * (`_k` = doc key, `_keep` = sorted surviving segment indices):
    * segments are RE-DERIVED map-side from the original text and picked by
    * index, so document text never crosses a shuffle — the join moves only
    * per-doc int arrays. Docs with no surviving segment drop out (inner
    * join), mirroring the oracle's empty-group semantics. */
  private def reassemble(df: DataFrame, textCol: String, keyCol: String,
                         segTokens: Int, keep: DataFrame): DataFrame = {
    // token array BOUND to a column before segmentsOf (its documented
    // precondition, same as segIndex): inlining split() puts it inside the
    // per-segment slice lambda, where HOF re-evaluation re-splits the full
    // text once per segment — O(tokens x segments) per row instead of
    // O(tokens)
    val withSegs = df.withColumn("_toks", split(col(textCol), " "))
      .withColumn("_segs", segmentsOf(col("_toks"), segTokens))
    withSegs.join(keep, withSegs(keyCol) === keep("_k"), "inner")
      .withColumn(textCol, concat_ws(" ",
        transform(col("_keep"), i => element_at(col("_segs"), i + 1))))
      .drop("_toks", "_segs", "_keep", "_k")
  }

  /**
   * Corpus-wide segment-level exact dedup: every segment keeps only its
   * FIRST occurrence (smallest (doc key, segment index)); later copies —
   * cross-document or within-document — are dropped, and each document is
   * reassembled from its surviving segments in original order. Documents
   * whose every segment was seen earlier disappear entirely.
   *
   * 100 TB shape: one keys-only rank shuffle on the segment hash (hot
   * segments are bounded by corpus repetition, and the rank's payload is
   * 24 bytes/segment), one int-array join back; the text itself never
   * leaves its scan partition.
   */
  def segmentDedup(df: DataFrame, textCol: String, keyCol: String,
                   segTokens: Int = 10): DataFrame = {
    // "first occurrence" = min (doc key, seg idx) per segment hash. An
    // aggregate min — NOT a row_number window — because min combines
    // MAP-SIDE: a hot segment (the same boilerplate line in millions of
    // docs) sends one partial row per input partition to the shuffle,
    // where the window form would sort every occurrence in one reducer
    // partition. Struct ordering is field-lexicographic, so min picks
    // exactly the row the ordered window's rn=1 picked.
    val keep = segIndex(df, textCol, keyCol, segTokens)
      .groupBy(col("_h"))
      .agg(min(struct(col("_k"), col("_i"))).as("_w"))
      .groupBy(col("_w._k").as("_k"))
      .agg(sort_array(collect_list(col("_w._i"))).as("_keep"))
    reassemble(df, textCol, keyCol, segTokens, keep)
  }

  /**
   * Boilerplate removal: drop every copy of any segment that appears in
   * MORE THAN `maxDocs` distinct documents (headers, footers, nav bars —
   * the CCNet frequency heuristic), keep everything else, reassemble.
   * Unlike [[segmentDedup]] the surviving segments keep ALL their copies:
   * frequency is the signal, not duplication itself.
   *
   * Same keys-only scale shape: the frequency count aggregates (hash, doc
   * key) pairs, the boilerplate hash set anti-joins against the index,
   * text never shuffles. The hot set is NOT broadcast-hinted: "segments
   * appearing in > maxDocs documents" grows with corpus breadth (every
   * shared header/footer/nav bar on the web qualifies — hundreds of
   * millions of hashes at 100 TB), the exact argument
   * [[containmentPairs]] makes for its own hot tail. The shuffled
   * left_anti on the 8-byte hash is bounded, and AQE broadcasts at
   * runtime when the set really is small.
   */
  def stripBoilerplate(df: DataFrame, textCol: String, keyCol: String,
                       maxDocs: Int = 2, segTokens: Int = 10): DataFrame = {
    val idx = tracked(segIndex(df, textCol, keyCol, segTokens))
    val hot = idx.groupBy(col("_h"))
      .agg(countDistinct(col("_k")).as("_nd")).filter(col("_nd") > maxDocs)
    val keep = idx.join(hot.select(col("_h")), Seq("_h"), "left_anti")
      .groupBy(col("_k")).agg(sort_array(collect_list(col("_i"))).as("_keep"))
    reassemble(df, textCol, keyCol, segTokens, keep)
  }

  // ==========================================================================
  // Exact substring dedup — repeated k-gram SPAN removal (the Lee et al.
  // 2021 "Deduplicating Training Data Makes Language Models Better"
  // operator, k-gram formulation). Segment dedup removes whole fixed
  // segments; this removes every token covered by ANY k-token window that
  // occurs >= minCount times in the corpus — catching duplicated passages
  // at arbitrary offsets, including within-document repetition, that
  // segment boundaries slice through.
  // ==========================================================================

  /** Rolling k-gram occurrence index: one row per (doc key `_k`, 0-based
    * gram start `_i`, 64-bit gram hash `_h`) — overlapping windows, so a
    * doc with n tokens emits n-k+1 rows of 20 bytes each. The text itself
    * never leaves its scan partition; gram hashes come from ONE codegen'd
    * rolling pass ([[TF.gramHashes]]): O(n) hash work per doc and zero
    * string allocation, versus O(n·k) joined-string bytes for the
    * xxhash64(concat_ws(slice)) formulation — the constant factor that
    * dominates this operator's scan stage at 100 TB. */
  private def gramIndex(df: DataFrame, textCol: String, keyCol: String,
                        k: Int): DataFrame =
    df.withColumn("_toks", split(col(textCol), " "))
      .filter(size(col("_toks")) >= k)
      .select(col(keyCol).as("_k"),
        posexplode(TF.gramHashes(col("_toks"), k)).as(Seq("_i", "_h")))

  /**
   * Exact substring dedup: remove every token covered by any `k`-token
   * window whose exact token sequence occurs at least `minCount` times in
   * the corpus (counting every occurrence — a passage pasted twice into
   * ONE document is duplication too). Emits per document:
   * `(key, n_tokens, n_removed, clean_text)` — documents with fewer than
   * `k` tokens pass through untouched (no window fits).
   *
   * 100 TB shape, stage by stage:
   *  - the gram index shuffles 20-byte (hash) rows for ONE map-side-combined
   *    occurrence count — bounded by distinct k-grams, never token count;
   *  - duplicated hashes come back as a keys-only left_semi on the 8-byte
   *    hash (NOT broadcast: "every k-gram that repeats anywhere in the
   *    corpus" is corpus-proportional — the [[stripBoilerplate]] hot-set
   *    argument; AQE still broadcasts when the set is genuinely small);
   *  - covered token positions aggregate per doc as an int array, and the
   *    doc reassembles MAP-SIDE from its own text: kept positions are
   *    `array_except(all positions, covered)` — a hash-set difference,
   *    O(n + c) per doc, NOT a per-token array_contains scan (which is
   *    O(n*c) and quadratic on a fully-duplicated document).
   */
  def substringDedup(df: DataFrame, textCol: String, keyCol: String,
                     k: Int = 8, minCount: Int = 2): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(minCount >= 2, "minCount must be >= 2 (1 would remove everything)")
    requireNoGramReserved(df)
    val idx = tracked(gramIndex(df, textCol, keyCol, k))
    val dup = idx.groupBy(col("_h"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= minCount)
      .select(col("_h"))
    cleanByDupGrams(df, textCol, keyCol, k, idx, dup)
  }

  /** Reserved internal names of the substring-dedup family — the
    * [[AsofJoin]] guard discipline: a caller column with one of these
    * names would be silently clobbered or make a join ambiguous. */
  private def requireNoGramReserved(df: DataFrame): Unit = {
    val hit = df.columns.toSeq
      .intersect(Seq("_toks", "_cov", "_kept", "_k", "_i", "_h", "_in", "_n"))
    require(hit.isEmpty, s"input must not contain reserved columns: $hit")
  }

  /** The shared removal tail: expand each duplicated gram start to its k
    * covered token positions, aggregate the per-doc covered set, and
    * rebuild each doc map-side from its own text — kept positions via an
    * array_except hash-set difference (O(n + c) per doc). `idx` must be
    * the gram index of exactly the docs being cleaned. */
  private def cleanByDupGrams(df: DataFrame, textCol: String, keyCol: String,
                              k: Int, idx: DataFrame,
                              dup: DataFrame): DataFrame = {
    // covered token positions per doc: each surviving gram start i covers
    // i..i+k-1; flatten BEFORE the per-doc aggregation so the distinct
    // runs on ints map-side of the final collect
    val covered = idx.join(dup, Seq("_h"), "left_semi")
      .select(col("_k"), explode(sequence(col("_i"), col("_i") + (k - 1))).as("_j"))
      .groupBy(col("_k"))
      .agg(sort_array(collect_set(col("_j"))).as("_cov"))
    val withToks = df.withColumn("_toks", split(col(textCol), " "))
    withToks.join(covered, withToks(keyCol) === covered("_k"), "left")
      .withColumn("_cov", coalesce(col("_cov"), array().cast("array<int>")))
      .withColumn("_kept",
        array_except(sequence(lit(0), size(col("_toks")) - 1), col("_cov")))
      .select(col(keyCol),
        size(col("_toks")).as("n_tokens"),
        size(col("_cov")).as("n_removed"),
        concat_ws(" ",
          transform(col("_kept"), j => element_at(col("_toks"), j + 1)))
          .as("clean_text"))
  }

  /** Materialize the corpus k-gram index: rows of (gram hash `_h`,
    * PARTIAL count `_n`) — the write-once artifact behind incremental
    * substring dedup, the [[buildSignatures]] lifecycle applied to grams.
    * The artifact's contract is "partial counts, consumers sum per hash"
    * ([[readGramIndex]]): counts are additive, so [[appendGramIndexOnce]]
    * maintenance is a pure append — no read-modify-rewrite of a 100 TB
    * corpus's gram table, no coordination with concurrent readers, and a
    * periodic compaction (re-aggregate into the next CAS version) is an
    * optimization, never a correctness step.
    *
    * Lifecycle ([[IndexLifecycle]], the text/PQ/IVF scheme): partials
    * land under an immutable `root/v=N` and the `_current` pointer flips
    * last, so a rebuild or compaction never tears a concurrent reader; a
    * legacy flat layout (partials directly under the root) stays
    * readable and appendable. */
  def buildGramIndex(df: DataFrame, textCol: String, keyCol: String,
                     outPath: String, k: Int = 8): Unit = {
    val spark = df.sparkSession
    val next = IndexLifecycle.nextVersion(spark, outPath)
    gramAppendPlan(df, textCol, keyCol, k)
      .write.mode("overwrite").parquet(s"$outPath/v=$next")
    IndexLifecycle.flipPointer(spark, outPath, next)
  }

  /** Extend a gram-index artifact IN PLACE with a new batch (the
    * accepted-survivor maintenance step): the batch's own (hash, count)
    * partials move into the CURRENT version directory through
    * [[IndexLifecycle.appendOnce]] — the existing files are neither read
    * nor rewritten, so a reader that listed before the append sees a
    * consistent older state (single-writer contract: never concurrent
    * with a compact). EXACTLY-ONCE under replay: re-appended count
    * partials would DOUBLE the batch's gram counts, pushing grams over
    * `minCount` that never repeated (silently over-aggressive substring
    * stripping). A stamped artifact refuses a mismatched `k`; a pre-_gk
    * legacy one needs `allowUnverifiedWidth`. Returns false on the replay
    * no-op (plan + guards stay inside the callback, so a no-op replay runs
    * no Spark action). */
  def appendGramIndexOnce(batch: DataFrame, textCol: String, keyCol: String,
                          indexPath: String, runId: String, batchId: Long,
                          k: Int = 8,
                          allowUnverifiedWidth: Boolean = false): Boolean =
    IndexLifecycle.appendOnce(batch.sparkSession, indexPath, runId, batchId) {
      staging => gramPlanGuarded(batch, textCol, keyCol, indexPath, k,
          allowUnverifiedWidth)
        .write.mode("overwrite").parquet(staging)
    }

  /** The gram append body: the batch's (hash, count) partials, with the
    * gram width `k`
    * riding as the `_gk` constant (the `_sn` discipline — mixed-k hashes
    * fire substring stripping on phantom repeats). */
  private def gramAppendPlan(batch: DataFrame, textCol: String,
                             keyCol: String, k: Int): DataFrame =
    gramIndex(batch, textCol, keyCol, k)
      .groupBy(col("_h")).agg(count(lit(1)).as("_n"))
      .withColumn("_gk", lit(k))

  /** Append-side guard: a `_gk`-bearing artifact (post-r15 build) refuses
    * a mismatched k; a legacy artifact keeps its schema uniform (plan
    * drops `_gk`) and warns — the [[appendSignaturesOnce]] legacy rules. */
  private def gramPlanGuarded(batch: DataFrame, textCol: String,
                              keyCol: String, indexPath: String,
                              k: Int,
                              allowUnverifiedWidth: Boolean): DataFrame = {
    val spark = batch.sparkSession
    val existing =
      spark.read.parquet(IndexLifecycle.resolveDir(spark, indexPath))
    val plan = gramAppendPlan(batch, textCol, keyCol, k)
    if (existing.columns.contains("_gk")) {
      existing.select(col("_gk")).head(1).foreach { r =>
        require(r.getInt(0) == k,
          s"gram index $indexPath was built with k=${r.getInt(0)}, but k=$k " +
            "was requested — mixed gram widths fire substring stripping on " +
            "phantom repeats; rebuild or match the build parameter")
      }
      plan
    } else {
      require(allowUnverifiedWidth,
        s"appendGramIndexOnce: $indexPath is a pre-_gk legacy artifact, " +
          s"so k=$k CANNOT be verified against its build — mixed gram " +
          "widths fire substring stripping on phantom repeats. Rebuild with " +
          "buildGramIndex (stamps _gk), or pass allowUnverifiedWidth=true " +
          "after confirming the original build parameter out-of-band")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"appendGramIndexOnce: $indexPath is a pre-_gk legacy artifact — " +
          s"k=$k is UNVERIFIED against its build (allowUnverifiedWidth=true); " +
          "rebuild with buildGramIndex to enable the mismatch guard")
      plan.drop("_gk")
    }
  }

  /** The consumer view of a gram-index artifact: total counts per hash
    * (sums the partials the append-mode maintenance leaves behind),
    * resolved against ONE consistent version. */
  def readGramIndex(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String): DataFrame =
    graft.Tables.artifact(spark, IndexLifecycle.resolveDir(spark, indexPath))
      .groupBy(col("_h")).agg(sum(col("_n")).as("_n"))

  /** Compact an append-grown gram artifact IN PLACE: the re-aggregated
    * partials (one row per hash) land as the index's next `v=N`
    * directory and the pointer flips only after the write completes — a
    * reader mid-query keeps its old file list (those files are never
    * modified), new probes resolve the compacted version (the
    * [[graft.operators.TermStats.compactTextIndexInPlace]] race
    * discipline). Purely an optimization of [[readGramIndex]]'s
    * per-query aggregation — results are identical before and after
    * (unit-pinned). Old versions accumulate until [[vacuumGramIndex]]. */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): Unit = {
    val next = IndexLifecycle.nextVersion(spark, indexPath)
    // readGramIndex aggregates `_gk` away — re-attach it (one limit-1
    // probe) so a compact never DOWNGRADES a guarded artifact to legacy
    val src = spark.read.parquet(IndexLifecycle.resolveDir(spark, indexPath))
    val gk =
      if (src.columns.contains("_gk"))
        src.select(col("_gk")).head(1).headOption.map(_.getInt(0))
      else None
    gk.foldLeft(readGramIndex(spark, indexPath))(
        (df, k) => df.withColumn("_gk", lit(k)))
      .write.mode("overwrite").parquet(s"$indexPath/v=$next")
    IndexLifecycle.flipPointer(spark, indexPath, next)
  }

  /** Delete all non-current `v=N` directories and stale pointer temp
    * files. Only safe once no reader still holds an old version. */
  def vacuumGramIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Unit =
    IndexLifecycle.vacuum(spark, indexPath)

  /**
   * Incremental substring dedup: clean an incoming crawl against a
   * prebuilt corpus gram index ([[buildGramIndex]]) — a token is removed
   * when some covering k-gram's corpus count + incoming count reaches
   * `minCount`, i.e. EXACTLY the rule [[substringDedup]] would apply to
   * corpus ∪ incoming, restricted to the incoming docs (differentially
   * pinned by the q_substring_incremental oracle). The corpus text is
   * never re-read: its side of the evidence is the (hash, count)
   * artifact, and the join keys are 8-byte hashes.
   */
  def substringDedupPrebuilt(spark: org.apache.spark.sql.SparkSession,
                             gramIndexPath: String, incoming: DataFrame,
                             textCol: String, keyCol: String,
                             k: Int = 8, minCount: Int = 2): DataFrame = {
    require(minCount >= 2, "minCount must be >= 2 (1 would remove everything)")
    requireNoGramReserved(incoming)
    // probe-side width guard (post-r15 artifacts carry `_gk`): a wrong k
    // here joins incomparable hashes — every corpus count misses, so the
    // clean silently degrades to incoming-only dedup
    val corpusRaw =
      spark.read.parquet(IndexLifecycle.resolveDir(spark, gramIndexPath))
    if (corpusRaw.columns.contains("_gk"))
      corpusRaw.select(col("_gk")).head(1).foreach { r =>
        require(r.getInt(0) == k,
          s"gram index $gramIndexPath was built with k=${r.getInt(0)}, but " +
            s"k=$k was requested — the corpus evidence would silently not " +
            "match; rebuild or match the build parameter")
      }
    val idx = tracked(gramIndex(incoming, textCol, keyCol, k))
    val inCounts = idx.groupBy(col("_h")).agg(count(lit(1)).as("_in"))
    // full outer is NOT needed: a gram absent from the incoming index
    // covers no incoming token, so corpus-only grams cannot matter — the
    // left join keeps the combined-count rule exact while the corpus
    // artifact stays a pure pruned (hash, count) read
    val dup = inCounts
      .join(readGramIndex(spark, gramIndexPath), Seq("_h"), "left")
      .filter(col("_in") + coalesce(col("_n"), lit(0L)) >= minCount)
      .select(col("_h"))
    cleanByDupGrams(incoming, textCol, keyCol, k, idx, dup)
  }

  /**
   * LSH tuning diagnostic: measured recall of banded MinHash vs EXACT
   * Jaccard per (numHashes, bands) configuration — the measurement that
   * chooses the banding scheme before a 100 TB dedup run, the
   * [[Similarity.ivfRecallReport]] discipline applied to near-dup
   * candidate generation. `df` is a bounded sample slice BY CONTRACT
   * (ground truth is a pairwise join) — and the contract is ENFORCED:
   * `maxRows` (default 10 000 ⇒ ≤ 5·10^7 truth pairs) fails fast on a
   * caller that passes a full corpus, instead of launching a silent
   * O(n²) job; banded pairs depend only on the two members' signatures,
   * so slice recall estimates corpus recall for the same similarity
   * profile. [[minhashLsh]] exact-verifies its candidates, so
   * found ⊆ exact and recall is a ratio of exact integer counts —
   * engine-deterministic, oracle-checkable. Output: one row per config
   * (num_hashes, bands, n_exact, n_found, recall·1e-4-rounded;
   * recall NULL when the slice has no exact pair).
   */
  def lshRecallReport(df: DataFrame, textCol: String, keyCol: String,
                      shingleN: Int, threshold: Double,
                      configs: Seq[(Int, Int)],
                      maxRows: Int = 10000): DataFrame = {
    require(configs.nonEmpty, "at least one (numHashes, bands) config")
    require(maxRows >= 1, "maxRows must be positive")
    // cheap guard: limit(maxRows+1).count() scans at most maxRows+1 rows
    // and costs one short job — nothing next to the pairwise truth join
    // it protects against
    val nIn = df.limit(maxRows + 1).count()
    require(nIn <= maxRows,
      s"lshRecallReport ground truth is a pairwise join: input exceeds " +
        s"maxRows=$maxRows rows — pass a bounded sample slice (or raise " +
        s"maxRows deliberately)")
    require(threshold > 0.0,
      "lshRecallReport needs a positive Jaccard threshold: the exact " +
        "ground truth is computed over the shingle inverted index, which " +
        "by construction only sees pairs sharing at least one shingle — " +
        "exactly the pairs that can reach a positive threshold (and a " +
        "banding scheme is only ever tuned for one)")
    val spark = df.sparkSession
    val sh = tracked(df.select(col(keyCol).as("_k"),
      array_distinct(TF.shingles(col(textCol), shingleN)).as("_s")))
    // one signature table per DISTINCT hash budget, shared by every
    // banding config over it — the signature pass is the expensive half,
    // and (nh, 4) vs (nh, 8) differ only in how the same signature slices
    val sigByNh = configs.map(_._1).distinct.map { nh =>
      nh -> tracked(signaturePlan(df, textCol, keyCol, shingleN, nh))
    }.toMap
    // ALL counts — the exact ground truth (sentinel config (-1,-1)) and
    // every banding config's candidate pairs — union into ONE tagged plan
    // and collapse to one count per config: the diagnostic pays a single
    // action instead of 1 + |configs| (each with its own scheduler floor
    // and stage re-walk; measured 3.9 s → the job floor share of it at
    // sf0.1). The cached signature/shingle tables materialize inside the
    // same job and are shared across the union's branches.
    // Exact truth over the shingle INVERTED INDEX, not an O(n²) theta
    // join: |A∩B| is a hash-aggregated count over pairs sharing a
    // shingle, |A∪B| = |A|+|B|-|A∩B| from the per-doc set sizes. Same
    // integer counts as the array_intersect/array_union form (pinned by
    // the unchanged oracle), but the only pairs that materialize are
    // those with a shared shingle — the ones a positive threshold can
    // admit — and the work is a parallel shuffle, not a nested loop over
    // every (a,b) with a per-pair set intersection (A/B at sf0.1:
    // 4.2 s → 0.5 s for the truth branch; hot shingles bound the fan-out
    // and the maxRows contract bounds the slice)
    val sz = sh.select(col("_k"), size(col("_s")).as("_n"))
    val ex = sh.select(col("_k"), explode(col("_s")).as("_g"))
    val exactPairs = ex.as("a").join(ex.as("b"),
        col("a._g") === col("b._g") && col("a._k") < col("b._k"))
      .groupBy(col("a._k").as("_ka"), col("b._k").as("_kb"))
      .agg(count(lit(1)).as("_i"))
      .join(sz.select(col("_k").as("_ka"), col("_n").as("_na")), Seq("_ka"))
      .join(sz.select(col("_k").as("_kb"), col("_n").as("_nb")), Seq("_kb"))
      .filter(col("_i").cast("double") /
        (col("_na") + col("_nb") - col("_i")).cast("double") >= threshold)
      .select(lit(-1).as("_nh"), lit(-1).as("_bands"))
    // configs.distinct: a repeated (nh, bands) entry must not contribute
    // two identical branches to one group — the groupBy would sum them
    // into a doubled n_found (recall > 1); the per-entry output rows below
    // still repeat per the caller's list, each reading the one true count
    val countsByConfig = configs.distinct.map { case (nh, bands) =>
        lshPairsFrom(sigByNh(nh), keyCol, nh, bands, threshold)
          .select(lit(nh).as("_nh"), lit(bands).as("_bands"))
      }.foldLeft(exactPairs)(_ union _)
      .groupBy(col("_nh"), col("_bands")).agg(count(lit(1)).as("_c"))
      .collect() // ≤ |configs|+1 rows — bounded by the config list
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val nExact = countsByConfig.getOrElse((-1, -1), 0L)
    val rows = configs.map { case (nh, bands) =>
      val found = countsByConfig.getOrElse((nh, bands), 0L)
      val recall: java.lang.Double =
        if (nExact == 0) null
        else Double.box(BigDecimal(found.toDouble / nExact)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      org.apache.spark.sql.Row(nh, bands, nExact, found, recall)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("num_hashes",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("bands",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n_exact",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_found",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("recall",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }
}