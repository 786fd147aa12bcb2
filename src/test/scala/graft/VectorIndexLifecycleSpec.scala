package graft

import graft.operators.{IndexLifecycle, Similarity}
import org.apache.spark.sql.functions._

/** Vector-artifact lifecycle parity with the text index: CAS versioning
  * (rebuild under a live reader, vacuum), frozen-codebook/centroid append
  * (append == rebuild on probe results), legacy-index guards, and the
  * codebook-drift measurement the appendPqIndexOnce scaladoc cites. */
class VectorIndexLifecycleSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def queryVec: Array[Float] =
    emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** The routed PQ-IVF probe re-derived from first principles with the
    * frozen constants: encode the WHOLE corpus with `cb`, route on the
    * seeded centroids, restrict to the probed lists, ADC-score — what an
    * append-grown routed index must be indistinguishable from. */
  private def pqIvfRederived(cb: Array[Array[Long]], nlist: Int,
                             nprobe: Int, k: Int): Seq[(Long, Double)] = {
    val cents = Similarity.ivfCentroids(nlist, 64, 7L)
    val assign = cents.indices.map { i =>
      struct(graft.functions.VectorFunctions
        .cosine(col("embedding"), cents(i)).as("s"), lit(i).as("i"))
    }
    val routed = Similarity.pqEncode(
      emb.withColumn("_list", array_max(array(assign: _*))("i")),
      "embedding", "vec_id", cb, m = 8, dim = 64, keep = Seq("_list"))
    val qScores = cents.map(_.zip(queryVec)
      .map { case (x, y) => x.toDouble * y.toDouble }.sum)
    val probed = qScores.zipWithIndex.sortBy(-_._1).take(nprobe).map(_._2)
    rows(Similarity.pqAdcTopK(
      routed.filter(col("_list").isin(probed: _*)),
      "codes", "key", "vec_id", queryVec, k, cb, m = 8, dim = 64))
  }

  test("pq append == rebuild with the same frozen codebook (probe equality)") {
    val build = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)

    val grown = tmp("graft-pq-append")
    val cb = Similarity.pqBuild(build, "embedding", "vec_id", grown,
      m = 8, ksub = 16, dim = 64)
    assert(Similarity.appendPqIndexOnce(batch, "embedding", "vec_id", grown,
      "pq-run", 0L, m = 8, dim = 64))

    // the reference ranking: the WHOLE corpus encoded in one build with
    // the SAME frozen codebook — what append must be indistinguishable from
    val rebuilt = tmp("graft-pq-rebuild")
    Similarity.pqBuildWith(emb, "embedding", "vec_id", rebuilt, cb,
      m = 8, dim = 64)

    val a = rows(Similarity.pqTopKPrebuilt(spark, grown, "vec_id", queryVec, 20))
    val b = rows(Similarity.pqTopKPrebuilt(spark, rebuilt, "vec_id", queryVec, 20))
    assert(a == b, s"append-grown PQ index drifted from rebuild: $a vs $b")
    // the appended batch actually entered the index (some vec_id < 100 can
    // rank — and with this fixture's near-duplicate rows at least one does)
    assert(a.nonEmpty && a.map(_._1).toSet !=
      rows(Similarity.pqTopKPrebuilt(spark, {
        val onlyBuild = tmp("graft-pq-buildonly")
        Similarity.pqBuildWith(build, "embedding", "vec_id", onlyBuild, cb,
          m = 8, dim = 64); onlyBuild
      }, "vec_id", queryVec, 20)).map(_._1).toSet,
      "append must change the candidate pool — batch rows never entered")
  }

  test("replay-safe vector appends: a replayed (runId, batchId) no-ops on " +
       "flat PQ, routed PQ-IVF, and raw IVF — probe results == exactly-once " +
       "appends, and the routed staging layout lands in the right lists") {
    // the partitioned staging path is the risky one: appendPqIvfIndexOnce /
    // appendIvfIndexOnce stage `_list=` partition dirs and the protocol's
    // move must land each file in its OWN list — a flattening bug would
    // route codes to wrong lists and silently break partition-pruned probes
    val build = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)
    val run = "vec-run"

    val pq = tmp("graft-pq-once")
    val cb = Similarity.pqBuild(build, "embedding", "vec_id", pq,
      m = 8, ksub = 16, dim = 64)
    assert(Similarity.appendPqIndexOnce(batch, "embedding", "vec_id", pq,
      run, 0L, m = 8, dim = 64))
    assert(!Similarity.appendPqIndexOnce(batch, "embedding", "vec_id", pq,
      run, 0L, m = 8, dim = 64), "replayed batch 0 must no-op")
    val pqRebuilt = tmp("graft-pq-once-rebuild")
    Similarity.pqBuildWith(emb, "embedding", "vec_id", pqRebuilt, cb,
      m = 8, dim = 64)
    assert(rows(Similarity.pqTopKPrebuilt(spark, pq, "vec_id", queryVec, 20))
      == rows(Similarity.pqTopKPrebuilt(spark, pqRebuilt, "vec_id", queryVec, 20)),
      "replay-guarded PQ append drifted from exactly-once rebuild")

    val ivf = tmp("graft-ivf-once")
    Similarity.ivfBuild(build, "embedding", "vec_id", ivf, dim = 64, nlist = 4)
    assert(Similarity.appendIvfIndexOnce(batch, "embedding", "vec_id", ivf,
      run, 0L))
    assert(!Similarity.appendIvfIndexOnce(batch, "embedding", "vec_id", ivf,
      run, 0L))
    // append == rebuild on probe results: seeded centroids are
    // parameter-derived, so the full-corpus build routes every row to the
    // list the staged+moved partition layout must have landed it in
    val ivfRebuilt = tmp("graft-ivf-once-rebuild")
    Similarity.ivfBuild(emb, "embedding", "vec_id", ivfRebuilt, dim = 64,
      nlist = 4)
    assert(rows(Similarity.ivfTopKPrebuilt(spark, ivf, "embedding", "vec_id",
        queryVec, 20, nlist = 4, nprobe = 4))
      == rows(Similarity.ivfTopKPrebuilt(spark, ivfRebuilt, "embedding",
        "vec_id", queryVec, 20, nlist = 4, nprobe = 4)),
      "replay-guarded IVF append drifted from the rebuild")

    val pqivf = tmp("graft-pqivf-once")
    val pqivfCb = Similarity.pqIvfBuild(build, "embedding", "vec_id", pqivf,
      m = 8, ksub = 16, dim = 64, nlist = 4)
    assert(Similarity.appendPqIvfIndexOnce(batch, "embedding", "vec_id",
      pqivf, run, 7L, m = 8, dim = 64))
    assert(!Similarity.appendPqIvfIndexOnce(batch, "embedding", "vec_id",
      pqivf, run, 7L, m = 8, dim = 64))
    assert(rows(Similarity.pqIvfTopK(spark, pqivf, "vec_id", queryVec, 20,
        m = 8, dim = 64, nlist = 4, nprobe = 2))
      == pqIvfRederived(pqivfCb, nlist = 4, nprobe = 2, k = 20),
      "replay-guarded routed append drifted from the re-derivation")
  }

  test("append with a mismatched m is refused loudly (flat and ivf forms) " +
       "— a shorter code array would silently corrupt ADC rankings") {
    val idx = tmp("graft-pq-mguard")
    Similarity.pqBuild(emb.filter(col("vec_id") >= 100), "embedding",
      "vec_id", idx, m = 8, ksub = 16, dim = 64)
    val batch = emb.filter(col("vec_id") < 100)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendPqIndexOnce(batch, "embedding", "vec_id", idx,
        "m-run", 0L, m = 4, dim = 64)
    }
    assert(e.getMessage.contains("m=4") && e.getMessage.contains("m=8"),
      s"refusal must name both widths: ${e.getMessage}")

    val ivf = tmp("graft-pqivf-mguard")
    Similarity.pqIvfBuild(emb.filter(col("vec_id") >= 100), "embedding",
      "vec_id", ivf, m = 8, ksub = 16, dim = 64, nlist = 4)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendPqIvfIndexOnce(batch, "embedding", "vec_id", ivf,
        "m-run", 0L, m = 16, dim = 64)
    }
    assert(e2.getMessage.contains("m=16") && e2.getMessage.contains("m=8"))
    // the matching m still appends fine after the refusals
    assert(Similarity.appendPqIndexOnce(batch, "embedding", "vec_id", idx,
      "m-run", 0L, m = 8, dim = 64))
    assert(rows(Similarity.pqTopKPrebuilt(spark, idx, "vec_id", queryVec, 5))
      .nonEmpty)
  }

  test("pq index rebuilds under a live reader: pre-rebuild DataFrame keeps " +
       "its version's files; vacuum drops only non-current versions") {
    val idx = tmp("graft-pq-cas")
    Similarity.pqBuild(emb.filter(col("vec_id") < 250), "embedding",
      "vec_id", idx, m = 8, ksub = 16, dim = 64)
    assert(IndexLifecycle.currentVersion(spark, idx).contains(1L))

    // the "live reader": plan + file listing built against v=1 BEFORE the
    // rebuild flips the pointer
    val preRebuild = Similarity.pqTopKPrebuilt(spark, idx, "vec_id", queryVec, 10)
    val expected = rows(preRebuild)

    // full rebuild (different corpus AND a re-sampled codebook — the
    // retraining scenario); lands as v=2, pointer flipped last
    Similarity.pqBuild(emb, "embedding", "vec_id", idx,
      m = 8, ksub = 16, dim = 64)
    assert(IndexLifecycle.currentVersion(spark, idx).contains(2L),
      "rebuild must land as the next CAS version")

    // old reader re-collects from its v=1 file list — files untouched
    assert(rows(preRebuild) == expected,
      "pre-rebuild reader torn by an in-place rebuild")
    // fresh probe resolves v=2 (the bigger corpus ranks differently or at
    // minimum sees more candidates)
    val after = Similarity.pqTopKPrebuilt(spark, idx, "vec_id", queryVec, 10)
    assert(after.count() == 10)

    Similarity.vacuumVectorIndex(spark, idx)
    val left = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).toSet
    assert(left == Set("v=2"), s"vacuum must keep only the current version: $left")
    assert(rows(Similarity.pqTopKPrebuilt(spark, idx, "vec_id", queryVec, 10))
      == rows(after), "probe must stay green after vacuum")
  }

  test("ivf append routes with the frozen _centroids: append == rebuild, " +
       "and a pre-versioning index is refused loudly") {
    val build = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)

    val grown = tmp("graft-ivf-append")
    Similarity.ivfBuild(build, "embedding", "vec_id", grown, dim = 64)
    assert(Similarity.appendIvfIndexOnce(batch, "embedding", "vec_id", grown, "run", 0L))

    val rebuilt = tmp("graft-ivf-rebuild")
    Similarity.ivfBuild(emb, "embedding", "vec_id", rebuilt, dim = 64)

    // seeded centroids are parameter-derived, so build-half and full-corpus
    // builds share routing — append == rebuild exactly, probe-for-probe
    val a = rows(Similarity.ivfTopKPrebuilt(spark, grown, "embedding",
      "vec_id", queryVec, 10))
    val b = rows(Similarity.ivfTopKPrebuilt(spark, rebuilt, "embedding",
      "vec_id", queryVec, 10))
    assert(a == b, s"append-grown IVF index drifted from rebuild: $a vs $b")

    // legacy layout (no _centroids): the append must fail loudly, not
    // guess routing constants
    val legacy = tmp("graft-ivf-legacy")
    build.withColumn("_list", lit(0))
      .write.partitionBy("_list").parquet(legacy)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndexOnce(batch, "embedding", "vec_id", legacy, "run", 0L)
    }
    assert(e.getMessage.contains("_centroids"))
  }

  test("pq-ivf append: frozen codebook + frozen centroids land codes in " +
       "the right _list partitions (probe == explicit re-derivation)") {
    val build = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)

    val grown = tmp("graft-pqivf-append")
    val cb = Similarity.pqIvfBuild(build, "embedding", "vec_id", grown,
      m = 8, ksub = 16, dim = 64, nlist = 16, seed = 7L)
    assert(Similarity.appendPqIvfIndexOnce(batch, "embedding", "vec_id",
      grown, "pqivf-run", 0L, m = 8, dim = 64))

    val got = rows(Similarity.pqIvfTopK(spark, grown, "vec_id", queryVec, 10,
      m = 8, dim = 64, nlist = 16, nprobe = 4, seed = 7L))
    val want = pqIvfRederived(cb, nlist = 16, nprobe = 4, k = 10)
    assert(got == want, s"routed append drifted from re-derivation: $got vs $want")
  }

  test("pqTopKBatchPrebuilt == pqTopKPrebuilt per query (relational LUT " +
       "matches the driver-side LUT, score for score)") {
    val idx = tmp("graft-pq-batch")
    Similarity.pqBuild(emb, "embedding", "vec_id", idx,
      m = 8, ksub = 16, dim = 64)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = Similarity.pqTopKBatchPrebuilt(spark, idx, queries,
        "qid", "embedding", "vec_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- 0L until 3L) {
      val qv = emb.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val single = rows(
        Similarity.pqTopKPrebuilt(spark, idx, "vec_id", qv, 10))
      assert(batch(qid) == single,
        s"qid $qid: batch ${batch(qid)} != single $single")
    }
  }

  test("prebuilt probes route with the index's OWN (trained) centroids, " +
       "not seeded recomputation") {
    // train centroids on the corpus — a layout the seeded hyperplanes
    // know nothing about — and require every default-probe path to agree
    // with the explicit-centroids probe
    val trained = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
      k = 8, iters = 2, dim = 64)
    val idx = tmp("graft-ivf-trained")
    Similarity.ivfBuildWith(emb, "embedding", idx, trained)
    val want = rows(Similarity.ivfTopKPrebuiltWith(spark, idx, "embedding",
      "vec_id", queryVec, 10, trained, nprobe = 2))
    val single = rows(Similarity.ivfTopKPrebuilt(spark, idx, "embedding",
      "vec_id", queryVec, 10, nlist = 8, nprobe = 2))
    assert(single == want,
      s"single-query default probe mis-routed a trained index:\n$single\n$want")
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = Similarity.ivfTopKBatchPrebuilt(spark, idx, queries, "qid",
        "embedding", "embedding", "vec_id", k = 10, dim = 64,
        nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batch == want,
      s"batch probe mis-routed a trained index:\n$batch\n$want")
  }

  test("wrong-m probe and wrong-dim append fail loudly instead of " +
       "degrading (NULL scores / silently-empty appends)") {
    val idx = tmp("graft-pq-mprobe")
    Similarity.pqBuild(emb, "embedding", "vec_id", idx, m = 8, ksub = 16, dim = 64)
    val probeErr = intercept[Exception] {
      Similarity.pqTopKPrebuilt(spark, idx, "vec_id", queryVec, 10, m = 16,
        dim = 64).collect()
    }
    assert(probeErr.getMessage != null &&
      (probeErr.getMessage.contains("does not match the declared m") ||
        Option(probeErr.getCause).exists(
          _.getMessage.contains("does not match the declared m"))),
      s"wrong-m probe must name the mismatch: $probeErr")

    // batch path: same (m=16, dim=64) mismatch — the codebook dim check
    // passes, so a silent width filter here would return ZERO vector
    // candidates and a hybrid probe would degrade to BM25-only unnoticed
    val batchQueries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batchErr = intercept[Exception] {
      Similarity.pqTopKBatchPrebuilt(spark, idx, batchQueries, "qid",
        "embedding", "vec_id", k = 5, m = 16, dim = 64).collect()
    }
    def mentionsM(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(
        _.contains("does not match the declared m")) || mentionsM(t.getCause))
    assert(mentionsM(batchErr),
      s"wrong-m BATCH probe must name the mismatch: $batchErr")

    val ivf = tmp("graft-ivf-dimguard")
    Similarity.ivfBuild(emb, "embedding", "vec_id", ivf, dim = 64, nlist = 8)
    val short = emb.limit(5).select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding")) // dim-32 batch
    val appendErr = intercept[Exception] {
      Similarity.appendIvfIndexOnce(short, "embedding", "vec_id", ivf, "run", 0L)
    }
    def mentionsDim(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("append vector dim")) ||
        mentionsDim(t.getCause))
    assert(mentionsDim(appendErr),
      s"wrong-dim append must name the mismatch: $appendErr")
  }

  test("out-of-band rebuild at the SAME v= path serves the new codebook " +
       "(memo key carries a content fingerprint, not just the path)") {
    val root = java.nio.file.Files.createTempDirectory("graft-pq-oob")
    val idx = root.toString + "/idx"
    Similarity.pqBuild(emb.filter(col("vec_id") >= 100), "embedding",
      "vec_id", idx, m = 8, ksub = 16, dim = 64)
    val before = rows(Similarity.pqTopKPrebuilt(spark, idx, "vec_id",
      queryVec, 10)) // warms the codebook memo for this v= dir
    // wipe the artifact root OUT-OF-BAND (no lifecycle call) and rebuild
    // to the same path — version numbering restarts, so the v= dir path
    // repeats with different contents
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete()
    }
    rmrf(new java.io.File(idx))
    Similarity.pqBuild(emb.filter(col("vec_id") < 120), "embedding",
      "vec_id", idx, m = 8, ksub = 16, dim = 64)
    val after = rows(Similarity.pqTopKPrebuilt(spark, idx, "vec_id",
      queryVec, 10))
    // ground truth: an identical rebuild at a FRESH path (memo never warm)
    val fresh = tmp("graft-pq-oob-fresh")
    Similarity.pqBuild(emb.filter(col("vec_id") < 120), "embedding",
      "vec_id", fresh, m = 8, ksub = 16, dim = 64)
    val want = rows(Similarity.pqTopKPrebuilt(spark, fresh, "vec_id",
      queryVec, 10))
    assert(after == want,
      s"stale memoized codebook served after out-of-band rebuild:\n" +
        s"got  $after\nwant $want\n(before: $before)")
  }

  test("hybridRrfBatchPrebuilt == composed kernels + rrfFuseBatchRanked " +
       "(one tagged-union window + groupBy fuse changes nothing)") {
    import graft.operators.TermStats
    import spark.implicits._
    val idx = tmp("graft-pq-hybrid")
    Similarity.pqBuild(emb, "embedding", "vec_id", idx, m = 8, ksub = 16, dim = 64)
    val tdir = tmp("graft-text-hybrid")
    val docs = Seq((0L, "a b c"), (1L, "a c"), (2L, "b d"), (3L, "d d a"),
      (4L, "c b"), (5L, "a a b d")).toDF("doc_id", "text")
    TermStats.buildTextIndex(docs, "text", "doc_id", tdir)
    // include a term-less query (drops from text side) and overlapping keys
    val textQs = Seq((0L, Seq("a", "b")), (1L, Seq("d")), (2L, Seq("zz")))
      .toDF("qid", "terms")
    val vecQs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val fused = canon(TermStats.hybridRrfBatchPrebuilt(spark,
      tdir, "doc_id", textQs, "qid", "terms",
      idx, vecQs, "qid", "embedding", kKernel = 5, k = 4))
    val text = TermStats.bm25TopKBatchPrebuilt(spark, tdir, "doc_id",
      textQs, "qid", "terms", k = 5, rankCol = Some("_rank"))
    val vec = Similarity.pqTopKBatchPrebuilt(spark, idx, vecQs,
      "qid", "embedding", "vec_id", k = 5, rankCol = Some("_rank"))
    val composed = canon(TermStats.rrfFuseBatchRanked(text, "qid", "doc_id",
      "_rank", vec, "vec_id", "_rank", k = 4))
    assert(fused == composed, s"fused hybrid drifted:\n$fused\n$composed")
    assert(fused.nonEmpty)
  }

  test("codebook drift: recall@20 of the appended index vs the full rebuild " +
       "(the number the appendPqIndex scaladoc cites)") {
    val build = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)

    val grown = tmp("graft-pq-drift-a")
    Similarity.pqBuild(build, "embedding", "vec_id", grown,
      m = 8, ksub = 16, dim = 64)
    assert(Similarity.appendPqIndexOnce(batch, "embedding", "vec_id", grown,
      "drift-run", 0L, m = 8, dim = 64))
    val fresh = tmp("graft-pq-drift-b")
    Similarity.pqBuild(emb, "embedding", "vec_id", fresh,
      m = 8, ksub = 16, dim = 64)

    val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id",
      queryVec, 20).collect().map(_.getLong(0)).toSet
    def recall(idx: String): Double =
      Similarity.pqTopKPrebuilt(spark, idx, "vec_id", queryVec, 20)
        .collect().map(_.getLong(0)).count(exact) / 20.0

    val (rGrown, rFresh) = (recall(grown), recall(fresh))
    info(s"recall@20 appended=$rGrown fresh-rebuild=$rFresh")
    // i.i.d. append half ⇒ the frozen codebook loses little: stay within
    // 0.15 of the re-sampled rebuild (both are 4-bit-code approximations)
    assert((rGrown - rFresh).abs <= 0.15,
      s"appended-index recall $rGrown too far from rebuild $rFresh")
  }
}
