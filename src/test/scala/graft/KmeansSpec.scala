package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** IVF centroid training (exact-integer Lloyd): determinism, partition
  * totality, the empty-cluster rule, and the trained-centroid output
  * contract. Cross-engine parity is the q_kmeans_train oracle row. */
class KmeansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("kmeans: every row assigned exactly once, cids in range") {
    val total = emb.count()
    val a = Similarity.kmeansAssignments(emb, "embedding", "vec_id", k = 4, iters = 2, dim = 64)
    assert(a.count() == total)
    assert(a.select(count_distinct(col("key"))).head().getLong(0) == total)
    val cids = a.select("cid").distinct().as[Long].collect().sorted
    assert(cids.forall(c => c >= 0 && c < 4))
  }

  test("kmeans: deterministic across runs (integer-space contract)") {
    val a = Similarity.kmeansAssignments(emb, "embedding", "vec_id", k = 4, iters = 3, dim = 64)
      .select("key", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = Similarity.kmeansAssignments(emb, "embedding", "vec_id", k = 4, iters = 3, dim = 64)
      .select("key", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
  }

  test("kmeans: a second pass reassigns toward data density (not a no-op)") {
    val one = Similarity.kmeansAssignments(emb, "embedding", "vec_id", k = 4, iters = 1, dim = 64)
      .groupBy("cid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = Similarity.kmeansAssignments(emb, "embedding", "vec_id", k = 4, iters = 2, dim = 64)
      .groupBy("cid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the update step must actually move centroids: with single-row seeds
    // the pass-1 assignment is near-arbitrary; pass 2 balances it
    assert(one != two)
  }

  test("kmeans: wrong-dimension and null vectors are excluded, not mis-assigned") {
    // a short vector would NULL the dot on the engine side but compute a
    // partial dot in DuckDB — both must simply exclude it
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(1f, 1f, 0f, 0f)), (4L, Array(0f, 0f, 1f, 1f)),
      (5L, Array(1f, 0f)),                       // wrong dim
      (6L, null.asInstanceOf[Array[Float]]))     // null vec
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssignments(df, "embedding", "vec_id",
      k = 2, iters = 2, dim = 4)
    val keys = a.select("key").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("kmeans: identical points — losing clusters keep prior state, ties go low") {
    val df = Seq.tabulate(6)(i => (i.toLong, Array.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssignments(df, "embedding", "vec_id", k = 2, iters = 2, dim = 4)
    // every point identical => every score ties => all rows land on cid 0;
    // cluster 1 is empty and must survive on its seed without dividing by 0
    val byCid = a.groupBy("cid").count().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(byCid.toSeq == Seq((0L, 6L)))
  }

  test("kmeans: trained centroids are unit-normalized, IVF-compatible") {
    val cs = Similarity.kmeansCentroids(emb, "embedding", "vec_id", k = 4, iters = 2, dim = 64)
    assert(cs.length == 4)
    assert(cs.forall(_.length == 64))
    cs.foreach { c =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"centroid norm $norm")
    }
    // distinct centroids: training on real data must not collapse
    assert(cs.map(_.toSeq).distinct.length == 4)
  }

  test("int8 quantization: bounded values, zero-vector safe, high recall") {
    val qt = Similarity.quantizeInt8(emb, "embedding", "vec_id")
    // every quantized component within int8, scale non-negative
    val bad = qt.filter(exists(col("qvec"), x => x > 127 || x < -127) ||
      col("scale") < 0).count()
    assert(bad == 0)
    // zero vector: quantizes to zeros with scale 0, no division blowup
    val z = Seq((99L, Array.fill(4)(0f))).toDF("vec_id", "embedding")
    val zr = Similarity.quantizeInt8(z, "embedding", "vec_id").head()
    assert(zr.getSeq[Byte](1).forall(_ == 0) && zr.getDouble(2) == 0.0)
    // int8 top-k recalls most of the exact top-k (quantization is lossy
    // but mild at 64 dims)
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val approx = Similarity.int8TopK(emb, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert(approx.intersect(exact).size >= 7, s"recall too low: $approx vs $exact")
  }

  test("kmeans → IVF: trained centroids drive the prebuilt index end-to-end") {
    val cs = Similarity.kmeansCentroids(emb, "embedding", "vec_id", k = 4, iters = 2, dim = 64)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-trained").toString
    Similarity.ivfBuildWith(emb, "embedding", s"$path/idx", cs)
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = Similarity.ivfTopKPrebuiltWith(spark, s"$path/idx",
      "embedding", "vec_id", query, k = 5, cs, nprobe = 2)
      .collect().map(_.getLong(0))
    assert(got.length == 5)
    // the query's own vector lives in a probed list by construction
    assert(got.contains(0L))
    // trained routing beats blind routing on recall vs brute force:
    // at nprobe=2 of 4 lists the true top-5 should be mostly retrieved
    val truth = Similarity.bruteForceTopK(emb, "embedding", "vec_id", query, 5)
      .collect().map(_.getLong(0)).toSet
    assert(got.count(truth.contains) >= 3, s"recall too low: $got vs $truth")
  }

  // --- product quantization ----------------------------------------------------

  test("pq: sampled-codebook rows encode to themselves (zero distance), " +
       "all codes in range") {
    val cb = Similarity.pqSampleCodebook(emb, "embedding", "vec_id",
      ksub = 16, dim = 64)
    assert(cb.length == 16 && cb.forall(_.length == 64))
    val enc = Similarity.pqEncode(emb, "embedding", "vec_id", cb, m = 8, dim = 64)
    val codes = enc.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
    // the 16 sampled source rows quantize exactly to codebook entries, so
    // each encodes to its own entry in EVERY subspace (d=0, tie to lower c
    // only if two sampled rows share a subvector)
    val sampleKeys = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(16)
      .select("vec_id").collect().map(_.getLong(0))
    val encMap = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    sampleKeys.zipWithIndex.foreach { case (k, c) =>
      encMap(k).zipWithIndex.foreach { case (code, s) =>
        // equality unless an earlier sampled row shares this subvector
        val sub = cb(c).slice(s * 8, s * 8 + 8).toSeq
        val firstSame = cb.indexWhere(_.slice(s * 8, s * 8 + 8).toSeq == sub)
        assert(code == firstSame, s"row $k sub $s: got $code want $firstSame")
      }
    }
  }

  test("pq: in-query and prebuilt ADC scans return identical rankings") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val a = Similarity.pqTopK(emb, "embedding", "vec_id", query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Similarity.pqBuild(emb, "embedding", "vec_id", s"$path/idx")
    val b = Similarity.pqTopKPrebuilt(spark, s"$path/idx", "vec_id", query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("pq: ADC ranking approximates brute force (recall sanity) and is " +
       "deterministic across runs") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val pq1 = Similarity.pqTopK(emb, "embedding", "vec_id", query, k = 20)
      .collect().map(_.getLong(0)).toSeq
    val pq2 = Similarity.pqTopK(emb, "embedding", "vec_id", query, k = 20)
      .collect().map(_.getLong(0)).toSeq
    assert(pq1 == pq2)
    // quantized scores still put the query's own vector near the top and
    // retain SOME of the true top-20. The bar is deliberately low: 4-bit
    // codes (ksub=16) on near-uniform random unit vectors are the
    // worst case for PQ distortion, and this fixture has only 50 rows —
    // the spec pins mechanism + determinism; ARITHMETIC exactness is the
    // q_ann_pq oracle row's job, and retrieval quality scales with ksub
    // (a codebook swap, not a code change — see pqSampleCodebook scaladoc)
    val truth = Similarity.bruteForceTopK(emb, "embedding", "vec_id", query, 20)
      .collect().map(_.getLong(0)).toSet
    assert(pq1.take(5).contains(0L), s"own vector not in ADC top-5: $pq1")
    assert(pq1.count(truth.contains) >= 4,
      s"PQ recall vs brute force too low: ${pq1.count(truth.contains)}/20")
  }

  test("pq-ivf: routed results = flat ADC results restricted to probed lists") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val path = java.nio.file.Files.createTempDirectory("graft-pqivf").toString
    Similarity.pqIvfBuild(emb, "embedding", "vec_id", s"$path/idx")
    val routed = Similarity.pqIvfTopK(spark, s"$path/idx", "vec_id", query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(routed.nonEmpty && routed.size <= 10)
    // every routed (key, score) must appear with the SAME score in the
    // flat ADC ranking over all rows (no-residual contract: one codes
    // table serves both) — and the routed list may only MISS keys that
    // fall outside the probed partitions, never re-score them
    val flatAll = Similarity.pqTopK(emb, "embedding", "vec_id", query,
        k = emb.count().toInt)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    routed.foreach { case (k, s) =>
      assert(flatAll(k) == s, s"routed score drifted for $k: $s vs ${flatAll(k)}")
    }
    // scores descend with key tie-break (the ranking contract)
    assert(routed == routed.sortBy { case (k, s) => (-s, k) })
    // the query's own vector routes to its own nearest list => retrieved
    assert(routed.map(_._1).contains(0L))
  }

  test("pq rerank: shortlist-covering factor reproduces brute force exactly; " +
       "default factor beats pure ADC precision") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val path = java.nio.file.Files.createTempDirectory("graft-pqrr").toString
    Similarity.pqBuild(emb, "embedding", "vec_id", s"$path/idx")
    val n = emb.count().toInt
    // rerank factor covering every row => stage 2 IS brute force
    val all = Similarity.pqRerankTopK(spark, s"$path/idx", emb,
        "embedding", "vec_id", "vec_id", query, k = 10, rerank = n / 10 + 1)
      .collect().map(_.getLong(0)).toSeq
    val truth = Similarity.bruteForceTopK(emb, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(all == truth, s"covering rerank must equal brute force: $all vs $truth")
    // default factor: exact re-scoring can only improve on raw ADC order
    val rr = Similarity.pqRerankTopK(spark, s"$path/idx", emb,
        "embedding", "vec_id", "vec_id", query, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val adc = Similarity.pqTopKPrebuilt(spark, s"$path/idx", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    val truthSet = truth.toSet
    assert(rr.count(truthSet.contains) >= adc.count(truthSet.contains),
      s"rerank precision regressed vs ADC: $rr vs $adc")
  }

  test("pq trained codebook: Lloyd refinement reduces quantization distortion " +
       "vs its own sampled init; deterministic; feeds the artifact") {
    val sampled = Similarity.pqSampleCodebook(emb, "embedding", "vec_id",
      ksub = 16, dim = 64)
    val trained = Similarity.pqTrainCodebook(emb, "embedding", "vec_id",
      m = 8, ksub = 16, iters = 3, dim = 64)
    val trained2 = Similarity.pqTrainCodebook(emb, "embedding", "vec_id",
      m = 8, ksub = 16, iters = 3, dim = 64)
    assert(trained.map(_.toSeq).toSeq == trained2.map(_.toSeq).toSeq,
      "training must be deterministic")
    // distortion the encoder minimizes: per row/subspace, min over codebook
    // entries of the squared L2 in quantized space, summed over the corpus
    val ivecs = emb.select(
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")))
      .collect().map(_.getSeq[Long](0).toArray)
    def distortion(cb: Array[Array[Long]]): Double = {
      val sd = 8
      ivecs.map { iv =>
        (0 until 8).map { s =>
          cb.map { row =>
            var acc = 0.0; var j = 0
            while (j < sd) {
              val d = (iv(s * sd + j) - row(s * sd + j)).toDouble
              acc += d * d; j += 1
            }
            acc
          }.min
        }.sum
      }.sum
    }
    val ds = distortion(sampled); val dt = distortion(trained)
    assert(dt <= ds, s"Lloyd refinement increased distortion: $dt > $ds")
    assert(dt < ds * 0.9, s"refinement barely moved: $dt vs $ds")
    // the trained codebook drops into the artifact + probe path unchanged
    val path = java.nio.file.Files.createTempDirectory("graft-pqtr").toString
    Similarity.pqBuildWith(emb, "embedding", "vec_id", s"$path/idx", trained)
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = Similarity.pqTopKPrebuilt(spark, s"$path/idx", "vec_id", query, 10)
      .collect()
    assert(got.length == 10)
  }

  test("PqEncodeExpr: interpreted eval matches the codegen'd DataFrame path; " +
       "dim mismatch and NULL input evaluate to NULL") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val cb = Similarity.pqSampleCodebook(emb, "embedding", "vec_id",
      ksub = 8, dim = 64)
    val viaDf = Similarity.pqEncode(emb, "embedding", "vec_id", cb, m = 8, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    emb.select("vec_id", "embedding").collect().foreach { r =>
      val vec = r.getSeq[Float](1)
      val expr = graft.functions.PqEncodeExpr(
        Literal.create(vec, ArrayType(FloatType)), cb, 8, 1e6)
      val got = expr.eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
      assert(got == viaDf(r.getLong(0)),
        s"interpreted/codegen drift for vec ${r.getLong(0)}")
    }
    val wrongDim = graft.functions.PqEncodeExpr(
      Literal.create(Seq(1.0f, 2.0f), ArrayType(FloatType)), cb, 8, 1e6)
    assert(wrongDim.eval(null) == null, "dim mismatch must evaluate to NULL")
    val nullIn = graft.functions.PqEncodeExpr(
      Literal.create(null, ArrayType(FloatType)), cb, 8, 1e6)
    assert(nullIn.eval(null) == null, "NULL input must evaluate to NULL")
    // a NULL ELEMENT must also be a NULL row — in BOTH paths: the
    // interpreted eval would otherwise NPE on getFloat and the compiled
    // loop would read an undefined slot, silently diverging
    val withNullElem: Seq[Any] = Seq.tabulate(64)(i => if (i == 3) null else 1.0f)
    val nullElem = graft.functions.PqEncodeExpr(
      Literal.create(withNullElem, ArrayType(FloatType, containsNull = true)),
      cb, 8, 1e6)
    assert(nullElem.eval(null) == null,
      "NULL array element must evaluate to NULL (interpreted)")
    val viaDfNull = {
      import spark.implicits._
      val df = Seq(Tuple1(withNullElem.map(x =>
        Option(x).map(_.asInstanceOf[Float])))).toDF("embedding")
      df.select(graft.functions.VectorFunctions
        .pqEncode(col("embedding"), cb, 8, 1e6).as("codes"))
        .head()
    }
    assert(viaDfNull.isNullAt(0),
      "NULL array element must evaluate to NULL (codegen path)")
  }

  test("ivfRecallReport: recall is monotone in nprobe and exactly 1.0 at " +
       "nprobe = nlist (full routing == brute force)") {
    val path = java.nio.file.Files.createTempDirectory("graft-recall").toString
    Similarity.ivfBuild(emb, "embedding", "vec_id", s"$path/idx", dim = 64)
    val queries = emb.filter(col("vec_id") < 5)
    val rep = Similarity.ivfRecallReport(spark, s"$path/idx", queries,
        "vec_id", "embedding", "embedding", "vec_id", k = 10, dim = 64,
        nprobes = Seq(1, 4, 16))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(rep.keySet == Set(1, 4, 16))
    assert(rep(1) <= rep(4) + 1e-9 && rep(4) <= rep(16) + 1e-9,
      s"recall must be monotone in nprobe: $rep")
    assert(rep(16) == 1.0, s"probing every list must recover brute force: $rep")
    assert(rep(1) > 0.0, "even one probed list finds the query's own vector")

    // the shared-scan report's candidate sets must be IDENTICAL to the
    // per-nprobe routed probes it replaced: recompute each recall from
    // ivfTopKBatchPrebuilt (the serving probe itself) and pin equality
    val truth = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_qid")).orderBy(col("_s").desc, col("vec_id").asc)
      emb.select(col("vec_id"), col("embedding")).join(
          broadcast(queries.select(col("vec_id").as("_qid"),
            col("embedding").as("_qv"))))
        .withColumn("_s", graft.functions.VectorFunctions
          .dot(col("embedding"), col("_qv")))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 10)
        .select(col("_qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    Seq(1, 4, 16).foreach { np =>
      val routed = Similarity.ivfTopKBatchPrebuilt(spark, s"$path/idx",
          queries, "vec_id", "embedding", "embedding", "vec_id",
          k = 10, dim = 64, nprobe = np)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = BigDecimal(truth.count(routed.contains).toDouble /
        truth.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rep(np) == expect,
        s"report recall at nprobe=$np drifted from the routed probe: " +
          s"${rep(np)} vs $expect")
    }
  }

  test("ivfRecallReport is exact when the index carries a duplicated key " +
       "row (a key appended twice, against the new-keys contract): the " +
       "running probe-rank count uses a ROWS frame, so tied twins " +
       "straddling the k boundary cannot erase a hit") {
    // k=1 makes the hazard sharp: the query's own row duplicated ties at
    // the top, and a RANGE-framed running count would see 2 at BOTH rows
    // (order-by peers), flag neither as a probe hit, and report recall 0
    // where the routed probe (row_number) admits one copy — 1.0 is right.
    val path = java.nio.file.Files.createTempDirectory("graft-recdup").toString
    Similarity.ivfBuild(emb, "embedding", "vec_id", s"$path/idx", dim = 64)
    val self = emb.filter(col("vec_id") === 0)
    assert(Similarity.appendIvfIndexOnce(self, "embedding", "vec_id",
      s"$path/idx", "recdup-run", 0L))
    val rep = Similarity.ivfRecallReport(spark, s"$path/idx", self,
        "vec_id", "embedding", "embedding", "vec_id", k = 1, dim = 64,
        nprobes = Seq(16))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(rep(16) == 1.0,
      s"duplicated top row must not erase the hit (RANGE-frame bug): $rep")
  }

  test("pq: malformed rows (wrong dim, null key) excluded; dim must divide m") {
    val bad = emb.limit(5)
      .union(emb.limit(1).select(lit(null).cast("bigint").as("vec_id"),
        col("embedding"), col("label")))
    val cb = Similarity.pqSampleCodebook(bad, "embedding", "vec_id",
      ksub = 4, dim = 64)
    val enc = Similarity.pqEncode(bad, "embedding", "vec_id", cb, m = 8, dim = 64)
    assert(enc.count() == 5) // the null-key row dropped
    intercept[IllegalArgumentException] {
      Similarity.pqEncode(bad, "embedding", "vec_id", cb, m = 7, dim = 64)
    }
  }
}
