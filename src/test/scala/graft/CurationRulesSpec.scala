package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Sampling, Similarity}

/** Gopher rule gate, data-constrained epoch allocation, and the
  * cluster-diverse probe — edge-case pins the fixture oracle can't
  * exercise (boundary-exact rule flips, cap/zero-share behavior,
  * per-list cap semantics). */
class CurationRulesSpec extends SparkSpec {
  import spark.implicits._

  test("gopherRules: each rule flips exactly at its integer boundary") {
    val docs = Seq(
      // 4 words, mean len 4, all alpha, no symbols, 2 stops => fails only
      // r_words (minWords = 5)
      (1L, "the cake with have"),
      // 5 words incl. a symbol word and a non-alpha word; 1 stop
      (2L, "the #tag 123 cake bake"),
      // mean word length exactly 3 (boundary: 3n <= sum_len holds)
      (3L, "the abc def and off ghi jkl mno"),
      // all-numeric words: r_alpha fails (0% alphabetic)
      (4L, "111 222 333 444 555")
    ).toDF("doc_id", "text")
    val r = Curation.gopherRules(docs, "text", "doc_id", minWords = 5,
      maxWords = 100)
      .orderBy($"doc_id").collect()
    assert(!r(0).getAs[Boolean]("r_words") &&
      r(0).getAs[Boolean]("r_meanlen") && r(0).getAs[Boolean]("r_alpha") &&
      r(0).getAs[Boolean]("r_sym") && r(0).getAs[Boolean]("r_stop"))
    // doc 2: 1 symbol word of 5 => 10*1 > 5 fails r_sym; 1 distinct stop
    // fails r_stop; 4/5 alphabetic => 40 >= 40 passes r_alpha exactly
    assert(!r(1).getAs[Boolean]("r_sym") && !r(1).getAs[Boolean]("r_stop") &&
      r(1).getAs[Boolean]("r_alpha"))
    // doc 3: sum_len 24 over 8 words => 3*8 == 24 passes the lower bound
    // exactly
    assert(r(2).getAs[Long]("sum_len") == 24L &&
      r(2).getAs[Boolean]("r_meanlen"))
    assert(!r(3).getAs[Boolean]("r_alpha") && !r(3).getAs[Boolean]("keep"))
  }

  test("gopherGate == the flags-join gate, row for row (incl. null/empty " +
    "text), and plans exactly one counts evaluation") {
    val edge = Seq((1L, "the cake with have a lot of words to pass", "s1"),
      (2L, "the #tag 123 cake bake", "s1"), (3L, null.asInstanceOf[String], "s2"),
      (4L, "", "s2"), (5L, "the a b c d e f g h i j", "s3")
    ).toDF("doc_id", "text", "source")
    val real = Tables(spark, "/root/testdata/sf0.001", "documents")
    for (docs <- Seq(edge, real)) {
      val joined = docs.join(
        Curation.gopherRules(docs, "text", "doc_id", minWords = 5,
            maxWords = 100, stops = Seq("the", "a"))
          .filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
        .collect().map(_.toString).sorted.toSeq
      val gated = Curation.gopherGate(docs, "text", minWords = 5,
          maxWords = 100, stops = Seq("the", "a"))
        .select(docs.columns.map(col): _*) // join moves doc_id first — align
        .collect().map(_.toString).sorted.toSeq
      assert(gated == joined)
    }
    // plan: counts evaluated once (the EvalOnceExpr barrier held the gate
    // conjuncts above the projection)
    val p = Curation.gopherGate(real, "text", minWords = 5, maxWords = 100,
      stops = Seq("the", "a")).queryExecution.executedPlan.toString
    val evals = "gophercounts".r.findAllIn(p.toLowerCase).size
    assert(evals == 1, s"expected one gophercounts, got $evals:\n$p")
  }

  test("fused GopherCountsExpr == HOF formulation on 200 random docs " +
    "(letters, symbols, stops, unicode)") {
    val rnd = new scala.util.Random(0xC0FFEE)
    // includes the byte-walk attack cases: 4-byte emoji (1 char, 0 alpha
    // bytes), multi-byte adjacent to '#'/'...', stopword look-alikes with
    // accents, and non-ASCII symbols that must NOT count as # or ...
    val vocab = Seq("the", "a", "have", "#tag", "...", "x#y", "abc...",
      "123", "9-9", "zzz", "Ünïcode", "中文", "", "Mixed1", "the",
      "🎉", "中#文", "日...", "thé", "…", "éclair", "日a日")
    val texts = (0 until 200).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val stops = Seq("the", "a", "have")
    val fused = texts.select($"doc_id",
      graft.functions.GopherFunctions.gopherCounts(
        split($"text", " "), stops).as("c"))
      .select($"doc_id", $"c.n_words", $"c.sum_len", $"c.n_alpha",
        $"c.n_sym", $"c.n_stop")
    val ts = split($"text", " ")
    val hof = texts.select($"doc_id",
      size(ts).cast("long").as("n_words"),
      aggregate(ts, lit(0L), (acc, x) => acc + length(x).cast("long"))
        .as("sum_len"),
      size(filter(ts, x => x.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
      size(filter(ts, x => x.contains("#") || x.contains("...")))
        .cast("long").as("n_sym"),
      size(array_intersect(array_distinct(ts),
        array(stops.map(lit): _*))).cast("long").as("n_stop"))
    assert(fused.exceptAll(hof).isEmpty && hof.exceptAll(fused).isEmpty,
      "fused counts diverge from the HOF reference")
  }

  test("langId: NULL, empty and marker-free text are 'und'; ties go to " +
    "the first-listed language") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""),
      (3L, "cake bake lake"), (4L, "la"), (5L, "the la"),
      (6L, "der die la")
    ).toDF("doc_id", "text")
    val got = docs.orderBy($"doc_id")
      .select(graft.functions.TextFunctions.langId($"text"))
      .collect().map(_.getString(0)).toSeq
    // "la" is both es and fr: es is listed first; "the la" ties en/es/fr
    assert(got == Seq("und", "und", "und", "es", "en", "de"))
  }

  test("repeatEpochs: cap binds, zero-share group allocates nothing, " +
    "effective tokens = epochs * mass") {
    val docs = Seq(
      (1L, "a b c d", "small"),   // 4 tokens
      (2L, "a b c d e f", "big"), // 6 tokens
      (3L, "a b", "other")        // 2 tokens, no share
    ).toDF("doc_id", "text", "lang")
    val r = Curation.repeatEpochs(docs, "text", "lang",
      Map("small" -> 0.5, "big" -> 0.5), budgetTokens = 100L,
      maxEpochs = 3.0)
      .orderBy($"lang").collect().map(x =>
        (x.getString(0), x.getLong(1), x.getDouble(3), x.getLong(4))).toSeq
    // big: 50/6 = 8.33 capped to 3.0 epochs => 18 tokens; small: 50/4 =
    // 12.5 capped to 3.0 => 12; other: share 0 => 0 epochs, 0 tokens
    assert(r == Seq(("big", 6L, 3.0, 18L), ("other", 2L, 0.0, 0L),
      ("small", 4L, 3.0, 12L)))
  }

  test("ivfTopKPrebuiltDiverse: no list exceeds perList in the result") {
    val dir = s"/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("ivf-div").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.ivfCentroids(16, 64, 7L)
    Similarity.ivfBuildWith(emb, "embedding", tmp, cents)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head.getSeq[Float](0).toArray
    // perList = 1 over all 16 lists: the 10 results must come from 10
    // DISTINCT clusters — the strongest form of the cap
    val diverse = Similarity.ivfTopKPrebuiltDiverse(spark, tmp, "embedding",
      "vec_id", q, k = 10, perList = 1, cents, nprobe = 16).collect()
    assert(diverse.length == 10)
    val clusters = diverse.map(_.getAs[Any]("cluster")).toSet
    assert(clusters.size == 10, s"duplicate clusters under perList=1: " +
      diverse.map(_.getAs[Any]("cluster")).mkString(","))
    // the cap binds on this fixture: the UNcapped top-10 repeats at least
    // one cluster (otherwise this test pins nothing)
    val plain = Similarity.ivfTopKPrebuiltWith(spark, tmp, "embedding",
      "vec_id", q, k = 10, cents, nprobe = 16).collect().map(_.getLong(0))
    assert(plain.toSet != diverse.map(_.getLong(0)).toSet,
      "cap never bound — pick a fixture where the top-k is concentrated")
  }

  // hand fixture: 1 and 2 are near-identical high-relevance vectors, 3 is
  // orthogonal-ish and less relevant — MMR must defer the redundant twin
  private lazy val mmrCand = Seq(
    (1L, Array(1.0f, 0.0f), 0.99),
    (2L, Array(0.999f, 0.04f), 0.98),
    (3L, Array(0.0f, 1.0f), 0.50)
  ).toDF("vec_id", "embedding", "rel")

  test("mmrRerank defers the redundant twin; lambda=1 is plain relevance") {
    val div = Similarity.mmrRerank(mmrCand, "embedding", "vec_id", "rel",
      k = 3, lambda = 0.5).orderBy($"rank").collect().map(_.getLong(0))
    // pick 1 (top rel); then 2's penalty ~1.0 sinks it below 3
    assert(div.toSeq == Seq(1L, 3L, 2L))
    val flat = Similarity.mmrRerank(mmrCand, "embedding", "vec_id", "rel",
      k = 3, lambda = 1.0).orderBy($"rank").collect().map(_.getLong(0))
    assert(flat.toSeq == Seq(1L, 2L, 3L))
    // rank-1 mmr == rel by convention (no penalty exists yet)
    val r1 = Similarity.mmrRerank(mmrCand, "embedding", "vec_id", "rel",
      k = 1, lambda = 0.5).head
    assert(r1.getAs[Double]("mmr") == r1.getAs[Double]("rel"))
  }

  test("tokenBalancedShards: every shard's token mass within one bucket " +
    "of the target; assignment is layout-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = 4
    val a = graft.operators.Export.tokenBalancedShards(docs, "text",
      "doc_id", nShards = n)
    val masses = a.groupBy($"shard").agg(sum($"tokens").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(masses.keySet == (0L until n).toSet, s"missing shards: $masses")
    val total = masses.values.sum
    val target = (total + n - 1) / n
    // per-bucket max mass bounds the imbalance (contiguous prefix cut) —
    // same hash, same granularity (nShards * 64 buckets) as the operator
    val maxBucket = docs
      .select(pmod(graft.functions.TextFunctions.hash32(
          $"doc_id".cast("string")), lit(n * 64)).as("b"),
        size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"b").agg(sum($"t")).collect().map(_.getLong(1)).max
    masses.values.foreach(m =>
      assert(m <= target + maxBucket,
        s"shard over target+bucket: $m vs $target + $maxBucket"))
    // re-assignment after a repartition is identical (pure key function)
    val b = graft.operators.Export.tokenBalancedShards(docs.repartition(7),
      "text", "doc_id", nShards = n)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("doremiStep: upweights the lossiest group, output shares sum to ~1") {
    val domains = Seq(
      ("web", 0.5, 0.1), ("code", 0.3, 0.9), ("books", 0.2, 0.5)
    ).toDF("grp", "ref_share", "loss")
    val out = Curation.doremiStep(domains, "grp", "ref_share", "loss",
      eta = 1.0).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("new_share")).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-5, s"not normalized: $out")
    // code: small ref share but highest loss — must gain vs its ref
    assert(out("code") > 0.3, s"lossiest group not upweighted: $out")
    assert(out("web") < 0.5, s"easiest group not downweighted: $out")
  }

  test("weightedTopK returns exactly k, highest-priority first") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("w", lit(0.5))
    val out = Sampling.weightedTopK(docs, "doc_id", "w", k = 7).collect()
    assert(out.length == 7)
    val ps = out.map(_.getAs[Double]("priority"))
    assert(ps.sameElements(ps.sortBy(-_)), "not priority-ordered")
  }

  test("temperatureMix laws: alpha=1 reproduces natural shares; shares " +
    "sum to ~1 and are monotone in group size") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val natural = Sampling.temperatureMix(docs, "doc_id", "lang",
      alpha = 1.0, budget = 1000000L)
      .select($"lang", $"share").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val counts = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    natural.foreach { case (g, s) =>
      assert(math.abs(s - counts(g) / total) < 1e-6,
        s"alpha=1 share for $g drifted: $s vs ${counts(g) / total}")
    }
    val cooled = Sampling.temperatureMix(docs, "doc_id", "lang",
      alpha = 0.3, budget = 1000000L)
      .select($"lang", $"share").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(cooled.values.sum - 1.0) < 1e-4)
    // cooling compresses the spread: max/min share ratio strictly shrinks
    def spread(m: Map[String, Double]) = m.values.max / m.values.min
    assert(spread(cooled) < spread(natural),
      s"alpha<1 did not flatten the mixture: $cooled vs $natural")
  }

  test("weightedTopK with uniform weights == deterministic hash-order " +
    "top-k; heavier rows displace lighter ones") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val uni = Sampling.weightedTopK(docs.withColumn("w", lit(1.0)),
      "doc_id", "w", k = 10).collect().map(_.getLong(0)).toSet
    val uni2 = Sampling.weightedTopK(docs.withColumn("w", lit(0.25)),
      "doc_id", "w", k = 10).collect().map(_.getLong(0)).toSet
    // rescaling ALL weights equally never changes the selected set
    // (ln(u)/w is order-isomorphic under w -> c*w)
    assert(uni == uni2, "uniform rescale changed the winner set")
    // give half the corpus 100x weight: winners concentrate there
    val biased = Sampling.weightedTopK(
      docs.withColumn("w", when($"doc_id" % 2 === 0, 100.0).otherwise(0.01)),
      "doc_id", "w", k = 10).collect().map(_.getLong(0))
    assert(biased.forall(_ % 2 == 0),
      s"low-weight rows won under 10000x odds: ${biased.mkString(",")}")
  }

  test("tokenBalancedShards conserves rows and token mass") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = graft.operators.Export.tokenBalancedShards(docs, "text",
      "doc_id", nShards = 3)
    assert(a.count() == docs.count(), "rows lost or duplicated")
    val massOut = a.agg(sum($"tokens")).head.getLong(0)
    val massIn = docs.select(size(split($"text", " ")).cast("long").as("t"))
      .agg(sum($"t")).head.getLong(0)
    assert(massOut == massIn, s"token mass drifted: $massOut vs $massIn")
  }

  test("mmrRerank enforces the bounded-candidate contract") {
    val big = spark.range(10).selectExpr("id AS vec_id",
      "array(CAST(id AS FLOAT)) AS embedding", "0.5 AS rel")
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(big, "embedding", "vec_id", "rel", k = 2,
        lambda = 0.5, maxCandidates = 5)
    }
  }
}
