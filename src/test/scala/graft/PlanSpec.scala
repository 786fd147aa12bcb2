package graft

import org.apache.spark.sql.DataFrame

/**
 * Plan-shape regression suite: the scale-design invariants (pushdown,
 * pruning, broadcast choices, top-k without global sort, no accidental
 * products) pinned as tests so a future refactor can't silently regress
 * them. Runs against sf0.001 — plan SHAPE is scale-independent.
 */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("scalar filters reach the parquet scan as pushed filters") {
    assert(plan("q_filter_eq").contains("EqualTo(o_custkey,42)"))
    // plan strings truncate long filter lists; a prefix inside PushedFilters
    // is sufficient evidence the range bound reached the scan
    assert(plan("q_filter_and_range").contains("GreaterThan(o_total"))
  }

  test("KeysOnly prunes the read schema to the key column") {
    val p = plan("q_keys_only")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"projection not pruned:\n$p")
  }

  test("half-open time window pushes both bounds") {
    val p = plan("q_filter_time_window")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,") &&
      p.contains("LessThan(o_orderdate,"))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
    assert(plan("q_vector_topk").contains("TakeOrderedAndProject"))
  }

  test("three-hop dim chain and two-dim star: all joins broadcast, fact never shuffles for them") {
    for (name <- Seq("q_dim_chain", "q_star_join")) {
      val p = plan(name)
      val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
      assert(nBroadcast == (if (name == "q_dim_chain") 3 else 2),
        s"$name: expected all dims broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name fact side must stream:\n$p")
    }
  }

  test("dimension joins broadcast; the fact side never sort-merges") {
    val p = plan("q_join_agg")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("GetByKeys is a broadcast left-semi join") {
    val p = plan("q_get_by_keys")
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"))
  }

  test("prebuilt IVF probe is a partition-pruned scan") {
    val p = plan("q_ann_ivf_prebuilt")
    assert(p.contains("PartitionFilters") && p.contains("_list"),
      s"probe does not prune _list partitions:\n$p")
    // the pruned scan reads nprobe of nlist partitions, so the partition
    // filter must be an IN over the probed list ids, not a full scan
    assert("_list.*(IN|isin|in\\()".r.findFirstIn(p).isDefined ||
      p.contains("_list#"), s"no _list membership filter visible:\n$p")
  }

  test("filtered ANN: metadata predicate pushed into the pruned probe scan") {
    val p = plan("q_ann_filtered")
    assert(p.contains("PartitionFilters") && p.contains("_list"),
      s"filtered probe does not prune _list partitions:\n$p")
    // the label predicate must reach the parquet reader of the probed
    // partitions (pre-ranking filter), not apply after the top-k
    assert(p.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the probe scan:\n$p")
  }

  /** Output attribute names of every shuffle exchange in the plan. AQE
    * hides the tree inside AdaptiveSparkPlanExec (collect sees no
    * children), so the traversal plans with AQE off — the exchanges and
    * their inputs are identical, only the runtime re-planner is absent. */
  private def exchangeOutputs(name: String): Seq[Seq[String]] = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name)
    } finally spark.conf.set(key, prev)
  }

  test("diverse ANN: rank exchange carries (key, list, score) — vectors " +
       "projected away before the window") {
    val p = plan("q_ann_diverse")
    assert(p.contains("PartitionFilters") && p.contains("_list"),
      s"diverse probe does not prune _list partitions:\n$p")
    val ex = exchangeOutputs("q_ann_diverse")
    assert(ex.nonEmpty, s"expected a rank exchange in the diverse plan:\n$p")
    assert(ex.forall(!_.contains("embedding")),
      s"embedding column rides a shuffle exchange: $ex")
  }

  test("prototype pruning: the per-cluster window shuffles (key, cid, " +
       "score), never the quantized vectors") {
    val ex = exchangeOutputs("q_prototype_prune")
    assert(ex.nonEmpty, "expected the per-cluster rank exchange")
    // neither the raw embeddings nor the quantized int64 vectors may ride
    // ANY shuffle — the training loop's only exchange is the bounded
    // (cid, pos) aggregation, the prune's only exchange is (key,cid,score)
    assert(ex.forall(o => !o.contains("embedding") && !o.contains("ivec")),
      s"vector column rides a shuffle exchange: $ex")
  }

  test("prebuilt PQ probe scans only the codes column — raw vectors absent") {
    // the 32x-bandwidth promise: the ADC scan reads (key, codes) from the
    // index artifact; if the embeddings table or the float vector column
    // appears in any scan, the probe is silently paying full-vector bytes
    val p = plan("q_ann_pq_prebuilt")
    assert(p.contains("codes"), s"codes scan missing:\n$p")
    assert(!p.contains("embeddings.parquet"),
      s"prebuilt PQ re-scans the embeddings table:\n$p")
    assert(!p.contains("embedding#"),
      s"prebuilt PQ drags the float vector column through the plan:\n$p")
    // ranked limit must be TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"PQ top-k is not a TakeOrderedAndProject:\n$p")
  }

  test("IVF-PQ probe: partition-pruned AND codes-only — the reductions compose") {
    val p = plan("q_ann_pq_ivf")
    assert(p.contains("PartitionFilters") && p.contains("_list"),
      s"routed ADC scan does not prune _list partitions:\n$p")
    assert(!p.contains("embeddings.parquet"),
      s"IVF-PQ probe re-scans the embeddings table:\n$p")
    assert(!p.contains("embedding#"),
      s"IVF-PQ probe drags the float vector column through the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"IVF-PQ top-k is not a TakeOrderedAndProject:\n$p")
  }

  test("prebuilt phrase search: reads positional postings, never the corpus") {
    val p = plan("q_phrase_prebuilt")
    assert(p.contains("postings"), s"positional postings scan missing:\n$p")
    assert(!p.contains("documents.parquet"),
      s"prebuilt phrase search re-scans the documents table:\n$p")
    assert(!p.contains("text#"),
      s"prebuilt phrase search drags the text column through the plan:\n$p")
    // the phrase's term set must prune the postings scan
    assert(p.contains("PushedFilters") && "In\\(term".r.findFirstIn(p).isDefined,
      s"phrase-term isin not pushed into the postings scan:\n$p")
  }

  test("prebuilt BM25: reads the postings artifact, never the corpus text") {
    val p = plan("q_bm25_prebuilt")
    assert(p.contains("postings"), s"postings scan missing:\n$p")
    assert(!p.contains("documents.parquet"),
      s"prebuilt BM25 re-scans the documents table:\n$p")
    assert(!p.contains("text#"),
      s"prebuilt BM25 drags the text column through the plan:\n$p")
    // the query-term filter must reach the postings scan as a pushed filter
    assert(p.contains("PushedFilters") && "In\\(term".r.findFirstIn(p).isDefined,
      s"term isin not pushed into the postings scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ranked limit is not a TakeOrderedAndProject:\n$p")
    // dl rides denormalized in the posting rows: the lengths table must not
    // appear — at 10^11 docs a (key, dl) join would dominate a query whose
    // whole point is reading only its own terms' postings
    assert(!p.contains("lengths"),
      s"prebuilt BM25 joins the lengths table instead of reading dl from " +
        s"the posting rows:\n$p")
  }

  test("hybrid prebuilt serving query touches index artifacts only") {
    // the serving contract: BM25 side reads postings (N, Σdl and df ride
    // in as literals), PQ side reads codes — neither the corpus text nor
    // the raw embeddings may appear in any scan of the fused plan
    val p = plan("q_hybrid_prebuilt")
    assert(p.contains("postings"), s"postings scan missing:\n$p")
    assert(p.contains("codes"), s"codes scan missing:\n$p")
    assert(!p.contains("documents.parquet"),
      s"hybrid prebuilt re-scans the documents table:\n$p")
    assert(!p.contains("text#"),
      s"hybrid prebuilt drags the corpus text through the plan:\n$p")
    assert(!p.contains("embeddings.parquet"),
      s"hybrid prebuilt re-scans the embeddings table:\n$p")
    assert(!p.contains("embedding#"),
      s"hybrid prebuilt drags the raw vectors through the plan:\n$p")
  }

  test("hybrid BATCH serving query: postings + codes only; embeddings read " +
       "solely as the pushed-filter query batch") {
    // the q_hybrid_prebuilt contract batched: per-query BM25 reads
    // postings (+ the terms/ and stats/ partials as relations; only the
    // single-query probe holds n, sdl and df as plan literals), per-query
    // ADC reads codes; the corpus text
    // never appears. The embeddings table IS legitimately in this plan —
    // as the 3-row QUERY batch — so the pin is that its scan carries the
    // pushed vec_id bound, not that it is absent.
    val p = plan("q_hybrid_batch")
    assert(p.contains("postings"), s"postings scan missing:\n$p")
    assert(p.contains("codes"), s"codes scan missing:\n$p")
    assert(!p.contains("documents.parquet"),
      s"hybrid batch re-scans the documents table:\n$p")
    assert(!p.contains("text#"),
      s"hybrid batch drags the corpus text through the plan:\n$p")
    assert("LessThan\\(vec_id,3\\)".r.findFirstIn(p).isDefined,
      s"query-batch bound not pushed into the embeddings scan:\n$p")
    assert(!p.contains("lengths"),
      s"hybrid prebuilt joins the lengths table:\n$p")
  }

  test("segment dedup picks first occurrence with an aggregate, not a rank window") {
    // min(struct(key, idx)) combines MAP-SIDE: a hot segment sends one
    // partial per input partition to the shuffle. A row_number window
    // would sort every copy of it in a single reducer partition — the
    // hot-segment cliff this test pins shut.
    val p = plan("q_segment_dedup")
    assert(!p.contains("Window"), s"segment winner must not use a window:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"expected a partially-aggregated min winner:\n$p")
  }

  test("msgpack round-trip is one scan-stage projection: no shuffle, pruned read") {
    val p = plan("q_msgpack_roundtrip")
    assert(!p.contains("Exchange"), s"ingestion conversion must not shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"),
      s"scan must read only the packed columns:\n$p")
  }

  test("embedding contamination: benchmark probes broadcast, corpus never shuffles") {
    val p = plan("q_embedding_contamination")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$p")
    // the only exchange allowed is the final per-key max aggregation
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
  }

  test("salted skew join: the join key includes the salt on both sides") {
    val p = plan("q_skew_join")
    // the equi-join must be on (key, salt) — a plan that dropped the salt
    // from the join keys would silently restore the hot-key bottleneck
    assert(p.contains("_salt"), s"salt column missing from the plan:\n$p")
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("_salt"))
    assert(joinLine.isDefined, s"no join keyed on _salt found:\n$p")
  }

  test("prebuilt LSH: every signature-table scan is column-pruned to its consumer") {
    // the banding side must read (key, _sig) WITHOUT dragging the shingle
    // arrays through the scan, and the verify side (key, _sh) without the
    // signatures — at 100 TB the difference is reading a third of the
    // table per consumer vs all of it twice
    val p = plan("q_minhash_prebuilt")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema"))
      .map(_.split("ReadSchema: ").last.trim).toList
    assert(schemas.nonEmpty, s"no parquet scans found:\n$p")
    schemas.foreach { s =>
      assert(!(s.contains("_sig") && s.contains("_sh")),
        s"a signature-table scan reads BOTH _sig and _sh (pruning lost): $s")
    }
    assert(schemas.exists(_.contains("_sig")) && schemas.exists(_.contains("_sh")),
      s"expected banding (_sig) and verify (_sh) scans:\n$schemas")
  }

  test("prebuilt containment: reads the posting artifact, never the text") {
    // the artifact pass must be a pure (_k, _s) parquet read — if the
    // documents table (or any text column) shows up in a scan, the
    // build-once promise is broken and 100 TB of text gets re-shingled
    val p = plan("q_containment_prebuilt")
    assert(p.contains("_k") && p.contains("_s"), s"posting scan missing:\n$p")
    assert(!p.contains("documents.parquet"),
      s"prebuilt containment re-scans the documents table:\n$p")
    assert(!p.contains("text#"),
      s"prebuilt containment drags the text column through the plan:\n$p")
  }

  test("near-dup drop / boilerplate strip: anti-joins carry NO forced broadcast") {
    // The dropped sets (dedup losers, hot boilerplate segments) are
    // corpus-proportional — a forced broadcast is an OOM cliff at scale.
    // The hint must stay off so AQE decides from runtime sizes.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    for (name <- Seq("q_neardup_dedup", "q_semantic_dedup", "q_boilerplate")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val antiHints = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftAnti => j.hint
      }
      assert(antiHints.nonEmpty, s"$name: expected a left_anti join in the plan")
      antiHints.foreach { h =>
        assert(h.leftHint.forall(_.strategy.isEmpty) &&
          h.rightHint.forall(_.strategy.isEmpty),
          s"$name: anti-join carries a forced join strategy: $h")
      }
    }
  }

  test("contamination regime switch: eval-sized benchmark broadcasts, huge one loses the hint") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def hintsOf(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    // n-gram variant
    val docs = (1L to 50L)
      .map(i => (i, s"alpha beta gamma delta line $i shared tail phrase"))
      .toDF("doc_id", "text")
    val bench = Seq((900L, "alpha beta gamma delta"), (901L, "totally different words"))
      .toDF("doc_id", "text")
    val small = graft.operators.Dedup.contaminationOverlap(docs, bench, "text", "doc_id")
    val sp = small.queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin") || sp.contains("BroadcastExchange"),
      s"eval-sized benchmark must broadcast:\n$sp")
    // past the gate (threshold 1 doc): the hint must be withheld — the
    // shuffled join is bounded and AQE still broadcasts at runtime when
    // the probe side measures small (the loser-anti-join discipline)
    val big = graft.operators.Dedup.contaminationOverlap(docs, bench, "text", "doc_id",
      maxBroadcastDocs = 1L)
    val bigHints = hintsOf(big)
    assert(bigHints.nonEmpty, "expected joins in the shuffled-regime plan")
    bigHints.foreach(h => assert(h.leftHint.forall(_.strategy.isEmpty) &&
      h.rightHint.forall(_.strategy.isEmpty),
      s"shuffled regime carries a forced strategy: $h"))
    val smallOut = small.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bigOut = big.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(smallOut == bigOut && smallOut.nonEmpty, "regimes must agree")

    // a cap past Int range means "force the broadcast regime": the bounded
    // probe clamps instead of silently withholding the hint (the opposite
    // of what a caller RAISING the cap asked for)
    val forced = graft.operators.Dedup.contaminationOverlap(docs, bench, "text", "doc_id",
      maxBroadcastDocs = Long.MaxValue)
    val fp = forced.queryExecution.executedPlan.toString
    assert(fp.contains("BroadcastHashJoin") || fp.contains("BroadcastExchange"),
      s"a Long.MaxValue cap must still take the broadcast regime:\n$fp")

    // embedding variant, same discipline (8-dim unit-ish vectors)
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpus = (1L to 40L).map(i => (i, vec())).toDF("doc_id", "embedding")
    val evalSet = (900L to 905L).map(i => (i, vec())).toDF("doc_id", "embedding")
    def emb(maxDocs: Long) = graft.operators.Dedup.embeddingContamination(
      corpus, evalSet, "embedding", "doc_id", minCosine = -2.0, planes = 4,
      dim = 8, maxBroadcastDocs = maxDocs)
    val ep = emb(100000L).queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin") || ep.contains("BroadcastExchange"),
      s"eval-sized embedding benchmark must broadcast:\n$ep")
    val embBigHints = hintsOf(emb(1L))
    assert(embBigHints.nonEmpty)
    embBigHints.foreach(h => assert(h.leftHint.forall(_.strategy.isEmpty) &&
      h.rightHint.forall(_.strategy.isEmpty),
      s"embedding shuffled regime carries a forced strategy: $h"))
    def asMap(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val e1 = asMap(emb(100000L)); val e2 = asMap(emb(1L))
    assert(e1 == e2 && e1.nonEmpty, "embedding regimes must agree")
  }

  test("de-hinted loser anti-join: AQE still broadcasts a small loser set at runtime") {
    // the safety net the removed hint relied on: when the loser set
    // actually measures small, AQE converts the shuffled anti-join to a
    // broadcast join from RUNTIME sizes — so dropping the forced hint
    // costs nothing at dimension scale and saves the cliff at corpus scale
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("key", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val out = graft.operators.Clustering.dropNearDuplicates(docs, pairs, "a", "b", "key")
    // collect() drives THIS dataset's queryExecution, so the adaptive plan
    // below is the final one (count() would execute a separate plan)
    assert(out.collect().length == 198) // 2 losers dropped
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan"), s"AQE must own this plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"AQE did not broadcast the small loser set:\n$p")
  }

  test("set-cardinality aggregates plan without the Expand rewrite") {
    // Multiple distinct-aggregate groups trigger RewriteDistinctAggregates'
    // Expand: every input row duplicated once per group BEFORE the shuffle
    // (3-4x shuffle volume). q_distinct_set / q_slice_size / q_data_card
    // deliberately fold bounded-enum cardinalities into size(collect_set)
    // so at most ONE distinct group remains — pin that the rewrite stays
    // gone (A/B at sf0.1: 0.91->0.36, 0.86->0.60, 0.38->0.31 s).
    Seq("q_distinct_set", "q_slice_size", "q_data_card").foreach { name =>
      assert(!plan(name).contains("Expand"),
        s"$name reintroduced the Expand rewrite (multi-distinct aggregate)")
    }
  }

  test("DSIR and NB scoring are map-only passes: the scored plan has no shuffle") {
    // the whole point of the dense-LUT scoring contract: after the bounded
    // model collect, weighing the corpus is scan-stage work — the 100 TB
    // side neither joins nor exchanges. (The model-building aggregations
    // run eagerly at plan-construction time and are bucket-bounded.)
    // q_nb_score shares the machinery since round 11 (Importance.lutFold).
    for (name <- Seq("q_dsir_weights", "q_nb_score")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name scoring pass shuffles:\n$p")
      assert(!p.contains("Join"), s"$name scoring pass joins:\n$p")
    }
  }

  test("no query plans a CartesianProduct or a non-codegen Python eval") {
    // BroadcastNestedLoopJoin is allowed ONLY where it is the intended
    // bounded kernel (cap-gate / tfidf / corpus-overlap 1-row count
    // broadcasts; bounded all-pairs cosine)
    val bnljAllowed = Set("q_cap_gate", "q_cosine_pairs", "q_tfidf",
      "q_corpus_overlap",
      "q_corpus_overlap_sketch", // 1-row inter_k x 1-row k_eff broadcast
      "q_curriculum", // 1-row percentile-edge frame broadcast onto the scan
      "q_sketch_union", // 1-row merged-sketch x 1-row exact count
      "q_lm_score", // 1-row LM denominator + 1-row OOV floor broadcasts
      "q_bm25", "q_bm25_batch", // 1-row (N, Σdl) stats broadcast (the tfidf shape)
      "q_hybrid_rrf", // embeds the q_bm25 subplan (same 1-row stats broadcast)
      "q_hybrid_batch", // same stats broadcast + the bounded |q|·m·ksub
        // query-LUT crossJoin (model-sized by the batch-ADC contract)
      "q_ann_recall", // bounded query-sample broadcast onto the truth scan
      "q_nb_train", // 1-row class-total broadcast onto the <=512-row slot
        // table (the lmScore denominator shape); q_nb_score left this set
        // in round 11 — its scoring is now a shuffle-free LUT fold
      "q_hard_negatives") // the label-exclusion (=!=) predicate against
        // the 5-row broadcast query batch — the intended bounded kernel
        // (each corpus row tests the tiny batch in-task; no corpus
        // shuffle to score)
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      assert(!p.contains("BatchEvalPython"), s"$name leaves codegen for Python")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected BroadcastNestedLoopJoin")
    }
  }

  /** Every line of the main sources that `hit` accepts, as `path:n: line`. */
  private def mainSourceLines(hit: String => Boolean): Vector[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if hit(l) => s"$p:${i + 1}: ${l.trim}"
      }).toVector
  }

  test("every cache in main sources goes through CacheRegistry") {
    // Round-8 finding class: a raw .cache()/.persist() outside the
    // registry squats in the block manager past CacheRegistry.releaseAll
    // and shows up as multi-query GC pressure in the bench. Pin the
    // discipline at the SOURCE level: the only allowed direct persist is
    // Clustering's checkpoint staging, which unpersists itself within the
    // same expression (persist -> checkpoint -> unpersist).
    val hits = mainSourceLines(l =>
        (l.contains(".cache()") || l.contains(".persist(")) &&
          !l.trim.startsWith("//") && !l.trim.startsWith("*"))
      .filterNot(_.contains("CacheRegistry.scala:"))
    val allowed = hits.filter { h =>
      (h.contains("Clustering.scala") || h.contains("TermStats.scala")) &&
        h.contains("persist")
    }
    assert(hits == allowed,
      s"untracked cache/persist outside CacheRegistry:\n${(hits diff allowed).mkString("\n")}")
    // the allowed sites must still be the self-unpersisting staging
    // pattern (persist -> use -> unpersist within the same operator)
    val clustering = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/operators/Clustering.scala")))
    assert(clustering.contains("cached.unpersist"),
      "Clustering's direct persist lost its paired unpersist")
    val termStats = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/operators/TermStats.scala")))
    assert(termStats.contains("tf.unpersist") && termStats.contains("dl.unpersist"),
      "appendTextIndexOnce's direct persists lost their paired finally-unpersist")
  }

  test("every temp directory in main sources comes from the Fixture registry") {
    // the registry deletes what it creates; a raw one elsewhere leaks per run
    val hits = mainSourceLines(_.contains("createTempDirectory"))
    assert(hits.size == 1 && hits.head.contains("graft/Fixtures.scala:"), hits.mkString("\n"))
  }

  test("the only append-mode write in main sources is the telemetry history flush") {
    // every index append stages and moves through IndexLifecycle.appendOnce
    // (exactly-once under replay); a plain append-mode write into a live
    // artifact double-counts when its batch is redelivered
    val hits = mainSourceLines(l =>
      l.contains("mode(\"append\")") || l.contains("SaveMode.Append"))
    assert(hits.size == 1 && hits.head.contains("operators/Telemetry.scala:") &&
      hits.head.contains("drained.toDF()"), hits.mkString("\n"))
  }

  test("kmeans assignment is scan-stage: centroids ride as literals, no shuffle") {
    // the ASSIGNMENT plan (what every pass and every downstream consumer
    // runs) must be a projection over the (cached) quantized scan — the
    // only aggregation shuffle in Lloyd is the update step's (cid, pos)
    // agg, which is not part of this plan
    val df = graft.operators.Similarity.kmeansAssignments(
      Tables(spark, sf, "embeddings"), "embedding", "vec_id", k = 4, iters = 2, dim = 64)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"centroids must be literals, not a join:\n$p")
  }

  test("bpe apply: dictionary broadcasts, the corpus side never sort-merges") {
    val docs = Tables(spark, sf, "documents")
    val ms = graft.operators.Bpe.train(docs, "text", 2)._1
    val p = graft.operators.Bpe.applyMerges(docs, "text", "doc_id", ms)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dictionary must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must tokenize in-scan:\n$p")
  }

  test("hybrid batch fusion tail plans ONE exchange: qid partitioning " +
    "feeds rank window, fuse groupBy and final top-k") {
    // r18: hash(qid) satisfies all three downstream clusterings (subset
    // rule), so the explicit repartition replaces the three per-operator
    // exchanges — the tail between the tagged Union and the output must
    // contain exactly one shuffle
    val p = plan("q_hybrid_batch")
    val tail = p.substring(0, p.indexOf("Union"))
    val tailExchanges = "Exchange hashpartitioning".r.findAllIn(tail).size
    assert(tailExchanges == 1,
      s"fusion tail should hold exactly one exchange, got $tailExchanges:\n$tail")
    assert(tail.contains("hashpartitioning(_qid"),
      s"the tail exchange must key on _qid alone:\n$tail")
  }

  test("containment pair kernel: no anti-join, no self-join — one " +
    "collect_list exchange and bounded array pair explode") {
    // r18 rewrite: the hot-set agg + LeftAnti + two-sided self-join on _s
    // are gone; pairs explode from per-shingle sorted arrays
    for (name <- Seq("q_containment", "q_containment_prebuilt")) {
      val p = plan(name)
      assert(!p.contains("LeftAnti"), s"$name: hot-set anti-join is back:\n$p")
      assert(p.contains("collect_list"), s"$name: posting-list agg missing:\n$p")
    }
  }

  test("langId walks each language's markers once: 5 filter HOFs per plan") {
    // TF.langId let-binds its five hit counts; referencing them directly in
    // the max and in every CASE branch plans 35 walks (lambdas defeat
    // codegen's subexpression elimination)
    for (name <- Seq("q_langid", "q_curation")) {
      val p = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.toString
      val walks = "filter\\(".r.findAllIn(p).size
      assert(walks == 5, s"$name: expected 5 filter( HOFs, got $walks:\n$p")
    }
  }

  test("json extract parses each row's props exactly once") {
    // the evalOnce barrier (guide §4.4) must hold the filter ABOVE the
    // projection — without it pushdown clones get_json_object into the
    // Filter and survivors parse twice
    val p = plan("q_json_extract")
    val parses = "get_json_object".r.findAllIn(p).size
    assert(parses == 1, s"expected exactly one get_json_object, got $parses:\n$p")
    // and the barrier changes no values: same rows as the unwrapped form
    import org.apache.spark.sql.functions._
    val plain = Tables(spark, sf, "events")
      .select(col("event_id"), get_json_object(col("props"), "$.k").as("k"))
      .filter(get_json_object(col("props"), "$.k").cast("int") > 80)
      .collect().map(_.toString).sorted
    val wrapped = SparkEntry.queries("q_json_extract")(spark, sf)
      .collect().map(_.toString).sorted
    assert(wrapped.sameElements(plain))
  }

  /** Spark jobs that one serving run of `name` starts — DataFrame
    * construction and the collect, as a serving client pays them — after
    * one warm run (fixture builds, the per-version metadata memo). Counted
    * with [[EngineSession.countJobs]], filtered to this thread's job group. */
  private def servingJobs(name: String): Int = {
    def run(): Unit = SparkEntry.queries(name)(spark, sf).collect()
    run()
    jobsOf(name)(run())
  }

  /** Spark jobs that `run` starts on this thread (see [[servingJobs]]). */
  private def jobsOf(name: String)(run: => Unit): Int =
    EngineSession.countJobs(spark, name)(run)._2

  test("serve-shaped queries start no more jobs than they did") {
    // each serving path's count when the bm25 and hybrid probes went to one
    // job; a change that adds a job to any of them fails here and must
    // say why in the pin
    val census = Seq("q_filter_eq" -> 1, "q_index_keyset" -> 1, "q_keys_exist" -> 2,
      "q_ann_ivf_prebuilt" -> 1, "q_ann_pq_prebuilt" -> 1, "q_phrase_prebuilt" -> 2)
    val over = census.flatMap { case (q, pin) =>
      val n = servingJobs(q)
      if (n > pin) Some(s"$q started $n jobs, pinned at $pin") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("bpe stages start no more jobs than their pins; the encode plans no join") {
    // each stage as the pipeline runs it, with nothing cached from the warm
    // run. Trained by the distributed loop, each started 10 jobs; on the
    // driver, one collect of the word table (2 jobs: the AQE map stage and
    // the result) is the training, plus the encode's own job
    def stageJobs(name: String): Int = {
      def run(): Unit = SparkEntry.queries(name)(spark, sf).collect()
      run()
      CacheRegistry.releaseAll()
      try jobsOf(name)(run()) finally CacheRegistry.releaseAll()
    }
    val census = Seq("q_bpe_encode" -> 3, "q_bpe_train" -> 2)
    val over = census.flatMap { case (q, pin) =>
      val n = stageJobs(q)
      if (n > pin) Some(s"$q started $n jobs, pinned at $pin") else None
    }
    assert(over.isEmpty, over.mkString("; "))
    // the driver-trained dictionary rides in the lookup expression
    val p = plan("q_bpe_encode")
    CacheRegistry.releaseAll()
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      s"driver-path encode plans a join or a broadcast:\n$p")
  }

  test("prebuilt bm25 probe runs in 1 job: memoized literals, one-partition aggregate") {
    // N, Σdl and df ride as literals (no broadcast sub-plan), and the
    // fixture's Σdf is under the bound, so the aggregate and the ranked
    // limit find one partition and plan no exchange
    val jobs = servingJobs("q_bm25_prebuilt")
    assert(jobs <= 1, s"q_bm25_prebuilt started $jobs jobs")
    val p = plan("q_bm25_prebuilt")
    assert(!p.contains("Exchange"), s"bounded bm25 probe plans an exchange:\n$p")
  }

  test("prebuilt hybrid probe runs in 1 job: both ranked sides arrive in one " +
       "partition, so ranks and the fusion join plan no exchange") {
    val jobs = servingJobs("q_hybrid_prebuilt")
    assert(jobs <= 1, s"q_hybrid_prebuilt started $jobs jobs")
    val p = plan("q_hybrid_prebuilt")
    assert(!p.contains("Exchange"), s"hybrid probe plans an exchange:\n$p")
  }

  test("a bm25 probe over more postings than the bound keeps its exchange; " +
       "both sides of the bound equal bm25TopK") {
    import graft.operators.TermStats
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25bound_").toString
    // every doc holds alpha and beta (Σdf = 2n, over the bound); gamma and
    // delta are rarer (Σdf under it); tf and dl vary so scores spread
    val n = TermStats.SinglePartitionPostings * 3 / 5
    val docs = spark.range(n).select(col("id").as("doc_id"), concat_ws(" ",
      when(col("id") % 3 === 0, "alpha alpha").otherwise("alpha"), lit("beta"),
      when(col("id") % 5 === 0, "gamma"), when(col("id") % 7 === 0, "delta delta"),
      when(col("id") % 4 === 0, "pad pad pad").otherwise("pad")).as("text"))
    TermStats.buildTextIndex(docs, "text", "doc_id", idx)
    val k = 50
    for ((terms, bounded) <- Seq(Seq("alpha", "beta") -> false,
                                 Seq("gamma", "delta") -> true)) {
      val sumDf = docs.select(explode(array_distinct(split(col("text"), " "))).as("t"))
        .filter(col("t").isin(terms: _*)).count()
      assert((sumDf <= TermStats.SinglePartitionPostings) == bounded,
        s"$terms: Σdf $sumDf is on the wrong side of the bound")
      val probe = TermStats.bm25TopKPrebuilt(spark, idx, "doc_id", terms, k = k)
      probe.collect() // fills the metadata memo, as a served probe finds it
      val p = TermStats.bm25TopKPrebuilt(spark, idx, "doc_id", terms, k = k)
        .queryExecution.executedPlan.toString
      assert(p.contains("Exchange") != bounded,
        s"$terms (Σdf $sumDf): exchange planned = ${p.contains("Exchange")}:\n$p")
      val want = TermStats.bm25TopK(docs, "text", "doc_id", terms, k = k).collect().toSeq
      assert(probe.collect().toSeq == want, s"$terms: prebuilt probe != bm25TopK")
    }
  }

  test("a bm25 memo miss adds ONE job: stats and unseen terms' df in one scan") {
    // the miss collect is a shuffle-free scan of the stats and terms/
    // partials, ahead of the 1-job probe; an aggregate per constant would
    // add a shuffle stage (a job) each
    import graft.operators.TermStats
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25miss_").toString
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta"))
      .toDF("doc_id", "text")
    TermStats.buildTextIndex(docs, "text", "doc_id", idx)
    def probe(terms: Seq[String]): Unit =
      TermStats.bm25TopKPrebuilt(spark, idx, "doc_id", terms, k = 5).collect()
    probe(Seq("beta"))
    val dfMiss = jobsOf("bm25-df-miss")(probe(Seq("beta", "delta")))
    assert(dfMiss <= 2, s"a df-only miss started $dfMiss jobs")
    // after an append both listings change, so (N, Σdl) and df all miss;
    // the artifact relations are re-read first, outside the count (their
    // parquet schema read is a job of its own, paid with or without the memo)
    TermStats.appendTextIndexOnce(Seq((4L, "delta epsilon")).toDF("doc_id", "text"),
      "text", "doc_id", idx, "miss-run", 0L)
    val dir = TermStats.resolveIndexDir(spark, idx)
    Seq("postings", "stats", "terms").foreach(t => Tables.artifact(spark, s"$dir/$t"))
    val fullMiss = jobsOf("bm25-full-miss")(probe(Seq("beta", "delta")))
    assert(fullMiss <= 2, s"a miss after an append started $fullMiss jobs")
    val hit = jobsOf("bm25-hit")(probe(Seq("beta", "delta")))
    assert(hit <= 1, s"a memo hit started $hit jobs")
  }

  test("prebuilt phrase probe runs in 2 jobs: literal slots, one key exchange") {
    // the key exchange and the result; an exchange per aggregate or a
    // broadcast slots join would add jobs
    val jobs = servingJobs("q_phrase_prebuilt")
    assert(jobs <= 2, s"q_phrase_prebuilt started $jobs jobs")
  }

  test("key presence runs in 2 jobs: one broadcast existence join") {
    // the broadcast of the found keys and the result over the local
    // probe list
    val jobs = servingJobs("q_keys_exist")
    assert(jobs <= 2, s"q_keys_exist started $jobs jobs")
    assert(plan("q_keys_exist").contains("ExistenceJoin"),
      s"presence is not an existence join:\n${plan("q_keys_exist")}")
  }
}
