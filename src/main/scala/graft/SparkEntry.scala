package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filters._
import graft.operators._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF, GeoFunctions => GF}
import graft.Fixtures._

/**
 * Driver contract: every operator from SURVEY.md §2 appears as a named query
 * with a DuckDB oracle where the semantics are SQL-expressible.
 *
 * Conventions shared by Spark + oracle sides (driver hash-compares after
 * sorting columns by name):
 *  - every computed column is aliased identically on both sides;
 *  - floating aggregates are round()ed to kill accumulation-order noise;
 *  - every LIMIT/OFFSET query carries a total order (unique tie-break key).
 */
object SparkEntry {

  /** A query + its optional DuckDB oracle, kept adjacent so names/columns
    * can never drift apart. */
  private final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ==========================================================================
  // §2.2 filters / predicates (orders = the reference's bucket-matrix swamp:
  // tenant=o_custkey, status=o_orderstatus, score=o_totalprice)
  // ==========================================================================

  private val filterQueries = Seq(
    Q("q_filter_eq",
      (s, d) => IndexRead.run(t(s, d, "orders"),
        IndexRead.IndexQuery(
          filter = Some(Cmp(FieldRef("o_custkey"), CmpOp.Equal, 42L)),
          keyCol = "o_orderkey")),
      Some("SELECT * FROM orders WHERE o_custkey = 42")),

    Q("q_filter_and_range",
      (s, d) => t(s, d, "orders").filter(FilterCompiler.compile(Group.and(
        Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "O"),
        Cmp(FieldRef("o_totalprice"), CmpOp.GreaterThan, 150000.0),
        Cmp(FieldRef("o_totalprice"), CmpOp.LessThanOrEqual, 300000.0)))),
      Some("SELECT * FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0 AND o_totalprice <= 300000.0")),

    Q("q_filter_or",
      (s, d) => t(s, d, "orders").filter(FilterCompiler.compile(Group.or(
        Cmp(FieldRef("o_custkey"), CmpOp.Equal, 5L),
        Cmp(FieldRef("o_custkey"), CmpOp.Equal, 6L),
        Group.and(
          Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "F"),
          Cmp(FieldRef("o_totalprice"), CmpOp.LessThan, 5000.0))))),
      Some("SELECT * FROM orders WHERE o_custkey = 5 OR o_custkey = 6 OR (o_orderstatus = 'F' AND o_totalprice < 5000.0)")),

    Q("q_filter_in",
      (s, d) => t(s, d, "orders").filter(FilterCompiler.compile(
        In(FieldRef("o_custkey"), Seq(1L, 2L, 3L, 10L, 20L)))),
      Some("SELECT * FROM orders WHERE o_custkey IN (1,2,3,10,20)")),

    Q("q_filter_not_equal",
      (s, d) => t(s, d, "orders").filter(FilterCompiler.compile(Group.and(
        Cmp(FieldRef("o_orderstatus"), CmpOp.NotEqual, "O"),
        Cmp(FieldRef("o_custkey"), CmpOp.LessThanOrEqual, 50L)))),
      Some("SELECT * FROM orders WHERE o_orderstatus <> 'O' AND o_custkey <= 50")),

    Q("q_filter_string_ops",
      (s, d) => t(s, d, "part").filter(FilterCompiler.compile(Group.and(
        Cmp(FieldRef("p_name"), CmpOp.Contains, "re"),
        Cmp(FieldRef("p_type"), CmpOp.StartsWith, "S"),
        Cmp(FieldRef("p_type"), CmpOp.EndsWith, "D")))),
      Some("SELECT * FROM part WHERE p_name LIKE '%re%' AND p_type LIKE 'S%' AND p_type LIKE '%D'")),

    Q("q_filter_empty_group", // empty FilterGroup = pass-all (proto:2554-2601)
      (s, d) => t(s, d, "nation").filter(FilterCompiler.compile(Group.passAll)),
      Some("SELECT * FROM nation")),

    Q("q_filter_time_window", // half-open [from, to) — beacon.go:1435-1500
      (s, d) => IndexRead.run(t(s, d, "orders"), IndexRead.IndexQuery(
        timeAxis = Some("o_orderdate"),
        fromTime = Some(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
        toTime = Some(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")),
        keyCol = "o_orderkey")),
      Some("SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'")),

    Q("q_keys_only", // KeysOnly projection => column pruning (gateway.go:726-732)
      (s, d) => IndexRead.run(t(s, d, "orders"), IndexRead.IndexQuery(
        filter = Some(Cmp(FieldRef("o_totalprice"), CmpOp.GreaterThan, 300000.0)),
        keyCol = "o_orderkey", keysOnly = true)),
      Some("SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0")),

    Q("q_include_exclude", // IncludedKeys/ExcludeKeys pre-filters (proto:2830-2844)
      (s, d) => IndexRead.run(t(s, d, "customer"), IndexRead.IndexQuery(
        includeKeys = (1L to 40L),
        excludeKeys = Seq(5L, 10L, 15L),
        keyCol = "c_custkey")),
      Some("SELECT * FROM customer WHERE c_custkey BETWEEN 1 AND 40 AND c_custkey NOT IN (5,10,15)")),

    Q("q_is_empty", // IS_EMPTY / IS_NOT_EMPTY (filter_native.go:88-95)
      (s, d) => t(s, d, "documents")
        .withColumn("maybe", when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("source")))
        .filter(FilterCompiler.compile(IsEmpty(FieldRef("maybe")))
          .or(FilterCompiler.compile(Cmp(FieldRef("lang"), CmpOp.Equal, "fr"))))
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM (SELECT doc_id, lang, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS maybe FROM documents) WHERE maybe IS NULL OR lang = 'fr'""")))

  // ==========================================================================
  // §2.5/2.6 ordered paginated reads (GetByIndex* family)
  // ==========================================================================

  private val indexQueries = Seq(
    Q("q_index_order_limit", // axis sort + From offset + Limit (proto:1349-1445)
      (s, d) => IndexRead.run(t(s, d, "orders"), IndexRead.IndexQuery(
        filter = Some(Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "O")),
        orderBy = Seq(("o_orderdate", IndexRead.Desc)),
        from = 10, limit = Some(20), keyCol = "o_orderkey")),
      Some("SELECT * FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 20 OFFSET 10")),

    Q("q_index_value_axis", // VALUE_* beacon axis => ORDER BY value column
      (s, d) => IndexRead.run(t(s, d, "orders"), IndexRead.IndexQuery(
        orderBy = Seq(("o_totalprice", IndexRead.Asc)),
        limit = Some(15), keyCol = "o_orderkey")),
      Some("SELECT * FROM orders ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 15")),

    Q("q_index_keyset", // keyset continuation = the beacon walk (beacon.go:1368-1420):
      // page N is a pushed range predicate over (axis, key), NOT an OFFSET
      // re-scan — same cost at any depth. Page 2 here must equal the OFFSET
      // formulation's page 2 exactly (total order via the key tie-break).
      // The page-1 continuation token (what a real client holds between
      // calls) is computed ONCE per (session, dir) via Fixtures.keysetToken —
      // so Bench's min-of-two times exactly ONE page query, like-for-like
      // with the oracle's single OFFSET statement.
      (s, d) => {
        val (axisTok, keyTok) = keysetToken(s, d)
        IndexRead.run(t(s, d, "orders"), IndexRead.IndexQuery(
          filter = Some(Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "O")),
          orderBy = Seq(("o_orderdate", IndexRead.Desc)),
          keyCol = "o_orderkey", limit = Some(20),
          afterAxis = Seq(axisTok), afterKey = Some(keyTok)))
      },
      Some("SELECT * FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 20 OFFSET 20")),

    Q("q_index_from_many", // GetByIndexStreamFromMany (proto:2883-2914)
      (s, d) => {
        val orders = t(s, d, "orders")
        IndexRead.fromMany(Seq(
          orders.filter(col("o_orderstatus") === "F") ->
            IndexRead.IndexQuery(orderBy = Seq(("o_totalprice", IndexRead.Desc)),
              limit = Some(10), keyCol = "o_orderkey"),
          orders.filter(col("o_orderstatus") === "O") ->
            IndexRead.IndexQuery(orderBy = Seq(("o_totalprice", IndexRead.Desc)),
              limit = Some(10), keyCol = "o_orderkey")),
          globalLimit = None)
      },
      Some("""(SELECT * FROM orders WHERE o_orderstatus = 'F' ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10) UNION ALL (SELECT * FROM orders WHERE o_orderstatus = 'O' ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)""")),

    Q("q_topk", // top-k = TakeOrderedAndProject, no global sort shuffle
      (s, d) => t(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(25)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Some("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 25")))

  // ==========================================================================
  // §2.4 aggregations (+ Spark-native extensions the reference lacks)
  // ==========================================================================

  private val aggQueries = Seq(
    Q("q1_agg", // grouped hash agg with partial (map-side) combine
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, round(avg(l_quantity),6) AS avg_qty, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    Q("q_count", // Count RPC (proto:1559-1589)
      (s, d) => t(s, d, "lineitem").agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM lineitem")),

    Q("q_count_matching", // CountMatching / Cap pre-count (beacon.go:1161-1186)
      (s, d) => t(s, d, "orders")
        .filter(FilterCompiler.compile(Group.and(
          Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "F"),
          Cmp(FieldRef("o_totalprice"), CmpOp.GreaterThan, 100000.0))))
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0")),

    Q("q_distinct_set", // Uint32Slice dedup-set semantics: per-key sorted set.
      // Cardinality via size(collect_set), NOT countDistinct: a second
      // distinct-aggregate group would force Spark's Expand rewrite (every
      // input row duplicated per distinct group before the shuffle) — A/B
      // at sf0.1: 0.91 -> 0.36 s. Safe because the column is a bounded
      // enum (the reference's slices are bounded per-key sets, §2.4), so
      // the per-group set state stays tiny at any corpus size
      // NO spread: A/B'd r17 (same-harness PerfLab min-of-2) — spreading
      // the scan before the set-partial agg read 0.44 → 0.73 s; the
      // round-robin exchange costs more than the serial partials save
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("status_set"),
          size(collect_set(col("o_orderpriority"))).cast("long").as("n_prio")),
      Some("SELECT o_custkey, array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS status_set, count(DISTINCT o_orderpriority) AS n_prio FROM orders GROUP BY o_custkey")),

    Q("q_slice_size", // Uint32SliceSize = set cardinality (proto:2192-2209).
      // size(collect_set) replaces countDistinct: ONE shuffle carrying
      // mergeable set partials instead of the partial-distinct two-shuffle
      // (A/B at sf0.1: 0.86 -> 0.60 s). Bounded per-key sets by the same
      // §2.4 slice contract as q_distinct_set — parts-per-supplier is a
      // fixed ratio at every TPC-H scale factor, so group state does not
      // grow with corpus size
      // NO spread: same A/B verdict as q_distinct_set (0.61 → 1.08 s with
      // a spread — the exchange dwarfs the serial set partials)
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(size(collect_set(col("l_partkey"))).cast("long").as("set_size")),
      Some("SELECT l_suppkey, count(DISTINCT l_partkey) AS set_size FROM lineitem GROUP BY l_suppkey")),

    Q("q_approx_distinct", // HLL — the 100 TB substitute for exact distinct.
      // The sketch value is engine-specific, so the oracle checks the
      // published-error-bound PREDICATE (|approx-exact|/exact within 3x the
      // default rsd=0.05) plus the exact count — differential where the
      // value itself cannot be
      (s, d) => t(s, d, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
             countDistinct(col("l_partkey")).as("exact_parts"))
        .select(
          (abs(col("approx") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.15).as("within_bound"),
          col("exact_parts")),
      Some("SELECT TRUE AS within_bound, count(DISTINCT l_partkey) AS exact_parts FROM lineitem")),

    Q("q_sketch_union", // HLL sketch MERGEABILITY — the property that makes
      // approx-distinct work at 100 TB: per-day partial sketches (computed
      // where the data lives, e.g. one per ingest partition) merge into the
      // global estimate without touching rows again. Same error-bound
      // oracle discipline as q_approx_distinct
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = daily.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
        val exact = t(s, d, "events")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        merged.crossJoin(exact).select(
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("within_bound"),
          col("exact_users"))
      },
      Some("SELECT TRUE AS within_bound, count(DISTINCT user_id) AS exact_users FROM events")),

    Q("q_approx_quantiles", // percentile_approx — the 100 TB substitute
      // for exact percentiles (single-pass mergeable sketch vs full sort).
      // Sketch values are engine-specific, so like q_approx_distinct the
      // oracle checks the error-bound PREDICATE against exact percentiles
      // (accuracy 10000 => tight; 1% relative slack) plus the exact
      // medians themselves
      (s, d) => {
        import graft.operators.Percentiles
        // array form: BOTH approx percentiles come out of ONE sketch
        // buffer, and both exact ones read off ONE sorted-collect buffer
        // (Percentiles — bit-identical to the built-in aggregate, ~2x
        // cheaper than its OpenHashMap buffer)
        val q = t(s, d, "orders").agg(
          percentile_approx(col("o_totalprice"),
            array(lit(0.5), lit(0.9)), lit(10000)).as("ap"),
          Percentiles.sortedVals(col("o_totalprice")).as("_sv"))
          .select(col("ap"),
            Percentiles.fromSorted(col("_sv"), 0.5).as("ex50_raw"),
            Percentiles.fromSorted(col("_sv"), 0.9).as("ex90_raw"))
        q.select(
          (abs(col("ap")(0) - col("ex50_raw")) / col("ex50_raw") <= 0.01).as("p50_ok"),
          (abs(col("ap")(1) - col("ex90_raw")) / col("ex90_raw") <= 0.01).as("p90_ok"),
          round(col("ex50_raw"), 2).as("ex50"), round(col("ex90_raw"), 2).as("ex90"))
      },
      Some("""SELECT TRUE AS p50_ok, TRUE AS p90_ok,
          round(quantile_cont(o_totalprice, 0.5), 2) AS ex50,
          round(quantile_cont(o_totalprice, 0.9), 2) AS ex90 FROM orders""")),

    Q("q_rollup", // grouping-sets surface the reference lacks (§2.4)
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty")),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS cnt, round(sum(l_quantity),2) AS sum_qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")))

  // ==========================================================================
  // §2.3 joins (reference has none — GetByKeys/reverse-index patterns + the
  // real joins the new engine exposes) and §2.7 set ops
  // ==========================================================================

  private val joinQueries = Seq(
    Q("q_join_agg", // broadcast dims; fact table never shuffles for the join
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("rev")),
      Some("SELECT n_name, count(*) AS cnt, round(sum(o_totalprice),2) AS rev FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")),

    Q("q_dim_chain", // region -> nation -> customer -> orders: a THREE-hop
      // dimension chain where every dim broadcasts in turn — the fact side
      // streams through three BroadcastHashJoins with zero fact shuffles
      // until the final per-region aggregate
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("rev")),
      Some("SELECT r_name, count(*) AS cnt, round(sum(o_totalprice),2) AS rev FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name")),

    Q("q_star_join", // lineitem vs TWO independent dims (supplier, part) —
      // the star-schema shape: both dims broadcast, the fact scans once,
      // and only the post-join aggregate shuffles (grouped on dim columns)
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("s_nationkey"), col("p_brand"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev")),
      Some("SELECT s_nationkey, p_brand, count(*) AS cnt, round(sum(l_extendedprice * (1.0 - l_discount)),2) AS rev FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN part ON l_partkey = p_partkey GROUP BY s_nationkey, p_brand")),

    Q("q_skew_join", // salted fact-dim join: the hot-key regime where the
      // dim can't broadcast and AQE's partition split isn't enough — the
      // (key, salt) join key spreads any single hot key over saltBuckets
      // reducers by construction. Oracle = the PLAIN join: salting must not
      // change a single output row
      (s, d) => SkewJoin.saltedInner(
          t(s, d, "events"), t(s, d, "customer"), "user_id", "c_custkey",
          saltBuckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("value")), 2).as("sum_value"), count(lit(1)).as("n")),
      Some("SELECT c_mktsegment, round(sum(value), 2) AS sum_value, count(*) AS n FROM events JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment")),

    Q("q_semi_join", // EXISTS — GetByKeys-shaped membership (proto:1447-1482)
      (s, d) => t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_totalprice") > 400000.0).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi"),
      Some("SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)")),

    Q("q_anti_join", // NOT EXISTS
      (s, d) => t(s, d, "customer").join(
        t(s, d, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti"),
      Some("SELECT * FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)")),

    Q("q_get_by_keys", // big key list => broadcast hash semi-join (§2.1 Get/GetByKeys)
      (s, d) => {
        val keys = t(s, d, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(100)
          .select(col("o_orderkey"))
        t(s, d, "lineitem").join(broadcast(keys),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
      },
      Some("SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM (SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100))")),

    Q("q_union",
      (s, d) => {
        val c = t(s, d, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
          .union(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
          .distinct()
      },
      Some("SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0")),

    Q("q_intersect",
      (s, d) => {
        val c = t(s, d, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
          .intersect(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
      },
      Some("SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0")),

    Q("q_except",
      (s, d) => {
        val c = t(s, d, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
          .except(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
      },
      Some("SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0")),

    Q("q_explode_revindex", // word -> doc-id reverse index (proto:2150-2231 pattern)
      (s, d) => t(s, d, "documents")
        .select(explode(array_distinct(split(col("text"), " "))).as("word"), col("doc_id"))
        .filter(col("word").isin("data", "spark", "vector"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc")),
      Some("SELECT word, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM (SELECT unnest(list_distinct(string_split(text,' '))) AS word, doc_id FROM documents) WHERE word IN ('data','spark','vector') GROUP BY word")),

    Q("q_intersection_search", // "docs containing word A AND word B" (why-hydraide.md)
      (s, d) => t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(FilterCompiler.compile(Group.and(
          SliceContains(FieldRef("toks"), "data"),
          SliceContains(FieldRef("toks"), "batch"))))
        .select(col("doc_id")),
      Some("SELECT doc_id FROM documents WHERE list_contains(string_split(text,' '), 'data') AND list_contains(string_split(text,' '), 'batch')")))

  // ==========================================================================
  // window functions (§2.5 extension — absent in reference)
  // ==========================================================================

  private val windowQueries = {
    import org.apache.spark.sql.expressions.Window
    Seq(
      Q("q_window_topn",
        (s, d) => {
          val w = Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          t(s, d, "orders")
            .withColumn("rn", row_number().over(w))
            .withColumn("rnk", rank().over(w))
            .filter(col("rn") <= 3)
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
              col("rn"), col("rnk"))
        },
        Some("SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk FROM orders) WHERE rn <= 3")),

      Q("q_window_running",
        (s, d) => {
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").asc, col("event_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          t(s, d, "events")
            .select(col("event_id"), col("user_id"),
              round(sum(col("value")).over(w), 2).as("running"))
        },
        Some("SELECT event_id, user_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING), 2) AS running FROM events")),

      Q("q_window_lag",
        (s, d) => {
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").asc, col("event_id").asc)
          t(s, d, "events")
            .select(col("event_id"), col("user_id"),
              round(col("value") - lag(col("value"), 1).over(w), 2).as("delta"))
        },
        Some("SELECT event_id, user_id, round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 2) AS delta FROM events")))
  }

  // ==========================================================================
  // exotic predicates: geo / vector / phrase / nested-slice quantifiers
  // ==========================================================================

  /** Deterministic synthetic coordinates derived from the customer key —
    * identical arithmetic on the oracle side. */
  private def withGeo(df: DataFrame): DataFrame = df
    .withColumn("lat", (col("c_custkey") % 120) - 60 + lit(0.25))
    .withColumn("lon", ((col("c_custkey") * 7) % 360) - 180 + lit(0.25))

  private val geoSqlLatLon =
    "(SELECT c_custkey, (c_custkey % 120) - 60 + 0.25 AS lat, ((c_custkey * 7) % 360) - 180 + 0.25 AS lon FROM customer)"

  /** Pairwise haversine between aliases `a` and `b`, mirroring
    * GeoFunctions.haversineKm(a.lat, a.lon, b.lat, b.lon) term-for-term
    * (haversine is bit-symmetric, so the key-canonical direction the
    * Spark side emits computes the identical double). */
  private val geoSqlPairDist: String =
    "2.0 * 6371.0 * asin(sqrt(pow(sin(radians(b.lat - a.lat) / 2), 2) + " +
      "cos(radians(a.lat)) * cos(radians(b.lat)) * pow(sin(radians(b.lon - a.lon) / 2), 2)))"

  /** Haversine SQL mirroring GeoFunctions.haversineKm term-for-term. */
  private def geoSqlDist(refLat: Double, refLon: Double): String =
    s"2.0 * 6371.0 * asin(sqrt(pow(sin(radians($refLat - lat) / 2), 2) + " +
      s"cos(radians(lat)) * cos(radians($refLat)) * pow(sin(radians($refLon - lon) / 2), 2)))"

  private val exoticQueries = Seq(
    Q("q_geo_inside", // INSIDE radius + bbox pre-filter (filter.go:14-56)
      (s, d) => {
        val geo = withGeo(t(s, d, "customer"))
        geo.filter(FilterCompiler.compile(
            GeoWithin(FieldRef("lat"), FieldRef("lon"), 10.0, 20.0, 3000.0), geo))
          .select(col("c_custkey"),
            round(GF.haversineKm(col("lat"), col("lon"), lit(10.0), lit(20.0)), 3)
              .as("dist_km"))
      },
      Some(s"SELECT c_custkey, round(${geoSqlDist(10.0, 20.0)}, 3) AS dist_km FROM $geoSqlLatLon WHERE NOT (lat = 0.0 AND lon = 0.0) AND ${geoSqlDist(10.0, 20.0)} <= 3000.0")),

    Q("q_geo_pairs", // pairwise distance self-join (location-duplicate
      // detection): latitude-banded candidates + exact haversine verify —
      // candidates scale with band occupancy, never n^2 (the naive form
      // is a cross join). Oracle = the brute-force pair join, so the
      // banded kernel must find every qualifying pair
      // spread: the banded self-join broadcasts one side, so ALL of the
      // candidate-verify haversine compute runs in the probe side's scan
      // stage — ONE split at sf0.1 (r17 census: 3 tasks total); identity
      // at cluster scale (Tables.spread scaladoc)
      (s, d) => GeoJoin.withinDistance(Tables.spread(withGeo(t(s, d, "customer"))),
        "c_custkey", "lat", "lon", maxKm = 100.0),
      Some(s"""WITH g AS (SELECT c_custkey, lat, lon FROM $geoSqlLatLon
            WHERE NOT (lat = 0.0 AND lon = 0.0))
          SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
            round(${geoSqlPairDist}, 3) AS dist_km
          FROM g a JOIN g b ON a.c_custkey < b.c_custkey
          WHERE ${geoSqlPairDist} <= 100.0""")),

    Q("q_geo_band", // OUTSIDE r1 AND INSIDE r2 (band) — filter matrix shape
      (s, d) => {
        val geo = withGeo(t(s, d, "customer"))
        geo.filter(FilterCompiler.compile(Group.and(
            GeoWithin(FieldRef("lat"), FieldRef("lon"), 10.0, 20.0, 8000.0, inside = false),
            GeoWithin(FieldRef("lat"), FieldRef("lon"), 10.0, 20.0, 12000.0)), geo))
          .select(col("c_custkey"))
      },
      Some(s"SELECT c_custkey FROM $geoSqlLatLon WHERE NOT (lat = 0.0 AND lon = 0.0) AND ${geoSqlDist(10.0, 20.0)} > 8000.0 AND ${geoSqlDist(10.0, 20.0)} <= 12000.0")),

    Q("q_vector_topk", // brute-force cosine top-k (TakeOrderedAndProject)
      (s, d) => Similarity.bruteForceTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 20),
      Some("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) SELECT vec_id, round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score FROM embeddings e, q ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, vec_id ASC LIMIT 20")),

    Q("q_vector_threshold", // VectorFilter >= minSim (proto:2688-2711)
      (s, d) => Similarity.thresholdScan(
        t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 0.25),
      Some("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) SELECT vec_id, round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score FROM embeddings e, q WHERE list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) >= 0.25")),

    Q("q_ann_ivf", // IVF probe path — seeded centroids mirrored into the
      // oracle as constants (see sqlIvfTopK), so even the ANN routing is
      // differentially checked
      (s, d) => Similarity.ivfTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 10),
      Some(sqlIvfTopK)),

    Q("q_ann_ivf_prebuilt", // the 100 TB form of the same query: one-time
      // partitionBy(_list) index build per (session, dir), then the probe
      // is a PARTITION-PRUNED scan of nprobe/nlist of the files — in the
      // bench's min-of-two the build lands in run 1 and the steady-state
      // probe is what gets reported. Results identical to q_ann_ivf by
      // construction => same oracle.
      (s, d) => Similarity.ivfTopKPrebuilt(s, ivfIndexPath(s, d),
        "embedding", "vec_id", queryVec(s, d), 10),
      Some(sqlIvfTopK)),

    Q("q_ann_filtered", // metadata-FILTERED ANN over the same prebuilt
      // index — the vector-DB serving pattern "top-k WHERE label = 3".
      // The index retains every metadata column, so the predicate runs in
      // the partition-pruned probe scan BEFORE ranking (a post-filtered
      // top-k would under-fill); nprobe doubles to 8, the standard recall
      // compensation for selective filters (scaladoc note).
      (s, d) => Similarity.ivfTopKPrebuiltFiltered(s, ivfIndexPath(s, d),
        "embedding", "vec_id", queryVec(s, d), 10, col("label") === 3,
        Similarity.ivfCentroids(16, 64, 7L), nprobe = 8),
      Some(sqlIvfFiltered)),

    Q("q_ann_diverse", // cluster-diverse ANN: at most 3 results per IVF
      // list (the lists are the coarse clusters) — the cheap published
      // diversification for redundant corpora; same probe scan as the
      // plain prebuilt top-k plus one window over the probed lists only.
      (s, d) => Similarity.ivfTopKPrebuiltDiverse(s, ivfIndexPath(s, d),
        "embedding", "vec_id", queryVec(s, d), 10, perList = 3,
        Similarity.ivfCentroids(16, 64, 7L), nprobe = 4),
      Some(sqlIvfDiverse)),

    Q("q_mmr_rerank", // MMR diversity re-rank of a brute-force top-20
      // candidate set (k=5, lambda=0.7): the serving-tier tail of an ANN
      // pipeline — candidate generation is the distributed stage, MMR is
      // sequential BY DEFINITION and runs over the contract-bounded
      // candidate relation. The oracle replays the greedy loop as a
      // generated CTE chain (the q_bpe_train technique), one select/
      // penalty step per rank.
      (s, d) => {
        val cand = t(s, d, "embeddings")
          .filter(size(col("embedding")) === 64)
          .withColumn("rel",
            round(VF.cosine(col("embedding"), queryVec(s, d)), 6))
          .orderBy(col("rel").desc, col("vec_id").asc).limit(20)
          .select(col("vec_id"), col("embedding"), col("rel"))
        Similarity.mmrRerank(cand, "embedding", "vec_id", "rel",
          k = 5, lambda = 0.7)
      },
      Some(sqlMmrRerank)),

    Q("q_ann_batch", // batch ANN: every query row's top-k in ONE plan —
      // per-row probe derivation from broadcast centroids, shuffle join
      // co-partitioned with the prebuilt index's _list layout, window
      // top-k per query. The 100 TB serving pattern (a RELATION of
      // queries, not one driver-side vector)
      (s, d) => Similarity.ivfTopKBatchPrebuilt(s, ivfIndexPath(s, d),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "vec_id", "embedding", "embedding", "vec_id", k = 10, dim = 64),
      Some(sqlIvfBatch)),

    Q("q_hard_negatives", // contrastive negative mining: per query row,
      // the top-k most-similar corpus rows with a DIFFERENT label
      // (Karpukhin 2020's hard negatives for bi-encoder training). The
      // 5-row query batch broadcasts; the label exclusion is the join
      // predicate, so positives never crowd negatives out of the top-k;
      // scores round(6) BEFORE the per-qid window rank (engine-exact
      // order). The corpus is scored in-task — its only shuffle is the
      // irreducible (qid, key, score) rank.
      (s, d) => Similarity.hardNegatives(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "embedding", "vec_id", "label", k = 10, dim = 64),
      Some("""SELECT qid, vec_id, score FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
                  round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS score,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                             e.vec_id ASC) AS rn
           FROM embeddings e
           JOIN (SELECT vec_id, embedding, label FROM embeddings
                 WHERE vec_id < 5 AND len(embedding) = 64) q
             ON e.label <> q.label
           WHERE len(e.embedding) = 64)
         WHERE rn <= 10""")),

    Q("q_ann_int8", // int8-quantized ANN: per-vector symmetric scalar
      // quantization (4x scan bandwidth at 100 TB), exact-int64 dot,
      // score = dot * rowScale * queryScale rounded BEFORE ranking so the
      // order is engine-exact. Top-1 is the query itself at ~0.9997 —
      // the quantization error made visible and pinned.
      (s, d) => Similarity.int8TopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 20),
      Some("""WITH q AS (
           SELECT embedding FROM embeddings WHERE vec_id = 0),
         qq AS (
           SELECT CASE WHEN m = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m) AS BIGINT)) END AS qv,
                  m / 127.0 AS qscale
           FROM (SELECT embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m FROM q)),
         rows_q AS (
           SELECT vec_id,
                  CASE WHEN m = 0 THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
                  ELSE list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m) AS TINYINT)) END AS qvec,
                  m / 127.0 AS scale
           FROM (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
                 FROM embeddings WHERE len(embedding) = 64))
         SELECT vec_id,
                round(CAST(list_sum(list_transform(list_zip(r.qvec, q.qv), p -> CAST(p[1] AS BIGINT) * p[2])) AS DOUBLE)
                      * r.scale * q.qscale, 6) AS score
         FROM rows_q r, qq q
         ORDER BY score DESC, vec_id LIMIT 20""")),

    Q("q_ann_pq", // product-quantization ANN (Jégou 2011, the FAISS
      // IVF-ADC fine quantizer): 8 subspaces × 16 data-sampled codebook
      // entries, exact-int64 encode distances and ADC lookup sums — only
      // the final ÷scale² floats, round(6)ed BEFORE ranking, so the
      // 32x-compressed scan ranks engine-exactly. Codebook = the 16 rows
      // smallest by (md5(key), key), which the oracle re-derives
      // RELATIONALLY — no opaque constants anywhere in the check.
      (s, d) => Similarity.pqTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 20),
      Some(sqlPqTopK)),

    Q("q_ann_pq_prebuilt", // the 100 TB form: codes + codebook written
      // once ([[Similarity.pqBuild]]), then the probe scans ONLY the
      // m-int codes column — 32x fewer bytes than the float vectors, the
      // raw embedding column absent from the plan. Identical results to
      // q_ann_pq by construction => same oracle.
      (s, d) => Similarity.pqTopKPrebuilt(s, pqIndexPath(s, d),
        "vec_id", queryVec(s, d), 20),
      Some(sqlPqTopK)),

    Q("q_ann_pq_rerank", // two-stage retrieval: ADC shortlist (k·5 over
      // the compressed codes) → fetch ONLY those rows' raw vectors
      // (keys-only semi join = bounded point-reads at scale) → exact
      // float re-rank. Exact top-k precision at compressed-scan cost; both
      // stages round before ordering with key tie-breaks, so the whole
      // cascade is engine-exact.
      (s, d) => Similarity.pqRerankTopK(s, pqIndexPath(s, d),
        t(s, d, "embeddings"), "embedding", "vec_id", "vec_id",
        queryVec(s, d), k = 20, rerank = 5),
      Some(s"""WITH $sqlPqCtes,
          shortlist AS (
            SELECT vec_id FROM (
              SELECT vec_id, round(si / 1000000000000.0, 6) AS ps FROM sc)
            ORDER BY ps DESC, vec_id LIMIT 100),
          q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          SELECT e.vec_id,
                 round(list_dot_product(e.embedding::DOUBLE[], q2.qv::DOUBLE[]), 6) AS score
          FROM embeddings e JOIN shortlist USING (vec_id), q2
          WHERE len(e.embedding) = 64
          ORDER BY score DESC, e.vec_id LIMIT 20""")),

    Q("q_ann_pq_ivf", // IVF-ADC (FAISS IVFPQ, no-residual): coarse-route
      // to nprobe/nlist PARTITION-PRUNED lists, then ADC-score only the
      // m-int codes inside them — the two scan reductions multiply
      // (4/16 lists × 32x code compression = 1/128 of the flat bytes at
      // these defaults). Routing mirrors q_ann_ivf's seeded constants;
      // scoring mirrors q_ann_pq's relational codebook — the oracle
      // composes both checks.
      (s, d) => Similarity.pqIvfTopK(s, pqIvfIndexPath(s, d),
        "vec_id", queryVec(s, d), 20),
      Some(sqlPqIvfTopK)),

    Q("q_ann_pq_trained", // the PRODUCTION PQ build path end to end:
      // Lloyd-trained codebook (pqTrainCodebook, 2 passes of exact-int64
      // L2 against rounded integer centroids per subspace) → pqBuildWith
      // → the same prebuilt ADC probe as q_ann_pq_prebuilt. The oracle
      // replays the per-subspace training relationally (the
      // q_kmeans_train discipline extended to the Euclidean objective),
      // so even the TRAINED codebook — not just the probe over it — is
      // differentially checked.
      (s, d) => Similarity.pqTopKPrebuilt(s, pqTrainedIndexPath(s, d),
        "vec_id", queryVec(s, d), 20),
      Some(sqlPqTrained)),

    Q("q_ann_pq_append", // the vector-index MAINTENANCE path: build on
      // vec_id >= 100 (codebook frozen from that subset's (md5, key)
      // draw), append vec_id < 100 with the frozen codebook
      // (appendPqIndexOnce — the batch's codes move into the live
      // version, the corpus is never re-encoded), probe the grown index.
      // The oracle freezes its codebook CTE the same way but encodes the
      // whole corpus, so the row proves append ==
      // rebuild-with-the-frozen-codebook exactly.
      (s, d) => Similarity.pqTopKPrebuilt(s, pqAppendIndexPath(s, d),
        "vec_id", queryVec(s, d), 20),
      Some(sqlPqAppend)),

    Q("q_cluster_balance", // cluster-balanced sampling (the SemDeDup-style
      // diversity step): route the corpus onto trained centroids, keep a
      // reproducible uniform k per CLUSTER — equal semantic coverage
      // instead of density-proportional. Pure composition of two audited
      // kernels: kmeansAssignments (exact-integer Lloyd, engine-exact
      // assignments) + perGroupUniform (md5-draw window); the oracle
      // reuses the q_kmeans_train CTE chain so assignment and sampling
      // cannot drift.
      (s, d) => Sampling.perGroupUniform(
          Similarity.kmeansAssignments(t(s, d, "embeddings"), "embedding",
            "vec_id", k = 8, iters = 2, dim = 64),
          "cid", "key", k = 3, seed = "bal")
        .select(col("cid"), col("key").as("vec_id")),
      Some(s"""WITH $sqlKmeansCtes
          SELECT cid, vec_id FROM (
            SELECT cid, vec_id, row_number() OVER (PARTITION BY cid
              ORDER BY md5('bal-' || CAST(vec_id AS VARCHAR))) AS rn
            FROM a2) WHERE rn <= 3""")),

    Q("q_prototype_prune", // Sorscher 2022 data pruning: route the corpus
      // onto trained centroids (the audited exact-integer Lloyd loop),
      // prototypicality = the assignment score itself (dot(ivec,csum)/n),
      // keep each cluster's ceil(0.3·n_c) LEAST prototypical members —
      // the "prune the easy, redundant examples" curation step. The
      // oracle reuses the q_kmeans_train CTE chain (a2 now carries the
      // winning score), so assignment AND ranking replay bit-identically.
      (s, d) => Similarity.prototypePrune(t(s, d, "embeddings"), "embedding",
        "vec_id", k = 8, iters = 2, dim = 64, keepRate = 0.3)
        .select(col("cid"), col("key").as("vec_id")),
      Some(s"""WITH $sqlKmeansCtes
          SELECT cid, vec_id FROM (
            SELECT cid, vec_id,
              row_number() OVER (PARTITION BY cid ORDER BY score ASC, vec_id ASC) AS rn,
              count(*) OVER (PARTITION BY cid) AS n
            FROM a2) WHERE rn <= ceil(0.3 * n)""")),

    Q("q_ann_recall", // the index-quality gate itself, differentially
      // checked: micro-averaged recall@10 of the routed probe vs brute
      // force for nprobe in {1, 4} — total hits / total truth rows is one
      // division of exact integers, so even the recall NUMBER is
      // engine-identical. The oracle recomputes routing from the seeded
      // centroid constants and truth from a windowed brute-force pass.
      (s, d) => Similarity.ivfRecallReport(s, ivfIndexPath(s, d),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "vec_id", "embedding", "embedding", "vec_id", k = 10, dim = 64,
        nprobes = Seq(1, 4)),
      Some(sqlAnnRecall)),

    Q("q_ann_pq_recall", // PQ quantization-quality gate: recall@20 of the
      // ADC ranking vs the exact float ranking — |ADC∩exact| / 20 is one
      // division of exact integers, so the metric is engine-identical.
      // Closes the recall-diagnostic family: routing (q_ann_recall),
      // banding (q_lsh_recall), and now code compression, each
      // differentially checked.
      (s, d) => {
        val adc = Similarity.pqTopK(
            t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 20)
          .select(col("vec_id"))
        val exact = Similarity.bruteForceTopK(
            t(s, d, "embeddings"), "embedding", "vec_id", queryVec(s, d), 20)
          .select(col("vec_id"))
        adc.join(exact, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"),
            round(count(lit(1)).cast("double") / 20, 4).as("recall"))
      },
      Some(s"""WITH $sqlPqCtes,
          adc AS (SELECT vec_id FROM (
            SELECT vec_id, round(si / 1000000000000.0, 6) AS score
            FROM sc ORDER BY score DESC, vec_id LIMIT 20)),
          q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          exact AS (SELECT vec_id FROM (
            SELECT e.vec_id FROM embeddings e, q2
            ORDER BY list_dot_product(e.embedding::DOUBLE[], q2.qv::DOUBLE[]) DESC, e.vec_id
            LIMIT 20)),
          hit AS (SELECT count(*) AS n FROM adc JOIN exact USING (vec_id))
          SELECT n AS n_hit, round(n::DOUBLE / 20, 4) AS recall FROM hit""")),

    Q("q_kmeans_train", // IVF centroid TRAINING: two Lloyd assignment
      // passes with an exact-integer update between them (Similarity
      // scaladoc: every accumulated quantity is an int64, so the result is
      // bit-identical across engines — the oracle replays the identical
      // algorithm in SQL). Output = per-cluster size + exact integer sum
      // of the first quantized dimension after the second pass.
      (s, d) => Similarity.kmeansAssignments(
          t(s, d, "embeddings"), "embedding", "vec_id", k = 8, iters = 2, dim = 64)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          sum(element_at(col("ivec"), 1)).as("c0sum")),
      Some(sqlKmeansTrain)),

    Q("q_cosine_pairs", // exact pairwise kernel on a bounded slice
      (s, d) => {
        val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
          .select(col("vec_id"), col("embedding"))
        val a = e.as("a"); val b = e.as("b")
        a.join(b, col("a.vec_id") < col("b.vec_id"))
          // EvalOnce (r18): bare, the >= 0.25 predicate is pushed into the
          // join condition AND recomputed in the projection — survivors
          // paid the dot twice (plan-verified); the vec_id < vec_id prune
          // still rides the join
          .select(col("a.vec_id").as("key_a"), col("b.vec_id").as("key_b"),
            round(graft.functions.EvalOnceExpr.evalOnce(
              VF.dot(col("a.embedding"), col("b.embedding"))), 6).as("cosine"))
          .filter(col("cosine") >= 0.25)
      },
      Some("SELECT a.vec_id AS key_a, b.vec_id AS key_b, round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine FROM embeddings a, embeddings b WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.25")),

    Q("q_phrase_match", // consecutive word positions (filter.go:560-589) —
      // scan form: O(tokens × |phrase|) sliding check over the token array,
      // no per-row word-index construction (round-1's O(distinct × tokens))
      (s, d) => t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(FilterCompiler.compile(
          PhraseInTokens(FieldRef("toks"), Seq("data", "batch"))))
        .select(col("doc_id")),
      Some("SELECT doc_id FROM documents WHERE ' ' || text || ' ' LIKE '% data batch %'")),

    Q("q_phrase_negate",
      (s, d) => t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(FilterCompiler.compile(Group.and(
          PhraseInTokens(FieldRef("toks"), Seq("spark", "join"), negate = true),
          Cmp(FieldRef("lang"), CmpOp.Equal, "en"))))
        .select(col("doc_id")),
      Some("SELECT doc_id FROM documents WHERE NOT (' ' || text || ' ' LIKE '% spark join %') AND lang = 'en'")),

    Q("q_haskey", // HAS_KEY on a word map (filter_native.go:346-361): the map
      // is an O(tokens) distinct-token set, not the O(distinct × tokens)
      // positions index — containment needs no positions
      (s, d) => {
        val uniq = array_distinct(split(col("text"), " "))
        t(s, d, "documents")
          .withColumn("word_set", map_from_arrays(uniq, transform(uniq, _ => lit(1))))
          .filter(FilterCompiler.compile(HasKey(FieldRef("word_set"), "vector")))
          .select(col("doc_id"))
      },
      Some("SELECT doc_id FROM documents WHERE list_contains(string_split(text,' '), 'vector')")),

    Q("q_slice_contains_substring", // case-INsensitive over array (proto:2042)
      (s, d) => t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(FilterCompiler.compile(
          SliceContainsSubstring(FieldRef("toks"), "ATA"))) // mixed case on purpose
        .select(col("doc_id")),
      Some("SELECT doc_id FROM documents WHERE len(list_filter(string_split(text,' '), x -> contains(lower(x), 'ata'))) > 0")))

  private val nestedQueries = Seq(
    Q("q_nested_any", // ANY quantifier (proto:2603-2645)
      (s, d) => nestedOrders(s, d)
        .filter(FilterCompiler.compile(NestedSliceWhere(FieldRef("items"),
          Quantifier.Any, Cmp(FieldRef("l_quantity"), CmpOp.GreaterThanOrEqual, 49.0))))
        .select(col("l_orderkey")),
      Some("SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING bool_or(l_quantity >= 49.0)")),

    Q("q_nested_all",
      (s, d) => nestedOrders(s, d)
        .filter(FilterCompiler.compile(NestedSliceWhere(FieldRef("items"),
          Quantifier.All, Cmp(FieldRef("l_quantity"), CmpOp.GreaterThan, 5.0))))
        .select(col("l_orderkey")),
      Some("SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING bool_and(l_quantity > 5.0)")),

    Q("q_nested_none",
      (s, d) => nestedOrders(s, d)
        .filter(FilterCompiler.compile(NestedSliceWhere(FieldRef("items"),
          Quantifier.None, Cmp(FieldRef("l_returnflag"), CmpOp.Equal, "R"))))
        .select(col("l_orderkey")),
      Some("SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 0")),

    Q("q_nested_count", // COUNT(op, n) quantifier
      (s, d) => nestedOrders(s, d)
        .filter(FilterCompiler.compile(NestedSliceWhere(FieldRef("items"),
          Quantifier.Count(CmpOp.GreaterThanOrEqual, 3),
          Cmp(FieldRef("l_extendedprice"), CmpOp.GreaterThan, 30000.0))))
        .select(col("l_orderkey")),
      Some("SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(CASE WHEN l_extendedprice > 30000.0 THEN 1 ELSE 0 END) >= 3")),

    Q("q_nested_len", // `#len` pseudo-field (filter.go:323-390)
      (s, d) => nestedOrders(s, d)
        .filter(FilterCompiler.compile(
          Cmp(FieldRef.Len(FieldRef("items")), CmpOp.Equal, 7)))
        .select(col("l_orderkey")),
      Some("SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) = 7")))

  // ==========================================================================
  // §2.10 mutations as transforms
  // ==========================================================================

  private def custBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))

  private def custDelta(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    c.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 500).as("c_acctbal"), col("c_mktsegment"))
      .unionByName(c.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 100000).as("c_custkey"),
          lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
  }

  private val setSqlDelta =
    "(SELECT c_custkey, c_acctbal + 500 AS c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 10 = 0 UNION ALL SELECT c_custkey + 100000, 0.0, 'NEW' FROM customer WHERE c_custkey % 100 = 0)"

  private def setSql(takeDelta: String, keep: String): String =
    s"""SELECT coalesce(b.c_custkey, d.c_custkey) AS c_custkey,
        round(CASE WHEN $takeDelta THEN d.c_acctbal ELSE b.c_acctbal END, 2) AS bal,
        CASE WHEN $takeDelta THEN d.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment,
        CASE WHEN b.c_custkey IS NULL AND ($takeDelta) THEN 'NEW'
             WHEN b.c_custkey IS NOT NULL AND ($takeDelta) AND (b.c_acctbal IS DISTINCT FROM d.c_acctbal OR b.c_mktsegment IS DISTINCT FROM d.c_mktsegment) THEN 'UPDATED'
             ELSE 'NOTHING_CHANGED' END AS _status
        FROM (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer) b
        FULL OUTER JOIN $setSqlDelta d ON b.c_custkey = d.c_custkey
        WHERE $keep"""

  private def setOut(df: DataFrame): DataFrame =
    df.select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"),
      col("c_mktsegment"), col("_status"))

  /**
   * Per-width conditional-increment matrix — one query per typed RPC width
   * (reference: proto/hydraide.proto:1607-2149 IncrementInt8..IncrementFloat64).
   * Each fixture column is cast to the width's exact type and the oracle
   * casts identically, so `schema_match` proves the type survives the
   * read-modify-write (uint32 is carried as int64, the same convention as
   * uint64 => Decimal(20,0)).
   */
  private val incrementWidthQueries: Seq[Q] = {
    import org.apache.spark.sql.types._
    final case class W(name: String, mkV: Column, sqlV: String,
                       delta: Column, sqlDelta: String,
                       sqlType: Option[String] = None,
                       compareAsString: Boolean = false)
    // Unsigned widths follow the engine-wide widening convention (SURVEY
    // §1.2): u8 => SMALLINT, u16 => INTEGER, u32 => BIGINT, u64 =>
    // DECIMAL(20,0). The u64 fixture sits PAST Long.MaxValue so the query
    // proves the increment survives where an int64 carrier would overflow
    // (reference guards this at filter.go:410-415); DuckDB computes the
    // same values via HUGEINT intermediate arithmetic.
    val widths = Seq(
      W("i8", (col("c_custkey") % 50).cast(ByteType),
        "CAST(c_custkey % 50 AS TINYINT)", lit(5), "5"),
      W("i16", (col("c_custkey") % 1000).cast(ShortType),
        "CAST(c_custkey % 1000 AS SMALLINT)", lit(5), "5"),
      W("i32", (col("c_custkey") % 100000).cast(IntegerType),
        "CAST(c_custkey % 100000 AS INTEGER)", lit(5), "5"),
      W("i64", col("c_custkey").cast(LongType),
        "CAST(c_custkey AS BIGINT)", lit(5), "5"),
      W("u8", (lit(200) + col("c_custkey") % 55).cast(ShortType),
        "CAST(200 + c_custkey % 55 AS SMALLINT)", lit(5), "5"),
      W("u16", (lit(65000) + col("c_custkey") % 500).cast(IntegerType),
        "CAST(65000 + c_custkey % 500 AS INTEGER)", lit(5), "5"),
      W("u32", (lit(3000000000L) + col("c_custkey")).cast(LongType),
        "CAST(3000000000 + c_custkey AS BIGINT)", lit(5), "5"),
      W("u64",
        (lit(new java.math.BigDecimal("9223372036854775807")) + col("c_custkey"))
          .cast(DecimalType(20, 0)),
        "CAST(9223372036854775807::HUGEINT + c_custkey AS DECIMAL(20,0))",
        // Values past 2^63 overflow the compare harness's float64 fetch path
        // (2^53 exact-integer ceiling), so the emitted column is the decimal's
        // TEXTUAL form on both sides — representation-proof, still proves the
        // increment ran on Decimal(20,0) (a long carrier would have overflowed).
        lit(5), "5", sqlType = Some("DECIMAL(20,0)"), compareAsString = true),
      W("f32", col("c_acctbal").cast(FloatType),
        "CAST(c_acctbal AS REAL)", lit(0.25), "0.25::DOUBLE"),
      W("f64", col("c_acctbal").cast(DoubleType),
        "CAST(c_acctbal AS DOUBLE)", lit(0.25), "0.25::DOUBLE"))
    widths.map { w =>
      val vOut = if (w.compareAsString) col("v").cast("string").as("v") else col("v")
      val sqlCase = s"""CASE WHEN c_custkey % 3 = 0
                 THEN CAST(${w.sqlV} + ${w.sqlDelta} AS ${w.sqlType.getOrElse(sqlTypeOf(w.sqlV))})
                 ELSE ${w.sqlV} END"""
      val sqlOut = if (w.compareAsString) s"CAST($sqlCase AS VARCHAR)" else sqlCase
      Q(s"q_increment_${w.name}",
        (s, d) => Mutations.incrementWhere(
            t(s, d, "customer").select(col("c_custkey"), w.mkV.as("v")),
            "v", w.delta, col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), vOut, col("_applied")),
        Some(s"""SELECT c_custkey,
            $sqlOut AS v,
            c_custkey % 3 = 0 AS _applied FROM customer"""))
    }
  }

  /** Extract the target type name from a `CAST(... AS T)` fixture string. */
  private def sqlTypeOf(castExpr: String): String =
    castExpr.reverse.dropWhile(_ == ')').reverse.split(" AS ").last

  private val mutationQueries = Seq(
    Q("q_set_upsert", // Set matrix: CreateIfNotExist+Overwrite (proto:874-1040)
      (s, d) => setOut(Mutations.set(custBase(s, d), custDelta(s, d), "c_custkey")),
      Some(setSql("d.c_custkey IS NOT NULL", "TRUE"))),

    Q("q_set_insert_only",
      (s, d) => setOut(Mutations.set(custBase(s, d), custDelta(s, d), "c_custkey",
        Mutations.InsertOnly)),
      Some(setSql("d.c_custkey IS NOT NULL AND b.c_custkey IS NULL", "TRUE"))),

    Q("q_set_update_only",
      (s, d) => setOut(Mutations.set(custBase(s, d), custDelta(s, d), "c_custkey",
        Mutations.UpdateOnly)),
      Some(setSql("d.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL",
        "b.c_custkey IS NOT NULL"))),

    Q("q_set_dryrun", // the (CreateIfNotExist=false, Overwrite=false) cell:
      // data identical to base, _status still populated (proto:1028-1040)
      (s, d) => setOut(Mutations.set(custBase(s, d), custDelta(s, d), "c_custkey",
        Mutations.DryRun)),
      Some(setSql("FALSE", "b.c_custkey IS NOT NULL"))),

    Q("q_set_statuses", // per-delta-key status view incl. NOT_FOUND
      (s, d) => Mutations.setStatuses(custBase(s, d), custDelta(s, d), "c_custkey",
        Mutations.UpdateOnly),
      Some(s"""SELECT d.c_custkey AS c_custkey,
          CASE WHEN b.c_custkey IS NULL THEN 'NOT_FOUND'
               WHEN b.c_acctbal IS DISTINCT FROM d.c_acctbal
                 OR b.c_mktsegment IS DISTINCT FROM d.c_mktsegment THEN 'UPDATED'
               ELSE 'NOTHING_CHANGED' END AS _status
          FROM $setSqlDelta d
          LEFT JOIN (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer) b
          ON b.c_custkey = d.c_custkey""")),

    Q("q_delete_statuses", // DELETED / NOT_FOUND per requested key
      (s, d) => Mutations.deleteStatuses(t(s, d, "customer"),
        t(s, d, "customer").filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 50).as("c_custkey")),
        "c_custkey"),
      Some("""SELECT k AS c_custkey,
          CASE WHEN k IN (SELECT c_custkey FROM customer) THEN 'DELETED'
               ELSE 'NOT_FOUND' END AS _status
          FROM (SELECT DISTINCT c_custkey + 50 AS k FROM customer WHERE c_custkey % 100 = 0)""")),

    Q("q_salted_sum", // hot-key-safe two-stage aggregation == plain GROUP BY
      (s, d) => SkewAgg.saltedSum(
          t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity")),
          "l_returnflag", Seq("l_quantity"))
        .select(col("l_returnflag"), round(col("l_quantity"), 2).as("qty")),
      Some("SELECT l_returnflag, round(sum(l_quantity), 2) AS qty FROM lineitem GROUP BY l_returnflag")),

    Q("q_increment_cond", // conditional increment (proto:1607-2149)
      (s, d) => Mutations.incrementWhere(custBase(s, d), "c_acctbal",
          lit(100.0), col("c_acctbal") < 1000.0)
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"), col("_applied")),
      Some("SELECT c_custkey, round(CASE WHEN c_acctbal < 1000.0 THEN c_acctbal + 100.0 ELSE c_acctbal END, 2) AS bal, c_acctbal < 1000.0 AS _applied FROM customer")),

    Q("q_slice_ops", // Uint32Slice push/delete/size (proto:2150-2231)
      (s, d) => t(s, d, "lineitem").filter(col("l_linenumber") === 1)
        .groupBy(col("l_suppkey"))
        .agg(collect_set(col("l_partkey")).as("ids"))
        .select(col("l_suppkey"),
          array_join(Mutations.sliceDelete(
            Mutations.slicePush(col("ids"), Seq(1L, 2L, 3L)), Seq(5L, 7L)), ",").as("ids_str"),
          Mutations.sliceSize(Mutations.sliceDelete(
            Mutations.slicePush(col("ids"), Seq(1L, 2L, 3L)), Seq(5L, 7L))).as("n")),
      Some("SELECT l_suppkey, array_to_string(list_sort(list_filter(list_distinct(list(DISTINCT l_partkey) || [1,2,3]), x -> x NOT IN (5,7))), ',') AS ids_str, len(list_sort(list_filter(list_distinct(list(DISTINCT l_partkey) || [1,2,3]), x -> x NOT IN (5,7)))) AS n FROM lineitem WHERE l_linenumber = 1 GROUP BY l_suppkey")),

    Q("q_delete_keys",
      (s, d) => Mutations.deleteKeys(t(s, d, "customer"),
        t(s, d, "customer").filter(col("c_custkey") % 7 === 0).select(col("c_custkey")),
        "c_custkey"),
      Some("SELECT * FROM customer WHERE c_custkey % 7 <> 0")),

    Q("q_patch_struct", // structural patch + condition gate (proto:2988-3255)
      (s, d) => {
        val base = t(s, d, "orders").withColumn("body", struct(
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"),
          array(col("o_orderpriority")).as("tags")))
        Patch.applyPatch(base, "body",
            Seq(Patch.SetField("status", lit("PATCHED")),
              Patch.IncField("price", lit(10.0)),
              Patch.Append("tags", array(lit("x")))),
            condition = col("o_totalprice") > 200000.0)
          .select(col("o_orderkey"), col("body.status").as("status"),
            round(col("body.price"), 2).as("price"),
            array_join(col("body.tags"), ",").as("tags"))
      },
      Some("SELECT o_orderkey, CASE WHEN o_totalprice > 200000.0 THEN 'PATCHED' ELSE o_orderstatus END AS status, round(CASE WHEN o_totalprice > 200000.0 THEN o_totalprice + 10.0 ELSE o_totalprice END, 2) AS price, CASE WHEN o_totalprice > 200000.0 THEN o_orderpriority || ',x' ELSE o_orderpriority END AS tags FROM orders")),

    Q("q_shift_expired", // atomic claim of oldest-expired (proto:1109-1151)
      (s, d) => Shift.shiftExpired(t(s, d, "events"), "ts", "event_id",
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 200)
        .claimed.select(col("event_id"), col("ts"), col("event_type")),
      Some("SELECT event_id, ts, event_type FROM events WHERE ts < TIMESTAMP '2024-01-05 00:00:00' ORDER BY ts ASC, event_id ASC LIMIT 200")),

    Q("q_shift_remaining", // the survivor side of the same snapshot
      (s, d) => Shift.shiftExpired(t(s, d, "events"), "ts", "event_id",
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 200)
        .remaining.agg(count(lit(1)).as("cnt")),
      Some("SELECT (SELECT count(*) FROM events) - least(200, (SELECT count(*) FROM events WHERE ts < TIMESTAMP '2024-01-05 00:00:00')) AS cnt")),

    Q("q_shift_matching", // parametric shift (proto:1174-1263)
      (s, d) => Shift.shiftMatching(t(s, d, "events"),
          Cmp(FieldRef("event_type"), CmpOp.Equal, "error"),
          orderCol = "value", ascending = false, keyCol = "event_id", howMany = 50)
        .claimed.select(col("event_id"), round(col("value"), 2).as("v")),
      Some("SELECT event_id, round(value, 2) AS v FROM events WHERE event_type = 'error' ORDER BY value DESC, event_id ASC LIMIT 50")),

    Q("q_cap_gate", // Cap quota + CapReached flag (proto:1152-1173)
      (s, d) => Shift.capGate(
          t(s, d, "events").filter(col("event_type") === "purchase"),
          col("value") > 90.0, maxMatching = 50)
        .select(col("event_id"), col("_cap_reached")),
      Some("SELECT event_id, (SELECT count(*) FROM events WHERE event_type = 'purchase' AND value > 90.0) > 50 AS _cap_reached FROM events WHERE event_type = 'purchase'")),

    Q("q_asof_join", // temporal as-of lookup: each purchase sees the
      // latest signup-state at-or-before its timestamp. Spark side = the
      // scalable union-window formulation (one key shuffle, no row
      // explosion); oracle side = DuckDB's native ASOF LEFT JOIN — a
      // genuinely different algorithm, so agreement is strong evidence
      (s, d) => {
        val ev = t(s, d, "events")
        val dim = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("signup_score"))
        val fact = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        AsofJoin.asofJoin(fact, dim, Seq("user_id"), "ts", "ts")
          .select(col("event_id"), col("user_id"),
            round(col("value"), 2).as("purchase_v"),
            round(col("signup_score"), 2).as("last_signup_score"))
      },
      Some("""WITH dim AS (SELECT user_id, ts, max(value) AS signup_score
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
          p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
          SELECT p.event_id, p.user_id, round(p.value, 2) AS purchase_v,
                 round(dim.signup_score, 2) AS last_signup_score
          FROM p ASOF LEFT JOIN dim ON p.user_id = dim.user_id AND p.ts >= dim.ts""")),

    Q("q_asof_forward", // forward as-of: each purchase sees the NEXT
      // signup-state at-or-after its timestamp (label lookahead /
      // next-fix attribution). Same union-window kernel walked in
      // reverse time order; oracle = DuckDB's native forward ASOF
      (s, d) => {
        val ev = t(s, d, "events")
        val dim = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("signup_score"))
        val fact = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        AsofJoin.asofJoin(fact, dim, Seq("user_id"), "ts", "ts", forward = true)
          .select(col("event_id"), col("user_id"),
            round(col("value"), 2).as("purchase_v"),
            round(col("signup_score"), 2).as("next_signup_score"))
      },
      Some("""WITH dim AS (SELECT user_id, ts, max(value) AS signup_score
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
          p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
          SELECT p.event_id, p.user_id, round(p.value, 2) AS purchase_v,
                 round(dim.signup_score, 2) AS next_signup_score
          FROM p ASOF LEFT JOIN dim ON p.user_id = dim.user_id AND p.ts <= dim.ts""")),

    Q("q_range_join", // point-in-interval join, binned to an equi-join:
      // each user's first 2 hours define a window; count the events that
      // land inside ANY window. The naive inequality join is a nested
      // loop (O(points x intervals)); RangeJoin bins both sides and
      // hash-joins on the bin, exact-filtering same-bin candidates —
      // the oracle runs the inequality join natively (DuckDB IEJoin), a
      // genuinely different algorithm, so agreement is strong evidence.
      (s, d) => {
        val ev = t(s, d, "events")
        val iv = ev.groupBy(col("user_id").as("iv_user"))
          .agg(min(col("ts")).as("iv_start"))
          .withColumn("iv_end", col("iv_start") + expr("INTERVAL 2 HOURS"))
        RangeJoin.pointInInterval(
            ev.select(col("event_id"), col("ts")), iv,
            "ts", "iv_start", "iv_end", binWidth = "2 hours")
          .groupBy(col("iv_user")).agg(count(lit(1)).as("n_in_window"))
      },
      Some("""WITH iv AS (SELECT user_id AS iv_user, min(ts) AS s,
            min(ts) + INTERVAL 2 HOUR AS e FROM events GROUP BY 1)
          SELECT iv_user, count(*) AS n_in_window
          FROM iv JOIN events ON ts >= s AND ts < e GROUP BY 1""")),

    Q("q_interval_overlap", // interval x interval overlap join, same binned
      // kernel: per-user first-2h windows vs per-event-type first-3h
      // windows; a pair sharing several bins dedups via the first-shared-
      // bin rule (no distinct shuffle). Oracle = native inequality join.
      (s, d) => {
        val ev = t(s, d, "events")
        val userWin = ev.groupBy(col("user_id").as("u_id"))
          .agg(min(col("ts")).as("u_start"))
          .withColumn("u_end", col("u_start") + expr("INTERVAL 2 HOURS"))
        val typeWin = ev.groupBy(col("event_type").as("t_type"))
          .agg(min(col("ts")).as("t_start"))
          .withColumn("t_end", col("t_start") + expr("INTERVAL 3 HOURS"))
        RangeJoin.intervalOverlap(userWin, typeWin,
            "u_start", "u_end", "t_start", "t_end", binWidth = "2 hours")
          .select(col("u_id"), col("t_type"))
      },
      Some("""WITH u AS (SELECT user_id AS u_id, min(ts) AS us,
            min(ts) + INTERVAL 2 HOUR AS ue FROM events GROUP BY 1),
          tt AS (SELECT event_type AS t_type, min(ts) AS tts,
            min(ts) + INTERVAL 3 HOUR AS te FROM events GROUP BY 1)
          SELECT u_id, t_type FROM u JOIN tt ON us < te AND tts < ue""")),

    Q("q_cdc_diff", // SubscribeToEvents event algebra (proto:755-801)
      (s, d) => {
        val o = t(s, d, "orders")
        val oldSnap = o.filter(col("o_orderkey") % 5 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val newSnap = o.filter(col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000)
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        graft.streaming.ChangeFeed.diff(oldSnap, newSnap, "o_orderkey")
          .select(col("o_orderkey"), col("_status"),
            round(col("o_totalprice"), 2).as("price_new"),
            round(col("old_o_totalprice"), 2).as("price_old"))
      },
      Some("""SELECT * FROM (
        SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
          CASE WHEN o.o_orderkey IS NULL THEN 'NEW' WHEN n.o_orderkey IS NULL THEN 'DELETED'
               WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'MODIFIED' END AS _status,
          round(n.o_totalprice, 2) AS price_new, round(o.o_totalprice, 2) AS price_old
        FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0) o
        FULL OUTER JOIN (SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey % 7 <> 0) n
        ON o.o_orderkey = n.o_orderkey) WHERE _status IS NOT NULL""")))

  // ==========================================================================
  // event-time windows (§2.9 — new capability vs reference's [from,to) scans)
  // ==========================================================================

  private val timeQueries = Seq(
    Q("q_tumbling_window",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("val")),
      Some("SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, count(*) AS n, round(sum(value), 2) AS val FROM events GROUP BY 1, 2")),

    Q("q_sliding_window",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("n")),
      Some("SELECT ws AS window_start, count(*) AS n FROM (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws FROM events UNION ALL SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' FROM events) GROUP BY ws")),

    Q("q_session_window", // gap-based sessionization
      (s, d) => t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("session_start"), col("user_id"), col("n")),
      Some("""WITH t AS (SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL '30 minutes'
               THEN 1 ELSE 0 END AS brk FROM events),
        s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM t)
        SELECT min(ts) AS session_start, user_id, count(*) AS n FROM s GROUP BY user_id, sid""")))

  // ==========================================================================
  // training-data pipeline: dedup / text analysis / fingerprints
  // ==========================================================================

  private def sqlHash32(e: String) = s"(('0x' || substr(md5($e), 1, 8))::BIGINT)"

  /** Oracle-side mirror of Dedup.segmentsOf: the shared CTE prefix that
    * derives non-overlapping `segTokens`-token segments per document. */
  private def sqlSegCte(segTokens: Int): String = {
    val n = segTokens
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        idx AS (SELECT doc_id, ts, unnest(range(CAST(ceil(len(ts) / $n.0) AS BIGINT))) AS i FROM toks),
        segs AS (SELECT doc_id, i AS seg_idx, array_to_string(ts[(i * $n + 1):(i * $n + $n)], ' ') AS seg FROM idx)"""
  }

  /** Oracle mirror of Importance.bucketArray's feature list: word unigrams
    * ++ word bigrams. DuckDB's range(1, n) is empty for n <= 1, so the
    * 1-token case needs no guard (matches TF.wordBigrams' size<2 branch). */
  private val sqlDsirFeats =
    """list_concat(string_split(text, ' '),
       list_transform(range(1, len(string_split(text, ' '))),
         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))"""

  /** Shared CTE prefix for the DSIR oracles: per-(doc, bucket-occurrence)
    * stream, target/raw bucket models, integer-scaled log ratios, per-doc
    * weights. Target = docs < `targetMax`; raw = the whole corpus (so every
    * scored bucket exists in rc and a LEFT JOIN suffices). */
  private def sqlDsirWeightsCte(buckets: Int, targetMax: Int): String =
    s"""WITH b AS (SELECT doc_id,
             unnest(list_transform($sqlDsirFeats, f -> ${sqlHash32("f")} % $buckets)) AS bucket
           FROM documents),
         tc AS (SELECT bucket, count(*) AS c FROM b WHERE doc_id < $targetMax GROUP BY bucket),
         rc AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
         tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM tc),
         rt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS r FROM rc),
         lr AS (SELECT rc.bucket AS bucket,
             CAST(round((ln((coalesce(tc.c, 0) + 1.0) / (tt.t + $buckets)) -
                         ln((rc.c + 1.0) / (rt.r + $buckets))) * 1e6) AS BIGINT) AS lr
           FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket, tt, rt),
         sc AS (SELECT doc_id, CAST(sum(lr) AS BIGINT) AS s
           FROM b JOIN lr USING (bucket) GROUP BY doc_id)"""

  /** Shared CTE prefix for the hashed-NB oracles: train split, per-slot
    * class counts, integer-scaled log-likelihood ratios, OOV floor, prior
    * bias. Train = doc_id % 5 <> 0; label = (lang = 'en'). */
  private def sqlNbCte(buckets: Int): String =
    s"""WITH tr AS (SELECT doc_id, (lang = 'en') AS y, text FROM documents WHERE doc_id % 5 <> 0),
         trtok AS (SELECT y, ${sqlHash32("tok")} % $buckets AS bucket
           FROM (SELECT y, unnest(string_split(text, ' ')) AS tok FROM tr)),
         cnt AS (SELECT bucket,
             count(*) FILTER (WHERE y) AS p, count(*) FILTER (WHERE NOT y) AS n
           FROM trtok GROUP BY bucket),
         tot AS (SELECT CAST(coalesce(sum(p), 0) AS BIGINT) AS pt,
                        CAST(coalesce(sum(n), 0) AS BIGINT) AS nt FROM cnt),
         llr AS (SELECT bucket,
             CAST(round((ln((p + 1.0) / (tot.pt + $buckets)) -
                         ln((n + 1.0) / (tot.nt + $buckets))) * 1e6) AS BIGINT) AS llr
           FROM cnt, tot),
         consts AS (SELECT
             CAST(round(ln((count(*) FILTER (WHERE y) + 1.0) /
                           (count(*) FILTER (WHERE NOT y) + 1.0)) * 1e6) AS BIGINT) AS bias
           FROM tr),
         flo AS (SELECT CAST(round((ln(1.0 / (tot.pt + $buckets)) -
                                    ln(1.0 / (tot.nt + $buckets))) * 1e6) AS BIGINT) AS f
           FROM tot)"""

  private val sqlShingles3 = // mirrors TextFunctions.shingles(text, 3)
    "CASE WHEN len(string_split(text,' ')) >= 3 THEN list_transform(range(1, len(string_split(text,' ')) - 1), i -> array_to_string(string_split(text,' ')[i:i+2], ' ')) ELSE [array_to_string(string_split(text,' '), ' ')] END"

  /** Containment oracle — shared by q_containment and its prebuilt form
    * (identical results by construction, like the LSH pair). */
  private lazy val sqlContainment =
    s"""WITH sh AS (SELECT DISTINCT doc_id,
          unnest(list_transform($sqlShingles3, x -> ${sqlHash32("x")})) AS s FROM documents),
        dfc AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
        f AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s) WHERE c <= 20),
        sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
        p AS (SELECT a.doc_id AS key_a, b.doc_id AS key_b, count(*) AS shared
              FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT key_a, key_b,
          round(shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
        FROM p JOIN sizes sa ON p.key_a = sa.doc_id
               JOIN sizes sb ON p.key_b = sb.doc_id
        WHERE round(shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6) >= 0.5"""

  private def sqlLangHits(ws: Seq[String]) =
    s"len(list_filter(string_split(text,' '), t -> t IN (${ws.map("'" + _ + "'").mkString(",")})))"

  private def sqlLangIdFrom(src: String): String = {
    val hits = TF.LangMarkers.map { case (l, ws) => s"${sqlLangHits(ws)} AS h_$l" }
    val best = s"greatest(${TF.LangMarkers.map("h_" + _._1).mkString(",")})"
    val cases = TF.LangMarkers.map { case (l, _) => s"WHEN h_$l = $best THEN '$l'" }
    s"""SELECT doc_id, CASE WHEN $best = 0 THEN 'und' ${cases.mkString(" ")} ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, ${hits.mkString(", ")} FROM $src)"""
  }
  private val sqlLangId: String = sqlLangIdFrom("documents")

  private def sqlQualityFrom(src: String): String = {
    val stop = TF.Stopwords.map("'" + _ + "'").mkString(",")
    s"""SELECT doc_id, round(ls * 0.4 + ss * 0.3 + pp * 0.3, 6) AS quality FROM (
        SELECT doc_id,
          least(len(string_split(text,' ')) / 50.0, 1.0) AS ls,
          least((len(list_filter(string_split(text,' '), t -> t IN ($stop)))::DOUBLE / greatest(len(string_split(text,' ')), 1)::DOUBLE) * 5.0, 1.0) AS ss,
          greatest(1.0 - ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / greatest(length(text), 1)::DOUBLE) * 5.0, 0.0) AS pp
        FROM $src)"""
  }
  private val sqlQuality: String = sqlQualityFrom("documents")

  private val sqlSimhash: String = {
    val terms = (0 until 32).map { b =>
      s"(CASE WHEN len(list_filter(hs, h -> (h >> $b) % 2 = 1)) * 2 >= len(hs) THEN ${1L << b} ELSE 0 END)"
    }
    s"""SELECT doc_id, (${terms.mkString(" + ")}) AS simhash FROM
        (SELECT doc_id, list_transform(string_split(text,' '), t -> ${sqlHash32("t")}) AS hs FROM documents)"""
  }

  private val sqlMinhashSig: String = {
    val sig = TF.minhashParams(8).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${TF.MinhashPrime}))"
    }
    s"""SELECT doc_id, array_to_string([${sig.mkString(", ")}], ',') AS sig FROM
        (SELECT doc_id, list_transform($sqlShingles3, x -> ${sqlHash32("x")}) AS hs FROM documents)"""
  }

  /**
   * DuckDB mirror of Dedup.minhashLsh: persisted-signature LSH banding for
   * candidates + exact Jaccard verify on candidate pairs only. Every
   * primitive is bit-identical across engines (md5-derived 32-bit hashes,
   * overflow-safe permutation params, integer band slices), which is what
   * lets a probabilistic-candidate pipeline be oracle-checked exactly.
   */
  private def sqlLshNearDup(numHashes: Int, bands: Int, threshold: Double): String = {
    val r = numHashes / bands
    val sigTerms = TF.minhashParams(numHashes).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${TF.MinhashPrime}))"
    }
    val bandIdx = (0 until bands).mkString(", ")
    val bandTerms = (0 until bands).map(bd =>
      s"md5(array_to_string(sig[${bd * r + 1}:${bd * r + r}], ','))")
    // the verify runs over HASHED shingle sets, mirroring the engine's
    // signature table exactly (Dedup.signaturePlan stores hash32 ints):
    // both engines hash identically, so the jaccard values — collisions
    // included — are bit-identical by construction
    s"""WITH sh AS (SELECT doc_id, list_distinct($sqlShingles3) AS s FROM documents),
        hset AS (SELECT doc_id,
                 list_distinct(list_transform(s, x -> ${sqlHash32("x")})) AS h FROM sh),
        sg AS (SELECT doc_id, [${sigTerms.mkString(", ")}] AS sig
               FROM (SELECT doc_id, h AS hs FROM hset)),
        banded AS (SELECT doc_id, unnest([$bandIdx]) AS band,
                   unnest([${bandTerms.mkString(", ")}]) AS bh FROM sg),
        cand AS (SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
                 FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        scored AS (SELECT key_a, key_b,
            CASE WHEN len(list_distinct(sa.h || sb.h)) = 0 THEN 0.0
                 ELSE len(list_intersect(sa.h, sb.h))::DOUBLE / len(list_distinct(sa.h || sb.h))::DOUBLE
            END AS j
          FROM cand
          JOIN hset sa ON cand.key_a = sa.doc_id
          JOIN hset sb ON cand.key_b = sb.doc_id)
        SELECT key_a, key_b, round(j, 6) AS jaccard FROM scored WHERE j >= $threshold"""
  }

  /** DuckDB mirror of Dedup.simhashPairs: 4×8-bit table-split banding,
    * Hamming via bit_count(xor). */
  private val sqlSimhashPairs: String = {
    val bandTerms = (0 until 4).map(tb => s"(simhash >> ${tb * 8}) % 256")
    s"""WITH sg AS ($sqlSimhash),
        banded AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS t,
                   unnest([${bandTerms.mkString(", ")}]) AS band FROM sg),
        cand AS (SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b,
                 bit_count(xor(a.simhash, b.simhash))::INT AS hamming
                 FROM banded a JOIN banded b
                 ON a.t = b.t AND a.band = b.band AND a.doc_id < b.doc_id)
        SELECT key_a, key_b, hamming FROM cand WHERE hamming <= 2"""
  }

  /** A float[] constant as a DuckDB DOUBLE[] literal — Double.toString is
    * shortest-round-trip, and DuckDB's parser is correctly rounding, so the
    * parsed doubles are bit-identical to the Scala-side promotion. */
  private def sqlVec(v: Array[Float]): String =
    "[" + v.map(_.toDouble.toString).mkString(",") + "]::DOUBLE[]"

  /**
   * DuckDB mirror of Dedup.embeddingNearDup: the multi-probe candidate set
   * is by construction "bucket Hamming distance <= 1", which the oracle can
   * state directly as an all-pairs predicate (fine at oracle scale; the
   * Spark side is the scalable formulation). Seeded hyperplanes are embedded
   * as constants, same trick as sqlLshNearDup.
   */
  /** The seeded hyperplane bucket id as a DuckDB expression over a column
    * named `embedding` — ONE source for every embedding-LSH oracle. */
  private lazy val sqlBucketExpr: String =
    Dedup.hyperplanes(8, 64, 42L).zipWithIndex.map { case (h, p) =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${sqlVec(h)}) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** CTE bodies (`b`, `p`) for the hyperplane-LSH embedding pair kernel —
    * shared by the flat pair oracle and the recursive semantic-dedup
    * oracle so the seeded constants cannot drift apart. */
  private lazy val sqlEmbeddingPairCtes: String = {
    val bkt = sqlBucketExpr
    s"""b AS (SELECT vec_id, embedding, ($bkt) AS bkt FROM embeddings),
        p AS (SELECT a.vec_id AS key_a, b2.vec_id AS key_b,
              round(list_dot_product(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]), 6) AS cosine
              FROM b a JOIN b b2 ON a.vec_id < b2.vec_id
              AND bit_count(xor(a.bkt, b2.bkt)) <= 1)"""
  }

  private lazy val sqlEmbeddingNearDup: String =
    s"""WITH $sqlEmbeddingPairCtes
        SELECT key_a, key_b, cosine FROM p WHERE cosine >= 0.3"""

  /** Shared centroid-constant scaffolding for the IVF oracles — ONE
    * source for the seeded constants, score columns, argmax assignment
    * (ties => larger index, matching Spark's struct-max), and the VALUES
    * list, so the single-query and batch mirrors cannot drift apart. */
  private lazy val ivfSqlParts: (String, String, String, String) = {
    val nlist = 16
    val cents = Similarity.ivfCentroids(nlist, 64, 7L)
    val sCols = cents.zipWithIndex.map { case (c, i) =>
      s"list_dot_product(embedding::DOUBLE[], ${sqlVec(c)}) AS s$i" }.mkString(", ")
    val best = s"greatest(${(0 until nlist).map("s" + _).mkString(",")})"
    val lstCase = (nlist - 1 to 0 by -1).map(i => s"WHEN s$i = $best THEN $i").mkString(" ")
    val centVals = cents.zipWithIndex.map { case (c, i) => s"($i, ${sqlVec(c)})" }.mkString(", ")
    (sCols, best, lstCase, centVals)
  }

  /** DuckDB mirror of Similarity.ivfTopK: seeded centroids as constants;
    * per-row argmax assignment and the probed-list ranking both in double
    * precision. */
  private lazy val sqlIvfTopK: String = {
    val nprobe = 4; val k = 10
    val (sCols, _, lstCase, centVals) = ivfSqlParts
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        cent(i, c) AS (SELECT * FROM (VALUES $centVals)),
        probed AS (SELECT i FROM cent, q ORDER BY list_dot_product(c, qv) DESC, i ASC LIMIT $nprobe),
        scored AS (SELECT vec_id, (CASE $lstCase END) AS lst,
                          list_dot_product(embedding::DOUBLE[], qv) AS score
                   FROM (SELECT vec_id, embedding, $sCols
                         FROM embeddings WHERE len(embedding) = 64), q)
        SELECT vec_id, round(score, 6) AS score FROM scored
        WHERE lst IN (SELECT i FROM probed)
        ORDER BY score DESC, vec_id ASC LIMIT $k"""
  }

  /** [[sqlIvfTopK]] with the metadata predicate inside the scored scan
    * (filtering before assignment == after: the list id is per-row) and
    * nprobe widened to 8 — the filtered-ANN oracle. */
  private lazy val sqlIvfFiltered: String = {
    val nprobe = 8; val k = 10
    val (sCols, _, lstCase, centVals) = ivfSqlParts
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        cent(i, c) AS (SELECT * FROM (VALUES $centVals)),
        probed AS (SELECT i FROM cent, q ORDER BY list_dot_product(c, qv) DESC, i ASC LIMIT $nprobe),
        scored AS (SELECT vec_id, (CASE $lstCase END) AS lst,
                          list_dot_product(embedding::DOUBLE[], qv) AS score
                   FROM (SELECT vec_id, embedding, $sCols
                         FROM embeddings WHERE len(embedding) = 64 AND label = 3), q)
        SELECT vec_id, round(score, 6) AS score FROM scored
        WHERE lst IN (SELECT i FROM probed)
        ORDER BY score DESC, vec_id ASC LIMIT $k"""
  }

  /** [[sqlIvfTopK]] with a per-list result cap (rank within each probed
    * list, keep <= 3, then the global top-k) — the cluster-diverse
    * oracle. Rank on the unrounded score, round at output: the
    * [[sqlIvfTopK]] discipline. */
  private lazy val sqlIvfDiverse: String = {
    val nprobe = 4; val k = 10; val perList = 3
    val (sCols, _, lstCase, centVals) = ivfSqlParts
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        cent(i, c) AS (SELECT * FROM (VALUES $centVals)),
        probed AS (SELECT i FROM cent, q ORDER BY list_dot_product(c, qv) DESC, i ASC LIMIT $nprobe),
        scored AS (SELECT vec_id, (CASE $lstCase END) AS lst,
                          list_dot_product(embedding::DOUBLE[], qv) AS score
                   FROM (SELECT vec_id, embedding, $sCols
                         FROM embeddings WHERE len(embedding) = 64), q),
        capped AS (SELECT vec_id, lst, score,
                     row_number() OVER (PARTITION BY lst ORDER BY score DESC, vec_id ASC) AS rn
                   FROM scored WHERE lst IN (SELECT i FROM probed))
        SELECT vec_id, lst AS cluster, round(score, 6) AS score
        FROM capped WHERE rn <= $perList
        ORDER BY score DESC, vec_id ASC LIMIT $k"""
  }

  /** DuckDB mirror of Similarity.mmrRerank(k = 5, lambda = 0.7) over the
    * brute-force top-20: the greedy loop as a GENERATED CTE chain — step
    * i scores every unpicked candidate `λ·rel − (1−λ)·max round6 dot to
    * sel(i−1)` and picks the (mmr desc, key asc) winner. λ and (1−λ) are
    * interpolated from the SAME Scala doubles the operator multiplies
    * with, so both engines compute identical IEEE products. */
  private lazy val sqlMmrRerank: String = {
    val n = 20; val k = 5; val lam = 0.7; val oml = 1 - lam
    val sb = new StringBuilder(
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        cand AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   round(list_dot_product(embedding::DOUBLE[], qv), 6) AS rel
                 FROM embeddings, q WHERE len(embedding) = 64
                 ORDER BY rel DESC, vec_id ASC LIMIT $n),
        s1 AS (SELECT vec_id, v, rel, rel AS mmr, 1 AS rank FROM cand
               ORDER BY rel DESC, vec_id ASC LIMIT 1),
        sel1 AS (SELECT vec_id, v FROM s1)""")
    for (i <- 2 to k) sb.append(s""",
        c$i AS (SELECT c.vec_id, c.v, c.rel,
                  round($lam * c.rel - $oml * (SELECT max(round(list_dot_product(c.v, s.v), 6)) FROM sel${i - 1} s), 6) AS mmr
                FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
        s$i AS (SELECT vec_id, v, rel, mmr, $i AS rank FROM c$i
                ORDER BY mmr DESC, vec_id ASC LIMIT 1),
        sel$i AS (SELECT vec_id, v FROM sel${i - 1} UNION ALL SELECT vec_id, v FROM s$i)""")
    sb.append((1 to k)
      .map(i => s"SELECT vec_id, rel, mmr, rank FROM s$i")
      .mkString("\n        ", "\n        UNION ALL ", ""))
    sb.toString
  }

  /** DuckDB mirror of Bpe.train(merges = 4): the identical iterations as
    * a generated CTE chain — same `[a-z]+` word filter, same double-space
    * boundary encoding, same (cnt DESC, t1, t2) winner, same left-to-right
    * replace application. */
  private val bpeMerges = 4

  /** Shared train-chain CTEs (words → r0 → … → r<merges>) for the two BPE
    * oracles — one definition so train and encode cannot drift. */
  private lazy val sqlBpeCtes: String = {
    val merges = bpeMerges
    val head =
      """WITH words AS (
           SELECT w AS word, count(*) AS f
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
         r0 AS (
           SELECT word, f, substr(s, 1, length(s)-1) AS repr
           FROM (SELECT word, f, ' ' || regexp_replace(word, '(.)', '\1  ', 'g') AS s FROM words))"""
    val steps = (0 until merges).map { i =>
      s""",
         p$i AS (
           SELECT t1, t2, sum(f) AS cnt FROM (
             SELECT a.tok AS t1, b.tok AS t2, a.f FROM
               (SELECT word, f, unnest(string_split(trim(repr), '  ')) AS tok,
                       generate_subscripts(string_split(trim(repr), '  '), 1) AS i FROM r$i) a
               JOIN
               (SELECT word, unnest(string_split(trim(repr), '  ')) AS tok,
                       generate_subscripts(string_split(trim(repr), '  '), 1) AS i FROM r$i) b
               ON a.word = b.word AND b.i = a.i + 1)
           GROUP BY t1, t2),
         m$i AS (SELECT t1, t2 FROM p$i ORDER BY cnt DESC, t1, t2 LIMIT 1),
         r${i + 1} AS (
           -- LEFT JOIN, not a cross join: if the pair table ran dry
           -- (every word fully merged) an empty m$i would annihilate the
           -- whole working table; the engine side stops early instead,
           -- and a no-op pass here keeps the two in lockstep
           SELECT word, f,
                  CASE WHEN m.t1 IS NULL THEN repr
                       ELSE replace(repr, ' ' || m.t1 || '  ' || m.t2 || ' ',
                                          ' ' || m.t1 || m.t2 || ' ') END AS repr
           FROM r$i LEFT JOIN m$i m ON TRUE)"""
    }.mkString
    head + steps
  }

  private lazy val sqlBpeTrain: String =
    sqlBpeCtes +
      s"""
         SELECT tok AS token, CAST(sum(f) AS BIGINT) AS freq FROM (
           SELECT f, unnest(string_split(trim(repr), '  ')) AS tok FROM r$bpeMerges)
         GROUP BY tok"""

  /** DuckDB mirror of Bpe.applyMerges with the merges learned by the train
    * chain: r<merges>.repr IS the segmented word dictionary, so apply =
    * corpus explode + dictionary join + token explode (0-based positions
    * like posexplode). */
  private lazy val sqlBpeEncode: String =
    sqlBpeCtes +
      s""",
         tokd AS (
           SELECT d.doc_id, d.pos,
                  coalesce(string_split(trim(r.repr), '  '), [d.w]) AS toks
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                        generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
                 FROM documents) d
           LEFT JOIN r$bpeMerges r ON d.w = r.word)
         SELECT doc_id, pos, generate_subscripts(toks, 1) - 1 AS subpos,
                unnest(toks) AS token
         FROM tokd"""

  /** DuckDB mirror of Similarity.kmeansAssignments (k=8, iters=2): the
    * SAME exact-integer Lloyd — quantize to round(x·1e6) longs, seed with
    * the 8 smallest (md5(key), key) rows, score = int64-exact
    * dot(ivec, csum) cast to double over the member count, empty clusters
    * keep their previous state. Integer arithmetic is order-independent,
    * so the two engines cannot drift. */
  /** Shared substring-dedup CTE chain (k = 8): rolling 8-gram occurrence
    * list over the whole documents table, the >= 2 duplicated-gram set
    * (joined on gram STRINGS — equality-by-text vs the engine's
    * equality-by-xxhash64, so hash determinism is differentially
    * covered), and the per-doc covered-position aggregate. Consumed by
    * both q_substring_dedup and q_substring_incremental so the full and
    * incremental rules cannot drift. */
  private lazy val sqlSubstringCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       gi AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
              FROM t WHERE len(ts) >= 8),
       g AS (SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS gram FROM gi),
       dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       st AS (SELECT g.doc_id, g.i, unnest(generate_series(0, 7)) AS u
              FROM g JOIN dup USING (gram)),
       cov AS (SELECT DISTINCT doc_id, i + u AS j FROM st),
       ca AS (SELECT doc_id, count(*) AS n_removed, list_sort(list(j)) AS cv
              FROM cov GROUP BY doc_id)"""

  /** The kept-token rebuild expression shared by the two substring oracles
    * (1-based positions; empty survivor list coalesces to '' to match
    * Spark's concat_ws). */
  private val sqlSubstringCleanText: String =
    """coalesce(array_to_string(
         list_transform(
           list_filter(generate_series(1, len(ts)),
                       j -> NOT coalesce(list_contains(ca.cv, j), false)),
           j -> list_extract(ts, j)), ' '), '') AS clean_text"""

  /** DuckDB mirror of TermStats.bm25TopK over the fixture query terms —
    * also consumed (as a nested subquery) by the hybrid-RRF oracle so the
    * text side of the fusion cannot drift from q_bm25. */
  private lazy val sqlBm25: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
          dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
          stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                 WHERE term IN ('data','spark','index') GROUP BY doc_id, term),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          ts AS (SELECT tf.doc_id,
                   CAST(round(ln(1.0 + (n - df + 0.5)/(df + 0.5)) * (tf * 2.2) /
                     (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sdl AS DOUBLE)/n))) * 1e6) AS BIGINT) AS s
                 FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats)
          SELECT doc_id, round(CAST(sum(s) AS DOUBLE)/1e6, 6) AS bm25
          FROM ts GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20"""

  /** Shared PQ CTE chain (m=8, ksub=16, dim=64, scale=1e6): codebook
    * re-derived relationally (same (md5, key) draw as the kmeans seeds),
    * encode = argmin exact-int64 L2 per subspace with ties to the lower
    * code, per-row ADC score in int64 — ONE definition consumed by
    * sqlPqTopK, sqlPqIvfTopK AND the append oracle (codebook narrowed to
    * the build half via `cbWhere`) so flat, routed, and append-maintained
    * scoring cannot drift. */
  private def sqlPqCtesFrom(cbWhere: String): String =
    s"""scaled AS (
         SELECT vec_id, list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS iv
         FROM embeddings WHERE len(embedding) = 64),
       cbrows AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c, iv
         FROM scaled $cbWhere
         QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       cb AS (SELECT s, c, iv[s*8+1 : s*8+8] AS cv FROM cbrows, subs),
       rsub AS (SELECT vec_id, s, iv[s*8+1 : s*8+8] AS sv FROM scaled, subs),
       dist AS (
         SELECT r.vec_id, r.s, cb.c,
                list_sum(list_transform(list_zip(r.sv, cb.cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
         FROM rsub r JOIN cb ON cb.s = r.s),
       code AS (
         SELECT vec_id, s, c FROM (
           SELECT vec_id, s, c,
                  row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
           FROM dist)
         WHERE rn = 1),
       qi AS (
         SELECT list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
         FROM embeddings WHERE vec_id = 0),
       lut AS (
         SELECT cb.s, cb.c,
                list_sum(list_transform(list_zip(qv[cb.s*8+1 : cb.s*8+8], cb.cv),
                  p -> p[1]*p[2])) AS l
         FROM cb, qi),
       sc AS (
         SELECT code.vec_id, CAST(sum(l) AS DOUBLE) AS si
         FROM code JOIN lut USING (s, c) GROUP BY code.vec_id)"""

  /** The default PQ chain: codebook sampled from the WHOLE corpus. */
  private lazy val sqlPqCtes: String = sqlPqCtesFrom("")

  /** DuckDB mirror of the BATCH hybrid serving pipeline (q_hybrid_batch):
    * per-query BM25 (the sqlBm25 chain grouped by qid over a VALUES query
    * batch), per-query ADC (the shared PQ chain with per-qid LUTs derived
    * from vec_id < 3 — the same relational integer discipline), RRF-fused
    * per qid. Per-side k=20, fused k=10, k0=60 — every constant mirrors
    * the Spark side. */
  private lazy val sqlHybridBatch: String =
    s"""WITH ${sqlPqCtesFrom("")},
       qt(qid, term) AS (VALUES
         (CAST(0 AS BIGINT), 'data'), (0, 'spark'), (0, 'index'),
         (1, 'spark'), (1, 'table'),
         (2, 'index'), (2, 'data')),
       toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
       dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
       stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
       dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       ts AS (SELECT qt.qid, tf.doc_id,
                CAST(round(ln(1.0 + (n - df + 0.5)/(df + 0.5)) * (tf * 2.2) /
                  (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sdl AS DOUBLE)/n))) * 1e6) AS BIGINT) AS s
              FROM qt JOIN tf USING (term) JOIN dfq USING (term)
                   JOIN dl ON tf.doc_id = dl.doc_id, stats),
       bm AS (SELECT qid, doc_id, round(CAST(sum(s) AS DOUBLE)/1e6, 6) AS bm25
              FROM ts GROUP BY qid, doc_id),
       tr AS (SELECT qid, doc_id, ra FROM (
                SELECT qid, doc_id,
                       row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS ra
                FROM bm) WHERE ra <= 20),
       qis AS (SELECT vec_id AS qid, list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS bqv
               FROM embeddings WHERE vec_id < 3),
       luts AS (SELECT q.qid, cb.s, cb.c,
                  list_sum(list_transform(list_zip(q.bqv[cb.s*8+1 : cb.s*8+8], cb.cv),
                    p -> p[1]*p[2])) AS l
                FROM cb, qis q),
       scb AS (SELECT luts.qid, code.vec_id, CAST(sum(l) AS DOUBLE) AS si
               FROM code JOIN luts USING (s, c) GROUP BY luts.qid, code.vec_id),
       vr AS (SELECT qid, vec_id, rb FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY round(si / 1000000000000.0, 6) DESC, vec_id) AS rb
                FROM scb) WHERE rb <= 20),
       fused AS (SELECT coalesce(tr.qid, vr.qid) AS qid,
                        coalesce(tr.doc_id, vr.vec_id) AS doc_id,
                        round(coalesce(1.0/(60 + ra), 0.0) +
                              coalesce(1.0/(60 + rb), 0.0), 6) AS rrf
                 FROM tr FULL OUTER JOIN vr
                   ON tr.qid = vr.qid AND tr.doc_id = vr.vec_id)
       SELECT qid, doc_id, rrf FROM (
         SELECT qid, doc_id, rrf,
                row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rn
         FROM fused) WHERE rn <= 10"""

  /** DuckDB mirror of the append-maintained PQ index (q_ann_pq_append):
    * the codebook is FROZEN at build time — sampled from the build half
    * (vec_id >= 100) only — while codes cover build + appended rows, i.e.
    * the whole corpus. Append == rebuild-with-the-frozen-codebook is thus
    * checked end to end: if appendPqIndexOnce re-sampled, double-encoded, or
    * dropped rows, the ranking would not match this replay. */
  private lazy val sqlPqAppend: String =
    s"""WITH ${sqlPqCtesFrom("WHERE vec_id >= 100")}
       SELECT vec_id, round(si / 1000000000000.0, 6) AS score
       FROM sc ORDER BY score DESC, vec_id LIMIT 20"""

  /** DuckDB replay of [[operators.Similarity.pqTrainCodebook]] (m=8,
    * ksub=16, iters=2) + the ADC probe over the trained codebook — the
    * production build path differentially checked end to end. Every pass
    * is the q_kmeans_train discipline extended per subspace: seeds = the
    * same (md5, key) 16-row draw for every subspace, assignment =
    * exact-int64 squared-L2 against each centroid's ROUNDED integer
    * vector (ties to the lower cid), update = exact per-(s, cid, pos)
    * integer sums with the empty-cluster keep-previous rule. Because the
    * Spark side rounds centroids BEFORE the distance, no compared
    * quantity ever floats — the whole training chain is bit-replayable. */
  private lazy val sqlPqTrainedCtes: String = {
    def pass(p: Int): String =
      s""",
       tm$p AS (SELECT s, cid, list_transform(csum,
                  x -> CAST(round(CAST(x AS DOUBLE)/n) AS BIGINT)) AS mc
                FROM tc$p),
       td$p AS (
         SELECT r.vec_id, r.s, m.cid,
                list_sum(list_transform(list_zip(r.sv, m.mc),
                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
         FROM rsub r JOIN tm$p m ON m.s = r.s),
       ta$p AS (
         SELECT vec_id, s, cid FROM (
           SELECT vec_id, s, cid,
                  row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
           FROM td$p)
         WHERE rn = 1),
       tg$p AS (SELECT a.s, a.cid, r.sv FROM ta$p a
                JOIN rsub r ON r.vec_id = a.vec_id AND r.s = a.s),
       tn$p AS (SELECT s, cid, count(*) AS n FROM tg$p GROUP BY s, cid),
       ts$p AS (
         SELECT s, cid, list(sv2 ORDER BY i) AS csum FROM (
           SELECT s, cid, i, CAST(sum(v) AS BIGINT) AS sv2 FROM (
             SELECT s, cid, unnest(sv) AS v, generate_subscripts(sv, 1) AS i
             FROM tg$p)
           GROUP BY s, cid, i)
         GROUP BY s, cid),
       tc${p + 1} AS (
         SELECT c.s, c.cid, coalesce(ts.csum, c.csum) AS csum,
                coalesce(tn.n, c.n) AS n
         FROM tc$p c
           LEFT JOIN ts$p ts ON ts.s = c.s AND ts.cid = c.cid
           LEFT JOIN tn$p tn ON tn.s = c.s AND tn.cid = c.cid)"""
    """scaled AS (
         SELECT vec_id, list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS iv
         FROM embeddings WHERE len(embedding) = 64),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       rsub AS (SELECT vec_id, s, iv[s*8+1 : s*8+8] AS sv FROM scaled, subs),
       tseed AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, vec_id
         FROM scaled
         QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
       tc0 AS (SELECT r.s, t.cid, r.sv AS csum, CAST(1 AS BIGINT) AS n
               FROM tseed t JOIN rsub r ON r.vec_id = t.vec_id)""" +
      pass(0) + pass(1) +
      s""",
       tcb AS (SELECT s, cid AS c, list_transform(csum,
                 x -> CAST(round(CAST(x AS DOUBLE)/n) AS BIGINT)) AS cv
               FROM tc2),
       tdist AS (
         SELECT r.vec_id, r.s, cb.c,
                list_sum(list_transform(list_zip(r.sv, cb.cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
         FROM rsub r JOIN tcb cb ON cb.s = r.s),
       tcode AS (
         SELECT vec_id, s, c FROM (
           SELECT vec_id, s, c,
                  row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
           FROM tdist)
         WHERE rn = 1),
       tqi AS (
         SELECT list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
         FROM embeddings WHERE vec_id = 0),
       tlut AS (
         SELECT cb.s, cb.c,
                list_sum(list_transform(list_zip(qv[cb.s*8+1 : cb.s*8+8], cb.cv),
                  p -> p[1]*p[2])) AS l
         FROM tcb cb, tqi),
       tsc AS (
         SELECT tcode.vec_id, CAST(sum(l) AS DOUBLE) AS si
         FROM tcode JOIN tlut USING (s, c) GROUP BY tcode.vec_id)"""
  }

  /** DuckDB mirror of the trained-codebook PQ probe
    * (pqTrainCodebook → pqBuildWith → pqTopKPrebuilt). */
  private lazy val sqlPqTrained: String =
    s"""WITH $sqlPqTrainedCtes
       SELECT vec_id, round(si / 1000000000000.0, 6) AS score
       FROM tsc ORDER BY score DESC, vec_id LIMIT 20"""

  /** DuckDB mirror of Dedup.lshRecallReport on the doc_id < 120 slice:
    * exact pairwise-Jaccard truth + per-config counts from the SAME
    * sqlLshNearDup generator the near-dup oracles use (full-table pairs
    * restricted to the slice — banded pairs depend only on the two
    * members' signatures, so the restriction is exact). */
  private lazy val sqlLshRecall: String = {
    val lim = 250; val th = 0.3
    def cfgRow(nh: Int, bands: Int) =
      s"""SELECT CAST($nh AS INTEGER) AS num_hashes, CAST($bands AS INTEGER) AS bands,
            nex.n AS n_exact, f.n AS n_found,
            CASE WHEN nex.n = 0 THEN NULL
                 ELSE round(f.n::DOUBLE / nex.n, 4) END AS recall
          FROM nex, (SELECT count(*) AS n FROM (${sqlLshNearDup(nh, bands, th)})
                     WHERE key_a < $lim AND key_b < $lim) f"""
    s"""WITH shx AS (SELECT doc_id, list_distinct($sqlShingles3) AS s
              FROM documents WHERE doc_id < $lim),
        nex AS (SELECT count(*) AS n FROM shx a, shx b
                WHERE a.doc_id < b.doc_id
                  AND len(list_distinct(a.s || b.s)) > 0
                  AND len(list_intersect(a.s, b.s))::DOUBLE
                      / len(list_distinct(a.s || b.s))::DOUBLE >= $th)
        ${cfgRow(16, 4)}
        UNION ALL
        ${cfgRow(16, 8)}"""
  }

  /** DuckDB mirror of Similarity.pqTopK: the shared PQ chain ranked flat. */
  private lazy val sqlPqTopK: String =
    s"""WITH $sqlPqCtes
       SELECT vec_id, round(si / 1000000000000.0, 6) AS score
       FROM sc ORDER BY score DESC, vec_id LIMIT 20"""

  /** DuckDB mirror of Similarity.pqIvfTopK: the SAME PQ chain, restricted
    * to rows the seeded coarse routing puts in the nprobe probed lists —
    * q_ann_ivf's routing constants composed with q_ann_pq's relational
    * codebook. */
  private lazy val sqlPqIvfTopK: String = {
    val (sCols, _, lstCase, centVals) = ivfSqlParts
    s"""WITH $sqlPqCtes,
       q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       cent(i, cc) AS (SELECT * FROM (VALUES $centVals)),
       probed AS (SELECT i FROM cent, q
                  ORDER BY list_dot_product(cc, qv) DESC, i ASC LIMIT 4),
       routed AS (
         SELECT vec_id FROM (
           SELECT vec_id, (CASE $lstCase END) AS lst
           FROM (SELECT vec_id, embedding, $sCols
                 FROM embeddings WHERE len(embedding) = 64))
         WHERE lst IN (SELECT i FROM probed))
       SELECT sc.vec_id, round(si / 1000000000000.0, 6) AS score
       FROM sc JOIN routed ON sc.vec_id = routed.vec_id
       ORDER BY score DESC, sc.vec_id LIMIT 20"""
  }

  /** DuckDB mirror of TermStats.lmScoreBigram(vocabSize = 64) as a shared
    * CTE chain ending at `lm2(doc_id, lm2_score)` — consumed by the
    * q_lm_bigram oracle and the per-language perplexity-bucket oracle so
    * scoring and bucketing cannot drift. */
  private lazy val sqlBigramCtes: String = sqlBigramCtesFrom("documents")

  /** [[sqlBigramCtes]] generalized over its source relation, so composite
    * pipelines can train the bigram model on the SURVIVORS of upstream
    * gates rather than the raw corpus (the [[sqlQualityFrom]] pattern). */
  private def sqlBigramCtesFrom(src: String): String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                unnest(range(len(string_split(text, ' ')))) AS pos FROM $src),
       vocab AS (SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS id FROM tok GROUP BY t),
       enc AS (SELECT tok.doc_id, tok.pos, coalesce(v.id, 0) AS id
               FROM tok LEFT JOIN (SELECT * FROM vocab WHERE id <= 64) v USING (t)),
       bi AS (SELECT doc_id, id AS id1, lead(id) OVER (PARTITION BY doc_id ORDER BY pos) AS id2
              FROM enc QUALIFY id2 IS NOT NULL),
       c12 AS (SELECT id1, id2, count(*) AS c12 FROM bi GROUP BY 1, 2),
       c1 AS (SELECT id1, count(*) AS c1 FROM bi GROUP BY 1),
       lp AS (SELECT id1, id2, CAST(round(ln((c12 + 1.0) / (c1 + 65.0)) * 1e6) AS BIGINT) AS lp
              FROM c12 JOIN c1 USING (id1)),
       lm2 AS (SELECT b.doc_id, round(CAST(sum(l.lp) AS DOUBLE) / count(*) / 1e6, 6) AS lm2_score
               FROM bi b JOIN lp l USING (id1, id2) GROUP BY b.doc_id)"""

  /** Shared exact-integer Lloyd CTE chain (k=8, iters=2 — the q_kmeans_train
    * replay, ending at a2 = final assignments); also consumed by the
    * cluster-balanced sampling oracle so assignment and sampling cannot
    * drift. */
  private lazy val sqlKmeansCtes: String =
    """scaled AS (
         SELECT vec_id, list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS ivec
         FROM embeddings WHERE len(embedding) = 64),
       seeds AS (
         SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, ivec
         FROM scaled
         QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
       c0 AS (SELECT cid, ivec AS csum, CAST(1 AS BIGINT) AS n FROM seeds),
       sc0 AS (
         SELECT s.vec_id, s.ivec, c.cid,
                CAST(list_sum(list_transform(list_zip(s.ivec, c.csum), p -> p[1]*p[2])) AS DOUBLE) / c.n AS score
         FROM scaled s CROSS JOIN c0 c),
       a1 AS (
         SELECT vec_id, ivec, cid FROM sc0
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) = 1),
       n1 AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid),
       s1 AS (
         SELECT cid, list(sv ORDER BY i) AS csum FROM (
           SELECT cid, i, sum(v) AS sv FROM (
             SELECT cid, unnest(ivec) AS v, generate_subscripts(ivec, 1) AS i FROM a1
           ) GROUP BY cid, i
         ) GROUP BY cid),
       c1 AS (
         SELECT c0.cid, coalesce(s1.csum, c0.csum) AS csum, coalesce(n1.n, c0.n) AS n
         FROM c0 LEFT JOIN s1 ON c0.cid = s1.cid LEFT JOIN n1 ON c0.cid = n1.cid),
       sc1 AS (
         SELECT s.vec_id, s.ivec, c.cid,
                CAST(list_sum(list_transform(list_zip(s.ivec, c.csum), p -> p[1]*p[2])) AS DOUBLE) / c.n AS score
         FROM scaled s CROSS JOIN c1 c),
       a2 AS (
         SELECT vec_id, ivec, cid, score FROM sc1
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) = 1)"""

  /** DuckDB mirror of Similarity.ivfRecallReport (k=10, queries vec_id<5,
    * nprobe ∈ {1,4}): routing from the seeded centroid constants, truth
    * from a windowed brute-force pass, recall micro-averaged as one exact
    * integer division. */
  private lazy val sqlAnnRecall: String = {
    val (sCols, _, lstCase, centVals) = ivfSqlParts
    val k = 10
    def routedRec(np: Int) =
      s"""r$np AS (SELECT qid, vec_id FROM (
           SELECT p.qid, d.vec_id,
                  row_number() OVER (PARTITION BY p.qid
                    ORDER BY list_dot_product(d.embedding::DOUBLE[], p.qv) DESC, d.vec_id) AS rn
           FROM (SELECT qid, qv, lst FROM probed WHERE rn <= $np) p
             JOIN d ON d.lst = p.lst) WHERE rn <= $k),
         rec$np AS (SELECT CAST($np AS INTEGER) AS nprobe,
           round(CAST((SELECT count(*) FROM truth t
                       JOIN r$np r ON t.qid = r.qid AND t.vec_id = r.vec_id) AS DOUBLE)
                 / ($k * (SELECT count(*) FROM q)), 4) AS mean_recall,
           (SELECT count(*) FROM q) AS n_queries)"""
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id < 5 AND len(embedding) = 64),
        cent(i, cc) AS (SELECT * FROM (VALUES $centVals)),
        qscore AS (SELECT qid, qv, i, list_dot_product(qv, cc) AS s FROM q, cent),
        probed AS (SELECT qid, qv, i AS lst,
                          row_number() OVER (PARTITION BY qid ORDER BY s DESC, i ASC) AS rn
                   FROM qscore),
        d AS (SELECT vec_id, embedding, (CASE $lstCase END) AS lst
              FROM (SELECT vec_id, embedding, $sCols
                    FROM embeddings WHERE len(embedding) = 64)),
        truth AS (SELECT qid, vec_id FROM (
           SELECT q.qid, d.vec_id,
                  row_number() OVER (PARTITION BY q.qid
                    ORDER BY list_dot_product(d.embedding::DOUBLE[], q.qv) DESC, d.vec_id) AS rn
           FROM q, d) WHERE rn <= $k),
        ${routedRec(1)},
        ${routedRec(4)}
        SELECT * FROM rec1 UNION ALL SELECT * FROM rec4"""
  }

  private lazy val sqlKmeansTrain: String =
    s"""WITH $sqlKmeansCtes
       SELECT cid, count(*) AS n, CAST(sum(ivec[1]) AS BIGINT) AS c0sum FROM a2 GROUP BY cid"""

  /** DuckDB mirror of Similarity.ivfTopKBatchPrebuilt: per-query probe
    * ranking (score desc, list-id asc) and per-row index assignment both
    * from the same seeded centroid constants as sqlIvfTopK. */
  private lazy val sqlIvfBatch: String = {
    val nprobe = 4; val k = 10
    val (sCols, _, lstCase, centVals) = ivfSqlParts
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id < 5 AND len(embedding) = 64),
        cent(i, c) AS (SELECT * FROM (VALUES $centVals)),
        qscore AS (SELECT qid, qv, i, list_dot_product(qv, c) AS s FROM q, cent),
        probed AS (SELECT qid, qv, i AS lst FROM (
            SELECT qid, qv, i, row_number() OVER
              (PARTITION BY qid ORDER BY s DESC, i ASC) AS rn FROM qscore)
          WHERE rn <= $nprobe),
        d AS (SELECT vec_id, embedding, (CASE $lstCase END) AS lst
              FROM (SELECT vec_id, embedding, $sCols
                    FROM embeddings WHERE len(embedding) = 64)),
        scored AS (SELECT p.qid, d.vec_id,
            list_dot_product(d.embedding::DOUBLE[], p.qv) AS s,
            row_number() OVER (PARTITION BY p.qid ORDER BY
              list_dot_product(d.embedding::DOUBLE[], p.qv) DESC, d.vec_id ASC) AS rn
          FROM probed p JOIN d ON p.lst = d.lst)
        SELECT qid, vec_id, round(s, 6) AS score FROM scored WHERE rn <= $k"""
  }

  private val textQueries = Seq(
    Q("q_dedup_exact", // hash-groupBy dedup, min-key winner
      (s, d) => Dedup.exact(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source")),
      Some("SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1")),

    Q("q_dedup_prefix", // fingerprint dedup on a 5-token prefix key
      (s, d) => Dedup.exact(
          t(s, d, "documents").withColumn("_pfx",
            concat_ws(" ", slice(split(col("text"), " "), 1, 5))),
          "_pfx", "doc_id")
        .select(col("doc_id")),
      Some("SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY md5(array_to_string(string_split(text,' ')[1:5], ' ')) ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1")),

    Q("q_ngram_jaccard", // exact n-gram Jaccard near-dup via high-recall LSH
      // candidates (32 hashes × 16 bands ⇒ ~99% recall at j=0.5) + exact
      // verify — replaces round-1's shingle-count-band all-pairs self-join
      (s, d) => Dedup.ngramJaccardJoin(t(s, d, "documents"), "text", "doc_id",
        shingleN = 3, minJaccard = 0.5),
      Some(sqlLshNearDup(numHashes = 32, bands = 16, threshold = 0.5))),

    Q("q_minhash_neardup", // MinHash+LSH pairs — deterministic hashing makes
      // even the probabilistic candidate set oracle-checkable exactly
      (s, d) => Dedup.minhashLsh(t(s, d, "documents"), "text", "doc_id",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
      Some(sqlLshNearDup(numHashes = 16, bands = 4, threshold = 0.5))),

    Q("q_minhash_prebuilt", // the 100 TB form of LSH near-dup: signatures
      // come from the materialized table written once per (session, dir)
      // by Dedup.buildSignatures — document text is never rescanned, and
      // in the bench's min-of-two the build lands in run 1 so the
      // steady-state pure-read probe is what gets reported. Results are
      // identical to q_minhash_neardup by construction, so it shares the
      // oracle
      (s, d) => Dedup.minhashLshPrebuilt(s, sigTablePath(s, d), "doc_id",
        numHashes = 16, bands = 4, threshold = 0.5),
      Some(sqlLshNearDup(numHashes = 16, bands = 4, threshold = 0.5))),

    Q("q_minhash_sig", // the signature itself is oracle-checked exactly
      // (fused shingle-hash + k-lane min kernels, r18 — bit-identical to
      // minhashSignature(shingles(text)), ShingleExprSpec-pinned)
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          array_join(graft.functions.ShingleFunctions.minhashSigFromHashes(
            graft.functions.ShingleFunctions.shingleHashes(col("text"), 3), 8),
            ",").as("sig")),
      Some(sqlMinhashSig)),

    Q("q_simhash", // fused token-hash/vote kernel (r18, == TF.simhash32)
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          graft.functions.ShingleFunctions.simhash(col("text")).as("simhash")),
      Some(sqlSimhash)),

    Q("q_simhash_neardup", // SimHash near-dup pairs, banding mirrored exactly
      (s, d) => Dedup.simhashPairs(t(s, d, "documents"), "text", "doc_id", maxHamming = 2),
      Some(sqlSimhashPairs)),

    Q("q_embedding_neardup", // hyperplane-LSH near-dup with Hamming-1
      // multi-probe + bucket-skew salting; seeded planes mirrored into the
      // oracle as constants
      (s, d) => Dedup.embeddingNearDup(t(s, d, "embeddings"), "embedding", "vec_id",
        minCosine = 0.3),
      Some(sqlEmbeddingNearDup)),

    Q("q_semantic_dedup", // embedding-based semantic dedup END-TO-END: LSH
      // pair generation -> connected components -> drop non-canonical
      // members — the same composed kernel as q_neardup_dedup but over the
      // embedding space (near-identical meaning, different words). The
      // loser set broadcasts into the anti-join; vectors shuffle only
      // inside the banded pair join. Threshold 0.4 (vs the pair query's
      // recall-oriented 0.3) keeps components clique-like — semantic
      // dedup wants "same meaning", not "vaguely related", and sprawling
      // low-threshold components would merge distinct documents
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Clustering.dropNearDuplicates(emb,
            Dedup.embeddingNearDup(emb, "embedding", "vec_id", minCosine = 0.4),
            "key_a", "key_b", "vec_id")
          .select(col("vec_id"), col("label"))
      },
      Some(s"""WITH RECURSIVE $sqlEmbeddingPairCtes,
          pairs AS (SELECT key_a, key_b FROM p WHERE cosine >= 0.4),
          edges AS (SELECT key_a AS u, key_b AS v FROM pairs
                    UNION SELECT key_b, key_a FROM pairs),
          reach(u, v) AS (SELECT u, v FROM edges
                          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          comps AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u)
          SELECT vec_id, label FROM embeddings
          WHERE vec_id NOT IN (SELECT u FROM comps WHERE u <> cluster)""")),

    Q("q_embedding_contamination", // semantic eval-set decontamination:
      // corpus vectors within cosine 0.3 of ANY benchmark vector (label 0
      // stands in for the eval set) — catches paraphrased leakage that
      // shares no shingles with the n-gram q_contamination. Benchmark
      // carries the Hamming-1 probe expansion and broadcasts; the corpus
      // buckets map-side and never shuffles
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Dedup.embeddingContamination(
          emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
          "embedding", "vec_id", minCosine = 0.3)
      },
      Some(s"""WITH corp AS (SELECT vec_id, embedding, ($sqlBucketExpr) AS bkt
            FROM embeddings WHERE label <> 0),
          bench AS (SELECT embedding, ($sqlBucketExpr) AS bbkt
            FROM embeddings WHERE label = 0),
          hits AS (SELECT corp.vec_id,
            round(list_dot_product(corp.embedding::DOUBLE[], bench.embedding::DOUBLE[]), 6) AS cos
            FROM corp JOIN bench ON bit_count(xor(corp.bkt, bench.bbkt)) <= 1)
          SELECT vec_id, max(cos) AS max_cosine FROM hits
          WHERE cos >= 0.3 GROUP BY vec_id""")),

    Q("q_token_count",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_obs")),
      Some("SELECT doc_id, len(string_split(text,' ')) AS n_tokens, length(text) AS n_chars_obs FROM documents")),

    Q("q_langid", // NO spread: A/B'd r17 — the langId kernel is light
      // enough that shuffling the text payload costs more than the serial
      // scan saves (0.32 → 0.37 s; the q_distinct_set verdict, unlike
      // q_repetition whose sort+run-length kernel dominates its shuffle)
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred")),
      Some(sqlLangId)),

    Q("q_quality",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality")),
      Some(sqlQuality)),

    Q("q_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TF.fingerprint64(col("text")).as("fp")),
      Some("SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp FROM documents")),

    Q("q_repetition", // Gopher-style repetition signals (published corpus-
      // filtering rules), both as pure per-row passes — ZERO shuffle: the
      // top-bigram mode is sort + longest-equal-run over the row's own
      // bigram array (O(n log n) per doc), not the explode→(doc,bigram)
      // count→join shape, which moves every bigram of the corpus through
      // a shuffle — at 100 TB that shuffle IS the query. (Earlier note
      // feared per-doc counting "melts on long documents" — true of the
      // O(n^2) nested-loop count, not of sort+run-length.)
      (s, d) => {
        // bind the token array BEFORE the lambda — see wordBigrams' doc.
        // spread: the per-doc sort+run-length kernel is the CPU cost and
        // the sf0.1 corpus arrives as ONE split — identity at cluster
        // scale (Tables.spread scaladoc; r17 census: 2 tasks total)
        Tables.spread(t(s, d, "documents"))
          .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("_toks"))
          .select(col("doc_id"), TF.dupTokenFrac(col("text")).as("dup_token_frac"),
            TF.topBigramFrac(col("_toks")).as("top_bigram_frac"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg FROM toks),
        |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS f FROM cnt GROUP BY 1)
        |SELECT d.doc_id,
        |  round(1.0 - len(list_distinct(string_split(d.text, ' ')))::DOUBLE / greatest(len(string_split(d.text, ' ')), 1), 6) AS dup_token_frac,
        |  coalesce(t.f, 0.0) AS top_bigram_frac
        |FROM documents d LEFT JOIN top t USING (doc_id)""".stripMargin)),

    Q("q_sample", // deterministic hash-bucket sample: reproducible across
      // engines/cluster layouts, mirrored exactly in DuckDB via md5
      (s, d) => Sampling.deterministicSample(t(s, d, "documents"), "doc_id", 10)
        .select(col("doc_id")),
      Some(s"SELECT doc_id FROM documents WHERE ${sqlHash32("doc_id::VARCHAR")} % 100 < 10")),

    Q("q_weighted_sample", // quality-weighted Bernoulli downsampling: each
      // doc survives with probability = its quality score, via the same
      // portable key-hash draw as q_sample (reproducible on any engine,
      // pushdown-friendly; no partition-layout dependence)
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("quality", TF.qualityScore(col("text")))
        Sampling.weightedSample(docs, "doc_id", "quality")
          .select(col("doc_id"), col("quality"))
      },
      Some(s"""WITH q AS (${sqlQualityFrom("documents")})
          SELECT doc_id, quality FROM q
          WHERE (${sqlHash32("doc_id::VARCHAR")} % 10000) / 10000.0 <
            least(greatest(quality, 0.0), 1.0)""")),

    Q("q_weighted_topk", // EXACT-k weighted sampling without replacement
      // (Efraimidis-Spirakis log-priority form): q_weighted_sample's
      // Bernoulli draw returns a binomial number of rows — a budget cut
      // wants exactly k. Priority = ln(u)/w from the portable key-hash u,
      // round(6) before ranking; pure scan-stage + TakeOrdered.
      (s, d) => Sampling.weightedTopK(
        t(s, d, "documents").withColumn("quality", TF.qualityScore(col("text"))),
        "doc_id", "quality", k = 50),
      Some(s"""WITH q AS (${sqlQualityFrom("documents")})
          SELECT doc_id, quality,
            round(ln(((${sqlHash32("doc_id::VARCHAR")} % 10000) + 1) / 10000.0)
                  / greatest(quality, 0.001), 6) AS priority
          FROM q ORDER BY priority DESC, doc_id ASC LIMIT 50""")),

    Q("q_source_quota", // corpus balancing: at most 15 docs per source
      (s, d) => Sampling.perGroupQuota(t(s, d, "documents"),
          "source", "doc_id", "doc_id", 15)
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM (
          SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY doc_id ASC, doc_id ASC) AS rn
          FROM documents) WHERE rn <= 15""")),

    Q("q_quality_calibrated", // per-language threshold calibration: each
      // lang keeps ~75% of ITS docs (threshold = the exact 0.25-quantile
      // of that lang's quality) — the CCNet/Gopher practice of per-
      // language filter calibration so a cutoff tuned on one language
      // doesn't wipe out another. Exact percentile + round(6) on both
      // sides of the gate make the boundary engine-replayable; thresholds
      // are |langs| rows and broadcast onto the scoring scan.
      (s, d) => Sampling.calibratedQualityGate(
        t(s, d, "documents"), "text", "doc_id", "lang", keepRate = 0.75),
      Some(s"""WITH q AS (${sqlQualityFrom("documents")}),
           j AS (SELECT q.doc_id, d.lang, q.quality
                 FROM q JOIN documents d ON q.doc_id = d.doc_id),
           t AS (SELECT lang, round(quantile_cont(quality, 0.25), 6) AS threshold
                 FROM j GROUP BY lang)
         SELECT j.doc_id, j.lang, j.quality, t.threshold
         FROM j JOIN t USING (lang) WHERE j.quality >= t.threshold""")),

    Q("q_gopher_rules", // the Gopher hard rule gate (Rae 2021 §A1.1),
      // word-level subset (no line structure in this corpus): five
      // published rules as INTEGER comparisons (ratio bounds cross-
      // multiplied — no float boundary exists to flip across engines),
      // raw counts kept so a user can re-gate at other thresholds
      // without re-tokenizing. Pure scan-stage; runs FIRST at 100 TB,
      // before anything that shuffles. Stop list calibrated to this
      // corpus's vocabulary (the CCNet per-language practice — the
      // published English list is the operator default).
      (s, d) => Curation.gopherRules(t(s, d, "documents"), "text", "doc_id",
        minWords = 30, maxWords = 100000, stops = Seq("the", "a")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          m AS (SELECT doc_id,
                  CAST(len(ts) AS BIGINT) AS n_words,
                  CAST(list_sum(list_transform(ts, x -> length(x))) AS BIGINT) AS sum_len,
                  CAST(len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                  CAST(len(list_filter(ts, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS n_sym,
                  CAST(len(list_intersect(list_distinct(ts),
                    ['the','a'])) AS BIGINT) AS n_stop
                FROM t)
          SELECT doc_id, n_words, sum_len, n_alpha, n_sym, n_stop,
                 (n_words >= 30 AND n_words <= 100000) AS r_words,
                 (3 * n_words <= sum_len AND sum_len <= 10 * n_words) AS r_meanlen,
                 (10 * n_alpha >= 8 * n_words) AS r_alpha,
                 (10 * n_sym <= n_words) AS r_sym,
                 (n_stop >= 2) AS r_stop,
                 ((n_words >= 30 AND n_words <= 100000)
                  AND (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
                  AND (10 * n_alpha >= 8 * n_words)
                  AND (10 * n_sym <= n_words)
                  AND (n_stop >= 2)) AS keep
          FROM m""")),

    Q("q_curation", // the flagship training-data curation pipeline:
      // quality -> language -> length gates + exact dedup, as ONE scan +
      // ONE tiny shuffle. The gates and the kept output (quality) are
      // functions of the text alone, and an exact-dup group shares one
      // text — so the gates keep/drop digest groups WHOLE (winner
      // unchanged vs the oracle's dedup-first statement) and quality is
      // constant within a group (Dedup.exactDerived's contract). The
      // gates travel as a computed _keep column and apply as a HAVING
      // after the digest agg rather than as a pre-agg filter: a filter
      // form is pushed below the spread exchange onto the fixture's
      // one-row-group scan (serial compute — the r12 form's documented
      // cost), while a projection stays above it, so the heavy text
      // kernels run at full width and the shuffle still carries only
      // (digest, doc_id, quality, keep). vs the r12 dedup-first +
      // Dedup.exact form (two text scans + a semi-join): same-JVM A/B at
      // sf0.1 warm 0.42-0.58 vs 0.56-0.65, and at cluster scale this form
      // drops a whole pass over the corpus
      (s, d) => Dedup.exactDerived(
          Tables.spread(t(s, d, "documents"))
            .withColumn("quality", TF.qualityScore(col("text")))
            .withColumn("_keep", col("quality") >= 0.4 &&
              TF.langId(col("text")) === "en" &&
              TF.tokenCount(col("text")) >= 8),
          "text", "doc_id",
          "quality" -> col("quality"), "_keep" -> col("_keep"))
        .filter(col("_keep"))
        .select(col("doc_id"), col("quality")),
      Some(s"""WITH dd AS (SELECT doc_id, text FROM (
            SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1),
          q AS (${sqlQualityFrom("dd")}),
          l AS (${sqlLangIdFrom("dd")})
          SELECT dd.doc_id AS doc_id, q.quality AS quality
          FROM dd JOIN q USING (doc_id) JOIN l USING (doc_id)
          WHERE q.quality >= 0.4 AND l.lang_pred = 'en'
            AND len(string_split(dd.text, ' ')) >= 8""")),

    Q("q_contamination", // decontamination: per-doc distinct-shingle overlap
      // vs a benchmark corpus (docs 0..19 stand in for the eval set)
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.contaminationOverlap(docs, docs.filter(col("doc_id") < 20),
          "text", "doc_id", shingleN = 3)
          .filter(col("overlap") >= 3)
      },
      Some(s"""WITH b AS (SELECT DISTINCT unnest(list_distinct($sqlShingles3)) AS sh
                FROM documents WHERE doc_id < 20),
          e AS (SELECT doc_id, unnest(list_distinct($sqlShingles3)) AS sh FROM documents)
          SELECT doc_id, count(*) AS overlap FROM e JOIN b USING (sh)
          GROUP BY doc_id HAVING count(*) >= 3""")),

    Q("q_dedup_clusters", // near-dup PAIRS -> duplicate CLUSTERS: connected
      // components by iterative min-label propagation (transitive closure —
      // (a,b),(b,c) is one cluster {a,b,c} though (a,c) was never emitted);
      // the oracle states the same closure as a recursive CTE
      (s, d) => Clustering.connectedComponents(
        Dedup.minhashLsh(t(s, d, "documents"), "text", "doc_id",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
        "key_a", "key_b", outKey = "doc_id"),
      Some(s"""WITH RECURSIVE pairs AS (${sqlLshNearDup(16, 4, 0.5)}),
          edges AS (SELECT key_a AS u, key_b AS v FROM pairs
                    UNION SELECT key_b, key_a FROM pairs),
          reach(u, v) AS (SELECT u, v FROM edges
                          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u""")),

    Q("q_neardup_dedup", // the composed near-dup dedup a pipeline ships:
      // LSH pairs -> connected components -> drop non-canonical members,
      // keep winners and singletons; the loser set broadcasts into an
      // anti-join so the corpus never shuffles
      (s, d) => {
        val docs = t(s, d, "documents")
        Clustering.dropNearDuplicates(docs,
            Dedup.minhashLsh(docs, "text", "doc_id",
              shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
            "key_a", "key_b", "doc_id")
          .select(col("doc_id"), col("lang"))
      },
      Some(s"""WITH RECURSIVE pairs AS (${sqlLshNearDup(16, 4, 0.5)}),
          edges AS (SELECT key_a AS u, key_b AS v FROM pairs
                    UNION SELECT key_b, key_a FROM pairs),
          reach(u, v) AS (SELECT u, v FROM edges
                          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          comps AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u)
          SELECT doc_id, lang FROM documents
          WHERE doc_id NOT IN (SELECT u FROM comps WHERE u <> cluster)""")),

    Q("q_dup_matrix", // cross-source duplication matrix (data-card
      // diagnostic): near-dup PAIR counts by unordered source pair —
      // "how much of src0 is a copy of src1". The pair graph is orders
      // smaller than the corpus; sources attach via two keys-only joins;
      // the matrix is |sources|² — broadcast-sized output.
      (s, d) => {
        val docs = t(s, d, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        Dedup.minhashLsh(docs, "text", "doc_id",
            shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .join(src.as("sa"), col("key_a") === col("sa.doc_id"))
          .join(src.as("sb"), col("key_b") === col("sb.doc_id"))
          .select(least(col("sa.source"), col("sb.source")).as("src_lo"),
            greatest(col("sa.source"), col("sb.source")).as("src_hi"))
          .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("pairs"))
      },
      Some(s"""WITH pairs AS (${sqlLshNearDup(16, 4, 0.5)})
          SELECT least(sa.source, sb.source) AS src_lo,
                 greatest(sa.source, sb.source) AS src_hi,
                 count(*) AS pairs
          FROM pairs p
          JOIN documents sa ON p.key_a = sa.doc_id
          JOIN documents sb ON p.key_b = sb.doc_id
          GROUP BY 1, 2""")),

    Q("q_canonical_priority", // cross-source duplicate resolution: the
      // cluster survivor is chosen by PRIORITY (prefer src1 copies), ties
      // to the smallest key — the corpus-merge rule (keep the origin, drop
      // the mirror) that min-key dedup cannot express. One map-side
      // min(struct) per cluster on the pair-graph-sized membership table;
      // the loser anti-join stays un-hinted for AQE.
      (s, d) => {
        val docs = t(s, d, "documents")
        Clustering.resolveCanonical(docs,
            Dedup.minhashLsh(docs, "text", "doc_id",
              shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5),
            "key_a", "key_b", "doc_id",
            when(col("source") === "src1", 2).otherwise(1))
          .select(col("doc_id"), col("source"))
      },
      Some(s"""WITH RECURSIVE pairs AS (${sqlLshNearDup(16, 4, 0.5)}),
          edges AS (SELECT key_a AS u, key_b AS v FROM pairs
                    UNION SELECT key_b, key_a FROM pairs),
          reach(u, v) AS (SELECT u, v FROM edges
                          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          comps AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u),
          members AS (SELECT c.u, c.cluster,
                             CASE WHEN d.source = 'src1' THEN 2 ELSE 1 END AS prio
                      FROM comps c JOIN documents d ON d.doc_id = c.u),
          winners AS (SELECT cluster, u AS winner FROM (
              SELECT cluster, u, row_number() OVER
                (PARTITION BY cluster ORDER BY prio DESC, u) AS rn FROM members)
            WHERE rn = 1),
          losers AS (SELECT m.u FROM members m JOIN winners w USING (cluster)
                     WHERE m.u <> w.winner)
          SELECT doc_id, source FROM documents
          WHERE doc_id NOT IN (SELECT u FROM losers)""")),

    Q("q_seq_pack", // fixed token-budget bin assignment for batch assembly:
      // bin = floor(running tokens before the doc / budget) — one window
      // pass, deterministic across engines/partitionings (greedy first-fit
      // is scan-order-dependent and unreproducible). SHARDED by source:
      // each shard's window is an independent hash-partitioned sort — the
      // 100 TB form; an unsharded global window would funnel the corpus
      // through one ordered partition
      (s, d) => Sampling.packSequences(
          t(s, d, "documents").select(col("doc_id"), col("source"),
            TF.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 2048, shardCol = Some("source"))
        .select(col("doc_id"), col("source"), col("bin")),
      Some("""SELECT doc_id, source,
          floor(coalesce(sum(len(string_split(text,' ')))
            OVER (PARTITION BY source ORDER BY doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 2048)::BIGINT AS bin
          FROM documents""")),

    Q("q_chunk_windows", // long-doc splitting: overlapping 20-token windows
      // every 15 tokens, exploded to (doc, chunk_no, chunk) rows
      (s, d) => t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(TF.chunkWindows(col("text"), windowSize = 20, stride = 15))
            .as(Seq("chunk_no", "chunk"))),
      Some("""SELECT doc_id, i::INT AS chunk_no,
          array_to_string(toks[i*15+1 : i*15+20], ' ') AS chunk
          FROM (SELECT doc_id, toks, unnest(range(nc)) AS i FROM (
            SELECT doc_id, string_split(text,' ') AS toks,
              CASE WHEN len(string_split(text,' ')) <= 20 THEN 1
                   ELSE ceil((len(string_split(text,' ')) - 20)::DOUBLE / 15)::INT + 1
              END AS nc
            FROM documents WHERE doc_id < 100))""")),

    Q("q_stratified_sample", // per-language keep-percentages (upsample rare,
      // downsample dominant) on the same pure key-hash membership as
      // q_sample — strata never bleed, membership reproducible anywhere
      (s, d) => Sampling.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
          Map("en" -> 10, "de" -> 50, "fr" -> 100), defaultPercent = 20)
        .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM documents
          WHERE ${sqlHash32("doc_id::VARCHAR")} % 100 <
            CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 WHEN 'fr' THEN 100 ELSE 20 END""")),

    Q("q_dedup_incremental", // dedup the "new crawl" (doc_id < 250)
      // against the existing corpus (doc_id >= 250): survivors = incoming
      // docs with no cross-corpus near-dup. Oracle trick: with the split
      // at 250 and key_a < key_b in the full self-join pair list, every
      // cross pair is exactly (key_a < 250 <= key_b) — so the incremental
      // match set falls out of the already-mirrored full LSH pairs
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.dedupAgainstCorpus(
            docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
            "text", "doc_id", shingleN = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          .select(col("doc_id"))
      },
      Some(s"""WITH pairs AS (${sqlLshNearDup(16, 4, 0.5)})
          SELECT doc_id FROM documents WHERE doc_id < 250
          AND doc_id NOT IN (SELECT key_a FROM pairs WHERE key_b >= 250)""")),

    Q("q_bm25", // BM25 ranked retrieval (k1=1.2, b=0.75, Lucene idf):
      // query terms filter in the SCAN stage, so every aggregate is
      // bounded by |query| x matching docs; df reuses the tf rows; N/Σdl
      // broadcast as one row; per-term scores integer-scale before the
      // per-doc sum (the lmScore discipline) so accumulation is exact
      // and the ranking engine-identical.
      (s, d) => TermStats.bm25TopK(t(s, d, "documents"), "text", "doc_id",
        Seq("data", "spark", "index"), k = 20),
      Some(sqlBm25)),

    Q("q_bm25_batch", // the serving form: a RELATION of queries scores in
      // ONE plan (the batch-ANN precedent) — the query-term dictionary
      // broadcast-semi-filters the corpus scan, tf/df aggregate once and
      // are shared across queries, ranking is one window per query key.
      (s, d) => {
        import s.implicits._
        val qs = Seq((1L, Seq("data", "spark")), (2L, Seq("vector", "index")),
          (3L, Seq("batch"))).toDF("qid", "terms")
        TermStats.bm25TopKBatch(t(s, d, "documents"), "text", "doc_id",
          qs, "qid", "terms", k = 5)
      },
      Some("""WITH q(qid, term) AS (SELECT * FROM (VALUES
            (1,'data'),(1,'spark'),(2,'vector'),(2,'index'),(3,'batch'))),
          toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
          dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
          stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                 WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          ts AS (SELECT q.qid, tf.doc_id,
                   CAST(round(ln(1.0 + (n - df + 0.5)/(df + 0.5)) * (tf * 2.2) /
                     (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sdl AS DOUBLE)/n))) * 1e6) AS BIGINT) AS s
                 FROM q JOIN tf USING (term) JOIN dfq USING (term)
                   JOIN dl ON tf.doc_id = dl.doc_id, stats),
          pd AS (SELECT qid, doc_id, round(CAST(sum(s) AS DOUBLE)/1e6, 6) AS bm25
                 FROM ts GROUP BY qid, doc_id)
          SELECT CAST(qid AS BIGINT) AS qid, doc_id, bm25 FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn
            FROM pd) WHERE rn <= 5""")),

    Q("q_bm25_prebuilt", // the search-engine form: postings + lengths +
      // stats written once ([[TermStats.buildTextIndex]], term-sorted so
      // row-group stats prune the isin), then a query touches ONLY its
      // own terms' postings rows — the corpus text is not in the plan
      // (plan-pinned). Identical results to q_bm25 by construction =>
      // same oracle.
      (s, d) => TermStats.bm25TopKPrebuilt(s, textIndexPath(s, d), "doc_id",
        Seq("data", "spark", "index"), k = 20),
      Some(sqlBm25)),

    Q("q_bundle_restore", // disaster-recovery parity gate (hydraidectl
      // backup/restore, reference backup.go:20-41): the text index is
      // EXPORTED to a write-once bundle (manifest-last, torn-refusal)
      // and IMPORTED to a fresh root, and the probe serves from the
      // RESTORED artifact — identical results to q_bm25_prebuilt by the
      // round-trip contract, so the same oracle differentially proves
      // restore fidelity cross-engine. Export+import run once per
      // (session, sf) fixture; the timed query is the probe itself.
      (s, d) => TermStats.bm25TopKPrebuilt(s, bundleRestorePath(s, d),
        "doc_id", Seq("data", "spark", "index"), k = 20),
      Some(sqlBm25)),

    Q("q_hybrid_rrf", // hybrid retrieval: reciprocal-rank fusion (Cormack
      // 2009, k0=60) of the BM25 keyword ranking and the vector cosine
      // ranking over the shared id space — the standard BM25+ANN hybrid
      // combiner. Ranks are integers and each fused score sums exactly
      // two IEEE terms, so round(6) makes the fusion engine-exact; both
      // side rankings re-rank the ROUNDED scores with key tie-breaks.
      (s, d) => {
        val text = TermStats.bm25TopK(t(s, d, "documents"), "text", "doc_id",
          Seq("data", "spark", "index"), k = 20)
        val vec = Similarity.bruteForceTopK(t(s, d, "embeddings"),
          "embedding", "vec_id", queryVec(s, d), 20)
        TermStats.rrfFuse(text, "doc_id", "bm25", vec, "vec_id", "score", k = 20)
      },
      Some("""WITH tr AS (
            SELECT doc_id, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
            FROM (""" + sqlBm25 + """)),
          vr AS (
            SELECT vec_id, score,
                   row_number() OVER (ORDER BY score DESC, vec_id) AS rb
            FROM (WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
                  SELECT vec_id, round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score
                  FROM embeddings e, q
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, vec_id ASC
                  LIMIT 20))
          SELECT coalesce(tr.doc_id, vr.vec_id) AS doc_id,
                 round(coalesce(1.0/(60 + ra), 0.0) + coalesce(1.0/(60 + rb), 0.0), 6) AS rrf
          FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.vec_id
          ORDER BY rrf DESC, doc_id LIMIT 20""")),

    Q("q_hybrid_prebuilt", // the 100 TB serving form of hybrid retrieval:
      // BOTH sides run against prebuilt artifacts only — bm25TopKPrebuilt
      // reads its terms' postings rows (dl denormalized; N, Σdl and df
      // are memoized per index version and enter the plan as literals),
      // pqTopKPrebuilt ADC-scans the m-int codes — fused with the same
      // RRF combiner as q_hybrid_rrf. Neither the corpus text nor the raw
      // embeddings appear anywhere in the plan (PlanSpec-pinned): a
      // serving query touches index bytes only.
      (s, d) => {
        val text = TermStats.bm25TopKPrebuilt(s, textIndexPath(s, d), "doc_id",
          Seq("data", "spark", "index"), k = 20)
        val vec = Similarity.pqTopKPrebuilt(s, pqIndexPath(s, d),
          "vec_id", queryVec(s, d), 20)
        TermStats.rrfFuse(text, "doc_id", "bm25", vec, "vec_id", "score", k = 20)
      },
      Some("""WITH tr AS (
            SELECT doc_id, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
            FROM (""" + sqlBm25 + """)),
          vr AS (
            SELECT vec_id, score,
                   row_number() OVER (ORDER BY score DESC, vec_id) AS rb
            FROM (""" + sqlPqTopK + """))
          SELECT coalesce(tr.doc_id, vr.vec_id) AS doc_id,
                 round(coalesce(1.0/(60 + ra), 0.0) + coalesce(1.0/(60 + rb), 0.0), 6) AS rrf
          FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.vec_id
          ORDER BY rrf DESC, doc_id LIMIT 20""")),

    Q("q_hybrid_batch", // hybrid retrieval for a BATCH of stored queries,
      // prebuilt artifacts only — the full serving pipeline (per-query
      // BM25 over postings, per-query ADC over the PQ codes, RRF fusion)
      // as ONE fused plan: both kernels' candidates rank in a single
      // tagged-union window and fuse with a groupBy sum instead of two
      // rank windows + a full-outer join (hybridRrfBatchPrebuilt; pinned
      // == the composed kernels). Neither corpus text nor raw embeddings
      // are read (PlanSpec-pinned, the q_hybrid_prebuilt contract
      // batched).
      (s, d) => {
        import s.implicits._
        val textQs = Seq(
          (0L, Seq("data", "spark", "index")),
          (1L, Seq("spark", "table")),
          (2L, Seq("index", "data"))).toDF("qid", "terms")
        val vecQs = t(s, d, "embeddings").filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding"))
        TermStats.hybridRrfBatchPrebuilt(s,
          textIndexPath(s, d), "doc_id", textQs, "qid", "terms",
          pqIndexPath(s, d), vecQs, "qid", "embedding",
          kKernel = 20, k = 10)
      },
      Some(sqlHybridBatch)),

    Q("q_lsh_recall", // the banding-scheme tuning gate, differentially
      // checked (the q_ann_recall discipline for near-dup candidate
      // generation): measured recall of (16,4) vs (16,8) banding against
      // exact pairwise Jaccard on a bounded slice. Found pairs are
      // exact-verified (⊆ truth), so recall is a ratio of exact integer
      // counts — even the recall NUMBER is engine-identical. More bands
      // (shorter rows) = higher candidate recall at the same hash budget.
      // Cost note: ~3s in-suite — a MULTI-ACTION diagnostic (truth count +
      // one full LSH pipeline count per config), each action paying the
      // scheduler floor across several stages. A tuning tool run once per
      // corpus+config decision, not a per-crawl operator; priced as such.
      (s, d) => Dedup.lshRecallReport(
        t(s, d, "documents").filter(col("doc_id") < 250), "text", "doc_id",
        shingleN = 3, threshold = 0.3, configs = Seq((16, 4), (16, 8))),
      Some(sqlLshRecall)),

    Q("q_tfidf", // smoothed TF-IDF top-5 terms per doc; scores rounded
      // BEFORE ranking so cross-engine ln() ulp noise can't flip order
      (s, d) => TermStats.tfidfTopTerms(t(s, d, "documents"), "text", "doc_id",
        k = 5, selection = col("doc_id") < 50),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
          n AS (SELECT count(*) AS n FROM documents),
          scored AS (SELECT doc_id, term,
            round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
            FROM tf JOIN dfq USING (term), n),
          ranked AS (SELECT *, row_number() OVER
            (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
            FROM scored WHERE doc_id < 50)
          SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 5""")),

    Q("q_pii_scan", // PII flags; synthetic emails/phones planted on a
      // deterministic subset so both truth values are exercised
      (s, d) => t(s, d, "documents")
        .withColumn("body", when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" contact: user"), col("doc_id"),
              lit("@example.com or 555-867-5309")))
          .otherwise(col("text")))
        .select(col("doc_id"), TF.hasEmail(col("body")).as("has_email"),
          TF.hasPhoneLike(col("body")).as("has_phone")),
      Some("""SELECT doc_id,
          regexp_matches(body, '[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}') AS has_email,
          regexp_matches(body, '[0-9]{3}-[0-9]{3,4}-[0-9]{4}') AS has_phone
          FROM (SELECT doc_id, CASE WHEN doc_id % 11 = 0
            THEN text || ' contact: user' || doc_id || '@example.com or 555-867-5309'
            ELSE text END AS body FROM documents)""")),

    Q("q_pii_redact", // redaction counterpart of q_pii_scan: same planted
      // bodies, every email/phone-shaped span replaced by a token
      (s, d) => t(s, d, "documents")
        .withColumn("body", when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" contact: user"), col("doc_id"),
              lit("@example.com or 555-867-5309")))
          .otherwise(col("text")))
        .select(col("doc_id"), TF.redactPii(col("body")).as("redacted")),
      Some("""SELECT doc_id,
          regexp_replace(regexp_replace(body,
            '[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
            '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g') AS redacted
          FROM (SELECT doc_id, CASE WHEN doc_id % 11 = 0
            THEN text || ' contact: user' || doc_id || '@example.com or 555-867-5309'
            ELSE text END AS body FROM documents)""")),

    Q("q_media_features", // multimodal plumbing; decode stub, real schema/batching
      (s, d) => Multimodal.extractFeatures(
          Multimodal.asMedia(t(s, d, "documents"), "doc_id", col("text"), "text/plain"))
        .select(col("media_id"), col("features.n_bytes").as("n_bytes"),
          col("features.digest_prefix").as("digest_prefix")),
      Some("SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes, substr(md5(text), 1, 8) AS digest_prefix FROM documents")),

    Q("q_media_frames", // frame-sampling explode plumbing
      (s, d) => Multimodal.sampleFrames(
          Multimodal.asMedia(t(s, d, "documents").filter(col("doc_id") < 20),
            "doc_id", col("text"), "video/fake"), 4)
        .select(col("media_id"), col("frame_no"), col("frame_offset_ms")),
      Some("SELECT doc_id AS media_id, f AS frame_no, (f * 1000) // 4 AS frame_offset_ms FROM documents, (SELECT unnest(range(0, 4)) AS f) WHERE doc_id < 20")))

  // ==========================================================================
  // corpus analytics: vocabulary, overlap, fuzzy vocab match, shuffle/export,
  // semi-structured JSON bodies
  // ==========================================================================

  private val corpusQueries = Seq(
    Q("q_segment_dedup", // RefinedWeb/CCNet segment-level dedup: every
      // segment keeps only its first (doc, idx) occurrence, docs reassemble
      // from survivors; text never shuffles — only (hash, key, idx) tuples
      // and per-doc int arrays do. Docs losing every segment drop out.
      (s, d) => Dedup.segmentDedup(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("text")),
      Some(s"""${sqlSegCte(10)},
          r AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM segs)
          SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text
          FROM r WHERE rn = 1 GROUP BY doc_id""")),

    Q("q_substring_dedup", // exact substring dedup (Lee et al. 2021,
      // k-gram form): every token covered by ANY 8-token window occurring
      // >= 2 times in the corpus is removed — duplicated passages at
      // arbitrary offsets, including within-doc repeats, that segment
      // boundaries slice through. One occurrence-count shuffle on 8-byte
      // gram hashes, keys-only semi back, map-side reassembly via an
      // array_except hash-set difference (O(n+c) per doc). The oracle
      // joins on gram STRINGS — equality-by-xxhash64 vs equality-by-text,
      // so the check also covers hash determinism.
      (s, d) => Dedup.substringDedup(t(s, d, "documents"), "text", "doc_id",
        k = 8, minCount = 2),
      Some(s"""WITH $sqlSubstringCtes
          SELECT t.doc_id, len(ts) AS n_tokens,
                 coalesce(ca.n_removed, 0) AS n_removed,
                 $sqlSubstringCleanText
          FROM t LEFT JOIN ca USING (doc_id)""")),

    Q("q_substring_incremental", // the crawl-vs-corpus form: the corpus's
      // side of the evidence is a prebuilt (gram hash, count) artifact
      // (built once over doc_id >= 250); the incoming half (doc_id < 250)
      // cleans against corpus count + its own counts — EXACTLY the
      // corpus ∪ incoming rule restricted to incoming docs, which is how
      // the oracle states it (full-table gram counts, output < 250).
      // Corpus text never re-read; join keys are 8-byte hashes.
      (s, d) => Dedup.substringDedupPrebuilt(s, gramIndexPath(s, d),
        t(s, d, "documents").filter(col("doc_id") < 250),
        "text", "doc_id", k = 8, minCount = 2),
      Some(s"""WITH $sqlSubstringCtes
          SELECT t.doc_id, len(ts) AS n_tokens,
                 coalesce(ca.n_removed, 0) AS n_removed,
                 $sqlSubstringCleanText
          FROM t LEFT JOIN ca USING (doc_id)
          WHERE t.doc_id < 250""")),

    Q("q_boilerplate", // frequency-based boilerplate strip: segments seen in
      // > 2 distinct docs (headers/footers/nav) drop EVERYWHERE, the rest
      // keep all their copies — frequency is the signal, not duplication
      (s, d) => Dedup.stripBoilerplate(t(s, d, "documents"), "text", "doc_id",
          maxDocs = 2)
        .select(col("doc_id"), col("text")),
      Some(s"""${sqlSegCte(10)},
          c AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
          SELECT s.doc_id, string_agg(s.seg, ' ' ORDER BY s.seg_idx) AS text
          FROM segs s JOIN c ON s.seg = c.seg WHERE c.nd <= 2 GROUP BY s.doc_id""")),

    Q("q_entropy", // unigram Shannon entropy per doc (lexical diversity):
      // ln(n) - sum(c ln c)/n in ONE agg over (doc, token) counts; both
      // engines compute the same identity, round(6) absorbs float order
      (s, d) => TermStats.tokenEntropy(t(s, d, "documents"), "text", "doc_id"),
      Some("""WITH cnt AS (SELECT doc_id, tok, count(*) AS c FROM
            (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY doc_id, tok)
          SELECT doc_id, round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
          FROM cnt GROUP BY doc_id""")),

    Q("q_lm_score", // perplexity-proxy quality score: mean ln p(token) per
      // doc under a smoothed corpus unigram LM (top-256 vocab + OOV floor).
      // Each token's ln p is integer-scaled (round(ln p * 1e6) as BIGINT)
      // BEFORE the per-doc sum, so accumulation is exact and join-order-
      // independent on both engines; only the final mean divides in floats
      (s, d) => TermStats.lmScore(t(s, d, "documents"), "text", "doc_id",
        vocabSize = 256),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          cnts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
          tot AS (SELECT sum(c) + 257.0 AS den,
                         CAST(round(ln(1.0 / (sum(c) + 257.0)) * 1e6) AS BIGINT) AS f
                  FROM cnts),
          probs AS (SELECT tok,
                           CAST(round(ln((c + 1.0) / den) * 1e6) AS BIGINT) AS lp
                    FROM (SELECT tok, c FROM cnts ORDER BY c DESC, tok LIMIT 256), tot),
          agg AS (SELECT doc_id, CAST(sum(coalesce(lp, f)) AS BIGINT) AS s,
                         count(*) AS nt
                  FROM toks LEFT JOIN probs USING (tok), tot GROUP BY doc_id)
          SELECT doc_id, round(CAST(s AS DOUBLE) / nt / 1e6, 6) AS lm_score
          FROM agg""")),

    Q("q_lm_bigram", // second-order perplexity proxy: mean ln p(b|a) per
      // doc under an add-one-smoothed bigram LM over top-64 token ids
      // (OOV=0) — catches bag-of-frequent-words spam the unigram score
      // cannot. Same exact-integer accumulation discipline as q_lm_score;
      // the (65)^2-bounded model broadcasts, one int-triple shuffle
      // builds the bigram stream, text never shuffles.
      (s, d) => TermStats.lmScoreBigram(t(s, d, "documents"), "text", "doc_id",
        vocabSize = 64),
      Some(s"""WITH $sqlBigramCtes
          SELECT doc_id, lm2_score FROM lm2""")),

    Q("q_perplexity_buckets", // CCNet's per-language head/middle/tail:
      // tercile edges of the bigram LM score computed PER lang (exact
      // interpolated percentile of the round(6) scores, itself round(6)
      // — the q_quality_calibrated boundary discipline), each doc tagged
      // by which side of its own language's edges it falls on. One
      // global fluency cutoff would wipe out low-resource languages;
      // this is the standard fix.
      (s, d) => TermStats.perplexityBuckets(t(s, d, "documents"),
        "text", "doc_id", "lang", vocabSize = 64),
      Some(s"""WITH $sqlBigramCtes,
          j AS (SELECT s.doc_id, d.lang, s.lm2_score
                FROM lm2 s JOIN documents d USING (doc_id)),
          thr AS (SELECT lang,
                    round(quantile_cont(lm2_score, ${1.0 / 3}), 6) AS q1,
                    round(quantile_cont(lm2_score, ${2.0 / 3}), 6) AS q2
                  FROM j GROUP BY lang)
          SELECT j.doc_id, j.lang, j.lm2_score,
                 CASE WHEN j.lm2_score > thr.q2 THEN 'head'
                      WHEN j.lm2_score > thr.q1 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM j JOIN thr USING (lang)""")),

    Q("q_mix_tokens", // the same rebalance with the budget in TOKENS —
      // what a training mixture actually is: long docs count for what
      // they cost. Keep-rate = min(1, budget*share / group token sum);
      // integer token sums keep the denominators engine-exact
      (s, d) => Sampling.mixToTargetWeighted(t(s, d, "documents"),
          "doc_id", "lang", size(split(col("text"), " ")),
          Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1),
          budget = 30000)
        .select(col("doc_id"), col("lang")),
      Some(s"""WITH c AS (SELECT lang, sum(len(string_split(text, ' '))) AS wsum
               FROM documents GROUP BY lang)
          SELECT d.doc_id, d.lang FROM documents d JOIN c ON d.lang = c.lang
          WHERE (${sqlHash32("d.doc_id::VARCHAR")} % 10000) / 10000.0 <
            least(1.0, 30000.0 * (CASE d.lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2
              WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.1
              ELSE 0.0 END) / c.wsum)""")),

    Q("q_mix_temperature", // α-sampling (mC4/XLM-R): the target shares are
      // COMPUTED from the corpus — share_g = cnt^α / Σ cnt^α with α = 0.5,
      // upweighting low-resource languages relative to their natural share
      // without duplicating rows. share and rate round(6) BEFORE the
      // 1e-4-granular hash draw (pow's last-ulp is the one non-exact step
      // — the standard boundary discipline).
      (s, d) => Sampling.temperatureMix(t(s, d, "documents"),
        "doc_id", "lang", alpha = 0.5, budget = 20000),
      Some(s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents
                 WHERE lang IS NOT NULL GROUP BY lang),
          sh AS (SELECT lang, cnt,
                   round(pow(cnt, 0.5) / sum(pow(cnt, 0.5)) OVER (), 6) AS share
                 FROM c),
          r AS (SELECT lang, share,
                  round(least(1.0, 20000.0 * share / cnt), 6) AS rate FROM sh)
          SELECT d.doc_id, d.lang, r.share, r.rate
          FROM documents d JOIN r ON d.lang = r.lang
          WHERE (${sqlHash32("d.doc_id::VARCHAR")} % 10000) / 10000.0 < r.rate""")),

    Q("q_repeat_epochs", // data-constrained epoch allocation (Muennighoff
      // 2023): budget 40k tokens, the standard lang mixture, repeats
      // capped at 2 epochs — 'de' hits the cap (its share over-asks its
      // mass), the rest allocate fractionally. Exact int64 token masses;
      // epochs round(6) BEFORE the effective-token product so both
      // engines multiply the identical double.
      (s, d) => Curation.repeatEpochs(t(s, d, "documents"), "text", "lang",
        Map("en" -> 0.35, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.1),
        budgetTokens = 40000L, maxEpochs = 2.0),
      Some("""WITH c AS (SELECT lang,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS m_tokens
                FROM documents GROUP BY lang),
          s AS (SELECT lang, m_tokens,
                  CAST(CASE lang WHEN 'en' THEN 0.35 WHEN 'de' THEN 0.2
                    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.1
                    ELSE 0.0 END AS DOUBLE) AS share FROM c),
          e AS (SELECT lang, m_tokens, share,
                  round(least(2.0, 40000.0 * share / m_tokens), 6) AS epochs
                FROM s)
          SELECT lang, m_tokens, share, epochs,
                 CAST(round(epochs * m_tokens) AS BIGINT) AS eff_tokens
          FROM e""")),

    Q("q_doremi_step", // one DoReMi multiplicative-weights update (Xie
      // 2023 eq. 2): per-lang excess loss (stand-in: 1 - mean quality,
      // from telemetry in production) reweights the reference shares —
      // share ∝ ref·exp(eta·loss), renormalized. The corpus contributes
      // one |langs|-row agg; everything after is bounded-frame math.
      (s, d) => {
        val allW = org.apache.spark.sql.expressions.Window.partitionBy()
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val g = t(s, d, "documents")
          .withColumn("q", TF.qualityScore(col("text")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("_n"),
            round(lit(1.0) - avg(col("q")), 6).as("loss"))
          .withColumn("ref_share",
            round(col("_n").cast("double") / sum(col("_n")).over(allW), 6))
        Curation.doremiStep(g, "lang", "ref_share", "loss", eta = 2.0)
      },
      Some(s"""WITH q AS (${sqlQualityFrom("documents")}),
          j AS (SELECT d.lang, q.quality FROM q JOIN documents d USING (doc_id)),
          g AS (SELECT lang, count(*) AS n, round(1.0 - avg(quality), 6) AS loss
                FROM j GROUP BY lang),
          r AS (SELECT lang, round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS ref_share,
                  loss FROM g),
          w AS (SELECT lang, ref_share, loss,
                  round(ref_share * exp(2.0 * (loss - max(loss) OVER ())), 6) AS uw FROM r)
          SELECT lang, ref_share, loss,
                 round(uw / sum(uw) OVER (), 6) AS new_share FROM w""")),

    Q("q_token_shards", // TOKEN-balanced export sharding: shards of equal
      // token MASS (training loaders consume tokens; a long-doc shard is
      // the epoch straggler under row-balanced hashing). Fine buckets →
      // bounded mass agg → exact-integer prefix assignment broadcast
      // back; no float anywhere, corpus never shuffles for assignment.
      (s, d) => Export.tokenBalancedShards(t(s, d, "documents"),
        "text", "doc_id", nShards = 8),
      Some(s"""WITH t AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                  CAST(${sqlHash32("doc_id::VARCHAR")} % 512 AS BIGINT) AS bucket
                FROM documents),
          bm AS (SELECT bucket, CAST(sum(tokens) AS BIGINT) AS bm FROM t GROUP BY bucket),
          cw AS (SELECT bucket,
                   CAST(coalesce(sum(bm) OVER (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
                   CAST(sum(bm) OVER () AS BIGINT) AS total FROM bm),
          a AS (SELECT bucket, least(7, cumb // ((total + 7) // 8)) AS shard FROM cw)
          SELECT t.doc_id, t.tokens, CAST(a.shard AS BIGINT) AS shard
          FROM t JOIN a USING (bucket)""")),

    Q("q_pipeline_v2", // the MODERN curation pipeline end to end, four
      // published stages composed in one plan: Gopher hard rules →
      // exact dedup (min-key winner) → per-language perplexity terciles
      // trained on the SURVIVORS (drop the tail) → temperature-mixed
      // sampling to a row budget. Every stage is the already-oracled
      // operator; the composite pins that they compose without drift
      // (the bigram model here trains on gated+deduped docs, not the
      // raw corpus — the real pipeline ordering).
      (s, d) => {
        val docs = t(s, d, "documents")
        // scan-side gate (r18): gopherGate filters the corpus in ITS OWN
        // scan — the old flags-join form read every doc's text twice
        // (gate branch + payload side of the join); row-identical under
        // unique doc_id (CurationRulesSpec-pinned)
        val gated = Curation.gopherGate(docs, "text",
          minWords = 30, maxWords = 100000, stops = Seq("the", "a"))
        // the survivor set feeds the bigram scorer's SEVERAL passes
        // (vocab agg, encode, bigram counts, per-doc score) — cache it
        // once instead of re-running the gate + dedup per pass,
        // exactly the materialize-survivors step a 100 TB pipeline makes
        val deduped = graft.CacheRegistry.track(
          Dedup.exact(gated, "text", "doc_id"))
        val kept = TermStats.perplexityBuckets(deduped, "text", "doc_id",
          "lang", vocabSize = 64)
          .filter(col("bucket") =!= "tail")
          .select(col("doc_id"), col("lang"))
        Sampling.temperatureMix(kept, "doc_id", "lang", alpha = 0.5,
          budget = 150)
      },
      Some(s"""WITH t0 AS (SELECT doc_id, text, lang, string_split(text, ' ') AS ts FROM documents),
          m0 AS (SELECT doc_id,
                  CAST(len(ts) AS BIGINT) AS n_words,
                  CAST(list_sum(list_transform(ts, x -> length(x))) AS BIGINT) AS sum_len,
                  CAST(len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                  CAST(len(list_filter(ts, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS n_sym,
                  CAST(len(list_intersect(list_distinct(ts),
                    ['the','a'])) AS BIGINT) AS n_stop
                FROM t0),
          g AS (SELECT t0.doc_id, t0.text, t0.lang FROM t0 JOIN m0 USING (doc_id)
                WHERE (n_words >= 30 AND n_words <= 100000)
                  AND (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
                  AND (10 * n_alpha >= 8 * n_words)
                  AND (10 * n_sym <= n_words)
                  AND (n_stop >= 2)),
          dd AS (SELECT doc_id, text, lang FROM (
                   SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                   FROM g) WHERE rn = 1),
          ${sqlBigramCtesFrom("dd")},
          j AS (SELECT s.doc_id, d.lang, s.lm2_score
                FROM lm2 s JOIN dd d USING (doc_id)),
          thr AS (SELECT lang, round(quantile_cont(lm2_score, ${1.0 / 3}), 6) AS q1
                  FROM j GROUP BY lang),
          k AS (SELECT j.doc_id, j.lang FROM j JOIN thr USING (lang)
                WHERE j.lm2_score > thr.q1),
          c AS (SELECT lang, count(*) AS cnt FROM k GROUP BY lang),
          sh AS (SELECT lang, cnt,
                   round(pow(cnt, 0.5) / sum(pow(cnt, 0.5)) OVER (), 6) AS share
                 FROM c),
          r AS (SELECT lang, share,
                  round(least(1.0, 150.0 * share / cnt), 6) AS rate FROM sh)
          SELECT k.doc_id, k.lang, r.share, r.rate
          FROM k JOIN r USING (lang)
          WHERE (${sqlHash32("k.doc_id::VARCHAR")} % 10000) / 10000.0 < r.rate""")),

    Q("q_mix_reweight", // rebalance toward a target language mixture under a
      // row budget: per-group keep-rate = min(1, budget*share/count) via the
      // portable md5 draw — counts broadcast back, membership stays a pure
      // per-row predicate
      (s, d) => Sampling.mixToTarget(t(s, d, "documents"), "doc_id", "lang",
          Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1),
          budget = 300)
        .select(col("doc_id"), col("lang")),
      Some(s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
          SELECT d.doc_id, d.lang FROM documents d JOIN c ON d.lang = c.lang
          WHERE (${sqlHash32("d.doc_id::VARCHAR")} % 10000) / 10000.0 <
            least(1.0, 300.0 * (CASE d.lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2
              WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.1
              ELSE 0.0 END) / cnt)""")),

    Q("q_vocab_encode", // vocabulary indexing + corpus encoding: ids by
      // frequency rank (ties by token text — engine-independent), OOV = 0.
      // The vocab (model-sized by definition) broadcasts; the corpus
      // encodes in its scan stage with no shuffle
      (s, d) => TermStats.encodeTokens(t(s, d, "documents"), "text", "doc_id",
        vocabSize = 50),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
            unnest(range(len(string_split(text, ' ')))) AS pos FROM documents),
          vocab AS (SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS id
            FROM tok GROUP BY t)
          SELECT tok.doc_id, tok.pos, coalesce(v.id, 0) AS token_id
          FROM tok LEFT JOIN (SELECT * FROM vocab WHERE id <= 50) v USING (t)""")),

    Q("q_bpe_train", // BPE vocabulary induction (Sennrich 2016): 4 merge
      // iterations over the WORD-FREQUENCY table — after one corpus pass,
      // training never touches the corpus again (the classic BPE scale
      // trick). Integer pair counts + lexicographic tie-breaks + the
      // boundary-safe replace encoding (Bpe scaladoc) make the learned
      // merges and final vocab engine-exact; the oracle replays the
      // identical 4 iterations as a CTE chain.
      (s, d) => Bpe.train(t(s, d, "documents"), "text", merges = 4)._2,
      Some(sqlBpeTrain)),

    Q("q_bpe_encode", // the APPLY half: segment the corpus with the 4
      // learned merges. The word→tokens dictionary broadcasts and the
      // corpus tokenizes in its scan stage — text never shuffles.
      // Out-of-scope words pass through as single opaque tokens (no silent
      // drops). trainEncode reuses the trained working table as the
      // dictionary (r18, == applyMerges(train(…)._1) BpeSpec-pinned):
      // the apply half's corpus explode+distinct+merge-replay re-derived
      // exactly what training materialized (guide §2.4).
      (s, d) => Bpe.trainEncode(t(s, d, "documents"), "text", "doc_id", 4),
      Some(sqlBpeEncode)),

    Q("q_containment", // asymmetric duplication: a short doc quoted inside
      // a long one has containment ~1 but LOW Jaccard, so MinHash near-dup
      // never finds it. Exact inverted-index kernel on 32-bit shingle
      // hashes; stop-shingle cap bounds the quadratic hot tail
      (s, d) => Dedup.containmentPairs(t(s, d, "documents"), "text", "doc_id",
        shingleN = 3, minContainment = 0.5, maxDf = 20),
      Some(sqlContainment)),

    Q("q_containment_prebuilt", // the 100 TB form of the heaviest dedup
      // kernel: the distinct (key, shingle-hash) posting table is the
      // write-once artifact (Dedup.buildShinglePostings, memoized per
      // (session, dir) like the signature table) and the pass reads two
      // int-sized columns — text is never rescanned, and the artifact is
      // shared across maxDf/threshold sweeps. Results identical to
      // q_containment by construction => same oracle
      (s, d) => Dedup.containmentPairsPrebuilt(s, postingsPath(s, d),
        minContainment = 0.5, maxDf = 20),
      Some(sqlContainment)),

    Q("q_heavy_hitters", // sketch-based frequent items — the one-pass,
      // mergeable form of q_word_freq for when even the vocabulary is too
      // big to shuffle exactly: per-partition sketches merge like HLL
      // (q_sketch_union). maxItemsTracked far above the head size makes
      // the reported counts EXACT for true heavy hitters, so the oracle
      // is the exact top-k (k=9 cuts at a strict count gap in the
      // fixture — no tie ambiguity at the boundary)
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .agg(expr("approx_top_k(tok, 9, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("term"), col("e.count").as("cnt")),
      Some("""SELECT tok AS term, count(*) AS cnt FROM
            (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok ORDER BY cnt DESC, tok LIMIT 9""")),

    Q("q_word_freq", // corpus Zipf head: one explode + one map-side-combined agg
      (s, d) => TermStats.wordFreq(t(s, d, "documents"), "text", 20),
      Some("""SELECT word, count(*) AS cnt FROM
              (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY word ORDER BY cnt DESC, word LIMIT 20""")),

    Q("q_corpus_overlap_sketch", // bottom-k estimate of the exact overlap
      // below — the 100 TB path when even distinct shingle sets are too
      // big to join. One TakeOrdered per side (k smallest md5 draws), two
      // k-row semi-joins; the estimate is integer counts + one division,
      // so even the APPROXIMATION is hash-checked against DuckDB.
      (s, d) => {
        val docs = t(s, d, "documents")
        TermStats.corpusOverlapSketch(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), "text", 3, k = 256)
      },
      Some(s"""WITH ba AS (SELECT sh FROM (SELECT DISTINCT unnest($sqlShingles3) AS sh FROM documents WHERE source = 'src0') ORDER BY md5(sh), sh LIMIT 256),
               bb AS (SELECT sh FROM (SELECT DISTINCT unnest($sqlShingles3) AS sh FROM documents WHERE source = 'src1') ORDER BY md5(sh), sh LIMIT 256),
               bu AS (SELECT sh FROM (SELECT DISTINCT sh FROM (SELECT sh FROM ba UNION ALL SELECT sh FROM bb)) ORDER BY md5(sh), sh LIMIT 256),
               i AS (SELECT count(*) AS inter_k FROM bu WHERE sh IN (SELECT sh FROM ba) AND sh IN (SELECT sh FROM bb)),
               ke AS (SELECT count(*) AS k_eff FROM bu)
               SELECT k_eff, inter_k, round(CAST(inter_k AS DOUBLE) / k_eff, 6) AS jaccard_est FROM i, ke""")),

    Q("q_corpus_overlap", // exact shingle-set Jaccard between two sources
      (s, d) => {
        val docs = t(s, d, "documents")
        TermStats.corpusOverlap(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), "text", 3)
      },
      Some(s"""WITH sa AS (SELECT DISTINCT unnest($sqlShingles3) AS sh FROM documents WHERE source = 'src0'),
               sb AS (SELECT DISTINCT unnest($sqlShingles3) AS sh FROM documents WHERE source = 'src1'),
               i AS (SELECT count(*) AS inter FROM sa JOIN sb USING (sh))
               SELECT inter,
                 (SELECT count(*) FROM sa) + (SELECT count(*) FROM sb) - inter AS uni,
                 round(inter::DOUBLE / ((SELECT count(*) FROM sa) + (SELECT count(*) FROM sb) - inter), 6) AS jaccard
               FROM i""")),

    Q("q_fuzzy_pairs", // blocked Levenshtein over the DISTINCT name vocabulary;
      // block key (second token) is part of the contract, mirrored exactly
      (s, d) => Fuzzy.pairs(t(s, d, "part"), "p_name",
        v => element_at(split(v, " "), 2), maxDist = 3),
      Some("""WITH vocab AS (SELECT DISTINCT p_name AS v, string_split(p_name, ' ')[2] AS bk FROM part)
              SELECT a.v AS name_a, b.v AS name_b, levenshtein(a.v, b.v) AS dist
              FROM vocab a JOIN vocab b USING (bk)
              WHERE a.v < b.v AND levenshtein(a.v, b.v) <= 3""")),

    Q("q_det_shuffle", // reproducible corpus shuffle: order by md5(seed||key),
      // a uniform range-sort at scale; first 50 of the shuffled order
      (s, d) => Sampling.deterministicShuffle(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "s42")
        .limit(50),
      Some("""SELECT doc_id, md5(concat('s42-', cast(doc_id AS VARCHAR))) AS ord_key
              FROM documents ORDER BY ord_key LIMIT 50""")),

    Q("q_length_histogram", // corpus length distribution in 50-char buckets
      (s, d) => t(s, d, "documents")
        .groupBy(floor(col("n_chars") / 50).as("bucket"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy(col("bucket")),
      Some("""SELECT cast(floor(n_chars / 50) AS BIGINT) AS bucket, count(*) AS cnt,
              round(avg(n_chars), 6) AS avg_chars FROM documents GROUP BY 1 ORDER BY 1""")),

    Q("q_bloom_semi", // table-probe regime of KeyProbe: bloom pre-filter in
      // the scan stage (no false negatives), exact semi-join on survivors —
      // the bloom is invisible to semantics, so the oracle is a plain IN
      (s, d) => KeyProbe.semiJoin(t(s, d, "orders"), "o_custkey",
          t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"),
          "c_custkey", expectedKeys = 10000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""")),

    Q("q_bloom_anti", // bloom-split anti: definite-miss rows never shuffle
      (s, d) => KeyProbe.antiJoin(t(s, d, "orders"), "o_custkey",
          t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"),
          "c_custkey", expectedKeys = 10000)
        .select(col("o_orderkey"), col("o_custkey")),
      Some("""SELECT o_orderkey, o_custkey FROM orders
              WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""")),

    Q("q_normalize", // codegen'd unicode normalization (NFD-strip-marks,
      // lowercase, whitespace collapse, NFC) — the canonical cleaning pass
      // before byte-identity dedup; corpus is ASCII so the oracle's
      // strip_accents/nfc_normalize agree exactly, accents pinned in unit
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.NormalizeFunctions.normalizeText(col("text")).as("text_norm")),
      Some("""SELECT doc_id, trim(regexp_replace(strip_accents(nfc_normalize(lower(text))), '\s+', ' ', 'g')) AS text_norm FROM documents""")),

    Q("q_json_extract", // dynamic JSON body access — the schemaless-body
      // filter surface (reference filter.go's msgpack path walk) over JSON
      // wire format; extraction stays a string until the caller casts
      // parse ONCE (r18, guide §4.4): the bare select+filter form lets
      // predicate pushdown clone get_json_object below the projection, so
      // every row parsed in the Filter and every survivor re-parsed in the
      // Project; the evalOnce barrier keeps one parse per row (plan-pinned
      // in PlanSpec). A derived-column predicate never reaches the parquet
      // scan, so nothing is lost by holding the filter above the project.
      (s, d) => t(s, d, "events")
        .select(col("event_id"), graft.functions.EvalOnceExpr.evalOnce(
          get_json_object(col("props"), "$.k")).as("k"))
        .filter(col("k").cast("int") > 80),
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS k FROM events
              WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80""")))

  // ==========================================================================
  // learned curation: DSIR importance resampling (Xie et al. 2023) and a
  // fastText-shaped hashed Naive-Bayes quality classifier (Joulin 2016 /
  // Weinberger 2009) — the distribution-matching and classifier-gate
  // stages of a pretraining pipeline, plus one-pass multi-benchmark
  // decontamination. All follow the lmScore exactness discipline: log
  // weights integer-scale (round(ln·1e6) AS BIGINT) before any sum.
  // ==========================================================================

  private val curationMlQueries = Seq(
    Q("q_dsir_weights", // DSIR: per-doc log importance ratio of a hashed
      // n-gram target model (docs < 25 as the "curated target") vs the raw
      // pool. Models are 1024-bucket-bounded aggs; scoring is a MAP-ONLY
      // fold against a dense int64 LUT literal — the corpus never joins,
      // never shuffles (the 100 TB shape: score in the scan stage)
      (s, d) => {
        val docs = t(s, d, "documents")
        // tagged fused model (r17): target ⊆ raw here, so one corpus scan
        // + one shuffle builds both count sides — identical lr table
        // (Importance.dsirLogRatiosTagged scaladoc, unit-pinned)
        Importance.dsirScore(docs, "text", "doc_id",
          Importance.dsirLogRatiosTagged(docs, col("doc_id") < 25,
            "text", buckets = 1024),
          buckets = 1024)
      },
      Some(s"""${sqlDsirWeightsCte(1024, 25)}
          SELECT doc_id, round(CAST(s AS DOUBLE) / 1e6, 6) AS weight FROM sc""")),

    Q("q_dsir_sample", // DSIR selection: keep the 150 best-matching docs —
      // TakeOrdered (per-partition heaps, no global sort), key tie-break
      (s, d) => {
        val docs = t(s, d, "documents")
        Importance.dsirSelect(
          Importance.dsirScore(docs, "text", "doc_id",
            Importance.dsirLogRatiosTagged(docs, col("doc_id") < 25,
              "text", buckets = 1024),
            buckets = 1024),
          "doc_id", "weight", n = 150)
      },
      Some(s"""${sqlDsirWeightsCte(1024, 25)}
          SELECT doc_id, round(CAST(s AS DOUBLE) / 1e6, 6) AS weight FROM sc
          ORDER BY weight DESC, doc_id ASC LIMIT 150""")),

    Q("q_nb_train", // hashed-NB training: per-slot integer-scaled log-odds
      // from the 80% split (doc_id % 5 <> 0), label = (lang = 'en'). The
      // model is <= 512 rows BY CONSTRUCTION — broadcastable at any corpus
      // size; training's only shuffle is the slot-bounded count exchange
      (s, d) => Classify.nbTrain(
        t(s, d, "documents").filter(col("doc_id") % 5 =!= 0)
          .withColumn("_y", col("lang") === "en"),
        "text", "_y", buckets = 512),
      Some(s"""${sqlNbCte(512)}
          SELECT bucket, llr FROM llr""")),

    Q("q_nb_score", // classifier gate: score = (bias + Σ llr[slot(tok)])/1e6,
      // pred = score > 0 — the fastText-form linear pass every corpus
      // quality filter ships. FUSED fit: slot table + bias + floor from
      // ONE training action (sentinel-bucket doc counts ride the slot
      // aggregation); scoring is the shuffle-free scan-stage LUT fold
      (s, d) => {
        val train = t(s, d, "documents").filter(col("doc_id") % 5 =!= 0)
          .withColumn("_y", col("lang") === "en")
        Classify.nbScore(t(s, d, "documents"),
          Classify.nbFit(train, "text", "_y", buckets = 512),
          "text", "doc_id")
      },
      Some(s"""${sqlNbCte(512)},
          alltok AS (SELECT doc_id, ${sqlHash32("tok")} % 512 AS bucket
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
          sc AS (SELECT doc_id, CAST(sum(coalesce(llr.llr, flo.f)) AS BIGINT) AS s
            FROM alltok LEFT JOIN llr USING (bucket), flo GROUP BY doc_id)
          SELECT doc_id, round(CAST(sc.s + consts.bias AS DOUBLE) / 1e6, 6) AS score,
                 (sc.s + consts.bias) > 0 AS pred
          FROM sc, consts""")),

    Q("q_phrase_prebuilt", // exact phrase search over the PREBUILT
      // positional index: slot-offset voting over positional postings
      // (count(distinct slot) = k per candidate start) — the serving form
      // of q_phrase_match, which re-scans every document per query. The
      // probe reads ONLY the phrase's own terms' postings (pushed isin,
      // term-sorted layout; corpus text not in the plan — PlanSpec-pinned)
      (s, d) => TermStats.phraseSearchPrebuilt(s, phraseIndexPath(s, d),
        "doc_id", Seq("big", "table")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                unnest(range(len(string_split(text, ' ')))) AS pos FROM documents),
          slots(term, slot) AS (VALUES ('big', CAST(0 AS BIGINT)), ('table', CAST(1 AS BIGINT))),
          m AS (SELECT doc_id, pos - slot AS base, slot FROM tok JOIN slots USING (term)),
          hit AS (SELECT doc_id, base FROM m GROUP BY doc_id, base
                  HAVING count(DISTINCT slot) = 2)
          SELECT doc_id, count(*) AS phrase_hits FROM hit GROUP BY doc_id""")),

    Q("q_decontam_multi", // decontaminate against MANY benchmarks in ONE
      // corpus pass: per-(doc, benchmark) shingle overlap with the K eval
      // sets unioned (set-tagged) into a single broadcast probe — K
      // separate q_contamination runs would re-scan the 100 TB corpus K
      // times; here the corpus scan amortizes across every benchmark
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.contaminationMulti(docs, docs.filter(col("doc_id") < 30),
          "text", "doc_id", setCol = "source", shingleN = 3)
          .filter(col("overlap") >= 2)
      },
      Some(s"""WITH b AS (SELECT DISTINCT source AS bench_set,
                unnest(list_distinct($sqlShingles3)) AS sh
              FROM documents WHERE doc_id < 30),
          e AS (SELECT doc_id, unnest(list_distinct($sqlShingles3)) AS sh FROM documents)
          SELECT doc_id, bench_set, count(*) AS overlap FROM e JOIN b USING (sh)
          GROUP BY doc_id, bench_set HAVING count(*) >= 2""")))

  // ==========================================================================
  // event analytics: cohort retention, funnel, gap-fill, profiling — the
  // event-workload queries the reference's catalog swamps feed client-side
  // today, run engine-side as declarative plans
  // ==========================================================================

  private val analyticsQueries = Seq(
    Q("q_sessionize", // batch gap-based sessionization: stable per-user
      // session IDs from plain window functions — the session_window
      // analogue with a joinable id (same >= boundary rule, so both
      // formulations agree event-for-event). Integer-microsecond gap
      // compares: no float epoch to disagree across engines
      (s, d) => Sessionize.sessions(t(s, d, "events"),
          "user_id", "ts", "event_id", gapSeconds = 1800)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start"), col("session_end")),
      Some("""WITH l AS (SELECT user_id, event_id, ts,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events),
          s AS (SELECT user_id, ts,
            sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 1800000000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
          FROM l)
          SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
            count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
          FROM s GROUP BY user_id, session_id""")),

    Q("q_pivot_events", // categorical pivot to wide: day x event_type count
      // matrix with a FIXED column list (the at-scale discipline — an
      // unpinned pivot pays a distinct-scan planning pass and can explode
      // the schema); absent cells are 0, matching the oracle's FILTER form
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .pivot("event_type", types).agg(count(lit(1)))
        p.select(col("day") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
      },
      Some("""SELECT CAST(ts AS DATE) AS day,
          count(*) FILTER (event_type = 'click') AS click,
          count(*) FILTER (event_type = 'error') AS error,
          count(*) FILTER (event_type = 'purchase') AS purchase,
          count(*) FILTER (event_type = 'signup') AS signup,
          count(*) FILTER (event_type = 'view') AS view
          FROM events GROUP BY day""")),

    Q("q_cube", // full grouping-sets lattice over (lang, source) — the cube
      // companion to q_rollup (§2.4): 1 + |lang| + |source| + |lang x source|
      // groups in one pass, Spark expands to grouping sets before the agg
      (s, d) => t(s, d, "documents").cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("n_chars")), 2).as("avg_chars")),
      Some("""SELECT lang, source, count(*) AS cnt, round(avg(n_chars), 2) AS avg_chars
          FROM documents GROUP BY CUBE (lang, source)""")),

    Q("q_group_corr", // per-group bivariate profiling: does value drift with
      // time within each event type? corr is normalized to [-1,1], so
      // round(6) absorbs accumulation-order float noise; one hash agg pass
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(round(corr(col("value"), unix_micros(col("ts")).cast("double")), 6)
            .as("corr_value_time"),
          count(lit(1)).as("n")),
      Some("""SELECT event_type,
          round(corr(value, CAST(epoch_us(ts) AS DOUBLE)), 6) AS corr_value_time,
          count(*) AS n FROM events GROUP BY event_type""")),

    Q("q_ntile", // quartile bucketing within each event type — the feature-
      // engineering primitive (discretize a continuous signal per group);
      // (value, event_id) tie-break makes the order total, so every bucket
      // edge is engine-independent
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
        t(s, d, "events").select(col("event_id"), col("event_type"), col("value"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
      },
      Some("""SELECT event_id, event_type, value,
          ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile,
          round(percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS pct_rank
          FROM events""")),

    Q("q_data_card", // the corpus datasheet in ONE scan: volume, source/
      // language breadth, length profile (exact interpolated median),
      // and exact duplicate rate off the text digest — the summary block
      // every dataset release ships, as a single aggregation pass
      // source/lang breadth via size(collect_set): both are bounded
      // enums (dozens of values at any corpus size), and folding them
      // into set-aggregates leaves md5(text) as the ONLY distinct group —
      // below two groups Spark skips the Expand rewrite that would
      // otherwise quadruple every row into the shuffle (A/B at sf0.1:
      // 0.38 -> 0.31 s). The digest column itself stays countDistinct:
      // it is corpus-cardinality, exactly what partial-distinct handles
      (s, d) => t(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        size(collect_set(col("source"))).cast("long").as("n_sources"),
        size(collect_set(col("lang"))).cast("long").as("n_langs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(expr("percentile(n_chars, 0.5)"), 2).as("p50_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(lit(1.0) -
          countDistinct(md5(col("text"))).cast("double") / count(lit(1)), 4)
          .as("dup_rate")),
      Some("""SELECT count(*) AS n_docs,
          count(DISTINCT source) AS n_sources, count(DISTINCT lang) AS n_langs,
          round(avg(n_chars), 2) AS avg_chars,
          round(quantile_cont(n_chars, 0.5), 2) AS p50_chars,
          min(n_chars) AS min_chars, max(n_chars) AS max_chars,
          round(1.0 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 4) AS dup_rate
          FROM documents""")),

    Q("q_decayed_sum", // exponentially time-decayed aggregate (7-day time
      // constant) — the trending-score primitive: recent events dominate,
      // old ones fade smoothly; one hash agg, decay computed per-row in
      // the scan stage against a fixed reference instant
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(round(sum(col("value") *
            exp((lit(1706659200000000L) - unix_micros(col("ts"))) / lit(-1e6) / lit(604800.0))),
          4).as("dsum")),
      Some("""SELECT event_type,
          round(sum(value * exp((epoch_us(TIMESTAMP '2024-01-31') - epoch_us(ts)) / -1e6 / 604800.0)), 4) AS dsum
          FROM events GROUP BY event_type""")),

    Q("q_psi_drift", // population stability index per source vs the corpus
      // length distribution — the standard data-drift gate between a new
      // crawl and the corpus baseline. Buckets absent from a source
      // contribute nothing (the practical PSI convention); ONE corpus scan
      // + one (source, bkt) hash agg — the per-source totals, per-bucket
      // marginals, and grand total are all EXACT integer sums of that
      // fine-grained frame (≤ |sources|·10 rows), so they derive from it
      // via windows instead of re-scanning the corpus (r17: was two full
      // scans + two corpus-wide aggs + a join; guide §2.4)
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val p = t(s, d, "documents").select(col("source"),
            least(floor(col("n_chars") / 50), lit(9)).cast("long").as("bkt"))
          .groupBy(col("source"), col("bkt")).agg(count(lit(1)).as("c"))
          .withColumn("n", sum(col("c")).over(W.partitionBy(col("source"))))
          .withColumn("cq", sum(col("c")).over(W.partitionBy(col("bkt"))))
          .withColumn("nq", sum(col("c")).over(W.partitionBy()))
        p.select(col("source"),
            ((col("c") / col("n") - col("cq") / col("nq")) *
              log((col("c") / col("n")) / (col("cq") / col("nq")))).as("term"))
          .groupBy(col("source")).agg(round(sum(col("term")), 6).as("psi"))
      },
      Some("""WITH b AS (SELECT source, least(n_chars // 50, 9) AS bkt FROM documents),
          p AS (SELECT source, bkt, count(*) AS c FROM b GROUP BY 1, 2),
          pt AS (SELECT source, sum(c) AS n FROM p GROUP BY 1),
          q AS (SELECT bkt, count(*) AS cq, sum(count(*)) OVER () AS nq FROM b GROUP BY 1)
          SELECT p.source,
            round(sum((p.c / CAST(pt.n AS DOUBLE) - q.cq / CAST(q.nq AS DOUBLE)) *
                      ln((p.c / CAST(pt.n AS DOUBLE)) / (q.cq / CAST(q.nq AS DOUBLE)))), 6) AS psi
          FROM p JOIN pt ON p.source = pt.source JOIN q ON p.bkt = q.bkt
          GROUP BY p.source""")),

    Q("q_k_anonymity", // privacy audit: quasi-identifier combinations whose
      // group is smaller than k re-identify their members — the release
      // gate a PII-scrubbed corpus still needs. One hash agg on the
      // quasi-identifier tuple; the at-risk set is the output, so the scan
      // is single-pass and the result is broadcast-sized by construction
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS n,
          count(*) < 5 AS at_risk FROM customer GROUP BY c_nationkey, c_mktsegment""")),

    Q("q_incremental_agg", // incremental view maintenance: a materialized
      // (count, sum) rollup advanced by a change batch (inserts + deletes
      // + modifications as remove-old/add-new) WITHOUT re-reading the
      // base. Oracle = the full recompute over the final state — and the
      // sums are DECIMAL, not double: decimal addition is exact and
      // order-independent, so "incremental == recompute" holds to the
      // last cent instead of to float-accumulation luck (a double sum of
      // ~1e8 sits ~1e-6 from a cent boundary — sf0.001 actually flipped
      // one). This is also the type-preservation path: applyChanges must
      // keep the decimal sum exactly, not silently widen to double
      (s, d) => {
        val orders = t(s, d, "orders")
          .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
        val base = orders.filter(col("o_orderkey") % 4 =!= 0)
        val inserts = orders.filter(col("o_orderkey") % 4 === 0)
        val deletes = base.filter(col("o_custkey") % 13 === 0)
        val modOld = base.filter(col("o_custkey") % 17 === 0 &&
          col("o_custkey") % 13 =!= 0)
        val modNew = modOld.withColumn("price",
          (col("price") + lit(BigDecimal("10.00"))).cast("decimal(18,2)"))
        IncrementalAgg.applyChanges(
            IncrementalAgg.rollup(base, "o_orderstatus", "price"),
            inserts.unionByName(modNew), deletes.unionByName(modOld),
            "o_orderstatus", "price")
          .select(col("o_orderstatus"), col("cnt"),
            col("sum_v").cast("decimal(38,2)").as("sum_v"), col("cnt_v"))
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt, sum(price) AS sum_v,
            count(price) AS cnt_v
          FROM (
            SELECT o_orderstatus,
              CASE WHEN o_custkey % 17 = 0 AND o_custkey % 13 <> 0
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
                   ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
            FROM orders WHERE o_orderkey % 4 <> 0 AND o_custkey % 13 <> 0
            UNION ALL
            SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
            FROM orders WHERE o_orderkey % 4 = 0)
          GROUP BY o_orderstatus""")),

    Q("q_cohort_retention", // cohort = first active day; distinct actives per
      // (cohort, day offset). ONE user_id shuffle carrying mergeable
      // per-user day SETS (bounded by the date span — the q_distinct_set
      // §2.4 slice discipline), then a tiny (cohort, offset) agg: d0 and
      // the distinct days both read off the one set, so the old
      // distinct → groupBy → self-join → countDistinct-Expand chain (3
      // corpus-wide exchanges + a join) collapses to one exchange + one
      // bounded agg (r17, guide §2.3/§2.4). count(*) == countDistinct
      // here BY CONSTRUCTION: days are distinct per user, so each user
      // hits a (cohort_day, offset) cell at most once. The isNotNull
      // filter is a NO-OP on the fixture (the generator always sets
      // user_id) but pins the equivalence by construction: a null user
      // would form its own Spark-side group while the oracle's equi-join
      // silently drops it (r17 ADVICE).
      (s, d) => {
        t(s, d, "events")
          .filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(collect_set(to_date(col("ts"))).as("_days"))
          .select(array_min(col("_days")).as("d0"), explode(col("_days")).as("day"))
          .select(col("d0").as("cohort_day"),
            datediff(col("day"), col("d0")).cast("long").as("day_offset"))
          .filter(col("day_offset") <= 7)
          .groupBy("cohort_day", "day_offset")
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH ev AS (SELECT DISTINCT user_id, cast(ts AS DATE) AS day FROM events),
              c AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY 1)
              SELECT d0 AS cohort_day, date_diff('day', d0, day) AS day_offset,
                     count(DISTINCT ev.user_id) AS n_users
              FROM ev JOIN c USING (user_id)
              WHERE date_diff('day', d0, day) <= 7 GROUP BY 1, 2""")),

    Q("q_funnel", // staged conversion: view -> click after view -> purchase
      // after that click; one shuffle (per-user min-pivot), then a scalar agg
      (s, d) => {
        val perUser = t(s, d, "events").groupBy("user_id").agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        perUser.agg(
          count(col("t_view")).as("n_view"),
          count(when(col("t_click") > col("t_view"), 1)).as("n_click_after_view"),
          count(when(col("t_click") > col("t_view") &&
            col("t_purchase") > col("t_click"), 1)).as("n_full_funnel"))
      },
      Some("""WITH u AS (SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
              FROM events GROUP BY 1)
              SELECT count(t_view) AS n_view,
                count(CASE WHEN t_click > t_view THEN 1 END) AS n_click_after_view,
                count(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END) AS n_full_funnel
              FROM u""")),

    Q("q_gapfill", // zero-filled daily series over the observed span: the
      // span is a one-row agg exploded to a date spine (broadcast side),
      // left-joined onto the sparse per-day counts
      (s, d) => {
        val ev = t(s, d, "events")
        val pur = ev.filter(col("event_type") === "purchase" && col("value") > 190)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val span = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
          .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        span.join(pur, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
      },
      Some("""WITH pur AS (SELECT cast(ts AS DATE) AS day, count(*) AS n FROM events
                           WHERE event_type = 'purchase' AND value > 190 GROUP BY 1),
              span AS (SELECT unnest(generate_series((SELECT min(cast(ts AS DATE)) FROM events),
                       (SELECT max(cast(ts AS DATE)) FROM events), INTERVAL 1 DAY))::DATE AS day)
              SELECT day, coalesce(n, 0) AS n FROM span LEFT JOIN pur USING (day)""")),

    Q("q_column_stats", // single-pass data-quality profile of a table
      (s, d) => t(s, d, "orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        round(avg(col("o_totalprice")), 6).as("avg_price"),
        min(to_date(col("o_orderdate"))).as("first_day"),
        max(to_date(col("o_orderdate"))).as("last_day"),
        count(when(col("o_custkey").isNull, 1)).as("n_null_cust")),
      Some("""SELECT count(*) AS n_rows, count(DISTINCT o_orderstatus) AS n_status,
              min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
              round(avg(o_totalprice), 6) AS avg_price,
              min(cast(o_orderdate AS DATE)) AS first_day,
              max(cast(o_orderdate AS DATE)) AS last_day,
              count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_cust
              FROM orders""")),

    Q("q_group_sample", // uniform-but-reproducible k per group: the kept
      // subset is random WITHIN each source yet identical across runs and
      // engines (portable md5 draw), unlike first-k-by-business-order quota
      (s, d) => Sampling.perGroupUniform(t(s, d, "documents"), "source",
          "doc_id", k = 5, seed = "gs1")
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source
                ORDER BY md5(concat('gs1-', cast(doc_id AS VARCHAR)))) AS rn
              FROM documents) WHERE rn <= 5""")),

    Q("q_curriculum", // quality-curriculum sampling: quartile buckets of
      // the score, each kept at its own rate (top quartile fully, bottom
      // thinned) — one scalar percentile agg + a broadcast 1-row edge
      // frame + a pure key-hash predicate; no window, no global sort
      (s, d) => Sampling.curriculumSample(t(s, d, "orders"),
          "o_orderkey", "o_totalprice", Seq(0.05, 0.2, 0.5, 1.0))
        .select(col("o_orderkey"), col("o_totalprice")),
      Some(s"""WITH e AS (SELECT list_transform(quantile_cont(o_totalprice, [0.25, 0.5, 0.75]), x -> round(x, 6)) AS edges FROM orders)
           SELECT o_orderkey, o_totalprice FROM orders, e
           WHERE o_totalprice IS NOT NULL
             AND CAST(${sqlHash32("CAST(o_orderkey AS VARCHAR)")} % 10000 AS DOUBLE) / 10000 <
                 ([0.05, 0.2, 0.5, 1.0])[len(list_filter(edges, x -> x < o_totalprice)) + 1]""")),

    Q("q_winsorize", // per-group p95 capping (outlier clamp before training
      // statistics): ONE pass — each status group buffers its rows once,
      // reads the exact interpolated p95 off the same sorted buffer
      // (Percentiles; bit-identical to the built-in aggregate), and
      // explodes the group back out capped. The threshold is rounded
      // BEFORE clamping so the boundary cannot flip cross-engine. Exact
      // percentiles are a group-fits-in-memory regime by construction
      // (the built-in buffers every value too) — this form just stops
      // paying a second corpus scan + broadcast join for that same
      // regime; the 100 TB winsorize is approx_percentile + broadcast
      // probe (the q_quality_calibrated approx path's shape)
      (s, d) => {
        import graft.operators.Percentiles
        t(s, d, "orders") // null-status rows can't join in the oracle form
          .filter(col("o_orderstatus").isNotNull).groupBy("o_orderstatus")
          .agg(collect_list(struct(col("o_orderkey"), col("o_totalprice"))).as("_rows"),
            round(Percentiles.fromSorted(
              Percentiles.sortedVals(col("o_totalprice")), 0.95), 6).as("p95"))
          .select(col("o_orderstatus"), col("p95"), explode(col("_rows")).as("_r"))
          .select(col("_r.o_orderkey").as("o_orderkey"), col("o_orderstatus"),
            round(least(col("_r.o_totalprice"), col("p95")), 6).as("capped_price"))
      },
      Some("""WITH thr AS (SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.95), 6) AS p95
                           FROM orders GROUP BY 1)
              SELECT o_orderkey, o_orderstatus,
                     round(least(o_totalprice, p95), 6) AS capped_price
              FROM orders JOIN thr USING (o_orderstatus)""")),

    Q("q_unpivot", // wide→long melt: the inverse of the profile pivot
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey")),
          "metric", "value"),
      Some("""SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
              UNION ALL
              SELECT o_orderkey, 'o_custkey', cast(o_custkey AS DOUBLE) FROM orders""")),

    Q("q_rolling_window", // 7-day rolling sum per user — a RANGE frame over
      // event time (not a ROWS frame): the window width is temporal, so the
      // frame is peers-inclusive and deterministic without a unique
      // tie-break. Timestamps truncate to seconds on BOTH sides so the
      // frame boundary computes on identical values cross-engine
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("tss").cast("long"))
          .rangeBetween(-7L * 86400, 0)
        t(s, d, "events").filter(col("event_type") === "purchase")
          .select(col("user_id"), date_trunc("second", col("ts")).as("tss"), col("value"))
          .select(col("user_id"), col("tss"),
            round(sum(col("value")).over(w), 6).as("roll_sum"))
      },
      Some("""SELECT user_id, date_trunc('second', ts) AS tss,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts)
                RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 6) AS roll_sum
              FROM events WHERE event_type = 'purchase'""")),

    Q("q_zscore_outliers", // per-group z-score anomaly flag: group stats
      // join back as a broadcast dimension; z rounded before the threshold
      // compare so cross-engine last-ulp noise cannot flip membership
      (s, d) => {
        val docs = t(s, d, "documents")
        val st = docs.groupBy("source").agg(
          avg(col("n_chars")).as("mu"), stddev_samp(col("n_chars")).as("sd"))
        docs.join(broadcast(st), "source")
          .withColumn("z", round(abs(col("n_chars") - col("mu")) / col("sd"), 6))
          .filter(col("z") > 1.8)
          .select(col("doc_id"), col("source"), col("n_chars"), col("z"))
      },
      Some("""WITH st AS (SELECT source, avg(n_chars) AS mu, stddev_samp(n_chars) AS sd
                          FROM documents GROUP BY 1)
              SELECT doc_id, source, n_chars, round(abs(n_chars - mu) / sd, 6) AS z
              FROM documents JOIN st USING (source)
              WHERE round(abs(n_chars - mu) / sd, 6) > 1.8""")),

    Q("q_vocab_coverage", // fraction of each source's tokens covered by the
      // corpus top-10 vocabulary — the derived dimension (vocab) broadcasts
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = TermStats.wordFreq(docs, "text", 10)
          .select(col("word")).withColumn("_v", lit(1))
        docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(vocab), col("w") === col("word"), "left")
          .groupBy("source")
          .agg(round(sum(when(col("_v").isNotNull, 1).otherwise(0)).cast("double")
            / count(lit(1)), 6).as("coverage"))
      },
      Some("""WITH vocab AS (SELECT word FROM (SELECT word, count(*) AS cnt FROM
                (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                GROUP BY word ORDER BY cnt DESC, word LIMIT 10)),
              toks AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
              SELECT source, round(sum(CASE WHEN w IN (SELECT word FROM vocab) THEN 1 ELSE 0 END)::DOUBLE
                / count(*), 6) AS coverage FROM toks GROUP BY source""")))

  // ==========================================================================
  // round-2 reference capabilities: profile mode, filter labels, patch
  // expired/merge, existence probes, batch LWW, type discipline
  // ==========================================================================

  /** Profile fixture: one swamp per customer, fields as rows (long format);
    * 'name' is withheld for every 10th entity to exercise the
    * missing-treasure => NULL pivot path. */
  private def profileLong(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(col("c_custkey").as("entity"),
        explode(array(
          struct(lit("segment").as("field"), col("c_mktsegment").as("value")),
          struct(lit("name").as("field"), col("c_name").as("value")),
          struct(lit("nation").as("field"), col("c_nationkey").cast("string").as("value"))
        )).as("fv"))
      .select(col("entity"), col("fv.field").as("field"), col("fv.value").as("value"))
      .filter(!(col("field") === "name" && col("entity") % 10 === 0))

  private val sqlProfileLong =
    """(SELECT c_custkey AS entity, 'segment' AS field, c_mktsegment AS value FROM customer
        UNION ALL SELECT c_custkey, 'name', c_name FROM customer WHERE c_custkey % 10 <> 0
        UNION ALL SELECT c_custkey, 'nation', c_nationkey::VARCHAR FROM customer)"""

  private val sqlProfileWide =
    s"""(SELECT entity,
          max(CASE WHEN field = 'segment' THEN value END) AS segment,
          max(CASE WHEN field = 'name' THEN value END) AS name,
          max(CASE WHEN field = 'nation' THEN value END) AS nation
        FROM $sqlProfileLong GROUP BY entity)"""

  private val referenceQueries = Seq(
    Q("q_profile_stream", // GetStream pivot (proto:2916-2932, gateway.go:942-1036)
      (s, d) => Profile.getStream(profileLong(s, d), "entity", "field", "value",
        Seq("segment", "name", "nation")),
      Some(s"SELECT * FROM $sqlProfileWide")),

    Q("q_profile_filtered", // GetStream + TreasureKey filters on pivoted fields
      (s, d) => Profile.getStreamFiltered(profileLong(s, d), "entity", "field", "value",
        Seq("segment", "name", "nation"),
        Group.and(
          Cmp(FieldRef("segment"), CmpOp.Equal, "BUILDING"),
          Cmp(FieldRef("nation"), CmpOp.Equal, "5"))),
      Some(s"SELECT * FROM $sqlProfileWide WHERE segment = 'BUILDING' AND nation = '5'")),

    Q("q_filter_labels", // SearchResultMeta labels (proto:2779-2796): OR does
      // not short-circuit label collection — a row matching both branches
      // reports both labels
      (s, d) => {
        val df = t(s, d, "orders")
        val node = Group.or(
          Labeled("big", Cmp(FieldRef("o_totalprice"), CmpOp.GreaterThan, 300000.0)),
          Labeled("urgent", Cmp(FieldRef("o_orderpriority"), CmpOp.Equal, "1-URGENT")))
        val (pred, labels) = FilterCompiler.compileWithLabels(node, df)
        df.filter(pred)
          .select(col("o_orderkey"), array_join(labels, ",").as("matched_labels"))
      },
      Some("SELECT o_orderkey, array_to_string(list_sort(list_filter([CASE WHEN o_totalprice > 300000.0 THEN 'big' END, CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' END], x -> x IS NOT NULL)), ',') AS matched_labels FROM orders WHERE o_totalprice > 300000.0 OR o_orderpriority = '1-URGENT'")),

    Q("q_patch_expired", // lease/renew (gateway_patch_expired.go:31-270)
      (s, d) => {
        val base = t(s, d, "orders").withColumn("body", struct(
          col("o_orderstatus").as("status"), col("o_totalprice").as("price")))
        Patch.patchExpired(base, "body",
            Seq(Patch.SetField("status", lit("EXPIRED")),
              Patch.IncField("price", lit(1.0))),
            expiryCol = "o_orderdate", keyCol = "o_orderkey",
            now = java.sql.Timestamp.valueOf("1993-01-01 00:00:00"), howMany = 500)
          .select(col("o_orderkey"), col("body.status").as("status"),
            round(col("body.price"), 2).as("price"), col("_patched"))
      },
      Some("""WITH claimed AS (SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1993-01-01 00:00:00' ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 500)
        SELECT o_orderkey,
          CASE WHEN o_orderkey IN (SELECT o_orderkey FROM claimed) THEN 'EXPIRED' ELSE o_orderstatus END AS status,
          round(CASE WHEN o_orderkey IN (SELECT o_orderkey FROM claimed) THEN o_totalprice + 1.0 ELSE o_totalprice END, 2) AS price,
          o_orderkey IN (SELECT o_orderkey FROM claimed) AS _patched
        FROM orders""")),

    Q("q_patch_merge", // the 8th patch opcode (proto:3084-3089): map merge,
      // incoming keys override, others survive.
      // NO spread: the r17-stashed q_patch_indexed-style spread was
      // A/B-rejected here (OPTIMIZATION_r18.md, same-JVM interleaved:
      // plain 0.42-0.48 s vs spread 0.53-0.64 s warm) — the map merge is
      // too light to pay for exchanging the struct payload
      (s, d) => {
        val base = t(s, d, "orders").withColumn("body", struct(
          map(lit("status"), col("o_orderstatus"),
            lit("prio"), col("o_orderpriority")).as("attrs"),
          col("o_totalprice").as("price")))
        Patch.applyPatch(base, "body",
            Seq(Patch.MergeMap("attrs",
              map(lit("status"), lit("X"), lit("src"), lit("patch")))),
            condition = col("o_totalprice") > 250000.0)
          .select(col("o_orderkey"),
            element_at(col("body.attrs"), "status").as("status"),
            element_at(col("body.attrs"), "prio").as("prio"),
            element_at(col("body.attrs"), "src").as("src"))
      },
      Some("SELECT o_orderkey, CASE WHEN o_totalprice > 250000.0 THEN 'X' ELSE o_orderstatus END AS status, o_orderpriority AS prio, CASE WHEN o_totalprice > 250000.0 THEN 'patch' END AS src FROM orders")),

    Q("q_patch_indexed", // indexed array paths (msgpackpatch/path.go):
      // element-level set/inc plus whole-element removal; a per-element
      // FIELD drop is rejected loudly (Spark arrays are homogeneous — the
      // patched element would need a different type than its siblings)
      (s, d) => {
        // additive fixture prices: they stay at 2 decimals, so round(_, 2)
        // agrees across engines (a multiplicative fixture lands on .xx5
        // halfway cases where double-rounding conventions differ).
        // spread: the folded indexed-path rebuild is interpreted-HOF
        // per-row compute (Patch.rebuild scaladoc) and sf0.1 orders is ONE
        // split — the whole patch ran single-threaded (r17 census: 2
        // tasks); identity at cluster scale (Tables.spread scaladoc)
        val base = Tables.spread(t(s, d, "orders")).withColumn("body", struct(
          array(
            struct(col("o_totalprice").as("price"), lit(1).as("qty")),
            struct((col("o_totalprice") + 1000.0).as("price"), lit(2).as("qty")),
            struct((col("o_totalprice") + 2000.0).as("price"), lit(3).as("qty"))
          ).as("items")))
        Patch.applyPatch(base, "body",
            Seq(Patch.SetField("items[0].qty", lit(9)),
              Patch.IncField("items[1].price", lit(10.0)),
              Patch.DeleteField("items[2]")),
            condition = col("o_totalprice") > 200000.0)
          .select(col("o_orderkey"),
            col("body.items").getItem(0).getField("qty").as("i0_qty"),
            round(col("body.items").getItem(1).getField("price"), 2).as("i1_price"),
            size(col("body.items")).as("n_items"))
      },
      Some("""SELECT o_orderkey,
          CASE WHEN o_totalprice > 200000.0 THEN 9 ELSE 1 END AS i0_qty,
          round(CASE WHEN o_totalprice > 200000.0 THEN o_totalprice + 1000.0 + 10.0 ELSE o_totalprice + 1000.0 END, 2) AS i1_price,
          CASE WHEN o_totalprice > 200000.0 THEN 2 ELSE 3 END AS n_items
          FROM orders""")),

    Q("q_keys_exist", // AreKeysExist (proto:310-340, gateway.go:1481-1596)
      (s, d) => Existence.areKeysExist(t(s, d, "customer"), "c_custkey",
        Seq(1L, 7L, 50L, 99999999L)),
      Some("SELECT k AS key, k IN (SELECT c_custkey FROM customer) AS is_present FROM (SELECT unnest([1, 7, 50, 99999999]::BIGINT[]) AS k)")),

    Q("q_chronicle_lww", // batch last-write-wins rebuild (chronicler/v2/reader.go)
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey").as("key"),
          col("o_totalprice").as("price"))
        val log = o.select(col("key"), col("price"), lit(1L).as("seq"), lit("U").as("op"))
          .unionByName(o.filter(col("key") % 3 === 0)
            .select(col("key"), (col("price") + 1).as("price"),
              lit(2L).as("seq"), lit("U").as("op")))
          .unionByName(o.filter(col("key") % 5 === 0)
            .select(col("key"), lit(0.0).as("price"),
              lit(3L).as("seq"), lit("D").as("op")))
        Chronicle.lastWriteWins(log, "key", "seq", "op")
          .select(col("key"), round(col("price"), 2).as("price"))
      },
      Some("SELECT o_orderkey AS key, round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END, 2) AS price FROM orders WHERE o_orderkey % 5 <> 0")),

    Q("q_chronicle_asof", // rebuild-to-any-offset: the same log replayed
      // only through seq <= 2 — the deletes at seq 3 have not happened
      // yet, so every key is still live with its seq-2 state. An
      // append-only log IS a full history; the as-of cut is a pushed
      // scan predicate, not a different algorithm.
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey").as("key"),
          col("o_totalprice").as("price"))
        val log = o.select(col("key"), col("price"), lit(1L).as("seq"), lit("U").as("op"))
          .unionByName(o.filter(col("key") % 3 === 0)
            .select(col("key"), (col("price") + 1).as("price"),
              lit(2L).as("seq"), lit("U").as("op")))
          .unionByName(o.filter(col("key") % 5 === 0)
            .select(col("key"), lit(0.0).as("price"),
              lit(3L).as("seq"), lit("D").as("op")))
        Chronicle.stateAsOf(log, "key", "seq", "op", asOfSeq = 2L)
          .select(col("key"), round(col("price"), 2).as("price"))
      },
      Some("SELECT o_orderkey AS key, round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END, 2) AS price FROM orders")),

    Q("q_seq_gaps", // log-integrity audit: per-key sequence holes (a lost
      // write in an append-only chronicle). Synthetic log writes seq 1
      // and 3 for every key but seq 2 only when key % 7 <> 0 — the audit
      // must report exactly the %7 keys with (gap_after=1, resumes_at=3)
      (s, d) => {
        val keys = t(s, d, "orders").select(col("o_orderkey").as("key"))
        val log = keys.select(col("key"), lit(1L).as("seq"))
          .unionByName(keys.filter(col("key") % 7 =!= 0)
            .select(col("key"), lit(2L).as("seq")))
          .unionByName(keys.select(col("key"), lit(3L).as("seq")))
        Chronicle.seqGaps(log, "key", "seq")
      },
      Some("SELECT o_orderkey AS key, CAST(1 AS BIGINT) AS gap_after, CAST(3 AS BIGINT) AS resumes_at FROM orders WHERE o_orderkey % 7 = 0")),

    Q("q_filter_type_mismatch", // type mismatch => no match (filter.go:392-493),
      // not Spark's implicit stringify-and-compare
      (s, d) => {
        val df = t(s, d, "orders")
        df.filter(FilterCompiler.compile(Group.or(
          Cmp(FieldRef("o_custkey"), CmpOp.Equal, "42"),      // string vs int64
          Cmp(FieldRef("o_totalprice"), CmpOp.Contains, "9"), // CONTAINS on double
          Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "P")), df))
      },
      Some("SELECT * FROM orders WHERE o_orderstatus = 'P'")),

    Q("q_filter_u64", // uint64 literal as Decimal(20,0): no int64 overflow
      // (filter.go:410-415 guard)
      (s, d) => {
        val df = t(s, d, "orders")
        df.filter(FilterCompiler.compile(Group.and(
          Cmp(FieldRef("o_orderkey"), CmpOp.LessThan,
            U64(BigInt("18446744073709551615"))), // uint64 max: always true
          Cmp(FieldRef("o_custkey"), CmpOp.LessThanOrEqual, 100L)), df))
      },
      Some("SELECT * FROM orders WHERE o_custkey <= 100")),

    Q("q_shift_by_keys", // ShiftByKeys claim side (proto:1109-1151)
      (s, d) => Shift.shiftByKeys(t(s, d, "customer"), "c_custkey",
        (100L to 160L).toSeq).claimed,
      Some("SELECT * FROM customer WHERE c_custkey BETWEEN 100 AND 160")),

    Q("q_msgpack_roundtrip", // opaque-body ingestion (filter.go:58-70,315-390):
      // documents pack into schemaless msgpack bodies (the reference's
      // treasure encoding) and decode back into typed columns — including a
      // field the body never carried, which must surface as NULL (the
      // reference's missing-path => nil). Verified against DuckDB reading
      // the SAME columns natively: the codec pair must be the identity.
      (s, d) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("source", StringType),
          StructField("lang", StringType),
          StructField("never_written", StringType)))
        t(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.MsgPack.pack(struct(col("source"), col("lang"))).as("body"))
          .select(col("doc_id"),
            graft.functions.MsgPack.unpack(col("body"), schema).as("b"))
          .select(col("doc_id"), col("b.source").as("source"),
            col("b.lang").as("lang"), col("b.never_written").as("never_written"))
      },
      Some("SELECT doc_id, source, lang, CAST(NULL AS VARCHAR) AS never_written FROM documents")),

    Q("q_gob_migration", // LEGACY-body migration (proto/hydraide.proto:849-854,
      // gobber.go): bodies in Go's gob encoding decode to typed columns and
      // re-encode as msgpack — the engine-native form of the reference's
      // documented "read as GOB, write back as MSGPACK" migration, as one
      // scan-stage expression chain (no shuffle, no driver). Oracle = the
      // same columns read natively: the whole codec chain must be the
      // identity, and the never-written field must surface as NULL at the
      // far end.
      (s, d) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("source", StringType),
          StructField("lang", StringType),
          StructField("never_written", StringType)))
        t(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.Gob.pack(struct(col("source"), col("lang"))).as("legacy"))
          .select(col("doc_id"),
            graft.functions.MsgPack.pack(
              graft.functions.Gob.unpack(col("legacy"), schema)).as("migrated"))
          .select(col("doc_id"),
            graft.functions.MsgPack.unpack(col("migrated"), schema).as("b"))
          .select(col("doc_id"), col("b.source").as("source"),
            col("b.lang").as("lang"), col("b.never_written").as("never_written"))
      },
      Some("SELECT doc_id, source, lang, CAST(NULL AS VARCHAR) AS never_written FROM documents")),

    Q("q_migrate", // the V1→V2 storage migration exercised END TO END on a
      // reference-shaped fixture: two swamp directories of GOB command
      // logs (seq'd U/U/D like q_chronicle_lww, bodies gob-packed like
      // q_gob_migration) migrate through Migrate.v1ToV2 — LWW replay, GOB
      // decode to native columns, CAS snapshot commit, distributed verify
      // — and the query reads the COMMITTED V2 snapshots back. The oracle
      // recomputes the surviving state straight from orders, so the whole
      // load→convert→write→verify chain must be the identity on the data.
      (s, d) => {
        val root = migrateV2Root(s, d)
        Snapshots.read(s, s"$root/even").withColumn("swamp", lit("even"))
          .unionByName(
            Snapshots.read(s, s"$root/odd").withColumn("swamp", lit("odd")))
          .select(col("swamp"), col("key"), col("status"),
            round(col("price"), 2).as("price"))
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS swamp,
            o_orderkey AS key, o_orderstatus AS status,
            round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END, 2) AS price
          FROM orders WHERE o_orderkey % 5 <> 0""")))

  // ==========================================================================
  // assembled
  // ==========================================================================

  private val allQueries: Seq[Q] =
    filterQueries ++ indexQueries ++ aggQueries ++ joinQueries ++ windowQueries ++
      exoticQueries ++ nestedQueries ++ mutationQueries ++ incrementWidthQueries ++
      timeQueries ++
      textQueries ++ corpusQueries ++ curationMlQueries ++
      analyticsQueries ++ referenceQueries

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The curation
    * pipeline (dedup -> quality -> language -> length) is the engine's
    * showcase: four operator families composed in one declarative pass. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_curation")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
