package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.filters.{Cmp, CmpOp, FieldRef}
import graft.operators.{Existence, IndexRead}

/**
 * Each generated class compiles once per JVM: the engine session sizes
 * Spark's class cache to its working set ([[EngineSession.CodegenCacheEntries]])
 * and [[graft.functions.BindLiterals]] keeps key values out of the
 * generated source. Counted with Spark's own codegen counters, which move
 * on cache misses only.
 */
class CodegenCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // the session comes first: the counters initialize Spark's class cache,
  // which takes its size from the session that exists at that moment
  private def compiledBy(body: => Unit): Long = {
    spark
    val before = EngineSession.codegenCounters()._1
    body
    EngineSession.codegenCounters()._1 - before
  }

  test("the gated pipeline stages compile nothing on their second pass") {
    val stages = Seq("q_minhash_neardup", "q_curation", "q_tfidf",
      "q_bpe_encode", "q_kmeans_train")
    def pass(): Unit = stages.foreach { q =>
      SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count()
      CacheRegistry.releaseAll()
    }
    val first = compiledBy(pass())
    val second = compiledBy(pass())
    assert(second == 0, s"second pass recompiled $second classes (first pass: $first)")
  }

  test("filters, keyset pages and key probes with new values compile " +
       "nothing after the first of each shape; results match a plain filter") {
    val orders = Tables(spark, sf, "orders")
    val rows = orders.collect().toSeq
    val byKey: Row => Long = _.getAs[Long]("o_orderkey")

    def filterReq(k: Long): DataFrame = IndexRead.run(orders, IndexRead.IndexQuery(
      filter = Some(Cmp(FieldRef("o_custkey"), CmpOp.Equal, k)), keyCol = "o_orderkey"))
    val custkeys = rows.map(_.getAs[Long]("o_custkey")).distinct.sorted.take(20)
    def checkFilter(k: Long): Unit =
      assert(filterReq(k).collect().toSeq.sortBy(byKey) ==
        rows.filter(_.getAs[Long]("o_custkey") == k).sortBy(byKey), s"o_custkey = $k")

    // the page walk of the serving mix: status 'O', newest first, the key
    // breaking ties; the token of page d is the last row of page d
    val open = rows.filter(_.getAs[String]("o_orderstatus") == "O")
      .sortBy(r => (-r.getAs[java.sql.Timestamp]("o_orderdate").getTime, byKey(r)))
    def pageReq(after: Row): DataFrame = IndexRead.run(orders, IndexRead.IndexQuery(
      filter = Some(Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "O")),
      orderBy = Seq(("o_orderdate", IndexRead.Desc)), keyCol = "o_orderkey",
      limit = Some(20), afterAxis = Seq(after.getAs[Any]("o_orderdate")),
      afterKey = Some(byKey(after))))
    val depths = 1 to 20
    assert(open.size > 20 * (depths.last + 1), s"only ${open.size} open orders")
    def checkPage(d: Int): Unit =
      assert(pageReq(open(20 * d - 1)).collect().toSeq == open.slice(20 * d, 20 * d + 20),
        s"page after depth $d")

    // 4 keys per probe, two present and two absent
    val customer = Tables(spark, sf, "customer")
    val present = customer.select("c_custkey").collect().map(_.getLong(0)).toSet
    val presentKeys = present.toSeq.sorted
    val keyLists = (0 until 20).map(i =>
      Seq(presentKeys(2 * i), 100000000L + i, presentKeys(2 * i + 1), 200000000L + i))
    def checkKeys(ks: Seq[Long]): Unit =
      assert(Existence.areKeysExist(customer, "c_custkey", ks).collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSeq.sorted ==
        ks.map(k => (k, present(k))).sorted, s"keys $ks")

    for ((kind, requests) <- Seq(
        "filter" -> custkeys.map(k => () => checkFilter(k)),
        "page" -> depths.map(d => () => checkPage(d)),
        "keys" -> keyLists.map(ks => () => checkKeys(ks)))) {
      requests.head()
      val n = compiledBy(requests.tail.foreach(_()))
      assert(n == 0, s"$kind: ${requests.size - 1} requests with new values compiled $n classes")
    }

    // the scan's filters are still Literals, so they still push to parquet
    val k = custkeys(3)
    val plan = filterReq(k).queryExecution.executedPlan.toString
    assert(plan.contains(s"PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,$k)]"), plan)
  }

  test("the class cache holds 150 distinct classes: the engine session sizes it") {
    def project(n: Int): DataFrame =
      spark.range(2).select((1 to n).map(i => (col("id") * i).as(s"c$i")): _*)
    val shapes = 1 to 150
    val first = compiledBy(shapes.foreach(n => project(n).queryExecution.toRdd.count()))
    assert(first >= shapes.size, s"the shapes must be new classes: $first compiled")
    val second = compiledBy(shapes.foreach(n => project(n).queryExecution.toRdd.count()))
    assert(second == 0, s"$second of $first classes were evicted and recompiled")
  }
}
