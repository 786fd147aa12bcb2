package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.{SparkEntry, Tables}
import graft.filters._
import graft.operators._

/** `serve`: two closed-loop clients send seeded requests over sf0.1-sized
  * tables and prebuilt artifacts; each result is collected to the driver. */
object Serve {
  val shape: ServeShape = ServeShape(orders = 50000, customers = 5000, docs = 2000, vecs = 1000)
  val clients = 2
  val warmSeconds = 8

  final class Env(h: Harness, val dir: String) {
    def spark = h.spark
    def table(name: String): DataFrame = Tables(spark, dir, name)
    val ivf = s"$dir/art/ivf"; val pq = s"$dir/art/pq"
    val text = s"$dir/art/text"; val phrase = s"$dir/art/phrase"
    /** Client-held keyset continuation tokens: the last (date, key) of
      * every page of the `page` walk. */
    var tokens: IndexedSeq[(Any, Any)] = IndexedSeq.empty
  }

  def inputs(h: Harness, dir: String): Unit = {
    val s = h.seed; val sp = h.spark
    Gen.write(sp, s"$dir/orders.parquet", Gen.orderSchema, 0, shape.orders, 4)(
      Gen.orderRow(s, _, shape.customers))
    Gen.write(sp, s"$dir/customer.parquet", Gen.customerSchema, 0, shape.customers, 4)(
      Gen.customerRow(s, _))
    Gen.write(sp, s"$dir/documents.parquet", Gen.docSchema, 0, shape.docs, 4)(Gen.docRow(s, _))
    Gen.write(sp, s"$dir/embeddings.parquet", Gen.vecSchema, 0, shape.vecs, 4)(Gen.vecRow(s, _))
  }

  def artifacts(h: Harness, e: Env): Unit = {
    val emb = e.table("embeddings"); val docs = e.table("documents")
    h.timed("Similarity.ivfBuild_s")(Similarity.ivfBuild(emb, "embedding", "vec_id", e.ivf, dim = 64))
    h.timed("Similarity.pqBuild_s")(
      Similarity.pqBuild(emb, "embedding", "vec_id", e.pq, m = 8, ksub = 16, dim = 64))
    h.timed("TermStats.buildTextIndex_s")(TermStats.buildTextIndex(docs, "text", "doc_id", e.text))
    h.timed("TermStats.buildPhraseIndex_s")(
      TermStats.buildPhraseIndex(docs, "text", "doc_id", e.phrase))
    e.tokens = pageQuery(e, shape.pageDepth * 20, None).collect().toIndexedSeq
      .grouped(20).map(p => (p.last.getAs[Any]("o_orderdate"), p.last.getAs[Any]("o_orderkey")))
      .toIndexedSeq
  }

  private def statusO = Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "O")

  private def pageQuery(e: Env, limit: Int, after: Option[(Any, Any)]): DataFrame =
    IndexRead.run(e.table("orders"), IndexRead.IndexQuery(
      filter = Some(statusO), orderBy = Seq(("o_orderdate", IndexRead.Desc)),
      keyCol = "o_orderkey", limit = Some(limit),
      afterAxis = after.map(_._1).toSeq, afterKey = after.map(_._2)))

  private def qvec(h: Harness, id: Long): Array[Float] = Gen.vec(h.seed, id)._1

  private def bm25(e: Env, terms: Seq[String]): DataFrame =
    TermStats.bm25TopKPrebuilt(e.spark, e.text, "doc_id", terms, k = 20)

  private def pq(h: Harness, e: Env, v: Long): DataFrame =
    Similarity.pqTopKPrebuilt(e.spark, e.pq, "vec_id", qvec(h, v), 20)

  /** The engine call behind a request; `filter` requests compile their
    * filter tree up front, which the traced run times on its own. */
  def build(h: Harness, e: Env, r: Req): (Option[() => Unit], () => DataFrame) = r match {
    case FilterReq(k) =>
      var c: org.apache.spark.sql.Column = null
      (Some(() => c = FilterCompiler.compile(Cmp(FieldRef("o_custkey"), CmpOp.Equal, k))),
        () => IndexRead.run(e.table("orders").filter(c), IndexRead.IndexQuery(keyCol = "o_orderkey")))
    case PageReq(d) => (None, () => pageQuery(e, 20, Some(e.tokens(d - 1))))
    case KeysReq(keys) => (None, () => Existence.areKeysExist(e.table("customer"), "c_custkey", keys))
    case AnnIvfReq(v) => (None, () =>
      Similarity.ivfTopKPrebuilt(e.spark, e.ivf, "embedding", "vec_id", qvec(h, v), 10))
    case AnnPqReq(v) => (None, () => pq(h, e, v))
    case Bm25Req(t) => (None, () => bm25(e, t))
    case PhraseReq(t) => (None, () => TermStats.phraseSearchPrebuilt(e.spark, e.phrase, "doc_id", t))
    case HybridReq(t, v) => (None, () =>
      TermStats.rrfFuse(bm25(e, t), "doc_id", "bm25", pq(h, e, v), "vec_id", "score", k = 20))
  }

  private def sub(sql: String, from: String, to: String): String = {
    require(sql.contains(from), s"oracle template lacks `$from`")
    sql.replace(from, to)
  }
  private def termList(t: Seq[String]) = t.map(x => s"'$x'").mkString("(", ",", ")")
  private def bm25Sql(sql: String, t: Seq[String]) = sub(sql, "('data','spark','index')", termList(t))
  private def vecSql(sql: String, v: Long) = sub(sql, "vec_id = 0", s"vec_id = $v")

  /** DuckDB SQL for a request: the engine's own oracle for the matching
    * query, with the request's parameters put in. */
  def oracle(r: Req): String = {
    val o = SparkEntry.oracleSql
    r match {
      case FilterReq(k) => sub(o("q_filter_eq"), "o_custkey = 42", s"o_custkey = $k")
      case PageReq(d) => sub(o("q_index_keyset"), "OFFSET 20", s"OFFSET ${d * 20}")
      case KeysReq(keys) =>
        sub(o("q_keys_exist"), "[1, 7, 50, 99999999]", keys.mkString("[", ", ", "]"))
      case AnnIvfReq(v) => vecSql(o("q_ann_ivf_prebuilt"), v)
      case AnnPqReq(v) => vecSql(o("q_ann_pq_prebuilt"), v)
      case Bm25Req(t) => bm25Sql(o("q_bm25_prebuilt"), t)
      case PhraseReq(t) =>
        val slots = t.zipWithIndex.map { case (w, i) => s"('$w', CAST($i AS BIGINT))" }.mkString(", ")
        sub(sub(o("q_phrase_prebuilt"),
          "('big', CAST(0 AS BIGINT)), ('table', CAST(1 AS BIGINT))", slots),
          "count(DISTINCT slot) = 2", s"count(DISTINCT slot) = ${t.size}")
      case HybridReq(t, v) => vecSql(bm25Sql(o("q_hybrid_prebuilt"), t), v)
    }
  }

  /** One request as an op; returns the op and its collected rows. */
  def request(h: Harness, e: Env, r: Req): (OpRec, Array[Row], org.apache.spark.sql.types.StructType) = {
    val (compile, mk) = build(h, e, r)
    var rows: Array[Row] = Array.empty
    var schema: org.apache.spark.sql.types.StructType = null
    val rec = h.op(r.kind, df => { rows = df.collect(); schema = df.schema }, compile)(mk())
    (rec, rows, schema)
  }

  def run(h: Harness): Map[String, Double] = {
    var env: Env = null
    val dir = h.setup(2)(inputs(h, _)) { d => env = new Env(h, d); artifacts(h, env) }
    val e = env
    // warm-up, untimed: both clients send whole blocks from streams of their
    // own for `warmSeconds`; latencies still fall by a third over the first
    // 15 s of requests, as the JIT compiles the request paths
    val (warmOps, _) = Workload.clients(clients, warmSeconds) { (c, deadline) =>
      val gen = new ReqGen(h.seed ^ 0x5eed, 90 + c, shape)
      val out = mutable.ArrayBuffer.empty[OpRec]
      while (System.nanoTime() < deadline || !gen.atBlockStart) out += request(h, e, gen.next())._1
      out.toSeq
    }
    h.attempted.addAndGet(-warmOps.size)
    require(h.failed.get == 0, "serve warm-up failed")

    val probe = new h.ArtifactProbe(() => Seq(
      "text.postings" -> s"${TermStats.resolveIndexDir(h.spark, e.text)}/postings",
      "text.terms" -> s"${TermStats.resolveIndexDir(h.spark, e.text)}/terms",
      "pq.codes" -> s"${IndexLifecycle.resolveDir(h.spark, e.pq)}/codes",
      "phrase.postings" -> s"${TermStats.resolveIndexDir(h.spark, e.phrase)}/postings"))

    Workload.windows(h) { (seconds, traced) =>
      val samples = mutable.ArrayBuffer.empty[(Req, Array[Row], org.apache.spark.sql.types.StructType)]
      val checked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val (ops, wall) = h.probing(if (traced) Some(probe) else None, 250) {
        Workload.clients(clients, seconds) { (c, deadline) =>
          val gen = new ReqGen(h.seed, c, shape)
          val out = mutable.ArrayBuffer.empty[OpRec]
          while (System.nanoTime() < deadline) {
            val r = gen.next()
            val (rec, rows, schema) = request(h, e, r)
            out += rec
            // the first request of each kind is checked
            if (rec.ok && checked.add(r.kind)) samples.synchronized { samples += ((r, rows, schema)) }
          }
          out.toSeq
        }
      }
      val ok = ops.filter(_.ok)
      val lat = ok.map(_.ms)
      val (early, late) = ok.sortBy(_.startMs).splitAt(ok.size / 2)
      h.phase(f"${ok.size} requests, p50 ${Stats.median(early.map(_.ms))}%.0f ms in the " +
        f"first half, ${Stats.median(late.map(_.ms))}%.0f ms in the second; p50 by kind " +
        ReqGen.kinds.map(k => f"$k ${Stats.median(ok.filter(_.kind == k).map(_.ms))}%.0f").mkString(", "))
      h.heapPoint()
      val m = Map(
        "req_per_s" -> ok.size / wall,
        "p50_ms" -> Stats.quantile(lat, 0.5),
        "p95_ms" -> Stats.quantile(lat, 0.95))
      if (traced) {
        h.opLayers(ops)
        probe.report()
        for (k <- ReqGen.kinds)
          h.layers(s"serve.$k.p50_ms") = Stats.median(ok.filter(_.kind == k).map(_.ms))
      } else {
        samples.sortBy(s => (s._1.kind, s._1.toString)).zipWithIndex.foreach { case ((r, rows, schema), i) =>
          h.saveCheck(s"serve-w${h.window}-${r.kind}-$i", oracle(r), rows, schema)
        }
      }
      Workload.Window(m, "req_per_s")
    }
  }
}
