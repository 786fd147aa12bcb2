package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators._

/** `ingest`: a writer thread appends seeded batches to a live text index
  * and IVF index and merges upserts into a snapshot table, compacting
  * every few batches; a reader thread queries the same live artifacts. */
object Ingest {
  val baseDocs = 5000
  val baseVecs = 2000
  val baseRows = 20000
  val batchDocs = 100
  val batchVecs = 100
  val batchRows = 200
  val compactEvery = 1
  val minCompactions = 3
  val runId = "perfbench"

  val snapSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("status", StringType),
    StructField("price", DoubleType)))

  /** Upsert row: a pure function of (seed, batch, i), like every input. */
  def snapRow(seed: Long, key: Long, version: Long): Row = {
    val r = Gen.rng(seed, 9, Gen.mix(key, version))
    Row(key, Seq("O", "P", "F")(r.nextInt(3)), (100000 + r.nextLong(40000000)) / 100.0)
  }

  /** Keys of batch `b`: half existing keys, half new ones. */
  def deltaKeys(seed: Long, b: Int): Seq[Long] = {
    val r = Gen.rng(seed, 10, b)
    val known = baseRows.toLong + b * (batchRows / 2)
    (Seq.fill(batchRows / 2)(r.nextLong(known)) ++
      (0 until batchRows / 2).map(known + _)).distinct
  }

  final class Env(h: Harness, val dir: String) {
    val text = s"$dir/art/text"; val ivf = s"$dir/art/ivf"; val snap = s"$dir/art/snap"
  }

  def inputs(h: Harness, dir: String): Unit = {
    val s = h.seed
    Gen.write(h.spark, s"$dir/documents.parquet", Gen.docSchema, 0, baseDocs, 4)(Gen.docRow(s, _))
    Gen.write(h.spark, s"$dir/embeddings.parquet", Gen.vecSchema, 0, baseVecs, 4)(Gen.vecRow(s, _))
    Gen.write(h.spark, s"$dir/snap_base.parquet", snapSchema, 0, baseRows, 4)(snapRow(s, _, 0))
  }

  def artifacts(h: Harness, e: Env): Unit = {
    h.timed("TermStats.buildTextIndex_s")(
      TermStats.buildTextIndex(Tables(h.spark, e.dir, "documents"), "text", "doc_id", e.text))
    h.timed("Similarity.ivfBuild_s")(Similarity.ivfBuild(
      Tables(h.spark, e.dir, "embeddings"), "embedding", "vec_id", e.ivf, dim = 64))
    h.timed("Snapshots.commit_s")(Snapshots.commit(Tables(h.spark, e.dir, "snap_base"), e.snap))
  }

  /** Bytes a user hands over per committed row, for write amplification. */
  private def docBytes(seed: Long, id: Long): Long =
    Gen.docRow(seed, id).getString(1).length + 8 + 8
  private val vecBytes = 8 + 64 * 4 + 4
  private val rowBytes = 8 + 1 + 8

  def run(h: Harness): Map[String, Double] = {
    var env: Env = null
    val dir = h.setup(3)(inputs(h, _)) { d => env = new Env(h, d); artifacts(h, env) }
    val e = env
    val s = h.seed
    var batch = 0 // next batch id; batches continue across windows
    val deltas = mutable.ArrayBuffer.empty[(Int, Seq[Long])]
    val writeMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def rec(o: OpRec): OpRec = {
      writeMs.getOrElseUpdate(o.kind, mutable.ArrayBuffer.empty) += o.ms; o
    }

    // Snapshots.maintain deletes superseded versions and requires that no
    // reader still holds one: snapshot reads pin the history, maintain waits
    val pins = new java.util.concurrent.locks.ReentrantReadWriteLock()

    def read(kind: Int, r: java.util.SplittableRandom): OpRec = kind match {
      case 0 =>
        val terms = Seq.fill(2)(Gen.vocab(Gen.draw(Gen.vocabCdf, r))).distinct
        h.op("bm25", _.collect())(
          TermStats.bm25TopKPrebuilt(h.spark, e.text, "doc_id", terms, k = 20))
      case 1 =>
        val q = Gen.vec(s, r.nextLong(baseVecs))._1
        h.op("ann_ivf", _.collect())(
          Similarity.ivfTopKPrebuilt(h.spark, e.ivf, "embedding", "vec_id", q, 10))
      case _ =>
        val keys = Seq.fill(4)(r.nextLong(baseRows.toLong))
        pins.readLock().lock()
        try h.op("snapshot_keys", _.collect())(
          Snapshots.read(h.spark, e.snap).filter(col("key").isin(keys: _*)))
        finally pins.readLock().unlock()
    }

    val probe = new h.ArtifactProbe(() => Seq(
      "text.postings" -> s"${TermStats.resolveIndexDir(h.spark, e.text)}/postings",
      "text.terms" -> s"${TermStats.resolveIndexDir(h.spark, e.text)}/terms",
      "text.stats" -> s"${TermStats.resolveIndexDir(h.spark, e.text)}/stats"))

    val result = Workload.windows(h) { (seconds, traced) =>
      val commits = mutable.ArrayBuffer.empty[Double]
      var rows = 0L; var docs = 0L; var userBytes = 0L; var compactions = 0
      @volatile var writerDone = false
      val (ops, _) = Workload.clients(2, seconds) { (c, deadline) =>
        val out = mutable.ArrayBuffer.empty[OpRec]
        if (c == 0) {
          val t0 = System.nanoTime()
          try {
            while (System.nanoTime() < deadline || compactions < minCompactions) {
              val b = batch; batch += 1
              val bt = System.nanoTime()
              val dFrom = baseDocs.toLong + b * batchDocs
              val vFrom = baseVecs.toLong + b * batchVecs
              val keys = deltaKeys(s, b)
              out += rec(h.call("TermStats.appendTextIndexOnce") {
                TermStats.appendTextIndexOnce(Gen.frame(h.spark, Gen.docSchema, dFrom, batchDocs)(
                  Gen.docRow(s, _)), "text", "doc_id", e.text, runId, b)
              })
              out += rec(h.call("Similarity.appendIvfIndexOnce") {
                Similarity.appendIvfIndexOnce(Gen.frame(h.spark, Gen.vecSchema, vFrom, batchVecs)(
                  Gen.vecRow(s, _)), "embedding", "vec_id", e.ivf, runId, b)
              })
              out += rec(h.call("Snapshots.mergeCommit") {
                import scala.jdk.CollectionConverters._
                Snapshots.mergeCommit(h.spark, e.snap, h.spark.createDataFrame(
                  keys.map(snapRow(s, _, b + 1L)).asJava, snapSchema), "key")
              })
              commits += (System.nanoTime() - bt) / 1e6
              deltas.synchronized { deltas += ((b, keys)) }
              docs += batchDocs
              rows += batchDocs + batchVecs + keys.size
              userBytes += (dFrom until dFrom + batchDocs).map(docBytes(s, _)).sum +
                batchVecs * vecBytes + keys.size * rowBytes
              if (batch % compactEvery == 0) {
                out += rec(h.call("TermStats.compactTextIndexInPlace")(
                  TermStats.compactTextIndexInPlace(h.spark, e.text)))
                pins.writeLock().lock()
                try out += rec(h.call("Snapshots.maintain")(Snapshots.maintain(h.spark, e.snap)))
                finally pins.writeLock().unlock()
                compactions += 1
              }
            }
          } finally writerDone = true
          writerWall = (System.nanoTime() - t0) / 1e9
        } else {
          val r = Gen.rng(s, 11, if (traced) 1 else 0)
          var i = 0
          while (!writerDone) {
            out += read(i % 3, r); i += 1
            if (traced && i % 3 == 0) probe.probe()
          }
        }
        out.toSeq
      }
      val reads = ops.filter(o => o.ok && Set("bm25", "ann_ivf", "snapshot_keys")(o.kind))
      val lat = reads.map(_.ms)
      val readWall = if (reads.isEmpty) 1.0 else (reads.map(_.endMs).max - reads.map(_.startMs).min) / 1000
      h.heapPoint()
      if (traced) {
        h.opLayers(ops)
        probe.report()
        for ((k, v) <- writeMs) h.layers(s"${k}_ms") = Stats.median(v.toSeq)
        h.layers("ingest.commit_p50_ms") = Stats.median(commits.toSeq)
        val mb = 1048576.0
        val written = ops.filter(o => !Set("bm25", "ann_ivf", "snapshot_keys")(o.kind))
          .map(o => h.tracer.get.execOf(o.id).output).sum
        h.layers("ingest.write_amp") = written / math.max(1.0, userBytes.toDouble)
        h.layers("exec.output_mb") = written / mb / math.max(1, ops.size)
      }
      Workload.Window(Map(
        "req_per_s" -> reads.size / readWall,
        "p50_ms" -> Stats.quantile(lat, 0.5),
        "p95_ms" -> Stats.quantile(lat, 0.95),
        "docs_per_s" -> docs / writerWall,
        "rows_per_s" -> rows / writerWall), "rows_per_s")
    }
    check(h, e, batch, deltas.toSeq)
    if (h.args.trace) spaceLayers(h, e, batch)
    result
  }
  private var writerWall = 1.0

  /** The final text index must rank like `bm25TopK` over base and appended
    * documents, and the final snapshot must equal a last-write-wins
    * recomputation from the written deltas (checked in DuckDB). */
  def check(h: Harness, e: Env, batches: Int, deltas: Seq[(Int, Seq[Long])]): Unit = {
    val s = h.seed
    val all = Tables(h.spark, e.dir, "documents").unionByName(
      Gen.frame(h.spark, Gen.docSchema, baseDocs, batches * batchDocs)(Gen.docRow(s, _)))
    val r = Gen.rng(s, 12, 0)
    for (i <- 0 until 3) {
      val terms = Seq.fill(3)(Gen.vocab(Gen.draw(Gen.vocabCdf, r))).distinct
      val got = TermStats.bm25TopKPrebuilt(h.spark, e.text, "doc_id", terms, k = 20).collect().toSeq
      val want = TermStats.bm25TopK(all, "text", "doc_id", terms, k = 20).collect().toSeq
      h.attempted.incrementAndGet()
      if (got.map(_.toString).sorted != want.map(_.toString).sorted) {
        h.failed.incrementAndGet()
        System.err.println(s"[perfbench] ingest bm25 $terms: index gave $got, corpus gave $want")
      }
    }
    import scala.jdk.CollectionConverters._
    val deltaRows = deltas.flatMap { case (b, keys) =>
      keys.map(k => Row.fromSeq(snapRow(s, k, b + 1L).toSeq :+ (b + 1L)))
    }
    val deltaPath = h.path("ingest/deltas")
    h.spark.createDataFrame(deltaRows.asJava, snapSchema.add("seq", LongType))
      .coalesce(1).write.parquet(deltaPath)
    val basePath = s"${e.dir}/snap_base.parquet"
    val got = h.path("checks/ingest-snapshot")
    Snapshots.read(h.spark, e.snap).select("key", "status", "price").coalesce(1).write.parquet(got)
    h.checks += Check("ingest-snapshot",
      s"""SELECT key, status, price FROM (
           SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn FROM (
             SELECT key, status, price, CAST(0 AS BIGINT) AS seq FROM '$basePath/*.parquet'
             UNION ALL SELECT key, status, price, seq FROM '$deltaPath/*.parquet'))
         WHERE rn = 1""", got)
  }

  /** Space amplification and data files of the live artifacts, against a
    * fresh rebuild of the same content (traced run only, after the window). */
  def spaceLayers(h: Harness, e: Env, batches: Int): Unit = {
    val s = h.seed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(h.spark.sparkContext.hadoopConfiguration)
    def bytes(p: String) = fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    def files(p: String): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var n = 0L
      while (it.hasNext) { val f = it.next().getPath.getName; if (f.startsWith("part-")) n += 1 }
      n
    }
    val live = Seq(e.text, e.ivf, e.snap)
    val fresh = h.path("ingest/fresh")
    val docs = Tables(h.spark, e.dir, "documents").unionByName(
      Gen.frame(h.spark, Gen.docSchema, baseDocs, batches * batchDocs)(Gen.docRow(s, _)))
    val vecs = Tables(h.spark, e.dir, "embeddings").unionByName(
      Gen.frame(h.spark, Gen.vecSchema, baseVecs, batches * batchVecs)(Gen.vecRow(s, _)))
    TermStats.buildTextIndex(docs, "text", "doc_id", s"$fresh/text")
    Similarity.ivfBuild(vecs, "embedding", "vec_id", s"$fresh/ivf", dim = 64)
    Snapshots.commit(Snapshots.read(h.spark, e.snap), s"$fresh/snap")
    h.layers("ingest.space_amp") = live.map(bytes).sum.toDouble / bytes(fresh)
    h.layers("ingest.files") = live.map(files).sum.toDouble
  }
}
