package perfbench

import scala.collection.mutable

import graft.{CacheRegistry, SparkEntry}

/** `pipeline`: one thread runs batch stages by their `SparkEntry.queries`
  * name over a seeded multi-file corpus, each fully evaluated by writing
  * its output (which DuckDB then checks), releasing the engine's caches
  * between stages. An untimed pass over the corpus first generates and
  * JIT-compiles the stages' code; it runs on two threads, since it
  * measures nothing. The `pipeline` workload runs [[gated]], one stage per
  * layer; `pipeline_full` runs all twelve [[stages]]. */
object Pipeline {
  val stages: Seq[String] = Seq("q_minhash_neardup", "q_simhash_neardup", "q_containment",
    "q_semantic_dedup", "q_dedup_clusters", "q_substring_dedup", "q_curation",
    "q_pipeline_v2", "q_tfidf", "q_bm25_batch", "q_bpe_encode", "q_kmeans_train")
  /** One stage each of Dedup, Curation, TermStats, Bpe and Similarity:
    * two warm passes of these fit the benchmark's time budget. */
  val gated: Seq[String] = Seq("q_minhash_neardup", "q_curation", "q_tfidf",
    "q_bpe_encode", "q_kmeans_train")
  val docs = 2000
  val vecs = 800
  val files = 8

  def inputs(h: Harness, dir: String): Unit = {
    val s = h.seed
    Gen.write(h.spark, s"$dir/documents.parquet", Gen.docSchema, 0, docs, files)(Gen.docRow(s, _))
    Gen.write(h.spark, s"$dir/embeddings.parquet", Gen.vecSchema, 0, vecs, files)(Gen.vecRow(s, _))
  }

  def run(h: Harness, stages: Seq[String]): Map[String, Double] = {
    val dir = h.setup(5)(inputs(h, _))(_ => ())
    val queries = SparkEntry.queries
    Workload.clients(2, 0)((c, _) => {
      for ((q, i) <- stages.zipWithIndex if i % 2 == c)
        queries(q)(h.spark, dir).queryExecution.toRdd.count()
      Nil
    })
    CacheRegistry.releaseAll()
    h.phase("warm-up done")
    val release = mutable.ArrayBuffer.empty[Double]
    var trackedMax = 0

    Workload.windows(h) { (seconds, traced) =>
      val deadline = System.nanoTime() + seconds * 1000000000L
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val passes = mutable.ArrayBuffer.empty[Double]
      do {
        var wall = 0.0
        for (q <- stages) {
          // the stage's output is written, and DuckDB checks that output
          val p = h.path(s"checks/w${h.window}p${passes.size}/$q")
          val rec = h.op(q, _.write.parquet(p))(queries(q)(h.spark, dir))
          ops += rec; wall += rec.ms / 1000
          if (rec.ok) h.checks += Check(q, SparkEntry.oracleSql(q), p)
          // untimed: the live-heap point before release (first pass only:
          // later passes repeat the same stages), and the release
          if (passes.isEmpty) h.heapPoint()
          trackedMax = math.max(trackedMax, CacheRegistry.trackedCount)
          release += h.secs(CacheRegistry.releaseAll())._2 * 1000
        }
        passes += wall
        h.phase(f"pass ${passes.size}: $wall%.2f s")
        // at least two passes: one pass fills the window on its own, and
        // a second, warmer one would make the pass count a source of spread
      } while (System.nanoTime() < deadline || passes.size < 2)
      val ok = ops.filter(_.ok).map(_.ms)
      val passWall = Stats.median(passes.toSeq)
      val m = Map(
        "req_per_s" -> stages.size / passWall,
        "p50_ms" -> Stats.quantile(ok.toSeq, 0.5),
        "p95_ms" -> Stats.quantile(ok.toSeq, 0.95),
        "docs_per_s" -> docs / passWall)
      if (traced) {
        h.opLayers(ops.toSeq)
        for (q <- stages)
          h.layers(s"pipeline.${q}_s") = Stats.median(ops.filter(_.kind == q).map(_.ms / 1000).toSeq)
        h.layers("CacheRegistry.tracked_max") = trackedMax
        h.layers("CacheRegistry.releaseAll_ms") = Stats.median(release.toSeq)
      }
      Workload.Window(m, "docs_per_s")
    }
  }
}
