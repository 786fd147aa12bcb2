package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/**
 * The engine's canonical session builder. Every driver-facing entry point
 * (Bench, Verify, Explain) and the test harness build their session HERE,
 * so the extension surface — the graft_* SQL functions and the
 * literal-binding rule of [[GraftExtensions]] — is active on every
 * documented path, and the tests observe the driver's real config.
 *
 * It also makes each generated class compile once per JVM. Spark caches
 * compiled classes by (class loader, source text) in one LRU per JVM:
 *  - `spark.sql.codegen.cache.maxEntries` sizes that cache to the engine's
 *    working set ([[CodegenCacheEntries]]). The default, 100, is below the
 *    120–138 classes of one pass over the 5 gated pipeline stages, and a
 *    cycled LRU smaller than its working set misses every lookup: at
 *    sf0.01 each pass recompiled 130 classes (1.8–2.2 s of a 4.3–6.0 s
 *    pass). The
 *    conf is static: Spark reads it once per JVM, when the first class is
 *    compiled, so a session built here must exist before anything in the
 *    JVM generates code, and a later session cannot resize the cache.
 *  - `spark.sql.artifact.isolation.enabled=false` gives every session one
 *    executor class loader. With isolation, each session gets its own, and
 *    `persist` plans its cached query in a cloned session, so every
 *    cached stage recompiled its classes on the executors on every run.
 *    The engine adds no session artifacts, so isolation bought nothing.
 *  - `spark.sql.codegen.useIdInClassName=false` keeps the codegen stage id
 *    out of the class name. Adaptive execution numbers stages in the order
 *    they are planned, which varies run to run, and the same code under a
 *    new number was a new class. Plan text still shows the stage ids.
 */
object EngineSession {
  /** Compiled classes Spark keeps per JVM. Measured working sets: the gated
    * pipeline about 126, the 12-stage pipeline 376, serving 163 (82 of them
    * in set-up); 1,000 holds a serving engine and the full pipeline in one
    * JVM with room to spare. A cached class holds about 25 KB of heap (its
    * source text and loaded class), so a full cache holds about 25 MB (BENCH_NOTES). */
  val CodegenCacheEntries = 1000

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    Tables.RequiredConf.foldLeft( // Tables owns the fixture-read confs —
      // consuming the map here (instead of a hand-copied twin) is what
      // keeps "required" meaning applied; see Tables.RequiredConf
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
        .config("spark.sql.artifact.isolation.enabled", "false")
        .config("spark.sql.codegen.useIdInClassName", "false")
    ) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new GraftExtensions)

  /** JVM-wide codegen counters: (classes compiled, compile nanoseconds).
    * Both count cache misses only, so the delta over a warm run is what it
    * recompiled. Call it after a session exists: it initializes Spark's
    * class cache, which reads its size from the active session. */
  def codegenCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Runs `body` and counts the Spark jobs it started on this thread:
    * a `SparkListener` counts job starts tagged with a fresh job group set
    * around `body` (broadcasts and subqueries inherit it). A marker job run
    * afterwards under a second group, once the listener has seen it, proves
    * every earlier job event has been delivered. The marker runs after
    * `body` returns, so a timer inside `body` does not see it. */
  def countJobs[T](spark: SparkSession, label: String)(body: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"jobcount-$label-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      val out = body
      sc.setJobGroup(marker, "listener-bus marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      require(seen.contains(marker), "the listener never saw the marker job")
      (out, seen.asScala.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
