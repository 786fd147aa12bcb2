package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.EngineSession

/** Command line of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      root: java.nio.file.Path, cores: Int = 4)

/** One timed op: a serve request, an ingest read or write call, or a
  * pipeline stage. */
final case class OpRec(kind: String, startMs: Double, endMs: Double, ok: Boolean,
                       buildMs: Double = 0, compileUs: Double = 0, id: Long = 0) {
  def ms: Double = endMs - startMs
}

/** A result to be hash-matched against DuckDB SQL after the run. */
final case class Check(id: String, sql: String, path: String)

/** State shared by the workloads: the session, the run's directories, the
  * per-layer record, and the ops and checks collected so far. */
final class Harness(val args: Args) {
  val seed: Long = args.seed
  val work: java.nio.file.Path = args.root.resolve("work")
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Check]
  val failed = new AtomicLong(0)
  val attempted = new AtomicLong(0)
  private val heapPeak = new AtomicLong(0)

  def path(rel: String): String = work.resolve(rel).toString

  private val born = System.nanoTime()
  /** Progress line on stderr, with seconds since the JVM's harness started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $what")

  // ------------------------------------------------------------------ set-up

  def startSession(): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = EngineSession.builder(s"local[${args.cores}]", args.cores.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // keep only a little finished-query history, so the live heap counts
      // what the engine holds, not how many requests the window completed
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect() // first job: the context is ready to serve
    (System.nanoTime() - t0) / 1e9
  }

  /** Set up `reps` times into fresh directories, each time with a new
    * session; setup_s and the set-up layer metrics are medians over the
    * reps. `inputs` generates the inputs under a directory; `artifacts`
    * builds named artifacts, timing each with [[timed]]. */
  def setup(reps: Int)(inputs: String => Unit)(artifacts: String => Unit): String = {
    val runs = (1 to reps).map { rep =>
      val dir = path(s"rep$rep")
      val start = startSession()
      val (_, inS) = secs(inputs(dir))
      buildTimes.clear()
      val (_, artS) = secs(artifacts(dir))
      phase(f"set-up $rep: session $start%.2f s, inputs $inS%.2f s, artifacts $artS%.2f s " +
        buildTimes.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      (start + inS + artS, start, inS, buildTimes.toMap, dir)
    }
    phase(s"set up ${reps}x, ${runs.map(r => f"${r._1}%.1f").mkString("/")} s")
    layers("EngineSession.start_s") = Stats.median(runs.map(_._2))
    layers("setup.inputs_s") = Stats.median(runs.map(_._3))
    for (name <- runs.head._4.keys) layers(name) = Stats.median(runs.map(_._4(name)))
    setupS = Stats.median(runs.map(_._1))
    heapPoint()
    dataDir = runs.last._5
    dataDir
  }
  var setupS = 0.0
  /** Number of the timed window now running (a traced run has three). */
  var window = 0
  /** Input directory of the last set-up: the tables the DuckDB checks read. */
  var dataDir: String = _
  private val buildTimes = mutable.LinkedHashMap.empty[String, Double]

  /** Time an artifact build inside [[setup]] under layer name `name`. */
  def timed[T](name: String)(f: => T): T = {
    val (v, s) = secs(f)
    buildTimes(name) = s
    v
  }

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  // --------------------------------------------------------------------- ops

  def nowMs: Double = System.nanoTime() / 1e6 + Trace.nanoToWall

  /** Run one op: `build` returns the DataFrame (the operator call) and
    * `act` evaluates it. A traced run records the op's spans, catalyst
    * phases, jobs and exchanges. A thrown error counts as a failed op. */
  def op(kind: String, act: DataFrame => Unit, compile: Option[() => Unit] = None)
        (build: => DataFrame): OpRec = {
    attempted.incrementAndGet()
    val t0 = nowMs
    try tracer match {
      case None =>
        compile.foreach(_())
        act(build)
        OpRec(kind, t0, nowMs, ok = true)
      case Some(tr) =>
        val id = tr.newId()
        tr.tagged(id) {
          tr.span(id, 0, kind) { root =>
            val (_, cS) = secs(compile.foreach(c =>
              tr.span(id, root, "FilterCompiler.compile")(_ => c())))
            val (df, bS) = secs(tr.span(id, root, "op.build")(_ => build))
            tr.span(id, root, "run")(_ => act(df))
            OpRec(kind, t0, nowMs, ok = true, bS * 1000, cS * 1e6, id)
          }
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] $kind failed: $e")
        OpRec(kind, t0, nowMs, ok = false)
    }
  }

  /** A write-path call, timed as an op of its own. */
  def call(kind: String)(f: => Unit): OpRec =
    op(kind, _ => f)(null)

  // ------------------------------------------------------------- heap / gc

  /** Heap in use after explicit full GCs; the run keeps the maximum. A
    * short pause first lets Spark's listeners drain the events of the ops
    * just finished; GCs then repeat until the heap stops shrinking (at most
    * five), since each can let Spark's cleaner release blocks that the next
    * one collects. A traced run reports no live heap and skips the points. */
  def heapPoint(): Unit = if (!args.trace) {
    Thread.sleep(200)
    val mem = ManagementFactory.getMemoryMXBean
    def gc(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var used = gc()
    var more = true
    var n = 1
    while (more && n < 5) {
      Thread.sleep(100)
      val next = gc()
      more = next < used - (1L << 20)
      used = math.min(used, next)
      n += 1
    }
    phase(f"live heap ${used / 1048576.0}%.1f MB after $n GCs, " +
      s"${graft.CacheRegistry.trackedCount} tracked caches")
    heapPeak.accumulateAndGet(used, math.max)
  }
  def liveHeapMb: Double = heapPeak.get / 1048576.0

  def gcTotals: (Double, Double) = {
    val b = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (b.map(_.getCollectionTime.max(0L)).sum.toDouble, b.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }

  // ------------------------------------------------------------------ checks

  /** Write rows collected by a client to parquet, for a DuckDB check. */
  def saveCheck(id: String, sql: String, rows: Array[Row],
                schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = path(s"checks/$id")
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(p)
    checks += Check(id, sql, p)
  }

  /** The input tables of the last set-up, as a JSON object name -> dir. */
  def tablesJson: String =
    Option(dataDir).map(d => new java.io.File(d).listFiles().toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${Trace.str(f.getName.stripSuffix(".parquet"))}:${Trace.str(f.getPath)}")
      .mkString("{", ",", "}")

  // ------------------------------------------------------------ per-layer

  /** Per-layer metrics of the ops of a traced window. Executor figures are
    * per op: medians for times, means for counts and bytes. */
  def opLayers(ops: Seq[OpRec]): Unit = {
    val tr = tracer.get
    tr.drain()
    val ex = ops.map(o => o -> tr.execOf(o.id))
    val mb = 1048576.0
    def mean(f: OpExec => Double) = if (ex.isEmpty) 0.0 else ex.map(x => f(x._2)).sum / ex.size
    def med(f: ((OpRec, OpExec)) => Double) = Stats.median(ex.map(f))
    val compiled = ops.filter(_.kind == "filter").map(_.compileUs)
    layers("FilterCompiler.compile_us") = Stats.median(compiled)
    layers("op.build_ms") = med(_._1.buildMs)
    for (p <- Seq("analysis", "optimization", "planning"))
      layers(s"catalyst.${p}_ms") = med(_._2.phases.getOrElse(p, 0.0))
    layers("op.driver_ms") = med(x => math.max(0.0, x._1.ms - x._2.jobMs))
    layers("exec.jobs_per_op") = mean(_.jobs)
    layers("exec.stages_per_op") = mean(_.stages)
    layers("exec.tasks_per_op") = mean(_.tasks)
    layers("exec.job_ms") = med(_._2.jobMs.toDouble)
    layers("exec.sched_wait_ms") = med(_._2.schedWaitMs.toDouble)
    layers("exec.task_run_ms") = med(_._2.taskRunMs.toDouble)
    layers("exec.task_cpu_ms") = med(_._2.taskCpuNs / 1e6)
    val jobMsSum = ex.map(_._2.jobMs).sum.toDouble
    layers("exec.core_util") =
      if (jobMsSum > 0) ex.map(_._2.taskRunMs).sum / (jobMsSum * args.cores) else 0.0
    layers("exec.gc_ms") = mean(_.gcMs)
    layers("exec.shuffle_write_mb") = mean(_.shuffleWrite / mb)
    layers("exec.shuffle_read_mb") = mean(_.shuffleRead / mb)
    layers("exec.spill_mb") = mean(_.spill / mb)
    layers("exec.peak_exec_mem_mb") = if (ex.isEmpty) 0.0 else ex.map(_._2.peakExecMem).max / mb
    layers("exec.exchanges_per_op") = mean(_.exchanges)
    layers("exec.output_mb") = mean(_.output / mb)
  }

  /** `Tables.artifact` probes of the live artifact directories: one call per
    * directory; a rebuild is a DataFrame instance other than the last one
    * returned for that artifact. */
  final class ArtifactProbe(dirs: () => Seq[(String, String)]) {
    private val last = mutable.Map.empty[String, DataFrame]
    private val times = mutable.ArrayBuffer.empty[Double]
    private var probes = 0
    private var rebuilds = 0
    def probe(): Unit = synchronized {
      for ((name, dir) <- dirs()) {
        val (df, s) = secs(graft.Tables.artifact(spark, dir))
        times += s * 1000
        probes += 1
        if (last.get(name).exists(_ ne df)) rebuilds += 1
        last(name) = df
      }
    }
    def report(): Unit = synchronized {
      layers("Tables.artifact_ms") = Stats.median(times.toSeq)
      layers("Tables.artifact.rebuild_frac") = if (probes == 0) 0.0 else rebuilds.toDouble / probes
    }
  }

  /** Run `f` while probing every `everyMs` on this thread, until `f` ends. */
  def probing[T](probe: Option[ArtifactProbe], everyMs: Long)(f: => T): T = probe match {
    case None => f
    case Some(p) =>
      val fut = scala.concurrent.Future(f)(scala.concurrent.ExecutionContext.global)
      while (!fut.isCompleted) { p.probe(); Thread.sleep(everyMs) }
      scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
