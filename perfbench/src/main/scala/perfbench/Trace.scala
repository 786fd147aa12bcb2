package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span recorded by the benchmark around one call into a layer. Times
  * are wall-clock milliseconds, so they line up with Spark's job events. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double) {
  def mid: Double = (startMs + endMs) / 2
}

/** Executor work attributed to one op through its job group. */
final class OpExec {
  var jobs = 0; var stages = 0; var tasks = 0
  var jobIntervals: List[(Long, Long)] = Nil
  var schedWaitMs = 0L; var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var peakExecMem = 0L; var output = 0L
  /** Catalyst phase times and exchange nodes, summed over the op's SQL
    * executions (a write is one execution; some ops run inner ones). */
  var phases: Map[String, Double] = Map.empty
  var exchanges = 0
  def jobMs: Long = Trace.unionMs(jobIntervals)
}

/** The traced run's recorder: spans kept in memory, plus a SparkListener
  * that ties every job and SQL execution to the op whose client thread set
  * its job group. Nothing here runs in an untraced run. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val exec = new ConcurrentHashMap[Long, OpExec]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long)]()
  private val sqlOp = new ConcurrentHashMap[Long, Long]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  def newId(): Long = ids.incrementAndGet()

  def nowMs: Double = System.nanoTime() / 1e6 + Trace.nanoToWall

  /** Record `f` as span `name` of `op`, child of `parent`. */
  def span[T](op: Long, parent: Long, name: String)(f: Long => T): T = {
    val id = newId()
    val t0 = nowMs
    try f(id) finally spans.add(Span(op, id, parent, name, t0, nowMs))
  }

  /** Run `f` with its jobs tagged as op `op`. */
  def tagged[T](op: Long)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.group(op), "perfbench", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def execOf(op: Long): OpExec = exec.getOrDefault(op, new OpExec)

  private def acc(op: Long): OpExec = exec.computeIfAbsent(op, _ => new OpExec)

  /** Phase spans, phase times and final-plan exchanges of one finished
    * SQL execution of `op`. */
  private def executed(op: Long, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (name, p) =>
      spans.add(Span(op, newId(), -1, s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      name -> (p.endTimeMs - p.startTimeMs).toDouble
    }
    val nx = collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
    val a = acc(op)
    a.synchronized {
      a.phases = (a.phases.keySet ++ ph.keySet)
        .map(k => k -> (a.phases.getOrElse(k, 0.0) + ph.getOrElse(k, 0.0))).toMap
      a.exchanges += nx
    }
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lastEvent.set(System.currentTimeMillis())
        s.jobGroupId.flatMap(Tracer.opOf).foreach(op => sqlOp.put(s.executionId, op))
      case end: SparkListenerSQLExecutionEnd =>
        lastEvent.set(System.currentTimeMillis())
        // the event's QueryExecution is Spark-internal API: read reflectively
        Option(sqlOp.remove(end.executionId)).foreach { op =>
          Option(end.getClass.getMethod("qe").invoke(end)).foreach(qe =>
            executed(op, qe.asInstanceOf[QueryExecution]))
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.currentTimeMillis())
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(Tracer.opOf).foreach { op =>
          jobOp.put(e.jobId, (op, e.time))
          e.stageIds.foreach(s => stageOp.put(s, op))
          val a = acc(op)
          a.synchronized { a.jobs += 1 }
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.currentTimeMillis())
      Option(jobOp.remove(e.jobId)).foreach { case (op, start) =>
        val a = acc(op)
        a.synchronized { a.jobIntervals ::= (start, e.time) }
        spans.add(Span(op, newId(), -1, s"job.${e.jobId}", start.toDouble, e.time.toDouble))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      lastEvent.set(System.currentTimeMillis())
      val si = e.stageInfo
      Option(stageOp.get(si.stageId)).foreach { op =>
        stageSubmit.put(si.stageId, si.submissionTime.getOrElse(System.currentTimeMillis()))
        val a = acc(op)
        a.synchronized { a.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.currentTimeMillis())
      Option(stageOp.get(e.stageId)).foreach { op =>
        val a = acc(op)
        val m = e.taskMetrics
        val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        a.synchronized {
          a.tasks += 1
          a.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
          if (m != null) {
            a.taskRunMs += m.executorRunTime
            a.taskCpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
            a.output += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Wait until the listener bus has gone quiet and every tagged job ended. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (!jobOp.isEmpty || !sqlOp.isEmpty || System.currentTimeMillis() - lastEvent.get() < 300))
      Thread.sleep(50)
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Write every span as one JSON line, with its self time: the span minus
    * the part of its interval that its children cover. Job and catalyst
    * spans (timed by Spark, to the millisecond) get as parent the innermost
    * call span of their op that contains their midpoint. */
  def write(path: java.nio.file.Path): Unit = {
    val all = spans.asScala.toSeq
    val resolved = all.groupBy(_.op).values.flatMap { ops =>
      val calls = ops.filter(_.parent >= 0)
      ops.map { s =>
        if (s.parent >= 0) s
        else s.copy(parent = calls.filter(c => c.startMs <= s.mid && s.mid <= c.endMs)
          .sortBy(-_.startMs).headOption.map(_.id).getOrElse(0L))
      }
    }.toSeq
    val kids = resolved.groupBy(_.parent)
    val lines = resolved.sortBy(s => (s.op, s.startMs)).map { s =>
      val covered = Trace.unionMs(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter(i => i._2 > i._1).map(i => ((i._1 * 1000).toLong, (i._2 * 1000).toLong)).toList) / 1000.0
      val dur = s.endMs - s.startMs
      f"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":${Trace.str(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"dur_ms":$dur%.3f,"self_ms":${math.max(0.0, dur - covered)}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def group(op: Long): String = s"perfbench-op-$op"
  def opOf(g: String): Option[Long] =
    if (g.startsWith("perfbench-op-")) g.stripPrefix("perfbench-op-").toLongOption else None
}

object Trace {
  /** Offset that turns System.nanoTime into wall-clock milliseconds. */
  val nanoToWall: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def unionMs(iv: List[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
