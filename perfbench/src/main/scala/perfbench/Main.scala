package perfbench

import java.nio.file.{Files, Paths}

/** JVM side of one benchmark run; `run.py` launches it and does the
  * DuckDB checks. Usage:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <root>
  *
  * Writes `<root>/result.json`: the metrics, the op counts and the checks
  * still to be matched against DuckDB. */
object Main {
  def main(argv: Array[String]): Unit = {
    require(argv.length == 5, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <root>")
    val args = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", Paths.get(argv(4)))
    val h = new Harness(args)
    val res = try args.workload match {
      case "serve" => Serve.run(h)
      case "pipeline" => Pipeline.run(h, Pipeline.gated)
      case "pipeline_full" => Pipeline.run(h, Pipeline.stages)
      case "ingest" => Ingest.run(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally if (h.spark != null) h.spark.stop()
    val num = (v: Double) => if (v.isNaN || v.isInfinite) "0" else v.toString
    val metrics = res.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Trace.str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val checks = h.checks.map(c =>
      s"""{"id":${Trace.str(c.id)},"sql":${Trace.str(c.sql)},"path":${Trace.str(c.path)}}""")
      .mkString("[", ",", "]")
    Files.writeString(args.root.resolve("result.json"),
      s"""{"attempted":${h.attempted.get},"failed":${h.failed.get},"metrics":$metrics,""" +
        s""""checks":$checks,"tables":${h.tablesJson}}""")
  }
}
