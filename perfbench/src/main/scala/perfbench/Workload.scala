package perfbench

/** Timed windows and client threads shared by the three workloads. */
object Workload {

  /** End-to-end figures of one timed window, and its headline metric. */
  final case class Window(metrics: Map[String, Double], headline: String)

  /** Run the timed window untraced. With `--trace 1` run it three times,
    * untraced, traced, untraced, and report the traced window's per-layer
    * metrics with the tracing overhead: the share of the headline metric (a
    * throughput) lost under tracing, against the untraced window after it.
    * The first window is left out of that comparison because it runs colder
    * (on `pipeline` it is the cold pass). */
  def windows(h: Harness)(f: (Int, Boolean) => Window): Map[String, Double] = {
    def run(traced: Boolean): Window = {
      h.window += 1
      h.phase(s"timed window ${h.window}${if (traced) " (traced)" else ""}")
      f(h.args.seconds, traced)
    }
    val plain = run(traced = false)
    if (!h.args.trace) {
      plain.metrics ++ Map("setup_s" -> h.setupS, "live_heap_mb" -> h.liveHeapMb)
    } else {
      val tr = new Tracer(h.spark)
      h.tracer = Some(tr)
      val (gc0, n0) = h.gcTotals
      val traced = run(traced = true)
      val (gc1, n1) = h.gcTotals
      h.tracer = None
      tr.stop()
      val after = run(traced = false)
      tr.write(h.args.root.resolveSibling(s"spans-${h.args.workload}-${h.seed}.jsonl"))
      h.layers("jvm.gc_ms") = gc1 - gc0
      h.layers("jvm.gc_count") = n1 - n0
      val u = after.metrics(after.headline)
      val t = traced.metrics(traced.headline)
      h.layers("trace.overhead_frac") = if (u > 0) (u - t) / u else 0.0
      h.layers.toMap
    }
  }

  /** Run `n` closed-loop clients for `seconds`; each gets its index and
    * the deadline (System.nanoTime) and returns its ops. Returns all ops
    * and the wall seconds until the last client finished. */
  def clients(n: Int, seconds: Int)(body: (Int, Long) => Seq[OpRec]): (Seq[OpRec], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val results = new Array[Seq[OpRec]](n)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() =>
        try results(c) = body(c, deadline)
        catch { case e: Throwable => errors.add(e); results(c) = Nil },
        s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (results.toSeq.flatten, (System.nanoTime() - t0) / 1e9)
  }
}
