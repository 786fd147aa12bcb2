package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture table loader (driver parquet, TESTDATA.md). */
object Tables {

  /** Session config every entry point must set, CONSUMED by
    * [[graft.EngineSession]] (one source of truth — a drifted copy is how
    * a "required" conf silently stops being applied): nanos-as-long for
    * the TIMESTAMP(NANOS) fixture columns (Spark's parquet reader rejects
    * them by default, PARQUET_TYPE_ILLEGAL), and NTZ inference off so
    * naive parquet timestamps read as session-tz instants — with the UTC
    * session pin this is exactly the DuckDB oracle's naive-timestamp
    * arithmetic, and one type serves the whole timestamp function
    * surface. Applied at session CONSTRUCTION — a library read path must
    * not mutate shared session conf as a side effect. */
  val RequiredConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /**
   * Read nanos as long (legacy flag, see [[RequiredConf]]) and convert to a
   * microsecond TimestampType column — the fixture has no sub-microsecond
   * components (verified), and DuckDB exposes the same column as
   * microsecond TIMESTAMP, so both engines see identical values.
   *
   * The LAZY relation is memoized per (session, dir, name) — r17: every
   * `spark.read.parquet` pays a driver-side file listing + footer schema
   * read, and a 226-query bench re-paid it 2-3 times per query against
   * the same immutable fixture files. The memo holds ONLY the analyzed
   * plan (schema + file index) — no rows, no results; executions always
   * recompute from the parquet (the no-result-caching rule). Keyed by the
   * session so a stopped session's entry is never handed to a new one;
   * fixtures are read-only by contract (TESTDATA.md).
   */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.getOrElseUpdate(spark, s"$dir|$name") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema.fields.foldLeft(df) { (cur, f) =>
        if (f.name == "ts" && f.dataType == LongType)
          cur.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else cur
      }
    }

  private val memo = new SessionCache[DataFrame]

  /**
   * Lazy analyzed relation for a MUTABLE artifact directory (postings,
   * signature tables, index codes — anything maintenance can append to),
   * memoized per (session, dir, content fingerprint). The fingerprint is
   * ONE `listStatus` of the directory (names + lengths + mtimes — the
   * [[graft.operators.Similarity]] model-table discipline), so the memo
   * costs one FS round trip per probe and replaces Spark's full relation
   * construction: driver-side recursive listing, parquet footer schema
   * read, and re-analysis, re-paid per probe by every prebuilt serving
   * query (r17's top not-taken item). An append-mode maintenance write
   * adds files → the listing changes → the stale file index is REBUILT —
   * the invalidation a plain memo would lack (unit-pinned: a post-append
   * probe sees the new rows). Same no-result-caching contract as the
   * fixture memo above: only the analyzed plan is held; every execution
   * recomputes from the parquet files.
   */
  def artifact(spark: SparkSession, dir: String): DataFrame = {
    val fp = fingerprint(spark, dir)
    val cached = artifactMemo.getOrElseUpdate(spark, dir)((fp, spark.read.parquet(dir)))
    if (cached._1 == fp) cached._2
    else {
      val fresh = (fp, spark.read.parquet(dir))
      artifactMemo.put(spark, dir, fresh)
      fresh._2
    }
  }

  private val artifactMemo = new SessionCache[(String, DataFrame)]

  /** Cheap content fingerprint of an artifact directory: the sorted
    * (name, length, mtime) listing, hashed. Absent dir => "absent" (the
    * read then fails exactly like an un-memoized read would). */
  private[graft] def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString(",").hashCode.toString
  }

  /**
   * Small-input guard for CPU-heavy scan stages (shingling, hashing,
   * signatures): a corpus that arrives as fewer splits than cores would run
   * the whole per-row pipeline at that parallelism — at sf0.1 the documents
   * table is ONE parquet split, so a signature scan was single-threaded
   * (measured 1.1 s serial vs 0.38 s spread at k=32). At cluster scale the
   * scan already yields >= cores splits and this is the identity — the
   * repartition (which would shuffle the full text payload, unacceptable at
   * 100 TB) only ever fires on inputs smaller than one round of tasks.
   */
  def spread(df: DataFrame, target: Int = -1): DataFrame = {
    val t =
      if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    // Exchange-bearing plans are returned UNTOUCHED, for two reasons: their
    // post-shuffle parallelism is already shuffle.partitions-wide (spread
    // has nothing to fix), and — decisive — probing their partition count
    // via toRdd under AQE calls getFinalPhysicalPlan, which SUBMITS and
    // blocks on every upstream shuffle stage; the returned frame is a new
    // QueryExecution with no exchange reuse, so that work would then run
    // a SECOND time. Exchange-free plans (the scan shapes this helper
    // exists for) build their RDD lazily — counting partitions there runs
    // nothing.
    //
    // The probe below executes `sparkPlan` — the physical plan BEFORE
    // EnsureRequirements — so it is only safe when no node still NEEDS an
    // exchange inserted: executing an unprepared join zips its children's
    // RDDs and crashes on unequal partition counts (found via a
    // ChangeFeed.diff-derived input). Any non-trivial required child
    // distribution marks such a plan; those get their parallelism from
    // the shuffle/broadcast anyway, so identity is the right answer.
    val needsPrep = df.queryExecution.sparkPlan.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange] ||
        p.requiredChildDistribution.exists(_ !=
          org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution))
    if (needsPrep) df
    else if (df.queryExecution.sparkPlan.execute().getNumPartitions < t)
      df.repartition(t)
    else df
  }
}
