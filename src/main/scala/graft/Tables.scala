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
   * ONE `listStatus` of the directory (names + lengths + mtimes, shared
   * with the [[metadata]] memo), so the memo
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
    * (name, length, mtime) listing, SHA-256 hashed — a 32-bit string hash
    * collides on listings as close as `Aa.parquet` vs `BB.parquet`, and
    * both memos here key on this value (unit-pinned). Fields and entries
    * are NUL-separated, a byte no file name holds. Absent dir => "absent"
    * (the read then fails exactly like an un-memoized read would). */
  private[graft] def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val listing = fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
        .map(s => Seq(s.getPath.getName, s.getLen, s.getModificationTime).mkString("\u0000"))
        .mkString("\u0000\u0000")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
  }

  /**
   * Driver memo for the small per-version METADATA a serving probe holds
   * as plan literals — PQ codebooks and IVF centroids ([[graft.operators.Similarity]]),
   * a text index's (N, Σdl) and per-term df ([[graft.operators.TermStats]]).
   * One entry per TABLE SET (the dirs the items are read from) holds the
   * set's [[fingerprint]]s and its items: an append or an out-of-band
   * rewrite changes a listing, so the next read sees other fingerprints
   * and replaces the entry — a stale value is never served, and a
   * superseded listing's items are dropped, not left to age out (the
   * [[artifact]] invalidation rule, applied to collected values). A miss
   * loads the missing items in one call, once per (listing, item); a
   * repeated probe pays one `listStatus` per dir instead of a Spark job
   * (its planning, codegen and per-job scheduling floor). Values are
   * session-independent driver data (arrays, longs), so the memo is not
   * per session.
   *
   * Bounds: at most [[MetadataItems]] items per table set, past which
   * THAT set clears — so a text index serving a wide vocabulary never
   * evicts another table's codebook or centroids — and one load of more
   * items keeps only the first [[MetadataItems]]; at most
   * [[MetadataTables]] table sets, past which the whole memo clears (the
   * model-table memo's old bound). Each item is a bounded collect (a
   * codebook's ksub rows, a centroid table's nlist rows, one term's df);
   * a reload is one collect (unit-pinned).
   */
  private[graft] def metadata[T](spark: SparkSession, dir: String,
                                 item: String)(load: => T): T =
    metadataEach[T](spark, Seq(dir), Seq(item))(_ => Map(item -> load))(item)

  /** [[metadata]] for several items of one table set at its current
    * listings: the items not yet memoized load in ONE `load(missing)`
    * call, which must return a value for every item it is given. */
  private[graft] def metadataEach[T](spark: SparkSession, dirs: Seq[String],
                                     items: Seq[String])(
      load: Seq[String] => Map[String, T]): Map[String, T] = {
    val fps = dirs.map(fingerprint(spark, _))
    val memo = metadataMemo.get(dirs) match {
      case Some((`fps`, m)) => m
      case _ =>
        if (metadataMemo.size >= MetadataTables && !metadataMemo.contains(dirs))
          metadataMemo.clear()
        val m = scala.collection.concurrent.TrieMap.empty[String, Any]
        metadataMemo.put(dirs, (fps, m))
        m
    }
    val hits = items.flatMap(i => memo.get(i).map(i -> _.asInstanceOf[T])).toMap
    val missing = items.distinct.filterNot(hits.contains)
    if (missing.isEmpty) hits
    else {
      val got = load(missing)
      if (memo.size + missing.size > MetadataItems) memo.clear()
      missing.take(MetadataItems).foreach(i => memo.put(i, got(i)))
      hits ++ missing.map(i => i -> got(i))
    }
  }

  private[graft] val MetadataItems = 1024
  private[graft] val MetadataTables = 256
  /** Items memoized for a table set (0 if none): the unit pin's view. */
  private[graft] def metadataItems(dirs: Seq[String]): Int =
    metadataMemo.get(dirs).fold(0)(_._2.size)
  private val metadataMemo = scala.collection.concurrent.TrieMap
    .empty[Seq[String], (Seq[String], scala.collection.concurrent.TrieMap[String, Any])]

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
