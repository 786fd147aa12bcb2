package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Versioned snapshot tables with an atomically-swapped pointer — the
 * minimal transactional sink the mutation operators need for write-back.
 * The reference gets atomicity from single-writer per-swamp files (write
 * new chronicle, swap — app/core/hydra/swamp/chronicler/v2/writer.go,
 * compactor.go); the distributed analogue is: write an immutable version
 * directory, then flip one pointer file via an atomic rename.
 *
 * Layout: `<table>/v=<N>/…parquet`, `<table>/_latest` containing N.
 * Guarantees:
 *  - readers resolve `_latest` once and then read only immutable files —
 *    a concurrent commit can never show them a half-written version;
 *  - commits are last-writer-wins on the pointer (optimistic; callers that
 *    need compare-and-swap semantics check `currentVersion` before
 *    committing and retry on mismatch);
 *  - old versions stay readable until [[vacuum]] — time travel for free.
 *
 * This is deliberately a pointer-swap design, not a log-structured table
 * format: the engine's mutations are whole-relation rewrites (Set matrix,
 * shift survivors, compaction), so one pointer per table is sufficient and
 * every storage scheme with atomic rename (HDFS, posix) supports it.
 */
object Snapshots {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest committed version, if any — read through the ONE shared
    * pointer reader, as [[flipPointer]] writes through the shared flip. */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    IndexLifecycle.currentVersionAt(spark, dir, "_latest")

  /** Version numbers present under `dir`. Non-numeric `v=*` entries (a
    * stray `v=3.bak` from a manual copy, say) are foreign files, not
    * versions — skipped, never a NumberFormatException that would take
    * down every listing-based API including the streaming replay guard. */
  private def versionsIn(f: FileSystem, dir: String): Seq[Long] =
    f.listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .flatMap(_.stripPrefix("v=").toLongOption)

  private def fc(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileContext
      .getFileContext(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)

  /** Atomically flip the pointer file to `next` — delegates to the ONE
    * shared pointer primitive ([[IndexLifecycle.flipPointerAt]]: write-
    * temp + rename-overwrite + stale `_latest.tmp.*` sweep), so the three
    * artifact families cannot drift on the atomic-replace idiom and a
    * crashed flip's temp debris is cleaned by the next flip here too. */
  private def flipPointer(spark: SparkSession, dir: String, next: Long): Unit =
    IndexLifecycle.flipPointerAt(spark, dir, "_latest", next)

  /** Write `df` as the next immutable version and atomically flip the
    * pointer. Optimistic: on a version conflict the write is retried
    * against the fresh version (bounded), so concurrent committers
    * serialize instead of clobbering. */
  def commit(df: DataFrame, dir: String, maxRetries: Int = 5,
             meta: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    var attempt = 0
    while (attempt <= maxRetries) {
      commitIf(df, dir, currentVersion(spark, dir), meta) match {
        case Some(v) => return v
        case None => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"commit to $dir failed after $maxRetries retries — either commit " +
        "traffic is pathological, or a crashed committer left an orphan " +
        "version directory above the pointer (run recoverOrphans)")
  }

  /**
   * Compare-and-swap commit — the distributed analogue of the reference's
   * per-swamp single-writer guarantee (reference: app/core/hydra/lock/
   * lock.go:13-70 serializes all writes per swamp; per-key guard
   * guard.go): write `df` as version `expected+1` ONLY if the table is
   * still at `expected` (None = must be empty). Returns Some(version) on
   * success, None on a detected conflict — never a silent clobber.
   *
   * Arbitration: each committer writes its data into a PRIVATE staging
   * directory, then renames it to `v=N+1`. Directory rename is atomic on
   * HDFS/posix and refuses an existing destination, so exactly one racer
   * owns `v=N+1` — unlike a direct `errorifexists` parquet write, whose
   * existence check is driver-side check-then-write and would let two
   * racers interleave part-files into one directory. The loser deletes
   * its staging dir and concedes; if the pointer moved between the win
   * and the flip (a full racing commit+vacuum cycle), the winner deletes
   * its own `v=N+1` (nobody else can have flipped TO it) and concedes —
   * no orphan is left on any conceding path. A committer that CRASHES
   * between rename and flip does leave an orphan that blocks that version
   * number; see [[recoverOrphans]].
   */
  def commitIf(df: DataFrame, dir: String, expected: Option[Long],
               meta: Map[String, String] = Map.empty): Option[Long] = {
    val spark = df.sparkSession
    if (currentVersion(spark, dir) != expected) return None
    val next = expected.map(_ + 1).getOrElse(0L)
    val f = fs(spark, dir)
    val staged = new Path(s"$dir/.staging-v$next-${java.util.UUID.randomUUID()}")
    // metadata round-trip validation runs BEFORE the (potentially
    // full-base-rewrite) parquet write: validating after wasted the whole
    // staged write, and under CAS contention the permanent
    // IllegalArgumentException could surface as a retryable None — the
    // caller's loop would then repeat the doomed write to maxRetries and
    // misreport "write contention" instead of the invalid meta. The line
    // format is unescaped, so reject what it cannot round-trip: '=' in a
    // key, and BOTH newline flavors in either side (versionMeta reads via
    // linesIterator, which splits on '\r' too — a carriage return would
    // silently shear one entry into a phantom pair).
    meta.foreach { case (k, v) =>
      require(!k.contains('=') && !k.exists(c => c == '\n' || c == '\r') &&
          !v.exists(c => c == '\n' || c == '\r'),
        s"version meta cannot round-trip key '$k' ('=' in keys / newline " +
          "or carriage-return characters are not representable)")
    }
    try {
      df.write.parquet(staged.toString)
      // metadata travels INSIDE the version dir, so it becomes visible
      // atomically with the rename — underscore-prefixed, ignored by scans.
      if (meta.nonEmpty) {
        val out = f.create(new Path(staged, "_meta"), true)
        try out.write(meta.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
    } catch { // a half-written staging dir must not outlive the failed write
      case e: Throwable =>
        f.delete(staged, true)
        // `df` reads its base version LAZILY — a racing commit+vacuum
        // (maintain is documented as an expected background racer) can
        // delete that base mid-staging-write. When the pointer has in fact
        // moved, that failure IS the conflict this CAS exists to signal:
        // return None so the caller's retry loop re-derives against the
        // fresh version instead of dying on the rethrow. A failure with
        // the pointer UNMOVED is a genuine error and still propagates.
        if (currentVersion(spark, dir) != expected) return None
        throw e
    }
    val dest = new Path(s"$dir/v=$next")
    val won =
      try {
        fc(spark, dir).rename(staged, dest)
        // On the local filesystem a racing rename can "succeed" by falling
        // back to copy-INTO-destination (RawLocalFileSystem.rename's
        // cross-volume path) — i.e. our staging dir lands NESTED inside
        // the true winner's version dir. The staging name is unique, so
        // detect the nesting, remove our copy, and concede. HDFS rename
        // is atomic server-side and never takes this path.
        val nested = new Path(dest, staged.getName)
        if (f.exists(nested)) { f.delete(nested, true); false } else true
      }
      catch { case _: java.io.IOException => false } // dest exists: lost
    if (!won) { f.delete(staged, true); return None }
    if (currentVersion(spark, dir) != expected) {
      f.delete(new Path(s"$dir/v=$next"), true) // ours alone — safe rollback
      return None
    }
    flipPointer(spark, dir, next)
    Some(next)
  }

  /**
   * Search version metadata for `key`, newest version first — the
   * high-water-mark read: an interleaved commit WITHOUT that key (manual
   * maintenance, compaction) must not erase the answer, so the scan walks
   * back through retained versions until it finds one carrying the key
   * (vacuumed history bounds the walk).
   */
  def latestMetaValue(spark: SparkSession, dir: String, key: String): Option[String] =
    latestMetaValues(spark, dir, Seq(key)).map(_(key))

  /**
   * Like [[latestMetaValue]] for SEVERAL keys, read from the SAME version —
   * the newest retained version whose metadata carries every requested key.
   * Independent per-key walks could stitch a pair from different commits
   * (one commit writing only half the keys would pair its value with an
   * older commit's other half), which for (runId, batchId) high-water marks
   * silently corrupts replay protection.
   */
  def latestMetaValues(spark: SparkSession, dir: String,
                       keys: Seq[String]): Option[Map[String, String]] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return None
    // pointer FIRST, then the listing (with the pointer's version unioned
    // in — a fresh commit's dir may postdate the listing), and retry the
    // whole walk while the pointer MOVES under us: a concurrent maintain
    // (commit + vacuum, the documented background racer) between any two
    // reads here could otherwise make every listed version's _meta vanish
    // and silently disable the sink's replay guard. The loop terminates:
    // each retry requires a pointer advance, and an unmoved pointer with
    // an empty walk is an honestly empty answer.
    var lastCur = -1L
    var done = false
    var out: Option[Map[String, String]] = None
    while (!done) {
      val cur = currentVersion(spark, dir).getOrElse(return None)
      if (cur == lastCur) done = true
      else {
        lastCur = cur
        out = (versionsIn(f, dir) :+ cur).distinct
          .filter(_ <= cur).sorted(Ordering[Long].reverse)
          .iterator
          .map { v =>
            val meta = versionMeta(spark, dir, Some(v))
            if (keys.forall(meta.contains)) Some(keys.map(k => k -> meta(k)).toMap)
            else None
          }
          .collectFirst { case Some(m) => m }
        if (out.nonEmpty) done = true
      }
    }
    out
  }

  /** Metadata committed with a version (atomic with its rename). */
  def versionMeta(spark: SparkSession, dir: String,
                  version: Option[Long] = None): Map[String, String] = {
    val v = version.orElse(currentVersion(spark, dir))
      .getOrElse(return Map.empty)
    val f = fs(spark, dir)
    val p = new Path(s"$dir/v=$v/_meta")
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      body.linesIterator.filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
        .toMap
    }
  }

  /**
   * Delete version directories above the live pointer and any staging
   * debris — the remnants of committers that crashed between the data
   * rename and the pointer flip (such an orphan permanently blocks its
   * version number, since every retry targets pointer+1). ONLY safe when
   * no commit is in flight — a live committer's about-to-be-flipped
   * version is indistinguishable from a dead one's orphan. Returns the
   * deleted version numbers.
   */
  def recoverOrphans(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return Nil
    val cur = currentVersion(spark, dir)
    val st = f.listStatus(new Path(dir)).toSeq
    // staging dirs AND pointer-swap temps: a committer that crashed between
    // creating _latest.tmp.<uuid> and the rename leaves the tmp behind, and
    // nothing else ever deletes it
    st.filter { s =>
      val n = s.getPath.getName
      n.startsWith(".staging-") || n.startsWith("_latest.tmp.")
    }.foreach(s => f.delete(s.getPath, true))
    val orphans = st.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(_.stripPrefix("v=").toLongOption)
      .filter(v => cur.forall(v > _)) // above the pointer (all, if none)
      .sorted
    orphans.foreach(v => f.delete(new Path(s"$dir/v=$v"), true))
    orphans
  }

  /** Read the latest snapshot (or a pinned historical `version`). */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $dir"))
    spark.read.parquet(s"$dir/v=$v")
  }

  /** Time-travel diff: the exact keyed change set (NEW/MODIFIED/DELETED +
    * old/new values) between two committed versions — the batch answer to
    * "what changed between yesterday's snapshot and today's". Same event
    * algebra as the live feed ([[graft.streaming.ChangeFeed.diff]] — one
    * kernel, so replaying v→v+1 diffs reproduces exactly what subscribers
    * saw), applied to immutable versions so it is repeatable forever. */
  def diff(spark: SparkSession, dir: String, from: Long, to: Long,
           keyCol: String): DataFrame =
    graft.streaming.ChangeFeed.diff(
      read(spark, dir, Some(from)), read(spark, dir, Some(to)), keyCol)

  /**
   * Durable Set: merge a delta into the latest snapshot with the full
   * [[Mutations.set]] matrix semantics and commit the post-state as the
   * next version (first commit = the delta itself for createable modes).
   * This is the write-back loop of the reference's Set RPC — read current
   * swamp state, apply the upsert matrix, persist atomically — expressed
   * as snapshot-in, snapshot-out. Returns the committed version.
   *
   * DELTA KEY CONTRACT: the merge join multiplies duplicate delta keys
   * (each copy matches the same base row — and the first commit would
   * store both copies, breaking key uniqueness for every later merge), so
   * the delta must carry ONE row per key. Deltas that legitimately hold
   * several updates per key (a streaming micro-batch with an insert then
   * an update of the same key) pass `dedupSeqCol`: the latest row per key
   * by that column wins before the matrix applies — the same LWW-by-seq
   * rule [[Chronicle.lastWriteWins]] uses, at delta (not corpus) size. The
   * seq column is transport metadata, dropped before the merge — it must
   * not be one of the table's value columns. PRECONDITION: (key, seq)
   * pairs must be UNIQUE — two delta rows tying on both have no defined
   * winner (the rank is partition-order-dependent), and a CAS-conflict
   * retry recomputes the merge, so the tie could durably commit a
   * DIFFERENT row than the first attempt chose. Producers that cannot
   * guarantee per-key seq uniqueness must disambiguate upstream (a
   * composite seq, an arrival counter).
   *
   * [[Mutations.DryRun]] is rejected: its contract is "nothing is ever
   * written", and a durable commit of the unchanged base would still
   * write a full new version, bump the pointer, and advance any metadata
   * high-water mark. Preview a merge with [[Mutations.set]] directly.
   */
  def mergeCommit(spark: SparkSession, dir: String, delta: DataFrame,
                  keyCol: String,
                  mode: Mutations.WriteMode = Mutations.Upsert,
                  meta: Map[String, String] = Map.empty,
                  maxRetries: Int = 5,
                  dedupSeqCol: Option[String] = None): Long = {
    require(mode != Mutations.DryRun,
      "mergeCommit(DryRun) would durably commit a no-op version (full base " +
        "rewrite + pointer bump + meta advance); preview with Mutations.set")
    val keyed = dedupSeqCol match {
      case None => delta
      case Some(seq) =>
        // fail fast, not at the first FOLLOWING commit: seq == key would
        // drop the key column itself after the window (committing a
        // keyless version that poisons every later merge's analysis).
        // Case-INSENSITIVE compare: Spark resolves and drops column names
        // case-insensitively by default, so 'KEY' vs 'key' would bypass a
        // == guard and still drop the key column
        require(!seq.equalsIgnoreCase(keyCol),
          s"dedupSeqCol ('$seq') must not be the key column — the seq " +
            "column is transport metadata and is DROPPED before the merge")
        // same fail-fast class for the scratch column: withColumn would
        // silently OVERWRITE a pre-existing '_mc_rn' value column and the
        // drop below would then delete the caller's data from the commit
        require(!delta.columns.exists(_.equalsIgnoreCase("_mc_rn")),
          "delta carries a column named '_mc_rn', which the per-key dedup " +
            "uses as its scratch rank — rename it before mergeCommit")
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val w = Window.partitionBy(col(keyCol)).orderBy(col(seq).desc)
        delta.withColumn("_mc_rn", row_number().over(w))
          .filter(col("_mc_rn") === 1).drop("_mc_rn", seq)
    }
    // The read-merge-commit loop must RECOMPUTE the merge against the
    // fresh version after a CAS conflict: retrying the stale merge result
    // (the old commit() path) would commit a post-state derived from the
    // superseded base, silently discarding the racing writer's rows.
    var attempt = 0
    while (attempt <= maxRetries) {
      val base = currentVersion(spark, dir)
      val next = base match {
        case None =>
          mode match {
            case Mutations.Upsert | Mutations.InsertOnly => keyed
            case _ => keyed.limit(0) // nothing to update against
          }
        case Some(v) =>
          Mutations.set(read(spark, dir, Some(v)), keyed, keyCol, mode)
            .drop("_status")
      }
      commitIf(next, dir, base, meta) match {
        case Some(v) => return v
        case None => attempt += 1 // conflicted: re-read, re-merge
      }
    }
    throw new IllegalStateException(
      s"mergeCommit to $dir conflicted $maxRetries times — pathological " +
        "write contention or an orphan version (run recoverOrphans)")
  }

  /**
   * Outcome of one [[maintain]] evaluation. `fragmentation` is the fraction
   * of on-disk bytes held by superseded versions (dead history / total);
   * `reclaimedBytes` is negative only in the pathological case where the
   * compacted rewrite is larger than all prior history combined.
   */
  final case class MaintainReport(
      compacted: Boolean,
      fragmentation: Double,
      versionsBefore: Int,
      reclaimedBytes: Long,
      compactedVersion: Option[Long])

  /**
   * Auto-compaction policy — decide WHEN to compact, not just how (the
   * mechanism alone was the round-4 gap). The reference compactor runs on
   * swamp close once dead bytes reach a fragmentation threshold
   * (app/core/hydra/swamp/chronicler/v2/compactor.go; the 50%-frag default
   * and the max-file-size knob are RPC surface, proto/hydraide.proto:
   * 2952-2986). Translated to the snapshot layout, "dead bytes" are the
   * superseded version directories: measure live (= current version) vs
   * total retained bytes and, when dead/total ≥ `fragmentationThreshold`
   * OR more than `maxVersions` versions are retained, rewrite the live
   * version coalesced to ~`targetBytesPerFile` files and vacuum all older
   * history.
   *
   * Metadata high-water marks (e.g. [[graft.streaming.SnapshotSink]]'s
   * (runId, batchId) replay guard) survive compaction: the latest value of
   * every meta key across retained versions is folded into the compacted
   * version's own metadata before the history that carried it is vacuumed.
   *
   * Concurrency: the rewrite goes through [[commitIf]] against the version
   * observed at entry, so a racing writer wins and maintain reports
   * `compacted = false` — it never clobbers. Like [[vacuum]], the history
   * deletion assumes no reader is pinned to a pre-compaction version.
   *
   * Scale: the measurement is pure namenode metadata (one content summary
   * per retained version); the rewrite is a shuffle-free coalesce of one
   * version's files. At 100 TB this runs as a per-table background task
   * exactly like the reference's close-time compactor.
   */
  def maintain(spark: SparkSession, dir: String,
               maxVersions: Int = 4,
               fragmentationThreshold: Double = 0.5,
               targetBytesPerFile: Long = 128L << 20): MaintainReport = {
    val f = fs(spark, dir)
    val none = MaintainReport(compacted = false, 0.0, 0, 0L, None)
    if (!f.exists(new Path(dir))) return none
    val cur = currentVersion(spark, dir).getOrElse(return none)
    val versions = versionsIn(f, dir).filter(_ <= cur).sorted
    // a racing maintain/vacuum on the same table may delete a version
    // between the listing and the measurement (the doc pitches this as a
    // background task — two schedulers IS the expected failure, not a
    // crash): concede like the commitIf-conflict path does
    val sizes =
      try versions.map(v =>
        v -> f.getContentSummary(new Path(s"$dir/v=$v")).getLength).toMap
      catch { case _: java.io.FileNotFoundException => return none }
    val total = sizes.values.sum
    val live = sizes.getOrElse(cur, return none) // cur vanished: racer won
    val frag = if (total == 0) 0.0 else (total - live).toDouble / total
    val due = frag >= fragmentationThreshold || versions.length > maxVersions
    if (!due) return MaintainReport(compacted = false, frag, versions.length, 0L, None)
    // Carry ONLY the newest version's non-empty meta map, whole. Even the
    // previous disjoint-GROUP carry could stitch a pair of keys from two
    // different commits when each commit wrote only one key of the pair
    // (v=7 {runId} + v=6 {batchId} are disjoint, yet (runId, batchId) as
    // one map is a same-version pair that never co-existed — the sink
    // would then SKIP batches it never committed). Key-level pairing
    // semantics are invisible here, so one commit's map is the only thing
    // safe to present as one commit's map. Older metadata is dropped in
    // the safe direction: a high-water mark reads absent and the sink
    // re-merges (idempotent), never skips.
    val carried = versions.sorted(Ordering[Long].reverse).iterator
      .map(v => versionMeta(spark, dir, Some(v)))
      .find(_.nonEmpty)
      .getOrElse(Map.empty[String, String])
    val files = math.max(1L, (live + targetBytesPerFile - 1) / targetBytesPerFile).toInt
    val compacted = read(spark, dir, Some(cur)).coalesce(files)
    commitIf(compacted, dir, Some(cur), carried) match {
      case Some(nv) =>
        vacuum(spark, dir, keepFrom = nv)
        // telemetry probe only, and the compaction already SUCCEEDED: a
        // racing maintain can commit nv+1 and vacuum nv away between our
        // commit and this size read — that is the documented two-scheduler
        // overlap, not a failure (the measurement loop above concedes the
        // same way on FNF)
        val after =
          try f.getContentSummary(new Path(s"$dir/v=$nv")).getLength
          catch { case _: java.io.FileNotFoundException => live }
        MaintainReport(compacted = true, frag, versions.length, total - after, Some(nv))
      case None => // a racing commit moved the pointer — concede, report
        MaintainReport(compacted = false, frag, versions.length, 0L, None)
    }
  }

  /** Drop all versions strictly older than `keepFrom`. A table directory
    * that does not exist yet has nothing to vacuum (the recoverOrphans /
    * maintain guard — scheduled maintenance may be configured before the
    * first commit). */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Long): Unit = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return
    val st = f.listStatus(new Path(dir))
    st.filter(_.getPath.getName.startsWith("v="))
      .filter(_.getPath.getName.stripPrefix("v=").toLongOption.exists(_ < keepFrom))
      .foreach(s => f.delete(s.getPath, true))
  }
}
