package graft.operators

import org.apache.spark.sql.SparkSession

/**
 * CAS-versioned artifact lifecycle — ONE implementation of the
 * version-directory + pointer-flip discipline shared by every prebuilt
 * serving artifact (text index, positional phrase index, PQ codes, IVF
 * lists). Reference analogue: the always-maintained bucket index whose
 * rebuilds must never tear a concurrent reader
 * (app/core/hydra/swamp/beacon/bucket.go:215-330); the [[Snapshots]] CAS
 * mechanism generalized from snapshots to index artifacts.
 *
 * Layout: `root/v=N/...` immutable version directories plus a `_current`
 * pointer file holding the committed version number. A writer stages the
 * complete new version under `v=N+1` and flips the pointer LAST
 * (write-temp + atomic rename-overwrite), so a concurrent reader either
 * resolves the old version — whose files are never touched — or the new
 * one; never a torn mix. A legacy flat layout (tables directly under the
 * root, no pointer) resolves to the root itself and stays readable.
 *
 * Single-WRITER contract: the pointer protects readers from rebuilds, not
 * two concurrent writers from each other — append and rebuild/compact must
 * not run concurrently (the reference's compactor holds the same
 * exclusivity).
 */
object IndexLifecycle {

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest committed version, None for a legacy flat layout. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    currentVersionAt(spark, root, "_current")

  /** [[currentVersion]] generalized over the pointer file name — the
    * snapshot family uses `_latest`; [[graft.operators.Bundles]] round
    * trips both families through this one reader.
    *
    * The pointer is read past Hadoop's checksum layer: on the local file
    * system the flip's rename moves the file and its `.crc` sidecar one
    * after the other, so a reader in between paired new bytes with the
    * old checksum and threw `ChecksumException`. The content needs no
    * checksum: it is validated as a version number below. */
  def currentVersionAt(spark: SparkSession, root: String,
                       pointerName: String): Option[Long] = {
    val f = fs(spark, root) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val p = new org.apache.hadoop.fs.Path(s"$root/$pointerName")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(s.toLongOption.getOrElse(throw new IllegalStateException(
        s"index pointer $p holds '$s', not a version number")))
    }
  }

  /** Directory holding the artifact tables: `root/v=N` when versioned,
    * the root itself for a legacy flat layout. */
  def resolveDir(spark: SparkSession, root: String): String =
    currentVersion(spark, root).map(v => s"$root/v=$v").getOrElse(root)

  /** Does an artifact sub-table exist at `path`? A driver-side FS probe —
    * the serving paths use it to pick between a denormalized metadata
    * table and the legacy recompute-from-postings fallback. */
  def tableExists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** The version number the next build/compaction should stage under.
    * REFUSES while a torn replay-safe append is pending ([[appendOnce]]'s
    * intent manifests): a rebuild/compact folds the torn batch's partial
    * files into the next version under NEW file names, where the replay's
    * recovery can no longer find them — the replay would then re-append
    * the whole batch on top, silently double-counting (the exact
    * corruption the protocol exists to prevent). Resolve first: replay
    * the batch (self-heals), or [[abandonTornAppends]] to discard it. */
  def nextVersion(spark: SparkSession, root: String): Long = {
    val torn = pendingIntents(spark, root)
    require(torn.isEmpty,
      s"$root has ${torn.size} torn append(s) pending (${torn.mkString(", ")}) " +
        "— a rebuild/compact would orphan their partial files and a later " +
        "replay would double-count; replay the batch to self-heal, or " +
        "IndexLifecycle.abandonTornAppends(root) to discard it")
    currentVersion(spark, root).getOrElse(0L) + 1
  }

  /** Atomic pointer flip: write-temp + rename-overwrite (FileContext
    * exposes the atomic-overwrite rename publicly). Also sweeps any
    * `_current.tmp.*` debris a previous writer left by dying between
    * create and rename — safe under the single-writer contract, and
    * without it crashed-flip temp files would accumulate forever. */
  def flipPointer(spark: SparkSession, root: String, next: Long): Unit =
    flipPointerAt(spark, root, "_current", next)

  /** [[flipPointer]] generalized over the pointer file name (same atomic
    * write-temp + rename-overwrite + stale-tmp sweep for `_latest`-family
    * artifacts — [[graft.operators.Bundles]] imports flip through this). */
  def flipPointerAt(spark: SparkSession, root: String, pointerName: String,
                    next: Long): Unit =
    writeAtomic(spark, root, pointerName, next.toString)

  /** Atomic small-file write: sweep crashed-write debris, write-temp,
    * rename-overwrite (FileContext exposes the atomic-overwrite rename
    * publicly). The pointer flip and the replay markers both ride this.
    * `knownNames`: a directory listing the caller already holds — the
    * debris sweep then filters IT instead of re-listing (debris from a
    * crashed PREVIOUS attempt is in any later listing by definition, and
    * a successful writeAtomic leaves none), saving one object-store
    * round trip per call on the per-micro-batch hot path. */
  private def writeAtomic(spark: SparkSession, parent: String, name: String,
                          content: String,
                          knownNames: Option[Seq[String]] = None): Unit = {
    val f = fs(spark, parent)
    knownNames match {
      case Some(ns) => ns.filter(_.startsWith(s"$name.tmp."))
        .foreach(n => f.delete(
          new org.apache.hadoop.fs.Path(s"$parent/$n"), false))
      case None => sweepStaleTmp(f, parent, name)
    }
    val tmp = new org.apache.hadoop.fs.Path(
      s"$parent/$name.tmp.${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(new org.apache.hadoop.fs.Path(parent).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new org.apache.hadoop.fs.Path(s"$parent/$name"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def sweepStaleTmp(f: org.apache.hadoop.fs.FileSystem,
                            root: String,
                            pointerName: String = "_current"): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (f.exists(rootPath))
      f.listStatus(rootPath).toSeq
        .filter(s => !s.isDirectory &&
          s.getPath.getName.startsWith(s"$pointerName.tmp."))
        .foreach(s => f.delete(s.getPath, false))
  }

  // ──────────────────── replay-safe append protocol ────────────────────
  //
  // `foreachBatch` is at-least-once: a micro-batch that fails after SOME of
  // its append-mode writes landed is re-delivered wholesale, and a raw
  // re-append double-counts (BM25 df/tf partials, gram counts, duplicate
  // signature rows — silently wrong answers, not crashes). This protocol
  // gives any append-maintained artifact the [[graft.streaming.SnapshotSink]]
  // (runId, batchId) idempotence, generalized from "merge one table" to
  // "append N part-files across M sub-tables":
  //
  //   guard   read `root/_appends/run-<tag(runId)>`; committed ⇒ no-op
  //   recover a leftover `intent-<tag>-<batch>` manifest lists every live
  //           file a torn attempt may have moved — delete them all
  //   stage   the caller writes the batch's tables under
  //           `root/_staging/<tag>-<batch>` (fresh dir, overwrite mode)
  //   intent  the staged part-file → live-file map is committed atomically
  //           BEFORE any live-dir mutation
  //   move    each staged file renames into the live dir under a
  //           batch-stamped name (`b-<tag>-<batch>-part-…`)
  //   marker  `run-<tag>` flips to this batchId atomically, LAST
  //
  // A crash at ANY point replays into either the guard (marker written ⇒
  // pure no-op) or the recover+restage path (marker unwritten ⇒ every
  // stamped file the attempt moved is removed before the re-append) — so
  // the post-replay artifact always equals exactly-once appends. Underscore
  // prefixes keep `_appends`/`_staging` invisible to readers (Spark's file
  // index skips `_*` paths without `=`), and markers live at the artifact
  // ROOT so they survive a compaction's version flip. Single-writer per
  // artifact (the [[flipPointer]] contract) is assumed: recovery reasons
  // about ONE torn attempt, and an append must never race a compact — a
  // compact folds a torn batch's partial files into the next version,
  // where recovery can no longer find them.

  private val AppendsName = "_appends"
  private val StagingName = "_staging"
  private val RestoredName = "_restored"
  private val AbandonedName = "_abandoned"

  /** How long a post-marker fence loser waits for an in-flight abandon
    * sweep to publish `done`. Abandon is a driver-side FS sweep
    * (ms–seconds); a sweep still `running` after this is stalled or
    * crashed, its in-flight decision is NOT observable (a keep-decision
    * persists nothing until its intent delete), so the append leaves a
    * drop record, rolls the marker back, and refuses — the replay's
    * heal path then sweeps any leftover of the batch by its stamped
    * name prefix and re-appends exactly once, whichever way the sweep
    * lands. A sweep observed `done` IS adjudicated on file survival. */
  private[graft] val AbandonFenceWaitMs: Long = 60000L

  /** Parsed `_abandoned` fence sentinel: (epoch, sweep running?). The
    * epoch is compared by EQUALITY only (any change since the append's
    * opening read means a sweep started), so it needs no ordering
    * guarantee across corruption recoveries. */
  private def parseAbandoned(lines: Vector[String],
                             where: String): (Long, Boolean) = {
    val first = lines.headOption.getOrElse("").trim
    val epoch = first.toLongOption.getOrElse(throw new IllegalStateException(
      s"abandon fence sentinel $where holds '$first', not an epoch number"))
    (epoch, lines.lift(1).exists(_.trim == "running"))
  }

  /** Current abandon-fence state; (0, false) when no sweep ever ran. */
  private def abandonInfoRead(f: org.apache.hadoop.fs.FileSystem,
                              root: String): (Long, Boolean) = {
    val p = new org.apache.hadoop.fs.Path(
      s"$root/$AppendsName/$AbandonedName")
    val lines =
      try readLines(f, p)
      catch { case _: java.io.FileNotFoundException => return (0L, false) }
    parseAbandoned(lines, p.toString)
  }

  /** (abandon epoch, sweep in flight?) — package-visible so
    * [[graft.operators.Bundles.exportBundle]] can refuse to certify a
    * bundle copied while a sweep is mid-deletion. */
  private[operators] def abandonSweepInfo(spark: SparkSession,
                                          root: String): (Long, Boolean) =
    abandonInfoRead(fs(spark, root), root)

  /** Filesystem-safe tag for a runId (which is often a checkpoint PATH —
    * slashes and all); the raw id rides inside the marker file so the tag
    * is only an ADDRESS, never an identity — every read that acts on a
    * marker re-compares the stored raw runId ([[lastAppendedBatch]]).
    * Package-visible so the collision tests can plant a same-tag marker. */
  private[graft] def runTag(runId: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(runId.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** All lines of a small driver-side protocol file (markers, intents,
    * sentinels — each a handful of short lines by construction). */
  private def readLines(f: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Vector[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** [[readLines]] tolerating EXACTLY a vanished file (None) — the shared
    * rule for protocol files a racing actor may legitimately remove
    * between a listing and the read. Every OTHER failure propagates: a
    * swallowed transient error would launder "unreadable" into whichever
    * default the caller picked, and each caller's safe default differs
    * (the droppedRecordMatches lesson). */
  private def readLinesIfPresent(f: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path)
      : Option[Vector[String]] =
    try Some(readLines(f, p))
    catch { case _: java.io.FileNotFoundException => None }

  /** Parse a marker file: (batchId, raw runId if recorded, restore-epoch
    * stamp — 0 for a pre-epoch marker). Line 1 must be numeric (a marker
    * holding garbage is corruption worth crashing on, not guessing at). */
  private def parseMarker(f: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path)
      : (Long, Option[String], Long) = {
    val lines = readLines(f, p)
    val first = lines.headOption.getOrElse("").trim
    val batch = first.toLongOption.getOrElse(throw new IllegalStateException(
      s"replay marker $p holds '$first', not a batch id"))
    val raw = lines.lift(1).map(_.trim).filter(_.nonEmpty)
    val epoch = lines.lift(2).flatMap(_.trim.toLongOption).getOrElse(0L)
    (batch, raw, epoch)
  }

  /** This run's marker, COLLISION-CHECKED: the marker file is addressed
    * by the 8-hex md5 tag, but acted on only when its stored raw runId
    * (line 2) matches the caller's — a 2⁻³² tag collision between two
    * distinct runIds must read as "no marker" (the colliding run's batch
    * APPENDS — at worst a duplicate the verify layer sees — rather than
    * silently no-opping on another run's high-water mark: data loss).
    * Returns (batchId, marker's restore-epoch stamp). */
  private def markerFor(spark: SparkSession, root: String,
                        runId: String): Option[(Long, Long)] = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(
      s"$root/$AppendsName/run-${runTag(runId)}")
    if (!f.exists(p)) None else markerRead(f, p, runId)
  }

  /** [[markerFor]] for a marker the caller's directory listing already
    * proved present — skips the exists() round trip ([[appendOnce]] runs
    * this once per micro-batch against object stores). */
  private def markerRead(f: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path,
                         runId: String): Option[(Long, Long)] = {
    val (batch, raw, epoch) = parseMarker(f, p)
    if (raw.exists(_ != runId)) {
      org.slf4j.LoggerFactory.getLogger(getClass).error(
        s"replay marker $p stores runId '${raw.get}' but resolved for " +
          s"'$runId' — a 32-bit runTag collision between two live runIds; " +
          "treating the marker as ABSENT so this run's batches append " +
          "(the safe direction) instead of silently no-opping on the " +
          "other run's progress")
      None
    } else Some((batch, epoch))
  }

  /** Highest batchId committed into `root` by [[appendOnce]] under this
    * runId — None if this run never committed here (raw append*
    * maintenance leaves no markers), or if the tag-addressed marker
    * belongs to a DIFFERENT runId (tag collision — logged loudly). */
  def lastAppendedBatch(spark: SparkSession, root: String,
                        runId: String): Option[Long] =
    markerFor(spark, root, runId).map(_._1)

  /** Every replay marker on the artifact: (tag, raw runId — "" for a
    * legacy 1-line marker, last committed batchId). The fleet-audit view
    * of "which stream last maintained this artifact and how far it got"
    * ([[auditArtifacts]] exposes it per artifact); also the source of the
    * old-run inventory [[graft.operators.Bundles.exportBundle]] ships so
    * a restore can block exactly those runs. Crashed-writeAtomic
    * `*.tmp.*` debris and corrupt (unparseable) markers are skipped with
    * a warning — an audit view must degrade, not crash. */
  def runMarkers(spark: SparkSession, root: String)
      : Seq[(String, String, Long)] = runMarkersWithHealth(spark, root)._1

  /** [[runMarkers]] plus whether any marker had to be SKIPPED as corrupt —
    * [[graft.operators.Bundles.exportBundle]] must not certify its run
    * inventory `complete` over a run whose marker it could not read (the
    * skipped run's checkpoint may be intact and would bypass a falsely
    * complete inventory after a restore). */
  private[operators] def runMarkersWithHealth(spark: SparkSession,
                                              root: String)
      : (Seq[(String, String, Long)], Boolean) = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/$AppendsName")
    if (!f.exists(p)) (Nil, false)
    else {
      var sawCorrupt = false
      val markers = f.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("run-") && !n.contains(".tmp.")).sorted
        .flatMap { n =>
          val mp = new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$n")
          scala.util.Try(parseMarker(f, mp)).toOption match {
            case Some((batch, raw, _)) =>
              Some((n.stripPrefix("run-"), raw.getOrElse(""), batch))
            case None =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"skipping corrupt replay marker $mp in the marker inventory")
              sawCorrupt = true
              None
          }
        }
      (markers, sawCorrupt)
    }
  }

  /** How many times this artifact has been restored from a bundle — 0 for
    * never. Bumped by [[markRestored]] (which [[graft.operators.Bundles]]
    * calls on every import); [[appendOnce]] compares it against the
    * epoch stamped into this run's marker to machine-enforce the
    * "restore needs a fresh checkpoint" contract. */
  def restoreEpoch(spark: SparkSession, root: String): Long =
    restoreInfo(spark, root)._1

  /** Parsed `_restored` sentinel: (epoch, old-run inventory complete?,
    * blocked old runIds). (0, true, empty) when never restored.
    * Package-visible so [[graft.operators.Bundles.exportBundle]] can
    * carry a restored source's blocked set forward into its own bundle
    * (markers never travel, so without this a re-export would launder
    * the pre-restore runs out of the inventory). */
  private[operators] def restoreInfo(spark: SparkSession, root: String)
      : (Long, Boolean, Set[String]) = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$RestoredName")
    if (!f.exists(p)) (0L, true, Set.empty)
    else parseRestored(readLines(f, p), p.toString)
  }

  private def parseRestored(lines: Vector[String],
                            where: String): (Long, Boolean, Set[String]) = {
    val first = lines.headOption.getOrElse("").trim
    val epoch = first.toLongOption.getOrElse(throw new IllegalStateException(
      s"restore sentinel $where holds '$first', not an epoch number"))
    // POSITIONAL parse: line 2 is the free-form source note (written
    // unescaped), so flags and run entries are read from line 3 on — a
    // source value of "runs=complete" or "run:x" must not inject state
    val tail = lines.drop(2)
    (epoch, tail.exists(_.trim == "runs=complete"),
      tail.filter(_.startsWith("run:")).map(_.stripPrefix("run:")).toSet)
  }

  /** Record that the artifact's data was just replaced by a restore
    * (bundle import): bumps the restore epoch atomically, notes the
    * source, and records which old runIds the restored data already
    * contains appends from (`oldRuns`, typically the bundle's shipped
    * marker inventory plus the target's own pre-import markers). From
    * this point [[appendOnce]] REFUSES any blocked run at ANY batchId
    * (even 0 — the one case a fresh-vs-resumed heuristic cannot tell
    * apart) and any run whose marker predates the restore; when
    * `oldRunsComplete` is false (a legacy bundle that shipped no
    * inventory) it falls back to refusing every markerless run that
    * resumes mid-stream (batchId > 0). The blocked set and the
    * completeness flag accumulate across successive imports —
    * completeness survives only if EVERY import knew its source's runs. */
  def markRestored(spark: SparkSession, root: String, source: String,
                   oldRunsComplete: Boolean = false,
                   oldRuns: Seq[String] = Nil): Long = {
    val (prevEpoch, prevKnown, prevRuns) = restoreInfo(spark, root)
    val next = prevEpoch + 1
    val known = (prevEpoch == 0L || prevKnown) && oldRunsComplete
    val runs = prevRuns ++ oldRuns.filter(_.nonEmpty)
    writeAtomic(spark, s"$root/$AppendsName", RestoredName,
      (Seq(next.toString, source.replace('\n', ' '),
        if (known) "runs=complete" else "runs=unknown") ++
        runs.toSeq.sorted.map("run:" + _.replace('\n', ' ')))
        .mkString("\n"))
    next
  }

  /**
   * Run `stage` (which must write the batch's tables under the staging
   * dir it receives, overwrite mode, mirroring the live sub-table layout)
   * with EXACTLY-ONCE effect on the artifact under micro-batch replay.
   * Returns false when the (runId, batchId) was already committed — the
   * replay no-op. `runId` must be restart-stable — the checkpoint path or
   * `query.id`, NOT `query.runId` (Spark assigns a fresh runId per restart
   * while batchIds continue, which would disable the guard in exactly the
   * crash-restart-replay case it exists for; the [[graft.streaming.SnapshotSink]]
   * rule). BatchIds are only compared within one runId, so a redeployment
   * with a fresh checkpoint (batchIds restart at 0) is a NEW run — never
   * mistaken for the old run's progress.
   *
   * BatchIds MUST be monotone within a runId — the protocol classifies
   * `batchId <= marker` as "already committed" (the no-op guard) and an
   * intent below the marker as committed debris, both of which are only
   * sound when a run never delivers a NEW batch under an old id.
   * Spark's checkpointed micro-batch ids satisfy this by construction
   * (a restart resumes AT the failed id, never below it); a hand-rolled
   * caller inventing non-monotone ids would silently lose those batches.
   *
   * Two hard refusals guard the protocol's blind spots:
   *  - a torn intent from ANOTHER run/batch pending on the artifact
   *    (appending on top would bury partial files its replay must find —
   *    the single-writer contract, enforced instead of assumed);
   *  - a restore sentinel ([[markRestored]]) newer than this run's
   *    marker (restored data has no memory of this run's appends — only
   *    a FRESH checkpoint may maintain it; the machine-enforced form of
   *    the [[graft.operators.Bundles.importBundle]] replay contract).
   */
  def appendOnce(spark: SparkSession, root: String, runId: String,
                 batchId: Long)(stage: String => Unit): Boolean =
    appendOnceImpl(spark, root, runId, batchId, stage, failAt = "")

  /** [[appendOnce]] with a crash-injection point for the replay tests:
    * `failAt` ∈ {"staged", "intent", "half-moved", "moved", "marked"}
    * throws after that protocol step, leaving exactly the torn (or, for
    * "marked", committed-with-debris) state a real crash there would
    * leave. `onStep` is the RACE-injection hook: it fires with "moved"
    * (files moved, abandon fence not yet re-checked), "pre-marker"
    * (fence re-checked, marker not yet written), and "marked" (marker
    * written, post-marker fence not yet re-checked) so the fence tests
    * can run a whole [[abandonTornAppends]] — or hand-build a racing
    * sweep's intermediate state — inside each window. */
  private[graft] def appendOnceImpl(spark: SparkSession, root: String,
                                    runId: String, batchId: Long,
                                    stage: String => Unit,
                                    failAt: String,
                                    onStep: String => Unit = _ => (),
                                    fenceWaitMs: Long = AbandonFenceWaitMs)
      : Boolean = {
    require(runId.nonEmpty, "appendOnce needs a restart-stable runId")
    // markers, intents and drop records store the raw runId line-oriented;
    // a newline inside it would make every identity compare fail-unsafe
    // (first-line reads see a truncated id ⇒ mismatch ⇒ marker treated as
    // absent ⇒ every replay re-appends)
    require(!runId.contains('\n') && !runId.contains('\r'),
      "appendOnce runId must not contain newline characters")
    val f = fs(spark, root)
    val tag = runTag(runId)
    val dir = resolveDir(spark, root)
    val stagingRoot = s"$root/$StagingName/$tag-$batchId"
    val intentP = new org.apache.hadoop.fs.Path(
      s"$root/$AppendsName/intent-$tag-$batchId")
    // ONE _appends listing serves the restore guard, the replay guard,
    // and the foreign-intent check — on an object store each listing is
    // a network round trip, and this path runs once per micro-batch
    val appendsPath = new org.apache.hadoop.fs.Path(s"$root/$AppendsName")
    val names: Seq[String] =
      if (!f.exists(appendsPath)) Nil
      else f.listStatus(appendsPath).toSeq.map(_.getPath.getName)
    // restore enforcement FIRST — before the committed no-op guard: a
    // marker predating the restore describes data this artifact no longer
    // holds, so no-opping on it would silently DROP the replayed batch
    val (epoch, runsComplete, blockedRuns) =
      if (!names.contains(RestoredName)) (0L, true, Set.empty[String])
      else {
        val sp = new org.apache.hadoop.fs.Path(
          s"$root/$AppendsName/$RestoredName")
        parseRestored(readLines(f, sp), sp.toString)
      }
    // abandon fence, opening read: [[abandonTornAppends]] bumps this
    // sentinel to `running` BEFORE it classifies or deletes anything, and
    // this append re-reads it around the marker write — so a sweep that
    // starts mid-append is always observed on one side or the other
    val fence0: (Long, Boolean) =
      if (!names.contains(AbandonedName)) (0L, false)
      else parseAbandoned(readLines(f, new org.apache.hadoop.fs.Path(
        s"$root/$AppendsName/$AbandonedName")), s"$root/$AppendsName/$AbandonedName")
    if (fence0._2) throw new IllegalStateException(
      s"$root has an abandonTornAppends sweep in flight (or one crashed " +
        "mid-sweep, which leaves the fence 'running') — appending now " +
        "could race its deletions; wait for it, or rerun " +
        "abandonTornAppends to complete the crashed sweep, then replay " +
        "this batch")
    val marker =
      if (!names.contains(s"run-$tag")) None
      else markerRead(f, new org.apache.hadoop.fs.Path(
        s"$root/$AppendsName/run-$tag"), runId)
    // drop records: a sweep that deleted this batch's files after losing
    // the fence race against a crashed append leaves `dropped-<tag>-<b>`
    // (written BEFORE any deletion, so the record survives every crash
    // interleaving). A marker covering a dropped batch is LYING — the
    // batch's files are gone — and the replay must re-append, not no-op.
    def droppedRecordMatches(name: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$name")
      // vanished record (a concurrent heal already cleared it) ⇒ no
      // match, plain no-op — the safe reading; other read failures
      // propagate (defaulting unreadable to "matches" would launder a
      // transient store error into the re-append/duplicate direction)
      readLinesIfPresent(f, p) match {
        case None => false
        case Some(lines) =>
          val stored = lines.headOption.getOrElse("").trim
          stored.isEmpty || stored == runId // empty = legacy tag-only record
      }
    }
    // the NO-OP decision (marker covers this batch) probes the record
    // FRESH: the opening listing predates the fence read, and a sweep
    // completing its tail in that gap (record written, files deleted,
    // `done` published) would otherwise be invisible — the no-op would
    // stand on a lying marker and the batch would be lost with no
    // replay left to heal it. The fresh open costs one round trip ONLY
    // on redeliveries (steady-state batches have batchId > marker and
    // use the listing, where a gap-written record is harmless: the
    // sweep that wrote it also deleted the files it describes).
    val droppedThisBatch =
      if (marker.exists(_._1 >= batchId))
        droppedRecordMatches(s"dropped-$tag-$batchId")
      else names.contains(s"dropped-$tag-$batchId") &&
        droppedRecordMatches(s"dropped-$tag-$batchId")
    if (epoch > 0) marker match {
      case Some((_, mEpoch)) if mEpoch < epoch =>
        throw new IllegalStateException(
          s"$root was restored from a bundle (restore epoch $epoch) after " +
            s"this run's last committed append (marker epoch $mEpoch) — the " +
            "restored version dirs have no memory of this run's batches, so " +
            "resuming the old checkpoint would double-append batches already " +
            "inside the bundle and silently no-op new ones; redeploy the " +
            "maintaining stream with a FRESH checkpoint (new runId, batchIds " +
            "from 0)")
      case None if blockedRuns.contains(runId) =>
        // the bundle shipped its source's marker inventory, so even a
        // batch-0 redelivery — indistinguishable from a fresh start by
        // batchId alone — is refused for a run the data already contains
        throw new IllegalStateException(
          s"$root was restored from a bundle (restore epoch $epoch) whose " +
            s"source run '$runId' maintained BEFORE the restore — its " +
            "appends are already inside the restored data (the bundle's " +
            "run inventory records it), so replaying the old checkpoint " +
            "would double-append even at batchId 0; redeploy with a FRESH " +
            "checkpoint (new runId)")
      case None if !runsComplete && batchId > 0 =>
        throw new IllegalStateException(
          s"$root was restored from a bundle (restore epoch $epoch) with " +
            s"an incomplete old-run inventory, and run '$runId' has no " +
            s"post-restore marker yet delivers batchId=$batchId — an OLD " +
            "checkpoint resumed against restored data (a fresh " +
            "checkpoint's batchIds restart at 0); redeploy with a " +
            "FRESH checkpoint. If this run is fresh, call appendOnce for " +
            "every batch from 0 (empty ones included) so the marker records " +
            "post-restore progress")
      case _ => ()
    }
    if (marker.exists(_._1 >= batchId) && !droppedThisBatch) {
      // committed — a crash between marker write and debris cleanup may
      // have left this batch's staging/intent behind; finish the cleanup
      f.delete(new org.apache.hadoop.fs.Path(stagingRoot), true)
      f.delete(intentP, false)
      return false
    }
    if (droppedThisBatch && marker.exists(_._1 >= batchId))
      org.slf4j.LoggerFactory.getLogger(getClass).error(
        s"$root marker for run '$runId' claims batch $batchId committed, " +
          "but an abandonTornAppends sweep recorded dropping that batch's " +
          "files (the append lost the fence race and crashed before it " +
          "could roll the marker back) — HEALING: re-appending the batch " +
          "instead of no-opping on the lying marker")
    // a torn intent from a DIFFERENT run/batch: appending on top would
    // bury partial files ITS replay recovery must find — refuse (the
    // single-writer contract enforced, mirroring the nextVersion guard)
    val foreign = intentStatusFrom(f, root, names)
      .collect { case (name, false) => name }
      .filterNot(_ == s"intent-$tag-$batchId")
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"$root has ${foreign.size} torn append(s) pending from another " +
        s"run/batch (${foreign.mkString(", ")}) — appending on top would " +
        "bury the partial files that run's replay must remove; let it " +
        "replay to self-heal, or IndexLifecycle.abandonTornAppends(root) " +
        "if its stream is gone for good")
    // torn previous attempt: the intent manifest lists every live file it
    // may have moved — delete them all (absent ones are no-ops), restage
    if (f.exists(intentP)) {
      readLines(f, intentP).map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .foreach(rel =>
          f.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), false))
    }
    // drop-record HEAL is idempotent against ANY leftover of the batch,
    // intent or no intent: a sweep's keep-decision racing a rolled-back
    // marker can leave the full file set live with nothing to find it by
    // except the batch-stamped names — one recursive live-dir listing
    // (heal-only, never on the steady-state path) sweeps every
    // `b-<tag>-<batchId>-` file before the re-append, so the heal is
    // exactly-once whichever intermediate state the incident left
    if (droppedThisBatch) {
      val prefix = s"b-$tag-$batchId-"
      listFilesRec(f, new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach(s => f.delete(s.getPath, false))
    }
    f.delete(new org.apache.hadoop.fs.Path(stagingRoot), true)
    stage(stagingRoot)
    if (failAt == "staged") throw new IllegalStateException("failpoint: staged")
    val qStaging = f.makeQualified(new org.apache.hadoop.fs.Path(stagingRoot))
    val basePath = qStaging.toUri.getPath
    val moves = listFilesRec(f, qStaging)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .map { s =>
        val rel = s.getPath.toUri.getPath.stripPrefix(basePath).stripPrefix("/")
        val slash = rel.lastIndexOf('/')
        val destRel =
          if (slash < 0) s"b-$tag-$batchId-$rel"
          else rel.substring(0, slash + 1) + s"b-$tag-$batchId-" +
            rel.substring(slash + 1)
        (s.getPath, destRel)
      }
    // header line carries the raw runId so intent↔marker classification
    // ([[pendingIntents]]) compares identities, not 32-bit tags; readers
    // skip '#' lines (no live file is ever named with a '#' prefix)
    writeAtomic(spark, s"$root/$AppendsName", s"intent-$tag-$batchId",
      (s"#runId:$runId" +: moves.map(_._2)).mkString("\n"),
      knownNames = Some(names))
    if (failAt == "intent") throw new IllegalStateException("failpoint: intent")
    moves.zipWithIndex.foreach { case ((src, destRel), i) =>
      if (failAt == "half-moved" && i >= (moves.size + 1) / 2)
        throw new IllegalStateException("failpoint: half-moved")
      val dest = new org.apache.hadoop.fs.Path(s"$dir/$destRel")
      f.mkdirs(dest.getParent)
      if (!f.rename(src, dest))
        throw new IllegalStateException(s"append move $src -> $dest failed")
    }
    if (failAt == "moved") throw new IllegalStateException("failpoint: moved")
    onStep("moved")
    // abandon fence, pre-marker re-check: a sweep that started during the
    // stage/move above classified this attempt TORN (no marker yet) and
    // deleted the just-moved files — writing the marker now would certify
    // a batch whose files are gone. Refuse instead; the replay re-appends
    // cleanly (the sweep also removed the intent, or recovery removes the
    // leftovers).
    val fence1 = abandonInfoRead(f, root)
    if (fence1 != fence0) throw new IllegalStateException(
      s"appendOnce lost the abandon fence on $root: an abandonTornAppends " +
        s"sweep started during this append (fence $fence0 -> $fence1) and " +
        "may have deleted this batch's just-moved files — no marker is " +
        "written; replay the batch once the sweep completes (it re-appends " +
        "cleanly)")
    onStep("pre-marker")
    // line 3 stamps the restore epoch the commit happened under — the
    // proof appendOnce needs that this run's progress postdates the last
    // restore (epoch read at call start: a restore racing this append is
    // caught on the NEXT batch, which is the earliest anything could act)
    writeAtomic(spark, s"$root/$AppendsName", s"run-$tag",
      s"$batchId\n$runId\n$epoch", knownNames = Some(names))
    if (failAt == "marked") throw new IllegalStateException("failpoint: marked")
    onStep("marked")
    // abandon fence, post-marker re-check: a sweep that started inside the
    // one-write window between the pre-check and the marker may have read
    // the marker state BEFORE our write (⇒ classified torn, deleted files)
    // or after (⇒ committed debris, kept them). Wait for the sweep to
    // publish `done`, then adjudicate on what survived: all files present
    // ⇒ the commit stands; any missing ⇒ roll the marker back to its
    // pre-batch state and refuse, so the replay re-appends. (If the append
    // instead CRASHES before this check, the sweep's `dropped-` record —
    // written before its deletions — makes the replay heal via the
    // lying-marker path above.)
    val fence2 = abandonInfoRead(f, root)
    if (fence2 != fence0) {
      var cur = fence2
      val deadline = System.currentTimeMillis() + fenceWaitMs
      while (cur._2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100L)
        cur = abandonInfoRead(f, root)
      }
      def rollBackMarker(): Unit = marker match {
        case Some((b0, e0)) =>
          writeAtomic(spark, s"$root/$AppendsName", s"run-$tag",
            s"$b0\n$runId\n$e0")
        case None =>
          f.delete(new org.apache.hadoop.fs.Path(
            s"$root/$AppendsName/run-$tag"), false)
      }
      if (cur._2) {
        // the sweep never published `done` within the wait, and NO
        // artifact state observable now can adjudicate its decision in
        // every interleaving: a keep-decision is invisible between the
        // sweep's last-instant marker re-read and its intent delete, and
        // that window reads identically to a torn-decision before its
        // record write. Refuse unconditionally — but FIRST leave a drop
        // record of our own, so the replay's heal path (which sweeps any
        // leftover `b-<tag>-<batchId>-` file by its stamped name before
        // re-appending) is exactly-once whichever way the stalled sweep
        // eventually lands: files it dropped are already gone, files it
        // kept are removed and re-appended. Record BEFORE rollback — a
        // crash between the two leaves record + covering marker, which
        // the replay heals; the reverse order would leave a rolled-back
        // marker with kept-alive files and nothing to find them by.
        val recP = new org.apache.hadoop.fs.Path(
          s"$root/$AppendsName/dropped-$tag-$batchId")
        readLinesIfPresent(f, recP).map(_.headOption.getOrElse("").trim)
          .filter(prev => prev.nonEmpty && prev != runId)
          .foreach(prev => org.slf4j.LoggerFactory.getLogger(getClass).error(
            s"overwriting drop record $recP that stored runId '$prev' — " +
              "a 32-bit runTag collision between two dropped runs; the " +
              "other run's heal evidence is lost (log retained here)"))
        // no re-verification needed after the rollback: ONLY the append
        // side ever deletes drop records (the sweep's adjudication is
        // deliberately create/finish-only), so the record written above
        // cannot vanish out from under this refusal
        writeAtomic(spark, s"$root/$AppendsName", s"dropped-$tag-$batchId",
          runId)
        rollBackMarker()
        throw new IllegalStateException(
          s"appendOnce lost the abandon fence on $root and the sweep is " +
            s"still running after ${fenceWaitMs}ms — its decision about " +
            "this batch is not observable, so the marker was rolled back " +
            "and a drop record left; replay the batch once the sweep " +
            "completes (or rerun abandonTornAppends if it crashed) — the " +
            "heal re-appends exactly once")
      }
      val missing = moves.map(_._2).filterNot(rel =>
        f.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")))
      if (missing.isEmpty) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"an abandonTornAppends sweep raced this append on $root " +
            s"(fence $fence0 -> $cur) but every moved file survived (the " +
            "sweep saw the marker, or never touched this batch) — the " +
            "commit stands")
        // the racing sweep may have written a drop record for this batch
        // (classified torn, then failed before deleting anything) — the
        // sweep is DONE and every file just verified present, so the
        // record is a stale lie; leaving it would make a later crash-
        // redelivery "heal" (re-append) on top of the live files. The
        // opening listing predates the sweep, so probe directly — and
        // runId-checked, like every record read: a tag-colliding record
        // belongs to ANOTHER run, whose heal evidence must survive.
        // (Only sound under an observed `done` — a still-running sweep
        // took the refusal branch above.)
        if (droppedRecordMatches(s"dropped-$tag-$batchId"))
          f.delete(new org.apache.hadoop.fs.Path(
            s"$root/$AppendsName/dropped-$tag-$batchId"), false)
      } else {
        rollBackMarker()
        throw new IllegalStateException(
          s"appendOnce lost the abandon fence on $root AFTER writing its " +
            s"marker: the sweep deleted ${missing.size} of ${moves.size} " +
            "moved files; the marker was rolled back to its pre-batch " +
            "state — replay the batch (it re-appends cleanly)")
      }
    }
    // this commit supersedes any drop records at or below it for this run
    // — remove them so a later crash-redelivery is a plain marker no-op,
    // not a spurious heal (records of OTHER runs/tags are left alone)
    names.filter(_.startsWith(s"dropped-$tag-"))
      .filter(_.stripPrefix(s"dropped-$tag-").toLongOption.exists(_ <= batchId))
      .filter(droppedRecordMatches)
      .foreach(n => f.delete(
        new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$n"), false))
    f.delete(new org.apache.hadoop.fs.Path(stagingRoot), true)
    f.delete(intentP, false)
    // committed batches never revisit their intent files — sweep this
    // run's older debris (a crash after an earlier marker write but
    // before ITS cleanup) so `_appends` stays one marker + live intents.
    // The OPENING listing is the evidence (no re-list: single-writer
    // means nothing else created intents for this tag since, and this
    // batch's own intent was just deleted above) — the same listing also
    // feeds both atomic writes' debris sweeps, so the steady-state batch
    // pays ONE `_appends` listing total (the file-op census law pins it).
    names.filter { n =>
      n.startsWith(s"intent-$tag-") && !n.contains(".tmp.") &&
        n.stripPrefix(s"intent-$tag-").toLongOption.exists(_ <= batchId)
    }.foreach(n => f.delete(
      new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$n"), false))
    true
  }

  private def listFilesRec(f: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory) listFilesRec(f, s.getPath) else Seq(s)
    }

  /** Intent-manifest names of torn (crashed-mid-protocol, not yet
    * replayed) [[appendOnce]] batches pending on this artifact. An intent
    * whose batch IS marked committed (a crash landed between the marker
    * write and the debris cleanup) is NOT torn — its files are live data;
    * it is excluded here and [[abandonTornAppends]] only sweeps its
    * manifest. Without this distinction, abandoning such debris would
    * DELETE COMMITTED DATA. */
  def pendingIntents(spark: SparkSession, root: String): Seq[String] =
    intentStatus(spark, root).collect { case (name, false) => name }

  /** Every intent manifest under the artifact with its committed flag:
    * (name, true) = stale debris of a committed batch (files are live),
    * (name, false) = genuinely torn attempt (files are partial).
    * Classification matches intent to marker by the 8-hex tag AND — when
    * both sides recorded it (post-r16 intents carry a `#runId:` header,
    * markers line 2) — by the raw runId, so a 2⁻³² tag collision cannot
    * launder another run's torn attempt into "committed debris" (whose
    * partial files [[abandonTornAppends]] would then keep as live data). */
  private def intentStatus(spark: SparkSession,
                           root: String): Seq[(String, Boolean)] = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/$AppendsName")
    if (!f.exists(p)) Nil
    else intentStatusFrom(f, root, f.listStatus(p).toSeq.map(_.getPath.getName))
  }

  private def intentStatusFrom(f: org.apache.hadoop.fs.FileSystem,
                               root: String,
                               allNames: Seq[String])
      : Seq[(String, Boolean)] = {
    // crashed-writeAtomic `<name>.tmp.<uuid>` debris is NOT protocol
    // state: a zero-byte marker tmp is unparseable, and an intent tmp
    // can never match its own run's intent name — classifying either
    // would wedge replay until manual cleanup ([[abandonTornAppends]]
    // sweeps the debris; the next writeAtomic of the same name does too)
    val names = allNames.filterNot(_.contains(".tmp."))
    // no intents ⇒ nothing to classify: skip the marker parses entirely —
    // this path runs once per micro-batch (the appendOnce foreign-intent
    // check), and each marker parse is an object-store read round trip
    if (!names.exists(_.startsWith("intent-"))) return Nil
    val markerByTag: Map[String, (Long, Option[String])] = names
      .filter(_.startsWith("run-"))
      .flatMap { n =>
        val mp = new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$n")
        // a corrupt/truncated FOREIGN marker degrades to "no marker for
        // that tag" — its intents stay torn, producing the orderly
        // torn-append refusal, instead of one bad file killing every
        // operation on the artifact (the run's OWN reads via markerFor
        // still fail loudly — corruption there risks double-appends)
        scala.util.Try(parseMarker(f, mp)).toOption match {
          case Some((batch, raw, _)) =>
            Some(n.stripPrefix("run-") -> (batch, raw))
          case None =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"skipping corrupt replay marker $mp during intent " +
                "classification — its intents will classify as torn")
            None
        }
      }.toMap
    names.filter(_.startsWith("intent-")).sorted.map { n =>
      val (_, batchPart, intentRunId) = parseIntentName(f, root, n)
      val committed = markerCoversIntent(batchPart,
        intentTag(n).flatMap(markerByTag.get), intentRunId)
      (n, committed)
    }
  }

  /** (tag, batchId, `#runId:` header) parsed out of one intent manifest —
    * the shared decomposition behind classification and the sweep. */
  private def parseIntentName(f: org.apache.hadoop.fs.FileSystem,
                              root: String, name: String)
      : (String, Option[Long], Option[String]) = {
    val rest = name.stripPrefix("intent-")
    val dash = rest.lastIndexOf('-')
    val tagPart = if (dash > 0) rest.substring(0, dash) else rest
    val batchPart =
      if (dash > 0) rest.substring(dash + 1).toLongOption else None
    // a vanished intent (a racing append's commit cleanup) classifies
    // with no header; other read failures propagate — a swallowed
    // transient error would downgrade the identity compare to the
    // legacy tag-only match, the laundering direction
    val intentRunId = readLinesIfPresent(f,
        new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$name"))
      .getOrElse(Vector.empty)
      .headOption.filter(_.startsWith("#runId:"))
      .map(_.stripPrefix("#runId:"))
    (tagPart, batchPart, intentRunId)
  }

  private def intentTag(name: String): Option[String] = {
    val rest = name.stripPrefix("intent-")
    val dash = rest.lastIndexOf('-')
    if (dash > 0) Some(rest.substring(0, dash)) else None
  }

  /** THE intent↔marker commit rule — ONE implementation shared by
    * [[intentStatusFrom]]'s classification and the sweep's last-instant
    * re-read (two sites silently diverging here is a deleted-committed-
    * data bug): the marker covers the intent's batch AND, when both
    * sides recorded identities, the raw runIds match (pre-r16 legacy
    * artifacts fall back to the tag-only match). */
  private def markerCoversIntent(batch: Option[Long],
                                 marker: Option[(Long, Option[String])],
                                 intentRunId: Option[String]): Boolean =
    (batch, marker) match {
      case (Some(b), Some((mb, mraw))) =>
        mb >= b && ((intentRunId, mraw) match {
          case (Some(i), Some(m)) => i == m
          case _ => true // pre-r16 legacy: tag-only match
        })
      case _ => false
    }

  /** Discard every torn append as if its batch never ran: delete the
    * intent-listed live files (the partial move), the staging debris, and
    * the manifests. The artifact is then exactly its last consistent
    * state; the abandoned batchIds stay UNMARKED, so a later replay of
    * the same (runId, batchId) appends cleanly rather than no-opping —
    * abandon discards the ATTEMPT, not the data's claim to exist. Use
    * before a rebuild/compact when the maintaining stream is gone for
    * good ([[nextVersion]] refuses while intents are pending).
    *
    * FENCED against a maintaining stream that is NOT gone (the contract
    * violation): the sweep bumps the `_abandoned` epoch sentinel to
    * `running` BEFORE classifying or deleting anything and publishes
    * `done` when finished; [[appendOnce]] refuses to start while the
    * fence is `running` and re-checks it on both sides of its marker
    * write, so an append that loses the race refuses (or rolls its
    * marker back) instead of certifying a batch whose files this sweep
    * deleted. Each torn intent additionally gets a `dropped-<tag>-<batch>`
    * record written BEFORE its files die — if the racing append crashed
    * right after its marker write (the one window neither of its fence
    * checks covers), the record makes its replay re-append instead of
    * no-opping on the lying marker. A sweep that crashes mid-run leaves
    * the fence `running`, which BLOCKS all appends until the sweep is
    * rerun to completion — the refusing direction, never silent.
    *
    * Immediately before deleting a torn intent's files the sweep re-reads
    * that tag's marker once more: a racing append that committed between
    * classification and now reclassifies as committed debris and keeps
    * its files (the last-instant check that shrinks the stale-decision
    * window to one read→delete step). */
  def abandonTornAppends(spark: SparkSession, root: String): Seq[String] =
    abandonTornAppendsImpl(spark, root, _ => ())

  /** [[abandonTornAppends]] with a race-injection hook: `onIntent` fires
    * per intent after classification and before any adjudication or
    * deletion — the window where a racing append's marker write (torn
    * case) or marker ROLLBACK (committed case, the fence-timeout path)
    * can land. */
  private[graft] def abandonTornAppendsImpl(spark: SparkSession, root: String,
                                            onIntent: String => Unit)
      : Seq[String] = {
    val f = fs(spark, root)
    val dir = resolveDir(spark, root)
    // fence UP before anything is read or deleted (see scaladoc above);
    // the epoch is equality-compared only, so corruption recovery can
    // safely restart it (any CHANGE trips a concurrent append's checks)
    val prevEpoch = scala.util.Try(abandonInfoRead(f, root)._1).getOrElse {
      org.slf4j.LoggerFactory.getLogger(getClass).error(
        s"$root abandon fence sentinel is corrupt — rewriting it; any " +
          "outstanding dropped-batch records are preserved")
      0L
    }
    val epoch = prevEpoch + 1
    writeAtomic(spark, s"$root/$AppendsName", AbandonedName, s"$epoch\nrunning")
    try {
      // crashed-writeAtomic `*.tmp.*` debris under _appends (a writer died
      // between create and rename): not protocol state — classification
      // ignores it, and this is the operator-invoked cleanup that removes
      // it when the writer is gone for good (the healing-path sweep in
      // writeAtomic only fires when the same file is written again)
      val appendsPath = new org.apache.hadoop.fs.Path(s"$root/$AppendsName")
      if (f.exists(appendsPath))
        f.listStatus(appendsPath).toSeq
          .filter(s => !s.isDirectory && s.getPath.getName.contains(".tmp."))
          .foreach(s => f.delete(s.getPath, false))
      val swept = intentStatus(spark, root).map { case (name, committed) =>
        val intentP = new org.apache.hadoop.fs.Path(s"$root/$AppendsName/$name")
        val rest = name.stripPrefix("intent-")
        onIntent(name)
        var keepFiles = committed
        if (!committed) {
          // last-instant reclassification: re-read this tag's marker — a
          // racing appendOnce may have committed between the classification
          // listing and now, and deleting its files would orphan a
          // committed batch (the marker re-read mirrors the append's own
          // post-marker fence check from the other side; the commit rule
          // itself is THE shared markerCoversIntent)
          val (tagPart, batchPart, intentRunId) =
            parseIntentName(f, root, name)
          // this read gates DELETION, so its failure taxonomy is strict:
          // absent file = genuinely no marker (torn); readable garbage =
          // the documented corrupt-foreign degradation (its intents stay
          // torn — the marker was never protocol-written, writeAtomic
          // cannot tear one); a TRANSIENT store error must NOT read as
          // "no marker" — retry, then fail the sweep (fence stays
          // running, the refusing direction) rather than delete a
          // possibly-committed batch's files on a read hiccup
          val markerP = new org.apache.hadoop.fs.Path(
            s"$root/$AppendsName/run-$tagPart")
          def readFresh(attempt: Int): Option[(Long, Option[String])] =
            try Some(parseMarker(f, markerP))
              .map { case (mb, mraw, _) => (mb, mraw) }
            catch {
              case _: java.io.FileNotFoundException => None
              case _: IllegalStateException => None // readable garbage
              case e: java.io.IOException if attempt < 3 =>
                Thread.sleep(50L); readFresh(attempt + 1)
            }
          keepFiles =
            markerCoversIntent(batchPart, readFresh(0), intentRunId)
          if (keepFiles)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"abandon sweep on $root: intent $name committed between " +
                "classification and deletion (a racing append won the " +
                "fence) — keeping its files as live data, sweeping only " +
                "the manifest")
          else {
            // record the drop BEFORE any file dies: if the racing append
            // crashed right after writing its marker, this record is what
            // lets its replay detect the lying marker and re-append.
            // A vanished intent (a racing append's commit cleanup) leaves
            // nothing torn to delete; the commit side owns the record
            writeAtomic(spark, s"$root/$AppendsName", s"dropped-$rest",
              intentRunId.getOrElse(""))
            readLinesIfPresent(f, intentP).getOrElse(Vector.empty)
              .map(_.trim)
              .filter(l => l.nonEmpty && !l.startsWith("#"))
              .foreach(rel =>
                f.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), false))
          }
        }
        if (keepFiles) {
          // a drop record may exist for this now-committed intent (a
          // previous crashed sweep, or a fence-timeout append that rolled
          // its marker back). The sweep NEVER deletes records — record
          // deletion belongs exclusively to the single-writer append side
          // (its commit path clears records at-or-below each committed
          // batch), which is what makes it race-free: any check-then-
          // delete here races a concurrent rollback+record one FS op wide
          // (the Locks CAS-free lesson), and a lingering record is now
          // harmless — the heal's prefix sweep makes a spurious
          // redelivery heal idempotent. The ONE case needing action:
          // a crashed sweep got PARTWAY through this batch's deletions —
          // finish them, so the heal replays against a clean slate
          // instead of duplicating the surviving files.
          val recordP = new org.apache.hadoop.fs.Path(
            s"$root/$AppendsName/dropped-$rest")
          if (f.exists(recordP)) readLinesIfPresent(f, intentP) match {
            case None => () // intent gone: the commit path owns the record
            case Some(intentLines) =>
              val listed = intentLines.map(_.trim)
                .filter(l => l.nonEmpty && !l.startsWith("#"))
              val dead = listed.filterNot(rel =>
                f.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")))
              if (dead.nonEmpty) {
                org.slf4j.LoggerFactory.getLogger(getClass).error(
                  s"abandon sweep on $root: intent $name is marker-covered " +
                    s"but a previous crashed sweep already deleted " +
                    s"${dead.size} of ${listed.size} of its files — " +
                    "finishing the deletion and keeping the drop record so " +
                    "the replay heals the lying marker cleanly")
                listed.foreach(rel =>
                  f.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), false))
              }
          }
        }
        // committed debris: the files are LIVE DATA — sweep only the
        // manifest and staging leftovers
        f.delete(new org.apache.hadoop.fs.Path(
          s"$root/$StagingName/$rest"), true)
        f.delete(intentP, false)
        name
      }
      // fence DOWN only on SUCCESS — a sweep that failed mid-run leaves
      // it `running`, BLOCKING all appends until a rerun completes (the
      // refusing direction the scaladoc promises; every deletion above is
      // preceded by its drop record, so the rerun and the replays heal)
      writeAtomic(spark, s"$root/$AppendsName", AbandonedName, s"$epoch\ndone")
      swept
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).error(
          s"abandon sweep on $root FAILED mid-run — the fence stays " +
            "'running' and appendOnce refuses until a rerun completes " +
            s"(rerunning is safe and idempotent): $e")
        throw e
    }
  }

  // ───────────────────────── artifact audit ─────────────────────────

  /**
   * Inventory every artifact under `root` (each child directory is an
   * artifact root; `root` itself counts when it directly holds a pointer
   * or parquet): (artifact, kind, version, legacy_flags, stale_versions,
   * pending_intents, run_markers, restore_epoch) as a DataFrame. The legacy formats this engine
   * REFUSES to grow (pre-dl text postings, pre-`_sn` / STRING-shingle
   * signature tables, term-dictionary-less text indexes) refuse loudly at
   * the call that would corrupt them — but nothing short of hitting that
   * call tells an operator WHICH artifacts need a rebuild. This one
   * driver-side sweep (FS listings + parquet footer schemas, no data
   * read) answers it fleet-wide: schedule a rebuild for every row with
   * flags, a vacuum where stale_versions piles up, and investigate any
   * pending_intents (a torn replay-safe append whose stream never came
   * back — its next delivery will self-heal, a dead stream won't).
   *
   * Kind detection is structural: a `postings` sub-table is a text index
   * (positional when it carries `positions`), `codes` is a PQ index
   * (routed when `_centroids` rides beside it), bare `_centroids` is raw
   * IVF, a root table with `_sig` is a signature table, `(_h, _n)` is a
   * gram index, `(_s, _k)` is shingle postings; anything else reports
   * kind "unknown" with no flags rather than guessing.
   */
  def auditArtifacts(spark: SparkSession, root: String)
      : org.apache.spark.sql.DataFrame = {
    val f = fs(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val candidates: Seq[String] =
      if (!f.exists(rootPath)) Nil
      else {
        // ONE listing serves both the child enumeration and the
        // self-is-artifact probe (a second listStatus per root is a
        // redundant object-store round trip on a fleet sweep)
        val statuses = f.listStatus(rootPath).toSeq
        val children = statuses.filter(_.isDirectory)
          .map(_.getPath.toString)
          .filterNot { p =>
            val n = new org.apache.hadoop.fs.Path(p).getName
            (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
          }
        val selfIsArtifact =
          statuses.exists(_.getPath.getName == "_current") ||
            statuses.exists(s => !s.isDirectory &&
              s.getPath.getName.endsWith(".parquet"))
        if (selfIsArtifact) Seq(root) else children
      }
    // a corrupt artifact (non-numeric _current pointer, unreadable
    // footer) must SURFACE in the inventory, not kill the sweep whose
    // purpose is finding exactly such breakage
    val rows = candidates.map { c =>
      scala.util.Try(auditOne(spark, f, c)) match {
        case scala.util.Success(row) => row
        case scala.util.Failure(e) =>
          org.apache.spark.sql.Row(c, "unknown", null,
            Seq(s"unreadable artifact: ${e.getMessage}"), 0,
            scala.util.Try(pendingIntents(spark, c).size).getOrElse(0),
            scala.util.Try(runMarkers(spark, c).map { case (t, r, b) =>
              org.apache.spark.sql.Row(t, r, b) }).getOrElse(Seq.empty),
            scala.util.Try(restoreEpoch(spark, c)).getOrElse(0L))
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("artifact",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("legacy_flags",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, containsNull = false),
          nullable = false),
        org.apache.spark.sql.types.StructField("stale_versions",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("pending_intents",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        // which stream last maintained each artifact, and how far it got
        // — a dead stream shows up as a marker whose batch stops moving
        // while its peers advance (plus any pending_intents it left)
        org.apache.spark.sql.types.StructField("run_markers",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("tag",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("run_id",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("last_batch",
                org.apache.spark.sql.types.LongType, nullable = false))),
            containsNull = false), nullable = false),
        org.apache.spark.sql.types.StructField("restore_epoch",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  private def auditOne(spark: SparkSession,
                       f: org.apache.hadoop.fs.FileSystem,
                       artifact: String): org.apache.spark.sql.Row = {
    val version = currentVersion(spark, artifact)
    val dir = resolveDir(spark, artifact)
    val (kind, flagSeq) = detectKind(spark, dir)
    // `< cur` like [[vacuum]]: a version ABOVE the pointer may be a
    // rebuild's staged-not-yet-flipped dir — counting it stale invites
    // the vacuum this audit exists to schedule
    val stale = version.map { cur =>
      f.listStatus(new org.apache.hadoop.fs.Path(artifact)).toSeq
        .count(s => s.isDirectory && s.getPath.getName.startsWith("v=") &&
          s.getPath.getName.stripPrefix("v=").toLongOption.exists(_ < cur))
    }.getOrElse(0)
    // torn only: an intent whose batch committed is debris, not pending
    val pending = pendingIntents(spark, artifact).size
    val markers = runMarkers(spark, artifact).map { case (t, r, b) =>
      org.apache.spark.sql.Row(t, r, b)
    }
    org.apache.spark.sql.Row(artifact, kind,
      version.map(Long.box).orNull, flagSeq, stale, pending,
      markers, restoreEpoch(spark, artifact))
  }

  /** Structured flag markers — the machine-matched prefixes of the
    * human-readable legacy_flags messages. [[graft.operators.Migrate]]
    * dispatches on THESE constants, never on free message text, so a
    * wording change cannot silently disconnect the fleet sweep's
    * behavior from the audit's classification. */
  private[operators] val FlagStringShingles = "legacy STRING shingle sets"
  private[operators] val FlagPreSn = "pre-_sn"
  private[operators] val FlagPreGk = "pre-_gk"

  /** Structural (kind, legacy flags) classification of one RESOLVED
    * artifact directory — the [[auditArtifacts]] detector, exposed so
    * [[graft.operators.Migrate.migrateArtifact]] can act on exactly the
    * same rows the audit reports. */
  private[operators] def detectKind(spark: SparkSession,
                                    dir: String): (String, Seq[String]) = {
    def schemaOf(path: String)
        : Option[org.apache.spark.sql.types.StructType] =
      if (!tableExists(spark, path)) None
      else scala.util.Try(spark.read.parquet(path).schema).toOption
    val flags = scala.collection.mutable.ArrayBuffer[String]()
    val kind: String = schemaOf(s"$dir/postings") match {
      case Some(p) if p.fieldNames.contains("positions") => "phrase-index"
      case Some(p) =>
        if (!p.fieldNames.contains("dl"))
          flags += "pre-dl postings: appendTextIndex refuses; rebuild with buildTextIndex"
        if (!tableExists(spark, s"$dir/terms"))
          flags += "no terms dictionary: df recomputed from postings per probe; rebuild or compact to materialize"
        "text-index"
      case None => schemaOf(s"$dir/codes") match {
        case Some(_) =>
          if (tableExists(spark, s"$dir/_centroids")) "pq-ivf-index"
          else "pq-index"
        case None if tableExists(spark, s"$dir/_centroids") => "ivf-index"
        case None => schemaOf(dir) match {
          case Some(s) if s.fieldNames.contains("_sig") =>
            if (!s.fieldNames.contains("_sn"))
              flags += s"$FlagPreSn signatures: shingleN unverifiable on append/probe; rebuild with buildSignatures"
            s.fields.find(_.name == "_sh").map(_.dataType).foreach {
              case org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StringType, _) =>
                flags += s"$FlagStringShingles: appends refuse, verifies pay string decode; rebuild with buildSignatures"
              case _ => ()
            }
            "signature-table"
          case Some(s) if s.fieldNames.contains("_h") &&
              s.fieldNames.contains("_n") =>
            if (!s.fieldNames.contains("_gk"))
              flags += s"$FlagPreGk gram index: gram width unverifiable on append/probe; rebuild with buildGramIndex"
            "gram-index"
          case Some(s) if s.fieldNames.contains("_k") &&
              s.fieldNames.contains("_s") =>
            if (!s.fieldNames.contains("_sn"))
              flags += s"$FlagPreSn shingle postings: shingle width unverifiable on append; rebuild with buildShinglePostings"
            "shingle-postings"
          case _ => "unknown"
        }
      }
    }
    (kind, flags.toSeq)
  }

  /** Delete every version directory BELOW the current one plus any
    * crashed-flip `_current.tmp.*` files. Only safe once no reader still
    * holds a pre-flip file list (the [[Snapshots.vacuum]] caveat, and
    * the same `< current` rule: versions ABOVE the pointer are never
    * touched — one may be a rebuild's fully-staged `v=N+1` whose pointer
    * flip is in flight, and deleting it would flip the artifact onto a
    * missing directory. An abandoned over-current stage is harmless:
    * the next build re-stages the same number in overwrite mode). A
    * legacy flat layout has nothing to vacuum (tmp debris is still
    * swept — a flat root can carry it if a first versioning flip died). */
  def vacuum(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    sweepStaleTmp(f, root)
    currentVersion(spark, root).foreach { cur =>
      f.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .filter(_.isDirectory)
        .filter(s => s.getPath.getName.startsWith("v=") &&
          s.getPath.getName.stripPrefix("v=").toLongOption.exists(_ < cur))
        .foreach(s => f.delete(s.getPath, true))
    }
  }
}
