package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Key-list membership against a big table, with an automatic plan switch —
 * the batch form of the reference's key-addressed RPCs (`GetByKeys` /
 * `ShiftByKeys` / `AreKeysExist`, app/server/gateway/gateway.go:550-631,
 * which iterates an explicit key list per request).
 *
 * Two regimes, one API:
 *  - RPC-sized lists (≤ [[InlineThreshold]]) compile to an `isin` literal
 *    predicate: it reaches the parquet scan as a pushed `In` filter and
 *    prunes row groups on min/max stats — the table is never fully read.
 *  - Larger lists switch to a broadcast semi/anti join: a thousand-literal
 *    `In` bloats the plan (analysis cost, codegen size) and falls off the
 *    pushdown path, while a broadcast hash join streams the scan once with
 *    an O(1) probe per row and still never shuffles the big side.
 *
 * The switch is per-call and purely size-driven, so callers (Shift,
 * Existence, entry queries) get the right plan at both ends without
 * choosing.
 */
object KeyProbe {

  /** Above this many keys, `isin` literals give way to a broadcast join. */
  val InlineThreshold = 1000

  /** Probe-side column name. Deliberately NOT "key": the probed table's own
    * key column is often literally named "key" (IndexQuery's default), and a
    * join condition `df(keyCol) === col("key")` would then be ambiguous. */
  private[operators] val ProbeCol = "_graft_probe_key"

  private def tracked(df: DataFrame): DataFrame =
    graft.CacheRegistry.track(df,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The probe list as a 1-column `LocalRelation`: the keys already live
    * on the driver, so they ride in the plan (no RDD, no job to read
    * them back). */
  def keysDf(df: DataFrame, keyCol: String, keys: Seq[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val keyType = df.schema(keyCol).dataType
    df.sparkSession.createDataFrame(keys.map(Row(_)).asJava,
      StructType(Seq(StructField(ProbeCol, keyType,
        nullable = keys.exists(_ == null)))))
  }

  /** A null probe key can never equi-match any row, but it poisons the
    * inline regime (`isin(...null...)` is NULL for every non-matching row —
    * under NOT that drops ALL of them) while the join regimes just ignore
    * it, so the two regimes would disagree. Stripped up front: both regimes
    * then agree, and the threshold compares the EFFECTIVE list. */
  private def nonNull(keys: Seq[Any]): Seq[Any] = keys.filterNot(_ == null)

  /** Rows of `df` whose `keyCol` IS in `keys`. The probe list is deduped on
    * the DRIVER (it already lives there) — a `.distinct()` on the probe
    * DataFrame would plan a needless exchange+aggregate pair. */
  def semi(df: DataFrame, keyCol: String, keys: Seq[Any],
           threshold: Int = InlineThreshold): DataFrame = {
    val ks = nonNull(keys)
    if (ks.lengthCompare(threshold) <= 0) df.filter(col(keyCol).isin(ks: _*))
    else df.join(broadcast(keysDf(df, keyCol, ks.distinct)),
      df(keyCol) === col(ProbeCol), "left_semi")
  }

  /** Rows of `df` whose `keyCol` is NOT in `keys`. `isin` under NOT is
    * null-hostile (`NOT (null IN ...)` is null ⇒ row dropped), so the
    * inline form null-guards to keep the same keep-the-nulls semantics as
    * the anti join (null keys never match a probe list). */
  def anti(df: DataFrame, keyCol: String, keys: Seq[Any],
           threshold: Int = InlineThreshold): DataFrame = {
    val ks = nonNull(keys)
    if (ks.lengthCompare(threshold) <= 0)
      df.filter(col(keyCol).isNull || !col(keyCol).isin(ks: _*))
    else df.join(broadcast(keysDf(df, keyCol, ks.distinct)),
      df(keyCol) === col(ProbeCol), "left_anti")
  }

  /**
   * Third regime — the probe list is itself a TABLE (millions of keys:
   * "filter this crawl against the 50 M known URLs"), too big for a
   * driver Seq or a broadcast. A Bloom filter over the probe keys (built
   * distributed via the mergeable-sketch aggregate behind
   * `df.stat.bloomFilter`) pre-filters the big side IN THE SCAN STAGE —
   * no false negatives, so correctness still comes from the exact
   * shuffle semi-join, but only the ~fpp false-positive excess plus true
   * matches ever shuffle. The big table is scanned once and shuffled
   * almost-never; the probe table shuffles once (it is the small side).
   *
   * `expectedKeys` sizes the filter (bits ≈ -n·ln(fpp)/ln²2 — 50 M keys
   * at 1% is ~57 MB, executor-memory scale, not driver-literal scale).
   */
  def semiJoin(df: DataFrame, keyCol: String, probe: DataFrame,
               probeKeyCol: String, expectedKeys: Long,
               fpp: Double = 0.01): DataFrame = {
    // the probe PLAN runs twice (the eager bloomFilter action, then the
    // exact join) — tracked-persist the key projection so a derived probe
    // (a filter/join, not a bare table) isn't recomputed; the persist is
    // keys-only, released by CacheRegistry like every engine cache
    val keys = tracked(probe.select(col(probeKeyCol).as(ProbeCol)))
    val bf = keys.stat.bloomFilter(ProbeCol, expectedKeys, fpp)
    // no .distinct() on the probe side: semi-join semantics already
    // ignore right-side duplicates, so the dedup was a pure extra
    // exchange+aggregate over every probe key per call
    df.filter(graft.functions.BloomFunctions.mightContain(col(keyCol), bf))
      .join(keys, df(keyCol) === col(ProbeCol), "left_semi")
  }

  /**
   * Table-probe anti join with the Bloom split: rows the filter rejects
   * are DEFINITELY absent from the probe set — they pass the anti
   * directly, skipping the shuffle entirely. Only bloom-positives (true
   * matches + the fpp sliver) pay the exact anti join. The big side is
   * scanned twice (cache it if scans dominate), but at 100 TB the trade
   * is right: scans are embarrassingly parallel, shuffles are not — and
   * in the common dedup case (most rows NOT in the corpus) the shuffled
   * fraction is a few percent.
   */
  def antiJoin(df: DataFrame, keyCol: String, probe: DataFrame,
               probeKeyCol: String, expectedKeys: Long,
               fpp: Double = 0.01): DataFrame = {
    val keys = tracked(probe.select(col(probeKeyCol).as(ProbeCol))) // see semiJoin
    val bf = keys.stat.bloomFilter(ProbeCol, expectedKeys, fpp)
    val mc = graft.functions.BloomFunctions.mightContain(col(keyCol), bf)
    val definiteMiss = df.filter(col(keyCol).isNull || !mc)
    val needExact = df.filter(mc) // anti ignores right dups (see semiJoin)
      .join(keys, df(keyCol) === col(ProbeCol), "left_anti")
    definiteMiss.unionAll(needExact)
  }

  /** Membership as a boolean column over the probe list itself: one row
    * per probed key with `is_present` (duplicate probe keys stay
    * duplicated — the reference answers per requested key). A null probe
    * key keeps its row and reports `is_present = false` (NULL IN (...) is
    * NULL, coalesced), consistent with semi/anti ignoring nulls.
    *
    * `probe IN (found keys)` over the `LocalRelation` probe list plans as
    * ONE broadcast ExistenceJoin against the [[semi]] rows — two Spark
    * jobs (the broadcast and the result, PlanSpec-pinned); the semi side
    * needs no `distinct`, since membership ignores duplicate matches. */
  def presence(df: DataFrame, keyCol: String, keys: Seq[Any],
               threshold: Int = InlineThreshold): DataFrame = {
    val found = semi(df, keyCol, keys, threshold).select(col(keyCol))
    keysDf(df, keyCol, keys).select(col(ProbeCol).as("key"),
      coalesce(col(ProbeCol).isin(found), lit(false)).as("is_present"))
  }
}
