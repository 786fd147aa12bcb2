package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Buckets

/**
 * Multi-dimensional file layout: write a table Z-ORDERED on several
 * columns so parquet min/max row-group stats prune scans filtered on ANY
 * of them — the technique behind Delta OPTIMIZE ZORDER / liquid
 * clustering, here with nothing but Spark primitives (quantile
 * bucketing + bit interleaving + range partitioning).
 *
 * Why: a table sorted on one column prunes beautifully on it and not at
 * all on any other; the single-dimension layout ([[graft.Bucketing]],
 * partitionBy) can't serve two filter axes at once. Interleaving the
 * bits of per-column rank buckets gives a 1-D order in which rows close
 * in ANY dimension land close in the file order, so every dimension's
 * min/max per file is narrow — each filter axis skips most files.
 *
 * Scale shape: per column one `approxQuantile` pass computes the bucket
 * edges (distributed sketch, driver gets 255 doubles — NO global sort,
 * no single-task window); bucket assignment is then a pure per-row
 * expression (a binary search over the edges, [[Buckets.bucketIndex]]),
 * and the only data movement is the final range repartition on the
 * z-value. Quantile (not uniform-width) edges make the layout
 * skew-resistant: a hot value range still spreads over its rank share.
 */
object Layout {

  private val Bits = 8 // 256 quantile buckets per dimension

  /** The interleaved z-value: bit j of dimension i lands at position
    * j * dims + i. Buckets are LongType — with int columns a shift
    * amount past 31 would wrap (Java shift semantics) and silently
    * scramble the order for 4+ dimensions. */
  private def interleave(buckets: Seq[Column]): Column = {
    val dims = buckets.size
    (0 until Bits).flatMap { j =>
      buckets.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * dims + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` to `path` as `numFiles` parquet files z-ordered on the
    * NUMERIC columns `cols`. Returns the path. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int): String = {
    require(cols.size >= 2, "z-order needs at least two dimensions")
    // 8 bits x 8 dims fills positions 0..63 exactly; a 9th dimension
    // would push past 63 and wrap (Java shift semantics), silently
    // scrambling the order — the same cliff the Long buckets fixed for
    // 4+ dims at int width. Position 63 itself is the Long sign bit,
    // which is why the sort below compares UNSIGNED (see _zs).
    require(cols.size <= 8,
      s"z-order supports at most 8 dimensions (${cols.size} given)")
    val probs = (1 until (1 << Bits)).map(_.toDouble / (1 << Bits)).toArray
    val forEdges = cols.foldLeft(df)((acc, c) =>
      acc.withColumn(s"_q_$c", col(c).cast("double")))
    // ONE scan computes every dimension's sketch (the multi-column
    // approxQuantile overload) — not one full pass per dimension
    val allEdges = forEdges.stat.approxQuantile(
      cols.map(c => s"_q_$c").toArray, probs, 0.001)
    val edges = cols.zip(allEdges.map(_.distinct))
    edges.foreach { case (c, es) =>
      require(es.nonEmpty,
        s"z-order column '$c' produced no quantile edges — it must be " +
          "numeric (castable to double) with at least one non-null value")
    }
    val bucketed = edges.foldLeft(df) { case (acc, (c, es)) =>
      acc.withColumn(s"_b_$c", Buckets.bucketIndex(col(c).cast("double"), es))
    }
    bucketed
      .withColumn("_z", interleave(cols.map(c => col(s"_b_$c"))))
      // UNSIGNED z compare: at 8 dims, bit 7 of the last dimension lands
      // at position 63 — the Long sign bit — and a signed sort would put
      // the whole upper half of the curve FIRST. XOR with Long.MinValue
      // maps unsigned order onto signed order (for <8 dims it's a
      // constant offset, a no-op on the ordering), so the range
      // partitioner always walks the true z-curve.
      .withColumn("_zs", col("_z").bitwiseXOR(lit(Long.MinValue)))
      .repartitionByRange(numFiles, col("_zs"))
      .sortWithinPartitions(col("_zs"))
      .drop(cols.map(c => s"_b_$c") :+ "_z" :+ "_zs": _*)
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Per-file (min, max) spans of `valCol` relative to its global span —
    * the pruning diagnostic: the mean relative span is the expected
    * fraction of files a point/range filter on that column must read.
    * A constant column (global span 0) reports 1.0 — no filter on it
    * can prune anything. */
  def fileSpans(df: DataFrame, valCol: String): DataFrame = {
    val perFile = df.groupBy(input_file_name().as("file"))
      .agg(min(col(valCol)).as("lo"), max(col(valCol)).as("hi"))
    val global = df.agg(min(col(valCol)).as("glo"), max(col(valCol)).as("ghi"))
    perFile.crossJoin(broadcast(global))
      .select(col("file"),
        when(col("ghi") === col("glo"), lit(1.0))
          .otherwise((col("hi") - col("lo")).cast("double") /
            (col("ghi") - col("glo"))).as("rel_span"))
  }
}
