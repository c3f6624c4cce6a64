package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: interleave the bits of two dimension
  * columns so that sorting by the single z-value co-locates rows that are
  * close in BOTH dimensions. This is the standard multi-dimensional data
  * layout trick: after `repartitionByRange($"z").sortWithinPartitions($"z")`
  * every output file covers a narrow rectangle of (x, y), so parquet
  * min/max row-group stats prune scans for predicates on EITHER dimension —
  * a plain sort by x would only prune x-predicates.
  *
  * The z-value is pure codegen'd bit arithmetic (shifts/masks/adds — no
  * UDF), so it rides WholeStageCodegen and is exactly mirrorable in SQL.
  * Dimensions must be pre-normalized to `[0, 2^bits)`; production layouts
  * normalize each dimension to fixed-width rank buckets first (a skewed
  * raw dimension wastes z-resolution on empty ranges).
  *
  * Beyond-reference extension (SURVEY §7.6): the reference materializes
  * one pandas frame and never lays out storage; at 100 TB the layout IS
  * the difference between scanning a file and skipping it.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of two non-negative integral
    * columns: x occupies even bit positions, y odd.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zValue: bits=$bits out of range")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { b =>
      shiftright(xl, b).bitwiseAND(1) * lit(1L << (2 * b)) +
        shiftright(yl, b).bitwiseAND(1) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)
  }

  /** SQL text of [[zValue]] for the DuckDB oracle — identical bit terms. */
  def zValueSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { b =>
      s"(((CAST($x AS BIGINT) >> $b) & 1) * ${1L << (2 * b)} + " +
        s"((CAST($y AS BIGINT) >> $b) & 1) * ${1L << (2 * b + 1)})"
    }.mkString(" + ")

  /** The production layout: range-partition on the z-value (co-locating
    * z-neighbors into the same output file) and sort within partitions so
    * row groups inside each file stay clustered too. `nFiles` sizes the
    * output; the range boundaries come from Spark's reservoir sampling of
    * z, so this shuffles once and never funnels through the driver.
    */
  def applyLayout(df: DataFrame, z: Column, nFiles: Int): DataFrame = {
    val withZ = df.withColumn("_z", z)
    withZ.repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Verification harness for the layout: bucket rows into `nBuckets`
    * equal z-ranges (exact ntile semantics — deterministic given the
    * total tiebreak order) and report each bucket's (x, y) bounding box
    * and row count. Narrow per-bucket boxes on BOTH dimensions are
    * exactly the property that makes the layout skip files; the oracle
    * checks the same boxes. The bucketing rides
    * [[GlobalRowNumber.ntileFromRank]] over a range-partitioned global
    * rank — no SinglePartition ntile window over the full table.
    */
  def layoutStats(df: DataFrame, x: Column, y: Column, tie: Column,
                  bits: Int, nBuckets: Int): DataFrame = {
    val base = df.select(x.as("_x"), y.as("_y"), tie.as("_tie"))
      .withColumn("_z", zValue(col("_x"), col("_y"), bits))
    val (numbered, n) = GlobalRowNumber.withRowNumberAndCount(
      base, "_rn", col("_z").asc, col("_tie").asc)
    // the ranged pin stays for the session (canonical-plan deduped, as in
    // Metrics.liftTable): a cached readout would embed this run's sampled
    // offsets in its plan and add a cache entry per invocation
    numbered
      .withColumn("bucket", GlobalRowNumber.ntileFromRank(col("_rn"), n, nBuckets))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        min("_x").as("min_x"), max("_x").as("max_x"),
        min("_y").as("min_y"), max("_y").as("max_y"))
  }
}
