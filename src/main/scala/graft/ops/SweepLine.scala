package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval sweep-line analytics: peak concurrency over a table of
  * [start, end) spans — "how many sessions/jobs/admissions were open at
  * once, and when did the maximum first occur". The classic interval
  * problem that resists naive SQL at scale because it needs a GLOBAL
  * running sum over event time.
  *
  * Scale shape: spans flatten to ±1 marks, aggregate to one net delta per
  * distinct instant (hash agg, map-side combine), and the cumulative sum
  * runs DISTRIBUTED: range-partition by time, per-partition window, and
  * per-partition offsets that reach the driver as ≤ P longs — the same
  * shape as [[DriftOps.ks]]'s CDF and [[GlobalRowNumber]]. No
  * `Exchange SinglePartition` over the timeline.
  *
  * Times are epoch-second longs end-to-end (callers truncate; sub-second
  * precision is storage-engine-specific — see TESTDATA events.ts).
  */
object SweepLine {

  /** One row: (peak, at_epoch) — the maximum number of concurrently open
    * spans and the EARLIEST instant at which that maximum is reached.
    * `startEpoch`/`endEpoch` are epoch-second columns; a span covers
    * [start, end), so a span ending exactly when another starts does not
    * overlap it.
    */
  def peakConcurrency(spans: DataFrame, startEpoch: Column, endEpoch: Column): DataFrame = {
    val marks = spans.select(startEpoch.cast("long").as("t"), lit(1L).as("d"))
      .unionAll(spans.select(endEpoch.cast("long").as("t"), lit(-1L).as("d")))
    val net = marks.groupBy("t").agg(sum("d").as("nd"))
    val ranged = RangedCounts(net, Seq(col("t")), col("nd"))
    ranged.df
      .select(col("t"), ranged.runningSum(0).as("c"))
      // max concurrency; among instants attaining it, the earliest —
      // max(struct(c, -t)) resolves both in ONE aggregation
      .agg(max(struct(col("c"), (-col("t")).as("nt"))).as("m"))
      .select(col("m.c").as("peak"), (-col("m.nt")).as("at_epoch"))
  }

  /** DuckDB mirror of [[peakConcurrency]] over the same span definition
    * (`startSql`/`endSql` are epoch-second expressions on `table`). */
  def peakConcurrencyOracleSql(table: String, startSql: String, endSql: String): String =
    s"""WITH marks AS (
       |  SELECT $startSql AS t, 1 AS d FROM $table
       |  UNION ALL
       |  SELECT $endSql AS t, -1 AS d FROM $table
       |), net AS (
       |  SELECT t, CAST(SUM(d) AS BIGINT) AS nd FROM marks GROUP BY 1
       |), cum AS (
       |  SELECT t, SUM(nd) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS c FROM net
       |)
       |SELECT CAST(c AS BIGINT) AS peak, CAST(t AS BIGINT) AS at_epoch
       |FROM cum ORDER BY c DESC, t ASC LIMIT 1""".stripMargin
}
