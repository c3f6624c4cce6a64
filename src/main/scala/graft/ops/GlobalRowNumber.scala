package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global row-number under a total order — the "assign a
  * stable dense id to every row" primitive a training-data pipeline needs
  * (example ids, shard-stable sample ordering, resumable cursors).
  *
  * The naive form, `row_number().over(Window.orderBy(ord))`, is correct
  * but plans a single-partition window: every row funnels through ONE
  * task (Spark even warns). At 100 TB that is not slow, it is dead. This
  * is the scalable equivalent of the reference pipeline's implicit
  * `reset_index()` ids (Hap880_Final_Project.py relies on pandas row
  * positions), built the way a distributed engine has to:
  *
  *   1. range-repartition on the sort keys — the same sampled-split-point
  *      machinery as a distributed ORDER BY, fully executor-side;
  *   2. bring only the P per-partition COUNTS to the driver (P longs);
  *   3. per-partition `row_number` (parallel windows, each local) plus
  *      the partition's cumulative offset looked up from a literal map.
  *
  * Two passes over the input ⇒ the ranged frame is persisted (Spark does
  * not reuse exchanges across QueryExecutions — see GlobalTopN). `ord`
  * must be a total order (append a unique key) or ties make the numbering
  * nondeterministic between runs.
  */
object GlobalRowNumber {

  /** The internal ranged frame is pinned through [[graft.Materialize.pin]]:
    * inside a `Materialize.scoped` body it is released at the scope's end,
    * so act on the numbered frame inside that scope; with no scope open it
    * stays for the session.
    */
  def withRowNumber(df: DataFrame, outCol: String, ord: Column*): DataFrame =
    withRowNumberAndCount(df, outCol, ord: _*)._1

  /** Numbering plus the input's TOTAL row count — free, because the
    * counts pass already sums every partition. For callers that need both
    * the global rank and n (quantile/decile bucket assignment, percentile
    * ranks) without paying a second counting job over the input.
    */
  def withRowNumberAndCount(
      df: DataFrame, outCol: String, ord: Column*): (DataFrame, Long) = {
    require(ord.nonEmpty, "withRowNumber needs at least one ordering column")
    val r = RangedCounts(df, ord)
    val numbered = r.df
      .withColumn(outCol,
        row_number().over(Window.partitionBy("_pid").orderBy(ord: _*)).cast("long")
          + r.offset(r.cum))
      .drop("_pid")
    (numbered, r.cum(r.parts))
  }

  /** Per-group 1-based rank under `ord` for LOW-CARDINALITY group keys —
    * the scale-safe replacement for `row_number().over(Window.partitionBy
    * (group).orderBy(ord))` when the group column has few values (status
    * codes, languages, sources): that window gives each group ONE task
    * holding the group's entire slice — a multi-TB single-task sort at
    * 100 TB. Here the rank rides the GLOBAL numbering over the total
    * order (group, ord) — range-partitioned into ~1/P slices regardless
    * of group cardinality — and the per-group rank is recovered as
    * `global_rank − offset(group)`, offsets being an exclusive prefix sum
    * over the |groups|-row count table (broadcast back). The group's size
    * lands in `sizeCol` (for ntile/percent arithmetic) at no extra pass —
    * the counts ride the same broadcast.
    *
    * `ord` plus the group keys must form a total order (append a unique
    * key) or the numbering is nondeterministic.
    */
  def withGroupRowNumberAndSize(
      df: DataFrame, outCol: String, sizeCol: String,
      groupCols: Seq[String], ord: Column*): DataFrame = {
    require(groupCols.nonEmpty, "group rank needs at least one group column")
    val gcols = groupCols.map(col)
    val totalOrd = gcols.map(_.asc) ++ ord
    val num = withRowNumber(df, "_g_grn", totalOrd: _*)
    // counts from the numbered frame: reuses the internal pin, no re-scan
    val counts = num.groupBy(gcols: _*).agg(count(lit(1)).as(sizeCol))
    // exclusive prefix in the SAME group order the global rank sorts;
    // |groups|-row window — tiny by contract, never data-sized
    val wOff = Window.orderBy(gcols.map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.withColumn("_g_off",
      coalesce(sum(col(sizeCol)).over(wOff), lit(0L)))
    num.join(broadcast(offsets), groupCols)
      .withColumn(outCol, col("_g_grn") - col("_g_off"))
      .drop("_g_grn", "_g_off")
  }

  /** [[ntileFromRank]] with the group size as a COLUMN — for per-group
    * ntiles where each group's `n` differs (pair with
    * [[withGroupRowNumberAndSize]]). Same ANSI bucket-size semantics.
    */
  def ntileFromRankCol(rank: Column, n: Column, k: Int): Column = {
    require(k > 0, s"ntile bucket count must be positive, got $k")
    val q = floor(n / k).cast("long")
    val rem = pmod(n, lit(k.toLong))
    val cut = rem * (q + 1)
    def floorDiv(x: Column, m: Column): Column =
      ((x - pmod(x, m)) / m).cast("long")
    when(rank <= cut, floorDiv(rank - 1, q + 1) + 1)
      .otherwise(rem + floorDiv(rank - cut - 1, greatest(q, lit(1L))) + 1)
  }

  /** Exact NTILE(k) bucket from a 1-based global rank and the total row
    * count — the arithmetic twin of `ntile(k).over(Window.orderBy(...))`
    * without the SinglePartition window that form plans. ANSI/Spark/DuckDB
    * ntile semantics: with `n = q·k + rem`, the first `rem` buckets hold
    * `q + 1` rows, the rest hold `q`. Pair with [[withRowNumberAndCount]]
    * (which supplies both the rank and `n`) to quantile-bucket a frame of
    * any size on parallel per-partition windows only.
    */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    require(k > 0, s"ntile bucket count must be positive, got $k")
    val q = n / k
    val rem = n % k
    val cut = rem * (q + 1)
    // floor-div via pmod so the double-typed `/` quotient is exact: the
    // numerator is made exactly divisible before dividing
    def floorDiv(x: Column, m: Long): Column =
      ((x - pmod(x, lit(m))) / lit(m)).cast("long")
    if (rem == 0) floorDiv(rank - 1, math.max(q, 1L)) + 1
    else when(rank <= cut, floorDiv(rank - 1, q + 1) + 1)
      .otherwise(lit(rem) + floorDiv(rank - cut - 1, math.max(q, 1L)) + 1)
  }
}
