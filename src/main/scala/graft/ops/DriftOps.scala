package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift statistics between a reference and a current slice
  * of the same table — the monitoring primitive a 100 TB training-data
  * pipeline runs on every refresh (is today's crawl distributed like the
  * corpus the model was trained on?).
  *
  * Both statistics are single-pass aggregations over the data; nothing is
  * collected to the driver except the final scalar rows.
  *
  * Reference analogue: the train/test distribution checks around
  * Hap880_Final_Project.py:552-560 (class-balance inspection before
  * resampling) — generalized here to full-distribution tests.
  */
object DriftOps {

  /** Per-bin Population-Stability-Index contributions.
    *
    * Input: any frame; `isRef` marks the reference slice, `bin` assigns
    * each row a bucket. Output: one row per observed bin with both
    * counts, the smoothed rates, and the PSI term
    * `(p_cur - p_ref) * ln(p_cur / p_ref)`; summing the `psi_term` column
    * gives the index (rule of thumb: > 0.2 = significant drift).
    *
    * Laplace smoothing `(cnt + s) / (total + s·B)` keeps empty bins
    * finite and makes the statistic deterministic — no epsilon clamps.
    *
    * Scale shape: ONE hash-aggregation over the data (partial map-side
    * combine, B-row result), then a broadcast of the B-row totals. No
    * sort, no wide shuffle, no driver collect.
    */
  def psiBins(df: DataFrame, isRef: Column, bin: Column, smoothing: Double = 0.5): DataFrame = {
    val binned = df
      .groupBy(bin.as("bin"))
      .agg(
        sum(when(isRef, 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(isRef, 0L).otherwise(1L)).as("cur_cnt"))
    psiFromCounts(binned, smoothing)
  }

  /** PSI arithmetic over an ALREADY-AGGREGATED (bin, ref_cnt, cur_cnt)
    * table — the readout half of [[psiBins]], shared with the streaming
    * build (whose counts come out of the incremental state store rather
    * than a batch groupBy). Input is B rows, so every op here is
    * cardinality-bounded.
    */
  def psiFromCounts(binned: DataFrame, smoothing: Double = 0.5): DataFrame = {
    // totals ride a global window over the B-row BIN table — the
    // crossJoin(broadcast(agg)) alternative physically re-evaluates the
    // binned subtree and re-scans the input
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s = lit(smoothing)
    val pRef = (col("ref_cnt") + s) / (col("ref_total") + s * col("n_bins"))
    val pCur = (col("cur_cnt") + s) / (col("cur_total") + s * col("n_bins"))
    binned
      .select(
        col("bin"), col("ref_cnt"), col("cur_cnt"),
        sum("ref_cnt").over(wAll).as("ref_total"),
        sum("cur_cnt").over(wAll).as("cur_total"),
        count(lit(1)).over(wAll).as("n_bins"))
      .select(
        col("bin"), col("ref_cnt"), col("cur_cnt"),
        round(pRef, 9).as("p_ref"),
        round(pCur, 9).as("p_cur"),
        // ln is the one non-rational op: round to 6 so last-ulp libm
        // differences across engines cannot flip a hash comparison
        round((pCur - pRef) * log(pCur / pRef), 6).as("psi_term"))
  }

  /** Per-bin Jensen–Shannon-divergence contributions between the
    * reference and current slices — the SYMMETRIC, bounded ([0, ln 2]
    * nats) companion to [[psiBins]]: PSI explodes when a bin empties on
    * one side, JSD saturates, which is the property a crawl-refresh
    * monitor wants (a brand-new content type should read "maximally
    * different", not "infinitely different").
    *
    * Output: one row per observed bin with both counts, the smoothed
    * rates, and `jsd_term = ½·p·ln(p/m) + ½·q·ln(q/m)` where
    * `m = (p+q)/2`; summing `jsd_term` gives the divergence.
    *
    * Scale shape: identical to [[psiBins]] — ONE hash-aggregation to a
    * B-row bin table, totals via a window over those B rows, no second
    * pass over the data.
    */
  def jsdBins(df: DataFrame, isRef: Column, bin: Column, smoothing: Double = 0.5): DataFrame = {
    val binned = df
      .groupBy(bin.as("bin"))
      .agg(
        sum(when(isRef, 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(isRef, 0L).otherwise(1L)).as("cur_cnt"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s = lit(smoothing)
    val p = (col("ref_cnt") + s) / (col("ref_total") + s * col("n_bins"))
    val q = (col("cur_cnt") + s) / (col("cur_total") + s * col("n_bins"))
    val m = (p + q) / lit(2.0)
    binned
      .select(
        col("bin"), col("ref_cnt"), col("cur_cnt"),
        sum("ref_cnt").over(wAll).as("ref_total"),
        sum("cur_cnt").over(wAll).as("cur_total"),
        count(lit(1)).over(wAll).as("n_bins"))
      .select(
        col("bin"), col("ref_cnt"), col("cur_cnt"),
        round(p, 9).as("p_ref"),
        round(q, 9).as("p_cur"),
        // smoothing keeps p, q > 0, so both ln arguments are finite
        round((p * log(p / m) + q * log(q / m)) / lit(2.0), 6).as("jsd_term"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: `max |F_ref(v) - F_cur(v)|`
    * over the observed support. Returns one row
    * `(n_ref, n_cur, ks)`.
    *
    * Scale shape: the CDF is a DISTRIBUTED cumulative sum, not a global
    * window. Per-value counts (hash agg) are range-partitioned by value;
    * each partition computes its local running sum, and the per-partition
    * offsets reach the driver as ≤ P longs ([[RangedCounts]]) and return
    * as a literal map. Null values are excluded (a null has no place on
    * the axis).
    */
  def ks(df: DataFrame, value: Column, isRef: Column): DataFrame = {
    val perVal = df
      .filter(value.isNotNull)
      .groupBy(value.as("v"))
      .agg(
        sum(when(isRef, 1L).otherwise(0L)).as("r"),
        sum(when(isRef, 0L).otherwise(1L)).as("c"))
    // range-partition the distinct values; equal keys land together so the
    // intra-partition running sum is a per-partition window, not a global
    // sort. The ranged pass pins the frame (RangedCounts): it feeds two
    // passes (per-partition offsets, then the cumulative scan), and both
    // must observe the SAME physical partitioning.
    val ranged = RangedCounts(perVal, Seq(col("v")), col("r"), col("c"))
    val (nRef, nCur) = (ranged.sums(0).last, ranged.sums(1).last)
    ranged.df
      .select(col("v"), ranged.runningSum(0).as("cum_r"), ranged.runningSum(1).as("cum_c"))
      .agg(
        round(max(abs(
          col("cum_r").cast("double") / lit(nRef) -
            col("cum_c").cast("double") / lit(nCur))), 9).as("ks"))
      .select(lit(nRef).as("n_ref"), lit(nCur).as("n_cur"), col("ks"))
  }
}
