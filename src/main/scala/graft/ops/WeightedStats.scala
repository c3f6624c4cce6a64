package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact weighted quantiles over a distributed value column.
  *
  * The weighted p-quantile is the smallest value v whose cumulative
  * weight reaches p·W (W = total weight) — the "median price weighted by
  * units sold" statistic. Exactness contract: weights are LONGS and
  * probabilities are permille integers, so every comparison is integer
  * arithmetic (`1000·cum ≥ p·W`) — no double threshold that could flip
  * on an ulp between engines.
  *
  * Scale shape (the drift_ks distributed-CDF pattern): ONE hash
  * aggregation collapses the data to per-distinct-value weight sums; a
  * range partitioning orders those rows; per-partition running sums plus
  * a collected P-entry offset map (P = shuffle partitions — KBs to the
  * driver, never data) form the global cumulative weight without any
  * SinglePartition window; a final conditional-min aggregation picks
  * each quantile in one pass. Nothing data-sized crosses a single task.
  */
object WeightedStats {

  /** @param probsPermille quantile probabilities in permille (250 = p25).
    * @return one row per requested quantile: (p_permille, wq).
    */
  def weightedQuantiles(
      df: DataFrame, value: Column, weight: Column,
      probsPermille: Seq[Int]): DataFrame = {
    require(probsPermille.nonEmpty && probsPermille.forall(p => p > 0 && p < 1000),
      "quantile permilles must lie in (0, 1000)")
    val perVal = df
      .filter(value.isNotNull)
      .groupBy(value.as("v"))
      .agg(sum(weight.cast("long")).as("w"))
    // ≤ P rows to the driver: per-partition weight totals → prefix offsets
    val ranged = RangedCounts(perVal, Seq(col("v")), col("w"))
    val total = ranged.sums(0).last
    val withCum = ranged.df.select(col("v"), ranged.runningSum(0).as("cum"))
    // one conditional min per quantile — a single pass over the CDF rows
    val picks = probsPermille.map { p =>
      min(when(col("cum") * 1000L >= lit(total) * p, col("v"))).as(s"_q$p")
    }
    val row = withCum.agg(picks.head, picks.tail: _*)
    row.select(probsPermille.map(p =>
        struct(lit(p).as("p_permille"), col(s"_q$p").as("wq")).as(s"_s$p")): _*)
      .select(explode(array(probsPermille.map(p => col(s"_s$p")): _*)).as("_e"))
      .select(col("_e.p_permille"), col("_e.wq"))
  }

  /** DuckDB mirror of [[weightedQuantiles]] — same per-value collapse,
    * integer cumulative-weight threshold, and min-pick.
    */
  def weightedQuantilesOracleSql(
      table: String, valueSql: String, weightSql: String,
      probsPermille: Seq[Int]): String = {
    val probsValues = probsPermille.map(p => s"($p)").mkString(", ")
    s"""WITH pv AS (
       |  SELECT $valueSql AS v, CAST(SUM(CAST($weightSql AS BIGINT)) AS BIGINT) AS w
       |  FROM $table WHERE $valueSql IS NOT NULL GROUP BY 1
       |), c AS (
       |  SELECT v, SUM(w) OVER (ORDER BY v) AS cum, SUM(w) OVER () AS tot FROM pv
       |)
       |SELECT p_permille, MIN(v) AS wq
       |FROM c, (VALUES $probsValues) AS p(p_permille)
       |WHERE cum * 1000 >= tot * p_permille
       |GROUP BY 1""".stripMargin
  }
}
