package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust (median/MAD) statistics and equi-depth binning over exact
  * distributed quantiles. Mean/stddev outlier gates break on the exact
  * data they're meant to catch (the outliers inflate the stddev); the
  * robust form — flag x where |x − median| > k · 1.4826 · MAD — is the
  * standard replacement, and a quality gate for 100 TB training data must
  * be reproducible: the MAD gate rides Spark's exact `percentile`
  * aggregate (not `percentile_approx`) rounded to 6 places before any
  * threshold comparison (interpolation ulp may differ across engines,
  * and a gate must not flip on it), while the binner's cutpoints are
  * percentile_disc — actual data values off a distributed CDF, no
  * interpolation at all.
  *
  * Scale shape: the grouped exact percentile shuffles each group's
  * values to its reducer — right for group counts that fit an executor
  * (the usual segment-level gate); for a single giant group use the
  * sketch tier (`a10_approx_quantiles`) or the binner's distributed-CDF
  * shape, which never funnels values through one task.
  */
object RobustStats {

  /** Per-group robust outlier summary:
    * (group…, n, med, mad, n_outliers) with med/MAD rounded to 6.
    * Two grouped percentile passes (median, then median-of-deviations)
    * with a join back between them — groups are few, so the stats join
    * broadcasts.
    */
  def madOutliers(df: DataFrame, group: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    require(group.nonEmpty, "madOutliers needs at least one grouping column")
    val v = col(valueCol).cast("double")
    val med = df.groupBy(group.map(col): _*)
      .agg(round(expr(s"percentile($valueCol, 0.5)"), 6).as("med"))
    val withDev = df.join(broadcast(med), group)
      .withColumn("_dev", abs(v - col("med")))
    val mad = withDev.groupBy(group.map(col): _*)
      .agg(round(expr("percentile(_dev, 0.5)"), 6).as("mad"))
    withDev.join(broadcast(mad), group)
      .groupBy((group.map(col) :+ col("med") :+ col("mad")): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("_dev") > lit(k) * lit(1.4826) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .select(group.map(col) ++ Seq(col("n"), col("med"), col("mad"), col("n_outliers")): _*)
  }

  /** DuckDB mirror of [[madOutliers]] — quantile_cont matches Spark's
    * `percentile` interpolation; both sides round to 6 before comparing. */
  def madOutliersOracleSql(table: String, group: Seq[String], valueCol: String,
                           k: Double = 3.0): String = {
    val g = group.mkString(", ")
    s"""WITH med AS (
       |  SELECT $g, round(quantile_cont($valueCol, 0.5), 6) AS med FROM $table GROUP BY $g
       |), dev AS (
       |  SELECT t.*, med.med, abs(CAST(t.$valueCol AS DOUBLE) - med.med) AS d
       |  FROM $table t JOIN med USING ($g)
       |), mad AS (
       |  SELECT $g, round(quantile_cont(d, 0.5), 6) AS mad FROM dev GROUP BY $g
       |)
       |SELECT $g, count(*) AS n, med, mad,
       |       CAST(SUM(CASE WHEN d > $k * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM dev JOIN mad USING ($g)
       |GROUP BY $g, med, mad""".stripMargin
  }

  /** Equi-depth binning: cut a column at its exact quantiles and report
    * per-bin occupancy — the QuantileDiscretizer shape, exact and
    * engine-reproducible. `probs` are the INTERIOR cutpoints (e.g.
    * 0.25/0.5/0.75 for quartiles). Output: (bin, n, min_v, max_v).
    *
    * Cutpoint semantics are percentile_disc: cut(p) = the SMALLEST data
    * value whose cumulative count reaches ⌈p·n⌉ — an actual data point,
    * so there is no interpolation arithmetic for engines to disagree on,
    * and no rounding anywhere.
    *
    * Scale shape: no `Exchange SinglePartition` over the data (the
    * builtin exact `percentile` funnels every value into ONE reducer —
    * the anti-pattern). Per-value counts hash-aggregate, range-partition
    * by value, each partition runs a local running sum, cross-partition
    * offsets ride <= P driver longs, and ALL cutpoints fall out of one
    * aggregation over that cum frame — the DriftOps-CDF shape. The
    * (1-row) cutpoint frame then broadcasts onto the binning scan.
    */
  def quantileBins(df: DataFrame, valueCol: String, probs: Seq[Double]): DataFrame =
    withBin(df.select(col(valueCol).cast("double").as("_v")), "_v", probs)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("_v").as("min_v"), max("_v").as("max_v"))

  /** Interior cutpoints of `valueCol` as a broadcastable 1-row frame
    * (array column `_cuts`), computed with the distributed-CDF shape
    * described on [[quantileBins]]; the ranged per-value counts are
    * pinned by [[RangedCounts]] ([[graft.Materialize.pin]]). */
  private def cutpoints(df: DataFrame, valueCol: String, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs == probs.sorted, "probs must be ascending")
    val v = col(valueCol).cast("double")
    val perVal = df.filter(v.isNotNull).groupBy(v.as("_v")).agg(count(lit(1)).as("_c"))
    val ranged = RangedCounts(perVal, Seq(col("_v")), col("_c"))
    val n = ranged.sums(0).last
    val cum = ranged.df.select(col("_v"), ranged.runningSum(0).as("_cum"))
    // every cutpoint from ONE aggregation: cut(p) = min v with cum >= ceil(p*n)
    cum.agg(
      array(probs.zipWithIndex.map { case (p, i) =>
        min(when(col("_cum") >= lit(math.ceil(p * n).toLong), col("_v"))).as(s"c$i")
      }: _*).as("_cuts"))
  }

  /** Row-level equi-depth bin assignment: every row of `df` plus an
    * integer `binCol` — the number of cutpoints strictly below the row's
    * value (nulls land in bin 0, matching [[quantileBins]]). The cutpoint
    * frame broadcasts onto the scan, so the data side takes no extra
    * shuffle. This is the composable form: downstream per-bin statistics
    * (occupancy, WOE, lift) are a groupBy away. */
  def withBin(df: DataFrame, valueCol: String, probs: Seq[Double],
              binCol: String = "bin"): DataFrame = {
    require(!df.columns.contains("_cuts"), "input already carries a _cuts column")
    val cutsRow = cutpoints(df, valueCol, probs)
    // bin = number of cutpoints strictly below v  (v <= cut_i -> bin i)
    val bin = probs.indices.foldLeft(lit(0)) { (acc, i) =>
      acc + when(col(valueCol).cast("double") > col("_cuts").getItem(i), 1).otherwise(0)
    }
    df.crossJoin(broadcast(cutsRow)).withColumn(binCol, bin).drop("_cuts")
  }

  def quantileBinsOracleSql(table: String, valueCol: String, probs: Seq[Double]): String = {
    val cuts = probs.zipWithIndex.map { case (p, i) =>
      s"MIN(CASE WHEN cum >= CEIL($p * n) THEN v END) AS c$i"
    }.mkString(", ")
    val binExpr = probs.indices.map { i =>
      s"(CASE WHEN CAST($valueCol AS DOUBLE) > c$i THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH pv AS (
       |  SELECT CAST($valueCol AS DOUBLE) AS v, count(*) AS c FROM $table
       |  WHERE $valueCol IS NOT NULL GROUP BY 1
       |), cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM pv
       |), nn AS (SELECT count(*) AS n FROM $table WHERE $valueCol IS NOT NULL),
       |cuts AS (SELECT $cuts FROM cum, nn)
       |SELECT CAST(($binExpr) AS INTEGER) AS bin, count(*) AS n,
       |       MIN(CAST($valueCol AS DOUBLE)) AS min_v,
       |       MAX(CAST($valueCol AS DOUBLE)) AS max_v
       |FROM $table, cuts GROUP BY 1""".stripMargin
  }

  /** EXACT trimmed mean per group: drop `floor(trim·n)` rows at EACH end
    * under the total order (value, tieCol), average the rest — the
    * robust location estimate that, unlike the median, still uses most
    * of the data. One exchange on the group key: rank and group count
    * come from the same window pass, the mean accumulates in DECIMAL
    * (order-independent), and the tiebreak column makes which duplicates
    * get trimmed deterministic — without it the ANSWER is stable but the
    * oracle compare would not be.
    */
  def trimmedMean(df: DataFrame, group: Seq[String], valueCol: String,
                  tieCol: String, trim: Double = 0.1): DataFrame = {
    require(group.nonEmpty, "trimmedMean needs at least one grouping column")
    require(trim >= 0.0 && trim < 0.5, s"trim in [0, 0.5), got $trim")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(group.map(col): _*)
      .orderBy(col(valueCol).asc, col(tieCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(group.map(col): _*)
    val ranked = df
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_cut", floor(lit(trim) * col("_n")))
    ranked
      .filter(col("_rn") > col("_cut") && col("_rn") <= col("_n") - col("_cut"))
      .groupBy(group.map(col): _*)
      .agg(
        max("_n").as("n"),
        count(lit(1)).as("n_kept"),
        round(sum(round(col(valueCol), 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("trimmed_mean"))
  }

  /** DuckDB mirror of [[trimmedMean]]. */
  def trimmedMeanOracleSql(table: String, group: Seq[String], valueCol: String,
                           tieCol: String, trim: Double = 0.1): String = {
    val g = group.mkString(", ")
    s"""WITH r AS (
       |  SELECT $g, $valueCol,
       |         CAST(row_number() OVER (PARTITION BY $g ORDER BY $valueCol, $tieCol) AS BIGINT) AS rn,
       |         CAST(count(*) OVER (PARTITION BY $g) AS BIGINT) AS n,
       |         CAST(FLOOR($trim * count(*) OVER (PARTITION BY $g)) AS BIGINT) AS cut
       |  FROM $table
       |)
       |SELECT $g, max(n) AS n, count(*) AS n_kept,
       |       round(CAST(SUM(CAST(round($valueCol, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |             / count(*), 6) AS trimmed_mean
       |FROM r WHERE rn > cut AND rn <= n - cut
       |GROUP BY $g""".stripMargin
  }
}
