package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Smoothed target (mean) encoding — the high-cardinality-categorical
  * feature transform the reference approximates with one-hot matrices
  * (reference: Hap880_Final_Project.py:360-376, pd.get_dummies). One-hot
  * explodes at 100 TB (a million-category column becomes a million
  * columns); target encoding keeps one double per category and is the
  * standard large-scale replacement.
  *
  * All arithmetic is rational (+ − × ÷ over exact integer counts), so the
  * encodings are bit-identical across engines — no rounding needed for
  * oracle comparison.
  */
object TargetEncoding {

  /** Per-category smoothed mean: `(pos + α·prior) / (cnt + α)` where
    * `prior` is the global positive rate. α interpolates between the
    * category's own rate (big categories) and the prior (rare ones).
    *
    * Scale shape: one hash-aggregation to the category table (map-side
    * partial combine), one 1-row broadcast for the prior. The category
    * table is output-sized, never the data.
    */
  def encode(df: DataFrame, cat: String, label: Column, alpha: Double): DataFrame = {
    val perCat = df
      .groupBy(col(cat))
      .agg(
        count(lit(1)).as("cnt"),
        sum(label.cast("long")).as("pos"))
    // the prior rides a global window over the CATEGORY table (not the
    // data): one single-partition pass over |categories| thin rows. The
    // alternative — crossJoin(broadcast(perCat.agg(...))) — physically
    // re-evaluates the perCat subtree and re-scans the fact table.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perCat
      .withColumn("prior",
        sum("pos").over(wAll).cast("double") / sum("cnt").over(wAll))
      .select(
        col(cat), col("cnt"), col("pos"), col("prior"),
        ((col("pos") + lit(alpha) * col("prior")) / (col("cnt") + lit(alpha)))
          .as("encoding"))
  }

  /** Leave-one-out variant: each ROW is encoded from its category's
    * statistics minus its own label — `(pos − y + α·prior) / (cnt − 1 + α)`
    * — the standard leakage guard when the encoding feeds a model trained
    * on the same rows.
    *
    * Scale shape: the category table from [[encode]] is broadcast back
    * onto the data (categories ≪ rows by definition of the transform), so
    * the data-sized side never shuffles.
    */
  def looEncode(df: DataFrame, cat: String, label: Column, alpha: Double): DataFrame = {
    val y = label.cast("long")
    df
      .withColumn("_y", y)
      .join(broadcast(encode(df, cat, label, alpha).drop("encoding")), Seq(cat))
      .withColumn(
        "loo_encoding",
        (col("pos") - col("_y") + lit(alpha) * col("prior")) /
          (col("cnt") - lit(1) + lit(alpha)))
      .drop("_y")
  }

  /** K-fold cross-fitted variant: rows are assigned to folds by a
    * portable hash of a unique key, and each (category, fold) cell's
    * encoding uses the category's statistics from the OTHER k−1 folds —
    * the leakage guard for cross-validated training (a fold's feature
    * never saw that fold's labels). The prior is out-of-fold too. Output
    * is the cell table ((cat, fold) → encoding), |categories|·k rows,
    * joinable back onto the data by (category, fold).
    *
    * Scale shape: ONE hash aggregation reduces the data to the cell
    * table; every complement (total − fold) comes from windows over that
    * |categories|·k-row table, never the data. Fold assignment is the
    * same portable-md5 discipline as the hash-sampling tier, so the
    * folds — and therefore the encodings — replay identically on any
    * engine or partitioning.
    */
  def crossfitEncode(df: DataFrame, keyCol: String, cat: String, label: Column,
                     alpha: Double, folds: Int): DataFrame = {
    require(folds > 1, "crossfitEncode needs at least 2 folds")
    val fold = pmod(
      graft.text.TextOps.md5Hash60(concat(col(keyCol).cast("string"), lit(":cf"))),
      lit(folds.toLong))
    val cells = df
      .select(col(cat).as("cat"), fold.as("fold"), label.cast("long").as("_y"))
      .groupBy("cat", "fold")
      .agg(count(lit(1)).as("cnt"), sum("_y").as("pos"))
    val byCat = org.apache.spark.sql.expressions.Window.partitionBy("cat")
    val byFold = org.apache.spark.sql.expressions.Window.partitionBy("fold")
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    cells
      .withColumn("tc", sum("cnt").over(byCat))
      .withColumn("tp", sum("pos").over(byCat))
      .withColumn("fc", sum("cnt").over(byFold))
      .withColumn("fp", sum("pos").over(byFold))
      .withColumn("gc", sum("cnt").over(all))
      .withColumn("gp", sum("pos").over(all))
      .select(
        col("cat"), col("fold"), col("cnt"), col("pos"),
        (((col("tp") - col("pos")) + lit(alpha) *
          ((col("gp") - col("fp")).cast("double") / (col("gc") - col("fc")))) /
          ((col("tc") - col("cnt")) + lit(alpha))).as("encoding"))
  }

  /** Weight-of-evidence encoding over equi-depth bins of a numeric
    * driver — the credit-scoring/feature-screening transform: bin at the
    * exact distributed quantile cutpoints
    * ([[graft.ops.RobustStats.withBin]] — percentile_disc
    * semantics, actual data values, no interpolation arithmetic), then
    * per bin `WOE = ln(((pos+0.5)/(totPos+0.5)) / ((neg+0.5)/(totNeg+0.5)))`
    * with the ±0.5 Laplace guard so one-sided bins stay finite, plus the
    * bin's information-value term `(P(bin|pos) − P(bin|neg)) · WOE`
    * (summing iv_term over bins gives the column's IV screening score).
    *
    * Scale shape: the cutpoint frame broadcasts onto the scan, the
    * per-bin table is |bins|-sized, and the totals ride a window over
    * THAT table — the fact table is read once and never re-shuffled.
    * WOE/IV round to 6 places; everything inside the log is a ratio of
    * half-integer counts, identical on any engine.
    */
  def woeBinned(df: DataFrame, valueCol: String, label: Column,
                probs: Seq[Double]): DataFrame = {
    val binned = graft.ops.RobustStats.withBin(df, valueCol, probs)
    val perBin = binned
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(label.cast("long")).as("pos"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val neg = col("n") - col("pos")
    val woe = round(
      log(((col("pos") + lit(0.5)) * (col("tot_neg") + lit(0.5))) /
        ((neg + lit(0.5)) * (col("tot_pos") + lit(0.5)))), 6)
    perBin
      .withColumn("tot_pos", sum("pos").over(wAll))
      .withColumn("tot_neg", sum(col("n") - col("pos")).over(wAll))
      .select(
        col("bin"), col("n"), col("pos"), neg.as("neg"),
        woe.as("woe"),
        round((((col("pos") + lit(0.5)) / (col("tot_pos") + lit(0.5))) -
          ((neg + lit(0.5)) / (col("tot_neg") + lit(0.5)))) * woe, 6).as("iv_term"))
  }

  /** DuckDB mirror of [[woeBinned]] — generated from the same `probs` so
    * the cutpoint arithmetic cannot drift from the Scala side.
    * `labelSql` is the boolean label predicate in SQL. */
  def woeBinnedOracleSql(table: String, valueCol: String, labelSql: String,
                         probs: Seq[Double]): String = {
    val cuts = probs.zipWithIndex.map { case (p, i) =>
      s"MIN(CASE WHEN cum >= CEIL($p * n) THEN v END) AS c$i"
    }.mkString(", ")
    val binExpr = probs.indices.map { i =>
      s"(CASE WHEN CAST($valueCol AS DOUBLE) > c$i THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    val woe = "round(ln(((pos + 0.5) * (tot_neg + 0.5)) / " +
      "(((n - pos) + 0.5) * (tot_pos + 0.5))), 6)"
    s"""WITH pv AS (
       |  SELECT CAST($valueCol AS DOUBLE) AS v, count(*) AS c FROM $table
       |  WHERE $valueCol IS NOT NULL GROUP BY 1
       |), cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM pv
       |), nn AS (SELECT count(*) AS n FROM $table WHERE $valueCol IS NOT NULL),
       |cuts AS (SELECT $cuts FROM cum, nn),
       |b AS (
       |  SELECT CAST(($binExpr) AS INTEGER) AS bin,
       |         CASE WHEN $labelSql THEN 1 ELSE 0 END AS y
       |  FROM $table, cuts
       |), pb AS (
       |  SELECT bin, count(*) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM b GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(pos) AS BIGINT) AS tot_pos,
       |         CAST(SUM(n - pos) AS BIGINT) AS tot_neg FROM pb
       |)
       |SELECT bin, n, pos, n - pos AS neg,
       |       $woe AS woe,
       |       round((((pos + 0.5) / (tot_pos + 0.5)) -
       |              (((n - pos) + 0.5) / (tot_neg + 0.5))) * $woe, 6) AS iv_term
       |FROM pb, tot""".stripMargin
  }
}
