package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** Binary-classification metrics, Spark-first.
  *
  * The reference computes threshold metrics with five separate passes over
  * (pred, label) numpy arrays (Hap880_Final_Project.py:484-502) and
  * ROC/AUC via sklearn (py:508-515). Here:
  *   - threshold metrics are ONE distributed aggregation (four conditional
  *     counters) — `ConfusionAggregator` exercises the typed Aggregator
  *     surface, `thresholdMetrics` the plain agg form;
  *   - AUC-ROC is the exact Mann-Whitney rank statistic computed with a
  *     window rank + one aggregation — no driver-side curve, no RDD API,
  *     scales to any cardinality and handles score ties correctly via
  *     average ranks;
  *   - ROC/PR curve points come from a cumulative window over distinct
  *     scores (one shuffle-sort), matching sklearn's stepwise curves.
  */
object Metrics {

  case class Confusion(tp: Long, fp: Long, tn: Long, fn: Long) {
    def accuracy: Double    = safe(tp + tn, tp + fp + tn + fn)
    def recall: Double      = safe(tp, tp + fn)
    def precision: Double   = safe(tp, tp + fp)
    def specificity: Double = safe(tn, tn + fp)
    def prevalence: Double  = safe(tp + fn, tp + fp + tn + fn)
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
    private def safe(num: Long, den: Long): Double =
      if (den == 0) 0.0 else num.toDouble / den
  }

  /** One-pass typed Aggregator over (score, label) at a threshold. */
  class ConfusionAggregator(threshold: Double)
      extends Aggregator[(Double, Double), Confusion, Confusion] {
    def zero: Confusion = Confusion(0, 0, 0, 0)
    def reduce(b: Confusion, a: (Double, Double)): Confusion = {
      val pred = a._1 > threshold
      val pos  = a._2 == 1.0
      Confusion(
        b.tp + (if (pred && pos) 1 else 0),
        b.fp + (if (pred && !pos) 1 else 0),
        b.tn + (if (!pred && !pos) 1 else 0),
        b.fn + (if (!pred && pos) 1 else 0)
      )
    }
    def merge(x: Confusion, y: Confusion): Confusion =
      Confusion(x.tp + y.tp, x.fp + y.fp, x.tn + y.tn, x.fn + y.fn)
    def finish(r: Confusion): Confusion = r
    def bufferEncoder: Encoder[Confusion] = Encoders.product[Confusion]
    def outputEncoder: Encoder[Confusion] = Encoders.product[Confusion]
  }

  /** 0-safe ratio (ANSI mode makes x/0 an error, not NaN). */
  private def ratio(num: Column, den: Column): Column =
    when(den === 0, 0.0).otherwise(num.cast("double") / den)

  /** Threshold metrics as a single untyped aggregation (codegen'd). */
  def thresholdMetrics(scored: DataFrame, scoreCol: String, labelCol: String, threshold: Double): DataFrame = {
    val pred = (col(scoreCol) > threshold).cast("int")
    val pos  = (col(labelCol) === 1.0).cast("int")
    scored
      .agg(
        sum(when(pred === 1 && pos === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(pred === 1 && pos === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(pred === 0 && pos === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(pred === 0 && pos === 1, 1L).otherwise(0L)).as("fn"))
      .withColumn("accuracy", ratio(col("tp") + col("tn"),
        col("tp") + col("fp") + col("tn") + col("fn")))
      .withColumn("recall", ratio(col("tp"), col("tp") + col("fn")))
      .withColumn("precision_", ratio(col("tp"), col("tp") + col("fp")))
      .withColumn("specificity", ratio(col("tn"), col("tn") + col("fp")))
      .withColumn("prevalence", ratio(col("tp") + col("fn"),
        col("tp") + col("fp") + col("tn") + col("fn")))
  }

  /** Exact AUC-ROC via the Mann-Whitney U statistic:
    *   AUC = (sum of positive ranks − nPos(nPos+1)/2) / (nPos · nNeg)
    * with average ranks for score ties (rank = avg over the tied block),
    * which is exactly the trapezoidal sklearn value. One global sort
    * (window without partition — for metrics-sized inputs this is fine;
    * for 100 TB score tables, pre-aggregate per-score counts first: the
    * distinct-score variant below does exactly that).
    */
  def aucRoc(scored: DataFrame, scoreCol: String, labelCol: String): Double = {
    val r = aucRocDf(scored, scoreCol, labelCol).collect()(0)
    // single-class input is already normalized to null by aucRocDf
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Distributed AUC as a 1-row DataFrame (column `auc_roc`). All rank
    * arithmetic is exact in doubles (ranks are halves), so the value is
    * bit-deterministic and engine-comparable.
    */
  def aucRocDf(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    // scale path: collapse to per-distinct-score (pos, neg) counts first —
    // cardinality drops from |rows| to |distinct scores|. With CONTINUOUS
    // scores that is still |rows|, so the Mann-Whitney rank sum must not
    // ride a SinglePartition window. Decomposition: with the score axis
    // range-partitioned,
    //   posRankSum = Σ_p localPosRankSum_p + Σ_p offset_p · nPos_p
    // where localPosRankSum uses only the partition-LOCAL running count
    // and offset_p is the total count of lower partitions. One shuffle,
    // one job, ≤ P partial tuples to the driver (the sweep tier calls
    // this per fold×candidate — a persist/multi-job shape here multiplies
    // across the whole grid search). Every term is an exact half in
    // doubles, so the value is bit-identical to the windowed form.
    val spark = scored.sparkSession
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val byScore = scored
      .groupBy(col(scoreCol).as("s"))
      .agg(
        sum(when(col(labelCol) === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol) =!= 1.0, 1L).otherwise(0L)).as("nn"))
    val ranged = byScore
      .repartitionByRange(parts, col("s").asc)
      .withColumn("_pid", spark_partition_id())
    val wLocal = Window.partitionBy("_pid").orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val partials = ranged
      .withColumn("_lcb", coalesce(sum(col("np") + col("nn")).over(wLocal), lit(0L)))
      .groupBy("_pid")
      .agg(
        sum(col("np") * (col("_lcb") + (col("np") + col("nn") + 1L) / 2.0)).as("lprs"),
        sum(col("np")).as("snp"),
        sum(col("np") + col("nn")).as("scnt"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    var offset = 0L
    var posRankSum = 0.0
    var nPos = 0L
    var nTot = 0L
    partials.foreach { case (_, lprs, snp, scnt) =>
      posRankSum += lprs + offset.toDouble * snp
      nPos += snp
      nTot += scnt
      offset += scnt
    }
    val nNeg = nTot - nPos
    val auc: java.lang.Double =
      if (nPos == 0L || nNeg == 0L) null
      else (posRankSum - nPos.toDouble * (nPos + 1) / 2.0) / (nPos.toDouble * nNeg)
    import spark.implicits._
    Seq(Option(auc).map(_.doubleValue)).toDF("auc_roc")
  }

  /** Per-segment exact AUC — [[aucRocDf]] with every step keyed by a
    * segment column (the fairness/cohort-drill view: one AUC per market
    * segment, per hospital, per time slice). Identical rank arithmetic,
    * but the cumulative window is PARTITIONED by segment, so no step
    * funnels all distinct scores through one task the way the global
    * form's single ordering does; segments with one class yield null.
    */
  def aucRocBy(scored: DataFrame, scoreCol: String, labelCol: String, segCol: String): DataFrame = {
    val byScore = scored
      .groupBy(col(segCol).as("segment"), col(scoreCol).as("s"))
      .agg(
        sum(when(col(labelCol) === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol) =!= 1.0, 1L).otherwise(0L)).as("nn"))
    val w = Window.partitionBy("segment").orderBy(col("s"))
    val ranked = byScore
      .withColumn("cumBefore", coalesce(sum(col("np") + col("nn"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("avgRank", col("cumBefore") + (col("np") + col("nn") + 1L) / 2.0)
    ranked
      .groupBy("segment")
      .agg(
        sum(col("np") * col("avgRank")).as("posRankSum"),
        sum(col("np")).as("nPos"),
        sum(col("nn")).as("nNeg"))
      .select(col("segment"),
        when(col("nPos") === 0L || col("nNeg") === 0L, lit(null).cast("double"))
          .otherwise(
            (col("posRankSum") - col("nPos").cast("double") * (col("nPos") + 1) / 2.0) /
              (col("nPos").cast("double") * col("nNeg"))).as("auc_roc"))
  }

  /** ROC curve points (fpr, tpr) at every distinct score threshold,
    * descending — sklearn-style stepwise curve, computed with one
    * aggregation + one cumulative window over distinct scores.
    */
  def rocPoints(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val byScore = scored
      .groupBy(col(scoreCol).as("threshold"))
      .agg(
        sum(when(col(labelCol) === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol) =!= 1.0, 1L).otherwise(0L)).as("nn"))
    val w = Window.orderBy(desc("threshold"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cumTp", sum("np").over(w))
      .withColumn("cumFp", sum("nn").over(w))
      // try_divide: ANSI mode raises DIVIDE_BY_ZERO even for doubles, but
      // an all-one-class frame should surface as NULL curve points
      // (callers guard), not an opaque execution error; equal to plain
      // division whenever the class is present
      .withColumn("tpr", try_divide(col("cumTp").cast("double"),
        sum("np").over(Window.partitionBy()).cast("double")))
      .withColumn("fpr", try_divide(col("cumFp").cast("double"),
        sum("nn").over(Window.partitionBy()).cast("double")))
      .select("threshold", "fpr", "tpr")
  }

  /** PR curve points (recall, precision) at every distinct score threshold. */
  def prPoints(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val byScore = scored
      .groupBy(col(scoreCol).as("threshold"))
      .agg(
        sum(when(col(labelCol) === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol) =!= 1.0, 1L).otherwise(0L)).as("nn"))
    val w = Window.orderBy(desc("threshold"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cumTp", sum("np").over(w))
      .withColumn("cumFp", sum("nn").over(w))
      // try_divide: zero positives must yield NULL recalls (both of
      // aucPrReordered's branch comparisons then drop the points and it
      // returns NaN), not an ANSI DIVIDE_BY_ZERO execution error — Spark
      // ANSI raises even for double 0/0. precision_'s divisor is the
      // per-threshold row count — never zero
      .withColumn("recall", try_divide(col("cumTp").cast("double"),
        sum("np").over(Window.partitionBy()).cast("double")))
      .withColumn("precision_", col("cumTp").cast("double") / (col("cumTp") + col("cumFp")))
      .select("threshold", "recall", "precision_")
  }

  /** The reference's ROC-AUC quirk (Hap880_Final_Project.py:846-852,
    * cell 66): `roc_curve(y, clf.predict(X))` — the curve is computed on
    * BINARY 0/1 predictions, not scores, so its AUC collapses to
    * (recall + specificity) / 2 at the 0.5 threshold. This is the metric
    * behind every published LR `auc_roc` row (base 0.501 / RUS 0.640):
    * an all-negative predictor reads ≈ 0.5 even when its probability
    * ranking is informative. One aggregation over the scored frame.
    */
  def aucRocFromPredictions(scored: DataFrame, scoreCol: String, labelCol: String,
      threshold: Double = 0.5): Double =
    predictionAuc(thresholdMetrics(scored, scoreCol, labelCol, threshold).collect()(0))

  /** [[aucRocFromPredictions]] read off a [[thresholdMetrics]] row. */
  private[graft] def predictionAuc(m: org.apache.spark.sql.Row): Double =
    (m.getAs[Double]("recall") + m.getAs[Double]("specificity")) / 2.0

  /** The reference's PR-curve AUC quirk (Hap880_Final_Project.py:846-858,
    * cell 68): `auc(x=p, y=r, reorder=True)` where `p, r` come from
    * `precision_recall_curve` — the axes are SWAPPED vs conventional
    * PR-AUC, so the integral runs over PRECISION ascending. Reproduced as
    * a trapezoid over the distinct-margin PR points ordered by
    * (precision, recall) — deterministic where numpy's `reorder` leaves
    * tie order to an unstable argsort. One ordered pass over |distinct
    * scores| points (already collapsed by [[prPoints]]'s groupBy, bounded
    * by the test set — the metrics-tier cardinality contract of
    * [[aucRocDf]]).
    */
  def aucPrReordered(scored: DataFrame, scoreCol: String, labelCol: String): Double = {
    // two sklearn `precision_recall_curve` boundary behaviors the raw
    // threshold sweep doesn't have: (1) it appends a terminal
    // (precision=1, recall=0) point — unioned in below; (2) it TRUNCATES
    // the curve at the first threshold reaching full recall
    // (_binary_clf_curve slices from tps.searchsorted(tps[-1])), so the
    // sub-minimum-positive thresholds — where recall is pinned at 1 and
    // precision decays toward prevalence — are never integrated. Keep
    // every partial-recall point plus ONLY the highest-threshold
    // full-recall point, then integrate precision-ascending.
    // zero-positive guard: with no positives every recall is NULL (ANSI
    // try_divide) — or NaN under a non-ANSI session, which Spark orders
    // ABOVE every double (NaN >= 1.0 is true), so unguarded NaN points
    // would all route into the full-recall branch and the integral would
    // silently read off a single NaN point. A PR curve over zero
    // positives is undefined — drop NaN here (NULLs fail both branch
    // comparisons below on their own) and return NaN when nothing but
    // the synthetic terminal point remains (sklearn raises likewise).
    val raw = prPoints(scored, scoreCol, labelCol).filter(!isnan(col("recall")))
    val full = raw.filter(col("recall") >= 1.0)
      .orderBy(desc("threshold")).limit(1)
    val pts = raw.filter(col("recall") < 1.0).unionByName(full)
      .select(col("recall"), col("precision_"))
      .union(scored.sparkSession.range(1)
        .select(lit(0.0).as("recall"), lit(1.0).as("precision_")))
    val w = Window.orderBy(col("precision_").asc, col("recall").asc)
    val r = pts
      .withColumn("_px", lag("precision_", 1).over(w))
      .withColumn("_py", lag("recall", 1).over(w))
      .agg(sum(
        (col("precision_") - col("_px")) * (col("recall") + col("_py")) / 2.0)
        .as("auc_pr"), count(lit(1)).as("_n"))
      .collect()(0)
    if (r.getLong(1) <= 1L) Double.NaN // only the terminal point: no positives
    else if (r.isNullAt(0)) 0.0
    else r.getDouble(0)
  }

  /** Confusion matrix as a 2x2 count table (M11). */
  def confusionMatrix(scored: DataFrame, scoreCol: String, labelCol: String, threshold: Double): DataFrame =
    scored
      .groupBy(
        (col(scoreCol) > threshold).cast("int").as("prediction"),
        col(labelCol).cast("int").as("label"))
      .agg(count(lit(1)).as("cnt"))

  /** Reliability-diagram calibration bins (the companion to [[aucRocDf]]):
    * probability-like scores in [0,1] are rounded to 6 decimals, cut into
    * `bins` equal-width buckets, and each bucket reports its size, exact
    * mean score, and empirical positive rate — the (predicted, observed)
    * pairs a calibration plot draws. The reference reads calibration off
    * its threshold tables (Hap880_Final_Project.py:471-534); this is the
    * binned form at any scale: ONE hash aggregation, with the mean riding
    * DECIMAL(28,6) accumulation of the rounded score so the answer is
    * partition-order- and engine-independent. Scores outside [0,1] clamp
    * into the edge buckets.
    */
  def calibrationBins(scored: DataFrame, scoreCol: String, labelCol: String, bins: Int): DataFrame = {
    require(bins > 0, "calibrationBins needs bins > 0")
    val sr = round(col(scoreCol), 6)
    val bin = least(greatest(floor(sr * bins), lit(0.0)), lit((bins - 1).toDouble)).cast("int")
    scored
      .select(sr.as("_sr"), col(labelCol).cast("long").as("_y"), bin.as("bin"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("_sr").cast("decimal(28,6)")).cast("double") / count(lit(1)), 6).as("mean_score"),
        round(sum(col("_y")).cast("double") / count(lit(1)), 6).as("frac_pos"))
  }

  /** Expected calibration error over the same equal-width bins as
    * [[calibrationBins]]: `ECE = Σ_b (n_b/N)·|acc_b − conf_b|`. The per-bin
    * means cancel against the weights, so the whole statistic reduces to
    * `Σ_b |Σy_b − Σscore_b| / N` — every term an EXACT decimal until the
    * single final division, hence bit-identical across engines and
    * partitionings (a naive weighted-mean form would drift in the per-bin
    * double divisions).
    */
  def ece(scored: DataFrame, scoreCol: String, labelCol: String, bins: Int): DataFrame = {
    require(bins > 0, "ece needs bins > 0")
    val sr = round(col(scoreCol), 6)
    val bin = least(greatest(floor(sr * bins), lit(0.0)), lit((bins - 1).toDouble)).cast("int")
    scored
      .select(sr.as("_sr"), col(labelCol).cast("long").as("_y"), bin.as("bin"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("_n"),
        sum(col("_y")).cast("decimal(28,6)").as("_sy"),
        sum(col("_sr").cast("decimal(28,6)")).as("_ss"))
      .agg(
        sum("_n").as("n"), count(lit(1)).as("n_bins"),
        round(sum(abs(col("_sy") - col("_ss"))).cast("double") /
          sum("_n").cast("double"), 6).as("ece"))
  }

  /** Murphy (1973) decomposition of the binned Brier score into
    * reliability − resolution + uncertainty — the standard forecast-
    * verification readout behind every calibration dashboard:
    *
    *   REL = Σ_b n_b·(p̄_b − ō_b)² / N   (calibration error, lower better)
    *   RES = Σ_b n_b·(ō_b − ō)² / N     (discrimination, higher better)
    *   UNC = ō·(1 − ō)                   (irreducible base-rate entropy)
    *
    * Determinism: the caller supplies the score PRE-QUANTIZED as integer
    * micros (`microsCol`), so binning and the per-bin score mass are pure
    * integer arithmetic — no per-row `round(double)` whose half-way ties
    * Spark resolves against the double's SHORTEST DECIMAL STRING while
    * DuckDB rounds the binary value (measured: 4/15000 rows flip), and no
    * DECIMAL→DOUBLE cast that DuckDB performs in two roundings. Every
    * per-bin mean is then ONE correctly-rounded division of exact longs,
    * and the Σ over bins is a bin-ordered left fold of a pinned expression
    * shape, so all four outputs are bit-identical across engines.
    *
    * Scale shape: the corpus-sized work is the one binning hash-agg with
    * map-side combine; the decomposition folds over the ≤`bins`-row
    * readout inside a single-row aggregate. No second pass, no driver math.
    */
  def brierDecomp(scored: DataFrame, microsCol: String, labelCol: String,
                  bins: Int): DataFrame = {
    require(bins > 0, "brierDecomp needs bins > 0")
    val sm = col(microsCol).cast("long")
    // (sm·bins)/1e6 is ≥ 1e-6 away from any integer while ulp(q) « 1e-6,
    // so the correctly-rounded double divide can never cross the floor
    val bin = least(greatest(floor((sm * bins) / lit(1000000.0)), lit(0L)),
      lit((bins - 1).toLong)).cast("int")
    val binned = scored
      .select(sm.as("_sm"), col(labelCol).cast("long").as("_y"), bin.as("bin"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(col("_y")).as("pos"),
        sum(col("_sm")).as("ssm"))
    val g = binned.agg(
      array_sort(collect_list(struct(
        col("bin"),
        col("n").cast("double").as("n"),
        col("pos").cast("double").as("pos"),
        col("ssm").cast("double").as("ssm")))).as("arr"),
      sum("n").as("n"), sum("pos").as("np"), count(lit(1)).as("n_bins"))
    val obar = col("np").cast("double") / col("n").cast("double")
    def pbar(e: Column): Column =
      e.getField("ssm") / (e.getField("n") * lit(1000000.0))
    def obb(e: Column): Column = e.getField("pos") / e.getField("n")
    val relSum = aggregate(col("arr"), lit(0.0),
      (acc, e) => acc + ((pbar(e) - obb(e)) * (pbar(e) - obb(e))) * e.getField("n"))
    val resSum = aggregate(col("arr"), lit(0.0),
      (acc, e) => acc + ((obb(e) - obar) * (obb(e) - obar)) * e.getField("n"))
    g.select(
      col("n"), col("n_bins"), obar.as("base_rate"),
      (relSum / col("n").cast("double")).as("reliability"),
      (resSum / col("n").cast("double")).as("resolution"),
      (obar * (lit(1.0) - obar)).as("uncertainty"),
      (relSum / col("n").cast("double") - resSum / col("n").cast("double") +
        obar * (lit(1.0) - obar)).as("brier_binned"))
  }

  /** DuckDB mirror of [[brierDecomp]]: same binning, same exact per-bin
    * accumulators, same bin-ordered `list_reduce` folds (seeded with a
    * prepended 0.0 so the 2-arg form reproduces Spark's seeded fold),
    * same expression shapes per term.
    */
  def brierDecompOracleSql(scoredSql: String, bins: Int): String = {
    val top = bins - 1
    s"""WITH s AS ($scoredSql),
       |b AS (
       |  SELECT CAST(LEAST(GREATEST(FLOOR((sm * $bins) / 1000000.0), 0), $top) AS INTEGER) AS bin,
       |         count(*) AS n, SUM(y) AS pos, SUM(sm) AS ssm
       |  FROM s GROUP BY 1
       |), g AS (
       |  SELECT list({'n': CAST(n AS DOUBLE), 'pos': CAST(pos AS DOUBLE),
       |               'ssm': CAST(ssm AS DOUBLE)} ORDER BY bin) AS arr,
       |         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS np,
       |         CAST(count(*) AS BIGINT) AS n_bins
       |  FROM b
       |)
       |SELECT n, n_bins,
       |  CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS base_rate,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(arr, e ->
       |    ((e.ssm / (e.n * 1000000.0) - e.pos / e.n) * (e.ssm / (e.n * 1000000.0) - e.pos / e.n)) * e.n)),
       |    (a, v) -> a + v) / CAST(n AS DOUBLE) AS reliability,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(arr, e ->
       |    ((e.pos / e.n - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) *
       |     (e.pos / e.n - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))) * e.n)),
       |    (a, v) -> a + v) / CAST(n AS DOUBLE) AS resolution,
       |  (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) *
       |    (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) AS uncertainty,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(arr, e ->
       |    ((e.ssm / (e.n * 1000000.0) - e.pos / e.n) * (e.ssm / (e.n * 1000000.0) - e.pos / e.n)) * e.n)),
       |    (a, v) -> a + v) / CAST(n AS DOUBLE)
       |  - list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(arr, e ->
       |    ((e.pos / e.n - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) *
       |     (e.pos / e.n - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))) * e.n)),
       |    (a, v) -> a + v) / CAST(n AS DOUBLE)
       |  + (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) *
       |    (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) AS brier_binned
       |FROM g""".stripMargin
  }

  /** EXACT isotonic calibration over the [[calibrationBins]] bin table,
    * via the minimax closed form of pool-adjacent-violators:
    * `fitted_i = max_{j ≤ i} min_{k ≥ i} (Σ_{j..k} pos) / (Σ_{j..k} n)`
    * — the classical identity (Barlow et al. 1972) that turns PAVA's
    * data-dependent merge loop into order statistics over O(B²) range
    * averages, each a single correctly-rounded division of exact longs,
    * so the whole fit is bit-identical across engines (min/max are
    * order-free; no iteration to mirror).
    *
    * Scale shape: the corpus-sized work is the ONE binning hash-agg; the
    * fit itself runs on the ≤`bins`-row readout — the calibration map is
    * a bounded model artifact (the BpeTrain/Lloyd broadcast contract),
    * and collecting B rows to close the minimax beats re-executing the
    * corpus agg once per self-join arm of a B³-triple DataFrame plan.
    * Output: (bin, n, pos, raw_rate, fitted), fitted non-decreasing.
    */
  def isotonicBins(scored: DataFrame, scoreCol: String, labelCol: String,
                   bins: Int): DataFrame = {
    require(bins > 0, "isotonicBins needs bins > 0")
    val spark = scored.sparkSession
    import spark.implicits._
    val sr = round(col(scoreCol), 6)
    val bin = least(greatest(floor(sr * bins), lit(0.0)), lit((bins - 1).toDouble)).cast("int")
    val b: Array[(Int, Long, Long)] = scored
      .select(col(labelCol).cast("long").as("_y"), bin.as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("pos"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    val m = b.length
    val cn = b.scanLeft(0L)(_ + _._2).tail
    val cp = b.scanLeft(0L)(_ + _._3).tail
    def avg(j: Int, k: Int): Double = // inclusive 0-based range
      (cp(k) - (if (j == 0) 0L else cp(j - 1))).toDouble /
        (cn(k) - (if (j == 0) 0L else cn(j - 1))).toDouble
    val rows = (0 until m).map { i =>
      val fitted = (0 to i).map { j =>
        (i until m).map(k => avg(j, k)).min
      }.max
      (b(i)._1, b(i)._2, b(i)._3, b(i)._3.toDouble / b(i)._2.toDouble, fitted)
    }
    spark.createDataset(rows)
      .toDF("bin", "n", "pos", "raw_rate", "fitted")
  }

  /** DuckDB mirror of [[isotonicBins]]: the same binning CTE, prefix
    * sums over the B-row bin table, all (j ≤ i ≤ k) triples, and the
    * minimax as GROUP BY aggregates.
    */
  def isotonicBinsOracleSql(table: String, scoreSql: String, labelSql: String,
                            bins: Int): String =
    s"""WITH s AS (
       |  SELECT round($scoreSql, 6) AS sr, $labelSql AS y FROM $table
       |), b AS (
       |  SELECT CAST(LEAST(GREATEST(FLOOR(sr * $bins), 0), ${bins - 1}) AS INTEGER) AS bin,
       |         CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
       |  FROM s GROUP BY 1
       |), p AS (
       |  SELECT bin, n, pos,
       |         SUM(n) OVER (ORDER BY bin) AS cn,
       |         SUM(pos) OVER (ORDER BY bin) AS cp
       |  FROM b
       |), rng AS (
       |  SELECT j.bin AS jb, k.bin AS kb,
       |         CAST(k.cp - j.cp + j.pos AS DOUBLE) /
       |         CAST(k.cn - j.cn + j.n AS DOUBLE) AS a
       |  FROM p j JOIN p k ON j.bin <= k.bin
       |), mins AS (
       |  SELECT i.bin AS bin, r.jb, MIN(r.a) AS mn
       |  FROM b i JOIN rng r ON r.jb <= i.bin AND i.bin <= r.kb
       |  GROUP BY 1, 2
       |)
       |SELECT m.bin, b.n, b.pos,
       |       CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_rate,
       |       MAX(m.mn) AS fitted
       |FROM mins m JOIN b USING (bin)
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** Split-conformal prediction interval (Vovk et al.; Lei et al. 2018)
    * around the trivial mean predictor: the calibration split's exact-
    * decimal mean `μ` is the point prediction, nonconformity is
    * `|y − μ|`, and the interval half-width is the
    * `⌈(1−α)(n+1)⌉`-th smallest calibration nonconformity — the EXACT
    * order statistic (no interpolation), which carries the
    * finite-sample ≥ 1−α coverage guarantee. The readout reports the
    * empirical coverage on the disjoint test split.
    *
    * Engine-exactness: μ is one double division of an exact decimal
    * sum; every |y − μ| is two correctly-rounded ops on identical
    * inputs; the rank index ⌈(1−α)(n+1)⌉ is the same IEEE multiply +
    * ceil on both engines; the order statistic is a VALUE, so rank
    * tiebreaks among equal scores cannot change it.
    *
    * Scale shape: the order statistic rides [[graft.ops.GlobalRowNumber]]
    * (range partition + per-partition offsets — no single-task sort, no
    * data-sized driver pull; the k-th row is a 1-row filter on the
    * distributed rank). μ, n, and q̂ are 1-row readouts; coverage is one
    * test-split aggregate.
    */
  def conformalSplit(df: DataFrame, valueCol: String, isCal: Column,
                     alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "conformalSplit needs 0 < alpha < 1")
    val spark = df.sparkSession
    import spark.implicits._
    val cal = df.filter(isCal).select(col(valueCol).cast("double").as("y"))
    // the mean decodes as Option: an empty split SUMs to NULL, and the
    // contract check below must fire instead of a decode crash
    val (muOpt, nCal) = cal
      .agg((sum(col("y").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("mu"),
        count(lit(1)).as("n"))
      .as[(Option[Double], Long)].collect().head
    // contract errors, not opaque NPE/NoSuchElement crashes: an empty
    // calibration split has no order statistic at all, and the standard
    // split-conformal rank ⌈(1−α)(n+1)⌉ exceeding n means the requested
    // coverage is unattainable at this n (the k>n convention is an
    // infinite half-width — surfaced as an explicit error here, since a
    // +∞ q_hat row would silently satisfy every coverage readout)
    require(nCal > 0, "conformalSplit: calibration split is empty")
    val k = math.ceil((1.0 - alpha) * (nCal + 1)).toLong
    require(k <= nCal,
      s"conformalSplit: rank ceil((1-alpha)*(n+1)) = $k exceeds n_cal = $nCal — " +
        s"coverage 1-alpha = ${1.0 - alpha} is unattainable with $nCal calibration rows " +
        "(the k > n convention is an infinite interval); lower alpha's precision or add rows")
    val mu = muOpt.get
    val scores = cal.select(abs(col("y") - lit(mu)).as("s"), col("y"))
    val qhat = graft.Materialize.scoped() {
      graft.ops.GlobalRowNumber.withRowNumber(scores, "_rn", col("s").asc, col("y").asc)
        .filter(col("_rn") === k).select("s").as[Double].collect().head
    }
    df.filter(!isCal).select(col(valueCol).cast("double").as("y"))
      .agg(
        lit(nCal).as("n_cal"),
        lit(qhat).as("q_hat"),
        count(lit(1)).as("n_test"),
        sum(when(abs(col("y") - lit(mu)) <= qhat, 1L).otherwise(0L)).as("n_covered"))
      .select(col("n_cal"), col("q_hat"), col("n_test"), col("n_covered"),
        round(col("n_covered").cast("double") * 1000000.0 /
          col("n_test").cast("double"), 0).cast("long").as("coverage_micro"))
  }

  /** DuckDB mirror of [[conformalSplit]]. */
  def conformalSplitOracleSql(table: String, valueSql: String,
                              calPredSql: String, alpha: Double): String =
    s"""WITH cal AS (
       |  SELECT CAST($valueSql AS DOUBLE) AS y FROM $table WHERE $calPredSql
       |), mu AS (
       |  SELECT CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mu,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM cal
       |), ranked AS (
       |  SELECT abs(y - mu.mu) AS s,
       |         row_number() OVER (ORDER BY abs(y - mu.mu), y) AS rn
       |  FROM cal, mu
       |), qh AS (
       |  -- the rank index must be the SAME IEEE multiply+ceil as the
       |  -- Scala side: cast both factors to DOUBLE (a bare 0.9 literal
       |  -- would be DECIMAL arithmetic and can straddle exact-integer
       |  -- boundaries differently). The interpolated multiplier is
       |  -- Scala's round-trip-exact Double rendering.
       |  SELECT r.s AS qhat FROM ranked r, mu
       |  WHERE r.rn = CAST(ceil(CAST(${1.0 - alpha} AS DOUBLE) *
       |                         CAST(mu.n + 1 AS DOUBLE)) AS BIGINT)
       |), test AS (
       |  SELECT CAST($valueSql AS DOUBLE) AS y FROM $table WHERE NOT ($calPredSql)
       |)
       |SELECT mu.n AS n_cal, qh.qhat AS q_hat,
       |       CAST(count(*) AS BIGINT) AS n_test,
       |       CAST(SUM(CASE WHEN abs(t.y - mu.mu) <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |       CAST(round(CAST(SUM(CASE WHEN abs(t.y - mu.mu) <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE)
       |            * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS coverage_micro
       |FROM test t, mu, qh
       |GROUP BY mu.n, qh.qhat""".stripMargin

  /** Decile lift & cumulative-gain table: rank by score descending (ties
    * broken by `idCol`), split into `k` near-equal buckets by GLOBAL row
    * number, and report each bucket's positive rate relative to the base
    * rate plus the cumulative share of positives captured — the campaign /
    * triage view of the same scores the ROC curve sees.
    *
    * The global ranking rides [[graft.ops.GlobalRowNumber]] (range
    * partition + per-partition offsets — no single-task ROW_NUMBER window,
    * and the total count comes out of its counts pass for free). Bucket
    * assignment is pure integer arithmetic, (rn−1)·k div n, so any engine
    * splits identically; the k-row bucket frame then takes two windows
    * that are k-row-sized, never data-sized. The internal range-partition
    * pin follows [[graft.Materialize.pin]]: for the session when no scope
    * is open (same as the w6 numbering query).
    */
  def liftTable(scored: DataFrame, scoreCol: String, idCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "liftTable needs k > 0")
    val slim = scored.select(
      col(scoreCol).as("_s"), col(idCol).as("_id"), col(labelCol).cast("long").as("_y"))
    val (numbered, total) = graft.ops.GlobalRowNumber.withRowNumberAndCount(
      slim, "_rn", col("_s").desc, col("_id"))
    if (total == 0) {
      // degenerate input: an empty bucket table, not a divide-by-zero plan
      return numbered.select(
        lit(0).as("bucket"), lit(0L).as("n_rows"), lit(0L).as("n_pos"),
        lit(0.0).as("lift"), lit(0.0).as("cum_gain")).limit(0)
    }
    val g = numbered
      .select(expr(s"CAST(((_rn - 1) * $k) DIV ${total}L AS INT) + 1").as("bucket"), col("_y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("_y")).as("n_pos"))
    val wCum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val out = g.select(
      col("bucket"), col("n_rows"), col("n_pos"),
      round((col("n_pos").cast("double") / col("n_rows")) /
        (sum("n_pos").over(wAll).cast("double") / sum("n_rows").over(wAll)), 6).as("lift"),
      round(sum("n_pos").over(wCum).cast("double") / sum("n_pos").over(wAll), 6).as("cum_gain"))
    // the internal range-partition pin stays for the session: it dedups
    // across invocations by canonical plan (one pin per query, measured
    // in PinHygieneSpec), where a per-invocation result cache does NOT
    // dedup for this plan shape and leaks one entry per bench rep.
    out
  }

  /** Qini/uplift table: rows ranked by uplift score (descending, id
    * tiebreak) into k equal buckets; per bucket the treated/control
    * outcome rates, and the cumulative Qini value
    * `Q(b) = cum_pos_t − cum_pos_c · cum_t/cum_c` — the incremental
    * responders attributable to treatment among the top buckets. A model
    * that targets persuadables shows Q rising steeply then flattening;
    * random targeting is a straight line to Q(k).
    *
    * Scale shape: global ranking rides [[graft.ops.GlobalRowNumber]] (no
    * SinglePartition sort); buckets are integer arithmetic on the rank;
    * ONE hash-agg to k rows; the cumulative windows run over those k
    * rows only. Buckets missing an arm emit 0 uplift, not a /0 abort.
    */
  def qiniTable(scored: DataFrame, scoreCol: String, idCol: String,
                treatedCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "qiniTable needs k > 0")
    val slim = scored.select(
      col(scoreCol).as("_s"), col(idCol).as("_id"),
      col(treatedCol).cast("long").as("_t"), col(labelCol).cast("long").as("_y"))
    val (numbered, total) = graft.ops.GlobalRowNumber.withRowNumberAndCount(
      slim, "_rn", col("_s").desc, col("_id"))
    if (total == 0) {
      return numbered.select(
        lit(0).as("bucket"), lit(0L).as("n_t"), lit(0L).as("n_c"),
        lit(0.0).as("uplift"), lit(0.0).as("qini")).limit(0)
    }
    val g = numbered
      .select(expr(s"CAST(((_rn - 1) * $k) DIV ${total}L AS INT) + 1").as("bucket"),
        col("_t"), col("_y"))
      .groupBy("bucket")
      .agg(
        sum(col("_t")).as("n_t"),
        sum(lit(1L) - col("_t")).as("n_c"),
        sum(col("_t") * col("_y")).as("pos_t"),
        sum((lit(1L) - col("_t")) * col("_y")).as("pos_c"))
    val wCum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = g.select(
        col("bucket"), col("n_t"), col("n_c"),
        when(col("n_t") > 0 && col("n_c") > 0,
          round(col("pos_t").cast("double") / col("n_t").cast("double") -
            col("pos_c").cast("double") / col("n_c").cast("double"), 6))
          .otherwise(lit(0.0)).as("uplift"),
        sum("pos_t").over(wCum).as("_cpt"), sum("pos_c").over(wCum).as("_cpc"),
        sum("n_t").over(wCum).as("_ct"), sum("n_c").over(wCum).as("_cc"))
      .select(
        col("bucket"), col("n_t"), col("n_c"), col("uplift"),
        when(col("_cc") > 0,
          round(col("_cpt").cast("double") -
            col("_cpc").cast("double") * col("_ct").cast("double") /
              col("_cc").cast("double"), 6))
          .otherwise(col("_cpt").cast("double")).as("qini"))
    // session-lifetime internal pin, deduped across invocations by
    // canonical plan (see liftTable)
    out
  }

  /** DuckDB mirror of [[qiniTable]]: `rowsCte` must yield
    * `(s, id, t, y)` with `t`/`y` 0/1 integers.
    */
  def qiniOracleSql(rowsCte: String, k: Int): String =
    s"""WITH rows_in AS (
       |$rowsCte
       |), ranked AS (
       |  SELECT t, y, ROW_NUMBER() OVER (ORDER BY s DESC NULLS LAST, id) AS rn,
       |         COUNT(*) OVER () AS total
       |  FROM rows_in
       |), g AS (
       |  SELECT CAST(((rn - 1) * $k) // total AS INTEGER) + 1 AS bucket,
       |         CAST(SUM(t) AS BIGINT) AS n_t,
       |         CAST(SUM(1 - t) AS BIGINT) AS n_c,
       |         CAST(SUM(t * y) AS BIGINT) AS pos_t,
       |         CAST(SUM((1 - t) * y) AS BIGINT) AS pos_c
       |  FROM ranked GROUP BY 1
       |), c AS (
       |  SELECT bucket, n_t, n_c, pos_t, pos_c,
       |         SUM(pos_t) OVER w AS cpt, SUM(pos_c) OVER w AS cpc,
       |         SUM(n_t) OVER w AS ct, SUM(n_c) OVER w AS cc
       |  FROM g WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT bucket, n_t, n_c,
       |       CASE WHEN n_t > 0 AND n_c > 0
       |            THEN round(CAST(pos_t AS DOUBLE) / CAST(n_t AS DOUBLE) -
       |                       CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
       |            ELSE 0.0 END AS uplift,
       |       CASE WHEN cc > 0
       |            THEN round(CAST(cpt AS DOUBLE) -
       |                       CAST(cpc AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(cc AS DOUBLE), 6)
       |            ELSE CAST(cpt AS DOUBLE) END AS qini
       |FROM c""".stripMargin
}
