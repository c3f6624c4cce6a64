package graft.ml

import graft.Materialize
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's modeling stage (M5–M8, M16): RF / L1-LR training,
  * probability extraction, CV grid search, and the resampler×model
  * benchmark harness (Hap880_Final_Project.py:471-534, 796-861).
  *
  * The training set is pinned around `fit` ([[Materialize.scoped]]) —
  * RF/LR iterate over it many times; without the pin every
  * tree/iteration re-reads the scan.
  */
object TrainHarness {

  /** Score with a SUMMARY-FREE copy of a fitted model. A freshly-fit
    * model's `trainingSummary` holds the SparkSession; the scoring UDF
    * closure captures the model, so the session rides into task
    * serialization. That works only while the session's lazy
    * `observationManager` (Spark 4.1, non-serializable) is untouched —
    * the first `Dataset.observe` in the session initializes it and every
    * later summary-carrying model closure dies with Task-not-serializable.
    * `copy(ParamMap.empty)` drops the summary (it is only attached inside
    * train()), making scoring independent of session observation state.
    */
  private def slim[M <: org.apache.spark.ml.Model[M]](m: M): M = {
    val c = m.copy(org.apache.spark.ml.param.ParamMap.empty)
    // copy() propagates the summary; setSummary is private[ml] in Scala
    // but public in bytecode — clear it on the COPY (the caller's model
    // keeps its summary for anyone who wants the training curves)
    try c.getClass.getMethod("setSummary", classOf[Option[_]]).invoke(c, None)
    catch { case _: NoSuchMethodException => () }
    c
  }

  /** Estimator wrapper that strips the training summary off every model
    * it fits, for use inside MLlib's CrossValidator. CV evaluates
    * `model.transform(validation)` with the FRESHLY-FIT model — whose
    * `trainingSummary` holds the SparkSession — so the scoring UDF's
    * closure drags the session into task serialization, which fails the
    * moment anything has initialized the session's non-serializable
    * ObservationManager (any `Dataset.observe`, see ObservabilitySpec's
    * pinned interaction). Folds, fits, and metrics are bit-identical to
    * the unwrapped estimator: only the driver-side training-curve
    * summary, which CV never reads, is dropped. `Estimator.fit(ds, epm)`
    * routes through `copy(epm).fit(ds)`, and `copy` forwards the param
    * map to the inner estimator (whose params the grid was built from),
    * so grid application is unchanged.
    */
  private class SlimEstimator[M <: org.apache.spark.ml.Model[M]](
      inner: org.apache.spark.ml.Estimator[M], override val uid: String)
    extends org.apache.spark.ml.Estimator[M] {
    def this(inner: org.apache.spark.ml.Estimator[M]) =
      this(inner, org.apache.spark.ml.util.Identifiable.randomUID("slimfit"))
    override def fit(ds: org.apache.spark.sql.Dataset[_]): M = slim(inner.fit(ds))
    override def copy(extra: org.apache.spark.ml.param.ParamMap): org.apache.spark.ml.Estimator[M] =
      new SlimEstimator(inner.copy(extra), uid)
    override def transformSchema(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
      inner.transformSchema(schema)
  }

  /** Run independent fit bodies CONCURRENTLY from a bounded thread pool,
    * preserving input order in the result (guide §2.6: Spark happily runs
    * several jobs at once inside one application; sweep fits are only
    * sequential because the driver loop calls them sequentially). Each
    * fit under-fills the session late in its own stages (tree growth /
    * L-BFGS tails are few-task jobs), so overlapping lets the next fit's
    * tasks back-fill freed slots. Results are bit-identical to the serial
    * loop: every fit is its own seeded job DAG over an already-cached
    * input — scheduling order changes nothing but wall-clock.
    * Failures propagate: the first failed body rethrows at the join.
    */
  private[graft] def inParallel[A, B](items: Seq[A], maxThreads: Int = 4)(f: A => B): Seq[B] =
    if (items.size <= 1 || maxThreads <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(items.size, maxThreads))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = items.map(a => scala.concurrent.Future(f(a)))
        futs.map(fut => scala.concurrent.Await.result(
          fut, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }

  /** Size-adapted compaction before an iterated fit. A metrics-scale
    * train spread over the session's full shuffle-partition count makes
    * every L-BFGS/tree pass a swarm of sub-millisecond tasks with
    * 3,019-wide per-task gradient buffers, so the merge costs more than
    * the compute (measured 107 s → 17 s for the ROS CV grid). The target
    * is ~8k rows per task, floored at 2; `coalesce` NEVER increases a
    * frame's partition count, so a genuinely large train keeps its
    * natural parallelism with no shuffle — and no plan execution: probing
    * `df.rdd.getNumPartitions` instead would force AQE to materialize
    * every shuffle stage of an uncached input once before the caller's
    * own cache (a hidden double-execution of e.g. a SMOTE LSH join).
    *
    * CAVEAT (deliberate trade): `coalesce` is NARROW — the reduced
    * partition count propagates upstream through any shuffle-free
    * lineage, so an input whose compute is expensive but never shuffles
    * (a generated frame, a scan + heavy per-row transform) would execute
    * its ENTIRE computation at the compacted task count during the
    * caller's cache materialization, not just its post-shuffle tail.
    * Callers with expensive narrow lineage should cache (and materialize)
    * BEFORE compacting. Every in-repo call site feeds a post-shuffle
    * frame (resampled/assembled trains), where the narrow coalesce only
    * re-groups the final stage — the measured 107 s → 17 s win.
    */
  def compactForFit(df: DataFrame, n: Long): DataFrame =
    df.coalesce(math.min(Int.MaxValue.toLong, math.max(2L, n / 8192L)).toInt)

  /** RF fit + P(class=1) scores on the test set (reference M5).
    * `maxDepth` defaults to MLlib's 5; the oversampled-train pathology
    * row (reference cell 56) needs deeper trees — sklearn's fully-grown
    * default is what lets the duplicated minority be memorized, which is
    * the mechanism behind its published acc 0.934 / recall 0.003.
    */
  def randomForestScores(
      train: DataFrame, test: DataFrame,
      featuresCol: String, labelCol: String,
      numTrees: Int = 300, seed: Long = 42L,
      maxDepth: Int = 5, maxBins: Int = 32, maxMemoryMB: Int = 256
  ): DataFrame = {
    val rf = new RandomForestClassifier()
      .setFeaturesCol(featuresCol).setLabelCol(labelCol)
      .setNumTrees(numTrees).setSeed(seed).setMaxDepth(maxDepth)
      // maxMemoryMB bounds how many tree nodes split per data pass —
      // deep trees at the default 256 MB degrade to one pass per few
      // levels (measured 190 s → 42 s at 2 GB on the 67k × 3,019 matrix)
      .setMaxBins(maxBins).setMaxMemoryInMB(maxMemoryMB)
    val model = Materialize.scoped(train)(rf.fit(train))
    slim(model).transform(test)
      .withColumn("score", vector_to_array(col("probability"))(1))
  }

  /** L1 logistic regression scores (reference M7: penalty='l1').
    * One model, one config — the margins variant below owns the fit.
    */
  def logisticL1Scores(
      train: DataFrame, test: DataFrame,
      featuresCol: String, labelCol: String,
      regParam: Double = 0.01, maxIter: Int = 50
  ): DataFrame =
    logisticL1Margins(train, test, featuresCol, labelCol, regParam, maxIter)
      .drop("margin")

  /** L1-LR decision scores (reference M15: `lr.decision_function(X)`,
    * Hap880_Final_Project.py:844): the raw log-odds margin alongside the
    * probability. `margin > 0 ⇔ probability > 0.5` (sigmoid is monotone) —
    * the spec-pinned invariant.
    */
  def logisticL1Margins(
      train: DataFrame, test: DataFrame,
      featuresCol: String, labelCol: String,
      regParam: Double = 0.01, maxIter: Int = 50
  ): DataFrame = {
    val lr = new LogisticRegression()
      .setFeaturesCol(featuresCol).setLabelCol(labelCol)
      .setElasticNetParam(1.0).setRegParam(regParam).setMaxIter(maxIter)
    val model = Materialize.scoped(train)(lr.fit(train))
    slim(model).transform(test)
      .withColumn("margin", vector_to_array(col("rawPrediction"))(1))
      .withColumn("score", vector_to_array(col("probability"))(1))
  }

  /** 5-fold CV over LR regularization strengths (reference M8's
    * GridSearchCV over C∈{.01,.1,1,10}, scoring=accuracy).
    */
  def gridSearchLr(
      train: DataFrame, featuresCol: String, labelCol: String,
      regParams: Seq[Double] = Seq(0.1, 0.01, 0.001, 0.0001),
      numFolds: Int = 5, seed: Long = 42L, maxIter: Int = 50,
      parallelism: Int = 4
  ): (Double, Double) = {
    val lr = new LogisticRegression()
      .setFeaturesCol(featuresCol).setLabelCol(labelCol)
      .setElasticNetParam(1.0).setMaxIter(maxIter)
    val grid = new ParamGridBuilder().addGrid(lr.regParam, regParams).build()
    val cv = new CrossValidator()
      .setEstimator(new SlimEstimator(lr))
      .setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol(labelCol).setMetricName("accuracy"))
      .setEstimatorParamMaps(grid).setNumFolds(numFolds).setSeed(seed)
      // fold×param fits are independent and individually UNDER-parallel
      // (a metrics-scale train splits into far fewer row groups than the
      // cluster has slots; each L-BFGS iteration is 2 tiny jobs) — run
      // several fits concurrently so the session's slots stay busy.
      // Results are bit-identical to the serial order; only wall-clock
      // changes.
      .setParallelism(parallelism)
    val model = Materialize.scoped(train)(cv.fit(train))
    val bestIdx = model.avgMetrics.zipWithIndex.maxBy(_._1)._2
    val bestReg = model.getEstimatorParamMaps(bestIdx).get(lr.regParam).get
    (bestReg, model.avgMetrics(bestIdx))
  }

  /** RF hyperparameter sweep (reference M6: n_estimators ∈ 100..900,
    * py:580-618): driver loop over tree counts, one (numTrees, auc) row
    * each. The train/test sets are pinned once across the whole sweep
    * (a caller's own cache is kept).
    */
  def rfSweep(
      train: DataFrame, test: DataFrame,
      featuresCol: String, labelCol: String,
      treeCounts: Seq[Int] = Seq(50, 100, 200), seed: Long = 42L
  ): DataFrame = {
    val s = org.apache.spark.sql.SparkSession.active
    import s.implicits._
    // r14: the per-count fits are independent seeded jobs over the same
    // pinned frames — overlap them (inParallel) so one fit's few-task
    // tail stages back-fill the slots the others free. Same models, same
    // AUCs, ~sweep-wall ≈ the largest fit instead of the sum.
    Materialize.scoped(train, test) {
      inParallel(treeCounts) { n =>
        val scored = randomForestScores(train, test, featuresCol, labelCol, n, seed)
        n -> Metrics.aucRoc(scored, "score", labelCol)
      }.toDF("num_trees", "auc_roc")
    }
  }

  /** Top-n feature-selection sweep (reference M14, py:645-658): rank
    * features by mutual information with the label, keep the top n via
    * VectorSlicer, retrain, record AUC — one row per n.
    */
  def featureSelectionSweep(
      train: DataFrame, test: DataFrame,
      featuresCol: String, labelCol: String,
      mi: DataFrame, // (feature_idx or feature name, mutual_info)
      ns: Seq[Int], seed: Long = 42L
  ): DataFrame = {
    val s = org.apache.spark.sql.SparkSession.active
    import s.implicits._
    val ranked = mi.orderBy(col("mutual_info").desc, col("feature")).collect()
      .map(_.getString(0))
    // r14: independent per-n fits over the same pinned frames — overlapped
    // like rfSweep (results identical, wall ≈ the widest fit)
    Materialize.scoped(train, test)(inParallel(ns) { n =>
      val keep = ranked.take(n)
      val slicer = new org.apache.spark.ml.feature.VectorSlicer()
        .setInputCol(featuresCol).setOutputCol("_sliced")
        .setIndices(keep.map(f => Features.featureCols.indexOf(f)).filter(_ >= 0).sorted.toArray)
      val trainS = slicer.transform(train).drop(featuresCol).withColumnRenamed("_sliced", featuresCol)
      val testS  = slicer.transform(test).drop(featuresCol).withColumnRenamed("_sliced", featuresCol)
      val scored = logisticL1Scores(trainS, testS, featuresCol, labelCol)
      (n, Metrics.aucRoc(scored, "score", labelCol))
    }.toDF("n_features", "auc_roc"))
  }

  /** The reference's CULMINATING benchmark (cells 64-69,
    * Hap880_Final_Project.py:796-861) at full fidelity: for each
    * resampler — base / SMOTE / RandomOverSampler / NearMiss /
    * RandomUnderSampler — tune the L1-LR regularization by `numFolds`-fold
    * CV (scoring = accuracy, the reference's GridSearchCV config), retrain
    * at the tuned value on the full resampled train, and read out the
    * published metric row on the fixed test set:
    * f1 / precision / recall / accuracy at threshold 0.5, the reference's
    * `auc_roc` — which it computes from `roc_curve(y, pred)` on BINARY
    * predictions, so it equals (recall + specificity) / 2; that quirk is
    * why its base row lands at 0.501 under 6.5% prevalence — the
    * swapped-axis `auc_pr` over decision margins ([[Metrics.aucPrReordered]]),
    * and the confusion-matrix cells.
    *
    * Scale shape: each resampled train is pinned once around the CV grid
    * + final fit (every fit iterates the frame), released before the next
    * strategy; metrics are two aggregations over one pinned scored frame.
    * The result is |strategies| driver-side scalar rows.
    */
  def resamplerBenchmark(
      train: DataFrame, test: DataFrame,
      idCol: String, featuresCol: String, labelCol: String,
      // the reference's GridSearchCV C grid (sklearn C is INVERSE
      // regularization normalized by n: λ ≈ 1/(n·C), so the faithful
      // MLlib grid is per-strategy — computed from each resampled n)
      cGrid: Seq[Double] = Seq(0.01, 0.1, 1.0, 10.0),
      numFolds: Int = 5,
      smoteRadius: Double = 3.0, smoteBucketLength: Double = 2.0,
      nearMissRadius: Double = 3.0, nearMissSampleTarget: Long = 2000L,
      seed: Long = 42L,
      // the CV grid only RANKS the four λ values — half the iteration
      // budget of the final fit is enough for a stable ranking and halves
      // the dominant cost (20 fits × 5 strategies)
      cvMaxIter: Int = 25,
      // r14 (verdict #6): restrict the table to named strategies. The
      // per-round bench runs only the published winner ("undersample");
      // the full 5x(CV+final) table moved to the one-off
      // graft.tools.ResamplerTable, re-run when TrainHarness /
      // MimicPipeline / Resamplers change (MimicTrainSpec's cell-66 test
      // still fits all five strategies at the committed C values every
      // suite run, so the published-table claim keeps per-round coverage)
      include: Seq[String] = Seq("base", "smote", "oversample", "nearmiss", "undersample")
  ): DataFrame = {
    // the reference's cell-65 dataset order: base, SMOTE, ROS, NearMiss, RUS
    val allStrategies: Seq[(String, () => DataFrame)] = Seq(
      "base" -> (() => train),
      "smote" -> (() => Resamplers.smote(train, idCol, labelCol, featuresCol,
        seed, smoteBucketLength, 5, smoteRadius)),
      "oversample" -> (() => Resamplers.randomOversample(train, labelCol, seed)),
      "nearmiss" -> (() => Resamplers.nearMiss(train, idCol, labelCol, featuresCol,
        seed, smoteBucketLength, nearMissRadius, nearMissSampleTarget)),
      "undersample" -> (() => Resamplers.randomUndersample(train, labelCol, seed)))
    val unknown = include.filterNot(allStrategies.map(_._1).toSet)
    require(unknown.isEmpty, s"unknown resampler strategies: $unknown")
    val strategies = allStrategies.filter(p => include.contains(p._1))
    val s = org.apache.spark.sql.SparkSession.active
    import s.implicits._
    strategies.map { case (name, mk) =>
      // one materialized copy per strategy: the CV grid re-reads it
      // numFolds × |regParams| times and the final fit maxIter more.
      // Compacted to a few SIZE-ADAPTED partitions first: a metrics-scale
      // train spread over the session's full partition count makes every
      // L-BFGS iteration a swarm of sub-millisecond tasks (measured
      // 107 s → 17 s for the ROS grid at 8 partitions + concurrent fits;
      // the 4,720-row NearMiss/RUS trains go to 2 partitions — per-task
      // gradient buffers are 3,019-wide, so 8 near-empty tasks cost more
      // merge than compute). The target is capped at the input's own
      // partition count so a genuinely large train keeps its natural
      // parallelism, and the shrink is a shuffle-free coalesce.
      // The compacted copy reads the pinned raw one, which stays pinned
      // until the strategy ends.
      val raw = mk().select(col(featuresCol), col(labelCol))
      Materialize.scoped(raw) {
        val nTrain = raw.count()
        val resampled = compactForFit(raw, nTrain)
        Materialize.scoped(resampled) {
          resampled.count()
          // sklearn-equivalent λ per C at THIS strategy's n (liblinear
          // minimizes ||w||₁ + C·Σloss ⇒ λ = 1/(n·C) in MLlib's mean-loss
          // parameterization)
          val regParams = cGrid.map(c => 1.0 / (nTrain * c))
          val (bestReg, cvAcc) =
            gridSearchLr(resampled, featuresCol, labelCol, regParams, numFolds,
              seed, cvMaxIter, parallelism = 8)
          val bestC = 1.0 / (nTrain * bestReg)
          val scored = logisticL1Margins(resampled, test, featuresCol, labelCol,
            regParam = bestReg)
          Materialize.scoped(scored) {
            val m = Metrics.thresholdMetrics(scored, "score", labelCol, 0.5).collect()(0)
            val recall = m.getAs[Double]("recall")
            val spec = m.getAs[Double]("specificity")
            val aucPr = Metrics.aucPrReordered(scored, "margin", labelCol)
            val prec = m.getAs[Double]("precision_")
            val f1 = if (prec + recall == 0.0) 0.0 else 2 * prec * recall / (prec + recall)
            (name, nTrain, bestC, cvAcc, f1, prec, recall,
              m.getAs[Double]("accuracy"), (recall + spec) / 2.0, aucPr,
              m.getAs[Long]("tn"), m.getAs[Long]("fp"),
              m.getAs[Long]("fn"), m.getAs[Long]("tp"))
          }
        }
      }
    }.toDF("strategy", "n_train", "best_c", "cv_accuracy", "f1",
      "precision_", "recall", "accuracy", "auc_roc", "auc_pr",
      "tn", "fp", "fn", "tp")
  }

  /** The M16 benchmark: resampling strategy × metrics table. Returns one
    * row per strategy with AUC-ROC and threshold metrics — the engine's
    * top-level "query" (reference py:796-861 builds the same table).
    */
  def benchmark(
      train: DataFrame, test: DataFrame,
      idCol: String, featuresCol: String, labelCol: String,
      seed: Long = 42L
  ): DataFrame = {
    val strategies: Seq[(String, DataFrame)] = Seq(
      "base"       -> train,
      "undersample" -> Resamplers.randomUndersample(train, labelCol, seed),
      "oversample"  -> Resamplers.randomOversample(train, labelCol, seed),
      "smote"       -> Resamplers.smote(train, idCol, labelCol, featuresCol, seed),
      "nearmiss"    -> Resamplers.nearMiss(train, idCol, labelCol, featuresCol, seed)
    )
    val s = org.apache.spark.sql.SparkSession.active
    import s.implicits._
    strategies.map { case (name, resampled) =>
      // AUC and threshold metrics are two actions over the same scored
      // frame — pin it so the model transform (and everything above the
      // cached feature table) runs once per strategy, not per metric
      val scored = logisticL1Scores(resampled, test, featuresCol, labelCol)
      Materialize.scoped(scored) {
        val auc = Metrics.aucRoc(scored, "score", labelCol)
        val m = Metrics.thresholdMetrics(scored, "score", labelCol, 0.5).collect()(0)
        (name, auc, m.getAs[Double]("accuracy"), m.getAs[Double]("recall"),
          m.getAs[Double]("precision_"), m.getAs[Double]("specificity"))
      }
    }.toDF("strategy", "auc_roc", "accuracy", "recall", "precision_", "specificity")
  }
}
