package graft.pipeline

import graft.{Materialize, SparkSpecBase}
import graft.ml.{Metrics, Resamplers, TrainHarness}

/** The §3.3 training surface at the reference's own scale: the
  * 45,059 × 3,019 matrix trains, the resampling story reproduces, and
  * the AUCs land in the reference's published band (BASELINE.md "Model
  * quality": base LR 0.501, RandomUnderSampler 0.640 — imbalance kills
  * the base model, undersampling rescues the text signal).
  */
class MimicTrainSpec extends SparkSpecBase {
  import spark.implicits._

  test("MIMIC-scale matrix: 45,059 rows, 3,019-wide vectors (the reference's shape)") {
    val full = MimicPipeline.assembled(spark)
    assert(full.count() == 45059L)
    val width = full.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    assert(width == 3019, s"vector width $width != 3,019 (3,000 BoW + 17 diag + age + gender)")
  }

  test("base vs undersampled LR reproduces the reference's resampling finding") {
    val (train, test) = MimicPipeline.trainTest(spark)
    // sklearn-faithful regularization: λ = 1/(n·C) at the CV-winning
    // C = 0.01 (what cell 66's GridSearchCV lands on for both rows)
    val fits = Seq("base", "undersample").map { name =>
      name -> TrainHarness.fitStrategy(name, train, test, "id", "features", "label", 42L,
          (_, n) => TrainHarness.sklearnReg(n, 0.01)) { f =>
        (f.n, f.predAuc, f.aucRoc)
      }
    }.toMap
    // fraction-based sampling lands NEAR the reference's exact 4,720
    // balanced-train golden (the exact identity is the green
    // mimic_resample_counts row; the sampled membership is the RNG
    // surface, per SURVEY §5)
    val (n, underPred, underAuc) = fits("undersample")
    assert(math.abs(n - 4720L) < 150, s"balanced train size $n far from 4,720")
    // the PUBLISHED metric (cell 66's roc_curve on binary predictions =
    // (recall+specificity)/2): base 0.501 — the imbalanced fit predicts
    // ~all-negative at threshold 0.5 — vs undersampled 0.640, where the
    // balanced train makes the signal actionable at 0.5
    val basePred = fits("base")._2
    assert(basePred > 0.47 && basePred < 0.56,
      s"base predicted-auc $basePred outside the reference's 0.501 band")
    assert(underPred > 0.58 && underPred < 0.72,
      s"undersampled predicted-auc $underPred outside the reference's 0.640 band")
    assert(underPred > basePred, "undersampling must beat base on the published metric")
    // and the probability RANKING stays informative on both (the engine's
    // sanity check — the reference never published these)
    assert(underAuc > 0.55 && underAuc < 0.80, s"undersampled ranking AUC $underAuc")
  }

  test("RF on the undersampled MIMIC-scale train lands in the reference's AUC band") {
    val (train, test) = MimicPipeline.trainTest(spark)
    val under = Resamplers.randomUndersample(train, "label", 42L)
    val aucs = TrainHarness.rfSweep(under, test, "features", "label", Seq(300))
      .collect().map(r => r.getAs[Int]("num_trees") -> r.getAs[Double]("auc_roc")).toMap
    // reference: 0.695 at n=300 on real notes; the synthetic signal
    // supports the same qualitative story — well above chance, below
    // the LR-with-the-exact-vocabulary ceiling
    assert(aucs(300) > 0.55 && aucs(300) < 0.75, s"RF AUC ${aucs(300)} outside the band")
  }

  test("cell-66 resampler table: all FIVE rows land in per-row published bands, " +
    "interior order included") {
    // the published table's metric is roc_curve on BINARY predictions
    // ((recall+specificity)/2); each strategy fits at the CV-winning C of
    // the committed mimic_resampler_bench run (base/NearMiss/RUS 0.01,
    // SMOTE 0.1, ROS 10) at λ = 1/(n·C) — the full 5-fold × 4-value grid
    // runs in the query itself, the spec pins the table at a fraction of
    // the cost. Per-row bands bracket BOTH the published value and this
    // engine's committed measurement (published/measured: base
    // 0.501/0.502, NearMiss 0.510/0.510, SMOTE 0.581/0.572, ROS
    // 0.588/0.582, RUS 0.640/0.676), so generator drift cannot silently
    // reorder the interior slots (r9 verdict ask #5). The strategies,
    // LSH radii included, are the query's (Resamplers.resample).
    val (train, test) = MimicPipeline.trainTest(spark)
    val preds = Seq("base" -> 0.01, "smote" -> 0.1, "oversample" -> 10.0,
        "nearmiss" -> 0.01, "undersample" -> 0.01).map { case (name, c) =>
      name -> TrainHarness.fitStrategy(name, train, test, "id", "features", "label", 42L,
        (_, n) => TrainHarness.sklearnReg(n, c))(_.predAuc)
    }.toMap
    val bands = Map(
      "base" -> (0.48, 0.53), "nearmiss" -> (0.49, 0.56),
      "smote" -> (0.54, 0.61), "oversample" -> (0.55, 0.62),
      "undersample" -> (0.62, 0.71))
    bands.foreach { case (name, (lo, hi)) =>
      assert(preds(name) > lo && preds(name) < hi,
        s"$name ${preds(name)} outside its published band ($lo, $hi)")
    }
    assert(preds("base") < preds("nearmiss") && preds("nearmiss") < preds("smote") &&
      preds("smote") < preds("oversample") &&
      preds("oversample") < preds("undersample"),
      s"published 5-row ordering violated: $preds")
  }

  test("the three published RF rows: 0.623 default / 0.695 n=300 / 0.701 oversampled") {
    val (train, test) = MimicPipeline.trainTest(spark)
    val under = Resamplers.randomUndersample(train, "label", 42L)
    // cell 44: sklearn-default RF on the undersampled train → 0.623;
    // MLlib defaults (20 trees, depth 5) tell the same story
    val defScored = TrainHarness.randomForestScores(
      under, test, "features", "label", numTrees = 20)
    val (aucDefault, mUnder) = Materialize.scoped(defScored)((
      Metrics.aucRoc(defScored, "score", "label"),
      Metrics.thresholdMetrics(defScored, "score", "label", 0.5).collect()(0)))
    assert(aucDefault > 0.55 && aucDefault < 0.72,
      s"default-RF AUC $aucDefault outside the 0.623 band")
    // (the 0.695 n=300 row is pinned by the test above)
    // cell 56: RF on the RandomOverSampler train → probability AUC 0.701
    // but acc 0.934 / recall 0.003 at threshold 0.5 — the duplicated
    // minority gets memorized, the test readout collapses to the
    // majority. A histogram-binned distributed RF SMOOTHS exact-split
    // memorization, so the DIRECTION is pinned (accuracy inflates and
    // recall collapses relative to the balanced-train row on BOTH axes),
    // not sklearn's full 0.003 magnitude.
    val over = Resamplers.randomOversample(train, "label", 42L)
    val overScored = TrainHarness.randomForestScores(
      over, test, "features", "label", numTrees = 10, seed = 42L,
      maxDepth = 26, maxBins = 16, maxMemoryMB = 2048)
    val (aucOver, mOver) = Materialize.scoped(overScored)((
      Metrics.aucRoc(overScored, "score", "label"),
      Metrics.thresholdMetrics(overScored, "score", "label", 0.5).collect()(0)))
    assert(aucOver > 0.60 && aucOver < 0.75,
      s"oversampled-RF AUC $aucOver outside the 0.701 band")
    assert(mOver.getAs[Double]("accuracy") > mUnder.getAs[Double]("accuracy"),
      "pathology: oversampled accuracy must inflate past the balanced row")
    assert(mOver.getAs[Double]("recall") < mUnder.getAs[Double]("recall"),
      "pathology: oversampled recall must collapse below the balanced row")
    assert(mOver.getAs[Double]("recall") < 0.5,
      s"oversampled recall ${mOver.getAs[Double]("recall")} did not collapse")
  }

  test("the per-round RUS smoke (mimic_resampler_bench r14 shape) reproduces the " +
    "committed full-table row: best_c 0.01, auc_roc in the RUS band") {
    // r14 split the 5-strategy bench row: the per-round query runs only
    // the published winner through the FULL CV grid + final fit. This
    // guard ties the smoke to the committed table row (RUS best_c 0.01,
    // measured auc_roc 0.676 vs published 0.640) so a drifted smoke (or
    // a CV-grid regression) cannot ship as a healthy bench number.
    val (train, test_) = MimicPipeline.trainTest(spark)
    val r = TrainHarness.resamplerBenchmark(
        train, test_, "id", "features", "label", include = Seq("undersample"))
      .collect()
    assert(r.length == 1 && r(0).getString(0) == "undersample",
      s"RUS smoke returned ${r.toSeq}")
    assert(math.abs(r(0).getDouble(2) - 0.01) < 1e-9,
      s"CV-winning C ${r(0).getDouble(2)} != committed 0.01")
    val auc = r(0).getDouble(8)
    assert(auc > 0.62 && auc < 0.71,
      s"RUS smoke auc_roc $auc outside the committed band (0.62, 0.71)")
  }
}
