package graft.ml

import graft.SparkSpecBase
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class TrainHarnessSpec extends SparkSpecBase {
  import spark.implicits._

  // linearly separable-ish: label follows x0 with some noise-free margin
  private lazy val df = (
    (1 to 30).map(i => (i.toLong, Vectors.dense(i * 0.1, (i % 3) * 0.2), 0.0)) ++
      (31 to 60).map(i => (i.toLong, Vectors.dense(3.0 + i * 0.1, (i % 5) * 0.1), 1.0))
  ).toDF("id", "features", "label")

  test("featureSelectionSweep: one AUC row per sweep point, AUC in [0,1] (M14 retrain half)") {
    // the selection half (top-n MI ranking) is exactly DuckDB-oracled by
    // the ml_feature_select query; this pins the retrain: slice the
    // feature vector to the chosen columns, refit L1 LR, report AUC
    val mi = Seq(("o_totalprice", 0.9), ("n_lines", 0.5)).toDF("feature", "mutual_info")
    val out = TrainHarness.featureSelectionSweep(
      df, df, "features", "label", mi, Seq(1, 2))
      .collect().map(r => r.getAs[Int]("n_features") -> r.getAs[Double]("auc_roc")).toMap
    assert(out.keySet == Set(1, 2))
    out.values.foreach(a => assert(a >= 0.0 && a <= 1.0))
    // the separable x0 feature alone must already rank well above chance
    assert(out(1) > 0.8, s"top-1 AUC ${out(1)} implausible for a separable feature")
  }

  test("rfSweep and featureSelectionSweep leave a caller's cache in place") {
    // the sweeps pin their inputs for the sweep only; a frame the caller
    // cached stays cached (released, every later read would recompute it)
    val cached = df.filter(col("id") >= 0L).cache()
    try {
      cached.count()
      TrainHarness.rfSweep(cached, cached, "features", "label", Seq(2)).collect()
      assert(cached.storageLevel != StorageLevel.NONE, "rfSweep released the caller's cache")
      val mi = Seq(("o_totalprice", 0.9)).toDF("feature", "mutual_info")
      TrainHarness.featureSelectionSweep(cached, cached, "features", "label", mi, Seq(1)).collect()
      assert(cached.storageLevel != StorageLevel.NONE,
        "featureSelectionSweep released the caller's cache")
    } finally cached.unpersist()
  }

  test("rfSweep: AUC is monotone-flat past ~300 trees (the reference's M6 curve)") {
    // the reference's 9-point sweep (py:600-618) shows AUC saturating by
    // ~300 trees; BENCH_NOTES argued the {100,300,500,900} bench subset
    // "pins" that flatness — this asserts it instead of prose: past the
    // saturation point, adding trees must not move AUC beyond band noise
    val (train, test) = Features.splitByHash(Features.assembled(spark, sfDir), "id")
    val aucs = TrainHarness.rfSweep(train, test, "features", "label", Seq(300, 500, 900))
      .collect().map(r => r.getAs[Int]("num_trees") -> r.getAs[Double]("auc_roc")).toMap
    val deltas = Seq(500, 900).map(n => math.abs(aucs(n) - aucs(300)))
    assert(deltas.forall(_ < 0.03),
      s"RF AUC not flat past 300 trees: 300=${aucs(300)} 500=${aucs(500)} 900=${aucs(900)}")
  }

  test("compactForFit: shrinks toward ~8k rows/task via coalesce, never " +
    "below the input's own parallelism on a large train, no plan execution") {
    val df32 = spark.range(0, 1000, 1, 32).toDF("id")
    // metrics-scale trains compact hard (the r9 win this protects):
    // 4,720 rows -> 2 tasks, 36,047 -> 4, 67,476 -> 8
    assert(TrainHarness.compactForFit(df32, 4720L).rdd.getNumPartitions == 2)
    assert(TrainHarness.compactForFit(df32, 36047L).rdd.getNumPartitions == 4)
    assert(TrainHarness.compactForFit(df32, 67476L).rdd.getNumPartitions == 8)
    // a genuinely large train KEEPS its natural partitioning — the clamp
    // must never serialize a cluster-scale fit (r9 advisory): coalesce
    // above the input's own partition count is a no-op
    assert(TrainHarness.compactForFit(df32, 10_000_000L).rdd.getNumPartitions == 32)
    val df4 = spark.range(0, 100, 1, 4).toDF("id")
    assert(TrainHarness.compactForFit(df4, 10_000_000L).rdd.getNumPartitions == 4)
    // the shrink is shuffle-free: a coalesce, not a repartition exchange
    val shrunk = TrainHarness.compactForFit(df32, 4720L)
    val planStr = shrunk.queryExecution.executedPlan.toString
    assert(!planStr.contains("Exchange"), s"compaction shuffled:\n$planStr")
    // and the helper itself must not EXECUTE the input plan (an .rdd
    // partition probe under AQE would materialize an uncached input's
    // shuffle stages once before the caller's cache — the hidden
    // double-execution this contract forbids)
    val acc = spark.sparkContext.longAccumulator("compact_probe")
    val tracked = spark.range(0, 100, 1, 4).toDF("id")
      .filter(udf((x: Long) => { acc.add(1L); true }).apply(col("id")))
      .groupBy(col("id") % 7).count()
    TrainHarness.compactForFit(tracked, 50L)
    assert(acc.value == 0L, s"compactForFit executed the input plan (${acc.value} rows read)")
  }

  private def pins: Int = spark.sparkContext.getPersistentRDDs.size

  test("fitStrategy: every named strategy fits; n is the resampled train's " +
    "count, λ is the value passed") {
    val names = Seq("undersample", "nearmiss", "base", "smote", "oversample")
    val rows = TrainHarness.inParallel(names) { name =>
      TrainHarness.fitStrategy(name, df, df, "id", "features", "label", 42L,
          (_, n) => TrainHarness.sklearnReg(n, 0.5)) { f =>
        (name, f.n, f.regParam, f.scored.count())
      }
    }
    rows.foreach { case (name, n, reg, nScored) =>
      val expected = Resamplers.resample(name, df, "id", "features", "label", 42L).count()
      assert(n == expected, s"$name: n $n != the resampled train's $expected rows")
      assert(reg == TrainHarness.sklearnReg(n, 0.5), s"$name: λ $reg is not the one passed")
      assert(nScored == df.count(), s"$name: scored $nScored test rows")
    }
    // the regParam function sees the pinned train and its n
    val seen = TrainHarness.fitStrategy("base", df, df, "id", "features", "label", 42L,
      (train, n) => { assert(train.count() == n && n == df.count()); 0.02 })(_.regParam)
    assert(seen == 0.02)
  }

  test("fitStrategy: readout metrics are the thresholdMetrics row; " +
    "resamplerBenchmark gives one row per named strategy, in the given order") {
    val (row, predAuc) = TrainHarness.fitStrategy("base", df, df, "id", "features", "label",
        42L, (_, _) => 0.01) { f =>
      (Metrics.thresholdMetrics(f.scored, "score", "label", 0.5).collect()(0), f.predAuc)
    }
    assert(predAuc == (row.getAs[Double]("recall") + row.getAs[Double]("specificity")) / 2.0)
    val table = TrainHarness.resamplerBenchmark(df, df, "id", "features", "label",
      include = Seq("undersample", "base")).collect()
    assert(table.map(_.getString(0)).toSeq == Seq("undersample", "base"))
    assert(table(1).getLong(1) == df.count())
  }

  test("fitStrategy leaves no pin, also when the readout throws, and keeps a " +
    "caller's cache") {
    val before = pins
    TrainHarness.fitStrategy("undersample", df, df, "id", "features", "label", 42L,
      (_, _) => 0.01)(_.aucRoc)
    assert(pins == before, s"fitStrategy left ${pins - before} pin(s)")
    val e = intercept[IllegalStateException] {
      TrainHarness.fitStrategy("oversample", df, df, "id", "features", "label", 42L,
          (_, _) => 0.01) { f =>
        f.scored.count()
        throw new IllegalStateException("readout failed")
      }
    }
    assert(e.getMessage == "readout failed")
    assert(pins == before, s"a throwing readout left ${pins - before} pin(s)")
    val cached = df.filter(col("id") >= 0L).cache()
    try {
      cached.count()
      TrainHarness.fitStrategy("base", cached, cached, "id", "features", "label", 42L,
        (_, _) => 0.01)(_.at05)
      assert(cached.storageLevel != StorageLevel.NONE, "fitStrategy released the caller's cache")
    } finally cached.unpersist()
  }

  test("fitStrategy: a compaction that keeps the partition count pins the " +
    "train once") {
    // one partition against compactForFit's floor of 2: the coalesce is a
    // no-op, so the readout holds the train's pin and the scores' pin only
    val onePartition = df.coalesce(1)
    val before = pins
    val held = TrainHarness.fitStrategy("base", onePartition, df, "id", "features", "label",
      42L, (_, _) => 0.01) { f => f.scored.count(); pins - before }
    assert(held == 2, s"the readout held $held pins: the train was pinned twice")
    assert(pins == before)
  }

  test("an unknown strategy name is rejected") {
    val e = intercept[IllegalArgumentException] {
      TrainHarness.fitStrategy("adasyn", df, df, "id", "features", "label", 42L,
        (_, _) => 0.01)(_.n)
    }
    assert(e.getMessage.contains("adasyn"))
  }

  test("logisticL1Margins: margin sign agrees with probability threshold (M15)") {
    val scored = TrainHarness.logisticL1Margins(df, df, "features", "label")
    val rows = scored.select("margin", "score").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val margin = r.getDouble(0); val p = r.getDouble(1)
      assert((margin > 0) == (p > 0.5), s"margin=$margin p=$p")
      // margin is the log-odds: sigmoid(margin) == probability
      assert(math.abs(1.0 / (1.0 + math.exp(-margin)) - p) < 1e-6)
    }
  }
}
