package graft.tools

/** One-off evidence run (r14, closing the r13 verdict's #6): the FULL
  * five-strategy resampler table — 5-fold CV over the 4-value L1 grid
  * (= 20 fits per strategy at 36,047 x 3,019 and up to 67,374 x 3,019
  * resampled), final train at the tuned reg, the published 8-metric row
  * per strategy (reference cells 64-69 / `Hap880_Final_Project.py:796-861`),
  * printed as the markdown table BENCH_NOTES.md records. It takes no
  * options: the C grid, folds and LSH radii are the table's own
  * constants ([[graft.ml.TrainHarness.resamplerBenchmark]],
  * [[graft.ml.Resamplers.resample]]).
  *
  * The per-round bench row `mimic_resampler_bench` runs only the RUS
  * smoke (the published winner); this main is its full-table twin.
  * TRIGGER CONTRACT (the RfSweep9 pattern): re-run this after any change
  * to TrainHarness, MimicPipeline, Resamplers, or the sf0.1 fixture, and
  * paste the table into BENCH_NOTES. Between triggers, the claim is
  * carried per-round by MimicTrainSpec's cell-66 test (all five
  * strategies fitted at the committed C values, per-row published bands
  * + interior ordering). Run manually:
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.ResamplerTable"`.
  */
object ResamplerTable {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus)
    val (train, test) = graft.pipeline.MimicPipeline.trainTest(spark)
    val t0 = System.nanoTime()
    val rows = graft.ml.TrainHarness.resamplerBenchmark(train, test, "id", "features", "label")
      .collect()
    val sec = (System.nanoTime() - t0) / 1e9
    println("| strategy | n_train | best_c | cv_acc | f1 | precision | recall | accuracy | auc_roc | auc_pr |")
    println("|---|---:|---:|---:|---:|---:|---:|---:|---:|---:|")
    rows.foreach { r =>
      println(f"| ${r.getString(0)} | ${r.getLong(1)}%,d | ${r.getDouble(2)}%.2f " +
        f"| ${r.getDouble(3)}%.3f | ${r.getDouble(4)}%.3f | ${r.getDouble(5)}%.3f " +
        f"| ${r.getDouble(6)}%.3f | ${r.getDouble(7)}%.3f | ${r.getDouble(8)}%.3f " +
        f"| ${r.getDouble(9)}%.3f |")
    }
    println(f"%nfull 5x(CV+final) wall: $sec%.1f s")
    spark.stop()
  }
}
