package graft.tools

/** One-off evidence run (r13, closing the r12 verdict's #7): the full
  * 9-point RandomForest n_estimators sweep — the reference sweeps
  * 100..900 step 100 (reference `Hap880_Final_Project.py:600-618`) while
  * the per-round BENCH row `ml_rf_sweep_full` runs the {100, 300, 500,
  * 900} subset with the in-between points asserted flat by spec. This
  * main MEASURES the asserted flatness once on the same fixture
  * (Features.assembled at SPARK_GRAFT_SF_DIR, same hash split, same
  * seed) and prints the markdown table BENCH_NOTES.md records. Not part
  * of the per-round driver contract — run manually:
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.RfSweep9"`.
  */
object RfSweep9 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus)
    val (train, test) = graft.ml.Features.splitByHash(
      graft.ml.Features.assembled(spark, sfDir), "id")
    graft.Materialize.scoped(train, test) {
      train.count(); test.count()
      println(s"| n_estimators | auc_roc | fit+score wall (s) |")
      println(s"|---:|---:|---:|")
      (100 to 900 by 100).foreach { n =>
        val t0 = System.nanoTime()
        val auc = graft.ml.TrainHarness
          .rfSweep(train, test, "features", "label", Seq(n))
          .collect()(0).getDouble(1)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"| $n | $auc%.4f | $sec%.1f |")
      }
    }
    spark.stop()
  }
}
