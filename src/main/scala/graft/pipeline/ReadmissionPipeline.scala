package graft.pipeline

import graft.Materialize
import graft.core.Tables
import graft.ml.{Features, TrainHarness}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's complete flow, §3.1 + §3.2 + §3.3
  * (Hap880_Final_Project.py:19-534), composed end-to-end on the test
  * schema:
  *
  *   1. cohort labeling — per-entity lead/skip/backfill windows → 30-day
  *      label (orders as admissions; '5-LOW' as ELECTIVE)
  *   2. category feature matrix — per-order explode→pivot counts
  *      (lineitem return flags as the diagnosis-category analog of the
  *      admission×17 ICD matrix)
  *   3. text features — per-"entity" document tokens (documents table
  *      keyed to orders by modulus as the notes analog)
  *   4. join-everything feature table → train/test split → resample →
  *      L1 LR → AUC + threshold metrics
  *
  * One library call = the whole notebook. Every stage is the library
  * operator, so the composition inherits each stage's plan shape (single
  * cohort exchange, literal pivot values, broadcast dims).
  */
object ReadmissionPipeline {

  /** §3.2 analog: per-order pivot-count matrix over lineitem return
    * flags (explicit pivot values — no distinct-values pre-job).
    */
  def categoryMatrix(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .pivot("l_returnflag", Seq("A", "N", "R")).agg(count(lit(1)))
      .na.fill(0, Seq("A", "N", "R"))
      .withColumnRenamed("A", "cat_a")
      .withColumnRenamed("N", "cat_n")
      .withColumnRenamed("R", "cat_r")

  /** §3.1+§3.2 composed feature table: cohort-labeled, scaled numeric/
    * one-hot features CONCATENATED with the category-matrix counts — the
    * join alone would leave the category counts as dead columns the
    * trainer never sees (vector width = Features.featureCols ++ 3 cats,
    * pinned in ReadmissionFixtureSpec).
    */
  def featureTable(s: SparkSession, dir: String): DataFrame = {
    // Features.assembled computes the cohort labels internally (same
    // labelNextEvent windows) and is session-memoized
    val base = Features.assembled(s, dir)
    val cats = categoryMatrix(s, dir)
    val joined = base
      .join(cats.withColumnRenamed("l_orderkey", "id"), Seq("id"), "left")
      .na.fill(0, Seq("cat_a", "cat_n", "cat_r"))
      .withColumn("cat_a", col("cat_a").cast("double"))
      .withColumn("cat_n", col("cat_n").cast("double"))
      .withColumn("cat_r", col("cat_r").cast("double"))
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("features", "cat_a", "cat_n", "cat_r"))
      .setOutputCol("_full")
      .transform(joined)
      .drop("features").withColumnRenamed("_full", "features")
      .select("id", "features", "label")
  }

  /** Full composed pipeline → one metrics row per resampling strategy. */
  def run(s: SparkSession, dir: String, seed: Long = 42L): DataFrame = {
    // 4. split → resample → train → metrics (§3.3)
    val (train, test) = Features.splitByHash(featureTable(s, dir), "id")
    // r14: run-scoped pins + overlapped strategies (the rfSweep
    // pattern, guide §2.6): the split frames materialize once and the
    // three independent seeded fits back-fill each other's few-task
    // L-BFGS tails. Same fits, same metrics.
    import s.implicits._
    Materialize.scoped(train, test) {
      TrainHarness.inParallel(Seq("base", "undersample", "oversample")) { name =>
        TrainHarness.fitStrategy(name, train, test, "id", "features", "label", seed,
            (_, _) => 0.01) { f =>
          (name, f.aucRoc, f.metric("accuracy"), f.metric("recall"),
            f.metric("precision_"), f.metric("specificity"), f.cell("tp") + f.cell("fn"))
        }
      }.toDF("strategy", "auc_roc", "accuracy", "recall", "precision_", "specificity", "n_pos_test")
    }
  }
}
