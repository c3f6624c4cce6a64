package graft.ml

import graft.core.Tables
import graft.ops.CohortOps
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature-table assembly — the §3.3 analog on the test schema: per-order
  * numeric features + one-hot categoricals + the cohort label ("will this
  * customer order again within 30 days, skipping low-priority orders").
  *
  * Mirrors the reference's join-everything shape (M3/M4,
  * Hap880_Final_Project.py:332-345): label windows ⋈ per-order lineitem
  * aggregates ⋈ customer dim, one-hot via pivot-free conditional columns,
  * assembled into a `features` Vector and standardized (unit variance) so
  * distance-based resamplers (SMOTE/NearMiss LSH) see comparable axes.
  */
object Features {

  val oneHotPriorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Raw (unassembled) feature table: one row per order. */
  def orderFeatureTable(s: SparkSession, dir: String): DataFrame = {
    val labeled = CohortOps.labelNextEvent(
      Tables.orders(s, dir),
      entityCol = "o_custkey", timeCol = "o_orderdate", typeCol = "o_orderpriority",
      tieCol = "o_orderkey", excludedType = "5-LOW", horizonDays = 30.0)
    val lineAgg = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_lines"),
        sum("l_quantity").as("sum_qty"),
        avg("l_discount").as("avg_discount"))
    val cust = Tables.customer(s, dir).select("c_custkey", "c_acctbal", "c_mktsegment")
    val oneHots = oneHotPriorities.map(p =>
      when(col("o_orderpriority") === p, 1.0).otherwise(0.0)
        .as("prio_" + p.take(1)))
    labeled
      .join(lineAgg, col("o_orderkey") === col("l_orderkey"), "left")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left")
      .na.fill(0, Seq("n_lines", "sum_qty", "avg_discount", "c_acctbal"))
      .select(
        Seq(
          col("o_orderkey").as("id"),
          col("o_totalprice"), col("n_lines").cast("double").as("n_lines"),
          col("sum_qty"), col("avg_discount"), col("c_acctbal"),
          col("label").cast("double").as("label")
        ) ++ oneHots: _*)
  }

  val featureCols: Seq[String] =
    Seq("o_totalprice", "n_lines", "sum_qty", "avg_discount", "c_acctbal",
      "prio_1", "prio_2", "prio_3", "prio_4", "prio_5")

  /** Assembled + standardized (id, features, label) table.
    *
    * Memoized per (session, dir) and Spark-cached: `StandardScaler.fit` is
    * a full extra pass over the table, and every ML query starts from this
    * exact DataFrame — without sharing, each of the 9 call sites re-runs
    * cohort windows + joins + scaler fit (~9 s each at sf0.1). A feature
    * table IS a materialized intermediate in any production pipeline; the
    * memo makes that explicit. Deterministic, so semantics are unchanged.
    */
  def assembled(s: SparkSession, dir: String): DataFrame = memo(s, dir) {
    val raw = orderFeatureTable(s, dir)
    val asm = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("rawFeatures")
    val scaler = new StandardScaler()
      .setInputCol("rawFeatures").setOutputCol("features")
      .setWithMean(false).setWithStd(true)
    val assembledDf = asm.transform(raw)
    scaler.fit(assembledDf).transform(assembledDf)
      .select("id", "features", "label")
      .cache()
  }

  private val memo = new graft.Session.Memo[String, DataFrame]

  /** Deterministic 80/20 split by id hash — reproducible across runs and
    * engines, unlike RNG-stream-dependent randomSplit (used where the
    * reference pins random_state=42; the engine exposes both).
    */
  def splitByHash(df: DataFrame, idCol: String, testPct: Int = 20): (DataFrame, DataFrame) = {
    val bucket = pmod(xxhash64(col(idCol)), lit(100L))
    (df.filter(bucket >= testPct), df.filter(bucket < testPct))
  }
}
