package graft

import org.apache.spark.sql.functions._

class SparkEntrySpec extends SparkSpecBase {

  test("entry (flagship cohort query) returns label counts > 0") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("count")).sum > 0)
  }

  test("the shared session carries the engine's top-k rule and strategy") {
    assert(spark.experimental.extraOptimizations.contains(graft.plans.RowNumberTopKRule))
    assert(spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
  }

  test("the shared session resolves the engine's five SQL functions") {
    val reg = spark.sessionState.functionRegistry
    Seq("lemmatize", "lemmatize_all", "dot_product", "compress_vector", "vector_dot")
      .foreach { name =>
        assert(reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"$name is not registered")
      }
  }

  test("every query has either an oracle or is explicitly rows-only") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  // the engine-RNG sampling forms (randomSplit / seeded df.sample) lost
  // their redundant rows-only registry entries in r11 (green hash-twins
  // and the exact-count MIMIC rows cover the surfaces); their
  // determinism contract stays pinned HERE, directly on the operators
  test("seeded sampling is deterministic: same seed, same counts twice") {
    def counts(): Map[String, Long] = {
      val Array(train, test) = graft.core.Tables.table(spark, sfDir, "orders")
        .randomSplit(Array(0.8, 0.2), seed = 42)
      Map("train" -> train.count(), "test" -> test.count())
    }
    val a = counts()
    val b = counts()
    assert(a == b)
    assert(a.values.sum == 1500) // all orders land in exactly one split at sf0.001
  }

  test("seeded permutation is deterministic: orderBy(rand(42)) yields the " +
    "same head twice (the retired o2_shuffle's contract)") {
    def head(): Seq[Long] =
      graft.core.Tables.table(spark, sfDir, "orders")
        .orderBy(rand(42)).limit(20).select("o_orderkey")
        .collect().map(_.getLong(0)).toSeq
    assert(head() == head())
  }

  test("seeded with-replacement oversample is deterministic: same seed, " +
    "same multiset twice (the retired o8_oversample's contract)") {
    def counts(): Map[Long, Long] =
      graft.core.Tables.table(spark, sfDir, "orders")
        .sample(withReplacement = true, 2.0, seed = 42)
        .groupBy("o_orderkey").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = counts()
    assert(a == counts())
    assert(a.values.exists(_ > 1L), "with-replacement sample drew no duplicates")
  }

  test("seeded undersample balances classes to roughly 1:1") {
    val labeled = graft.core.Tables.table(spark, sfDir, "orders")
      .select(when(col("o_totalprice") > 300000, "1").otherwise("0").as("label"))
    val pos = labeled.filter(col("label") === "1")
    val neg = labeled.filter(col("label") === "0")
    val frac = pos.count().toDouble / neg.count().toDouble
    val bal = pos.unionByName(neg.sample(withReplacement = false, frac, seed = 42))
    val counts = bal.groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ratio = counts("0").toDouble / counts("1")
    assert(ratio > 0.5 && ratio < 2.0, s"unbalanced after undersample: $counts")
  }
}
