package graft.plans

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class RowNumberTopKRuleSpec extends SparkSpecBase {

  private def windowForm() = {
    val orders = graft.core.Tables.orders(spark, sfDir)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice") // drops rn
  }

  test("rule rewrites row_number window + filter + drop into TopKPerKey") {
    // the shared session installs the rule: take the expected rows from
    // the plain window plan with the rule out, then put it back
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = installed.filterNot(_ eq RowNumberTopKRule)
    val expected =
      try windowForm().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.experimental.extraOptimizations = installed

    val rewritten = windowForm()
    val tree = rewritten.queryExecution.optimizedPlan.toString
    assert(tree.contains("TopKPerKeyNode") || tree.contains("TopKPerKey"),
      s"rule did not fire:\n$tree")
    val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("rule fires through the SQL front-end (sql_window_top pattern)") {
    graft.core.Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    val df = spark.sql(graft.registry.Shared.windowTopSql)
    val tree = df.queryExecution.optimizedPlan.toString
    assert(tree.contains("TopKPerKey"), s"rule did not fire on SQL form:\n$tree")
    // one row per customer, the max-price order
    val n = df.count()
    val customers = graft.core.Tables.orders(spark, sfDir)
      .select("o_custkey").distinct().count()
    assert(n == customers)
  }

  test("non-deterministic order keys are safe: analyzer materializes them below") {
    // PullOutNondeterministic rewrites rand() into a child Project, so the
    // Window's order key is a deterministic ATTRIBUTE and the rewrite is
    // sound (the rule's determinism guard protects direct node builders,
    // where no such materialization happened)
    val orders = graft.core.Tables.orders(spark, sfDir)
    val w = Window.partitionBy("o_custkey").orderBy(rand(7))
    val out = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey")
    val perKey = out.groupBy("o_custkey").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(perKey <= 2, s"a key emitted $perKey rows under k=2")
  }

  test("rewritten plan strips the inferred WindowGroupLimit (no leftover sorts)") {
    graft.core.Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    val planStr = spark.sql(graft.registry.Shared.windowTopSql)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerKey"), planStr)
    assert(!planStr.contains("WindowGroupLimit"),
      s"WindowGroupLimit (and its sorts) must be subsumed:\n$planStr")
    assert(!planStr.contains("Sort "), s"no per-partition sorts expected:\n$planStr")
  }

  test("rule does NOT fire when rn survives the projection") {
    val orders = graft.core.Tables.orders(spark, sfDir)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val keepRn = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "rn")
    val tree = keepRn.queryExecution.optimizedPlan.toString
    assert(!tree.contains("TopKPerKey"), tree)
    // rn values still correct
    assert(keepRn.collect().forall(_.getInt(1) <= 2))
  }
}
