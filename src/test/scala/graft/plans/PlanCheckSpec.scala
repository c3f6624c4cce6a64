package graft.plans

import graft.SparkSpecBase
import graft.plans.PlanCheck._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Each kind of [[PlanCheck]] fails on a small frame built to break it and
  * holds on its counterpart, so no check in the plan contract is vacuous. */
class PlanCheckSpec extends SparkSpecBase {

  private def holds(check: PlanCheck, df: DataFrame): Boolean =
    check.holds(PlanCheck.operators(df.queryExecution.executedPlan))

  private def keyed = spark.range(100).select(col("id"), (col("id") % 5).as("k"))

  test("Shuffles: a grouped aggregate fails 'no shuffle', also in its final " +
    "adaptive plan") {
    val agg = keyed.groupBy("k").count()
    assert(!holds(Shuffles(Exactly(0)), agg))
    assert(holds(Shuffles(Exactly(1)), agg))
    agg.collect() // the exchange now sits inside a query stage
    assert(holds(Shuffles(Exactly(1)), agg))
    assert(holds(Shuffles(Exactly(0)), keyed))
  }

  test("Shuffles(Single): an unpartitioned Window.orderBy fails 'no SinglePartition'") {
    val global = keyed.withColumn("r", row_number().over(Window.orderBy("id")))
    val perKey = keyed.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
    assert(!holds(Shuffles(Exactly(0), Single), global))
    assert(holds(Shuffles(Exactly(0), Single), perKey))
  }

  test("Shuffles(Range) and Shuffles(HashOn): a global sort and a keyed group " +
    "show their partitioning") {
    val sorted = keyed.orderBy("k")
    val grouped = keyed.groupBy("k").count()
    assert(!holds(Shuffles(Exactly(0), Range), sorted))
    assert(holds(Shuffles(Exactly(0), Range), grouped))
    assert(!holds(Shuffles(Exactly(0), HashOn("k")), grouped))
    assert(holds(Shuffles(Exactly(0), HashOn("id")), grouped))
  }

  test("Node: a crossJoin fails 'no CartesianProduct'") {
    val small = spark.range(3).toDF("a")
    val cross = keyed.crossJoin(small.hint("shuffle_replicate_nl"))
    val equi = keyed.join(small, col("k") === col("a"))
    assert(!holds(Node("CartesianProduct", Exactly(0)), cross))
    assert(holds(Node("CartesianProduct", Exactly(0)), equi))
    assert(holds(Node("Join", AtLeast(1)), equi))
    assert(!holds(Node("Join", Exactly(0)), equi))
  }

  test("Joins: an inner join fails 'a LeftSemi join'") {
    val small = spark.range(3).toDF("a")
    assert(!holds(Joins("LeftSemi", AtLeast(1)), keyed.join(small, col("k") === col("a"))))
    assert(holds(Joins("LeftSemi", AtLeast(1)),
      keyed.join(small, col("k") === col("a"), "left_semi")))
  }

  test("ScanFilter: a filter on a derived column is not pushed, and an " +
    "unpartitioned table has no partition filter") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val derived = orders.withColumn("d", col("o_totalprice") * 2).filter(col("d") > 10)
    val direct = orders.filter(col("o_totalprice") > 10)
    assert(!holds(ScanFilter("GreaterThan(o_totalprice"), derived))
    assert(holds(ScanFilter("GreaterThan(o_totalprice,10"), direct))
    assert(!holds(ScanFilter("o_totalprice", partition = true), direct))
  }

  test("Unread: a projected column, or one no scanned table has, fails 'not read'") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    assert(!holds(Unread("o_orderpriority"), orders.select("o_orderkey", "o_orderpriority")))
    assert(holds(Unread("o_orderpriority"), orders.select("o_orderkey")))
    assert(!holds(Unread("o_comment"), orders.select("o_orderkey")))
  }

  test("WindowBy: a window keyed on one column fails 'partitioned by' another " +
    "and 'no unpartitioned window' when it has no key") {
    val perKey = keyed.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
    val global = keyed.withColumn("r", row_number().over(Window.orderBy("id")))
    assert(!holds(WindowBy("id", AtLeast(1)), perKey))
    assert(holds(WindowBy("k", Exactly(1)), perKey))
    assert(!holds(WindowBy("", Exactly(0)), global))
    assert(holds(WindowBy("", Exactly(0)), perKey))
  }
}
