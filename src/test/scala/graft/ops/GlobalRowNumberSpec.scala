package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalRowNumberSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val df = Seq(
    (5L, "c"), (1L, "a"), (9L, "b"), (2L, "a"), (7L, "b"),
    (3L, "c"), (8L, "a"), (4L, "b"), (6L, "c"), (10L, "a")
  ).toDF("id", "k")

  test("numbering equals the single-partition window form") {
    val got = GlobalRowNumber.withRowNumber(df, "rn", col("k"), col("id"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df
      .withColumn("rn", row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ids are dense 1..n with no duplicates") {
    val rns = GlobalRowNumber.withRowNumber(df, "rn", col("id"))
      .select("rn").collect().map(_.getLong(0)).sorted
    assert(rns.toSeq == (1L to 10L))
  }

  test("empty input yields empty output (offset map handles missing counts)") {
    val empty = df.filter(col("id") < 0)
    assert(GlobalRowNumber.withRowNumber(empty, "rn", col("id")).count() == 0L)
  }

  test("skewed key distribution still numbers correctly") {
    // all rows share one range key → every row lands in one range
    // partition; offsets must still produce dense global ids via the
    // id tiebreak inside the partition window
    val skew = (1L to 100L).map(i => (i, "same")).toDF("id", "k")
    val rns = GlobalRowNumber.withRowNumber(skew, "rn", col("k"), col("id"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rns.toMap == (1L to 100L).map(i => i -> i).toMap)
  }

  test("no single-partition global window in the plan") {
    val p = GlobalRowNumber.withRowNumber(df, "rn", col("id"))
      .queryExecution.executedPlan.toString
    // the naive form plans Window with an empty partition spec after an
    // Exchange SinglePartition — the thing this operator exists to avoid
    assert(!p.contains("SinglePartition"), p)
  }

  test("sampled range bounds: numbering acted on in its scope is exact") {
    // 1,600 rows in 16 input partitions: 100 rows each, more than the
    // range exchange samples per partition (3 × 100 points × 4 output
    // partitions / 16 = 75), so the bounds come from a reservoir sample
    // seeded per RDD id. Numbering recomputed after its pin was released
    // therefore uses other bounds than the collected offsets describe:
    // 1,600 is the smallest of 25, 50, …, 3,200 rows at which that gave
    // wrong ids (about 1,200 of 1,600 off, in 3 of 3 runs)
    val big = spark.range(0, 1600, 1, 16)
      .select(col("id"), pmod(xxhash64(col("id")), lit(1000000L)).as("k"))
    val want = big
      .withColumn("rn", row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = graft.Materialize.scoped() {
      GlobalRowNumber.withRowNumber(big, "rn", col("k"), col("id"))
        .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == want)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("group rank equals the per-group window form, size equals group count") {
    val got = GlobalRowNumber.withGroupRowNumberAndSize(
      df, "rn", "n", Seq("k"), col("id").asc)
    val gotMap = got.select("id", "rn", "n").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.partitionBy("k").orderBy(col("id").asc)
    val want = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
      .select("id", "rn", "n").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotMap == want)
  }

  test("group rank plan has no window partitioned by the group key and no " +
    "SinglePartition exchange over the data (only the |groups|-row offset window)") {
    val got = GlobalRowNumber.withGroupRowNumberAndSize(
      df, "rn", "n", Seq("k"), col("id").asc)
    got.collect()
    val p = got.queryExecution.executedPlan
    def windows(x: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
      val here = x.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      val stages = x.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => windows(q.plan)
      }.flatten
      here ++ stages
    }
    val ws = windows(p)
    val (ranked, tiny) = ws.partition(_.partitionSpec.nonEmpty)
    assert(ranked.nonEmpty && ranked.forall(w =>
      w.partitionSpec.exists(_.toString.contains("_pid")) &&
        !w.partitionSpec.exists(_.toString.contains("k#"))), p.toString)
    // the only unpartitioned window runs over the aggregated counts frame
    assert(tiny.forall(_.child.output.exists(_.name == "n")), p.toString)
  }

  test("ntileFromRankCol matches ntile() for sizes below, at, and above k") {
    for (n <- Seq(3, 10, 17, 40)) {
      val rows = (1L to n.toLong).map(i => (i, n.toLong)).toDF("rank", "n")
      val got = rows.select(col("rank"),
        GlobalRowNumber.ntileFromRankCol(col("rank"), col("n"), 10).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (1L to n.toLong).toDF("rank")
        .withColumn("b", ntile(10).over(Window.orderBy("rank")).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"n=$n")
    }
  }
}
