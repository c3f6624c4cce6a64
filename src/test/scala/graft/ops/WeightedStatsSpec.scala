package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class WeightedStatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("weightedQuantiles picks the smallest value whose cumulative weight reaches p·W") {
    // W = 10; cum: 10→4, 20→7, 30→9, 40→10
    val df = Seq((10.0, 4L), (20.0, 3L), (30.0, 2L), (40.0, 1L))
      .toDF("v", "w")
    val q = WeightedStats.weightedQuantiles(df, col("v"), col("w"), Seq(250, 500, 750, 900))
      .collect().map(r => r.getAs[Int]("p_permille") -> r.getAs[Double]("wq")).toMap
    assert(q(250) == 10.0) // cum(10)=4 ≥ 2.5
    assert(q(500) == 20.0) // cum(10)=4 < 5, cum(20)=7 ≥ 5
    assert(q(750) == 30.0)
    assert(q(900) == 30.0) // cum(30)=9 meets 10·0.9=9 exactly — boundary inclusive
  }

  test("weightedQuantiles collapses duplicate values before the CDF (tie-safe)") {
    // the same value split across many rows must behave as one mass
    val df = Seq((5.0, 1L), (5.0, 1L), (5.0, 1L), (9.0, 1L)).toDF("v", "w")
    val q = WeightedStats.weightedQuantiles(df, col("v"), col("w"), Seq(500, 800))
      .collect().map(r => r.getAs[Int]("p_permille") -> r.getAs[Double]("wq")).toMap
    assert(q(500) == 5.0)
    assert(q(800) == 9.0) // cum(5)=3, 4·0.8=3.2 → needs 9
  }

  test("weightedQuantiles equals the unweighted percentile when all weights are 1") {
    val vals = (1 to 100).map(i => (i.toDouble, 1L))
    val df = vals.toDF("v", "w")
    val q = WeightedStats.weightedQuantiles(df, col("v"), col("w"), Seq(500))
      .collect().map(r => r.getAs[Int]("p_permille") -> r.getAs[Double]("wq")).toMap
    assert(q(500) == 50.0) // smallest v with cum ≥ 50
  }

  test("weightedQuantiles in a scope: the pin is released, the answer kept") {
    val df = Seq((1.0, 1L), (2.0, 1L)).toDF("v", "w")
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = graft.Materialize.scoped() {
      WeightedStats.weightedQuantiles(df, col("v"), col("w"), Seq(500))
        .collect().map(_.getAs[Double]("wq")).toSeq
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(got == Seq(1.0))
  }
}
