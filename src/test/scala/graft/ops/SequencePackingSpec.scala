package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class SequencePackingSpec extends SparkSpecBase {

  import spark.implicits._

  test("matches the single-partition window formulation exactly") {
    val docs = Seq(
      (1L, 100L), (2L, 500L), (3L, 0L), (4L, 512L), (5L, 1L),
      (6L, 1024L), (7L, 7L), (8L, 511L)
    ).toDF("id", "toks")
    val packed = SequencePacking.packWindows(docs, col("toks"), budget = 512L, col("id"))
    // oracle: the correct-but-unscalable global window
    val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = docs
      .withColumn("end_off", sum("toks").over(w))
      .withColumn("start_off", col("end_off") - col("toks"))
      .withColumn("first_win", floor(col("start_off") / 512))
      .withColumn("last_win",
        when(col("toks") > 0, floor((col("end_off") - 1) / 512))
          .otherwise(floor(col("start_off") / 512)))
      .select("id", "start_off", "first_win", "last_win")
    val got = packed.select("id", "start_off", "first_win", "last_win")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("offsets are contiguous: each doc starts where the previous ended") {
    val docs = (1L to 200L).map(i => (i, i % 37)).toDF("id", "toks")
    val packed = SequencePacking.packWindows(docs, col("toks"), budget = 64L, col("id"))
    val rows = packed.select("id", "start_off").orderBy("id").as[(Long, Long)].collect()
    val toks = (1L to 200L).map(i => i % 37)
    val expected = toks.scanLeft(0L)(_ + _).init
    assert(rows.map(_._2).toSeq === expected)
  }

  test("inside a scope the pin is released at the scope's end") {
    val docs = Seq((1L, 5L), (2L, 6L)).toDF("id", "toks")
    val before = spark.sparkContext.getPersistentRDDs.size
    val wins = graft.Materialize.scoped() {
      val packed = SequencePacking.packWindows(docs, col("toks"), budget = 4L, col("id"))
      assert(spark.sparkContext.getPersistentRDDs.size == before + 1)
      packed.select("last_win").as[Long].collect().sorted.toSeq
    }
    assert(wins == Seq(1L, 2L))
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("rejects non-positive budget and empty ordering") {
    val docs = Seq((1L, 5L)).toDF("id", "toks")
    intercept[IllegalArgumentException] {
      SequencePacking.packWindows(docs, col("toks"), budget = 0L, col("id"))
    }
    intercept[IllegalArgumentException] {
      SequencePacking.packWindows(docs, col("toks"), budget = 8L)
    }
  }
}
