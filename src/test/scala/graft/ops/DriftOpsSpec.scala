package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class DriftOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("psi is ~zero when both slices share a distribution") {
    // identical uniform membership in both slices: for each bin r = i%10,
    // i%20 ∈ {r, r+10} equally often, so ref/cur counts match per bin
    val df = (1 to 2000).map(i => (i, i % 10)).toDF("id", "v")
    val out = DriftOps.psiBins(df, isRef = col("id") % 20 < 10, bin = col("v"))
      .agg(sum("psi_term")).as[Double].head()
    assert(math.abs(out) < 1e-3, s"psi=$out")
  }

  test("psi flags a shifted distribution and smoothing keeps empty bins finite") {
    // ref occupies bins 0-4, cur occupies bins 5-9: maximal drift
    val df = ((1 to 500).map(i => ("ref", i % 5)) ++ (1 to 500).map(i => ("cur", 5 + i % 5)))
      .toDF("slice", "bin")
    val rows = DriftOps.psiBins(df, isRef = col("slice") === "ref", bin = col("bin")).collect()
    assert(rows.length == 10)
    val psi = rows.map(_.getAs[Double]("psi_term")).sum
    assert(psi > 1.0, s"expected severe drift, psi=$psi")
    assert(rows.forall(r => !r.getAs[Double]("psi_term").isNaN
      && !r.getAs[Double]("psi_term").isInfinite))
  }

  test("jsd is ~zero for identical slices, saturates near ln 2 for disjoint ones") {
    val same = (1 to 2000).map(i => (i, i % 10)).toDF("id", "v")
    val j0 = DriftOps.jsdBins(same, isRef = col("id") % 20 < 10, bin = col("v"))
      .agg(sum("jsd_term")).as[Double].head()
    assert(math.abs(j0) < 1e-3, s"jsd=$j0")
    // disjoint supports: JSD saturates at ln 2 ≈ 0.693, never explodes
    val disj = ((1 to 500).map(i => ("ref", i % 5)) ++ (1 to 500).map(i => ("cur", 5 + i % 5)))
      .toDF("slice", "bin")
    val rows = DriftOps.jsdBins(disj, isRef = col("slice") === "ref", bin = col("bin")).collect()
    val jsd = rows.map(_.getAs[Double]("jsd_term")).sum
    assert(jsd > 0.6 && jsd <= math.log(2.0) + 1e-6, s"jsd=$jsd")
    assert(rows.forall(r => !r.getAs[Double]("jsd_term").isNaN
      && !r.getAs[Double]("jsd_term").isInfinite))
  }

  test("jsd is symmetric: swapping ref and cur slices preserves the divergence") {
    val df = ((1 to 300).map(i => ("a", i % 7)) ++ (1 to 500).map(i => ("b", i % 4)))
      .toDF("slice", "bin")
    val fwd = DriftOps.jsdBins(df, isRef = col("slice") === "a", bin = col("bin"))
      .agg(sum("jsd_term")).as[Double].head()
    val rev = DriftOps.jsdBins(df, isRef = col("slice") === "b", bin = col("bin"))
      .agg(sum("jsd_term")).as[Double].head()
    assert(math.abs(fwd - rev) < 1e-9, s"fwd=$fwd rev=$rev")
  }

  test("ks is 0 for identical samples and ~1 for disjoint supports") {
    val same = (1 to 1000).flatMap(i => Seq(("a", i), ("b", i))).toDF("s", "v")
    val ks0 = DriftOps.ks(same, col("v"), col("s") === "a")
      .select("ks").as[Double].head()
    assert(ks0 == 0.0)

    val disjoint = ((1 to 500).map(i => ("a", i)) ++ (1 to 500).map(i => ("b", i + 1000)))
      .toDF("s", "v")
    val ks1 = DriftOps.ks(disjoint, col("v"), col("s") === "a")
      .select("ks").as[Double].head()
    assert(ks1 == 1.0)
  }

  test("ks matches the naive single-window computation") {
    // deterministic but irregular interleaving of two samples
    val df = (1 to 3000)
      .map(i => (if (i * 2654435761L % 97 < 60) "a" else "b", (i * 31) % 500))
      .toDF("s", "v")
    val fast = DriftOps.ks(df, col("v"), col("s") === "a").collect().head
    // naive: global window over distinct values (fine at spec scale)
    val pv = df.groupBy("v").agg(
      sum(when(col("s") === "a", 1L).otherwise(0L)).as("r"),
      sum(when(col("s") =!= "a", 1L).otherwise(0L)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = pv
      .select(sum("r").over(w).as("cr"), sum("c").over(w).as("cc"))
      .crossJoin(pv.agg(sum("r").as("nr"), sum("c").as("nc")))
      .agg(max(abs(col("cr").cast("double") / col("nr") -
        col("cc").cast("double") / col("nc")))).as[Double].head()
    assert(fast.getAs[Long]("n_ref") + fast.getAs[Long]("n_cur") == 3000L)
    assert(math.abs(fast.getAs[Double]("ks") - naive) < 1e-9)
  }

  test("ks inside a scope: the internal pin is released at the scope's end") {
    val df = (1 to 100).map(i => ("a", i)).toDF("s", "v")
      .union((1 to 100).map(i => ("b", i)).toDF("s", "v"))
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.Materialize.scoped() {
      DriftOps.ks(df, col("v"), col("s") === "a").collect()
      assert(spark.sparkContext.getPersistentRDDs.size > before)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}
