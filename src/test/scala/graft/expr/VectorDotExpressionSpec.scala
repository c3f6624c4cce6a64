package graft.expr

import graft.SparkSpecBase
import graft.functions.GraftFunctions.{dot_product, vector_dot}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._

class VectorDotExpressionSpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private def sparse(dim: Int): Vector = Vectors.sparse(dim,
    Array.tabulate(12)(i => i * (dim / 16) + rnd.nextInt(dim / 16)).distinct.sorted,
    Array.fill(16)(rnd.nextGaussian()).take(12)).compressed
  private def dense(dim: Int): Vector =
    Vectors.dense(Array.fill(dim)(rnd.nextGaussian()))

  test("vector_dot is BITWISE-equal to the dense array dot for all four pairings") {
    val rows = (1 to 40).map { i =>
      val mk: () => Vector = i % 4 match {
        case 0 => () => sparse(128)
        case 1 => () => dense(128)
        case 2 => () => sparse(128)
        case _ => () => dense(128)
      }
      (mk(), if (i % 2 == 0) sparse(128) else dense(128))
    }
    val df = rows.toDF("a", "b")
    val bad = df.select(
      (vector_dot(col("a"), col("b")) -
        dot_product(vector_to_array(col("a")), vector_to_array(col("b")))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(bad == 0L, "vector_dot diverged from the dense loop")
  }

  test("null input → null; size mismatch → null; SQL registration") {
    val df = Seq(
      (Option(sparse(64)), Option(dense(64))),
      (Option.empty[Vector], Option(dense(64))),
      (Option(sparse(64)), Option(dense(32)))
    ).toDF("a", "b")
    val out = df.select(vector_dot(col("a"), col("b")).as("d")).collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0) && out(2).isNullAt(0))
    df.createOrReplaceTempView("vd_probe")
    assert(spark.sql("SELECT vector_dot(a, b) AS d FROM vd_probe")
      .collect().count(!_.isNullAt(0)) == 1)
  }

  test("radiusJoin sparseAware=true returns EXACTLY the dense path's (ida, idb, dist) set") {
    val dim = 256
    val left = (1L to 120L).map(i => (i, sparse(dim))).toDF("id", "vec")
    val right = (500L to 540L).map(i => (i, sparse(dim))).toDF("id", "vec")
    def run(sa: Boolean) = graft.ml.NativeLsh.radiusJoin(
      left, right, "id", "vec", radius = 8.0, bucketLength = 2.0,
      nTables = 3, seed = 42L, dim = dim, sparseAware = sa)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val denseSet = run(sa = false)
    val sparseSet = run(sa = true)
    assert(denseSet.nonEmpty, "probe produced no candidate pairs — widen the radius")
    assert(sparseSet == denseSet,
      s"paths diverged: only-dense=${denseSet -- sparseSet} only-sparse=${sparseSet -- denseSet}")
  }
}
