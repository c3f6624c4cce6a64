package graft.expr

import graft.SparkSpecBase
import graft.functions.GraftFunctions.compress_vector
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.sql.functions._

class CompressVectorExpressionSpec extends SparkSpecBase {
  import spark.implicits._

  private val wide: Vector = {
    val v = new Array[Double](100)
    v(3) = 1.5; v(97) = -2.0
    Vectors.dense(v)
  }
  private val dense: Vector = Vectors.dense(Array.fill(8)(1.0))

  test("values identical; sparse chosen for mostly-zero, dense kept for full") {
    val df = Seq(Tuple1(wide), Tuple1(dense)).toDF("v")
    val out = df.select(compress_vector(col("v")).as("c")).collect()
    val c0 = out(0).getAs[Vector]("c")
    val c1 = out(1).getAs[Vector]("c")
    assert(c0 == wide && c1 == dense, "compression must not change values")
    assert(c0.isInstanceOf[SparseVector], s"2/100 nonzeros must re-encode sparse, got $c0")
    assert(c1.isInstanceOf[DenseVector], s"all-nonzero must stay dense, got $c1")
  }

  test("null propagates; SQL registration works") {
    val df = Seq(Tuple1(Option(wide)), Tuple1(Option.empty[Vector])).toDF("v")
    val out = df.select(compress_vector(col("v")).as("c")).collect()
    assert(out.count(_.isNullAt(0)) == 1)
    df.createOrReplaceTempView("cv_probe")
    val viaSql = spark.sql("SELECT compress_vector(v) AS c FROM cv_probe")
      .collect().flatMap(r => Option(r.getAs[Vector]("c")))
    assert(viaSql.length == 1 && viaSql.head == wide)
  }

  test("SMOTE synthetic rows come out sparse at BoW-like width") {
    val rnd = new scala.util.Random(7)
    def sparseRow(): Vector = Vectors.sparse(512,
      Array.tabulate(20)(i => i * 25 + rnd.nextInt(10)).distinct.sorted,
      Array.fill(20)(1.0 + rnd.nextInt(3)).take(20)).compressed
    val minority = (1L to 40L).map(i => (i, sparseRow(), 1.0))
    val majority = (100L to 400L).map(i => (i, sparseRow(), 0.0))
    val df = (minority ++ majority).toDF("id", "features", "label")
    val synth = graft.ml.Resamplers.smote(df, "id", "label", "features",
      seed = 42L, bucketLength = 8.0, k = 3, neighborRadius = 50.0)
      .filter(col("id") === -1L)
    val vecs = synth.select("features").collect().map(_.getAs[Vector](0))
    assert(vecs.nonEmpty, "probe must synthesize rows")
    assert(vecs.forall(_.isInstanceOf[SparseVector]),
      "interpolated union-support rows at 40/512 density must encode sparse")
  }
}
