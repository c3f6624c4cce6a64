package graft

import graft.expr.{CompressVector, DotProduct, Lemmatize, LemmatizeAll, LemmatizeExpression, VectorDot}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native expressions as SQL functions
  * (`SELECT lemmatize(word)`), beside their Column API; `graft.Session`
  * registers them in every session it builds.
  */
object GraftExtensions {
  val dotProductInfo = new ExpressionInfo(classOf[DotProduct].getName, "dot_product")
  val compressVectorInfo =
    new ExpressionInfo(classOf[CompressVector].getName, "compress_vector")
  val vectorDotInfo = new ExpressionInfo(classOf[VectorDot].getName, "vector_dot")

  /** Arity-checked builder: a wrong-arity SQL call must fail analysis with
    * a clear message, not crash resolution with an IndexOutOfBounds.
    */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.length != n) throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${children.length}")
      build(children)
    }

  private val builders: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("lemmatize", LemmatizeExpression.lemmatizeInfo,
      arity("lemmatize", 1)(c => Lemmatize(c.head))),
    ("lemmatize_all", LemmatizeExpression.lemmatizeAllInfo,
      arity("lemmatize_all", 1)(c => LemmatizeAll(c.head))),
    ("dot_product", dotProductInfo,
      arity("dot_product", 2)(c => DotProduct(c(0), c(1)))),
    ("compress_vector", compressVectorInfo,
      arity("compress_vector", 1)(c => CompressVector(c.head))),
    ("vector_dot", vectorDotInfo,
      arity("vector_dot", 2)(c => VectorDot(c(0), c(1)))))

  /** Register the functions into a running session's function registry. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, info, builder) =>
      reg.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}
