package graft.expr

import graft.SparkSpecBase
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

class LemmatizeExpressionSpec extends SparkSpecBase {
  import spark.implicits._

  test("Lemmatize scalar expression via Column API (codegen path)") {
    val out = Seq("studies", "running", "children", "spark")
      .toDF("w").select(GraftFunctions.lemmatize(col("w")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("study", "run", "child", "spark"))
  }

  test("LemmatizeAll over token arrays, preserving nulls") {
    val out = Seq(Seq("studies", "made"), Seq.empty[String])
      .toDF("toks").select(GraftFunctions.lemmatize_all(col("toks")).as("l"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out(0) == List("study", "make"))
    assert(out(1) == Nil)
  }

  test("interpreted (non-codegen) eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = Lemmatize(Literal(UTF8String.fromString("tried"),
      org.apache.spark.sql.types.StringType))
    assert(e.eval(null) == UTF8String.fromString("try"))
  }

  test("SQL registration: SELECT lemmatize(...) works after register()") {
    val r = spark.sql("SELECT lemmatize('boxes') AS l, lemmatize_all(array('wives','ran')) AS la")
      .collect()(0)
    assert(r.getString(0) == "box")
    assert(r.getSeq[String](1).toList == List("wife", "run"))
  }

  test("SQL registration: SELECT dot_product(...) works after register()") {
    val r = spark.sql(
      "SELECT dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d").collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-12)
  }

  test("wrong-arity SQL call fails analysis with a clear message, not an index crash") {
    val e = intercept[Exception](spark.sql("SELECT dot_product(array(1.0))").collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("requires exactly 2")),
      s"got: ${e.getMessage}")
  }

  test("expression survives inside higher-order transform (stays codegen'd)") {
    val out = Seq(Seq("makes", "taken")).toDF("toks")
      .select(transform(col("toks"), t => GraftFunctions.lemmatize(t)).as("l"))
      .collect()(0).getSeq[String](0).toList
    assert(out == List("make", "take"))
  }
}
