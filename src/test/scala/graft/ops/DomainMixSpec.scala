package graft.ops

import graft.SparkSpecBase
import graft.plans.PlanCheck
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

class DomainMixSpec extends SparkSpecBase {
  import spark.implicits._

  // 3 domains, skewed counts: a=60, b=30, c=10
  private lazy val docs = (
    (1L to 60L).map(i => (i, "a")) ++
    (61L to 90L).map(i => (i, "b")) ++
    (91L to 100L).map(i => (i, "c"))
  ).toDF("id", "dom")

  private val hash = pmod(xxhash64(col("id"), lit(":t")), lit(1000000L))

  test("achieved mix hits floor(w_d * T) exactly; binding domain keeps all-but-rounding") {
    // targets 0.5/0.3/0.2 → T = min(60/.5=120, 30/.3=100, 10/.2=50) = 50
    val got = DomainMix.mixCounts(docs, "dom", "id", hash,
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 25L, "b" -> 15L, "c" -> 10L))
  }

  test("domains without a target are dropped; selection is hash-deterministic") {
    val a = DomainMix.rebalance(docs, "dom", "id", hash, Map("a" -> 1.0))
    assert(a.select("dom").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
    val ids1 = a.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = DomainMix.rebalance(docs, "dom", "id", hash, Map("a" -> 1.0))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2 && ids1.size == 60)
  }

  test("temperature mix: smallest domain kept whole, big ones cut to ⌊√n_d·√n_min⌋") {
    // n = 60/30/10, √n_min = √10 → quotas ⌊√60·√10⌋=⌊√600⌋=24,
    // ⌊√30·√10⌋=⌊√300⌋=17, ⌊√10·√10⌋=10
    val got = DomainMix.temperatureMixCounts(docs, "dom", "id", hash)
      .collect().map(r => (r.getAs[String]("domain"),
        (r.getAs[Long]("n_domain"), r.getAs[Long]("n_kept")))).toMap
    assert(got == Map("a" -> (60L, 24L), "b" -> (30L, 17L), "c" -> (10L, 10L)))
  }

  test("temperature mix pins membership: kept_id_sum = sum of smallest-hash ids") {
    val perDom = DomainMix.temperatureMixCounts(docs, "dom", "id", hash)
      .collect().map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kept_id_sum"))).toMap
    val byHash = docs.withColumn("_h", hash)
      .collect().map(r => (r.getAs[String]("dom"), r.getAs[Long]("_h"), r.getAs[Long]("id")))
    perDom.foreach { case (d, (k, idSum)) =>
      val expect = byHash.filter(_._1 == d).sortBy(t => (t._2, t._3))
        .take(k.toInt).map(_._3).sum
      assert(idSum === expect, s"domain $d")
    }
  }

  test("the mix readouts rank a slim frame: no cached relation they read holds the text") {
    val withText = docs.withColumn("text", concat(lit("body of "), col("id").cast("string")))
    val readouts = Seq(
      DomainMix.mixCounts(withText, "dom", "id", hash, Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)),
      DomainMix.temperatureMixCounts(withText, "dom", "id", hash))
    readouts.foreach { out =>
      out.collect()
      val cached = PlanCheck.operators(out.queryExecution.executedPlan)
        .collect { case m: InMemoryTableScanExec => m.relation.output.map(_.name) }
      assert(cached.nonEmpty && cached.forall(!_.contains("text")), cached)
    }
  }

  test("kept rows are each domain's smallest-hash members") {
    val kept = DomainMix.rebalance(docs, "dom", "id", hash,
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
      .withColumn("_h", hash)
      .filter(col("dom") === "b")
      .select("_h").collect().map(_.getLong(0)).toSet
    val allB = docs.filter(col("dom") === "b").withColumn("_h", hash)
      .select("_h").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == allB.take(15).toSet)
  }
}
