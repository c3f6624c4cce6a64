package graft

import org.apache.spark.sql.execution.window.WindowExec

import graft.plans.PlanCheck

/** Physical-plan shape, the scale contract: one test per row of
  * [[PlanAudit.table]] (a row that computes while it is built has no plan
  * to check), claims about single rows checked apart from their table row,
  * then the plan claims about frames the registry does not build and the
  * one value check a build-time row needs.
  */
class PlansSpec extends SparkSpecBase {

  private def audited(title: String, row: PlanAudit.Row): Unit = test(title) {
    val audit = PlanAudit.audit(spark, sfDir, row)
    assert(audit.ok, s"${audit.report}\n${audit.plan}")
  }

  /** A claim about one registry row's plan, checked apart from its table row. */
  private def claim(title: String, query: String, mode: PlanAudit.Mode)(checks: PlanCheck*): Unit =
    audited(title, PlanAudit.Row(query, title, mode, checks))

  for (row <- PlanAudit.table if row.mode != PlanAudit.Built) audited(row.title, row)

  // one shuffle for Window(partitionBy o_custkey); lead + backfill reuse it
  claim("cohort labeling: both windows share ONE exchange (same partition key)",
    "cohort_label", PlanAudit.Planned)(
    PlanCheck.Shuffles(PlanCheck.Exactly(1)),
    PlanCheck.Shuffles(PlanCheck.Exactly(1), PlanCheck.HashOn("o_custkey")))

  // codegen stages appear once the query has run and adaptive execution
  // has finalized the plan
  claim("whole-stage codegen covers the cohort expression pipeline",
    "cohort_label", PlanAudit.Executed)(
    PlanCheck.Node("WholeStageCodegen", PlanCheck.AtLeast(1)))

  // the orders collapse to per-customer rows in one o_custkey exchange; the
  // recency, frequency and monetary quintiles are three range-partitioned
  // GlobalRowNumber passes over that frame, none through one task
  claim("fe_rfm: data collapses once; three parallel ranked passes score the " +
    "per-customer frame", "fe_rfm", PlanAudit.Planned)(
    PlanCheck.Shuffles(PlanCheck.Exactly(1), PlanCheck.HashOn("o_custkey")),
    PlanCheck.Shuffles(PlanCheck.Exactly(3), PlanCheck.Range),
    PlanCheck.Shuffles(PlanCheck.Exactly(0), PlanCheck.Single))

  // the lazy RunningTotal references its ranged subtree from three places
  // (main cumsum, offsets, grand total), so the static plan repeats the
  // upstream exchanges; the executed plan must collapse the duplicates
  // into reused exchanges. Distinct shuffles: custkey agg, range
  // partition, _pid totals agg, offsets SinglePartition (≤P rows), 1-row
  // grand-total SinglePartition, the window's _pid clustering, class agg.
  claim("a15_pareto_abc: distributed prefix sum + class agg — duplicated " +
    "subtrees collapse to reused exchanges at runtime", "a15_pareto_abc", PlanAudit.Executed)(
    PlanCheck.Shuffles(PlanCheck.Exactly(7)),
    PlanCheck.Node("ReusedExchange", PlanCheck.AtLeast(1)))

  test("sim_ivf_recall: corpus cluster assignment is an aggregate, not a window sort") {
    val df = graft.sim.Similarity.ivfRecall(
      graft.core.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      k = 3, nprobe = 2, nPivots = 4, nQueries = 3)
    val s = tools.DumpPlans.render(df)
    // the corpus side must argmax via max_by partial aggregation (map-side
    // combine); a Window over corpus×pivots rows would sort the expansion
    assert(s.contains("max_by"), s)
  }

  test("ml_auc_rank: the partition-decomposed Mann-Whitney sum equals the " +
    "naive global-window form exactly") {
    // aucRocDf computes eagerly (one ranged job, ≤P partials to the
    // driver, LocalRelation out) so the scale property can't be read off
    // the returned plan; pin VALUE equality against the windowed form
    // the decomposition replaces instead.
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val scored = SparkEntry.queries("p_proj_filter")(spark, sfDir).sparkSession
      .read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_totalprice").as("score"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0).otherwise(0.0).as("y"))
    val got = SparkEntry.queries("ml_auc_rank")(spark, sfDir).collect()(0).getDouble(0)
    val byScore = scored.groupBy(col("score").as("s"))
      .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") =!= 1.0, 1L).otherwise(0L)).as("nn"))
    val w = W.orderBy(col("s"))
    val want = byScore
      .withColumn("cb", coalesce(sum(col("np") + col("nn"))
        .over(w.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ar", col("cb") + (col("np") + col("nn") + 1L) / 2.0)
      .agg(sum(col("np") * col("ar")).as("prs"), sum("np").as("npos"), sum("nn").as("nneg"))
      .select(((col("prs") - col("npos").cast("double") * (col("npos") + 1) / 2.0) /
        (col("npos").cast("double") * col("nneg"))).as("auc"))
      .collect()(0).getDouble(0)
    assert(got == want, s"decomposed $got vs windowed $want")
  }

  test("o20_domain_mix: the data-sized rank window is partitioned by the " +
    "RANGE-partition pid (bounded ~1/P tasks), never by the low-cardinality " +
    "domain key; the only unpartitioned window runs over the |domains|-row " +
    "count table") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    graft.Materialize.scoped() {
      val df = graft.ops.DomainMix.rebalance(
        docs, "lang", "doc_id",
        registry.Shared.permilleHash1M(col("doc_id"), ":mix"),
        Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
      df.collect()
      val plan = df.queryExecution.executedPlan
      val ws = PlanCheck.operators(plan).collect { case w: WindowExec => w }
      val (ranked, tiny) = ws.partition(_.partitionSpec.nonEmpty)
      // the corpus-sized rank: partitioned by _pid (range-partition id), and
      // NEVER by the 5-value domain column — no task sorts a whole domain
      assert(ranked.nonEmpty, s"no partitioned window found:\n$plan")
      assert(ranked.forall(w =>
          w.partitionSpec.exists(_.toString.contains("_pid")) &&
          !w.partitionSpec.exists(_.toString.contains("lang"))),
        s"rank window not bounded by range pid:\n$plan")
      // unpartitioned windows allowed ONLY over the |domains|-row count
      // frame (its input carries the _n_d aggregate column)
      assert(tiny.forall(_.child.output.exists(_.name == "_n_d")),
        s"data-sized unpartitioned window:\n$plan")
    }
  }

  test("ev_debounce: session cumsum and keeper-pick share the (user) exchange") {
    val df = graft.ops.TimeSeriesOps.debounce(
      graft.core.Tables.events(spark, sfDir), "user_id", "ts", "event_id", 1800L)
    // one shuffle for Window(partitionBy user_id); the (user, session)
    // keeper window preserves that partitioning — no second exchange
    val ops = PlanCheck.operators(df.queryExecution.executedPlan)
    assert(PlanCheck.Shuffles(PlanCheck.Exactly(1)).holds(ops), tools.DumpPlans.render(df))
  }

  test("sparse radius join: vectors stay UDT end to end — no vector_to_array " +
    "densification node anywhere in the plan (the r9 NearMiss/SMOTE win)") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val vecs = Seq(
      (1L, Vectors.sparse(3019, Array(0, 7), Array(1.0, 2.0))),
      (2L, Vectors.sparse(3019, Array(0, 9), Array(1.0, 1.0))),
      (3L, Vectors.sparse(3019, Array(7, 11), Array(3.0, 1.0)))
    ).toDF("id", "features")
    val df = graft.ml.NativeLsh.radiusJoin(
      vecs, vecs, "id", "features", radius = 12.0, bucketLength = 6.0,
      dim = 3019, sparseAware = true)
    val s = tools.DumpPlans.render(df)
    // the sparse path bands and measures through the native vector_dot
    // expression; a vector_to_array anywhere would re-materialize every
    // 3,019-wide row as a 24 KB dense array per collision
    assert(!s.contains("vector_to_array"), s)
    assert(s.toLowerCase.contains("vector_dot"), s)
  }
}
