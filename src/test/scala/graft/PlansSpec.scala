package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan shape assertions — the scale contract, enforced as tests.
  * These are the properties that decide whether a query survives 100×
  * data growth: shuffle count, filter pushdown into the parquet scan,
  * column pruning, and broadcast join selection.
  */
class PlansSpec extends SparkSpecBase {

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def countShuffles(p: SparkPlan): Int = {
    def walk(n: SparkPlan): Int = {
      val self = n match {
        case _: ShuffleExchangeExec => 1
        case _ => 0
      }
      val inner = n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ => 0
      }
      self + inner + n.children.map(walk).sum
    }
    walk(p)
  }

  private def explainStr(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("cohort labeling: both windows share ONE exchange (same partition key)") {
    val df = SparkEntry.queries("cohort_label")(spark, sfDir)
    // one shuffle for Window(partitionBy o_custkey); lead + backfill reuse it
    assert(countShuffles(plan(df)) == 1, s"expected 1 shuffle:\n${explainStr(df)}")
  }

  test("q1_agg: shipdate filter is pushed to the parquet scan; columns pruned") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$s")
    // projection must not read unused columns like l_orderkey/l_partkey
    assert(!s.contains("l_partkey"), s"column pruning failed:\n$s")
  }

  test("j2_join_agg: dimension side is broadcast, not shuffled") {
    val df = SparkEntry.queries("j2_join_agg")(spark, sfDir)
    assert(explainStr(df).contains("BroadcastHashJoin"), explainStr(df))
  }

  test("p8 regex filter reaches the scan as a data filter, not a post-shuffle step") {
    val df = SparkEntry.queries("p8_regex_filter")(spark, sfDir)
    assert(countShuffles(plan(df)) == 0, explainStr(df))
  }

  test("a4 pivot with explicit values runs no distinct-values job and ≤2 shuffles") {
    val df = SparkEntry.queries("a4_pivot_status")(spark, sfDir)
    // Spark's pivot is two aggregations: (group, pivotKey) then (group) —
    // 2 shuffles. Passing literal pivot values at least removes the
    // SELECT DISTINCT pre-job. (The 1-shuffle alternative is conditional
    // aggregation — exactly what the DuckDB oracle runs; the query keeps
    // .pivot to exercise that operator surface.)
    assert(countShuffles(plan(df)) == 2, explainStr(df))
  }

  test("whole-stage codegen covers the cohort expression pipeline") {
    val df = SparkEntry.queries("cohort_label")(spark, sfDir)
    df.collect() // execute THIS plan so AQE finalizes it; codegen nodes appear post-execution
    val tree = plan(df).toString
    // '*(n)' prefixes mark WholeStageCodegen stages in the tree string
    assert(tree.contains("*("), tree)
  }

  test("o2_shuffle_hash: hash-order 'shuffle' plans as TakeOrdered, never a global sort") {
    val df = SparkEntry.queries("o2_shuffle_hash")(spark, sfDir)
    // sort+limit must fuse into TakeOrderedAndProject: per-partition top-100
    // then a driver merge of 100-row heads — a global Sort would shuffle
    // the whole table to produce 100 rows
    assert(explainStr(df).contains("TakeOrderedAndProject"), explainStr(df))
  }

  test("sim_ivf_recall: corpus cluster assignment is an aggregate, not a window sort") {
    val df = graft.sim.Similarity.ivfRecall(
      graft.core.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      k = 3, nprobe = 2, nPivots = 4, nQueries = 3)
    val s = explainStr(df)
    // the corpus side must argmax via max_by partial aggregation (map-side
    // combine); a Window over corpus×pivots rows would sort the expansion
    assert(s.contains("max_by"), s)
  }

  test("t_tfidf: the tf→df join does not re-shuffle the tf side (partitioning reused)") {
    val df = SparkEntry.queries("t_tfidf")(spark, sfDir)
    // tf is grouped by (doc_id, term); df by (term); join on term.
    // Expected shuffles: tf agg, df agg, join repartition of tf side — the
    // plan must stay ≤4 exchanges (no accidental extra distinct/sort)
    assert(countShuffles(plan(df)) <= 4, explainStr(df))
  }

  test("s12_dpp_prune: fact scan carries a dynamic partition pruning filter") {
    val df = SparkEntry.queries("s12_dpp_prune")(spark, sfDir)
    val s = explainStr(df)
    // the dim's surviving keys must reach the partitioned fact scan as a
    // runtime partition filter — at 100 TB this is the difference between
    // scanning 2 partitions and scanning all of them
    assert(s.contains("dynamicpruning"), s)
  }

  test("fe_rfm: quintile ranks are range-partitioned — no SinglePartition window") {
    val df = SparkEntry.queries("fe_rfm")(spark, sfDir)
    df.collect()
    val tree = plan(df).toString
    assert(!tree.contains("SinglePartition"), tree)
  }

  test("a15_pareto_abc: cumulative share is a distributed prefix sum — the " +
    "only SinglePartition exchange feeds the ≤P-row offsets table, never " +
    "the |customers| frame") {
    val df = SparkEntry.queries("a15_pareto_abc")(spark, sfDir)
    df.collect()
    // adaptive toString prints Final + Initial sections — read the FINAL
    // plan only
    val full = plan(df).toString
    val tree = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // r11: RunningTotal is fully lazy, so its bounded funnels are visible
    // in the plan instead of hidden behind an eager persist — exactly
    // two SinglePartition exchanges: the offsets prefix window (≤ P
    // per-partition totals) and the 1-row grand-total aggregate, both
    // broadcast back. The customer-sized path must stay partitioned
    // (range + _pid clustering) with the ranged exchange REUSED, not
    // recomputed, by the offsets/total subtrees.
    assert(tree.split("SinglePartition").length - 1 == 2, tree)
    assert(tree.contains("hashpartitioning(_pid"), tree)
    assert(tree.contains("ReusedExchange"), tree)
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

  test("sql_q21_blame: EXISTS/NOT EXISTS plan as semi + anti joins, not " +
    "per-row subquery probes") {
    val df = SparkEntry.queries("sql_q21_blame")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("LeftSemi"), s)
    assert(s.contains("LeftAnti"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("pipeline_curation: staged funnel plan — every join is hash/broadcast " +
    "keyed (no cartesian), and the benchmark probe side broadcasts") {
    val df = SparkEntry.queries("pipeline_curation")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastExchange"), s)
  }

  test("sim_ivfpq_topk: pivots/codebook/query side broadcast; the corpus is " +
    "never cartesian-joined against itself") {
    val df = SparkEntry.queries("sim_ivfpq_topk")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastExchange"), s)
  }

  test("t_quality_cascade: one scan, one exchange — the whole cascade is " +
    "codegen'd column expressions feeding a tiny agg") {
    val df = SparkEntry.queries("t_quality_cascade")(spark, sfDir)
    assert(countShuffles(plan(df)) <= 1, explainStr(df))
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
      def windows(p: SparkPlan): Seq[org.apache.spark.sql.execution.window.WindowExec] = {
        val here = p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
        val inner = p.collect { case a: AdaptiveSparkPlanExec => windows(a.executedPlan) }.flatten
        // AQE wraps materialized stages: their plans are fields, not children
        val stages = p.collect {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => windows(q.plan)
        }.flatten
        here ++ inner ++ stages
      }
      val ws = windows(plan(df))
      val (ranked, tiny) = ws.partition(_.partitionSpec.nonEmpty)
      // the corpus-sized rank: partitioned by _pid (range-partition id), and
      // NEVER by the 5-value domain column — no task sorts a whole domain
      assert(ranked.nonEmpty, s"no partitioned window found:\n${plan(df)}")
      assert(ranked.forall(w =>
          w.partitionSpec.exists(_.toString.contains("_pid")) &&
          !w.partitionSpec.exists(_.toString.contains("lang"))),
        s"rank window not bounded by range pid:\n${plan(df)}")
      // unpartitioned windows allowed ONLY over the |domains|-row count
      // frame (its input carries the _n_d aggregate column)
      assert(tiny.forall(_.child.output.exists(_.name == "_n_d")),
        s"data-sized unpartitioned window:\n${plan(df)}")
    }
  }

  test("pipeline_relational: patients dim broadcast; no cartesian; cohort " +
    "windows partitioned (no SinglePartition funnel over the fact side)") {
    val df = SparkEntry.queries("pipeline_relational")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("w6_global_rownum: no SinglePartition exchange (the naive window's funnel)") {
    val df = SparkEntry.queries("w6_global_rownum")(spark, sfDir)
    df.collect()
    val tree = plan(df).toString
    assert(!tree.contains("SinglePartition"), tree)
  }

  test("ev_funnel: every stage's type predicate is pushed into its parquet scan") {
    val df = SparkEntry.queries("ev_funnel")(spark, sfDir)
    val s = explainStr(df)
    for (stage <- Seq("view", "click", "purchase"))
      assert(s.contains(s"EqualTo(event_type,$stage)"), s"stage $stage not pushed:\n$s")
  }

  test("d_prefix_jaccard: candidate generation is an equi-join, never a cartesian") {
    val df = SparkEntry.queries("d_prefix_jaccard")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("fe_quantile_bin: cutpoints never funnel the data through one task") {
    val df = SparkEntry.queries("fe_quantile_bin")(spark, sfDir)
    df.collect()
    // the only SinglePartition allowed is the final ≤bins-row aggregate
    // merge; the per-value CDF must stay range-partitioned (the cutpoint
    // subtree rides the broadcast side of the binning join)
    val s = explainStr(df).toLowerCase
    assert(s.contains("rangepartitioning"), s)
  }

  test("d_contamination: probe shingle set broadcasts; corpus side is never self-joined") {
    val df = SparkEntry.queries("d_contamination")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("SortMergeJoin"), s)
  }

  test("ml_lift: global ranking is range-partitioned, never a data-sized single task") {
    val df = SparkEntry.queries("ml_lift")(spark, sfDir)
    val s = explainStr(df).toLowerCase
    // GlobalRowNumber's range partitioning carries the data; the only
    // single-partition window runs on the k-row bucket aggregate
    assert(s.contains("rangepartitioning"), s)
  }

  test("j13_interval_overlap: grid join is an equi-join, never a nested loop") {
    val df = SparkEntry.queries("j13_interval_overlap")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("g_triangles: wedge and closing joins are hash joins, never nested loops") {
    val df = SparkEntry.queries("g_triangles")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    // the single tolerated nested-loop is the final 1-row × 1-row scalar
    // combine (n_edges × n_triangles); every data-sized join must hash
    val tree = plan(df).toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(tree).size <= 1, tree)
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin") ||
      s.contains("BroadcastHashJoin"), s)
  }

  test("ev_rolling24h: exactly one exchange (entity hash), frame is streaming") {
    val df = SparkEntry.queries("ev_rolling24h")(spark, sfDir)
    assert(countShuffles(plan(df)) == 1, s"expected 1 shuffle:\n${explainStr(df)}")
  }

  test("fe_neg_pairs: probes meet candidates in a bucket equi-join, no cross join") {
    val df = SparkEntry.queries("fe_neg_pairs")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("sql_q5_local: the dimension chain broadcasts (no fact-side re-shuffle per dim)") {
    val df = SparkEntry.queries("sql_q5_local")(spark, sfDir)
    val tree = plan(df).toString
    // customer/supplier/nation/region are dimension-sized: at least three
    // broadcast joins must appear; the lineitem probe stream never
    // repartitions through the dim chain
    assert("BroadcastHashJoin".r.findAllIn(tree).size >= 3, tree)
    assert(!tree.contains("CartesianProduct"), tree)
  }

  test("fe_crossfit_encode: one data-sized aggregation; windows run on the cell table") {
    val df = SparkEntry.queries("fe_crossfit_encode")(spark, sfDir)
    df.collect()
    // count scans in the FINAL plan only — AdaptiveSparkPlan's toString
    // appends the initial plan, which would double-count the scan
    val tree = plan(df).toString.split("== Initial Plan ==")(0)
    // exactly one scan of orders: the data reduces to |cats|x|folds| cells
    // in one pass and every complement is a window over that tiny frame
    assert("FileScan parquet".r.findAllIn(tree).size == 1, tree)
  }

  test("sk_cms_err: the d x w sketch BROADCASTS to the probe side") {
    val df = SparkEntry.queries("sk_cms_err")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("fe_mix_sample: keep thresholds broadcast; no window over the corpus") {
    val df = SparkEntry.queries("fe_mix_sample")(spark, sfDir)
    val s = explainStr(df)
    // the mixture plan must be counts -> tiny threshold table -> scan
    // filter; a per-domain window sort would single-thread each domain
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("Window"), s)
  }

  test("ev_ohlc: single agg pass, no per-(key,hour) window sort") {
    val df = SparkEntry.queries("ev_ohlc")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("Window"), s)
    // partial-agg before the exchange: min_by/max_by are algebraic
    assert(countShuffles(plan(df)) == 1, s)
  }

  test("g_common_neighbors: no cartesian/nested-loop; wedge pairs stay array-side") {
    val df = SparkEntry.queries("g_common_neighbors")(spark, sfDir)
    df.collect()
    val tree = plan(df).toString
    assert(!tree.contains("CartesianProduct"), tree)
    assert(!tree.contains("BroadcastNestedLoopJoin"), tree)
  }

  test("t_scrub_pii: redaction is scan-speed — zero shuffles, pure projection") {
    val df = SparkEntry.queries("t_scrub_pii")(spark, sfDir)
    assert(countShuffles(plan(df)) == 0, explainStr(df))
    assert(!explainStr(df).contains("Window"), explainStr(df))
  }

  test("sk_kmv_distinct: the k-smallest funnel is a TakeOrdered, never a global sort") {
    val df = SparkEntry.queries("sk_kmv_distinct")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("TakeOrderedAndProject"), s)
    // a Sort OPERATOR would mean the full hash set is globally sorted to
    // find 64 values; \b keeps SortAggregate/SortMergeJoin out of scope
    // and matches at any nesting depth
    assert("""\bSort\b""".r.findFirstIn(s).isEmpty, s)
  }

  test("sk_bloom_fp: the bit relation reaches probes via broadcast") {
    val df = SparkEntry.queries("sk_bloom_fp")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("ev_debounce: session cumsum and keeper-pick share the (user) exchange") {
    val df = graft.ops.TimeSeriesOps.debounce(
      graft.core.Tables.events(spark, sfDir), "user_id", "ts", "event_id", 1800L)
    // one shuffle for Window(partitionBy user_id); the (user, session)
    // keeper window preserves that partitioning — no second exchange
    assert(countShuffles(plan(df)) == 1, explainStr(df))
  }

  test("dp_profile: all columns profile through ONE Expand scan, not k jobs") {
    val df = SparkEntry.queries("dp_profile")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("Expand"), s)
    // exactly one parquet scan of lineitem in the whole plan (tree form —
    // the formatted explain repeats each node in its detail section)
    val tree = plan(df).toString
    assert("FileScan parquet".r.findAllIn(tree).size == 1, tree)
  }

  test("fe_binned_woe: the 1-row cutpoint frame broadcasts onto the scan") {
    val df = SparkEntry.queries("fe_binned_woe")(spark, sfDir)
    val s = explainStr(df)
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    // no data-sized sort anywhere: bin math is a projection, per-bin
    // totals ride a window over the |bins|-sized aggregate
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("ev_attribution: window + final agg only — never a conversions×touches join") {
    val df = SparkEntry.queries("ev_attribution")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("Join"), s)
    assert(countShuffles(plan(df)) <= 3, s)
  }

  test("a14_mode_per_group: the row_number runs over the counts table (2 shuffles)") {
    val df = SparkEntry.queries("a14_mode_per_group")(spark, sfDir)
    assert(countShuffles(plan(df)) == 2, explainStr(df))
  }

  test("fe_lag_features: daily hash-agg plus ONE window exchange") {
    val df = SparkEntry.queries("fe_lag_features")(spark, sfDir)
    assert(countShuffles(plan(df)) == 2, explainStr(df))
  }

  test("ev_cum_uniques: running sum is post-aggregation — data shuffles only to aggs") {
    val df = SparkEntry.queries("ev_cum_uniques")(spark, sfDir)
    // user-agg exchange + day-agg exchange + the |days|-sized single-
    // partition window exchange; the data itself moves at most twice
    assert(countShuffles(plan(df)) == 3, explainStr(df))
  }

  test("ev_rolling_wau: sliding distinct rides aggs, never a window over raw events") {
    val df = SparkEntry.queries("ev_rolling_wau")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("Window"), s)
    // (user, day) distinct + the two-phase per-day distinct count
    assert(countShuffles(plan(df)) <= 3, s)
  }

  test("fe_rfm: data collapses once; three parallel ranked passes score the " +
    "per-customer frame") {
    val df = SparkEntry.queries("fe_rfm")(spark, sfDir)
    // visible shuffles: the last GlobalRowNumber's range exchange (the
    // two inner rank frames are persisted InMemoryRelations whose own
    // range exchanges ran at pin time); what matters is that NONE of
    // them is a SinglePartition funnel — asserted in the companion test
    assert(countShuffles(plan(df)) <= 3, explainStr(df))
  }

  test("a15_pareto_abc: distributed prefix sum + class agg — duplicated " +
    "subtrees collapse to reused exchanges at runtime") {
    val df = SparkEntry.queries("a15_pareto_abc")(spark, sfDir)
    // r11: the lazy RunningTotal references its ranged subtree from three
    // places (main cumsum, offsets, grand total), so the STATIC plan
    // repeats the upstream exchanges; what matters at scale is the
    // EXECUTED plan, where AQE exchange reuse must collapse the
    // duplicates — count after running. Distinct shuffles: custkey agg,
    // range partition, _pid totals agg, offsets SinglePartition (≤P
    // rows), the window's _pid clustering, class agg = 6.
    df.collect()
    assert(countShuffles(plan(df)) <= 6, explainStr(df))
    val tree = plan(df).toString
    assert(tree.contains("ReusedExchange"),
      s"expected the ranged subtree's exchanges to be reused:\n$tree")
  }

  test("t_ngram_novelty: first-occurrence agg and join share the shingle exchange") {
    val df = SparkEntry.queries("t_ngram_novelty")(spark, sfDir)
    val s = explainStr(df)
    // shingle-partitioned agg + shingle equi-join + doc agg; the exploded
    // shingle table must not shuffle more than that
    assert(countShuffles(plan(df)) <= 4, s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("d_chunk_dedup: frequency join is an equi-join; chunk and doc aggs only") {
    val df = SparkEntry.queries("d_chunk_dedup")(spark, sfDir)
    val s = explainStr(df)
    // chunk-frequency agg + chunk equi-join + per-doc reassembly agg —
    // linear in corpus size, nothing pairwise
    assert(countShuffles(plan(df)) <= 4, s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("ml_survival_km: the n_risk window never sees data-sized input") {
    val df = SparkEntry.queries("ml_survival_km")(spark, sfDir)
    val s = explainStr(df)
    // join + duration hash-agg are the data-sized stages; the
    // single-partition window exchange runs over per-timepoint rows only,
    // so it must sit ABOVE the aggregate in the plan
    val aggIdx = s.indexOf("HashAggregate")
    val spIdx = s.indexOf("SinglePartition")
    assert(aggIdx >= 0 && spIdx >= 0, s)
    assert(countShuffles(plan(df)) <= 4, s)
  }

  test("p14_unpivot: melt is an executor-side Expand — zero shuffles") {
    val df = SparkEntry.queries("p14_unpivot")(spark, sfDir)
    val s = explainStr(df)
    assert(countShuffles(plan(df)) == 0, s)
    assert(s.contains("Expand"), s)
  }

  test("sql_q18_bigorders: the HAVING-IN subquery plans as a join, not a per-row probe") {
    val df = SparkEntry.queries("sql_q18_bigorders")(spark, sfDir)
    val s = explainStr(df)
    // the IN (SELECT ... HAVING) filter must become a (semi/inner) hash
    // join against the aggregated subquery — a subquery re-evaluated per
    // probe row would be quadratic at scale
    assert(s.contains("Join"), s)
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
  }

  test("w9_window_suite: all four window functions share ONE exchange") {
    val df = SparkEntry.queries("w9_window_suite")(spark, sfDir)
    assert(countShuffles(plan(df)) == 1, explainStr(df))
  }

  test("o14_group_sample_k: per-stratum draw rides TopKPerKey, not a window sort") {
    val df = SparkEntry.queries("o14_group_sample_k")(spark, sfDir)
    val s = plan(df).toString
    // bounded-heap partial + final with ONE exchange between them
    assert(s.contains("TopKPerKey"), s)
    assert(countShuffles(plan(df)) == 1, explainStr(df))
  }

  test("d_dup_spans: island merge windows partition by doc_id (high-" +
    "cardinality, bounded by one doc's length) — no corpus-wide funnel") {
    val df = SparkEntry.queries("d_dup_spans")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("SinglePartition"), s)
    assert(!s.contains("CartesianProduct"), s)
    // every window is doc_id-partitioned
    assert(s.contains("windowspecdefinition(doc_id"), s)
  }

  test("sim_pqtrain_topk: centroids and LUT broadcast every round; the " +
    "corpus is never cartesian-joined") {
    val df = SparkEntry.queries("sim_pqtrain_topk")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastExchange"), s)
  }

  test("pipeline_rag: queries broadcast against the curated index; no " +
    "cartesian; the corpus-sized frames join hash-keyed") {
    val df = SparkEntry.queries("pipeline_rag")(spark, sfDir)
    val s = explainStr(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastExchange"), s)
  }

  test("o21_temp_mix: like o20, the rank window is bounded by the range-" +
    "partition pid, never the low-cardinality domain key") {
    val df = SparkEntry.queries("o21_temp_mix")(spark, sfDir)
    df.collect()
    val s = explainStr(df)
    // the data-sized rank window partitions by the range-partition pid…
    assert(s.contains("windowspecdefinition(_pid"), s)
    // …and NO window uses lang as a PARTITION key (a partition-list entry
    // renders bare, without the ASC/DESC an order-spec entry carries; the
    // |domains|-row offsets window legitimately ORDERS by lang)
    assert(!"""\], \[lang#\d+\], \[""".r.findFirstIn(s).isDefined, s)
    assert(!"""windowspecdefinition\(lang#\d+,""".r.findFirstIn(s).isDefined, s)
  }

  test("mimic_rrf_retrieval: both legs are TakeOrdered-bounded, the query-" +
    "side counts broadcast, and nothing corpus-sized crosses a cartesian") {
    val df = SparkEntry.queries("mimic_rrf_retrieval")(spark, sfDir)
    val s = explainStr(df)
    // each leg's top-100 cut is a bounded-heap TakeOrderedAndProject —
    // the corpus is never globally sorted
    assert(s.contains("TakeOrderedAndProject"), s)
    // the ≤3,000-row query-count side broadcasts onto the word-keyed agg
    assert(s.contains("BroadcastExchange"), s)
    assert(!s.contains("CartesianProduct"), s)
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
    val s = explainStr(df)
    // the sparse path bands and measures through the native vector_dot
    // expression; a vector_to_array anywhere would re-materialize every
    // 3,019-wide row as a 24 KB dense array per collision
    assert(!s.contains("vector_to_array"), s)
    assert(s.toLowerCase.contains("vector_dot"), s)
  }
}
