package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.plans.PlanCheck
import graft.plans.PlanCheck._

/** The registry's plan contract: each row named here, one sentence of why
  * its plan shape scales, and the [[PlanCheck]]s its physical plan must
  * pass. PlansSpec runs one test per row at sf0.001; this main writes the
  * table, each check's verdict and each plan to a markdown file, and exits
  * 1 when a check fails or a row's build-time status disagrees with
  * [[Built]]:
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 PLANS.md"
  */
object PlanAudit {

  /** When a row's checks read its plan. */
  sealed trait Mode
  /** The physical plan as planned, before the query runs. */
  case object Planned extends Mode
  /** The final plan after the query ran (adaptive execution's stages,
    * exchange reuse and codegen are only there). */
  case object Executed extends Mode
  /** The row computes while it is built, so its plan is only a scan of the
    * result: it has no checks, and it is not a test. */
  case object Built extends Mode

  final case class Row(name: String, reason: String, mode: Mode, checks: Seq[PlanCheck]) {
    def title: String = s"$name: $reason"
  }

  /** One row's plan, checked. */
  final case class Audit(row: Row, computedAtBuild: Boolean, plan: String,
      verdicts: Seq[(PlanCheck, Boolean)]) {
    def buildStatusHolds: Boolean = computedAtBuild == (row.mode == Built)
    def ok: Boolean = buildStatusHolds && verdicts.forall(_._2)
    def report: String = {
      val status =
        if (buildStatusHolds) Nil
        else Seq(s"- FAIL: the table lists it as ${row.mode}, but it " +
          (if (computedAtBuild) "computes at build time" else "builds lazily"))
      val checks = verdicts.map { case (c, held) =>
        s"- ${if (held) "pass" else "FAIL"}: ${c.describe}"
      }
      (status ++ checks).mkString("\n")
    }
  }

  private def planned(name: String, reason: String)(checks: PlanCheck*) =
    Row(name, reason, Planned, checks)
  private def executed(name: String, reason: String)(checks: PlanCheck*) =
    Row(name, reason, Executed, checks)
  private def built(name: String, reason: String) = Row(name, reason, Built, Nil)

  private def shuffles(n: Int) = Shuffles(Exactly(n))
  private def shufflesAtMost(n: Int) = Shuffles(AtMost(n))
  private def singlePartition(c: Count) = Shuffles(c, Single)
  private val noSinglePartition = singlePartition(Exactly(0))
  private def ranged(c: Count) = Shuffles(c, Range)
  private def hashOn(key: String, c: Count) = Shuffles(c, HashOn(key))
  private def has(op: String) = Node(op, AtLeast(1))
  private def no(op: String) = Node(op, Exactly(0))
  private val noCartesian = no("CartesianProduct")
  private val noNestedLoop = no("BroadcastNestedLoopJoin")
  private def pushed(text: String) = ScanFilter(text)
  private def partitionFilter(text: String) = ScanFilter(text, partition = true)
  private val noUnpartitionedWindow = WindowBy("", Exactly(0))

  /** Every row with a plan claim, in the order PLANS.md prints them. */
  val table: Seq[Row] = Seq(
    planned("mimic_cohort_counts", "generation is a file-free Range scan, and the cohort " +
      "labeling costs one patient-keyed shuffle shared by the gap cumsum and both cohort " +
      "windows, then a partial-agg count")(
      no("FileSourceScan"), has("Range"), hashOn("s", Exactly(1)), shuffles(2),
      WindowBy("SUBJECT_ID", AtLeast(2))),
    planned("mimic_pipeline_relational", "the diagnosis explode partial-aggregates to " +
      "per-admission counts before joining, and nothing joins as a cartesian or funnels " +
      "through one task")(
      has("Generate"), noCartesian, noNestedLoop, noSinglePartition),
    planned("mimic_notes_vocab", "the top-3,000 cut is a TakeOrderedAndProject over the " +
      "map-side token counts, never a global sort of the vocabulary")(
      has("TakeOrderedAndProject"), ranged(Exactly(0)), hashOn("word", Exactly(1))),
    planned("sql_q2_mincost", "the correlated scalar-min subquery decorrelates into an " +
      "aggregate on ps_partkey joined back, and the dimensions broadcast")(
      hashOn("ps_partkey", AtLeast(1)), has("BroadcastHashJoin"), noCartesian),
    planned("sql_q20_excess", "the nested correlated quantity sum decorrelates into one " +
      "aggregated lineitem join on (l_partkey, l_suppkey), with the shipdate filter " +
      "pushed to the scan")(
      hashOn("l_partkey", Exactly(1)), pushed("GreaterThanOrEqual(l_shipdate"),
      Joins("LeftSemi", AtLeast(1)), noCartesian),
    planned("sim_rrf_fusion", "the dense leg broadcasts the query vector over the corpus " +
      "scan, and the fusion of the two ranked lists ends in a TakeOrdered top-20")(
      has("TakeOrderedAndProject"), has("BroadcastExchange"), noCartesian),
    planned("mimic_rrf_retrieval", "both legs are TakeOrdered-bounded, the query-side " +
      "counts broadcast, and nothing corpus-sized crosses a cartesian")(
      has("TakeOrderedAndProject"), has("BroadcastExchange"), noCartesian),
    built("mimic_csv_roundtrip", "the CSV roundtrip writes, re-reads and deletes its " +
      "scratch files while the row is built; the sink's one-file-per-partition contract " +
      "is spec'd in Sinks.csv's spec and the content by the oracle hash"),
    planned("ml_feature_select", "the MI ranking collapses the sampled features in one " +
      "explode and hash-agg, and the top-n cut is a broadcast cross join of two tiny frames")(
      has("Generate"), Joins("Cross", AtLeast(1)), noCartesian),
    built("mimic_feature_select", "the MIMIC-scale MI selection ranks its 3,019 features " +
      "while the row is built"),
    planned("q1_agg", "shipdate filter is pushed to the parquet scan; columns pruned")(
      pushed("IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), Unread("l_partkey"),
      Unread("l_orderkey"), Unread("l_suppkey"), Unread("l_linenumber"),
      Node("HashAggregate", Exactly(2)), shuffles(1)),
    planned("p_proj_filter", "both acctbal predicates are pushed to the scan, only the " +
      "projected columns are read, and nothing shuffles")(
      pushed("IsNotNull(c_acctbal)"), pushed("GreaterThan(c_acctbal,0.0)"),
      Unread("c_nationkey"), Unread("c_mktsegment"), shuffles(0)),
    planned("j3_threeway", "the three dimension joins broadcast, so the fact side never " +
      "repartitions")(
      Node("BroadcastHashJoin", Exactly(3)), no("SortMergeJoin"), shuffles(1)),
    executed("cohort_label", "both windows share ONE exchange (same partition key), and " +
      "whole-stage codegen covers the pipeline")(
      shuffles(1), hashOn("o_custkey", Exactly(1)), WindowBy("o_custkey", Exactly(2)),
      has("WholeStageCodegen")),
    planned("w3_last_per_group", "RowNumberTopKRule rewrites row_number() = 1 into the " +
      "bounded-heap TopKPerKey pair, with no window and no sort")(
      Node("TopKPerKey", Exactly(2)), no("Window"), no("Sort"), shuffles(1)),
    planned("w5_topk_per_key", "the native TopKPerKey partial runs before the one " +
      "exchange and the final after it")(
      Node("TopKPerKey", Exactly(2)), no("Window"), shuffles(1)),
    planned("sql_window_top", "the same row_number() = 1 pattern through SQL plans as the " +
      "TopKPerKey pair too")(
      Node("TopKPerKey", Exactly(2)), no("Window")),
    planned("s7_partitioned_prune", "the priority predicate prunes partition directories " +
      "at planning time")(
      partitionFilter("(o_orderpriority = 1-URGENT)")),
    planned("d_minhash_pairs", "MinHash rides one aggregate over exploded shingles and " +
      "the band join is an equi-join, never a cross join")(
      has("Generate"), noCartesian, noNestedLoop),
    planned("d_embed_neardup", "random-hyperplane LSH blocks candidates by band-bucket " +
      "equi-joins, so no quadratic pair join exists")(
      noCartesian, noNestedLoop),
    planned("skew_salted_agg", "two aggregate and exchange pairs: the salted stage spreads " +
      "a hot key over 16 reducers, the second merges the partials")(
      shuffles(2), hashOn("l_returnflag", Exactly(2)), Node("HashAggregate", Exactly(4))),
    planned("a4_pivot_status", "explicit pivot values run no distinct-values job; " +
      "exactly 2 shuffles")(
      shuffles(2), Node("FileSourceScan", Exactly(1))),
    executed("ev_stream_hourly", "the micro-batch plan keeps the windowed counts in a " +
      "state store around the partial and final aggregates, bounded by the watermark")(
      has("StateStoreRestore"), has("StateStoreSave"), has("EventTimeWatermark")),
    planned("s11_bucketed_join", "the join reads bucketed layouts, so neither side " +
      "shuffles on the join key")(
      hashOn("o_custkey", Exactly(0)), hashOn("c_custkey", Exactly(0))),
    planned("s12_dpp_prune", "fact scan carries a dynamic partition pruning filter")(
      partitionFilter("dynamicpruningexpression")),
    executed("w6_global_rownum", "no SinglePartition exchange (the naive window's funnel)")(
      noSinglePartition, ranged(Exactly(1)), WindowBy("_pid", AtLeast(1))),
    planned("j9_salted_join", "the dimension side is salted by an explode and the join " +
      "stays a keyed hash join, never a nested loop")(
      has("Generate"), noNestedLoop, noCartesian),
    planned("d_filter_pipeline", "every quality signal is a codegen'd expression on the " +
      "scan side, and the one data-sized shuffle feeds the fingerprint window")(
      hashOn("fp", Exactly(1)), WindowBy("fp", Exactly(1)), Node("FileSourceScan", Exactly(1))),
    planned("j10_asof_join", "the as-of match is a union of both inputs and one window " +
      "over one exchange, never a nested loop or cartesian")(
      has("Union"), hashOn("_asof_k", Exactly(1)), WindowBy("_asof_k", Exactly(1)),
      noNestedLoop, noCartesian),
    planned("j11_range_join", "the 4-row interval dimension broadcasts into a nested-loop " +
      "join, so the probe side never shuffles for the non-equi condition")(
      Node("BroadcastNestedLoopJoin", Exactly(1)), no("SortMergeJoin"), noCartesian),
    planned("j12_bloom_semi", "the exact semi-join that clears the bloom filter's false " +
      "positives broadcasts")(
      Joins("LeftSemi", AtLeast(1)), has("BroadcastHashJoin")),
    planned("t_pack_windows", "the global token-axis cumsum is a range repartition plus " +
      "per-partition windows, with no SinglePartition exchange")(
      noSinglePartition, ranged(Exactly(1)), WindowBy("_pid", AtLeast(1))),
    planned("sim_sq8_topk", "the query side broadcasts and the per-query rank is bounded " +
      "before its one exchange")(
      has("BroadcastExchange"), has("WindowGroupLimit"), hashOn("query_id", Exactly(1))),
    planned("sim_pq_topk", "the codebook broadcasts, the argmin is an aggregate, and the " +
      "only window is the bounded per-query rank")(
      has("BroadcastHashJoin"), Node("Window", Exactly(1)), has("WindowGroupLimit"),
      noCartesian),
    planned("d_cluster_keep", "the keep-policy is one max_by aggregate per cluster, with " +
      "no window sort")(
      no("Window"), hashOn("rep_id", Exactly(1))),
    planned("s13_zorder_stats", "the verification buckets are a GlobalRowNumber rank over " +
      "a range exchange, with no SinglePartition sort")(
      noSinglePartition, ranged(Exactly(1)), WindowBy("_pid", AtLeast(1))),
    planned("sim_prefix_rerank", "the corpus-wide stage ranks through the TopKPerKey pair, " +
      "so neither stage shuffles more than its per-query candidates")(
      Node("TopKPerKey", AtLeast(2)), hashOn("query_id", Exactly(1)), has("BroadcastExchange")),
    planned("scd2_merge", "one exchange and one sort feed the lag, the collapse filter and " +
      "the lead")(
      shuffles(1), hashOn("o_orderkey", Exactly(1)), Node("Sort", Exactly(1)),
      Node("Window", Exactly(2))),
    planned("fe_group_split", "the split assignment rides the broadcast customer side, and " +
      "the distinct count is two partial-aggregated exchanges")(
      has("BroadcastHashJoin"), shuffles(2), Node("HashAggregate", Exactly(4))),
    planned("fe_target_loo", "the category table broadcasts back onto the fact side, which " +
      "is read exactly twice")(
      has("BroadcastHashJoin"), Node("FileSourceScan", Exactly(2)),
      hashOn("o_orderpriority", Exactly(1))),
    planned("drift_psi", "one aggregate over one scan and a bin-sized window are the whole " +
      "drift gate")(
      Node("FileSourceScan", Exactly(1)), shuffles(2)),
    planned("drift_ks", "the CDF is a distributed cumulative sum: range exchange plus " +
      "per-partition windows, no unpartitioned window")(
      ranged(Exactly(1)), WindowBy("_pid", AtLeast(1)), noUnpartitionedWindow),
    planned("drift_jsd", "the same single pass as drift_psi: one aggregate over one scan " +
      "and a bin-sized window")(
      Node("FileSourceScan", Exactly(1)), shuffles(2)),
    planned("a_spearman", "both rank tables are distributed CDFs over range exchanges, and " +
      "the only unpartitioned windows run over the offset tables")(
      ranged(AtLeast(2)), WindowBy("_pid", AtLeast(2)), WindowBy("", Exactly(2)), noCartesian),
    planned("ml_map", "average precision ranks only the TopKPerKey survivors")(
      Node("TopKPerKey", Exactly(2))),
    planned("t_zipf", "term frequencies come from one exploded aggregate, and the top-200 " +
      "rank is range-partitioned, not one task")(
      has("Generate"), hashOn("term", Exactly(1)), ranged(Exactly(1)), noUnpartitionedWindow),
    planned("ab_ipw", "one aggregation to the stratum table, then scalar arithmetic: one " +
      "pass, no join")(
      Node("FileSourceScan", Exactly(1)), shuffles(2), no("Join")),
    planned("w10_rolling_median", "the percentile window runs over the day-grain rollup, " +
      "not the raw orders")(
      WindowBy("prio", Exactly(1)), shuffles(2)),
    planned("mm_phash_sigs", "signature extraction is one mapPartitions pass that reads " +
      "only the id and payload columns and shuffles nothing")(
      shuffles(0), has("MapPartitions"), Unread("lang"), Unread("source")),
    planned("mm_phash_pairs", "the only join is the pigeonhole equi-join on (chunk_idx, " +
      "chunk)")(
      Node("Join", Exactly(1)), noCartesian, noNestedLoop),
    planned("t_bigram_lm", "the model joins back as keyed hash joins, never a cartesian")(
      noCartesian, no("SortMergeJoin")),
    planned("a11_corr", "all pairwise moment sums are one full-pass aggregate")(
      shuffles(1), singlePartition(Exactly(1)), Node("FileSourceScan", Exactly(1))),
    planned("ev_funnel", "every stage's type predicate is pushed into its parquet scan")(
      pushed("EqualTo(event_type,view)"), pushed("EqualTo(event_type,click)"),
      pushed("EqualTo(event_type,purchase)")),
    planned("ev_transitions", "one per-user exchange feeds the window, and a type-pair " +
      "aggregate ends the plan")(
      hashOn("user_id", Exactly(1)), shuffles(2), Node("Window", Exactly(1))),
    planned("a12_ols_group", "all five moment sums per group are one partial-aggregated " +
      "HashAggregate")(
      shuffles(1), Node("HashAggregate", Exactly(2))),
    executed("fe_quantile_bin", "cutpoints never funnel the data through one task")(
      ranged(AtLeast(1)), WindowBy("_pid", AtLeast(1)), has("BroadcastNestedLoopJoin"),
      singlePartition(Exactly(1))),
    planned("t_bm25", "both corpus-stat frames broadcast, so scoring adds no fact-side " +
      "exchange")(
      Node("BroadcastExchange", AtLeast(2)), no("SortMergeJoin")),
    planned("d_editdist_pairs", "PassJoin blocking makes the candidate join an equi-join, " +
      "with no cartesian")(
      noCartesian, noNestedLoop),
    planned("dp_profile", "all columns profile through ONE Expand scan, not k jobs")(
      has("Expand"), Node("FileSourceScan", Exactly(1))),
    planned("d_prefix_jaccard", "candidate generation is an equi-join, never a cartesian")(
      noCartesian, noNestedLoop),
    planned("inc_agg_maintain", "the delta merges into the snapshot through one full-outer " +
      "join of two group-sized frames")(
      Joins("FullOuter", Exactly(1)), hashOn("o_orderstatus", Exactly(2))),
    planned("ev_peak_concurrency", "the running sum is range exchange plus per-partition " +
      "windows, with no unpartitioned window over the timeline")(
      ranged(Exactly(1)), WindowBy("_pid", AtLeast(1)), noUnpartitionedWindow,
      singlePartition(AtMost(1))),
    planned("g_pagerank3", "each iteration is a keyed join and aggregate, never a nested " +
      "loop or window")(
      noCartesian, noNestedLoop, no("Window")),
    planned("g_triangles", "wedge and closing joins are hash joins, never nested loops")(
      noCartesian, Node("BroadcastNestedLoopJoin", AtMost(1)), has("HashJoin")),
    planned("j13_interval_overlap", "grid join is an equi-join, never a nested loop")(
      noCartesian, noNestedLoop),
    planned("ml_lift", "global ranking is range-partitioned, never a data-sized single task")(
      ranged(AtLeast(1)), WindowBy("_pid", AtLeast(1))),
    planned("d_contamination", "probe shingle set broadcasts; corpus side is never " +
      "self-joined")(
      has("BroadcastHashJoin"), noCartesian, no("SortMergeJoin")),
    planned("ev_rolling24h", "exactly one exchange (entity hash), frame is streaming")(
      shuffles(1), hashOn("user_id", Exactly(1))),
    planned("sk_cms_err", "the d x w sketch BROADCASTS to the probe side")(
      has("BroadcastHashJoin"), noCartesian),
    planned("dq_volume_anomaly", "monitoring runs on the per-(type, day) aggregate of one " +
      "scan, with one type-keyed window")(
      Node("FileSourceScan", Exactly(1)), shuffles(2), WindowBy("event_type", Exactly(1))),
    executed("g_common_neighbors", "no cartesian/nested-loop; wedge pairs stay array-side")(
      noCartesian, noNestedLoop, Joins("LeftAnti", Exactly(1))),
    planned("fe_binned_woe", "the 1-row cutpoint frame broadcasts onto the scan")(
      has("BroadcastNestedLoopJoin"), no("SortMergeJoin"), ranged(AtLeast(1))),
    planned("ev_attribution", "window + final agg only — never a conversions×touches join")(
      no("Join"), shufflesAtMost(3), hashOn("user_id", Exactly(1))),
    planned("ev_rolling_wau", "sliding distinct rides aggs, never a window over raw events")(
      no("Window"), shufflesAtMost(3)),
    executed("a15_pareto_abc", "cumulative share is a distributed prefix sum — the only " +
      "SinglePartition exchange feeds the ≤P-row offsets table, never the |customers| frame")(
      singlePartition(Exactly(2)), ranged(Exactly(1)), hashOn("_pid", Exactly(2)),
      has("ReusedExchange")),
    planned("d_chunk_dedup", "frequency join is an equi-join; chunk and doc aggs only")(
      shufflesAtMost(4), noCartesian, noNestedLoop),
    planned("ml_survival_km", "the n_risk window never sees data-sized input")(
      has("HashAggregate"), singlePartition(AtLeast(1)), shufflesAtMost(4)),
    planned("o14_group_sample_k", "per-stratum draw rides TopKPerKey, not a window sort")(
      has("TopKPerKey"), shuffles(1), no("Window")),
    planned("a16_weighted_quantiles", "the cumulative weight is range exchange plus " +
      "per-partition windows, with no unpartitioned window")(
      ranged(Exactly(1)), WindowBy("_pid", AtLeast(1)), noUnpartitionedWindow),
    planned("fe_quantile_match", "both rankings ride GlobalRowNumber range exchanges, and " +
      "the endpoints arrive by equi-joins")(
      ranged(AtLeast(2)), noSinglePartition, noUnpartitionedWindow, noNestedLoop,
      noCartesian),
    planned("ml_ndcg", "NDCG@k ranks only the TopKPerKey survivors")(
      Node("TopKPerKey", AtLeast(2))),
    executed("fe_rfm", "quintile ranks are range-partitioned — no SinglePartition window")(
      noSinglePartition, hashOn("o_custkey", Exactly(1)), ranged(Exactly(3)),
      WindowBy("_pid", Exactly(3))),
    built("ml_auc_rank", "aucRocDf computes while it is built (one ranged job, at most P " +
      "partials to the driver); PlansSpec checks its value against the windowed form"),
    planned("p14_unpivot", "melt is an executor-side Expand — zero shuffles")(
      shuffles(0), has("Expand"), no("Join")),
    planned("ev_attribution_linear", "every per-channel count is one RANGE-frame Window " +
      "over one user exchange, with no touch-by-conversion join")(
      Node("Window", Exactly(1)), hashOn("user_id", Exactly(1)), no("Join"), has("Generate")),
    planned("a19_gini", "the global rank is range exchange plus per-partition row_number, " +
      "with no unpartitioned window")(
      ranged(Exactly(1)), WindowBy("_pid", AtLeast(1)), noUnpartitionedWindow),
    planned("sim_mmr_rerank", "one grouping exchange feeds a per-query MapGroups that " +
      "runs the greedy loop executor-locally")(
      Node("MapGroups", Exactly(1)), Node("TopKPerKey", Exactly(2)), shuffles(2),
      has("BroadcastExchange")),
    planned("sk_kmv_merge", "the per-shard k-min pass is one exchange on the shard, " +
      "bounded by TopKPerKey")(
      hashOn("shard", Exactly(1)), has("TopKPerKey")),
    planned("o16_balanced_batches", "batch ids come from a range-partitioned rank and one " +
      "broadcast join of per-label offsets, with no SinglePartition exchange")(
      noSinglePartition, ranged(AtLeast(1)), Node("BroadcastHashJoin", Exactly(1))),
    planned("s16_dynamic_overwrite", "the read-back is one scan of the partitioned table " +
      "and one aggregate")(
      Node("FileSourceScan", Exactly(1)), shuffles(1)),
    planned("p15_dynamic_pivot", "the main job is one scan and one two-phase aggregate " +
      "with literal CASE arms")(
      Node("FileSourceScan", Exactly(1)), shuffles(2)),
    planned("d_simhash_pairs", "candidate generation is an equi-join on (chunk_idx, " +
      "chunk), never a cross join")(
      noCartesian, noNestedLoop, has("BroadcastHashJoin")),
    planned("ev_streaks", "two exchanges, both on the user: the day-distinct and the " +
      "window; the island aggregate adds none")(
      shuffles(2), hashOn("user_id", Exactly(2)), no("Join")),
    planned("dq_table_checksum", "one scan, one partial aggregate, one single-row exchange")(
      shuffles(1), singlePartition(Exactly(1)), Node("FileSourceScan", Exactly(1))),
    planned("inc_join_maintain", "the delta terms probe by broadcast joins, and the merge is " +
      "one full-outer join on the rollup")(
      Node("BroadcastHashJoin", AtLeast(3)), Joins("FullOuter", Exactly(1))),
    planned("sk_kmv_intersect", "both sides funnel through TakeOrderedAndProject(k = 64), " +
      "never a global sort")(
      Node("TakeOrderedAndProject", AtLeast(2)), ranged(Exactly(0)), noCartesian),
    planned("ts_acf", "the daily rollup and one per-key exchange feed a single window that " +
      "builds every lag, with no self-join")(
      shuffles(2), Node("Window", Exactly(1)), no("Join")),
    planned("o18_priority_sample", "weighted sampling is a TakeOrderedAndProject(500) " +
      "over one scan, never a global sort")(
      has("TakeOrderedAndProject"), no("Sort"), shuffles(0)),
    planned("ts_cusum", "one exchange on the series key feeds both window passes, with no " +
      "join")(
      hashOn("_k", Exactly(1)), shuffles(2), no("Join")),
    planned("ev_attribution_position", "first and last touch ride the same one Window " +
      "over one user exchange, with no touch-by-conversion join")(
      Node("Window", Exactly(1)), hashOn("user_id", Exactly(1)), no("Join")),
    planned("j15_nearest_event", "two union-window as-of passes, never a nested loop or " +
      "cartesian")(
      Node("Union", Exactly(2)), WindowBy("_asof_k", Exactly(2)), noNestedLoop, noCartesian),
    planned("a24_trimmed_mean", "one exchange on the group key serves the rank window, the " +
      "count window and the grouped mean")(
      shuffles(1), hashOn("o_orderstatus", Exactly(1)), Node("Window", Exactly(2)),
      no("Join")),
    planned("t_chunk_windows", "chunking is a pure executor-side map with no exchange")(
      shuffles(0), has("Generate")),
    planned("t_quality_cascade", "one scan, one exchange — the whole cascade is codegen'd " +
      "column expressions feeding a tiny agg")(
      shufflesAtMost(1), Node("FileSourceScan", Exactly(1))),
    planned("o20_domain_mix", "the data-sized rank window is partitioned by the range pid, " +
      "never by the domain key")(
      WindowBy("_pid", AtLeast(1)), WindowBy("lang", Exactly(0)), ranged(AtLeast(1))),
    planned("w7_rank_ntile", "rank, dense_rank and ntile ride one range-partitioned " +
      "GlobalRowNumber rank, with no window keyed on the 3-value status")(
      WindowBy("o_orderstatus", Exactly(0)), WindowBy("_pid", AtLeast(1)),
      ranged(AtLeast(1))),
    planned("pipeline_relational", "patients dim broadcast; no cartesian; cohort windows " +
      "partitioned (no SinglePartition funnel over the fact side)")(
      has("BroadcastHashJoin"), noCartesian, noSinglePartition),
    planned("er_link_scores", "record linkage is one equi-join on the blocking fragment")(
      Node("Join", Exactly(1)), noCartesian, noNestedLoop),
    planned("sk_hist_quantiles", "the sketch build is explode-free, and the exact side " +
      "rides the range-partitioned distributed CDF")(
      no("Generate"), ranged(AtLeast(1)), WindowBy("_pid", AtLeast(1))),
    planned("sim_kmeans_lloyd", "each of the three Lloyd rounds broadcasts the k-row " +
      "centroids into a nested-loop join, with no window over the corpus")(
      Node("BroadcastNestedLoopJoin", Exactly(3)), no("Window"), noCartesian),
    planned("sim_ivf_topk", "the centroids broadcast into both assignment joins, and the " +
      "corpus is never self-joined or globally sorted")(
      has("BroadcastExchange"), ranged(Exactly(0)), noCartesian),
    planned("sql_q21_blame", "EXISTS/NOT EXISTS plan as semi + anti joins, not per-row " +
      "subquery probes")(
      Joins("LeftSemi", AtLeast(1)), Joins("LeftAnti", AtLeast(1)), noCartesian, noNestedLoop),
    planned("g_components", "the size histogram is two hash aggregates over the labeled " +
      "components, with no cartesian")(
      Node("HashAggregate", Exactly(4)), noCartesian, noNestedLoop),
    planned("s17_synth_source", "the DSv2 scan takes the consumed id range, so no residual " +
      "Filter survives, and nothing reads a file")(
      has("BatchScan"), no("Filter"), no("FileSourceScan"), shuffles(1)),
    built("s18_checksum_sink", "the checksum sink appends while the row is built; the " +
      "readout is the committed 1-row entry"),
    planned("ts_backtest_naive", "the seasonal-naive forecast is one equi-join of the " +
      "daily frame with itself shifted, with no window")(
      Node("Join", Exactly(1)), no("Window")),
    planned("mm_frame_sample", "frame sampling is arithmetic and explode on the scan, " +
      "with no exchange")(
      shuffles(0), has("Generate")),
    planned("t_bpe_merges", "localCheckpoint keeps the plan flat: the rounds read " +
      "checkpointed frames and the readout shuffles nothing")(
      has("RDDScan"), shuffles(0)),
    planned("pipeline_curation", "staged funnel plan — every join is hash/broadcast " +
      "keyed (no cartesian), and the benchmark probe side broadcasts")(
      noCartesian, has("BroadcastExchange")),
    planned("sim_ivfpq_topk", "pivots/codebook/query side broadcast; the corpus is never " +
      "cartesian-joined against itself")(
      noCartesian, has("BroadcastExchange")),
    planned("t_unigram_segment", "the vocabulary is one hash-agg, and segmentation is a " +
      "shuffle-free typed pass")(
      shuffles(1), has("MapPartitions")),
    planned("ev_stream_psi", "the readout runs over the drained bin table, with nothing " +
      "event-sized left to scan")(
      no("FileSourceScan"), shuffles(1)),
    planned("sql_q17_smallqty", "the per-part mean decorrelates into one aggregate on " +
      "l_partkey joined back")(
      hashOn("l_partkey", Exactly(1)), noNestedLoop, noCartesian),
    planned("pipeline_pretrain", "the packing offsets ride a range-partitioned two-pass " +
      "cumsum over the persisted keep-set, with no SinglePartition exchange")(
      noSinglePartition, ranged(AtLeast(1)), has("InMemoryTableScan")),
    planned("pipeline_rag", "queries broadcast against the curated index; no cartesian; " +
      "the corpus-sized frames join hash-keyed")(
      noCartesian, has("BroadcastExchange")),
    planned("t_wordpiece_encode", "the positional vocabulary is one hash-agg, and the " +
      "greedy walk shuffles nothing")(
      shuffles(1)),
    planned("sim_pqtrain_topk", "centroids and LUT broadcast every round; the corpus is " +
      "never cartesian-joined")(
      noCartesian, has("BroadcastExchange")),
    planned("sim_ivfpq_recall", "the exact leg meets the ANN leg in a semi-join, and " +
      "nothing corpus-by-corpus is joined")(
      Joins("LeftSemi", AtLeast(1)), noCartesian),
    planned("d_dup_spans", "island merge windows partition by doc_id (high-cardinality, " +
      "bounded by one doc's length) — no corpus-wide funnel")(
      noSinglePartition, noCartesian, WindowBy("doc_id", AtLeast(1))),
    executed("o21_temp_mix", "like o20, the rank window is bounded by the range-partition " +
      "pid, never the low-cardinality domain key")(
      WindowBy("_pid", AtLeast(1)), WindowBy("lang", Exactly(0))),
    planned("inc_lsh_maintain", "the delta probes the persisted index in one equi-join on " +
      "(band, bucket)")(
      Node("Join", Exactly(1)), noCartesian, has("InMemoryTableScan")),
    planned("t_unigram_em", "only the word-count build shuffles, once")(
      shuffles(1)),
    built("ml_isotonic_bins", "the monotone fit closes over the collected bin readout " +
      "while the row is built"),
    planned("g_kcore", "localCheckpoint truncates each peel round's lineage, so the " +
      "readout is one aggregate over checkpointed edges")(
      has("RDDScan"), shuffles(1), no("Join")),
    planned("a14_mode_per_group", "the row_number runs over the counts table (2 shuffles)")(
      shuffles(2)),
    planned("ev_cum_uniques", "running sum is post-aggregation — data shuffles only to " +
      "aggs")(
      shuffles(3)),
    planned("ev_ohlc", "single agg pass, no per-(key,hour) window sort")(
      no("Window"), shuffles(1)),
    executed("fe_crossfit_encode", "one data-sized aggregation; windows run on the cell " +
      "table")(
      Node("FileSourceScan", Exactly(1))),
    planned("fe_lag_features", "daily hash-agg plus ONE window exchange")(
      shuffles(2)),
    planned("fe_mix_sample", "keep thresholds broadcast; no window over the corpus")(
      has("BroadcastHashJoin"), no("Window")),
    planned("fe_neg_pairs", "probes meet candidates in a bucket equi-join, no cross join")(
      noCartesian, noNestedLoop),
    planned("j2_join_agg", "dimension side is broadcast, not shuffled")(
      has("BroadcastHashJoin")),
    planned("o2_shuffle_hash", "hash-order 'shuffle' plans as TakeOrdered, never a " +
      "global sort")(
      has("TakeOrderedAndProject")),
    planned("p8_regex_filter", "regex filter reaches the scan as a data filter, not a " +
      "post-shuffle step")(
      shuffles(0)),
    planned("sk_bloom_fp", "the bit relation reaches probes via broadcast")(
      has("BroadcastHashJoin")),
    planned("sk_kmv_distinct", "the k-smallest funnel is a TakeOrdered, never a global sort")(
      has("TakeOrderedAndProject"), no("Sort")),
    planned("sql_q18_bigorders", "the HAVING-IN subquery plans as a join, not a per-row " +
      "probe")(
      has("Join"), noNestedLoop, noCartesian),
    planned("sql_q5_local", "the dimension chain broadcasts (no fact-side re-shuffle per " +
      "dim)")(
      Node("BroadcastHashJoin", AtLeast(3)), noCartesian),
    planned("t_ngram_novelty", "first-occurrence agg and join share the shingle exchange")(
      shufflesAtMost(4), noNestedLoop),
    planned("t_scrub_pii", "redaction is scan-speed — zero shuffles, pure projection")(
      shuffles(0), no("Window")),
    planned("t_tfidf", "the tf→df join does not re-shuffle the tf side (partitioning " +
      "reused)")(
      shufflesAtMost(4)),
    planned("w9_window_suite", "all four window functions share ONE exchange")(
      shuffles(1))
  )

  /** The micro-batch plan of `ev_stream_hourly`'s windowed counts: the
    * registry row returns the drained memory-sink table, whose plan shows
    * none of the state-store operators. */
  private def streamingPlan(spark: SparkSession, sfDir: String)
      : (String, org.apache.spark.sql.execution.SparkPlan) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val agg = StreamOps.windowedCountsExact(StreamOps.eventsStream(spark, sfDir))
    spark.catalog.dropTempView("plan_audit_stream")
    val q = agg.writeStream.format("memory").queryName("plan_audit_stream")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(q.explain())
    (tools.DumpPlans.normalize(buf.toString("UTF-8")),
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
  }

  /** Build `row`'s frame (in a [[Materialize.scoped]] scope, so its pins go
    * with it), run it first when the row is [[Executed]], and check it. */
  def audit(spark: SparkSession, sfDir: String, row: Row): Audit = Materialize.scoped() {
    val (computed, plan, executedPlan) =
      if (row.name == "ev_stream_hourly") {
        val (text, p) = streamingPlan(spark, sfDir)
        (false, text, p)
      } else {
        val df = SparkEntry.queries(row.name)(spark, sfDir)
        if (row.mode == Executed) df.collect()
        (tools.DumpPlans.computedAtBuild(df), tools.DumpPlans.render(df),
          df.queryExecution.executedPlan)
      }
    val operators = PlanCheck.operators(executedPlan)
    Audit(row, computed, plan, row.checks.map(c => c -> c.holds(operators)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.local(Session.cpus)

    val sb = new StringBuilder
    sb ++= "# PLANS — the registry's plan contract, checked\n\n"
    sb ++= s"Generated by `SPARK_GRAFT_CPUS=${Session.cpus} sbt \"runMain graft.PlanAudit $sfDir " +
      "PLANS.md\"` from the table in " +
      "`PlanAudit.scala`; PlansSpec runs the same checks at sf0.001.\n"
    sb ++= "Each section gives the row's reason, each check with its verdict, then the " +
      "`explain(\"formatted\")` plan the checks read.\n"

    val audits = table.map { row =>
      val a = audit(spark, sfDir, row)
      sb ++= s"\n## `${row.name}`\n\n${row.reason}.\n\n"
      sb ++= (if (a.report.isEmpty) "Computed at build time: no checks." else a.report) + "\n"
      sb ++= "\n```\n" + a.plan.trim + "\n```\n"
      println(s"[plans] ${row.name} ${if (a.ok) "ok" else "FAIL\n" + a.report}")
      a
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    spark.stop()
    val failed = audits.filterNot(_.ok).map(_.row.name)
    if (failed.nonEmpty) {
      System.err.println(
        s"[plans] ${failed.size} row(s) fail the plan contract: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
