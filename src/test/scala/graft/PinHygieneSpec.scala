package graft

/** Cache-pin hygiene — the session-accumulation contract, enforced as a
  * spec. The bench runs ~300 queries × 3 reps in ONE session; an operator
  * that pins a frame per INVOCATION (instead of per canonical plan, or
  * releasing its internal pins after materializing) grows executor memory
  * linearly across the run and skews every later query's timing (the r5
  * `ev_stream_attribution` phantom regression was this class of
  * interaction). Two properties per release-pattern query:
  *
  *   1. one invocation adds at most a BOUNDED number of persisted RDDs
  *      (its session pins: internal ranged pins, canonical-plan caches);
  *   2. re-invoking the same query does NOT grow the persisted set —
  *      Spark's CacheManager dedups by canonical plan, so the second
  *      call's pins must land on the first call's entries.
  *
  * The rows whose builders reach a range pass (`RangedCounts`) run again
  * at sf0.1: there the range exchange samples its bounds, so a readout
  * whose plan embeds the collected offsets is a new plan every rep and
  * only a lazy readout over the session's ranged pin stays flat (at
  * sf0.001 both shapes do).
  */
class PinHygieneSpec extends SparkSpecBase {

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  // (query, the number of canonical-plan-deduped pins it may leave
  // behind, whether its builder reaches a range pass). The load-bearing
  // property is the SECOND assert: re-running must add NOTHING, i.e.
  // every pin is CacheManager-deduped, never per-invocation.
  private val releasePattern: Seq[(String, Int, Boolean)] = Seq(
    // the three ranked frames, one per quintile score: the readout is
    // lazy over the last, which reads the other two
    ("fe_rfm", 3, true),
    ("a15_pareto_abc", 1, false), ("w7_rank_ntile", 1, true),
    ("w8_percent_rank", 1, true),
    ("o20_domain_mix", 1, true), ("o21_temp_mix", 1, true), ("ml_lift", 1, true),
    ("ml_qini", 1, true),
    ("t_pack_windows", 1, true), ("pipeline_pretrain", 1, true),
    ("pipeline_rag", 1, false),
    ("inc_lsh_maintain", 1, false), ("ml_conformal", 1, true),
    // r8: zipf's ranged pin, the kneser-ney readout cache (over the type
    // table, no range pass), and the IVM join snapshot rides a session
    // memo (warmed below) like the LSH base index
    ("t_zipf", 1, true), ("t_kn_bigram", 1, false), ("inc_join_maintain", 1, false),
    // r9: the hybrid-retrieval corpus pin (3 generation passes → 1);
    // r14 adds the dense leg's per-doc vocab-count pin (3 references
    // → 1 materialization) — both canonical-plan deduped, so reps share
    // them and the pin set stays flat across re-runs
    ("mimic_rrf_retrieval", 2, false),
    // r12: the grouped-greedy MMR needs NO pins at all (the r11
    // unrolled form cached its cand + pair tables per canonical plan)
    ("sim_mmr_rerank", 1, false),
    // per-call pins (Materialize.scoped) only: the MI ranking's five
    // shared frames, the split/scored frames of the train benches
    ("mimic_feature_select", 0, false), ("pipeline_e2e", 0, false),
    ("ml_train_bench", 0, false), ("mimic_train_bench", 0, false),
    // the ranged and iterated operators' internal session pins
    // (Materialize.pin with no scope open), canonical-plan deduped:
    // one ranged frame each; two rankings for the quantile match; the
    // edge and degree tables for PageRank
    ("drift_ks", 1, true), ("ml_score_ks", 1, true), ("ev_peak_concurrency", 1, true),
    ("fe_quantile_bin", 1, true), ("fe_quantile_match", 2, true),
    ("a16_weighted_quantiles", 1, true), ("g_pagerank3", 2, false),
    ("g_triangles", 1, false),
    ("d_prefix_jaccard", 1, false), ("d_sorted_neighbors", 1, true),
    // the ranged pin kept for the session; the readout is lazy over it
    ("a19_gini", 1, true), ("s13_zorder_stats", 1, true))

  private def leavesBoundedPins(q: String, maxPins: Int, sf: String): Unit = {
    // mirror Bench's warmup contract: the SHARED session memos
    // (curation labeling, LSH base index, feature matrices) are state
    // built once per session, not a per-query leak — warm them so each
    // query's own pin budget holds
    registry.Shared.curatedStagesCached(spark, sf)
    registry.Shared.lshBaseIndexCached(spark, sf)
    registry.Shared.joinSnapshotCached(spark, sf)
    pipeline.MimicPipeline.assembled(spark)
    ml.Features.assembled(spark, sf).count()
    val before = pinned
    SparkEntry.queries(q)(spark, sf).collect()
    val afterFirst = pinned
    // the row's session pins plus nothing else: a ranged pin inside a
    // builder's own scope must be gone
    assert(afterFirst - before <= maxPins,
      s"$q leaked ${afterFirst - before} pins on first run (allowed $maxPins)")
    SparkEntry.queries(q)(spark, sf).collect()
    SparkEntry.queries(q)(spark, sf).collect()
    val afterThird = pinned
    assert(afterThird == afterFirst,
      s"$q grew the pin set across reps: $afterFirst -> $afterThird " +
        "(per-invocation cache instead of canonical-plan dedup)")
  }

  for ((q, maxPins, _) <- releasePattern)
    test(s"$q: leaves at most $maxPins new pin(s), and re-running adds none") {
      leavesBoundedPins(q, maxPins, sfDir)
    }

  // the sf0.1 data set beside the spec's sf0.001 one
  private val sampledDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.1").getPath

  for ((q, maxPins, true) <- releasePattern)
    test(s"$q at sf0.1: leaves at most $maxPins new pin(s), and re-running adds none") {
      leavesBoundedPins(q, maxPins, sampledDir)
    }
}
