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
  *      (its declared cached result; internal range-partition pins must
  *      have been released by the builder);
  *   2. re-invoking the same query does NOT grow the persisted set —
  *      Spark's CacheManager dedups by canonical plan, so the second
  *      call's .cache() must land on the first call's entry.
  */
class PinHygieneSpec extends SparkSpecBase {

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  // queries whose builders use the materialize-then-release pattern,
  // mapped to the number of canonical-plan-deduped caches each may leave
  // behind (the cached k-row/slim result — or, where noted, a bounded set
  // of session caches). The load-bearing property is the SECOND assert:
  // re-running must add NOTHING, i.e. every pin is CacheManager-deduped,
  // never per-invocation.
  private val releasePattern: Seq[(String, Int)] =
    Seq("fe_rfm" -> 1, "a15_pareto_abc" -> 1, "w7_rank_ntile" -> 1,
      "w8_percent_rank" -> 1,
      "o20_domain_mix" -> 1, "o21_temp_mix" -> 1, "ml_lift" -> 1,
      "ml_qini" -> 1,
      "t_pack_windows" -> 1, "pipeline_pretrain" -> 1, "pipeline_rag" -> 1,
      "inc_lsh_maintain" -> 1, "ml_conformal" -> 1,
      // r8: zipf + kneser-ney readout caches, and the IVM join snapshot
      // rides a session memo (warmed below) like the LSH base index
      "t_zipf" -> 1, "t_kn_bigram" -> 1, "inc_join_maintain" -> 1,
      // r9: the hybrid-retrieval corpus cache (3 generation passes → 1);
      // r14 adds the dense leg's per-doc vocab-count cache (3 references
      // → 1 materialization) — both canonical-plan caches, so reps share
      // them and the pin set stays flat across re-runs
      "mimic_rrf_retrieval" -> 2,
      // r12: the grouped-greedy MMR needs NO pins at all (the r11
      // unrolled form cached its cand + pair tables per canonical plan)
      "sim_mmr_rerank" -> 1,
      // per-call pins (Materialize.scoped) only: the MI ranking's five
      // shared frames, the split/scored frames of the train benches
      "mimic_feature_select" -> 0, "pipeline_e2e" -> 0,
      "ml_train_bench" -> 0, "mimic_train_bench" -> 0,
      // the ranged and iterated operators' internal session pins
      // (Materialize.pin with no scope open), canonical-plan deduped:
      // one ranged frame each; two rankings for the quantile match; the
      // edge and degree tables for PageRank
      "drift_ks" -> 1, "ml_score_ks" -> 1, "ev_peak_concurrency" -> 1,
      "fe_quantile_bin" -> 1, "fe_quantile_match" -> 2,
      "a16_weighted_quantiles" -> 1, "g_pagerank3" -> 2, "g_triangles" -> 1,
      "d_prefix_jaccard" -> 1, "d_sorted_neighbors" -> 1,
      // the readout cache; the rank's pin goes with its scope
      "a19_gini" -> 1)

  for ((q, maxPins) <- releasePattern)
    test(s"$q: leaves at most $maxPins new pin(s), and re-running adds none") {
      // mirror Bench's warmup contract: the SHARED session memos
      // (curation labeling, LSH base index, feature matrices) are state
      // built once per session, not a per-query leak — warm them so each
      // query's own pin budget stays ≤1
      registry.Shared.curatedStagesCached(spark, sfDir)
      registry.Shared.lshBaseIndexCached(spark, sfDir)
      registry.Shared.joinSnapshotCached(spark, sfDir)
      pipeline.MimicPipeline.assembled(spark)
      ml.Features.assembled(spark, sfDir).count()
      val before = pinned
      SparkEntry.queries(q)(spark, sfDir).collect()
      val afterFirst = pinned
      // the declared result cache(s) plus nothing else: every internal
      // GlobalRowNumber/RunningTotal range-partition pin must be gone
      assert(afterFirst - before <= maxPins,
        s"$q leaked ${afterFirst - before} pins on first run (allowed $maxPins)")
      SparkEntry.queries(q)(spark, sfDir).collect()
      SparkEntry.queries(q)(spark, sfDir).collect()
      val afterThird = pinned
      assert(afterThird == afterFirst,
        s"$q grew the pin set across reps: $afterFirst -> $afterThird " +
          "(per-invocation cache instead of canonical-plan dedup)")
    }
}
