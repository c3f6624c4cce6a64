package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    // 1-minute load average (from /proc/loadavg) — the contention guard:
    // the r8 driver re-run read 1.78x where the same commit's clean run
    // read 1.04x, purely from machine contention. Recording load per rep
    // makes a polluted artifact machine-detectable instead of a mystery.
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // load above this reads as EXTERNAL contention (our own local[cpus]
    // session keeps runnable threads ~cpus; 2x headroom + slack for GC /
    // compiler threads). Flagged per query, never silently absorbed.
    val loadContendedAt = cpus.toDouble * 2 + 4
    val loadStart = loadAvg()
    // local-dev standalone re-bench: SPARK_GRAFT_ONLY="q1,q2" restricts
    // the run (the driver never sets it → full inventory). Computed
    // BEFORE warmup so memo builds irrelevant to the selection are
    // skipped — an SPARK_GRAFT_ONLY="q1_agg" run must not pay the MIMIC
    // matrix build or hold its session-long cache pin.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    def anySelected(p: String => Boolean): Boolean = selected.keys.exists(p)
    // warmup failures are LOUD: a silently-failed memo build lands its
    // ~20 s cost inside whichever query touches the memo first, corrupting
    // that row's number. Failed warmups are logged and flagged in
    // BENCH_DETAIL so affected rows are identifiable.
    val warmupFailures = scala.collection.mutable.ListBuffer[String]()
    def warm(name: String, needed: Boolean)(body: => Unit): Unit =
      if (needed) try body catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] WARMUP FAILED ($name): ${e.getClass.getSimpleName}: ${e.getMessage}")
          warmupFailures += name
      }
    // warm the page cache + codegen JIT with one cheap pass per table so
    // per-query timings measure the query, not which one ran first
    val w0 = System.nanoTime()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => warm(s"table:$t", needed = true)(
        graft.core.Tables.table(spark, sfDir, t).count()))
    // materialize the shared (memoized) feature table here too: otherwise
    // whichever ML query happens to run first absorbs its build cost and
    // per-query numbers become Map-iteration-order-dependent (measured
    // 15 s vs 41 s swings on ml_smote_counts). Its cost is reported
    // separately below, not hidden. Gated on the selection actually
    // containing a consumer (ml_* / fe_* / pit_* / pipeline_e2e).
    val needsFeatures = anySelected(n =>
      n.startsWith("ml_") || n.startsWith("fe_") || n.startsWith("pit_") ||
        n == "pipeline_e2e")
    warm("features", needsFeatures)(
      graft.ml.Features.assembled(spark, sfDir).count())
    // the memoized dup-cluster labeling too (d_dup_clusters +
    // d_cluster_keep both read it): built here so neither query's number
    // depends on which ran first; cost lands in warmup, visibly
    warm("dup_clusters", anySelected(Set("d_dup_clusters", "d_cluster_keep")))(
      registry.Shared.dupClustersCached(spark, sfDir))
    // same contract for the curation labeling (pipeline_rag +
    // pipeline_pretrain read it) and the LSH base band index
    // (inc_lsh_maintain probes it): builds land in warmup, visibly
    warm("curated_stages", anySelected(_.startsWith("pipeline_")))(
      registry.Shared.curatedStagesCached(spark, sfDir))
    warm("lsh_base_index", anySelected(Set("inc_lsh_maintain")))(
      registry.Shared.lshBaseIndexCached(spark, sfDir))
    // and the base-join rollup snapshot (inc_join_maintain maintains
    // it): IVM measures the refresh, not the snapshot build
    warm("join_snapshot", anySelected(Set("inc_join_maintain")))(
      registry.Shared.joinSnapshotCached(spark, sfDir))
    // the MIMIC-scale 45,059 x 3,019 feature matrix (every mimic_* ML row
    // reads it): one build, cost in warmup, visibly
    val needsMimic = anySelected(_.startsWith("mimic_"))
    warm("mimic_matrix", needsMimic)(
      graft.pipeline.MimicPipeline.assembled(spark).count())
    // MLlib JIT warmup: the first RF/LR/SMOTE fit of a session pays
    // one-time codegen + JIT (~17 s observed on ml_rf_sweep_full's first
    // rep at sf0.1 — a 1.6x phantom outlier that broke the 3-clean-reps
    // spread). Tiny fits over a small slice compile the same hot paths;
    // their cost lands here, visibly, not inside any query's rep 1.
    warm("mllib_jit", needsFeatures || needsMimic) {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val tiny = graft.ml.Features.assembled(spark, sfDir)
        .filter(pmod(col("id"), lit(50L)) === 0L)
      Materialize.scoped(tiny) {
        tiny.count()
        graft.ml.TrainHarness.rfSweep(tiny, tiny, "features", "label", Seq(2)).count()
        graft.ml.TrainHarness.logisticL1Scores(tiny, tiny, "features", "label").count()
        graft.ml.Resamplers.smote(tiny, "id", "label", "features", k = 2).count()
        graft.ml.Resamplers.nearMiss(tiny, "id", "label", "features",
          minoritySampleTarget = 100L).count()
      }
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // streaming fixed-overhead probe: time a near-empty micro-batch
    // pipeline (see StreamOps.fixedOverheadProbe) 3x and report the
    // median as stream_fixed_sec in BENCH_DETAIL — the shared per-query
    // setup cost every ev_stream_* row carries on a bounded drain, so
    // their spark_sec reads as (fixed + work) instead of a plan gap.
    // One untimed pass first: stream JIT/codegen is a session cost.
    // Gated on the selection containing a stream row at all.
    val streamFixedSec: Double =
      if (!anySelected(n => n.startsWith("ev_stream_") || n == "s19_synth_stream")) -1.0
      else try {
        graft.streaming.StreamOps.fixedOverheadProbe(spark, sfDir, "graft_stream_probe_warm").count()
        val ts = (1 to 3).map { i =>
          val t0 = System.nanoTime()
          graft.streaming.StreamOps.fixedOverheadProbe(spark, sfDir, s"graft_stream_probe_$i").count()
          (System.nanoTime() - t0) / 1e9
        }
        ts.sorted.apply(1)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] WARMUP FAILED (stream_probe): ${e.getMessage}")
          warmupFailures += "stream_probe"; -1.0
      }
    // median-of-3 per query: single-pass timings are order-sensitive
    // (GC/JIT neighbor effects produced 5 phantom "regressions" in r2 when
    // the query Map reordered). Each query re-plans and re-runs as a fresh
    // action up to `reps` times in the same session; the reported number
    // is the MEDIAN, with min/max spread emitted alongside so a real
    // regression is distinguishable from run-to-run noise. Queries whose
    // passes have already consumed `repBudgetSec` stop early (n recorded) —
    // the heavy ML fits dominate wall-clock and their variance is
    // fit-internal, not neighbor noise.
    val reps = 3
    // sized so the heaviest row (ml_rf_sweep_full — ~100-120 s/rep on
    // the r7-regenerated sf0.1 data; was ~33 s on r6 data) still gets
    // its 3 clean reps: 2 reps < budget → rep 3 runs
    val repBudgetSec = 380.0
    // the two fit-heavy rows whose FIRST execution pays one-time plan
    // codegen + JIT (observed 17-22 s extra on rep 1 at sf0.1 even after
    // the generic MLlib warmup above — the session's cost, not the
    // query's): one UNTIMED pass first, so the 3 timed reps measure
    // steady state. Flagged as jit_warmed in query_stats — numbers for
    // these rows are not comparable to pre-r6 rounds' rep-1-included ones.
    val jitWarmQueries = Set("ml_smote_counts", "ml_rf_sweep_full")
    // total stop-the-world GC time across all collectors (ms) — sampled
    // around each rep so a rep inflated by GC (our own neighbors' garbage
    // or a concurrent test harness in the same container) is flagged
    // instead of silently deciding a median (r9: 9 rows read >2× the
    // clean medians with n_contended 0 — the load probe alone misses
    // GC/JIT inflation)
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    val results: Map[String, (List[Double], Int, Double, Double)] = selected.map { case (name, fn) =>
      val times = scala.collection.mutable.ListBuffer[Double]()
      var failures = 0
      var maxLoad = -1.0
      var maxGcFrac = 0.0
      var i = 0
      if (jitWarmQueries(name))
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      // one extra adjudication rep when the spread is pathological (a GC /
      // JIT spike can be 10× the true cost; with only 2 reps the spike
      // would otherwise decide the reported number). GC inflation counts
      // as a spike trigger too: a rep that spent >30% of its wall inside
      // stop-the-world GC is not a measurement of the query.
      def spiky = (times.size >= 2 && times.max > 3 * times.min) ||
        (times.nonEmpty && maxGcFrac > 0.3)
      def maxReps = if (spiky) reps + 1 else reps
      // the spiky carve-out must also lift the budget stop: the spike
      // itself blows the budget in exactly the case that needs the extra
      // rep (hard cap at 2× keeps a genuinely slow query bounded)
      while (i < maxReps && failures == 0 &&
          (i == 0 || times.sum < repBudgetSec ||
            (spiky && times.sum < 2 * repBudgetSec))) {
        // contention guard: the 1-min load before each rep; a rep that ran
        // under external load is not a measurement of the query. The max
        // rides query_stats (load_max) and a run-level contended flag —
        // the spiky extra-rep logic above already re-reps the outlier.
        maxLoad = math.max(maxLoad, loadAvg())
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        // a failed query must surface as -1, not masquerade as a fast run
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); failures += 1
        }
        if (failures == 0) {
          val wall = (System.nanoTime() - t0) / 1e9
          times += wall
          if (wall > 0.2) // GC fraction of a sub-200ms rep is noise
            maxGcFrac = math.max(maxGcFrac, ((gcMillis() - g0) / 1000.0) / wall)
        }
        i += 1
      }
      // a transient failure on rep 2/3 must not discard rep 1's valid
      // measurement — only an immediate failure (no successful rep) is -1.
      // The failure count rides query_stats so a failure-truncated run is
      // machine-distinguishable from a repBudgetSec early stop (both n<3).
      name -> (if (times.isEmpty) (List(-1.0), failures, maxLoad, maxGcFrac)
               else (times.toList, failures, maxLoad, maxGcFrac))
    }
    def median(ts: List[Double]): Double = {
      val s = ts.sorted
      // LOWER middle for even n: bench noise is one-sided (a rep can only
      // be slower than the work, never faster), so when a budget stop
      // leaves 2 reps — one true, one spiked — the upper-middle would
      // report the spike as the query's cost (r4: a 6 s query read 57 s)
      s((s.size - 1) / 2)
    }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // a per-query JSON side file (ORACLE_TIMES / BENCH_ANCHOR) is trusted
    // only if it records THIS run's SF dir. The sf check tolerates any
    // JSON whitespace ("sf":"x", "sf" : "x", indent variants) — r11's
    // exact-substring form silently disabled all anchors on a reformatted
    // file, surfaced only as n_anchored:0 (r11 advisory). A file that
    // exists but yields zero rows at this SF now warns on stderr.
    // extract the `"medians": {...}` / `"times": {...}` object (balanced
    // braces) and parse `"key": number` pairs INSIDE it only
    def parseTimesBlock(txt: String): Map[String, Double] =
      "\"(?:medians|times)\"\\s*:\\s*\\{".r.findFirstMatchIn(txt) match {
        case None => Map.empty
        case Some(mm) =>
          var depth = 1
          var i = mm.end
          while (i < txt.length && depth > 0) {
            txt.charAt(i) match {
              case '{' => depth += 1
              case '}' => depth -= 1
              case _ =>
            }
            i += 1
          }
          val body = txt.substring(mm.end, math.max(mm.end, i - 1))
          "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.]*)".r.findAllMatchIn(body)
            .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
      }
    def loadTimesFile(path: String, what: String,
                      keep: String => Boolean): Map[String, Double] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val sfOk = ("\"sf\"\\s*:\\s*\"" +
          java.util.regex.Pattern.quote(sfDir) + "\"").r
          .findFirstIn(txt).isDefined
        // scan ONLY the medians/times object, not the whole file: a flat
        // whole-file regex also swallows top-level numerics (duck_total,
        // reps, source_ratio) and would silently mis-read any future
        // nesting — one malformed entry must not void the whole set
        // (r12 advisory). parseTimesBlock extracts the balanced block.
        val m =
          if (!sfOk) Map.empty[String, Double]
          else parseTimesBlock(txt).filter { case (k, _) => keep(k) }
        if (m.isEmpty) System.err.println(
          s"[bench] WARNING: $what file $path exists but yields 0 rows at " +
            s"sf=$sfDir (${if (sfOk) "no matching query keys or no medians/times block"
                           else "sf mismatch"}) — " +
            (if (what == "anchor") "env_inflated flagging is DISABLED for this run"
             else "duck_sec comparison is DISABLED for this run"))
        m
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] WARNING: $what file $path unreadable " +
            s"(${e.getMessage}) — its comparisons are disabled for this run")
          Map.empty
      }
    }
    // per-query DuckDB baseline times (tools/oracle_times.py writes
    // ORACLE_TIMES.json; committed at the driver's bench SF) — merged as
    // duck_sec per query so the "within 2x of baseline" gate is
    // computable per query, not just on the ML comparables.
    val oraclePath = sys.env.getOrElse("SPARK_GRAFT_ORACLE_TIMES", "/root/repo/ORACLE_TIMES.json")
    val duckTimes: Map[String, Double] =
      loadTimesFile(oraclePath, "oracle-times", results.contains)
    // cross-run anchor — closes the disturbance contract's THIRD state: a
    // slowdown that inflates all reps UNIFORMLY produces neither GC
    // fraction nor rep spread, so it sailed past both r10 guards (~20
    // driver rows read 2-19x vs the committed clean run, unflagged).
    // BENCH_ANCHOR.json carries the committed clean-run medians at this
    // SF; a row whose BEST rep exceeds 2x its anchor is flagged
    // env_inflated — the minimum over reps is the least-disturbed
    // observation, so min > 2x a clean median cannot be single-rep noise.
    // Queries without an anchor row (new since the anchored run) simply
    // carry no flag. Refresh the file from a clean run's
    // BENCH_DETAIL.json via tools/update_anchor.py.
    val anchorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", "/root/repo/BENCH_ANCHOR.json")
    val anchors: Map[String, Double] =
      loadTimesFile(anchorPath, "anchor", results.contains)
    def isEnvInflated(k: String, ts: List[Double]): Boolean =
      anchors.get(k).exists(a => ts.min > 0 && a > 0.1 && ts.min > 2 * a)
    // r13 (r12 verdict #1): the env flag keys on the MINIMUM rep, so a
    // noisy-median/clean-min row — the expensive ML fits' signature under
    // load spread (r12's mimic_feature_sweep: median 45.4 s, min 29.3 vs
    // anchor 24.3) — ships an inflated median with no verdict attached.
    // Flag on the MEDIAN too: median > 1.5x anchor while the best rep
    // stayed under the env bar (<= 2x — r14 widened from 1.3x so a row
    // with min in (1.3x, 2x] and an inflated median no longer ships
    // unflagged; the isolated adjudication decides noise-vs-code either
    // way), and adjudicate exactly like env_inflated.
    def isMedianInflated(k: String, ts: List[Double]): Boolean =
      !isEnvInflated(k, ts) && anchors.get(k).exists(a =>
        ts.min > 0 && a > 0.1 && median(ts) > 1.5 * a && ts.min <= 2 * a)
    // AUTO-ADJUDICATION (r12, closing the r11 verdict's #1): an
    // env_inflated flag means "this number was measured under a
    // disturbance the machine can see" — leaving it as the row's number
    // ships a wrong artifact (r11's driver run read 1.139× while the
    // engine sat at 0.980× clean). So every flagged row is RE-RUN
    // ISOLATED at the end of the sweep (the manual SPARK_GRAFT_ONLY
    // protocol of BENCH_NOTES.md, automated): wait for external load to
    // drain (bounded), re-rep the query alone, and record a per-row
    // verdict — `noise` if the isolated best rep is back within 2× its
    // anchor (the disturbance was environmental; the adjudicated median
    // replaces the disturbed one everywhere downstream) or `code` if it
    // is still slow in isolation (a REAL regression; the adjudicated
    // number is the honest cost and rides downstream too, with the flag
    // kept so round-over-round attribution sees it). Disable with
    // SPARK_GRAFT_NO_ADJUDICATE=1 (e.g. for anchor-mechanism tests).
    val adjudicate = !sys.env.get("SPARK_GRAFT_NO_ADJUDICATE").contains("1")
    val flaggedInflated = results.collect {
      case (k, (ts, _, _, _)) if isEnvInflated(k, ts) || isMedianInflated(k, ts) => k
    }.toList.sorted
    val adjudications: Map[String, (List[Double], String, Double)] =
      if (!adjudicate || flaggedInflated.isEmpty) Map.empty
      else {
        System.err.println(
          s"[bench] ${flaggedInflated.size} inflation-flagged rows " +
            "(env_inflated or median_inflated) — re-running isolated: " +
            flaggedInflated.mkString(", "))
        // bounded settle BEFORE the isolated reps, against a threshold
        // TIGHTER than the in-sweep contended flag: at sweep end the
        // session is idle, so anything much above our own worker count is
        // external. (The in-sweep loadContendedAt of 2·cpus+4 was too
        // loose here — a 64-thread external load read 66 on a 32-cpu box
        // and the adjudication ran straight into it, mislabeling noise as
        // code.) Load is a 1-min average, so a burst that just ended still
        // reads high for a while — hence minutes of patience, not seconds.
        val settleAt = cpus.toDouble * 1.25 + 4
        var waited = 0
        while (loadAvg() > settleAt && waited < 180) {
          Thread.sleep(5000); waited += 5
        }
        System.gc()
        flaggedInflated.map { k =>
          val fn = selected(k)
          val ts = scala.collection.mutable.ListBuffer[Double]()
          var adjLoad = -1.0
          var i = 0
          var failed = false
          // the sweep applied an UNTIMED warm pass to jitWarmQueries
          // before their anchored reps, so the anchor is a warmed median —
          // adjudication must measure the same steady state or a JIT-cold
          // rep 1 overstates the isolated median and can fire a spurious
          // `code` verdict (r12 advisory)
          if (jitWarmQueries(k))
            try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
          while (i < reps && !failed && (i == 0 || ts.sum < repBudgetSec)) {
            adjLoad = math.max(adjLoad, loadAvg())
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count() } catch {
              case e: Throwable =>
                System.err.println(s"[bench] adjudication rep failed ($k): ${e.getMessage}")
                failed = true
            }
            if (!failed) ts += (System.nanoTime() - t0) / 1e9
            i += 1
          }
          if (ts.isEmpty) k -> ((List(-1.0), "error", adjLoad))
          else {
            // a code verdict is only trustworthy if the isolated reps ran
            // on a quiet machine — when the settle wait expired with load
            // still high, say so instead of asserting a regression.
            // The clean bar matches the flag that fired: env_inflated
            // keys on the best rep (min <= 2x anchor), median_inflated on
            // the recovered median (<= 1.5x anchor).
            val recovered =
              if (isEnvInflated(k, results(k)._1)) ts.min <= 2 * anchors(k)
              else median(ts.toList) <= 1.5 * anchors(k)
            val verdict =
              if (recovered) "noise"
              else if (adjLoad > settleAt) "still-contended"
              else "code"
            System.err.println(
              s"[bench] adjudicated $k: isolated median ${f(median(ts.toList))} " +
                s"(min ${f(ts.min)}) vs anchor ${f(anchors(k))}, load ${f(adjLoad)} -> $verdict")
            k -> ((ts.toList, verdict, adjLoad))
          }
        }.toMap
      }
    // the reported number for an adjudicated row is the ISOLATED median —
    // the disturbed sweep median is kept in query_stats (disturbed_median)
    // for attribution, but totals/ratios/stdout use the honest cost.
    // EXCEPT still-contended rows: their isolated reps ran on a machine
    // the settle wait failed to quiet, so the isolated median is itself
    // possibly inflated — report the SMALLER of the two observations
    // (neither is clean; the smaller is the lower bound on the honest
    // cost) instead of presenting the contaminated one as adjudicated
    // truth (r12 advisory).
    val medians = results.map { case (k, (ts, _, _, _)) =>
      val sweepMed = if (ts.head < 0) -1.0 else median(ts)
      k -> (adjudications.get(k) match {
        case Some((ats, "still-contended", _)) if sweepMed >= 0 =>
          math.min(sweepMed, median(ats))
        case Some((ats, v, _)) if v != "error" => median(ats)
        case _ => sweepMed
      })
    }
    val total = medians.values.filter(_ >= 0).sum
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val stats = results.map { case (k, (ts, failures, load, gcFrac)) =>
      val duck = duckTimes.get(k).map(d => ",\"duck_sec\":" + f(d)).getOrElse("")
      val warmed = if (jitWarmQueries(k)) ",\"jit_warmed\":true" else ""
      val contended = if (load > loadContendedAt) ",\"contended\":true" else ""
      // the disturbance flags a reader needs to discount a number
      // without re-running it: residual rep spread > 2× (even after the
      // spiky extra rep), GC-dominated reps (>30% of some rep's wall
      // inside stop-the-world collections), and the cross-run anchor
      // (best rep > 2× the committed clean median — uniform inflation)
      val spread = if (ts.size >= 2 && ts.min > 0 && ts.max > 2 * ts.min)
        ",\"high_spread\":true" else ""
      val gcy = if (gcFrac > 0.3) ",\"gc_heavy\":true" else ""
      val env = if (isEnvInflated(k, ts))
        ",\"env_inflated\":true,\"anchor_sec\":" + f(anchors(k))
      else if (isMedianInflated(k, ts))
        ",\"median_inflated\":true,\"anchor_sec\":" + f(anchors(k))
      else ""
      // adjudication record: the disturbed sweep median stays visible
      // (disturbed_median) next to the isolated reps and the verdict, so
      // a reader can see BOTH what the sweep measured and what the query
      // actually costs — `median` above is already the adjudicated one
      val adj = adjudications.get(k).map { case (ats, verdict, aload) =>
        ",\"adjudicated\":\"" + verdict + "\"" +
          ",\"disturbed_median\":" + f(if (ts.head < 0) -1.0 else median(ts)) +
          ",\"adj_min\":" + f(ats.min) + ",\"adj_n\":" + ats.size +
          ",\"adj_load_max\":" + f(aload)
      }.getOrElse("")
      s"\"" + k + "\":{\"median\":" + f(medians(k)) + ",\"min\":" + f(ts.min) +
        ",\"max\":" + f(ts.max) + ",\"n\":" + ts.size + ",\"failures\":" + failures +
        ",\"load_max\":" + f(load) + ",\"gc_frac_max\":" + f(gcFrac) +
        duck + warmed + contended + spread + gcy + env + adj + "}"
    }.mkString("{", ",", "}")
    val nContended = results.count { case (_, (_, _, load, _)) => load > loadContendedAt }
    val nEnvInflated = results.count { case (k, (ts, _, _, _)) => isEnvInflated(k, ts) }
    val nMedianInflated = results.count { case (k, (ts, _, _, _)) => isMedianInflated(k, ts) }
    val nAdjNoise = adjudications.count(_._2._2 == "noise")
    // code and still-contended are DIFFERENT claims (a regression vs "the
    // machine never went quiet") — round-over-round tooling reading
    // n_adjudicated_code must not misattribute contamination as code
    val nAdjCode = adjudications.count(_._2._2 == "code")
    val nAdjStillContended = adjudications.count(_._2._2 == "still-contended")
    val nFlagged = results.count { case (k, (ts, _, load, gcFrac)) =>
      load > loadContendedAt || gcFrac > 0.3 ||
        (ts.size >= 2 && ts.min > 0 && ts.max > 2 * ts.min) ||
        isEnvInflated(k, ts) || isMedianInflated(k, ts)
    }
    // run-level drift vs the anchor era — the fourth disturbance state
    // (r12): a UNIFORM sub-2× slowdown trips no per-row flag (each row
    // is under 2× its anchor) yet moves the aggregate ratio. The median
    // of (sweep median / anchor) over substantial anchored rows makes it
    // a first-class readout: ~1.0 = same machine era as the anchor;
    // 1.1-1.5 = the BOX drifted (r12 measured 1.07-1.18 while the
    // unchanged DuckDB suite re-timed 1.34× — re-seed ORACLE_TIMES and
    // the anchor together when this moves). Raw sweep medians, not
    // adjudicated ones: this measures the run's environment.
    val anchorDriftMedian: Double = {
      val rs = results.toSeq.collect {
        case (k, (ts, _, _, _)) if ts.head >= 0 && anchors.get(k).exists(_ > 0.2) =>
          median(ts) / anchors(k)
      }.sorted
      if (rs.size < 20) -1.0 else rs((rs.size - 1) / 2)
    }
    // headline ratio over the queries BOTH engines time: <1 = Spark faster
    val comparable = medians.filter { case (k, v) => v >= 0 && duckTimes.contains(k) }
    val duckTotal = comparable.keys.map(duckTimes).sum
    val sparkComparable = comparable.values.sum
    val ratioJson =
      if (comparable.isEmpty) ""
      else ",\"duck_total\":" + f(duckTotal) +
        ",\"spark_total_comparable\":" + f(sparkComparable) +
        ",\"spark_vs_duck_ratio\":" + f(sparkComparable / math.max(duckTotal, 1e-9)) +
        ",\"n_comparable\":" + comparable.size
    // AUTOMATED MACHINE-DRIFT RESPONSE (r13, closing r12 verdict #5): a
    // uniform sub-2x box slowdown trips no per-row flag yet moves every
    // ratio — r12 diagnosed it MANUALLY (drift_median high, zero code
    // verdicts ⇒ re-time the unchanged DuckDB suite ⇒ 34-43% slower ⇒
    // re-seed both baselines). Close that loop: when a full run ends with
    // drift_median outside ~[0.8, 1.25] and no `code` verdict (i.e. the
    // evidence says BOX, not code), re-time a fixed probe subset of the
    // committed DuckDB oracles in this same window (tools/oracle_times.py
    // on the ~12 most expensive oracles of this run) and carry the
    // mini-ratio in the artifact next to the headline — a drifted run
    // then documents itself. Disable with SPARK_GRAFT_NO_DRIFT_PROBE=1.
    val driftProbe: Option[(Double, Double, Int)] = {
      // SPARK_GRAFT_FORCE_DRIFT_PROBE=1 exercises the probe from a
      // restricted run regardless of drift (the path fires rarely and
      // exactly when the run is already suspect — it must be testable)
      val forced = sys.env.get("SPARK_GRAFT_FORCE_DRIFT_PROBE").contains("1")
      val enabled = adjudicate && (only.isEmpty || forced) &&
        !sys.env.get("SPARK_GRAFT_NO_DRIFT_PROBE").contains("1")
      val drifted = forced || (anchorDriftMedian > 0 &&
        (anchorDriftMedian < 0.8 || anchorDriftMedian > 1.25))
      if (!enabled || !drifted || nAdjCode > 0) None
      else try {
        val probeQs = duckTimes.toSeq.sortBy(-_._2).take(12).map(_._1)
          .filter(SparkEntry.oracleSql.contains)
        if (probeQs.isEmpty) None
        else {
          System.err.println(
            s"[bench] anchor_drift_median ${f(anchorDriftMedian)} outside [0.8,1.25] " +
              s"with 0 code verdicts — probing DuckDB on ${probeQs.size} oracles " +
              "to attribute the drift (box vs engine)")
          def esc(s: String) = s.flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case '\n' => "\\n"
            case '\r' => ""
            case '\t' => "\\t"
            case c => c.toString
          }
          // temp files are deleted in the finally below on every exit
          // path; the log survives (deleteOnExit only) so a failed probe
          // is diagnosable — its path is printed on failure
          val inPath = java.nio.file.Files.createTempFile("graft_probe_sql", ".json")
          val outPath = java.nio.file.Files.createTempFile("graft_probe_times", ".json")
          val logFile = java.io.File.createTempFile("graft_probe_log", ".txt")
          logFile.deleteOnExit()
          try {
            java.nio.file.Files.write(inPath,
              probeQs.map(q => "\"" + q + "\":\"" + esc(SparkEntry.oracleSql(q)) + "\"")
                .mkString("{", ",", "}")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val pb = new ProcessBuilder("python3", "/root/repo/tools/oracle_times.py",
              sfDir, inPath.toString, outPath.toString, "3")
            pb.redirectErrorStream(true)
            pb.redirectOutput(logFile)
            val proc = pb.start()
            val done = proc.waitFor(900, java.util.concurrent.TimeUnit.SECONDS)
            if (!done) {
              proc.destroyForcibly()
              System.err.println(
                s"[bench] drift probe timed out after 900s — log: $logFile")
              None
            } else {
              val freshTimes = parseTimesBlock(new String(
                java.nio.file.Files.readAllBytes(outPath),
                java.nio.charset.StandardCharsets.UTF_8))
              val both = probeQs.filter(freshTimes.contains)
              val committed = both.map(duckTimes).sum
              val fresh = both.map(freshTimes).sum
              if (both.size < probeQs.size / 2 || committed <= 0) {
                System.err.println(
                  s"[bench] drift probe returned too few oracles " +
                    s"(${both.size}/${probeQs.size}) — log: $logFile")
                None
              } else {
                val ratio = fresh / committed
                System.err.println(
                  s"[bench] drift probe: same-window DuckDB reads ${f(ratio)}x the " +
                    s"committed ORACLE_TIMES over ${both.size} oracles " +
                    s"(${f(fresh)}s vs ${f(committed)}s)" +
                    (if (ratio > 1.2 || ratio < 0.85)
                       " — the BOX drifted: re-seed ORACLE_TIMES.json and BENCH_ANCHOR.json " +
                         "from same-window runs (tools/oracle_times.py + tools/update_anchor.py)"
                     else " — DuckDB did NOT drift; investigate the engine-side slowdown"))
                Some((ratio, fresh, both.size))
              }
            }
          } finally {
            java.nio.file.Files.deleteIfExists(inPath)
            java.nio.file.Files.deleteIfExists(outPath)
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] drift probe failed: ${e.getMessage}")
          None
      }
    }
    val driftProbeJson = driftProbe.map { case (r, sec, n) =>
      ",\"drift_probe_ratio\":" + f(r) + ",\"drift_probe_duck_sec\":" + f(sec) +
        ",\"drift_probe_n\":" + n
    }.getOrElse("")
    // Per-query spread stats go to a FILE, not stdout: with 100+ queries the
    // combined line exceeded the driver's stdout tail capture in r3 and the
    // bench JSON failed to parse ("parsed": null). The stdout line carries
    // only the driver-spec'd fields; BENCH_DETAIL.json keeps min/max/n/
    // failures for round-over-round attribution.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "/root/repo/BENCH_DETAIL.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      s"""{"warmup_sec":${f(warmupSec)},"stream_fixed_sec":${f(streamFixedSec)},"reps":$reps,"sf":"$sfDir","load_start":${f(loadStart)},"load_contended_at":${f(loadContendedAt)},"n_contended":$nContended,"n_flagged":$nFlagged,"n_env_inflated":$nEnvInflated,"n_median_inflated":$nMedianInflated,"n_adjudicated_noise":$nAdjNoise,"n_adjudicated_code":$nAdjCode,"n_adjudicated_still_contended":$nAdjStillContended,"n_anchored":${anchors.size},"anchor_drift_median":${f(anchorDriftMedian)}$driftProbeJson,"restricted":${only.nonEmpty},"n_selected":${selected.size},"warmup_failures":${warmupFailures.map("\"" + _ + "\"").mkString("[", ",", "]")}$ratioJson,"medians":$qs,"query_stats":$stats}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // The driver keeps only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that tail; sbt's own "[success] Total time ..." epilog
    // also lands inside it. 137 medians-only entries is ~3 KB — still over
    // budget (r2 AND r3 both came back "parsed": null). So the stdout line
    // carries the most expensive queries first (the ones a perf judgement
    // needs), greedily packed under a hard byte budget; `value` remains the
    // total over ALL queries, and the complete per-query map lives in
    // BENCH_DETAIL.json which is committed to the repo.
    val lineBudget = 1600 // leaves ~400 for sbt epilog + framing inside 2000
    val ordered = medians.toSeq.sortBy { case (_, v) => -v }
    val prefix = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":{"""
    val suffix = s"""},"sf":"$sfDir"}"""
    val fixed = prefix.length + suffix.length
    val entries = scala.collection.mutable.ListBuffer[String]()
    var used = fixed
    ordered.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + f(v)
      if (used + e.length + 1 <= lineBudget) { entries += e; used += e.length + 1 }
    }
    println(prefix + entries.mkString(",") + suffix)
    spark.stop()
  }
}
