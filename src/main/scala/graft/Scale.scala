package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.TaskLog

/** Scale-growth measurement harness: runs the banded/inverted-list
  * operator family on [[graft.sources.ScaleSynth]] corpora at 1×/10×/100×
  * (zero files — pure hash arithmetic, the MimicSynth pattern) and fits
  * each operator's wall-time and candidate-count growth exponents from a
  * log-log least-squares line. Writes SCALE.md.
  *
  * The claim under test: every near-dup/ANN operator the engine ships is
  * banded/blocked so its cost grows NEAR-LINEARLY in corpus size (fitted
  * exponent well under the all-pairs 2.0), which is the difference
  * between "works at sf0.1" and "survives 100 TB". The quadratic
  * exactness tier (brute-force cosine all-pairs) is measured at small
  * scales as the counter-baseline — its measured exponent ≈ 2.
  *
  * Usage: `sbt "runMain graft.Scale [SCALE.md]"` (≈ minutes; the 100×
  * corpus is 500k docs / 200k embeddings).
  */
object Scale {

  private case class Point(n: Long, sec: Double, outRows: Long, candidates: Long)

  /** Least-squares slope of log(y) on log(n) — the growth exponent. */
  private def exponent(pts: Seq[(Long, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1.toDouble))
    val ys = pts.map(p => math.log(math.max(p._2, 1e-9)))
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0.0) 0.0 else num / den
  }

  private def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val outPath = if (args.nonEmpty) args(0) else "SCALE.md"
    val cpus = Session.cpus
    val spark = Session.local(cpus)

    def scalesEnv(name: String, default: Seq[Long]): Seq[Long] =
      sys.env.get(name).map(_.split(",").map(_.trim.toLong).toSeq).getOrElse(default)
    val docScales = scalesEnv("SPARK_GRAFT_SCALE_DOCS", Seq(5000L, 50000L, 500000L))
    val embScales = scalesEnv("SPARK_GRAFT_SCALE_EMBS", Seq(2000L, 20000L, 200000L))
    // the quadratic tier is measured only at small n (that is the point);
    // sized so BOTH points are COMPUTE-bound (32M / 512M pairs — ~0.3 s of
    // Spark job overhead under-reads the exponent when a point's true
    // compute is comparable to it)
    val bruteScales = scalesEnv("SPARK_GRAFT_SCALE_BRUTE", Seq(8000L, 32000L))

    // An operator under measurement: `run` is timed (twice, min taken —
    // damps JIT/GC noise); `once` carries deterministic side measurements
    // (candidate counts) that would otherwise re-run full-corpus jobs per
    // rep for no benefit. Corpora are generated and cached ONCE PER SCALE
    // and shared by every operator at that scale — generation (the
    // per-word hash draws) is the harness's cost center.
    case class Op(name: String,
                  run: DataFrame => (Long, Double),
                  once: DataFrame => Long = _ => -1L)

    def measureAll(scales: Seq[Long], mk: Long => DataFrame, ops: Seq[Op],
                   results: scala.collection.mutable.LinkedHashMap[String, Seq[Point]]): Unit = {
      ops.foreach(op => if (!results.contains(op.name)) results(op.name) = Seq())
      scales.foreach { n =>
        val in = mk(n)
        Materialize.scoped(in) {
          in.count()
          ops.foreach { op =>
            val cand = op.once(in)
            // one scope per rep: an operator's internal pins go with its
            // rep, so the second rep starts as cold as the first
            val (r1, s1) = Materialize.scoped()(op.run(in))
            val (r2, s2) = Materialize.scoped()(op.run(in))
            val p = if (s1 <= s2) Point(n, s1, r1, cand) else Point(n, s2, r2, cand)
            results(op.name) = results(op.name) :+ p
          }
        }
      }
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Point]]()

    val docOps = Seq(
      Op("d_minhash_pairs (MinHash-LSH)",
        run = docs => timeIt(
          graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text").count()),
        // candidate pairs = Σ (bucket size choose 2) over (band, bucket):
        // exactly what the band join materializes before the pair dedup
        once = docs => graft.dedup.Dedup
          .minhashBandsPerRow(docs, "doc_id", "text")
          .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1) / 2).cast("long")).as("cand"))
          .collect()(0).getLong(0)),
      Op("d_prefix_jaccard (PPJoin prefix+size+positional filters)",
        run = docs => {
          val pairs = graft.dedup.Dedup
            .prefixJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
          timeIt(pairs.count())
        },
        // the pre-distinct match rows the operator's OWN filter chain
        // admits into verification (prefix + size + positional, r11) —
        // measured by the operator's instrumentation hook so the number
        // cannot drift from the join's real cost
        once = docs => graft.dedup.Dedup
          .prefixJaccardCandidateCount(docs, "doc_id", "text", threshold = 0.9)),
      Op("d_simhash_pairs (SimHash pigeonhole)",
        run = docs => timeIt(
          graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text").count())),
      Op("pipeline_curation (staged funnel)",
        run = docs => timeIt(
          graft.text.Curation.funnel(
            docs.filter(col("doc_id") % 100 =!= 0),
            docs.filter(col("doc_id") % 100 === 0),
            "doc_id", "text",
            minTokens = 15, maxTokens = 100000,
            minMeanLen = 2.0, maxMeanLen = 8.0, minTtr = 0.2).count())))
    measureAll(docScales, graft.sources.ScaleSynth.documents(spark, _), docOps, results)

    // the bucket space is SIZED TO THE CORPUS (the FAISS-nlist parameter
    // discipline): target ~32 vectors per band-bucket. This is the
    // harness's first real catch — with the fixed 6-bit default the
    // candidate join is Θ(n²/2⁶) and at 200k vectors it spilled the
    // machine's disk; with log-sized buckets it is near-linear. Since
    // r12 the derivation lives in the EXPLICIT scale-path entry point
    // (Similarity.rhpNearDupPairsAuto → autoBitsPerBand), keeping the
    // pinned 6-bit default reproducible and action-free for oracled
    // callers — this harness exercises the scale path.
    val embOps = Seq(
      Op("d_embed_neardup (RHP-LSH, corpus-sized buckets)",
        run = emb =>
          timeIt(graft.sim.Similarity.rhpNearDupPairsAuto(emb, "vec_id", "embedding",
            dim = 64, threshold = 0.9).count())),
      Op("sim_ivfpq_topk (IVF-PQ + rerank)",
        run = emb => timeIt(
          graft.sim.Quantized.ivfPqTopK(emb, "vec_id", "embedding",
            dim = 64, m = 8, nCodes = 16, nPivots = 16, nprobe = 2,
            nQueries = 10, rerank = 20, k = 5).count())))
    measureAll(embScales, graft.sources.ScaleSynth.embeddings(spark, _), embOps, results)

    measureAll(docScales, graft.sources.ScaleSynth.keys(spark, _), Seq(
      Op("d_editdist_pairs (PassJoin segments)",
        run = keys => timeIt(
          graft.dedup.Dedup.editDistancePairs(keys, "key", maxDist = 2).count()))),
      results)

    // ---- the quadratic counter-baseline --------------------------------
    measureAll(bruteScales, graft.sources.ScaleSynth.embeddings(spark, _), Seq(
      Op("sim_cosine_pairs (exact all-pairs — the O(n²) oracle tier)",
        run = emb => timeIt(
          graft.sim.Similarity.cosinePairs(emb, "vec_id", "embedding",
            threshold = 0.8).count()),
        once = emb => { val n = emb.count(); n * (n - 1) / 2 })),
      results)

    // ---- iterated-join graph family (r11): the cost axis is EDGES ------
    // constant mean degree (nodes = edges/8), so density stays fixed and
    // the fit isolates size growth. Each op is a bounded number of
    // edge-keyed shuffle rounds — expected exponent ≈ 1.
    val edgeScales = scalesEnv("SPARK_GRAFT_SCALE_EDGES",
      Seq(20000L, 200000L, 2000000L))
    val graphOps = Seq(
      Op("g_pagerank3 (3 damped Pregel-unrolled iterations)",
        run = e => {
          // built outside the timer: the node count inside fixedPoint is
          // eager, and the row times the iterations' count
          val pr = graft.ops.PageRank.fixedPoint(e, "src", "dst", iters = 3)
          timeIt(pr.count())
        }),
      Op("g_bfs_dist (3-hop BFS from a 1/97 seed set)",
        run = e => {
          val n = e.count() // cached — a metadata-cheap read, outside the timer
          val seeds = graft.sources.ScaleSynth.edgeNodes(e.sparkSession, n)
            .filter(col("node_id") % 97 === 0)
          timeIt(graft.ops.Bfs.kHopDistances(e, "src", "dst",
            seeds, "node_id", maxHops = 3).count())
        }),
      Op("g_components (min-label pointer jumping)",
        run = e => {
          val n = e.count()
          val nodes = graft.sources.ScaleSynth.edgeNodes(e.sparkSession, n)
          timeIt(graft.dedup.Dedup.dupClusters(
            e.select(least(col("src"), col("dst")).as("doc_a"),
              greatest(col("src"), col("dst")).as("doc_b")),
            nodes, "node_id").count())
        }))
    measureAll(edgeScales, graft.sources.ScaleSynth.edges(spark, _), graphOps, results)

    // ---- tokenizer TRAINING + multimodal blocking (r12, verdict #6) ----
    // BPE training: fixed 20 merges in 10-merge batches → a CONSTANT
    // number of driver-coordinated rounds at any corpus size; per-round
    // cost is one explode+agg scan, so the fit should band near-linear.
    // pHash blocking: the SimHash pigeonhole machinery over binary
    // payloads — candidates counted exactly as Σ C(bucket,2) over the
    // 4×15-bit chunk buckets, so a blocking collapse is visible.
    measureAll(docScales, graft.sources.ScaleSynth.documents(spark, _), Seq(
      Op("t_bpe_merges (BPE training, 20 merges in 2 batched rounds)",
        run = docs => timeIt(
          graft.text.BpeTrain.learnMergesBatched(
            docs, "text", totalMerges = 20, batch = 10).count()))), results)

    // pHash blocking runs on the PAYLOAD corpus (byte-entropy like real
    // media — the word corpus's collapsed byte histograms are finding #5)
    // through the corpus-sized multi-index entry point: block-key width
    // grows with n (autoChunks), the same discipline as RHP-LSH's
    // autoBitsPerBand, against the fixed-width Θ(n²/2^15) collision floor.
    measureAll(docScales, graft.sources.ScaleSynth.payloadStrings(spark, _), Seq(
      Op("mm_phash_pairs (corpus-sized multi-index pigeonhole)",
        run = docs => timeIt(
          graft.multimodal.Multimodal.phashPairsAuto(
            graft.multimodal.Multimodal.toBinaryTable(
              docs, "doc_id", "text", "blob"), "doc_id").count()),
        once = docs => {
          val n = docs.count()
          val nChunks = graft.multimodal.Multimodal.autoChunks(n)
          val w = 60 / nChunks
          val combos = (0 until nChunks).combinations(nChunks - 3).zipWithIndex
            .map { case (cs, idx) =>
              (idx, cs.map(c => ((1L << w) - 1L) << (c * w)).reduce(_ | _))
            }.toSeq
          graft.multimodal.Multimodal.phashSignatures(
              graft.multimodal.Multimodal.toBinaryTable(
                docs, "doc_id", "text", "blob"), "doc_id")
            .select(
              explode(array(combos.map { case (idx, mask) =>
                struct(lit(idx).as("ci"),
                  col("ph").bitwiseAND(lit(mask)).as("ck"))
              }: _*)).as("c"))
            .groupBy("c.ci", "c.ck").agg(count(lit(1)).as("n"))
            .agg(sum((col("n") * (col("n") - 1) / 2).cast("long")))
            .collect()(0).getLong(0)
        })), results)

    // ---- SKEW TIER (r12, verdict #2): Zipf(1.1) keys ------------------
    // Volume exponents cannot see hot keys; hot keys are what kills
    // 100-TB joins. Axis = fact rows over a Zipf(s=1.1) key profile
    // (hottest key ≈ 10% of rows AT ANY SIZE — the share is
    // scale-invariant, so these bands measure whether the salted
    // operators keep reducer load flat as volume grows). Each op reports
    // wall + the max/median task-time ratio of its dominant stages
    // (TaskLog.worstSkewRatio); the un-salted counterparts run at the same
    // scales as the contrast. ScaleSpec additionally pins the
    // DETERMINISTIC reducer-load bound (hash(key,salt) vs hash(key)
    // partition row counts — exactly HashPartitioning's arithmetic), so
    // de-salting fails the suite even when local task times are too
    // noisy to flag.
    val skewResults =
      scala.collection.mutable.LinkedHashMap[String, Seq[(Long, Double, Double)]]()
    // per n: (plain@32, salt16@32, plain@1000, salt16@1000, saltAuto@1000)
    // — the P=1000 columns are the production-cluster readout (r12 verdict
    // #8): the arithmetic is free at any P, and it surfaces the SALT-WIDTH
    // SIZING RULE (a 16-way salt that flattens at P=32 leaves ~7x at
    // P=1000; SkewOps.autoSaltBuckets derives the width from P)
    var skewLoads: Seq[(Long, Double, Double, Double, Double, Double)] = Seq()
    // (n, wall, ratio) over two reps: min wall (JIT damping) but MAX
    // ratio, since a straggler that shows in either rep is real
    def skewReps(n: Long)(body: => Any): (Long, Double, Double) = {
      val reps = Seq.fill(2) {
        val ((_, sec), log) =
          TaskLog.during(spark.sparkContext)(timeIt(Materialize.scoped()(body)))
        (sec, log.worstSkewRatio)
      }
      (n, reps.map(_._1).min, reps.map(_._2).max)
    }
    locally {
      val zipfScales = scalesEnv("SPARK_GRAFT_SCALE_ZIPF",
        Seq(100000L, 1000000L, 10000000L))
      case class SkewOp(name: String, run: DataFrame => Long)
      val skewOps = Seq(
        SkewOp("skew_salted_agg (two-phase salted agg)",
          z => graft.ops.SkewOps.saltedAgg(z, "key", col("v"),
            saltBuckets = 16).count()),
        SkewOp("unsalted agg contrast (plain groupBy)",
          z => z.groupBy("key").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
            min("v").as("min_v"), max("v").as("max_v")).count()),
        SkewOp("j9_salted_join (salted fact join + rollup)",
          z => {
            val dim = graft.sources.ScaleSynth.zipfDim(spark, z.count())
            graft.ops.SkewOps.saltedJoin(z, dim, "key", "dkey",
                saltBuckets = 16, saltCols = Seq("row_id"))
              .groupBy("grp").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
              .count()
          }),
        SkewOp("unsalted join contrast (plain equi-join + rollup)",
          z => {
            val dim = graft.sources.ScaleSynth.zipfDim(spark, z.count())
            z.join(dim, z("key") === dim("dkey"))
              .groupBy("grp").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
              .count()
          }))
      skewOps.foreach(op => skewResults(op.name) = Seq())
      zipfScales.foreach { n =>
        val z = graft.sources.ScaleSynth.zipfKeyed(spark, n)
        Materialize.scoped(z) {
          z.count()
          // DETERMINISTIC reducer-load ratio (max/median rows per reduce
          // partition, HashPartitioning arithmetic — the same computation
          // ScaleSpec pins): local[32] task TIMES under-display a hot key
          // (per-task overheads flatten a 4.5× row-load imbalance into
          // ~1.5× wall), but the row-load ratio is exactly what 1000
          // reducers would feel. Plain key vs the content salt the
          // operators apply.
          def loadRatio(cols: Seq[org.apache.spark.sql.Column], p: Int): Double = {
            val per = z.groupBy(pmod(hash(cols: _*), lit(p)).as("pid"))
              .agg(count(lit(1)).as("c"))
              .select("c").collect().map(_.getLong(0)).sorted
            // median over the NON-EMPTY partitions only (groupBy emits no
            // row for an empty pid). At p approaching the distinct-key
            // count that would understate skew (missing 0-load reducers
            // pull the median up); here zipfKeySpace >= n/10 keeps distinct
            // keys >> p at every shipped n, so all p partitions are hit
            per.last.toDouble / per((per.length - 1) / 2)
          }
          def salt(buckets: Long) =
            pmod(xxhash64(z.columns.map(col).toIndexedSeq: _*), lit(buckets))
          val autoB = graft.ops.SkewOps.autoSaltBuckets(1000).toLong
          skewLoads = skewLoads :+ ((n,
            loadRatio(Seq(col("key")), 32),
            loadRatio(Seq(col("key"), salt(16L)), 32),
            loadRatio(Seq(col("key")), 1000),
            loadRatio(Seq(col("key"), salt(16L)), 1000),
            loadRatio(Seq(col("key"), salt(autoB)), 1000)))
          skewOps.foreach { op =>
            skewResults(op.name) = skewResults(op.name) :+ skewReps(n)(op.run(z))
          }
        }
      }
      // the prefix join under Zipf TOKENS: hot postings are the skew
      // surface of set-similarity joins (two-tier salting,
      // Dedup.scala). Same doc scales as the uniform corpus — the
      // uniform d_prefix_jaccard rows above are the contrast.
      val name = "d_prefix_jaccard on Zipf-1.1 token corpus (two-tier salted postings)"
      skewResults(name) = Seq()
      docScales.foreach { n =>
        val docs = graft.sources.ScaleSynth.zipfDocuments(spark, n)
        Materialize.scoped(docs) {
          docs.count()
          skewResults(name) = skewResults(name) :+ skewReps(n) {
            graft.dedup.Dedup
              .prefixJaccardPairs(docs, "doc_id", "text", threshold = 0.9).count()
          }
        }
      }
    }

    // ---- straggler tier (r13, verdict #3) ------------------------------
    // The r12 skew tier honestly conceded its task-TIME ratios were flat
    // (1.1-2.3x against a 4.8-6.1x row-load funnel). Root causes, found
    // and fixed this round: (a) the dim side was BROADCASTABLE, so the
    // join never shuffled the fact by key at all — forced off here
    // (autoBroadcastJoinThreshold=-1, the 100-TB shape where the dim
    // doesn't fit); (b) the ~10% Zipf hot key was too mild for second-
    // scale tasks — this tier uses the 50%-hot "null/default foreign key"
    // profile, the classic production pathology. With those fixed the
    // funnel appears UNAMBIGUOUSLY in the reduce stage's max/median task
    // time (~20x naive vs ~2x salted, measured below) — and on a real
    // cluster a stage's WALL IS its max task (the stage barrier), so
    // that ratio is the cluster wall penalty. Single-box walls are also
    // reported but CANNOT fully show it: locally all P tasks share one
    // machine's throughput, so a straggler only idles (cores-1) while
    // the balanced legs pay their full CPU sum — and the unsalted hot
    // partition's sort is run-length-cheap (16M identical keys TimSort
    // in O(n)) while salted partitions sort real (key,salt) entropy.
    // Five legs: naive (skew-split off), Spark's AQE skew-split, the
    // portable salt at 16 (local-sized — its hot cells COLLIDE lumpily
    // over P partitions) and at 256 (P-and-skew-sized, flat), and the
    // r14 adaptive composition (detectHotKeys probe + auto-sized salt).
    // (name, n, wall, reduceMax ms, reduceMed ms)
    var stragglerRows: Seq[(String, Long, Double, Long, Long)] = Seq()
    locally {
      val n = scalesEnv("SPARK_GRAFT_SCALE_STRAGGLER", Seq(32000000L)).max
      val keySpace = 4096L // small dim: a 256-way salt replicates it to
                           // just 1M rows — salt width trades hot-cell
                           // size against dim replication
      val z = spark.range(n).select(
        col("id").as("row_id"),
        when(pmod(xxhash64(col("id"), lit("hk")), lit(100L)) < 50L, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit("uk")), lit(keySpace))).as("key"),
        pmod(xxhash64(col("id"), lit("v")), lit(1000L)).cast("double").as("v"))
        .repartition(32)
      val dim = spark.range(0L, keySpace).select(
        col("id").as("dkey"), pmod(col("id"), lit(32L)).as("grp"))
      def rollup(joined: DataFrame): Long =
        joined.groupBy("grp").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v")).count()
      def withConfs[T](pairs: (String, String)*)(body: => T): T = {
        val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
        pairs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally olds.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
      val noBroadcast = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val variants: Seq[(String, Seq[(String, String)], () => Long)] = Seq(
        ("naive shuffle join (AQE skew-split OFF — the unmitigated 100-TB plan)",
          noBroadcast :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => rollup(z.join(dim, z("key") === dim("dkey")))),
        // AQE-detection finding (r13, measured by plan introspection):
        // the built-in skew-split keys on COMPRESSED map-output BYTES,
        // and this pathology defeats it — column pruning leaves only the
        // join key in the fact shuffle, and a constant hot key
        // lz4-compresses ~100x, so a multi-million-row straggler reports
        // as ~1-2MB and `skewedPartitionThresholdInBytes` never trips
        // (256m default AND a demo-scaled 32m both read "not skewed";
        // the split only engages once the threshold drops under the
        // compressed size, ~1m here). Task TIME is row-driven, detection
        // is byte-driven — low-entropy hot keys (nulls, defaults) are
        // exactly the rows that compress best. The salt keys on the KEY
        // VALUE itself and is immune. This leg runs with the threshold
        // pushed under the compression artifact so the mechanism is
        // shown working; the finding is the gap.
        ("AQE skew-split ON, byte threshold 1m (defeats the constant-key compression artifact)",
          noBroadcast ++ Seq(
            "spark.sql.adaptive.skewJoin.enabled" -> "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m"),
          () => rollup(z.join(dim, z("key") === dim("dkey")))),
        ("salted join, B=16 (local-sized salt — hot cells collide over P)",
          noBroadcast :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => rollup(graft.ops.SkewOps.saltedJoin(z, dim, "key", "dkey",
            saltBuckets = 16, saltCols = Seq("row_id")))),
        ("salted join, B=256 (skew-and-P-sized salt)",
          noBroadcast :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => rollup(graft.ops.SkewOps.saltedJoin(z, dim, "key", "dkey",
            saltBuckets = 256, saltCols = Seq("row_id")))),
        // r14 (verdict #5): detection + mitigation composed — the
        // row-driven sampled probe (detectHotKeys) decides salting and
        // sizes the width from the observed share; its one sampled job
        // is INSIDE the timed leg, so the row prices the whole
        // composition, not just the mitigation
        ("adaptive salted join (detectHotKeys probe + auto-sized salt, probe cost included)",
          noBroadcast :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => rollup(graft.ops.SkewOps.adaptiveSaltedJoin(z, dim, "key", "dkey",
            saltCols = Seq("row_id"), sampleFraction = 0.001))))
      Materialize.scoped(z) {
        z.count()
        variants.foreach { case (name, confs, run) =>
          def rep(): (Double, (Long, Long)) = withConfs(confs: _*) {
            val ((_, sec), log) = TaskLog.during(spark.sparkContext)(timeIt(run()))
            (sec, log.heaviestStageMaxMed)
          }
          rep() // untimed JIT/codegen warm per leg
          val (sec, (mx, md)) = Seq(rep(), rep()).minBy(_._1)
          stragglerRows = stragglerRows :+ ((name, n, sec, mx, md))
        }
      }
    }

    // ---- memory/spill tier (r14, verdict #3) ---------------------------
    // The one scale axis never banded: behavior under a CONSTRAINED heap.
    // The 100-TB story asserts graceful spill ("degrades via disk, never
    // OOM, same answer") — this tier measures it. `spark.memory.fraction`
    // is static and a running JVM's heap cannot shrink, so memory tiers
    // are real child JVMs (graft.tools.SpillProbe: java -Xmx<tier> with
    // the inherited classpath), each running one of the repo's two
    // biggest-shuffle operators — the PPJoin verification join (whose
    // 44.6-170.5 s cross-run variance at 500k docs r11 observed and
    // never attributed) and the MinHash banded self-join — and reporting
    // wall + TaskMetrics spill bytes + the result row count.
    // (op, heap, wall, spillMemMb, spillDiskMb, peakTaskMb, rows);
    // wall = -1 marks a failed/OOM-killed child — the contract broken.
    var spillRows: Seq[(String, String, Double, Double, Double, Double, Long)] = Seq()
    locally {
      val n = scalesEnv("SPARK_GRAFT_SCALE_SPILL", Seq(500000L)).max
      val heaps = sys.env.get("SPARK_GRAFT_SCALE_SPILL_HEAPS")
        .map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq("16g", "8g", "4g", "2g"))
      // untimed warm children first: the FIRST child JVM pays disk-cold
      // jar/class reads that later children find in page cache (measured
      // ~20 s on the first tier before this warm — 48.9 s vs 28.8 s for
      // an identical-work sibling), which would make the unspilled
      // reference tier look slower than the spilling ones
      Seq("ppjoin", "minhash").foreach(op =>
        graft.tools.SpillProbe.spawn(op, 5000L, "2g"))
      Seq("ppjoin", "minhash").foreach { op =>
        heaps.foreach { heap =>
          graft.tools.SpillProbe.spawn(op, n, heap) match {
            case Some(m) => spillRows = spillRows :+ ((op, heap,
              m("wall_sec"), m("spill_mem_mb"), m("spill_disk_mb"),
              m("peak_task_exec_mb"), m("rows").toLong))
            case None => spillRows = spillRows :+ ((op, heap,
              -1.0, -1.0, -1.0, -1.0, -1L))
          }
        }
      }
    }

    // ---- BPE training on the MERGES axis (r13, verdict #4) -------------
    // The corpus-axis band (0.28) runs a CONSTANT merge count; real
    // vocabularies need 10^4-10^5 merges, and round count grows with
    // merges/batch. Fixed corpus, merges in {20, 200, 2000} at batch=256.
    // Two cost terms, both visible in the table: the per-round FIXED cost
    // (two pair-count jobs + the frame refresh — the JOB count is
    // rounds = ceil(merges/batch), never merges) and an apply term that
    // grows with the merges applied per round. Batching buys the fixed
    // term; the fitted exponent prices the whole curve.
    var bpeMergeRows: Seq[(Long, Long, Double)] = Seq() // (merges, rounds, wall)
    locally {
      val mergeAxis = scalesEnv("SPARK_GRAFT_SCALE_MERGES", Seq(20L, 200L, 2000L))
      val batch = 256
      val docs = graft.sources.ScaleSynth.documents(spark, math.min(docScales.max, 50000L))
      Materialize.scoped(docs) {
        docs.count()
        mergeAxis.foreach { m =>
          def once(): Double =
            timeIt(graft.text.BpeTrain
              .learnMergesBatched(docs, "text", m.toInt, batch).count())._2
          val (t1, t2) = (once(), once())
          bpeMergeRows = bpeMergeRows :+
            ((m, (m + batch - 1) / batch, math.min(t1, t2)))
        }
      }
    }

    // ---- streaming near-dup drain (r11): the cost axis is BATCHES ------
    // fixed 5k-doc micro-batches, so 1×/10×/100× corpora run 1/10/100
    // batches through the flatMapGroupsWithState band-bucket state
    // machine. Near-linear wall growth = per-batch cost stays O(batch +
    // state-commit); state itself is O(buckets seen), which grows with
    // the corpus — if store maintenance cost compounds per batch, the
    // fit catches it (that is this harness's job).
    var streamCoarse: Option[(Long, Double, Long)] = None
    locally {
      val streamScales = scalesEnv("SPARK_GRAFT_SCALE_STREAM",
        Seq(5000L, 50000L, 500000L))
      val name = "d_stream_neardup (drain, 5k-doc micro-batches)"
      if (!results.contains(name)) results(name) = Seq()
      streamScales.foreach { n =>
        val batches = math.max(1L, n / 5000L).toInt
        val dir = java.nio.file.Files.createTempDirectory(s"graft_scale_stream_$n")
        try {
          graft.sources.ScaleSynth.documents(spark, n)
            .repartition(batches).write.mode("overwrite").parquet(dir.toString)
          def drain(tag: String): (Long, Double) = timeIt(
            graft.streaming.StreamOps.nearDupDrainDir(
              spark, dir.toString, s"graft_scale_neardup_${n}_$tag",
              filesPerTrigger = 1).count())
          // min-of-2 at the small scales only: the 100-batch drain is
          // minutes long and batch-dominated (JIT noise is amortized)
          val (r1, s1) = drain("a")
          val p = if (batches >= 100) Point(n, s1, r1, batches.toLong)
          else {
            val (r2, s2) = drain("b")
            if (s1 <= s2) Point(n, s1, r1, batches.toLong)
            else Point(n, s2, r2, batches.toLong)
          }
          results(name) = results(name) :+ p
          // batch-size decomposition (r12, verdict #5): drain the SAME
          // corpus with 10 files per trigger → ~10× fewer micro-batches.
          // Solving wall = c·triggers + w·docs across the two drains
          // attributes the stream exponent: c = per-micro-batch fixed
          // cost (trigger planning + state-store commit), w = per-doc
          // work. If c dominates, the 0.79 band is the micro-batch
          // FLOOR, not state growth — and a production batch size
          // amortizes it away.
          if (n == streamScales.max && batches >= 10) {
            val coarseTriggers = (batches + 9L) / 10L
            val (_, cs) = timeIt(
              graft.streaming.StreamOps.nearDupDrainDir(
                spark, dir.toString, s"graft_scale_neardup_${n}_coarse",
                filesPerTrigger = 10).count())
            streamCoarse = Some((n, cs, coarseTriggers))
          }
        } finally {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(dir)
          try walk.iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
          finally walk.close()
        }
      }
    }

    // ---- the MIMIC flagship at 10× admissions (r11) --------------------
    // MimicSynth.*At(f) scales every block constant linearly (proportions
    // preserved — see the generator's scaladoc), so the fit measures the
    // reference pipeline's own shape: the cohort-window + join relational
    // prefix and the full tokenize→vocab→BoW→assemble matrix build.
    {
      // 1×/10×/100× (r12 added the third decade — two points give the
      // slope, not a curvature check; 100× is 5.9M admissions / 4.5M
      // modeling rows, matching the dedup family's three-decade standard)
      val mimicScales = scalesEnv("SPARK_GRAFT_SCALE_MIMIC", Seq(1L, 10L, 100L))
      val nameR = "mimic modeling rows (cohort windows + joins + split)"
      val nameM = "mimic matrix build (tokenize→top-3000 vocab→BoW→assemble)"
      Seq(nameR, nameM).foreach(k => if (!results.contains(k)) results(k) = Seq())
      mimicScales.foreach { f =>
        val nAdm = graft.sources.MimicSynth.N_ADM * f
        def rowsOnce(): (Long, Double) = timeIt(
          graft.sources.MimicSynth.modelingRowsAt(spark, f)
            .groupBy("label", "split").count().count())
        val (c1, t1) = rowsOnce(); val (c2, t2) = rowsOnce()
        results(nameR) = results(nameR) :+
          (if (t1 <= t2) Point(nAdm, t1, c1, -1L) else Point(nAdm, t2, c2, -1L))
        // the matrix build is measured ONCE per scale (it is itself a
        // multi-pass pipeline; its internal persists amortize JIT) and
        // unpersisted immediately — the memoized f=1 session copy is not
        // touched
        val (mRows, mSec) = timeIt {
          val m = graft.pipeline.MimicPipeline.assembledAt(spark, f)
          val c = m.count(); m.unpersist(); c
        }
        results(nameM) = results(nameM) :+ Point(nAdm, mSec, mRows, -1L)
      }
    }

    // ---- render ---------------------------------------------------------
    val sb = new StringBuilder
    sb.append("# SCALE — measured growth exponents (generated by `graft.Scale`)\n\n")
    sb.append(s"Corpora: `ScaleSynth` hash-arithmetic documents/embeddings at ")
    sb.append(s"${docScales.mkString(" / ")} docs (embeddings ${embScales.mkString(" / ")}),\n")
    sb.append("zero files, bit-reproducible at any size. 10% planted near-duplicates\n")
    sb.append("(constant rate → true pairs grow linearly by construction); vocabulary\n")
    sb.append("grows with the corpus (Heaps' law, V = max(2000, n/2)) — with a FIXED\n")
    sb.append("vocabulary ANY inverted-index join densifies toward Θ(n²/V), a data\n")
    sb.append("property, not an algorithm property. Machine: local[" + cpus + "], ")
    sb.append("timings are min-of-2 on a cached input (generation excluded).\n\n")
    sb.append("| operator | n | wall (s) | output rows | candidate pairs |\n")
    sb.append("|---|---:|---:|---:|---:|\n")
    results.foreach { case (name, pts) =>
      pts.foreach { p =>
        val cand = if (p.candidates < 0) "—" else p.candidates.toString
        sb.append(f"| $name | ${p.n}%,d | ${p.sec}%.2f | ${p.outRows}%,d | $cand |\n")
      }
    }
    sb.append("\n## Fitted exponents (log-log least squares)\n\n")
    sb.append("| operator | time exponent | candidate exponent | verdict |\n")
    sb.append("|---|---:|---:|---|\n")
    results.foreach { case (name, pts) =>
      val te = exponent(pts.map(p => p.n -> p.sec))
      val ce = if (pts.forall(_.candidates >= 0))
        f"${exponent(pts.map(p => p.n -> p.candidates.toDouble))}%.2f" else "—"
      val quadratic = name.contains("O(n²)")
      val verdict =
        if (quadratic) "quadratic by design (exactness baseline)"
        else if (te < 1.3) "near-linear — survives 100×"
        else "SUPRA-LINEAR — investigate"
      sb.append(f"| $name | $te%.2f | $ce | $verdict |\n")
    }
    sb.append("\n## Skew tier (Zipf s=1.1 keys/tokens — hottest key ~10% of rows at any size)\n\n")
    sb.append("Two complementary measurements. (a) The DETERMINISTIC reducer-load\n")
    sb.append("ratio (max/median ROWS per reduce partition, exactly\n")
    sb.append("HashPartitioning's arithmetic) at BOTH the local P=32 and a\n")
    sb.append("production cluster's P=1000 (r12 verdict #8 — the arithmetic is\n")
    sb.append("free at any P):\n\n")
    sb.append("| n | plain @P=32 | salt16 @P=32 | plain @P=1000 | salt16 @P=1000 | salt" )
    sb.append(graft.ops.SkewOps.autoSaltBuckets(1000).toString)
    sb.append(" @P=1000 |\n|---:|---:|---:|---:|---:|---:|\n")
    skewLoads.foreach { case (n, p32, s32, p1k, s1k, a1k) =>
      sb.append(f"| $n%,d | $p32%.1f | $s32%.2f | $p1k%.0f | $s1k%.1f | $a1k%.2f |\n")
    }
    sb.append("\nThe hot key funnels a scale-invariant multiple of the median into\n")
    sb.append("one reducer on the plain key; the content salt flattens it. This is\n")
    sb.append("the bound ScaleSpec pins, so de-salting fails the suite. The P=1000\n")
    sb.append("columns surface the SALT-WIDTH SIZING RULE: a fixed 16-way salt\n")
    sb.append("that flattens at P=32 still leaves ~(hotShare·P/16 + 1) ≈ 7x at\n")
    sb.append("P=1000 — the bucket count must grow with the reducer count\n")
    sb.append("(B ≥ s·P/(target−1); SkewOps.autoSaltBuckets derives it, the same\n")
    sb.append("corpus-sizing discipline as RHP-LSH's autoBitsPerBand), and the\n")
    sb.append("auto-sized column shows it back under the target.\n\n")
    sb.append("(b) Wall + worst max/median task-TIME ratio across the dominant\n")
    sb.append("stages (graft.obs.TaskLog). Caveat honestly stated: at local[32]'s\n")
    sb.append("task sizes, per-task fixed overheads flatten the row-load imbalance\n")
    sb.append("(a 4.5× load ratio reads as ~1.5-2× task time, and the salted and\n")
    sb.append("un-salted WALLS are close — salting here buys insurance measured by\n")
    sb.append("(a), priced at the small replication cost visible in (b)). Partial\n")
    sb.append("map-side aggregation also absorbs agg-side skew entirely — the agg\n")
    sb.append("contrast pair documents that Spark's partial agg, not salting, is\n")
    sb.append("the first line of defense for algebraic aggregates; salting matters\n")
    sb.append("for joins and non-combinable aggregations.\n\n")
    sb.append("| operator | n | wall (s) | max/median task |\n")
    sb.append("|---|---:|---:|---:|\n")
    skewResults.foreach { case (name, pts) =>
      pts.foreach { case (n, sec, ratio) =>
        val r = if (ratio < 0) "—" else f"$ratio%.1f"
        sb.append(f"| $name | $n%,d | $sec%.2f | $r |\n")
      }
    }
    sb.append("\n| operator | time exponent | worst ratio |\n|---|---:|---:|\n")
    skewResults.foreach { case (name, pts) =>
      val te = exponent(pts.map(p => p._1 -> p._2))
      val wr = pts.map(_._3).max
      sb.append(f"| $name | $te%.2f | $wr%.1f |\n")
    }
    if (stragglerRows.nonEmpty) {
      sb.append("\n## Straggler tier (r13 — the funnel as measured reduce-task time)\n\n")
      sb.append("The r12 flat-task-time caveat is RESOLVED: its two causes were a\n")
      sb.append("broadcastable dim (the join never shuffled the fact by key) and a\n")
      sb.append("too-mild hot key. This tier forces the 100-TB join shape (dim\n")
      sb.append("too big to broadcast: autoBroadcastJoinThreshold=-1) on the\n")
      sb.append("classic production pathology — a 50%-hot null/default foreign\n")
      sb.append("key — so the hot key's rows land in ONE reduce task with seconds\n")
      sb.append("of real work. Reduce-stage max vs median task time is the\n")
      sb.append("cluster-wall readout: a stage's wall on a real cluster IS its max\n")
      sb.append("task (the stage barrier), so max/median is the wall penalty 1000\n")
      sb.append("reducers would pay. min-of-2 after an untimed warm, same session:\n\n")
      sb.append("| plan | n | local wall (s) | reduce max task (ms) | reduce median task (ms) | max/med |\n")
      sb.append("|---|---:|---:|---:|---:|---:|\n")
      stragglerRows.foreach { case (name, n, sec, mx, md) =>
        val r = if (mx < 0 || md <= 0) "—" else f"${mx.toDouble / md}%.1f"
        sb.append(f"| $name | $n%,d | $sec%.2f | $mx%,d | $md%,d | $r |\n")
      }
      sb.append("\nReading: the naive plan's reduce stage would wall-clock at its\n")
      sb.append("max task on a cluster — a mitigation's value is how far it cuts\n")
      sb.append("that max-task column. AQE-DETECTION FINDING (r13, verified by\n")
      sb.append("plan introspection at three thresholds): the built-in skew-split\n")
      sb.append("keys on COMPRESSED map-output bytes, and this pathology defeats\n")
      sb.append("it — column pruning leaves only the join key in the fact\n")
      sb.append("shuffle, a CONSTANT hot key lz4-compresses ~100x, and a\n")
      sb.append("multi-million-row straggler reports as ~1-2MB: both the 256m\n")
      sb.append("default and a demo-scaled 32m threshold read it as \"not\n")
      sb.append("skewed\" (plan shows `AQEShuffleRead coalesced`, no skew=true).\n")
      sb.append("Task TIME is row-driven; detection is byte-driven; low-entropy\n")
      sb.append("hot keys (nulls, defaults) are exactly the rows that compress\n")
      sb.append("best. The AQE leg above runs with the threshold pushed under\n")
      sb.append("the compression artifact to show the mechanism working; the\n")
      sb.append("explicit salt needs no byte heuristic — it keys on the key\n")
      sb.append("value itself. The LOCAL wall column under-displays the\n")
      sb.append("separation relative to a cluster, with the cause\n")
      sb.append("stated: on one box all tasks share the same cores (a straggler\n")
      sb.append("only idles cores-1 while balanced legs still pay their full CPU\n")
      sb.append("sum), and the naive hot partition's sort is run-length cheap\n")
      sb.append("(millions of IDENTICAL keys TimSort in O(n)) while salted\n")
      sb.append("partitions sort real (key,salt) entropy — both effects vanish on\n")
      sb.append("a cluster where the bottleneck is the straggler machine, not\n")
      sb.append("shared CPU throughput. Salt-width finding (same as the P=1000\n")
      sb.append("load table): B=16's hot cells COLLIDE lumpily over 32 partitions\n")
      sb.append("(expected max bin ~2 cells -> ~2x residual); B=256 is flat.\n")
      sb.append("The ADAPTIVE leg (r14) closes the loop the AQE finding opened:\n")
      sb.append("SkewOps.detectHotKeys row-counts a sample (one cheap job, probe\n")
      sb.append("cost inside the timed leg), detects the 50% hot key the byte\n")
      sb.append("heuristic misses, and sizes the salt from the MEASURED share and\n")
      sb.append("the session's reducer count (autoSaltBuckets(P, share)) — at\n")
      sb.append("local P=32 that resolves to B=32, at P=1000 it would pick 1000;\n")
      sb.append("a caller on balanced data pays only the probe (the plain join\n")
      sb.append("runs, no replication). SkewOpsSpec pins detection (hot key\n")
      sb.append("found with share in (0.4,0.6), uniform key silent) and the\n")
      sb.append("salt-iff-skewed plan switch.\n")
      sb.append("ScaleSpec pins the naive reduce-stage max/median straggler plus\n")
      sb.append("the exact per-reducer row-load separation (naive ~16x vs salted\n")
      sb.append("~1.1x at P=32), so a re-broadcast or de-salting regression fails\n")
      sb.append("the suite. AQE skew-split is Spark's built-in mitigation for\n")
      sb.append("sort-merge joins; the explicit salt is the portable one\n")
      sb.append("(shuffled-hash joins, non-combinable aggregations, engines\n")
      sb.append("without AQE).\n")
    }
    if (spillRows.nonEmpty) {
      sb.append("\n## Memory/spill tier (r14 — constrained-heap child JVMs)\n\n")
      sb.append("The graceful-degradation contract measured: the two biggest-\n")
      sb.append("shuffle operators (PPJoin verification join, MinHash banded\n")
      sb.append("self-join) at a FIXED n under shrinking executor heaps, each\n")
      sb.append("tier a real child JVM (`graft.tools.SpillProbe`, java -Xmx<tier>,\n")
      sb.append("local[16], 32 shuffle partitions). Contract: every tier exits\n")
      sb.append("cleanly (no OOM), returns the IDENTICAL row count, and degrades\n")
      sb.append("via TaskMetrics-visible spill rather than failure. wall = -1\n")
      sb.append("would mark a dead child — the contract broken.\n\n")
      sb.append("| operator | heap | wall (s) | mem spill (MB) | disk spill (MB) | peak task exec (MB) | rows |\n")
      sb.append("|---|---:|---:|---:|---:|---:|---:|\n")
      spillRows.foreach { case (op, heap, w, sm, sd, pk, rows) =>
        sb.append(f"| $op | $heap | $w%.1f | $sm%.0f | $sd%.0f | $pk%.0f | $rows%,d |\n")
      }
      val byOp = spillRows.groupBy(_._1)
      byOp.toSeq.sortBy(_._1).foreach { case (op, rows) =>
        val ok = rows.forall(_._3 >= 0)
        val counts = rows.map(_._7).distinct
        val walls = rows.map(_._3)
        sb.append(s"\n$op: " + (if (!ok) "A CHILD DIED — no-OOM contract BROKEN. "
        else f"all tiers completed, row counts ${if (counts.size == 1) "identical" else s"DIVERGED ($counts)"}, " +
          f"wall spread ${walls.max / math.max(walls.min, 1e-9)}%.2f× across " +
          f"${rows.map(_._2).mkString("/")}.\n"))
      }
      sb.append("\nScaleSpec pins the contract at a smaller n (child JVMs are\n")
      sb.append("~15 s each): constrained tier completes, spills visibly, returns\n")
      sb.append("the unconstrained tier's exact row count, and stays within 3× its\n")
      sb.append("wall. Two findings. (1) Local spill is nearly FREE: the 2g PPJoin\n")
      sb.append("tier spills gigabytes yet lands within ~15% of the 16g\n")
      sb.append("wall — NVMe + page cache absorb it. On a cluster, spill writes\n")
      sb.append("compete with shuffle I/O and the gap widens, but the CONTRACT\n")
      sb.append("(complete, exact, no OOM) is heap-independent — which is the\n")
      sb.append("100-TB claim that matters. (2) This table REFUTES the r11 spill-\n")
      sb.append("cliff hypothesis for the PPJoin 44.6-170.5 s cross-run variance:\n")
      sb.append("if deep spilling costs ~nothing locally, memory pressure cannot\n")
      sb.append("explain a 4× swing — concurrent-load contention (the r10/r12\n")
      sb.append("bench-era finding, since mitigated by the load-check + isolated\n")
      sb.append("re-rep protocol) remains the only supported attribution.\n")
    }
    if (bpeMergeRows.nonEmpty) {
      sb.append("\n## Tokenizer training on the MERGES axis (r13 — fixed corpus)\n\n")
      sb.append("The corpus-axis band holds the merge count constant; this axis\n")
      sb.append("grows MERGES at batch=256 on a fixed corpus. Two cost terms: the\n")
      sb.append("per-round FIXED cost (two pair-count hash-agg jobs + the frame\n")
      sb.append("refresh — the Spark JOB count is rounds = ceil(merges/batch),\n")
      sb.append("never merges) and an apply term growing with the merges applied\n")
      sb.append("in each round. Batching amortizes the fixed term across the\n")
      sb.append("batch; the wall column prices the whole curve.\n\n")
      sb.append("| merges | batched rounds | wall (s) | s/round |\n|---:|---:|---:|---:|\n")
      bpeMergeRows.foreach { case (m, rounds, sec) =>
        sb.append(f"| $m%,d | $rounds%d | $sec%.2f | ${sec / rounds}%.2f |\n")
      }
      val te = exponent(bpeMergeRows.map(p => p._1 -> p._3))
      val span = bpeMergeRows.map(_._1).max / math.max(bpeMergeRows.map(_._1).min, 1L)
      val wallRatio = bpeMergeRows.map(_._3).max / math.max(bpeMergeRows.map(_._3).min, 1e-9)
      sb.append(f"\nFitted wall-vs-merges exponent **$te%.2f** ($span%d× the merge budget\n")
      sb.append(f"costs $wallRatio%.1f× the wall) — strongly sub-linear: a 32k-merge\n")
      sb.append("production vocabulary extrapolates to ~125 rounds at the steady\n")
      sb.append("per-round wall, independent of corpus size (the corpus-axis band\n")
      sb.append("above covers that dimension). The other trainers have no merges\n")
      sb.append("axis: WordPiece vocab selection is a SINGLE positional-piece\n")
      sb.append("counting pass (one scan, covered by the corpus band) and\n")
      sb.append("unigram-LM runs EM rounds at a constant declared count (also\n")
      sb.append("corpus-band covered).\n")
    }
    streamCoarse.foreach { case (n, coarseSec, coarseTriggers) =>
      val finePt = results.get("d_stream_neardup (drain, 5k-doc micro-batches)")
        .flatMap(_.find(_.n == n))
      finePt.foreach { fp =>
        val fineTriggers = fp.candidates.toDouble
        val c = (fp.sec - coarseSec) / (fineTriggers - coarseTriggers)
        val w = (coarseSec - c * coarseTriggers) / n * 1e6
        sb.append(f"\n## Streaming drain decomposition (r12, at $n%,d docs)\n\n")
        sb.append(f"Same corpus drained at 1 file/trigger (${fineTriggers.toLong}%,d micro-batches,\n")
        sb.append(f"${fp.sec}%.1f s) and 10 files/trigger ($coarseTriggers%,d micro-batches, $coarseSec%.1f s).\n")
        val fineShare = 100.0 * c * fineTriggers / fp.sec
        sb.append(f"Solving wall = c*triggers + w*docs: **c = $c%.2f s per micro-batch\n")
        sb.append(f"fixed cost** (trigger planning + state-store commit) and **w = $w%.2f s\n")
        sb.append(f"per million docs**. Attribution of the drain's high fitted\n")
        sb.append(f"exponent: the per-TRIGGER fixed cost is $fineShare%.0f%% of the\n")
        sb.append("fine-grained drain's wall and amortizes away at production batch\n")
        sb.append("sizes; the remaining per-doc term is LINEAR in corpus size (the\n")
        sb.append("asymptote of c·triggers + w·docs is exponent 1.0 — a near-1 fit on\n")
        sb.append("a linear-cost drain is the expected reading, not a compounding\n")
        sb.append("state cost). State stays O(band-buckets seen) either way (the\n")
        sb.append("state-size spec in StreamOpsSpec pins that).\n")
      }
    }
    sb.append("\nAxes per family: dedup/ANN rows grow the CORPUS; graph rows grow\n")
    sb.append("EDGES at constant mean degree (density fixed, so the fit isolates\n")
    sb.append("size); the stream row grows MICRO-BATCH COUNT at fixed batch size\n")
    sb.append("(its candidate column = batches); the MIMIC rows grow ADMISSIONS\n")
    sb.append("via the linearly-scaled MimicSynth At(f) generators at 1×/10×/100×\n")
    sb.append("(three decades — slope AND curvature, r12); the tokenizer-training\n")
    sb.append("and pHash-blocking rows grow the CORPUS at a constant merge-round\n")
    sb.append("count / chunk structure; the skew tier grows FACT ROWS under a\n")
    sb.append("scale-invariant Zipf(1.1) key profile.\n\n")
    sb.append("Growth-bound contract: the banded family's CANDIDATE counts are\n")
    sb.append("additionally spec-pinned (ScaleSpec) at 1×/10× so a regression that\n")
    sb.append("densifies a banding (e.g. a fixed-width bucket collapsing) fails the\n")
    sb.append("suite, not just this artifact; since r11 the prefix join's\n")
    sb.append("candidate:pair ratio is pinned under 1000:1 at SCALE.md's own\n")
    sb.append("5k/50k tiers.\n\n")
    sb.append("Findings this harness already produced: (1) RHP-LSH's bucket space\n")
    sb.append("must be sized to the corpus (FAISS-nlist discipline) — the fixed\n")
    sb.append("6-bit default is Θ(n²/2⁶) and spilled ~80 GB at 200k vectors; the\n")
    sb.append("sizing rule (≈ log2(n/32) bits) is DERIVED IN CODE by the scale-path\n")
    sb.append("entry point rhpNearDupPairsAuto (autoBitsPerBand), which is how this\n")
    sb.append("harness calls it. (2) Concentrating stopword mass in\n")
    sb.append("5 marker types biased SimHash's majority bits into hot pigeonhole\n")
    sb.append("buckets at 500k docs — a data-realism artifact (real stopword mass\n")
    sb.append("spreads over hundreds of types), fixed in the generator and worth\n")
    sb.append("knowing: SimHash blocking degrades on template-heavy corpora.\n")
    sb.append("(3) r11: the PPJoin positional filter + asymmetric short index\n")
    sb.append("prefix cut the prefix join's admitted match rows ~5.6× (1.13M →\n")
    sb.append("203k at 5k docs; candidate:pair ≈ 430:1, was ~2,400:1) with the\n")
    sb.append("verified pairs — and the d_prefix_jaccard oracle hash — unchanged.\n")
    sb.append("(4) r11: candidate growth measured BELOW the generator's 2,000-type\n")
    sb.append("vocabulary floor is data-quadratic (posting lists densify ∝ n²/V);\n")
    sb.append("growth claims are only meaningful on the Heaps-law leg (≥ 4k docs).\n")
    sb.append("(5) r12: FIXED-WIDTH pigeonhole blocking carries an accidental-\n")
    sb.append("collision floor of Θ(n²/2^width) no matter how discriminative the\n")
    sb.append("signature is — the 15-bit pHash chunk key densified 124× on a 10×\n")
    sb.append("payload corpus. Cure (in code): corpus-sized multi-index blocking\n")
    sb.append("(Multimodal.phashPairsAuto / autoChunks — block-key width ≈\n")
    sb.append("log2(n)+6, recall-lossless by pigeonhole over chunk combinations),\n")
    sb.append("the same sizing discipline as RHP-LSH's autoBitsPerBand. Related\n")
    sb.append("data caveat: WORD-corpus text as a binary payload collapses the\n")
    sb.append("byte-histogram pHash bits (one shared character distribution) —\n")
    sb.append("the band runs on the byte-entropy payload corpus instead.\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(sb.toString)
    spark.stop()
  }
}
