package graft.sources

import graft.SparkSpecBase
import graft.obs.TaskLog
import org.apache.spark.sql.functions._

/** The scale-growth CONTRACT, pinned as tests (companion to the SCALE.md
  * artifact `graft.Scale` writes): on the ScaleSynth corpus — constant
  * planted-dup rate, Heaps-law vocabulary — the banded dedup family's
  * candidate and output pair counts must grow NEAR-LINEARLY in corpus
  * size (ratio < 10^1.3 ≈ 20 for a 10× corpus), where the all-pairs
  * baseline grows 100×. Counts are pure functions of the hash-generated
  * data, so a failure here means an OPERATOR regression (a banding
  * densified, a blocking collapsed), not noise.
  */
class ScaleSpec extends SparkSpecBase {

  private val n1 = 1000L
  private val n2 = 10000L
  private val supraLinear = math.pow(10.0, 1.3) // the SCALE.md bound

  test("MinHash-LSH: band-bucket candidates and found pairs grow near-linearly " +
    "over a 10x corpus (all-pairs would grow 100x)") {
    def stats(n: Long): (Long, Long) = {
      val docs = ScaleSynth.documents(spark, n).cache()
      try {
        val cand = graft.dedup.Dedup
          .minhashBandsPerRow(docs, "doc_id", "text")
          .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1) / 2).cast("long")))
          .collect()(0).getLong(0)
        val pairs = graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text").count()
        (cand, pairs)
      } finally docs.unpersist()
    }
    val (c1, p1) = stats(n1)
    val (c2, p2) = stats(n2)
    assert(p1 > 0, "no near-dup pairs found at 1x — planted dups missed")
    val candRatio = c2.toDouble / c1
    val pairRatio = p2.toDouble / p1
    assert(candRatio < supraLinear,
      s"banding densified: candidates grew ${candRatio}x over a 10x corpus ($c1 -> $c2)")
    assert(pairRatio > 5 && pairRatio < supraLinear,
      s"found pairs grew ${pairRatio}x over a 10x corpus ($p1 -> $p2); " +
        "expected ~10x (constant planted-dup rate)")
  }

  test("prefix-filter Jaccard: verified pairs AND the filtered candidate " +
    "stream grow near-linearly over a 10x corpus, with the r11 filter " +
    "chain (asymmetric index prefix + size + positional) holding the " +
    "candidate:pair ratio under 1000:1 (pre-r11 it was ~2,400:1)") {
    def stats(n: Long): (Long, Long) = {
      val docs = ScaleSynth.documents(spark, n).cache()
      try {
        val cand = graft.dedup.Dedup
          .prefixJaccardCandidateCount(docs, "doc_id", "text", threshold = 0.9)
        (cand, graft.Materialize.scoped() {
          graft.dedup.Dedup.prefixJaccardPairs(docs, "doc_id", "text", threshold = 0.9).count()
        })
      } finally docs.unpersist()
    }
    // measured ABOVE the generator's vocabulary floor (V = max(2000,
    // n/2)): below 4k docs the vocab is pinned at 2000 types, so token
    // posting lists densify ∝ n²/V by DATA, not by algorithm — the
    // scaladoc'd Heaps-law caveat. 5k/50k are SCALE.md's own tiers.
    val (c1, p1) = stats(5000L); val (c2, p2) = stats(50000L)
    assert(p1 > 0, "no qualifying pairs at 1x")
    val r = p2.toDouble / p1
    assert(r > 5 && r < supraLinear,
      s"pairs grew ${r}x over a 10x corpus ($p1 -> $p2); expected ~10x")
    val cr = c2.toDouble / c1
    assert(cr < supraLinear,
      s"candidate stream densified: ${cr}x over a 10x corpus ($c1 -> $c2)")
    assert(c1 < 1000 * p1 && c2 < 1000 * p2,
      s"filter chain regressed: candidates per verified pair " +
        s"${c1 / math.max(p1, 1)}:1 at 1x, ${c2 / math.max(p2, 1)}:1 at 10x " +
        "(measured ~430:1 with the r11 chain; the prefix-only join was ~2,400:1)")
  }

  test("SimHash pigeonhole: found pairs grow near-linearly over a 10x corpus " +
    "(the blocking that densified on marker-heavy text — SCALE.md finding #2)") {
    def pairs(n: Long): Long = {
      val docs = ScaleSynth.documents(spark, n).cache()
      try graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text").count()
      finally docs.unpersist()
    }
    val p1 = pairs(n1); val p2 = pairs(n2)
    assert(p1 > 0, "no SimHash near-dup pairs at 1x — planted dups missed")
    val r = p2.toDouble / p1
    assert(r > 4 && r < supraLinear,
      s"SimHash pairs grew ${r}x over a 10x corpus ($p1 -> $p2); a supra-" +
        "linear blowup means the chunk buckets densified")
  }

  test("RHP-LSH with corpus-sized buckets finds exactly the planted copies " +
    "at both scales (the nlist sizing rule — SCALE.md finding #1)") {
    def pairs(n: Long): Long = {
      // the scale-path entry point: rhpNearDupPairsAuto derives the
      // bucket width via autoBitsPerBand (6 bits at 2k vectors, 10 at
      // 20k) — the r10 sizing rule in code, kept separate from the
      // pinned-default rhpNearDupPairs (r11 advisory)
      val emb = ScaleSynth.embeddings(spark, n).cache()
      try graft.sim.Similarity.rhpNearDupPairsAuto(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.9).count()
      finally emb.unpersist()
    }
    // planted copies have cosine ≈ 0.999 (±0.01 jitter on a unit-scale
    // base); random 64-dim pairs sit near 0 — the 0.9 cut is exact
    assert(pairs(n1) == n1 / 10, "planted embedding copies missed at 1x")
    assert(pairs(n2) == n2 / 10, "planted embedding copies missed at 10x")
  }

  test("Zipf(1.1) skew tier: salting bounds reducer load where the plain key " +
    "funnels ~10% of rows into one partition — DETERMINISTIC " +
    "HashPartitioning arithmetic, not task timing (r12, SCALE skew tier)") {
    val n = 100000L
    val z = ScaleSynth.zipfKeyed(spark, n).cache()
    try {
      // partition id exactly as HashPartitioning computes it:
      // pmod(murmur3(exprs), P) — SQL hash() IS Murmur3Hash(seed 42)
      val P = 32
      def loadRatio(cols: org.apache.spark.sql.Column*): Double = {
        val per = z.groupBy(pmod(hash(cols: _*), lit(P)).as("pid"))
          .agg(count(lit(1)).as("c"))
          .select("c").collect().map(_.getLong(0)).sorted
        per.last.toDouble / per((per.length - 1) / 2)
      }
      val plain = loadRatio(col("key"))
      // the EXACT salt expression SkewOps.contentSalt builds (xxhash64
      // over every input column, mod 16): the hot key's rows spread over
      // 16 sub-keys before the shuffle
      val salted = loadRatio(col("key"),
        pmod(xxhash64(z.columns.map(col).toIndexedSeq: _*), lit(16L)))
      assert(plain >= 3.0,
        s"generator lost its skew: plain-key max/median reducer load $plain " +
          "(expected >=3 with a ~10% hot key at P=32) — the skew tier is " +
          "measuring nothing")
      // measured 1.69-1.80 across 100k-10M rows (SCALE.md skew table):
      // the residual imbalance is the heavy-tailed (key,salt) CELL sizes
      // landing unevenly across 32 partitions, not a surviving hot key —
      // 2.2 is the regression bound, comfortably under the plain key's
      // 4.8-6.1
      assert(salted <= 2.2,
        s"salted max/median reducer load $salted (measured ~1.8): the salt " +
          "no longer spreads the hot key")
      // and the IMPLEMENTATION actually shuffles on (key, _salt): the
      // first exchange of the salted agg must carry the salt column, so
      // a de-salting edit fails here even though results stay equal
      val aggPlan = graft.ops.SkewOps.saltedAgg(z, "key", col("v"))
        .queryExecution.executedPlan.toString
      assert(aggPlan.contains("hashpartitioning") && aggPlan.contains("_salt"),
        s"saltedAgg no longer partitions on (key, _salt):\n$aggPlan")
      val joinPlan = graft.ops.SkewOps.saltedJoin(
          z, ScaleSynth.zipfDim(spark, n), "key", "dkey",
          saltCols = Seq("row_id"))
        .queryExecution.executedPlan.toString
      assert(joinPlan.contains("_salt"),
        s"saltedJoin no longer joins on the salted key:\n$joinPlan")

      // the P=1000 production readout (r13, SCALE verdict #8): same
      // arithmetic at a real cluster's reducer count. Three pins: the
      // plain key is catastrophic (~110x — the hot key IS one partition's
      // load while the median holds n/1000), the LOCAL 16-way salt is NOT
      // enough (hotShare*P/B + 1 ~ 7x — the r13 salt-width finding), and
      // the P-sized salt (SkewOps.autoSaltBuckets) restores the target
      def loadRatioAt(p: Int)(cols: org.apache.spark.sql.Column*): Double = {
        val per = z.groupBy(pmod(hash(cols: _*), lit(p)).as("pid"))
          .agg(count(lit(1)).as("c"))
          .select("c").collect().map(_.getLong(0)).sorted
        per.last.toDouble / per((per.length - 1) / 2)
      }
      assert(graft.ops.SkewOps.autoSaltBuckets(32) == 16 &&
        graft.ops.SkewOps.autoSaltBuckets(1000) == 200,
        "autoSaltBuckets sizing rule changed: expected B=max(16, " +
          "ceil(0.1*P/0.5)) = 16 @P=32, 200 @P=1000")
      val plain1k = loadRatioAt(1000)(col("key"))
      val salt16At1k = loadRatioAt(1000)(col("key"),
        pmod(xxhash64(z.columns.map(col).toIndexedSeq: _*), lit(16L)))
      val saltAutoAt1k = loadRatioAt(1000)(col("key"),
        pmod(xxhash64(z.columns.map(col).toIndexedSeq: _*),
          lit(graft.ops.SkewOps.autoSaltBuckets(1000).toLong)))
      assert(plain1k >= 50.0,
        s"plain-key load at P=1000 reads $plain1k (expected ~110 with a " +
          "~10% hot key): the generator lost its skew")
      // asymptotically hotShare*P/B + 1 ~ 7; at this spec's n=100k the
      // MEDIAN partition holds only ~n/1000 = tens of rows and is lumpy,
      // so the observed ratio reads high (~14) — the bound brackets both
      // regimes (SCALE.md's 1M/10M rows show the ~7 asymptote)
      assert(salt16At1k >= 3.0 && salt16At1k <= 25.0,
        s"16-way salt at P=1000 reads $salt16At1k (expected ~7-15): the " +
          "fixed-width-salt finding this table documents has drifted")
      // same small-n caveat: at n=100k a P=1000 partition holds tens of
      // rows, so cell lumpiness dominates (~3.3 observed); the bound is
      // (a) well under salt16's ~14 and (b) paired with SCALE.md's
      // 1M/10M-row table where the asymptote lands near the 1.5 target
      assert(saltAutoAt1k <= 4.0 && saltAutoAt1k < salt16At1k / 2,
        s"P-sized salt (B=200) at P=1000 reads $saltAutoAt1k (vs 16-way " +
          s"$salt16At1k): autoSaltBuckets no longer improves on the fixed " +
          "local-sized salt")
    } finally z.unpersist()
  }

  test("straggler reduce-stage separation: with a non-broadcastable dim (the " +
    "100-TB join shape) and a 50%-hot null-FK key, the naive join's reduce " +
    "stage is dominated by ONE hot task — the P-sized salt flattens it " +
    "(r13, SCALE straggler tier). Max/median task time of the heaviest " +
    "stage is the CLUSTER wall readout: a stage's wall on a real cluster " +
    "is its max task.") {
    val n = 8000000L
    val keySpace = 4096L
    val z = spark.range(n).select(
      col("id").as("row_id"),
      when(pmod(xxhash64(col("id"), lit("hk")), lit(100L)) < 50L, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit("uk")), lit(keySpace))).as("key"),
      pmod(xxhash64(col("id"), lit("v")), lit(1000L)).cast("double").as("v"))
      .repartition(8).cache()
    z.count()
    val dim = spark.range(0L, keySpace).select(
      col("id").as("dkey"), pmod(col("id"), lit(32L)).as("grp"))
    def withConfs(pairs: (String, String)*)(body: => (Long, Long)): (Long, Long) = {
      val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    try {
      val confs = Seq(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.enabled" -> "false")
      // (max, median) task ms of the heaviest stage of one action
      def naive(): (Long, Long) = withConfs(confs: _*)(TaskLog.during(spark.sparkContext)(
        z.join(dim, z("key") === dim("dkey"))
          .groupBy("grp").agg(count(lit(1)).as("cnt")).count())._2.heaviestStageMaxMed)
      naive() // untimed JIT/codegen warm
      val (nMax, nMed) = naive()
      assert(nMed > 0, s"listener saw no reduce stage ($nMax/$nMed)")
      // the ~50% hot key concentrates half the join in one task: measured
      // ~20x max/median; 4 is the loose regression bound (a broadcast
      // creeping back or the skew-split engaging reads ~1-2). This is the
      // ONLY time-based bound kept (r14, advisor): timings on a contended
      // CI box drift, and the 5x headroom absorbs that; the salted leg is
      // pinned by exact row-load arithmetic below instead of task times.
      assert(nMax.toDouble / nMed >= 4.0,
        s"naive reduce stage max/median ${nMax.toDouble / nMed} (max $nMax ms, " +
          s"median $nMed ms): the hot-key straggler vanished — did the join " +
          "stop shuffling by key (broadcast crept back)?")
      // the salted leg, DETERMINISTICALLY: the reduce partitioning of
      // saltedJoin is hashpartitioning(key, _salt) with
      // _salt = xxhash64(row_id) % 256, so the per-reducer row loads are
      // exact arithmetic, no listener, no timing flake. The naive key
      // concentrates ~50% of rows in one of 32 reducers (~16x max/med);
      // the 256-way salt flattens it to cell lumpiness (~1.1x measured)
      def rowLoad(cols: Seq[org.apache.spark.sql.Column]): Double = {
        val per = z.groupBy(pmod(hash(cols: _*), lit(32)).as("pid"))
          .agg(count(lit(1)).as("c"))
          .select("c").collect().map(_.getLong(0)).sorted
        per.last.toDouble / per((per.length - 1) / 2)
      }
      val naiveLoad = rowLoad(Seq(col("key")))
      val saltedLoad = rowLoad(Seq(col("key"),
        pmod(xxhash64(col("row_id")), lit(256L))))
      assert(naiveLoad >= 8.0,
        s"naive reduce row-load max/median $naiveLoad (expected ~16 with a " +
          "50% hot key over 32 reducers): the generator lost its skew")
      assert(saltedLoad <= 2.0,
        s"salted reduce row-load max/median $saltedLoad (measured ~1.1): " +
          "the 256-way salt no longer flattens the hot key")
      assert(naiveLoad / saltedLoad >= 5.0,
        s"row-load separation $naiveLoad vs $saltedLoad: the salted plan " +
          "no longer cuts the wall-setting reducer's load")
    } finally z.unpersist()
  }

  test("prefix join on the Zipf-1.1 TOKEN corpus: candidates and pairs stay " +
    "near-linear under power-law document frequencies (the hot-posting " +
    "profile the two-tier salting exists for)") {
    def stats(n: Long): (Long, Long) = {
      val docs = ScaleSynth.zipfDocuments(spark, n).cache()
      try {
        val cand = graft.dedup.Dedup
          .prefixJaccardCandidateCount(docs, "doc_id", "text", threshold = 0.9)
        (cand, graft.Materialize.scoped() {
          graft.dedup.Dedup.prefixJaccardPairs(docs, "doc_id", "text", threshold = 0.9).count()
        })
      } finally docs.unpersist()
    }
    val (c1, p1) = stats(5000L); val (c2, p2) = stats(50000L)
    assert(p1 > 0, "no qualifying pairs at 1x on the Zipf corpus")
    val r = p2.toDouble / p1
    assert(r > 5 && r < supraLinear,
      s"pairs grew ${r}x over a 10x Zipf corpus ($p1 -> $p2); expected ~10x")
    val cr = c2.toDouble / c1
    assert(cr < supraLinear,
      s"candidate stream densified under token skew: ${cr}x over a 10x " +
        s"corpus ($c1 -> $c2) — hot postings are no longer bounded")
  }

  test("BPE batched training: the merge count (and so the driver round " +
    "count) is CONSTANT in corpus size — the property that keeps " +
    "tokenizer training scale-safe") {
    def merges(n: Long): Long = {
      val docs = ScaleSynth.documents(spark, n).cache()
      try graft.text.BpeTrain
        .learnMergesBatched(docs, "text", totalMerges = 8, batch = 4).count()
      finally docs.unpersist()
    }
    assert(merges(n1) == 8L, "merge inventory not filled at 1x")
    assert(merges(n2) == 8L, "merge inventory not filled at 10x")
  }

  test("pHash multi-index blocking (corpus-sized key width): bucket " +
    "candidates grow near-linearly over a 10x payload corpus — the fixed " +
    "15-bit key measured 124x here (the r12 finding that motivated " +
    "phashPairsAuto)") {
    def cand(n: Long): Long = {
      val docs = ScaleSynth.payloadStrings(spark, n).cache()
      try {
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
          .groupBy("c.ci", "c.ck").agg(count(lit(1)).as("cn"))
          .agg(sum((col("cn") * (col("cn") - 1) / 2).cast("long")))
          .collect()(0).getLong(0)
      } finally docs.unpersist()
    }
    val c1 = cand(n1); val c2 = cand(n2)
    assert(c1 > 0, "no pigeonhole candidates at 1x — planted dup payloads missed")
    val cr = c2.toDouble / c1
    assert(cr < supraLinear,
      s"pHash blocking densified: candidates grew ${cr}x over a 10x corpus " +
        s"($c1 -> $c2)")
  }

  test("phashPairsBlocked is recall-LOSSLESS at every admissible chunk " +
    "count: identical pair sets to the brute-force hamming join " +
    "(pigeonhole guarantee, nChunks in {4, 5, 6})") {
    val docs = ScaleSynth.payloadStrings(spark, 300L).cache()
    try {
      val bin = graft.multimodal.Multimodal.toBinaryTable(
        docs, "doc_id", "text", "blob")
      val sigs = graft.multimodal.Multimodal.phashSignatures(bin, "doc_id")
      val brute = sigs.as("a").join(sigs.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.ph").bitwiseXOR(col("b.ph"))).as("h"))
        .filter(col("h") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(brute.nonEmpty, "no hamming<=3 pairs planted — the spec is vacuous")
      for (nc <- Seq(4, 5, 6)) {
        val got = graft.multimodal.Multimodal
          .phashPairsBlocked(bin, "doc_id", maxDist = 3, nChunks = nc)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == brute,
          s"nChunks=$nc lost/invented pairs: got ${got.size}, brute ${brute.size}")
      }
    } finally docs.unpersist()
  }

  test("memory/spill contract (r14): under a constrained heap the PPJoin " +
    "verification join degrades via TaskMetrics-visible spill — same row " +
    "count, no OOM, bounded wall — measured in real child JVMs because a " +
    "running JVM's heap cannot shrink") {
    // calibrated r14 at 100k docs / local[16]: 16g runs in-memory
    // (0 spill, peak task ~104 MB); 2g forces ~80 MB of memory spill
    // with a near-identical wall (13.4 vs 13.9 s). The ratio bound is 3x
    // — wildly loose against the measured ~1.0x, so only a genuine
    // spill-regression (or an OOM-killed child, surfacing as None)
    // fails it on a contended box.
    val n = 100000L
    val ref = graft.tools.SpillProbe.spawn("ppjoin", n, "16g")
    val constrained = graft.tools.SpillProbe.spawn("ppjoin", n, "2g")
    assert(ref.isDefined, "unconstrained (16g) child died")
    assert(constrained.isDefined,
      "constrained (2g) child died — the no-OOM contract is broken")
    val (r, c) = (ref.get, constrained.get)
    assert(r("rows") == c("rows") && c("rows") > 0,
      s"row counts diverged under memory pressure: ${r("rows")} vs ${c("rows")}")
    assert(c("spill_mem_mb") > 0,
      "constrained tier reported zero spill — the heap restriction is not binding " +
        s"(peak task ${c("peak_task_exec_mb")} MB); the contract is untested")
    assert(r("spill_mem_mb") == 0,
      s"reference tier spilled ${r("spill_mem_mb")} MB — it no longer measures the in-memory regime")
    assert(c("wall_sec") <= 3 * r("wall_sec"),
      s"spilling wall ${c("wall_sec")} s vs in-memory ${r("wall_sec")} s: " +
        "degradation is no longer graceful")
  }

  test("PassJoin edit distance: finds exactly the planted distance-1 copies " +
    "at both scales (lossless blocking, linear output)") {
    def pairs(n: Long): Long = {
      val keys = ScaleSynth.keys(spark, n).cache()
      try graft.dedup.Dedup.editDistancePairs(keys, "key", maxDist = 2).count()
      finally keys.unpersist()
    }
    // every 10th key is a 1-substitution copy of its predecessor and the
    // 24-hex-char key space makes accidental d<=2 pairs impossible at
    // these sizes — the planted count IS the expected output
    assert(pairs(n1) == n1 / 10, "planted copies missed or spurious pairs at 1x")
    assert(pairs(n2) == n2 / 10, "planted copies missed or spurious pairs at 10x")
  }
}
