package graft.sim

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three tiers:
  *   - `cosinePairs`: all-pairs above a threshold (exact, O(n²) compare but
  *     no shuffle amplification — the crossJoin is the cost; usable as the
  *     correctness oracle and for small n).
  *   - `bruteForceTopK`: exact top-k for a bounded query set — broadcast
  *     the queries, one narrow pass over the corpus, per-query top-k via
  *     window rank. This is the right 100 TB shape when |queries| is small:
  *     corpus is never shuffled, only the (queries × k) result is.
  *   - `ivfTopK`: IVF-style approximate search — assign every vector to
  *     its nearest centroid (broadcast centroids, narrow), then search only
  *     within the query's `nprobe` nearest clusters. Scale path: the
  *     corpus-side work drops by ~nClusters/nprobe.
  */
object Similarity {

  /** All pairs (id_a < id_b) with cosine ≥ threshold.
    *
    * Each side is projected to a double vector ONCE before the join
    * (cast happens n times, not n²) and the norms are precomputed per
    * row, so the per-pair work is a single fused dot product — measured
    * ~4× faster than recomputing cosine(a,b) per pair at sf0.1.
    * NOTE: cosine is computed as dot/(na*nb) with per-row norms; this is
    * bit-identical to the naive form because IEEE ops on identical
    * inputs are deterministic.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    def side(id: String, v: String, n: String): DataFrame =
      emb.select(
        col(idCol).as(id),
        transform(col(vecCol), x => x.cast("double")).as(v))
        .withColumn(n, sqrt(VectorOps.dot(col(v), col(v))))
    val a = side("id_a", "va", "na")
    val b = side("id_b", "vb", "nb")
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(col("na") === 0.0 || col("nb") === 0.0, lit(null))
          .otherwise(VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Project a vector side to (id, double[] vec, norm) — cast + norm once
    * per row, so joins pay only a dot product per pair.
    */
  private def normSide(df: DataFrame, idCol: String, vecCol: String,
                       idOut: String, vecOut: String, normOut: String): DataFrame =
    df.select(
      col(idCol).as(idOut),
      transform(col(vecCol), x => x.cast("double")).as(vecOut))
      .withColumn(normOut, sqrt(VectorOps.dot(col(vecOut), col(vecOut))))

  private def pairCosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(null))
      .otherwise(VectorOps.dot(va, vb) / (na * nb))

  /** Exact cosine top-k neighbors for each query vector. Queries are
    * broadcast; ties broken by neighbor id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = normSide(queries, idCol, vecCol, "query_id", "qv", "nq")
    val c = normSide(corpus, idCol, vecCol, "neighbor_id", "cv", "nc")
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("nq"), col("nc")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * THE standard hybrid-retrieval combiner: given N ranked candidate
    * lists over a shared id space (lexical BM25, dense cosine, …), score
    * each id by `Σ_lists 1/(kConst + rank)` and keep the global topK.
    * Rank arithmetic only — no score normalization across rankers, which
    * is exactly why RRF is the production default for BM25+dense fusion.
    *
    * Determinism: each 1/(k+r) is ONE correctly-rounded divide on
    * integer inputs, rounded to 9 decimals and summed as exact
    * DECIMAL(18,9) (the Bm25 accumulation contract), so the fused score
    * is independent of list order, partitioning, and engine; the final
    * cut breaks ties by id.
    *
    * Scale shape: each input list is already topK-bounded by its
    * producer, so the union, the per-id hash-agg, and the
    * TakeOrdered cut all run on |lists|·depth rows — never corpus-sized.
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
              kConst: Int = 60, topK: Int = 20): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(kConst > 0 && topK > 0, "rrfFuse needs positive kConst and topK")
    // per-list dedup on id (best = lowest rank = largest contribution):
    // a producer emitting duplicate ids in one list must not double-count
    // rank mass, and n_lists must stay "how many LISTS surfaced the id".
    // A no-op for well-formed distinct-id lists; the agg runs on topK-
    // bounded rows, so the guard is free at any corpus size.
    val contribs = lists.map(_.select(
      col(idCol).as("_id"),
      round(lit(1.0) / (col(rankCol).cast("double") + kConst), 9)
        .cast("decimal(18,9)").as("_c"))
      .groupBy("_id").agg(max("_c").as("_c")))
    contribs.reduce(_ unionByName _)
      .groupBy("_id")
      .agg(round(sum("_c").cast("double"), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(desc("rrf"), asc("_id"))
      .limit(topK)
      .withColumnRenamed("_id", idCol)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most-similar corpus vectors with a DIFFERENT label — the
    * near-miss examples a metric-learning batch builder wants (easy
    * negatives teach nothing; positives are excluded by construction).
    * Same broadcast shape as [[bruteForceTopK]] — the corpus is never
    * shuffled, queries ride a broadcast, and the label-mismatch predicate
    * is fused into the join so excluded rows never reach the ranker.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    def side(df: DataFrame, id: String, v: String, n: String, lab: String): DataFrame =
      df.select(
        col(idCol).as(id),
        transform(col(vecCol), x => x.cast("double")).as(v),
        col(labelCol).as(lab))
        .withColumn(n, sqrt(VectorOps.dot(col(v), col(v))))
    val q = side(queries, "query_id", "qv", "nq", "q_label")
    val c = side(corpus, "neighbor_id", "cv", "nc", "n_label")
    val scored = c
      .join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("q_label") =!= col("n_label"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("nq"), col("nc")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** ==== Random-hyperplane (SimHash-style) LSH over embeddings ====
    *
    * The scale path for embedding near-dup: sign-bit signatures under
    * `bands*bitsPerBand` fixed Rademacher (±1) hyperplanes, banded into
    * `bands` buckets, candidate pairs generated by a bucket equi-join —
    * the same sub-quadratic shape as `Dedup.minhashLshPairs`. Only
    * candidates pay the exact-cosine verify, so precision is exact and
    * only recall is probabilistic (P[pair with angle θ shares a band] =
    * 1-(1-(1-θ/π)^bits)^bands).
    *
    * Determinism across engines: the hyperplane signs come from a seeded
    * PRNG materialized ONCE on the driver (the same matrix feeds both the
    * Spark plan and the generated DuckDB oracle SQL), and each projection
    * is computed over `round(x*1e6)`-quantized INTEGER components, so the
    * sign of a projection never depends on floating-point summation order.
    *
    * Sizing at scale: bucket count per band is 2^bitsPerBand — raise
    * `bitsPerBand` by ~log2(corpus growth) to keep buckets bounded, and
    * raise `bands` to hold recall (each extra bit multiplies per-band
    * recall by p≈1-θ/π).
    */
  private def rhpSigns(bands: Int, bitsPerBand: Int, dim: Int, seed: Long): Array[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bands * bitsPerBand)(Array.fill(dim)(if (rnd.nextBoolean()) 1L else -1L))
  }

  /** (id, quantized int vector, double vector, norm) projection — shared
    * by the signature step and the exact-cosine verify step.
    */
  private def rhpBase(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(
      col(idCol).as("vid"),
      transform(col(vecCol), x => round(x.cast("double") * 1000000.0).cast("long")).as("q"),
      transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("n", sqrt(VectorOps.dot(col("e"), col("e"))))

  /** (vid, band, bucket) signature rows: one row per (vector, band). */
  private def rhpBanded(base: DataFrame, signs: Array[Array[Long]],
                        bands: Int, bitsPerBand: Int): DataFrame = {
    def proj(g: Int): Column =
      aggregate(
        zip_with(col("q"), typedLit(signs(g).toSeq), (x, s) => x * s),
        lit(0L), (acc, v) => acc + v)
    val bandStructs = (0 until bands).map { j =>
      val bucket = (0 until bitsPerBand).map { t =>
        when(proj(j * bitsPerBand + t) > 0, lit(1L << t)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(j).as("band"), bucket.as("bucket"))
    }
    base.select(col("vid"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vid"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Corpus-sized band width — the FAISS-`nlist` discipline in one
    * function: target ~32 vectors per band-bucket, floored at 6 bits
    * (the test-scale default the exactly-oracled d_embed_neardup row
    * pins: every corpus ≤ 2k vectors lands here), capped at 62 so the
    * bucket fits a signed long. 6 bits ≤ 2k vectors, 13 at 200k, 23 at
    * 200M.
    */
  def autoBitsPerBand(n: Long): Int =
    math.min(62, math.max(6,
      math.ceil(math.log(math.max(n, 1L) / 32.0) / math.log(2.0)).toInt))

  /** Near-dup pairs via RHP-LSH candidates + exact cosine verify.
    * Output: (keep_id, dup_id, cosine) with keep_id < dup_id.
    *
    * SIZING RULE (measured, SCALE.md): `bitsPerBand` must grow with the
    * corpus — expected candidates per band are Θ(n² / 2^bits), so a fixed
    * bucket space turns the candidate join quadratic exactly like an
    * undersized FAISS `nlist` (at 200k vectors a fixed 6-bit width
    * spilled ~80 GB of shuffle before dying). The default `bitsPerBand =
    * 6` is the pinned, corpus-independent test-scale width (reproducible
    * results, no extra action — every oracled row uses it); production
    * callers at unknown corpus size should call [[rhpNearDupPairsAuto]],
    * which derives the width via [[autoBitsPerBand]]. Recall per band
    * falls as bits rise; compensate with `bands` if the dup cosine
    * threshold is low.
    */
  def rhpNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bands: Int = 8,
      bitsPerBand: Int = 6,
      seed: Long = 42L
  ): DataFrame = {
    require(bitsPerBand > 0 && bitsPerBand <= 62,
      s"bitsPerBand must be in [1,62] (got $bitsPerBand); " +
        "use rhpNearDupPairsAuto for a corpus-derived width")
    val bits = bitsPerBand
    // base is deliberately NOT cached: it re-evaluates for the banded
    // signatures and for each verify side (va/vb), but each evaluation is a
    // column-pruned parquet scan + per-row arithmetic — linear, shuffle-free
    // work. Caching would pin a full copy of the corpus per invocation for
    // the session lifetime; callers that near-dup the same corpus repeatedly
    // should pass in an already-persisted `emb`.
    val base = rhpBase(emb, idCol, vecCol)
    val banded = rhpBanded(base, rhpSigns(bands, bits, dim, seed), bands, bits)
    val cand = banded.as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("keep_id"), col("b.vid").as("dup_id"))
      .distinct()
    val va = base.select(col("vid").as("keep_id"), col("e").as("ea"), col("n").as("na"))
    val vb = base.select(col("vid").as("dup_id"), col("e").as("eb"), col("n").as("nb"))
    cand.join(va, Seq("keep_id")).join(vb, Seq("dup_id"))
      .withColumn("cosine", pairCosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("keep_id", "dup_id", "cosine")
  }

  /** [[rhpNearDupPairs]] with the band width DERIVED from the corpus via
    * [[autoBitsPerBand]] — the scale-path entry point (the FAISS-`nlist`
    * sizing rule in code). Pays one eager `count()` of `emb` to size the
    * bucket space, so results are corpus-size-dependent by design; callers
    * whose `emb` has expensive uncached lineage should persist it first.
    * Kept SEPARATE from the pinned-default `rhpNearDupPairs` so existing
    * defaulted calls stay reproducible and action-free (r11 advisory).
    */
  def rhpNearDupPairsAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bands: Int = 8,
      seed: Long = 42L
  ): DataFrame =
    rhpNearDupPairs(emb, idCol, vecCol, dim, threshold, bands,
      bitsPerBand = autoBitsPerBand(emb.count()), seed)

  /** DuckDB oracle for `rhpNearDupPairs`: the SAME algorithm (same sign
    * matrix, same integer quantization, same banding) rendered as ANSI-ish
    * SQL — so the driver's hash-compare verifies the bucketed path
    * exactly, with zero dependence on LSH recall luck.
    */
  /** Shared CTE chain for the RHP oracles: `v` (id + double + quantized
    * vectors), `banded` (per-band sign buckets), `cand` (bucket-join
    * candidate pairs), and a `cosSql` fragment for the exact verify.
    */
  private def rhpCtes(
      table: String, idCol: String, vecCol: String, dim: Int,
      bands: Int, bitsPerBand: Int, seed: Long): (String, String) = {
    val signs = rhpSigns(bands, bitsPerBand, dim, seed)
    def projSql(g: Int): String =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> q[i] * (${signs(g).mkString("[", ",", "]")})[i]))"
    val bandSelects = (0 until bands).map { j =>
      val bucket = (0 until bitsPerBand).map { t =>
        s"(CASE WHEN ${projSql(j * bitsPerBand + t)} > 0 THEN ${1L << t} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $j AS band, $bucket AS bucket FROM v"
    }
    val ctes =
      s"""v AS (
         |  SELECT $idCol AS vec_id, CAST($vecCol AS DOUBLE[]) AS e,
         |         list_transform(CAST($vecCol AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM $table
         |), banded AS (
         |${bandSelects.mkString("  ", "\n  UNION ALL ", "")}
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)""".stripMargin
    val cosSql =
      s"""list_sum(list_transform(range(1, ${dim + 1}), i -> va.e[i] * vb.e[i])) /
         |  (sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> va.e[i] * va.e[i]))) *
         |   sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> vb.e[i] * vb.e[i]))))""".stripMargin
    (ctes, cosSql)
  }

  def rhpNearDupOracleSql(
      table: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bands: Int = 8,
      bitsPerBand: Int = 6,
      seed: Long = 42L
  ): String = {
    val (ctes, cosSql) = rhpCtes(table, idCol, vecCol, dim, bands, bitsPerBand, seed)
    s"""WITH $ctes
       |SELECT keep_id, dup_id,
       |  $cosSql AS cosine
       |FROM cand JOIN v va ON keep_id = va.vec_id JOIN v vb ON dup_id = vb.vec_id
       |WHERE $cosSql >= $threshold""".stripMargin
  }

  /** DuckDB mirror of the SemDeDup COMPOSITION (`sim_semantic_keep`):
    * RHP-LSH near-dup pairs → reachability closure to min-id clusters →
    * one kept representative per cluster by `qualitySql` (tiebreak lowest
    * id). Every stage reuses the exact CTE chain its standalone oracle
    * uses, so the composed hash-check inherits stage-level determinism.
    * `qualitySql` is a SQL expression over alias `d` (the `$table` row of
    * the member doc) and must render the same integers as the Spark
    * side's quality column.
    */
  def semanticKeepOracleSql(
      table: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      qualitySql: String,
      bands: Int = 8,
      bitsPerBand: Int = 6,
      seed: Long = 42L
  ): String = {
    val (ctes, cosSql) = rhpCtes(table, idCol, vecCol, dim, bands, bitsPerBand, seed)
    s"""WITH RECURSIVE $ctes, pairs AS (
       |  SELECT keep_id AS doc_a, dup_id AS doc_b
       |  FROM cand JOIN v va ON keep_id = va.vec_id JOIN v vb ON dup_id = vb.vec_id
       |  WHERE $cosSql >= $threshold
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), rep AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS rep_id FROM reach GROUP BY src
       |), lab AS (
       |  SELECT d.$idCol AS doc_id, COALESCE(rep.rep_id, d.$idCol) AS rep_id
       |  FROM $table d LEFT JOIN rep ON d.$idCol = rep.doc_id
       |)
       |SELECT lab.rep_id AS cluster_id,
       |  first(lab.doc_id ORDER BY ($qualitySql) DESC, lab.doc_id ASC) AS keep_id,
       |  max($qualitySql) AS best_quality,
       |  count(*) AS n_members
       |FROM lab JOIN $table d ON lab.doc_id = d.$idCol
       |GROUP BY 1""".stripMargin
  }

  /** Matryoshka-style two-stage search: rank by cosine over only the
    * first `prefixDim` components (reading a fraction of the vector
    * bytes), keep `k × overfetch` candidates per query, then rerank just
    * those by exact full-dimension cosine. The 100 TB shape: stage 1 is
    * the only corpus-wide pass and touches prefixDim/dim of the embedding
    * bytes (with dimension-sliced storage, a proportionally smaller
    * scan); stage 2 re-reads full vectors for |queries|×k×overfetch rows
    * only. Both stages are fixed-order folds with id tiebreaks, so the
    * result is exactly oracle-able — approximation error shows up only as
    * which candidates survive stage 1, and that cut is itself
    * deterministic.
    */
  def prefixRerankTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      prefixDim: Int,
      nQueries: Int,
      k: Int,
      overfetch: Int
  ): DataFrame = {
    val embD = emb.select(
      col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("p", slice(col("e"), 1, prefixDim))
      .withColumn("ne", sqrt(VectorOps.dot(col("e"), col("e"))))
      .withColumn("np", sqrt(VectorOps.dot(col("p"), col("p"))))
    val q = embD.filter(col("vid") < nQueries).select(
      col("vid").as("query_id"), col("e").as("qe"), col("p").as("qp"),
      col("ne").as("nqe"), col("np").as("nqp"))
    val w1 = Window.partitionBy("query_id").orderBy(desc("pcos"), asc("vid"))
    val w2 = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vid"))
    embD
      .join(broadcast(q), col("query_id") =!= col("vid"))
      .withColumn("pcos", pairCosine(col("qp"), col("p"), col("nqp"), col("np")))
      .withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= k * overfetch)
      .withColumn("cosine", pairCosine(col("qe"), col("e"), col("nqe"), col("ne")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cosine"), col("rank"))
  }

  /** DuckDB mirror of [[prefixRerankTopK]] — same two-stage cut, same
    * tiebreaks, same left-to-right double accumulation.
    */
  def prefixRerankOracleSql(
      table: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      prefixDim: Int,
      nQueries: Int,
      k: Int,
      overfetch: Int
  ): String = {
    def dotSql(a: String, b: String, d: Int): String =
      s"list_sum(list_transform(range(1, ${d + 1}), i -> $a[i] * $b[i]))"
    def cosSql(a: String, b: String, d: Int): String =
      s"CASE WHEN sqrt(${dotSql(a, a, d)}) = 0 OR sqrt(${dotSql(b, b, d)}) = 0 THEN NULL " +
        s"ELSE ${dotSql(a, b, d)} / (sqrt(${dotSql(a, a, d)}) * sqrt(${dotSql(b, b, d)})) END"
    s"""WITH v AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS e FROM $table),
       |q AS (SELECT vid AS query_id, e AS qe FROM v WHERE vid < $nQueries),
       |cand AS (
       |  SELECT query_id, vid, qe, e FROM (
       |    SELECT q.query_id, c.vid, q.qe, c.e,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.qe", "c.e", prefixDim)} DESC NULLS LAST, c.vid ASC) AS crank
       |    FROM v c, q WHERE q.query_id <> c.vid
       |  ) WHERE crank <= ${k * overfetch}
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, vid AS neighbor_id,
       |    ${cosSql("qe", "e", dim)} AS cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${cosSql("qe", "e", dim)} DESC NULLS LAST, vid ASC) AS rank
       |  FROM cand
       |) WHERE rank <= $k""".stripMargin
  }

  /** Seeded k-means centroids for IVF: fit on (a sample of) the corpus,
    * return the small (cluster_id, cvec) table that `ivfTopK` broadcasts.
    * At 100 TB the fit runs on a bounded sample (`sampleFraction`) — IVF
    * quality needs representative centroids, not an exact global optimum.
    */
  def kmeansCentroids(
      emb: DataFrame,
      vecCol: String,
      k: Int,
      seed: Long = 42L,
      sampleFraction: Double = 1.0
  ): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val sampled = if (sampleFraction >= 1.0) emb else emb.sample(sampleFraction, seed)
    val vs = sampled
      .select(array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("_kmf"))
    // fit is eager: pin the sample for the fit only, not the session
    val model = graft.Materialize.scoped(vs)(new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(20).setFeaturesCol("_kmf")
      .fit(vs))
    val session = emb.sparkSession
    import session.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cluster_id", "cvec")
  }

  /** Recall@k of the IVF path against brute force, as an exactly
    * oracle-able query: pivots are DATA POINTS chosen deterministically
    * (`vec_id < nPivots` — IVF-Flat with data-point pivots), so the whole
    * pipeline (assignment argmax, probe ranking, candidate top-k, recall
    * intersection) is mirrorable in SQL with zero model internals. Emits
    * one `(query_id, n_hits)` row per query (`n_hits` ∈ [0, k]) —
    * CORRECTNESS pins the exact recall, not just a floor.
    *
    * Vectors are cast to double BEFORE entering ivfTopK so every dot
    * product accumulates identically to the oracle's `list_sum` over
    * `DOUBLE[]` (float math inside the engine would break bit-parity).
    */
  def ivfRecall(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      nPivots: Int,
      nQueries: Int
  ): DataFrame = {
    val embD = emb.select(
      col(idCol), transform(col(vecCol), x => x.cast("double")).as(vecCol))
    val pivots = embD.filter(col(idCol) < nPivots)
      .select(col(idCol).cast("int").as("cluster_id"), col(vecCol).as("cvec"))
    val queries = embD.filter(col(idCol) < nQueries)
    val ivf = ivfTopK(embD, queries, pivots, idCol, vecCol, k, nprobe)
    val bf = bruteForceTopK(embD, queries, idCol, vecCol, k)
    val hits = bf.select("query_id", "neighbor_id")
      .join(ivf.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** DuckDB mirror of [[ivfRecall]] — same pivots, same argmax/probe/rank
    * tiebreaks, same double-precision left-to-right dot products. Ordering
    * note: Spark window DESC puts NULLs last, DuckDB DESC puts them first —
    * every DESC here is explicit `DESC NULLS LAST` (zero-vector cosines
    * are NULL on both sides).
    */
  def ivfRecallOracleSql(
      table: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nprobe: Int,
      nPivots: Int,
      nQueries: Int
  ): String = {
    def dotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))"
    def cosSql(a: String, b: String): String =
      s"CASE WHEN sqrt(${dotSql(a, a)}) = 0 OR sqrt(${dotSql(b, b)}) = 0 THEN NULL " +
        s"ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END"
    s"""WITH v AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS e FROM $table),
       |p AS (SELECT CAST(vid AS INTEGER) AS cluster_id, e AS ce FROM v WHERE vid < $nPivots),
       |q AS (SELECT vid AS query_id, e AS qe FROM v WHERE vid < $nQueries),
       |ca AS (
       |  SELECT vid AS neighbor_id, cluster_id, e AS cv FROM (
       |    SELECT c.vid, p.cluster_id, c.e,
       |      row_number() OVER (PARTITION BY c.vid
       |        ORDER BY COALESCE(${cosSql("c.e", "p.ce")}, -2.0) DESC NULLS LAST, p.cluster_id ASC) AS rn
       |    FROM v c, p) WHERE rn = 1
       |),
       |qa AS (
       |  SELECT query_id, cluster_id, qe AS qv FROM (
       |    SELECT q.query_id, p.cluster_id, q.qe,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY COALESCE(${cosSql("q.qe", "p.ce")}, -2.0) DESC NULLS LAST, p.cluster_id ASC) AS rn
       |    FROM q, p) WHERE rn <= $nprobe
       |),
       |ivf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT qa.query_id, ca.neighbor_id,
       |      row_number() OVER (PARTITION BY qa.query_id
       |        ORDER BY ${cosSql("qa.qv", "ca.cv")} DESC NULLS LAST, ca.neighbor_id ASC) AS rank
       |    FROM ca JOIN qa USING (cluster_id)
       |    WHERE qa.query_id <> ca.neighbor_id) WHERE rank <= $k
       |),
       |bf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, c.vid AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.qe", "c.e")} DESC NULLS LAST, c.vid ASC) AS rank
       |    FROM v c, q WHERE q.query_id <> c.vid) WHERE rank <= $k
       |)
       |SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits
       |FROM q LEFT JOIN (
       |  SELECT bf.query_id, count(*) AS n
       |  FROM bf JOIN ivf ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
       |  GROUP BY 1) h ON q.query_id = h.query_id""".stripMargin
  }

  /** IVF-style approximate top-k: cluster assignment by nearest centroid,
    * search restricted to the query's `nprobe` closest clusters.
    *
    * `centroids` is a small (cluster_id, vec) table — produced by
    * `kmeansCentroids` (seeded) in the engine path. Both assignment joins
    * broadcast the centroid table.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 2
  ): DataFrame = {
    // norms are precomputed ONCE per side (corpus row / centroid / query),
    // so each (vector, centroid) candidate pays a single fused dot product
    // instead of three — at |corpus|×nClusters comparisons that's the
    // dominant assignment cost. The projection sits below the broadcast
    // join, so Catalyst can't inline the norm back into the per-pair
    // expression. Division order is unchanged ⇒ results stay bit-identical
    // to the naive cosine (IEEE ops on identical inputs).
    val cent = centroids.select(col("cluster_id"), col("cvec"))
      .withColumn("_ncent", sqrt(VectorOps.dot(col("cvec"), col("cvec"))))

    def pairSim(v: Column, c: Column, nv: Column, nc: Column): Column =
      when(nv === 0.0 || nc === 0.0, lit(null)).otherwise(VectorOps.dot(v, c) / (nv * nc))

    def assign(df: DataFrame, id: String, out: String, nOut: String, keep: Int): DataFrame = {
      // null-safe similarity: a zero vector's cosine is NULL for every
      // centroid; coalesce to a below-range sentinel so it still gets a
      // deterministic cluster (max_by over all-NULL ordering would yield
      // NULL and silently drop the vector from the index)
      val withN = df.withColumn(nOut, sqrt(VectorOps.dot(col(vecCol), col(vecCol))))
      val scored = withN.join(broadcast(cent))
        .withColumn("csim", coalesce(
          pairSim(col(vecCol), col("cvec"), col(nOut), col("_ncent")), lit(-2.0)))
      if (keep == 1) {
        // corpus side (the big one): argmax as an AGGREGATE, not a window —
        // max_by partial-aggregates map-side, so the shuffle carries one row
        // per vector instead of sorting |corpus|×nClusters expanded rows
        // (tiebreak: highest csim, then lowest cluster_id, matching the
        // window orderBy below)
        scored
          .groupBy(col(id))
          .agg(max_by(
            struct(col(vecCol).as(out), col("cluster_id"), col(nOut)),
            struct(col("csim").as("_s"), (-col("cluster_id")).as("_t"))).as("_best"))
          .select(col(id), col(s"_best.$out").as(out),
            col("_best.cluster_id").as("cluster_id"), col(s"_best.$nOut").as(nOut))
      } else {
        // query side: tiny input, nprobe > 1 — the window form is fine
        val w = Window.partitionBy(col(id)).orderBy(desc("csim"), asc("cluster_id"))
        scored
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= keep)
          .select(col(id), col(vecCol).as(out), col("cluster_id"), col(nOut))
      }
    }

    val corpusAssigned = assign(corpus.select(col(idCol).as("neighbor_id"), col(vecCol)), "neighbor_id", "cv", "_ncv", 1)
    val queryAssigned  = assign(queries.select(col(idCol).as("query_id"), col(vecCol)), "query_id", "qv", "_nq", nprobe)

    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    corpusAssigned
      .join(broadcast(queryAssigned), Seq("cluster_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairSim(col("qv"), col("cv"), col("_nq"), col("_ncv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}
