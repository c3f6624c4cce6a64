package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level bigram language model for quality scoring — the classic
  * "perplexity filter" of LLM data pipelines: score each document by the
  * average log-probability of its bigrams under a model trained on the
  * corpus itself; low scores flag boilerplate, gibberish, and
  * out-of-domain text. Complements the per-document heuristics in
  * [[TextOps]] (which see only one document at a time) with a signal that
  * sees the whole corpus.
  */
object BigramLm {

  /** Adjacent token pairs of a token-array column as `struct(w1, w2)`
    * entries; empty for docs with < 2 tokens.
    */
  def bigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - 2),
        i => struct(element_at(toks, i + 1).as("w1"), element_at(toks, i + 2).as("w2"))))

  /** Per-document LM statistics over the [[TextOps.tokens]] stream:
    *
    *   - `n_bigrams`  — bigram occurrences in the doc
    *   - `n_covered`  — of those, how many occur ≥ `minCount` times in
    *                    the CORPUS (cheap fluency proxy, exact integers)
    *   - `avg_lp`     — mean add-one-smoothed log-probability
    *                    `ln((c(w1,w2) + 1) / (c(w1) + V))`, the LM score
    *
    * Docs with < 2 tokens are absent (they have no bigram axis).
    *
    * Determinism: each ln is scaled to micro-units and rounded to a LONG
    * before summation, so the per-doc mean is an integer sum divided once
    * — immune to floating-point accumulation order on both engines.
    *
    * Scale shape: one explode + two hash-aggs build the count tables;
    * the model (bigram + unigram counts) joins back on its keys as plain
    * shuffle hash joins — every stage is keyed and partial-aggregated,
    * nothing is driver-resident except the 1-row vocabulary size that
    * rides a broadcast.
    */
  def docScores(docs: DataFrame, idCol: String, textCol: String, minCount: Long): DataFrame = {
    val toksed = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    // vocabulary size: partial-aggregated global count of the unigram
    // table, crossJoined back as a broadcast 1-row frame. A 100 TB
    // corpus's unigram vocabulary is far beyond one task, so the former
    // Window.partitionBy() pass is out; and because both consumers of
    // `uniCounts` share the same hash(w) exchange, ReusedExchange dedups
    // the corpus explode+agg — the data is NOT re-scanned for the count
    // (asserted in BigramLmSpec's plan test).
    val uniCounts = toksed
      .select(explode(col("_toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    // count(CASE WHEN c1 > 0 ...), not count(1): the non-foldable guard
    // keeps the per-w count alive in the total branch, so its exchange
    // stays byte-identical to the main branch's and AQE reuses it
    // (count(1) / count(c1) both let RemoveRedundantAggregates rewrite
    // the branch into a distinct-only agg — different exchange, second
    // corpus scan; asserted in BigramLmSpec's plan test). c1 >= 1
    // always, so the value is exactly the vocabulary size.
    val uni = uniCounts
      .crossJoin(broadcast(
        uniCounts.agg(count(when(col("c1") > 0, lit(1))).as("v_size"))))
    val bg = toksed
      .select(col(idCol), explode(bigrams(col("_toks"))).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bg
      .join(bgCounts, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .select(
        col(idCol),
        col("c2"),
        // micro-scaled integer log-prob: order-independent summation
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v_size"))) * 1e6)
          .cast("long").as("_lp_micro"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c2") >= minCount, 1L).otherwise(0L)).as("n_covered"),
        round(sum("_lp_micro").cast("double") / (count(lit(1)) * 1e6), 6).as("avg_lp"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1998 eq. 4.25) — THE n-gram smoothing every serious
    * LM shipped before neural models, and still the perplexity-filter
    * workhorse:
    *
    *   P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁)
    *            + D·N₁₊(w₁·)/c(w₁) · N₁₊(·w₂)/N₁₊(··)
    *
    * with the textbook discount D = 0.75. The continuation distribution
    * counts CONTEXTS, not occurrences — "francisco" is frequent but only
    * ever follows "san", so its unigram backoff weight collapses; add-one
    * smoothing ([[docScores]]) cannot express this.
    *
    * Determinism: D = 3/4 makes every probability the exact rational
    *   [(4c₁₂ − 3)·N₁₊(··) + 3·N₁₊(w₁·)·N₁₊(·w₂)] / [4·c(w₁)·N₁₊(··)]
    * — numerator and denominator are exact longs on both engines, so the
    * micro-scaled readout is ONE correctly-rounded divide. No logs, no
    * float accumulation. (Long audit: num·10⁶ < 2⁶³ while
    * c₁₂·N₁₊(··) < 2·10¹¹ — corpus-level bigram scales far beyond the
    * test data; a 100 TB corpus rides the same shape in DECIMAL(38,0).)
    *
    * Scale shape: one explode + one (w1,w2) hash-agg builds the bigram
    * type table; the three marginals are hash-aggs OF THE TYPE TABLE
    * (never the occurrence stream); the type count N₁₊(··) is a
    * partial-aggregated global count broadcast back onto the table (all
    * consumers share the type table's exchange — one corpus scan, no
    * single-task window). Output: the `topK` most frequent bigrams (ties
    * broken by (w1, w2)) with their exact counts and kn_micros.
    */
  def kneserNey(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val bg = docs
      .select(TextOps.tokens(col(textCol)).as("_toks"))
      .select(explode(bigrams(col("_toks"))).as("_b"))
      .select(col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    // the bigram TYPE table is the model: pin it ONCE and derive the
    // three marginals and the type count N₁₊(··) from the pinned frame —
    // join-inferred null filters make the four lineages non-identical,
    // so exchange reuse alone cannot dedup them and an unpinned plan
    // re-scans the corpus 4×. N₁₊(··) doubles as the materializing
    // count() action (never a Window.partitionBy() pass over the type
    // table, which is 10⁹⁺ rows at corpus scale). The topK readout is
    // cached and the type-table pin released before return: unlike a
    // readout over a range pass, this one's scoped pin is the data-sized
    // type table and its plan embeds no sampled offsets, so the readout
    // cache dedups across reps.
    val bcCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    graft.Materialize.scoped(bcCounts) {
      val ntot = bcCounts.count()
      val leftM = bcCounts.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1_w1"))
      val rightM = bcCounts.groupBy("w2").agg(count(lit(1)).as("nc_w2"))
      val collected = bcCounts.join(leftM, "w1").join(rightM, "w2")
        .select(
          col("w1"), col("w2"), col("c12"), col("c1"),
          col("n1_w1"), col("nc_w2"),
          round(
            (((col("c12") * 4L - 3L) * lit(ntot) +
              col("n1_w1") * col("nc_w2") * 3L) * 1000000L).cast("double") /
              (col("c1") * lit(ntot) * 4L).cast("double"))
            .cast("long").as("kn_micros"))
        .orderBy(desc("c12"), asc("w1"), asc("w2"))
        .limit(topK)
        .cache()
      // topK-row readout: materialized before the scope drops the type table
      collected.count()
      collected
    }
  }

  /** DuckDB mirror of [[kneserNey]] — identical type-table marginals,
    * identical exact-long rational, identical one divide and ordering.
    */
  def kneserNeyOracleSql(table: String, textCol: String, topK: Int): String =
    s"""WITH toks AS (
       |  SELECT list_filter(regexp_split_to_array(lower($textCol), '[^a-z]+'),
       |                     x -> x <> '') AS t
       |  FROM $table
       |), bg AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, unnest(range(1, len(t))) AS r(i)
       |), bc AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
       |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM bc),
       |l AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |         CAST(COUNT(*) AS BIGINT) AS n1_w1
       |  FROM bc GROUP BY 1
       |), r2 AS (
       |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc_w2 FROM bc GROUP BY 1
       |)
       |SELECT bc.w1, bc.w2, bc.c12, l.c1, l.n1_w1, r2.nc_w2,
       |  CAST(round(
       |    CAST(((bc.c12 * 4 - 3) * tot.ntot + l.n1_w1 * r2.nc_w2 * 3)
       |         * 1000000 AS DOUBLE) /
       |    CAST(l.c1 * tot.ntot * 4 AS DOUBLE)) AS BIGINT) AS kn_micros
       |FROM bc JOIN l ON bc.w1 = l.w1 JOIN r2 ON bc.w2 = r2.w2 CROSS JOIN tot
       |ORDER BY bc.c12 DESC, bc.w1 ASC, bc.w2 ASC LIMIT $topK""".stripMargin
}
