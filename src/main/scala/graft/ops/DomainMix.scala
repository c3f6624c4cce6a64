package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic domain-mix rebalancing — the "data mixture" step of a
  * pre-training pipeline (DoReMi/The Pile publish target weights per
  * source): given target proportions `w_d` per domain, keep the largest
  * subsample that achieves them EXACTLY without replication. The feasible
  * total is `T = min_d(n_d / w_d)`; each domain keeps its `⌊w_d · T⌋`
  * members with the smallest portable hash (id tiebreak), so the sample
  * is reproducible run-to-run, engine-portable, and resumable — an RNG
  * sample is none of these.
  *
  * Scale shape: one hash-agg to the |domains|-sized count table, the
  * feasible-total reduction over those few rows (broadcast back — the
  * data is never collected), then the per-domain hash-rank. The rank is
  * NOT `row_number over partitionBy(domain)` — with few domains
  * (languages/sources) that window funnels each whole domain through ONE
  * task, a multi-TB single-task sort at 100 TB. Instead the rank rides
  * [[GlobalRowNumber]] over the total order (domain, hash, id): a
  * range-repartition whose partition count is the shuffle parallelism
  * regardless of domain cardinality, parallel per-partition windows, and
  * the per-domain rank recovered as `global_rank − offset(domain)` where
  * the offsets are an exclusive prefix sum over the |domains|-row count
  * table (broadcast). No task ever holds more than ~1/P of the corpus.
  */
object DomainMix {

  /** @param targets (domain → weight); weights need not sum to 1 — only
    *                ratios matter. Domains absent from `targets` are
    *                dropped (weight 0).
    * @param hash    portable per-row hash column (e.g. md5-based permille)
    * @return        kept rows of `docs` plus `_mix_rank` (1-based rank
    *                within domain by (hash, id)); the internal
    *                range-partition pin follows [[graft.Materialize.pin]]
    */
  def rebalance(
      docs: DataFrame, domainCol: String, idCol: String,
      hash: Column, targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "domain targets must be non-empty and positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val tgt = targets.toSeq.sortBy(_._1).toDF(domainCol, "_w")
    // zero-weight domains are dropped before any data-sized work
    val kept = docs.filter(col(domainCol).isin(targets.keys.toSeq: _*))
    val counts = kept.groupBy(col(domainCol)).agg(count(lit(1)).as("_n_d"))
    // feasible total: the binding domain caps the mix (1 row)
    val tRow = counts.join(broadcast(tgt), domainCol)
      .agg(min(col("_n_d").cast("double") / col("_w")).as("_T"))
    val quota = tgt.crossJoin(broadcast(tRow))
      .select(col(domainCol),
        floor(col("_w") * col("_T")).cast("long").as("_k_d"))
    selectByQuota(kept, counts, domainCol, idCol, hash, quota)
  }

  /** Shared per-domain quota selection: keep each domain's `_k_d`
    * smallest-(hash, id) rows via the GlobalRowNumber rank (see the
    * scale rationale above — never a per-domain window sort).
    * `counts` must be `kept`'s per-domain sizes; `quota` carries
    * (`domainCol`, `_k_d`).
    */
  private def selectByQuota(
      kept: DataFrame, counts: DataFrame, domainCol: String, idCol: String,
      hash: Column, quota: DataFrame): DataFrame = {
    // exclusive prefix of domain sizes in the SAME order the global rank
    // sorts (domain asc — computed in Spark so string collation matches
    // the range partitioner exactly). |domains|-row window: tiny by
    // contract, never data-sized.
    val wOff = Window.orderBy(col(domainCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_off", coalesce(sum(col("_n_d")).over(wOff), lit(0L)))
      .select(col(domainCol), col("_off"))
    GlobalRowNumber.withRowNumber(
      kept, "_grn", col(domainCol).asc, hash.asc, col(idCol).asc)
      .join(broadcast(quota.join(offsets, domainCol)), domainCol)
      .withColumn("_mix_rank", col("_grn") - col("_off"))
      .filter(col("_mix_rank") <= col("_k_d"))
      .drop("_grn", "_off", "_k_d")
  }

  /** Temperature-scaled mixture at α = 1/2 (the Gopher/PaLM
    * rare-domain-upsampling rule `p_d ∝ n_d^α`, derived from the data
    * itself instead of declared targets): un-normalized weights
    * `w_d = √n_d` give feasible total `T = min_d(n_d / √n_d)` and the
    * closed-form quota `k_d = ⌊√n_d · min_e √n_e⌋` — large domains are
    * cut toward the geometric middle, the smallest domain is kept whole
    * (its quota is exactly n_min). α = 1/2 is chosen deliberately:
    * IEEE 754 REQUIRES sqrt and multiply to be correctly rounded, so the
    * quota doubles are bit-identical across engines and the ⌊⌋ can never
    * straddle — an arbitrary `pow(n, α)` carries no such guarantee.
    *
    * Readout: (domain, n_domain, n_kept, kept_id_sum) — the id sum pins
    * WHICH rows the hash-rank selection kept, not just how many.
    * Same scale shape as [[rebalance]], over the slim (domain, id, hash)
    * projection; the |domains|-row result is a lazy frame over the rank's
    * ranged pin ([[graft.Materialize.pin]]): a caller inside a
    * `Materialize.scoped` body acts on it inside that body.
    */
  def temperatureMixCounts(docs: DataFrame, domainCol: String,
                           idCol: String, hash: Column): DataFrame = {
    val kept = slim(docs, domainCol, idCol, hash)
    val counts = kept.groupBy(col(domainCol)).agg(count(lit(1)).as("_n_d"))
    val tRow = counts.agg(min(sqrt(col("_n_d").cast("double"))).as("_sq"))
    val quota = counts.crossJoin(broadcast(tRow))
      .select(col(domainCol),
        floor(sqrt(col("_n_d").cast("double")) * col("_sq"))
          .cast("long").as("_k_d"))
    selectByQuota(kept, counts, domainCol, idCol, col("_h"), quota)
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_kept"), sum(col(idCol)).as("kept_id_sum"))
      .join(counts, domainCol)
      .select(col(domainCol).as("domain"), col("_n_d").as("n_domain"),
        col("n_kept"), col("kept_id_sum"))
  }

  /** Per-domain kept counts — the mix-readout form of [[rebalance]], over
    * the slim (domain, id, hash) projection. The |domains|-row result is
    * a lazy frame over the rank's ranged pin ([[graft.Materialize.pin]]):
    * a caller inside a `Materialize.scoped` body acts on it inside that
    * body.
    */
  def mixCounts(docs: DataFrame, domainCol: String, idCol: String,
                hash: Column, targets: Map[String, Double]): DataFrame =
    rebalance(slim(docs, domainCol, idCol, hash), domainCol, idCol, col("_h"), targets)
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_kept"))

  /** What a count readout ranks: the ranged pin lives as long as its
    * caller's scope or the session, so it holds no payload columns. */
  private def slim(docs: DataFrame, domainCol: String, idCol: String, hash: Column): DataFrame =
    docs.select(col(domainCol), col(idCol), hash.as("_h"))

  /** DuckDB mirror of [[temperatureMixCounts]]: `hashSql` must render
    * the same hash over the table's own column names.
    */
  def temperatureMixOracleSql(table: String, domainCol: String,
                              idCol: String, hashSql: String): String =
    s"""WITH cnt AS (
       |  SELECT $domainCol AS domain, CAST(count(*) AS BIGINT) AS n_d
       |  FROM $table GROUP BY 1
       |), tm AS (
       |  SELECT min(sqrt(CAST(n_d AS DOUBLE))) AS sq FROM cnt
       |), quota AS (
       |  SELECT domain, n_d,
       |         CAST(floor(sqrt(CAST(n_d AS DOUBLE)) * sq) AS BIGINT) AS k_d
       |  FROM cnt, tm
       |), ranked AS (
       |  SELECT $domainCol AS domain, $idCol AS _id,
       |         ROW_NUMBER() OVER (PARTITION BY $domainCol
       |           ORDER BY $hashSql ASC, $idCol ASC) AS rn
       |  FROM $table
       |)
       |SELECT r.domain, q.n_d AS n_domain,
       |       CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(SUM(r._id) AS BIGINT) AS kept_id_sum
       |FROM ranked r JOIN quota q USING (domain)
       |WHERE rn <= k_d
       |GROUP BY 1, 2""".stripMargin

  /** DuckDB mirror of [[mixCounts]]: `hashSql` must render the same hash
    * over the table's own column names.
    */
  def mixCountsOracleSql(table: String, domainCol: String, idCol: String,
                         hashSql: String, targets: Map[String, Double]): String = {
    val tgtRows = targets.toSeq.sortBy(_._1)
      .map { case (d, w) => s"('${d.replace("'", "''")}', $w)" }.mkString(", ")
    s"""WITH tgt(domain, w) AS (VALUES $tgtRows),
       |cnt AS (
       |  SELECT $domainCol AS domain, CAST(count(*) AS BIGINT) AS n_d
       |  FROM $table GROUP BY 1
       |), tm AS (
       |  SELECT min(CAST(n_d AS DOUBLE) / w) AS t
       |  FROM cnt JOIN tgt USING (domain)
       |), quota AS (
       |  SELECT domain, CAST(floor(w * t) AS BIGINT) AS k_d FROM tgt, tm
       |), ranked AS (
       |  SELECT $domainCol AS domain,
       |         ROW_NUMBER() OVER (PARTITION BY $domainCol
       |           ORDER BY $hashSql ASC, $idCol ASC) AS rn
       |  FROM $table
       |)
       |SELECT r.domain, CAST(count(*) AS BIGINT) AS n_kept
       |FROM ranked r JOIN quota USING (domain)
       |WHERE rn <= k_d
       |GROUP BY 1""".stripMargin
  }
}
