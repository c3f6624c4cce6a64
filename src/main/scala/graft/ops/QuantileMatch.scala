package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile matching (empirical-CDF mapping): rewrite each value in
  * frame A to the value at the SAME quantile of reference frame B — the
  * batch-effect-correction / quantile-normalization primitive ("make
  * this cohort's score distribution look like the reference cohort's").
  *
  * Semantics: A's rows get p = (rank−1)/(nA−1) under a deterministic
  * (value, id) total order; the matched value is linear interpolation
  * between B's adjacent order statistics around position p·(nB−1) — the
  * standard type-7 quantile rule.
  *
  * Scale shape: BOTH global rankings ride GlobalRowNumber (range
  * partition + per-partition window + P-entry offset map — no
  * SinglePartition window anywhere); the interpolation endpoints arrive
  * by integer EQUI-joins of A's floor/ceil positions against B's rank —
  * shuffle joins on a long key, no range probe, no broadcast of a
  * data-sized side. Every float step (p, position, lerp) is the same
  * textual formula the oracle runs, so doubles agree bit-for-bit and
  * round-6 output is hash-stable.
  */
object QuantileMatch {

  /** @param a      frame to rewrite; must contain `idCol` + `valueCol`
    * @param b      reference frame; must contain `idCol` + `valueCol`
    * @param idCol  unique tiebreak id (total order must be deterministic)
    * @return (id, v, v_matched) — one row per A row
    */
  def matchQuantiles(
      a: DataFrame, b: DataFrame, idCol: String, valueCol: String): DataFrame = {
    val (aRanked, nA) = GlobalRowNumber.withRowNumberAndCount(
      a.select(col(idCol).as("id"), col(valueCol).as("v")),
      "rn", col("v"), col("id"))
    val (bRanked, nB) = GlobalRowNumber.withRowNumberAndCount(
      b.select(col(idCol).as("_bid"), col(valueCol).as("bv")),
      "brn", col("bv"), col("_bid"))
    require(nA >= 2 && nB >= 2,
      s"quantile matching needs ≥2 rows on both sides (got nA=$nA, nB=$nB)")
    val loDf = bRanked.select((col("brn") - 1L).as("lo_i"), col("bv").as("lo"))
    val hiDf = bRanked.select((col("brn") - 2L).as("hi_i"), col("bv").as("hi"))
    val positioned = aRanked
      // the float pipeline below mirrors the oracle SQL token-for-token:
      // p = (rn-1)/(nA-1); pos = p*(nB-1); lerp on (pos - floor(pos))
      .withColumn("p", (col("rn") - 1L).cast("double") / lit((nA - 1).toDouble))
      .withColumn("pos", col("p") * lit((nB - 1).toDouble))
      .withColumn("i", floor(col("pos")).cast("long"))
      .withColumn("frac", col("pos") - floor(col("pos")))
    positioned
      .join(loDf, col("i") === col("lo_i"))
      .join(hiDf, col("i") === col("hi_i"), "left") // hi_i = brn−2 ⇔ B rank i+1
      .withColumn("_hi", coalesce(col("hi"), col("lo"))) // i = nB−1 edge
      .select(col("id"), col("v"),
        round(col("lo") + (col("_hi") - col("lo")) * col("frac"), 6).as("v_matched"))
  }

  /** DuckDB mirror of [[matchQuantiles]] — same total order, position
    * arithmetic, and lerp, so the doubles agree bit-for-bit. */
  def matchQuantilesOracleSql(
      aSql: String, bSql: String, idSql: String, valueSql: String): String =
    s"""WITH a AS (
       |  SELECT $idSql AS id, $valueSql AS v,
       |         ROW_NUMBER() OVER (ORDER BY $valueSql, $idSql) AS rn,
       |         COUNT(*) OVER () AS na
       |  FROM ($aSql)
       |), b AS (
       |  SELECT $valueSql AS bv,
       |         ROW_NUMBER() OVER (ORDER BY $valueSql, $idSql) - 1 AS bi,
       |         COUNT(*) OVER () AS nb
       |  FROM ($bSql)
       |), pos AS (
       |  SELECT id, v,
       |         (CAST(rn - 1 AS DOUBLE) / (na - 1)) * (nb - 1) AS pos
       |  FROM a, (SELECT DISTINCT nb FROM b) x
       |)
       |SELECT p.id, p.v,
       |       round(lo.bv + (coalesce(hi.bv, lo.bv) - lo.bv) * (p.pos - floor(p.pos)), 6) AS v_matched
       |FROM pos p
       |JOIN b lo ON CAST(floor(p.pos) AS BIGINT) = lo.bi
       |LEFT JOIN b hi ON CAST(floor(p.pos) AS BIGINT) + 1 = hi.bi""".stripMargin
}
