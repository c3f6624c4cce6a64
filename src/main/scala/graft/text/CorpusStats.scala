package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level frequency-law statistics — the "is this crawl shaped like
  * natural language?" probe a training-data pipeline runs per source.
  * A natural-language corpus follows Zipf's law (log freq ≈ α·log rank + c
  * with α ≈ −1); machine-generated spam, log dumps, and template farms
  * bend the curve, so the fitted slope is a cheap corpus-quality score.
  *
  * Reference analogue: the token-frequency exploration feeding the
  * CountVectorizer vocabulary cut (Hap880_Final_Project.py:268-289) —
  * generalized from "top terms by df" to the distributional fit.
  */
object CorpusStats {

  /** OLS fit of `ln(freq)` on `ln(rank)` over the corpus's `topN` terms
    * (rank by freq DESC, term ASC — deterministic under ties). Emits one
    * row `(n_terms, slope, intercept)` with ln terms micro-scaled to
    * integers before any sum, so accumulation order cannot change the
    * answer and the fit is exactly mirrorable in DuckDB.
    *
    * Scale shape: one hash-aggregation to the term-frequency table
    * (map-side combine over exploded tokens); the rank is a
    * [[graft.ops.GlobalRowNumber]] distributed rank over the tf table
    * (range partition + per-partition offsets — no global Window.orderBy,
    * whose single sort task a 10⁸⁺-term crawl vocabulary would not fit),
    * filtered to `rank ≤ topN`; then an O(topN) fit. The 1-row result is
    * a lazy frame over the rank's ranged pin ([[graft.Materialize.pin]]):
    * a caller inside a `Materialize.scoped` body acts on it inside that
    * body.
    */
  def zipfSlope(docs: DataFrame, text: Column, topN: Int = 200): DataFrame = {
    val tf = docs
      .select(explode(TextOps.tokens(text)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val ranked = graft.ops.GlobalRowNumber.withRowNumber(
      tf, "rank", col("freq").desc, col("term").asc)
      .filter(col("rank") <= topN)
    val lx = round(log(col("rank").cast("double")) * 1e6).cast("long")
    val ly = round(log(col("freq").cast("double")) * 1e6).cast("long")
    val agg = ranked.select(lx.as("_x"), ly.as("_y"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("_x")).as("sx"), sum(col("_y")).as("sy"),
        sum((col("_x").cast("decimal(19,0)") * col("_y").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("double").as("sxy"),
        sum((col("_x").cast("decimal(19,0)") * col("_x").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("double").as("sxx"))
    val nD = col("n_terms").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val slope = (nD * col("sxy") - sxD * syD) / (nD * col("sxx") - sxD * sxD)
    agg.select(
      col("n_terms"),
      round(slope, 6).as("slope"),
      // back to ln units: sums are micro-scaled, the ratio cancels the 1e6
      round((syD - slope * sxD) / (nD * 1e6), 6).as("intercept"))
  }

  /** DuckDB mirror of [[zipfSlope]] (tokenizer = the vocab_topdf split). */
  def zipfOracleSql(table: String, textCol: String, topN: Int = 200): String =
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(lower($textCol), '[^a-z]+'), x -> x <> '')) AS term
       |  FROM $table
       |), tf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1
       |), top AS (
       |  SELECT term, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
       |  FROM (SELECT term, freq FROM tf ORDER BY freq DESC, term ASC LIMIT $topN)
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       |         SUM(CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT)) AS sx,
       |         SUM(CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT)) AS sy,
       |         SUM(CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) *
       |             CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT)) AS sxy,
       |         SUM(CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) *
       |             CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT)) AS sxx
       |  FROM top
       |)
       |SELECT n_terms,
       |       round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |             (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       |       round((CAST(sy AS DOUBLE) - (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |             (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
       |             (CAST(n_terms AS DOUBLE) * 1e6), 6) AS intercept
       |FROM m""".stripMargin
}
