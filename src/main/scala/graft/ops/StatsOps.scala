package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed summary statistics. Spark's builtin `corr` / stddev
  * accumulate doubles, so the last digits depend on partition merge order
  * — fine for exploration, useless for a correctness gate or a reproducible
  * data-card. These variants accumulate exact decimals (order-independent)
  * and apply the one floating-point formula at the very end, so the result
  * is bit-identical on every run, partitioning, and engine.
  */
object StatsOps {

  /** Pairwise Pearson correlation over `cols` (which must carry ≤ 2
    * decimal places — money/quantity columns; the decimal(18,2) cast
    * truncates nothing and makes sums exact). Output: one row per
    * unordered pair `(x, y, corr)`.
    *
    * Scale shape: ONE full-pass aggregation computing all moment sums
    * simultaneously (map-side partial combine, single 1-row result); the
    * pair rows are unpivoted from that single row. No per-pair passes —
    * k columns cost one scan regardless of k², the difference between one
    * job and k² jobs on a 100 TB table.
    */
  def corrPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    def d(c: String): Column = col(c).cast("decimal(18,2)")
    // moment sums: exact decimal accumulation (products carry 4 decimals)
    val moments =
      cols.map(c => sum(d(c)).cast("double").as(s"s_$c")) ++
        cols.map(c => sum((d(c) * d(c)).cast("decimal(38,4)")).cast("double").as(s"ss_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((d(a) * d(b)).cast("decimal(38,4)")).cast("double").as(s"sp_${a}_$b")
        }.toSeq
    val agg = df.agg(count(lit(1)).cast("double").as("n"), moments: _*)
    val pairRows = cols.combinations(2).map { case Seq(a, b) =>
      val n = col("n")
      val cov = n * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val varA = n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val varB = n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      struct(lit(a).as("x"), lit(b).as("y"),
        round(cov / sqrt(varA * varB), 9).as("corr"))
    }.toSeq
    agg.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("p.corr").as("corr"))
  }

  /** Per-group z-score normalization (`z = (x − mean_g) / stddev_g`,
    * sample stddev) — the feature-scaling transform, with group moments
    * accumulated as exact decimals so the scaling constants are
    * bit-reproducible under any partitioning.
    *
    * Scale shape: one hash-aggregation to the group-moments table, joined
    * back onto the data (broadcast when groups are few). Singleton groups
    * produce z = NaN (stddev of one sample is undefined) — filter or
    * clamp downstream if the group key can be that sparse.
    */
  def groupZScore(df: DataFrame, group: Seq[String], value: String): DataFrame = {
    require(group.nonEmpty, "need at least one grouping column")
    val d = col(value).cast("decimal(18,2)")
    val stats = df.groupBy(group.map(col): _*).agg(
      count(lit(1)).as("_n"),
      sum(d).cast("double").as("_s"),
      sum((d * d).cast("decimal(38,4)")).cast("double").as("_ss"))
    val mean = col("_s") / col("_n")
    // ANSI mode throws on /0 even for doubles: guard the degenerate
    // groups explicitly — singleton (variance undefined) and constant
    // (std 0) groups yield z = NaN rather than an aborted job
    val variance = when(col("_n") > 1,
      (col("_n") * col("_ss") - col("_s") * col("_s")) /
        (col("_n") * (col("_n") - lit(1.0))))
      .otherwise(lit(Double.NaN))
    val std = sqrt(variance)
    df.join(stats, group)
      .withColumn("z",
        when(std > 0, (d.cast("double") - mean) / std).otherwise(lit(Double.NaN)))
      .drop("_n", "_s", "_ss")
  }

  /** Exact Gini coefficient of a non-negative integer measure (counts,
    * cents) — the concentration readout behind "what share of revenue do
    * the top customers hold" data cards, companion of the Pareto/ABC
    * classes: `G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx)` over the ascending-sorted
    * values.
    *
    * Scale shape: the global ascending rank rides [[GlobalRowNumber]]
    * (range repartition + per-partition row_number + broadcast offsets —
    * no SinglePartition window funnel), and the weighted sum accumulates
    * in decimal(38,0), so the one double division at the end is exact-in,
    * bit-identical across partitionings and engines. Ties in `value` are
    * rank-order-invariant for the statistic (equal values commute under
    * the weight sum); `tie` only pins the numbering itself. The 1-row
    * result is a lazy frame over the rank's ranged pin
    * ([[graft.Materialize.pin]]): a caller inside a `Materialize.scoped`
    * body acts on it inside that body.
    *
    * @param value non-negative integral measure (cast cents upstream).
    * @param tie   unique-per-row tiebreak column for deterministic ranks.
    */
  def gini(df: DataFrame, value: Column, tie: Column): DataFrame = {
    val base = df.select(value.cast("long").as("_v"), tie.as("_tie"))
    val (ranked, n) =
      GlobalRowNumber.withRowNumberAndCount(base, "_rn", col("_v").asc, col("_tie").asc)
    val weight = (lit(2L) * col("_rn") - lit(n) - lit(1L)).cast("decimal(19,0)")
    ranked.agg(
      count(lit(1)).as("n_units"),
      sum(col("_v").cast("decimal(38,0)")).as("_s"),
      sum((weight * col("_v").cast("decimal(19,0)")).cast("decimal(38,0)")).as("_w"))
      .select(
        col("n_units"),
        col("_s").cast("double").as("total"),
        when(col("_s") === lit(0).cast("decimal(38,0)"), lit(0.0))
          .otherwise(round(
            col("_w").cast("double") / (lit(n.toDouble) * col("_s").cast("double")), 6))
          .as("gini"))
  }

  /** Average-rank table (×2 to stay integral) for one column:
    * `r2(v) = 2·(# rows with value ≤ v) − cnt(v) + 1`, i.e. twice the
    * tie-averaged midrank. Distributed CDF: the per-value counts' running
    * sum is [[RunningTotal.withRunningSum]] — entirely lazy, so the whole
    * rank derivation is a subtree of the caller's single action (the
    * r10 form collected the offsets to the driver, which forced one
    * eager materialization + persist PER COLUMN — 20 AQE jobs and
    * ~4.1 s for a two-column Spearman at sf0.1; this plan runs the same
    * math in 7 jobs / ~1.5 s). `perVal` is the slim (v, cnt) frame
    * RunningTotal's exchange-reuse contract needs; the reuse is
    * plan-asserted in StatsOpsSpec.
    */
  private def avgRank2(df: DataFrame, value: Column): DataFrame = {
    val perVal = df.filter(value.isNotNull)
      .groupBy(value.as("v")).agg(count(lit(1)).as("cnt"))
    RunningTotal.withRunningSum(perVal, col("cnt"), "_le", col("v"))._1
      .select(col("v"), (lit(2L) * col("_le") - col("cnt") + lit(1L)).as("r2"))
  }

  /** Spearman rank correlation with proper tie handling (average ranks),
    * exact and engine-portable: ranks are INTEGERS (twice the midrank —
    * Pearson is scale-invariant, so ×2 changes nothing), every moment sum
    * accumulates in decimal(38,0), and the one floating-point formula
    * runs once at the end on exactly-represented inputs. Emits one row
    * `(n, rho)`.
    *
    * Scale shape: one distributed CDF per column (range-partitioned
    * per-value counts + broadcast offsets — no global-sort funnel), two
    * shuffle joins mapping each row to its ranks, then ONE all-moments
    * hash aggregation. Rows where either column is null are excluded
    * (pairwise-complete, the scipy default). decimal(38,0) holds the
    * rank-product sums exactly up to n ≈ 3·10¹² rows.
    */
  def spearman(df: DataFrame, x: String, y: String): DataFrame = {
    val base = df.filter(col(x).isNotNull && col(y).isNotNull)
      .select(col(x).as("_x"), col(y).as("_y"))
    val rx = avgRank2(base, col("_x"))
    val ry = avgRank2(base, col("_y"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val joined = base
      .join(rx.select(col("v").as("_x"), col("r2").as("_rx")), "_x")
      .join(ry.select(col("v").as("_y"), col("r2").as("_ry")), "_y")
    val agg = joined.agg(
      count(lit(1)).as("n"),
      sum(d19(col("_rx")).cast("decimal(38,0)")).cast("double").as("sx"),
      sum(d19(col("_ry")).cast("decimal(38,0)")).cast("double").as("sy"),
      sum((d19(col("_rx")) * d19(col("_rx"))).cast("decimal(38,0)")).cast("double").as("ssx"),
      sum((d19(col("_ry")) * d19(col("_ry"))).cast("decimal(38,0)")).cast("double").as("ssy"),
      sum((d19(col("_rx")) * d19(col("_ry"))).cast("decimal(38,0)")).cast("double").as("sp"))
    val nD = col("n").cast("double")
    agg.select(
      col("n"),
      round((nD * col("sp") - col("sx") * col("sy")) /
        sqrt((nD * col("ssx") - col("sx") * col("sx")) *
          (nD * col("ssy") - col("sy") * col("sy"))), 9).as("rho"))
  }

  /** Benford's-law expected share of first significant digit `d`, in
    * micro-units: round(10⁶ · log₁₀(1 + 1/d)). Computed ONCE here in the
    * JVM and embedded as the same literal into both engines' plans, so no
    * cross-engine log semantics are in play at all.
    */
  private[graft] def benfordMicros(d: Int): Long =
    math.round(1e6 * math.log10(1.0 + 1.0 / d))

  /** Benford's-law conformance profile of a positive amount column — the
    * classic data-quality / fraud screen (Benford 1938; Nigrini 2012):
    * naturally-occurring multi-scale amounts follow
    * P(first digit = d) = log₁₀(1 + 1/d); fabricated or truncated data
    * does not. Output: one row per digit 1–9 with the observed count,
    * observed share (micros), the Benford expectation (micros), and the
    * signed deviation — every number an exact integer (counts, plus one
    * correctly-rounded multiply-then-divide per digit; the expectation
    * literals are JVM-computed constants shared with the oracle).
    *
    * The first digit is extracted from the decimal's plain string
    * rendering (both engines render DECIMAL without exponent), never via
    * log10-of-value, whose rounding at exact powers of ten is
    * engine-dependent. Benford's law is only defined for amounts ≥ 1
    * (values in (0,1) lead with '0.', negatives with '-'), so the
    * operator ENFORCES the domain with an explicit `amount >= 1` filter
    * — out-of-domain rows are excluded identically on both engines
    * instead of silently dropping out of the join (0-digit rows) or
    * aborting the job on an ANSI '-'→BIGINT cast.
    *
    * Scale shape: one projection + one 9-group hash-agg with map-side
    * combine; the 9-row constant side joins broadcast. Nothing else.
    */
  def benford(df: DataFrame, amount: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val digits = (1 to 9).map(d => (d.toLong, benfordMicros(d))).toDF("digit", "benford_micros")
    val obs = df
      .filter(amount >= 1)
      .select(substring(amount.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    broadcast(digits)
      .join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("cnt"), lit(0L)).as("cnt"), col("benford_micros"))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .select(
        col("digit"), col("cnt"),
        round((col("cnt") * 1000000L).cast("double") / col("total").cast("double"))
          .cast("long").as("share_micros"),
        col("benford_micros"))
      .withColumn("dev_micros", col("share_micros") - col("benford_micros"))
  }

  /** DuckDB mirror of [[benford]] — identical digit extraction, identical
    * JVM-precomputed expectation literals, identical one-divide share.
    */
  def benfordOracleSql(table: String, amountCol: String): String = {
    val values = (1 to 9).map(d => s"($d, ${benfordMicros(d)})").mkString(", ")
    s"""WITH bf(digit, benford_micros) AS (VALUES $values),
       |obs AS (
       |  SELECT CAST(substring(CAST($amountCol AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM $table WHERE $amountCol >= 1 GROUP BY 1
       |)
       |SELECT CAST(bf.digit AS BIGINT) AS digit,
       |       COALESCE(obs.cnt, 0) AS cnt,
       |       CAST(round(CAST(COALESCE(obs.cnt, 0) * 1000000 AS DOUBLE) /
       |                  CAST(sum(COALESCE(obs.cnt, 0)) OVER () AS DOUBLE)) AS BIGINT)
       |         AS share_micros,
       |       CAST(bf.benford_micros AS BIGINT) AS benford_micros,
       |       CAST(round(CAST(COALESCE(obs.cnt, 0) * 1000000 AS DOUBLE) /
       |                  CAST(sum(COALESCE(obs.cnt, 0)) OVER () AS DOUBLE)) AS BIGINT)
       |         - CAST(bf.benford_micros AS BIGINT) AS dev_micros
       |FROM bf LEFT JOIN obs ON bf.digit = obs.digit""".stripMargin
  }
}
