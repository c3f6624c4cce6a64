package graft
package registry

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.VectorOps
import graft.ops.{CohortOps, Recodes}
import graft.sim.{Quantized, Similarity}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** projections, scalar expressions, joins, aggregations, windows, and set ops/sampling — one slice of the driver registry.
  *
  * Split out of Shared.scala in r12 (maintainability: the single file
  * had reached 8.7k lines). PURE CODE MOTION: entry bodies and oracle SQL
  * are byte-identical to the pre-split registry; SparkEntry composes the
  * slices back into the same `queries`/`oracleSql` maps. r13: misfiled
  * entries re-homed to their named family slice (pure motion again, same
  * duplicate-key guard).
  */
private[graft] object RelationalRegistry {
  import Shared._

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // E2: per-column null counts in one aggregation pass
    "e2_null_counts" -> ((s, d) => {
      val firstShip = t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(min("l_shipdate").as("first_ship"))
      val joined = t(s, d, "orders")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"), "left")
        .select("o_orderkey", "first_ship")
      graft.ops.SchemaOps.nullCounts(joined)
    }),

    // P9: schema-predicate projection (select_dtypes analog)
    "p9_numeric_proj" -> ((s, d) =>
      graft.ops.SchemaOps.selectNumeric(t(s, d, "customer"))),

    "p_proj_filter" -> ((s, d) =>
      t(s, d, "customer")
        .filter(col("c_acctbal").isNotNull && col("c_acctbal") > 0)
        .select("c_custkey", "c_name", "c_acctbal")),

    "p5_ne_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag") =!= "A")
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("cnt"))),

    "p8_regex_filter" -> ((s, d) =>
      t(s, d, "part")
        .filter(col("p_name").rlike("^(red|blue) "))
        .select("p_partkey", "p_name")),

    "p13_topk_recode" -> ((s, d) => {
      val seg = Recodes.topKOrElse(t(s, d, "customer"), "c_mktsegment", 3, "OTHER/UNKNOWN")
      seg.groupBy(col("c_mktsegment").as("seg")).agg(count(lit(1)).as("cnt"))
    }),
    "e1_ts_reparse" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        to_timestamp(col("o_orderdate").cast("string"), "yyyy-MM-dd HH:mm:ss").as("reparsed"))),

    "e3_ship_lag" -> ((s, d) =>
      t(s, d, "lineitem").join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          CohortOps.fractionalDays(col("l_shipdate"), col("o_orderdate")).as("ship_lag_days"))),

    "e5_regex_recode" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("color_std",
          when(col("p_name").rlike("^red "), "RED")
            .when(col("p_name").rlike("^blue "), "BLUE")
            .when(col("p_name").rlike("^green "), "GREEN")
            .otherwise("OTHER"))
        .groupBy("color_std").agg(count(lit(1)).as("cnt"))),

    // E6: literal-list membership recode
    "e6_isin_recode" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("prio_grp",
          when(col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"), "OTHER/UNKNOWN")
            .otherwise(col("o_orderpriority")))
        .groupBy("prio_grp").agg(count(lit(1)).as("cnt"))),

    "e8_substr_cast" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("brand_num", substring(col("p_brand"), 7, 2).cast("int"))
        .groupBy("brand_num").agg(count(lit(1)).as("cnt"))),

    "e10_bucket_chain" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("bucket", Recodes.rangeBucket(
          col("o_totalprice"),
          Seq((0.0, 100000.0, "xs"), (100000.0, 200000.0, "s"), (200000.0, 300000.0, "m"),
              (300000.0, 400000.0, "l"), (400000.0, 1e9, "xl")),
          lit("other")))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))),

    "e11_dict_decode" -> ((s, d) =>
      t(s, d, "nation").select(
        col("n_nationkey"),
        Recodes.dictDecode(col("n_nationkey"),
          Map(0 -> "ZERO", 1 -> "ONE", 2 -> "TWO", 5 -> "FIVE")).as("decoded"))),

    // E12: age-in-years with negative clamp (MIMIC DOB-shift analog):
    // deliberately reversed difference produces negatives -> clamp to 90
    "e12_age_clamp" -> ((s, d) =>
      t(s, d, "lineitem").join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("years_raw", floor(datediff(col("o_orderdate"), col("l_shipdate")) / 365.0))
        .withColumn("years", when(col("years_raw") < 0, 90L).otherwise(col("years_raw")))
        .groupBy("years").agg(count(lit(1)).as("cnt"))),

    // P11: any-null row drop after an outer join
    "p11_dropna" -> ((s, d) => {
      val firstShip = t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(min("l_shipdate").as("first_ship"))
      t(s, d, "orders")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"), "left")
        .select("o_orderkey", "first_ship")
        .na.drop()
        .agg(count(lit(1)).as("cnt_after_dropna"))
    }),

    "e14_contains_frac" -> ((s, d) =>
      t(s, d, "documents").agg(
        avg(when(col("text").contains("spark"), 1.0).otherwise(0.0)).as("frac_spark"),
        count(lit(1)).as("n"))),

    "hist_totalprice" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("bucket", Recodes.histBucket(col("o_totalprice"), 50000.0))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))),

    // 2-D histogram (price × quantity grid) — the joint-distribution
    // profile, one hash aggregation
    "a13_hist2d" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(
          Recodes.histBucket(col("l_extendedprice"), 20000.0).as("price_bucket"),
          Recodes.histBucket(col("l_quantity"), 10.0).as("qty_bucket"))
        .agg(count(lit(1)).as("cnt"))),

    // exact grouped quantiles (linear interpolation — the ANSI
    // percentile_cont definition both engines implement); rounded so the
    // interpolation arithmetic is bit-stable across engines; scalar
    // columns (the compare hashes values — arrays stay out of oracled
    // output by convention, see a3)
    "a10_quantiles" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25D)"), 6).as("qty_p25"),
          round(expr("percentile(l_quantity, 0.5D)"), 6).as("qty_p50"),
          round(expr("percentile(l_quantity, 0.75D)"), 6).as("qty_p75"),
          round(expr("percentile(l_extendedprice, 0.5D)"), 6).as("price_p50"),
          round(expr("percentile(l_extendedprice, 0.9D)"), 6).as("price_p90"))),

    // the sketch twin: approx_percentile (Greenwald-Khanna) — the 100 TB
    // path (exact percentile sorts every group; the sketch is one pass,
    // mergeable, bounded memory). The estimate itself is engine-private,
    // so the row is made EXACTLY oracle-able by error accounting instead:
    // GK at accuracy k guarantees the returned element's rank band
    // [count(<v)+1, count(≤v)] intersects [qn−εn, qn+εn] with ε=1/k — the
    // audit recomputes both rank bounds from the data and hashes the
    // boolean alongside the exact per-group count, so a sketch that ever
    // drifts outside its guarantee hash-mismatches. `a10_quantiles` is
    // the exact-value twin on the same data.
    "a10_approx_quantiles" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
      val ap = li.groupBy("l_returnflag").agg(
        expr("approx_percentile(l_quantity, 0.5D, 10000)").as("q50a"),
        expr("approx_percentile(l_extendedprice, 0.9D, 10000)").as("p90a"))
      val eps = 1.0 / 10000.0
      def inBounds(lt: Column, le: Column, p: Double): Column =
        le >= floor(col("n") * (p - eps)) && lt < ceil(col("n") * (p + eps))
      li.join(broadcast(ap), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("q50a"), 1L).otherwise(0L)).as("ltq"),
          sum(when(col("l_quantity") <= col("q50a"), 1L).otherwise(0L)).as("leq"),
          sum(when(col("l_extendedprice") < col("p90a"), 1L).otherwise(0L)).as("ltp"),
          sum(when(col("l_extendedprice") <= col("p90a"), 1L).otherwise(0L)).as("lep"))
        .select(col("l_returnflag"), col("n"),
          inBounds(col("ltq"), col("leq"), 0.5).as("q50_in_bounds"),
          inBounds(col("ltp"), col("lep"), 0.9).as("p90_in_bounds"))
    }),
      // Spark's documented accuracy contract (ApproximatePercentile):
      // floor((p−err)·N) ≤ rank(x) ≤ ceil((p+err)·N) with err = 1/accuracy.
      // rank(x) spans [count(<x)+1, count(≤x)], so the audit is
      //   count(≤x) ≥ floor((p−err)·N)   and   count(<x) < ceil((p+err)·N)
      // — floor/ceil matter: the real-valued bound is up to one rank
      // stricter and a CONFORMING sketch could flip the boolean

    // exact mode per group with a deterministic tiebreak (highest count,
    // then smallest value) — the mode-imputation primitive: one map-side-
    // combined hash-agg to the |group × value| counts table, then the
    // row_number runs over THAT table, never the data
    "a14_mode_per_group" -> ((s, d) => {
      val counts = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      counts.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("o_custkey"), col("o_orderpriority").as("mode_priority"),
          col("cnt"))
    }),
    "j2_join_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("revenue"))),

    "j4_outer_join" -> ((s, d) => {
      val ocnt = t(s, d, "orders").groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      t(s, d, "customer")
        .join(ocnt, col("c_custkey") === col("o_custkey"), "outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name").as("name"),
          coalesce(col("cnt"), lit(0L)).as("order_cnt"))
    }),

    "j5_left_join" -> ((s, d) => {
      val firstShip = t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(min("l_shipdate").as("first_ship"))
      t(s, d, "orders")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), col("first_ship"))
    }),

    "j7_anti_join" -> ((s, d) => {
      val building = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      t(s, d, "orders")
        .join(broadcast(building), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_custkey")
    }),

    // J3 analog: multi-hop dimension chain, all dims broadcast
    "j3_threeway" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("revenue"))),

    "j8_semi_join" -> ((s, d) => {
      val bigOrders = t(s, d, "orders").filter(col("o_totalprice") > 400000)
      t(s, d, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    "q1_agg" -> ((s, d) => {
      val one  = lit(1).cast("decimal(3,2)")
      val ext  = col("l_extendedprice").cast("decimal(10,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      val tax  = col("l_tax").cast("decimal(4,2)")
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(ext * (one - disc)).cast("double").as("sum_disc_price"),
          sum(ext * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    "a1_value_counts" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_orderpriority").as("value"))
        .agg(count(lit(1)).as("cnt"))),

    "a2_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("d_part"),
        countDistinct(col("l_suppkey")).as("d_supp"),
        count(lit(1)).as("n"))),

    "a3_collect_sorted" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey")
        .agg(array_join(array_sort(collect_list("o_orderstatus")), ",").as("statuses"))),

    "a4_pivot_status" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey")
        .pivot("o_orderstatus", Seq("F", "O", "P")).agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))
        .withColumnRenamed("F", "status_f")
        .withColumnRenamed("O", "status_o")
        .withColumnRenamed("P", "status_p")),

    "a5_group_minmax" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey").agg(
        min("o_orderdate").as("first_order"),
        max("o_orderdate").as("last_order"),
        count(lit(1)).as("n_orders"))),

    "a6_dup_check" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)),

    "a7_threshold_metrics" -> ((s, d) => {
      val labeled = t(s, d, "orders").select(
        when(col("o_totalprice") > 300000, 1).otherwise(0).as("label"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).as("pred"))
      labeled.agg(
        sum(when(col("pred") === 1 && col("label") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("label") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("label") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("pred") === 0 && col("label") === 1, 1L).otherwise(0L)).as("fn"))
        .withColumn("accuracy", (col("tp") + col("tn")).cast("double") / (col("tp") + col("fp") + col("tn") + col("fn")))
        .withColumn("recall", col("tp").cast("double") / (col("tp") + col("fn")))
        .withColumn("precision_", col("tp").cast("double") / (col("tp") + col("fp")))
        .withColumn("specificity", col("tn").cast("double") / (col("tn") + col("fp")))
    }),
    "w1_lead_next" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lead(col("o_orderdate"), 1).over(w).as("next_order_ts"))
    }),

    // W2 standalone: null-out + forward-backfill within partition
    "w2_backfill" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      t(s, d, "orders")
        .withColumn("nxt", lead(col("o_orderdate"), 1).over(w))
        .withColumn("nxt_ty", lead(col("o_orderpriority"), 1).over(w))
        .withColumn("nxt", when(col("nxt_ty") === "5-LOW", lit(null)).otherwise(col("nxt")))
        .withColumn("next_nonlow_ts", first(col("nxt"), ignoreNulls = true).over(wFwd))
        .select("o_orderkey", "next_nonlow_ts")
    }),

    "w3_last_per_group" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey").orderBy(desc("l_linenumber"), desc("l_partkey"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    }),
      // (l_orderkey, l_linenumber) is NOT unique in the test data — the
      // order-by must fully determine the projected columns or the "last"
      // pick is nondeterministic (SURVEY §7.5.4: never rely on row order).

    "w4_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_totalprice")),

    // W3/W4 at scale: custom TopKPerKey physical operator (bounded heaps +
    // map-side partial, one exchange) — verified against the window-SQL oracle
    "w5_topk_per_key" -> ((s, d) =>
      graft.plans.TopKPerKey(
        t(s, d, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")),

    "cohort_label" -> ((s, d) =>
      cohort(s, d).select("o_orderkey", "next_time", "days_next", "label")),

    "cohort_counts" -> ((s, d) =>
      cohort(s, d).groupBy("label").agg(count(lit(1)).as("cnt"))),

    // A3+A4 literal composition (reference :156-164): group-collect →
    // explode → pivot-count matrix
    "a4_explode_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(collect_list("l_returnflag").as("cats"))
        .select(col("l_orderkey"), explode(col("cats")).as("cat"))
        .groupBy("l_orderkey").pivot("cat", Seq("A", "N", "R")).agg(count(lit(1)))
        .na.fill(0, Seq("A", "N", "R"))
        .withColumnRenamed("A", "cat_a")
        .withColumnRenamed("N", "cat_n")
        .withColumnRenamed("R", "cat_r")),

    // skew-safe salted aggregation — exact same result as plain GROUP BY.
    // Salt width pinned at 16 (the local[32] size) so this row's plan and
    // timing anchor are stable; production callers omit the arg and get
    // autoSaltBuckets(P) — plan-asserted at P=1000 in ScaleSpec
    "skew_salted_agg" -> ((s, d) =>
      graft.ops.SkewOps.saltedAgg(
        t(s, d, "lineitem"), "l_returnflag", col("l_quantity").cast("decimal(18,2)"),
        saltBuckets = 16)
        .select(
          col("l_returnflag"), col("cnt"),
          col("sum_v").cast("double").as("sum_qty"),
          col("min_v").cast("double").as("min_qty"),
          col("max_v").cast("double").as("max_qty"))),

    // salted JOIN for skewed keys: fact side salted, dim side replicated
    // per salt — same answer as the plain join (the oracle), hot-key load
    // spread over 16 reducers. SkewOpsSpec pins plain-join equality with
    // broadcast disabled (the case where salting actually matters).
    "j9_salted_join" -> ((s, d) =>
      graft.ops.SkewOps.saltedJoin(
        t(s, d, "lineitem").select("l_suppkey", "l_extendedprice"),
        t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
        "l_suppkey", "s_suppkey", saltBuckets = 16)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("revenue"))),

    // bloom semi-join reduction (manual SPARK-32268): a distributed bloom
    // sketch of the urgent orders' keys pre-filters lineitem AT THE SCAN
    // (codegen'd might_contain, zero extra shuffles); the exact semi-join
    // after clears false positives, so the answer EXACTLY equals the plain
    // EXISTS — which is the oracle. At scale the join exchange moves
    // |matching|+ε rows instead of |lineitem|.
    "j12_bloom_semi" -> ((s, d) =>
      graft.ops.BloomJoin.semiJoin(
        t(s, d, "lineitem").select("l_orderkey", "l_returnflag", "l_extendedprice"),
        "l_orderkey",
        t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        "o_orderkey",
        expectedItems = 100000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("revenue"))),

    // the composite C4/Gopher-style document filter — the keep/drop
    // decision an LLM-data pipeline actually ships: exact-dup removal
    // (fingerprint keep-first), length floor, quality floors, repetition
    // cap, applied in priority order with the drop REASON kept (reason
    // counts are the pipeline's observability surface). One window
    // shuffle (fingerprint groups); every signal is a codegen'd
    // expression on the scan.
    "d_filter_pipeline" -> ((s, d) => {
      val sig = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          TextOps.fingerprintMd5(col("text")).as("fp"),
          TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("fp"),
          size(col("toks")).as("n_toks"),
          TextOps.alphaRatio(col("text")).as("alpha"),
          when(size(col("toks")) === 0, lit(0.0)).otherwise(
            size(filter(col("toks"), t => t.isin(TextOps.stopwords.map(w => w: Any): _*)))
              .cast("double") / size(col("toks"))).as("stopr"),
          when(size(col("toks")) < 3, lit(0.0)).otherwise(
            lit(1.0) - size(TextOps.shinglesFromTokens(col("toks"), 3))
              .cast("double") / (size(col("toks")) - 2)).as("dup_frac"))
      sig
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
        .withColumn("reason",
          when(col("doc_id") =!= col("keeper"), "exact_dup")
            .when(col("n_toks") < 10, "too_short")
            .when(col("alpha") < 0.5 || col("stopr") < 0.02, "low_quality")
            .when(col("dup_frac") > 0.2, "repetitive")
            .otherwise("keep"))
        .groupBy("reason").agg(count(lit(1)).as("cnt"))
    }),

    // AS-OF join (backward): each event picks up the latest order of the
    // same customer at or before the event — the union-tag single-window
    // operator (ops/AsOfJoin), one shuffle of |L|+|R| rows, no range
    // probe. DuckDB's native ASOF LEFT JOIN is the oracle: two
    // independent asof implementations must agree row-for-row.
    "j10_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts2"))
      val ord = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("last_orderkey"))
      graft.ops.AsOfJoin.backward(
        ev, "user_id", "ts2", ord, "o_custkey", "o_orderdate",
        Seq("last_orderkey"))
        .select("event_id", "last_orderkey")
    }),
      // asof contract: right unique per (key, time) — keep max orderkey

    // forward as-of: each event picks the customer's FIRST order at or
    // after the event instant (time-to-next-action features) — same
    // union-tag + one-window shape as j10, frame reversed
    "j14_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts2"))
      val ord = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("next_orderkey"))
      graft.ops.AsOfJoin.forward(
        ev, "user_id", "ts2", ord, "o_custkey", "o_orderdate",
        Seq("next_orderkey"))
        .select("event_id", "next_orderkey")
    }),

    // NEAREST-event join (sensor/log alignment): closest purchase to each
    // click in either direction — one backward + one forward as-of pass
    // (both the linear union-window shape), per-row pick of the closer
    // side, ties pinned to the backward match
    "j15_nearest_event" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("psec"),
          round(col("value"), 2).cast("decimal(18,2)").as("pval"))
        .groupBy("user_id", "psec").agg(max("pval").as("pval"))
      graft.ops.AsOfJoin.nearest(
        clicks, "user_id", "sec", purch, "user_id", "psec", Seq("pval"))
        .withColumn("pval", col("pval").cast("double"))
    }),
      // exact decimal max inside; DOUBLE on the output boundary — decimal
      // outputs render differently across the driver's two read paths
      // (pyarrow Decimal vs DuckDB float), so portable outputs are
      // BIGINT/DOUBLE/VARCHAR only

    // non-equi RANGE join: rows matched to interval buckets via
    // lo <= v < hi. With a broadcast-sized dim, BroadcastNestedLoopJoin
    // is the RIGHT plan (each probe row scans k intervals in memory —
    // no shuffle at all); a shuffling SMJ would gain nothing. Large
    // interval sets would instead bin both sides (equi-join on bin,
    // residual range filter) — see histBucket for the degenerate
    // fixed-width case.
    "j11_range_join" -> ((s, d) => {
      val bounds = Seq(
        (0, 0.0, 50000.0), (1, 50000.0, 150000.0), (2, 150000.0, 300000.0),
        (3, 300000.0, 600000.0)
      )
      val dim = s.createDataFrame(bounds).toDF("bucket_id", "lo", "hi")
      t(s, d, "orders")
        .join(broadcast(dim),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),

    // SQL front-end: the same engine through spark.sql (TPC-H Q3 shape)
    "sql_q3_shipping" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(Shared.q3Sql)
    }),

    // Q5-shaped 6-table star join through the SQL front-end: Catalyst
    // must reorder and broadcast the dimension chain; the fact side
    // never re-shuffles through nation/region
    "sql_q5_local" -> ((s, d) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q5Sql)
    }),

    // Q7/Q8-shaped multi-dim star joins through the SQL front-end: the
    // symmetric nation-pair OR predicate (q7) and the 8-table market-share
    // star (q8) — dimension chains broadcast, the fact table shuffles once
    "sql_q7_volume" -> ((s, d) => {
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q7Sql)
    }),
    "sql_q8_share" -> ((s, d) => {
      Seq("part", "lineitem", "supplier", "orders", "customer", "nation", "region")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q8Sql)
    }),

    // Q13-shaped two-level aggregation over a LEFT join whose exclusion
    // predicate lives in the ON clause (zero-order customers survive)
    "sql_q13_custdist" -> ((s, d) => {
      Seq("customer", "orders")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q13Sql)
    }),

    // Q15-shaped revenue-view max: CTE + uncorrelated scalar subquery —
    // the 1-row max broadcasts back over the per-supplier aggregate
    "sql_q15_topsupp" -> ((s, d) => {
      Seq("lineitem", "supplier")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q15Sql)
    }),

    // Q17-shaped correlated scalar aggregate: Catalyst decorrelates the
    // per-part mean into an aggregate joined back on l_partkey
    "sql_q17_smallqty" -> ((s, d) => {
      Seq("lineitem", "part")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q17Sql)
    }),

    // Q22-shaped scalar-threshold + NOT EXISTS recency anti-join
    "sql_q22_idle" -> ((s, d) => {
      Seq("customer", "orders", "nation")
        .foreach(tn => Tables.table(s, d, tn).createOrReplaceTempView(tn))
      s.sql(Shared.q22Sql)
    }),

    // explicit GROUPING SETS + GROUPING() markers — the grouping-lattice
    // surface beyond ROLLUP/CUBE, shared-text on both engines
    "sql_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(Shared.groupingSetsSql)
    }),

    // SQL front-end, SHARED-TEXT tier: the identical SQL string is both the
    // Spark query and the DuckDB oracle — one source of truth, proving the
    // SQL surface speaks the ANSI dialect intersection (multi-dim ROLLUP,
    // correlated EXISTS, SQL windows) rather than a private variant.
    "sql_rollup_agg" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(Shared.rollupSql)
    }),

    "sql_cube_agg" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(Shared.cubeSql)
    }),

    "sql_exists_open" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(Shared.existsSql)
    }),

    // the SQL row_number()=1 pattern — RowNumberTopKRule rewrites this into
    // the bounded-heap TopKPerKey operator (graft.Session installs the rule)
    "sql_window_top" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(Shared.windowTopSql)
    }),

    // per-label embedding centroids — the cluster-centroid aggregation
    // (k-means step, class prototypes for near-dup/classification).
    // Explode → (label, dim) hash-agg: partial averages combine map-side,
    // so the shuffle carries |labels|×dims rows, not |corpus|×dims.
    "sim_centroids" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), (col("pos") + 1).as("idx"))
        .agg(round(avg(col("col").cast("double")), 6).as("centroid"))),

    // rank / dense_rank / ntile — the remaining ranking-window surface
    // (row_number is w3/w5; percent buckets are what a feature pipeline
    // uses for decile binning). Total tiebreak (price, orderkey) keeps
    // every rank deterministic — and makes rank = dense_rank = row_number
    // (no ties in the full ordering), so all three ride ONE per-status
    // GlobalRowNumber group rank instead of a window partitioned by the
    // 3-value o_orderstatus (which would funnel the whole fact table
    // through 3 tasks at any scale). The decile is exact ANSI ntile
    // arithmetic on (rank, group size) — no data-sized window at all.
    "w7_rank_ntile" -> ((s, d) => {
      import graft.ops.GlobalRowNumber
      val (ranked, _) = GlobalRowNumber.withGroupRowNumberAndSize(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "_rnk", "_n", Seq("o_orderstatus"),
        col("o_totalprice").desc, col("o_orderkey").asc)
      ranked.select(
        col("o_orderkey"), col("o_orderstatus"),
        col("_rnk").as("rnk"), col("_rnk").as("drnk"),
        GlobalRowNumber.ntileFromRankCol(col("_rnk"), col("_n"), 10).as("decile"))
    }),
      // the internal range-partition pin stays for the session (the w6
      // contract): it is slim (3 columns) and the cache manager dedups it
      // across invocations by canonical plan, so 3 bench reps pin ONE
      // frame — measured in PinHygieneSpec. (A per-invocation result
      // cache does NOT dedup for this plan shape and leaks one entry per
      // rep — the spec exists because that was shipped once.)

    // percent_rank/cume_dist complete the ranking-window surface (the
    // distributional positions a feature pipeline feeds a model instead
    // of raw magnitudes). Same bounded shape as w7: under the total
    // tiebreak, percent_rank = (rank−1)/(n−1) and cume_dist = rank/n
    // (no ties), so both are arithmetic on the per-status GlobalRowNumber
    // group rank — no 3-task window over the fact table.
    "w8_percent_rank" -> ((s, d) => {
      import graft.ops.GlobalRowNumber
      val (ranked, _) = GlobalRowNumber.withGroupRowNumberAndSize(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "_rnk", "_n", Seq("o_orderstatus"),
        col("o_totalprice").desc, col("o_orderkey").asc)
      ranked.select(
        col("o_orderkey"), col("o_orderstatus"),
        round((col("_rnk") - 1).cast("double") /
          greatest(col("_n") - 1, lit(1L)).cast("double"), 6).as("pr"),
        round(col("_rnk").cast("double") / col("_n").cast("double"), 6).as("cd"))
    }),
      // session-lifetime internal pin, deduped across reps (see w7)

    // EXCEPT / INTERSECT — the set-op surface beyond union (O7's
    // anti-join is the keyed form; these are the whole-row forms)
    "o6_except_intersect" -> ((s, d) => {
      val oc = t(s, d, "orders").select(col("o_custkey").as("ck")).distinct()
      val cc = t(s, d, "customer").select(col("c_custkey").as("ck"))
      oc.intersect(cc).agg(count(lit(1)).as("n_both"))
        .crossJoin(cc.except(oc).agg(count(lit(1)).as("n_cust_no_orders")))
    }),
    "o5_union_agg" -> ((s, d) => {
      val a = t(s, d, "orders").filter(col("o_totalprice") > 400000)
      val b = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      a.unionByName(b).groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
    }),

    // O2 (seeded permutation) the oracle-able way: the permutation IS
    // the portable hash order, so the exact same "random" arrangement
    // reproduces on any engine — the shuffle analog of the hash-sampling
    // twins below. The engine-RNG form (`orderBy(rand(42))`) is the same
    // operator with an engine-private ordering key; its redundant
    // rows-only demo row was retired in r11 (this green twin subsumes
    // it; seeded-RNG determinism stays pinned in SparkEntrySpec)
    "o2_shuffle_hash" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(permilleHash1M(col("o_orderkey"), ":s42"), col("o_orderkey"))
        .limit(100).select("o_orderkey", "o_totalprice")),

    // O3 the oracle-able way: permille buckets on the portable hash give
    // the 80/20 split deterministically on both engines
    "o3_split_hash" -> ((s, d) => {
      val h = permilleHash(col("o_orderkey"), ":t42")
      t(s, d, "orders")
        .select(when(h < 800, "train").otherwise("test").as("part"))
        .groupBy("part").agg(count(lit(1)).as("cnt"))
    }),

    // A2 scale path: approximate distinct (HLL++ sketch). The estimate is
    // engine-private, so the row hashes the EXACT count plus an
    // error-accounted audit flag instead: the default rsd is 0.05, so the
    // relative error must sit inside 3σ = 15% (deterministic for a fixed
    // dataset — the HLL hash is seedless); an estimator drifting outside
    // its guarantee hash-mismatches against the oracle's literal TRUE.
    "a2_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        approx_count_distinct(col("l_partkey")).as("approx_d"),
        countDistinct(col("l_partkey")).as("exact_d_part"))
        .select(col("exact_d_part"),
          (abs(col("approx_d") - col("exact_d_part")).cast("double") /
            col("exact_d_part") <= 0.15).as("within_3sigma"))),

    // full §3.1+§3.2+§3.3 composition (rows-only: LR internals)
    "pipeline_e2e" -> ((s, d) =>
      graft.pipeline.ReadmissionPipeline.run(s, d)),

    // the RELATIONAL prefix of pipeline_e2e as ONE exactly-oracled query —
    // the reference's py:180-248 join chain: cohort labels ⋈ diagnosis
    // pivot (inner, py:180) ⋈ patients dim (py:192) ⋈ first-admission min
    // (py:199-212, the age anchor) ⋈ last-discharge-note per subject
    // (groupby nth(-1) + left merge, py:241-248; documents keyed to
    // customers by modulus, category filter = lang). Each stage is green
    // individually (cohort_label / a4_pivot / w3-last / e12); this row
    // pins their COMPOSITION. Missing notes coalesce to -1, not NULL —
    // nullable ints render engine-dependently (SURVEY §5 portability).
    "pipeline_relational" -> ((s, d) => {
      val labeled = cohort(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("label"))
      val cats = graft.pipeline.ReadmissionPipeline.categoryMatrix(s, d)
      val pats = t(s, d, "customer").select("c_custkey", "c_mktsegment")
      val firstOrd = t(s, d, "orders").groupBy("o_custkey")
        .agg(min(col("o_orderdate")).as("first_order"))
      val nCust = t(s, d, "customer").count() // 1-value readout (scalar subquery in the oracle)
      val wNote = Window.partitionBy("subj").orderBy(col("doc_id").desc)
      val lastNote = t(s, d, "documents")
        .filter(col("lang") === "en")
        .withColumn("subj", pmod(col("doc_id"), lit(nCust)))
        .withColumn("rn", row_number().over(wNote))
        .filter(col("rn") === 1)
        .select(col("subj"), col("doc_id").as("note_id"), col("n_chars").as("note_chars"))
      labeled
        .join(cats, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(pats), col("o_custkey") === col("c_custkey"))
        .join(firstOrd.withColumnRenamed("o_custkey", "_fck"),
          col("o_custkey") === col("_fck"))
        .join(lastNote, col("o_custkey") === col("subj"), "left")
        .select(
          col("o_orderkey"), col("label"),
          col("cat_a").cast("long").as("cat_a"),
          col("cat_n").cast("long").as("cat_n"),
          col("cat_r").cast("long").as("cat_r"),
          col("c_mktsegment").as("segment"),
          datediff(col("o_orderdate"), col("first_order")).cast("long").as("tenure_days"),
          coalesce(col("note_id"), lit(-1L)).cast("long").as("note_id"),
          coalesce(col("note_chars"), lit(-1L)).cast("long").as("note_chars"))
    }),

    // the composed LLM-curation funnel as ONE exactly-oracled query:
    // lang gate → quality cascade → exact dedup → MinHash-LSH near-dup →
    // benchmark decontamination, each stage defined over the SURVIVORS of
    // the previous (a near-dup of an already-dropped doc is NOT charged
    // to near_dup — the staged composition a per-stage union of
    // independent filters gets wrong). Every gate is green individually
    // (t_lang_id / t_quality_cascade / d_exact_groups / d_stream_neardup
    // / d_contamination); this row pins their composition, the
    // curation analog of pipeline_relational. Output = (doc_id, stage).
    "pipeline_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.Curation.funnel(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text",
        minTokens = 15, maxTokens = 100000,
        minMeanLen = 3.2, maxMeanLen = 4.65, minTtr = 0.32)
    }),

    // RAG indexing composition: the curated keep-set becomes the
    // retrieval index (embeddings of survivors ONLY — dup/contaminated/
    // low-quality docs never enter the index), held-out probe docs are
    // the queries, exact cosine top-5 per query with neighbor metadata.
    // Queries broadcast; the index side is never shuffled.
    "pipeline_rag" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val kept = curatedStagesCached(s, d)
        .filter(col("stage") === "kept").select("doc_id")
      val index = emb.join(kept, emb("vec_id") === kept("doc_id"))
        .select(emb("vec_id"), emb("embedding"))
      val queries = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
      Similarity.bruteForceTopK(index, queries, "vec_id", "embedding", k = 5)
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
          col("neighbor_id") === col("doc_id"))
        .select(col("query_id"), col("neighbor_id"), col("cosine"),
          col("rank"), col("lang"), col("n_chars"))
    }),

    // curated keep-set → token counts → greedy 512-token sequence packing
    // (the pretraining shard layout over the funnel's SURVIVORS): the
    // end-to-end "crawl in, packed windows out" composition. Packing
    // rides the SequencePacking distributed two-pass cumsum — no
    // single-task window over the corpus. Session-memoized (the typed
    // MinHash kernel in the funnel lineage defeats canonical-plan cache
    // dedup — see pretrainPackedCached)
    "pipeline_pretrain" -> ((s, d) => Shared.pretrainPackedCached(s, d)),

    // O3/O4/O8 engine-RNG forms (`randomSplit(…, 42)`, seeded
    // `df.sample`): their redundant rows-only demo rows were retired in
    // r11 — each was shadowed 1:1 by the green `_hash` twin below (the
    // same sampling operator with a portable hash in place of the
    // engine-private RNG stream), and the MIMIC tier pins the REAL
    // operators' exact counts (`mimic_split_counts`,
    // `mimic_resample_counts`). randomSplit/sample determinism stays
    // spec-pinned in SparkEntrySpec.

    // O4/O8 the ORACLE-ABLE way: `df.sample` rides an engine-private RNG
    // stream, but a deterministic permille on a portable 60-bit md5 hash
    // is the same sampling operator with a cross-engine-replayable
    // decision per row — so the seeded-sampling tier gets exact green
    // rows, not rows-only trust. The class ratio is computed IN the plan
    // (1-row agg, broadcast) — the identical arithmetic runs in the
    // oracle, so both engines derive the same keep-threshold.
    "o4_undersample_hash" -> ((s, d) => {
      val labeled = cohort(s, d)
      val cts = labeled.agg(
        sum(when(col("label") === "1", 1L).otherwise(0L)).as("npos"),
        sum(when(col("label") === "0", 1L).otherwise(0L)).as("nneg"))
      labeled.crossJoin(cts)
        .filter(col("label") === "1" ||
          permilleHash(col("o_orderkey"), ":u42") <
            floor(lit(1000.0) * col("npos") / col("nneg")).cast("long"))
        .groupBy("label").agg(count(lit(1)).as("cnt"))
    }),

    // hash-deterministic oversample: every minority row gets
    // floor(nNeg/nPos) copies, plus one extra for the hash-selected
    // permille remainder — replication by explode(sequence), no RNG
    "o8_oversample_hash" -> ((s, d) => {
      val labeled = cohort(s, d)
      val cts = labeled.agg(
        sum(when(col("label") === "1", 1L).otherwise(0L)).as("npos"),
        sum(when(col("label") === "0", 1L).otherwise(0L)).as("nneg"))
      val withP = labeled.crossJoin(cts)
        .withColumn("_mult", floor(col("nneg") / col("npos")).cast("long"))
        .withColumn("_extra_p",
          floor(lit(1000.0) * (col("nneg") - col("_mult") * col("npos")) / col("npos")).cast("long"))
        .withColumn("_copies",
          when(col("label") === "0", lit(1L)).otherwise(
            col("_mult") +
              when(permilleHash(col("o_orderkey"), ":o42") < col("_extra_p"), 1L).otherwise(0L)))
      withP
        .select(col("label"),
          explode(when(col("_copies") >= 1L, sequence(lit(1L), col("_copies")))
            .otherwise(array().cast("array<bigint>"))).as("_i"))
        .groupBy("label").agg(count(lit(1)).as("cnt"))
    }),
      // sequence(1, 0) counts DOWN in Spark — guard the zero-copy case to
      // an explicit empty array so those rows drop instead of duplicating

    // stratified hash-sample: a per-stratum keep-rate applied through the
    // engine-portable md5-permille — the "balance sources/classes while
    // downsampling" primitive of a training-data pipeline, deterministic
    // (resumable, re-runnable) unlike df.sampleBy's RNG stream
    "o10_stratified_hash" -> ((s, d) => {
      val rates = typedlit(Map("F" -> 1000L, "O" -> 200L, "P" -> 500L))
      t(s, d, "orders")
        .filter(permilleHash(col("o_orderkey"), ":st42") <
          coalesce(try_element_at(rates, col("o_orderstatus")), lit(0L)))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),

    // distributed global row-number: range-partition + per-partition
    // window + count offsets (ops/GlobalRowNumber) — dense stable example
    // ids without the single-task Window.orderBy funnel; byte-equal to
    // the naive ROW_NUMBER the oracle runs
    "w6_global_rownum" -> ((s, d) =>
      graft.ops.GlobalRowNumber.withRowNumber(
        t(s, d, "orders").select("o_orderkey", "o_orderdate"),
        "rn", col("o_orderdate"), col("o_orderkey"))
        .select(col("o_orderkey"), col("rn"))),
  )

  val oracles: Seq[(String, String)] = Seq(
    "e2_null_counts" ->
      """SELECT count(*) AS total_rows,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderkey,
        |  CAST(SUM(CASE WHEN f.first_ship IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_first_ship
        |FROM orders LEFT JOIN
        |  (SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY 1) f
        |  ON o_orderkey = f.l_orderkey""".stripMargin,

    "p9_numeric_proj" ->
      "SELECT c_custkey, c_nationkey, c_acctbal FROM customer",

    "sql_q3_shipping" -> q3Sql,
    "sql_q5_local" -> q5Sql,
    "sql_q7_volume" -> q7Sql,
    "sql_q8_share" -> q8Sql,
    "sql_q13_custdist" -> q13Sql,
    "sql_q15_topsupp" -> q15Sql,
    "sql_q17_smallqty" -> q17Sql,
    "sql_q22_idle" -> q22Sql,
    "sql_rollup_agg" -> rollupSql,
    "sql_cube_agg" -> cubeSql,
    "sql_grouping_sets" -> groupingSetsSql,

    "w8_percent_rank" ->
      """SELECT o_orderkey, o_orderstatus,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)""".stripMargin,

    "sim_centroids" ->
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |x AS (SELECT label, unnest(list_transform(range(1, len(e)+1),
        |        i -> struct_pack(i := i, x := e[i]))) AS s FROM v)
        |SELECT label, CAST(s.i AS INTEGER) AS idx, round(avg(s.x), 6) AS centroid
        |FROM x GROUP BY 1, 2""".stripMargin,

    // rank()/dense_rank()/ntile() are ANSI-identical; the DESC key is
    // non-null so the engines' opposite DESC null placement can't bite,
    // but the explicit NULLS LAST pins it anyway
    "w7_rank_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  ntile(10) OVER w AS decile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)""".stripMargin,

    "o6_except_intersect" ->
      """SELECT
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer))
        |    AS n_both,
        |  (SELECT count(*) FROM
        |    (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders))
        |    AS n_cust_no_orders""".stripMargin,
    "sql_exists_open" -> existsSql,
    "sql_window_top" -> windowTopSql,

    "a4_explode_pivot" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cat_a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cat_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cat_r
        |FROM lineitem GROUP BY 1""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the salted join must produce EXACTLY the plain join's answer —
    // that equality is the operator's whole contract
    "j9_salted_join" ->
      """SELECT s_nationkey, count(*) AS cnt,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1""".stripMargin,

    // the bloom pre-filter must be invisible in the answer — plain EXISTS
    "j12_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    "d_filter_pipeline" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
         |  FROM documents
         |), sig AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) = 0 THEN md5(lower(text))
         |         ELSE md5(array_to_string(t, ' ')) END AS fp,
         |    len(t) AS n_toks,
         |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |      CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
         |    END AS alpha,
         |    CASE WHEN len(t) = 0 THEN 0.0 ELSE
         |      CAST(len(list_filter(t, x -> list_contains([${TextOps.stopwords.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) / len(t)
         |    END AS stopr,
         |    CASE WHEN len(t) < 3 THEN 0.0 ELSE
         |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
         |              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE) / (len(t) - 2)
         |    END AS dup_frac
         |  FROM toks
         |), keyed AS (
         |  SELECT doc_id, n_toks, alpha, stopr, dup_frac,
         |         min(doc_id) OVER (PARTITION BY fp) AS keeper
         |  FROM sig
         |)
         |SELECT CASE WHEN doc_id <> keeper THEN 'exact_dup'
         |            WHEN n_toks < 10 THEN 'too_short'
         |            WHEN alpha < 0.5 OR stopr < 0.02 THEN 'low_quality'
         |            WHEN dup_frac > 0.2 THEN 'repetitive'
         |            ELSE 'keep' END AS reason,
         |       count(*) AS cnt
         |FROM keyed GROUP BY 1""".stripMargin,

    // DuckDB's native ASOF implementation vs the union-window operator —
    // equal output is the cross-engine correctness claim
    "j10_asof_join" ->
      """SELECT e.event_id, o.last_orderkey
        |FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts2 FROM events) e
        |ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1, 2
        |) o ON e.user_id = o.o_custkey AND e.ts2 >= o.o_orderdate""".stripMargin,

    "j11_range_join" ->
      """WITH dim(bucket_id, lo, hi) AS (VALUES
        |  (0, 0.0, 50000.0), (1, 50000.0, 150000.0),
        |  (2, 150000.0, 300000.0), (3, 300000.0, 600000.0))
        |SELECT bucket_id, count(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN dim ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1""".stripMargin,

    "p_proj_filter" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal > 0",

    "p5_ne_agg" ->
      "SELECT l_linestatus, count(*) AS cnt FROM lineitem WHERE l_returnflag <> 'A' GROUP BY l_linestatus",

    "p8_regex_filter" ->
      "SELECT p_partkey, p_name FROM part WHERE regexp_matches(p_name, '^(red|blue) ')",

    "p13_topk_recode" ->
      """WITH top3 AS (
        |  SELECT c_mktsegment FROM customer GROUP BY 1
        |  ORDER BY count(*) DESC, c_mktsegment ASC LIMIT 3
        |)
        |SELECT CASE WHEN c_mktsegment IN (SELECT c_mktsegment FROM top3)
        |            THEN c_mktsegment ELSE 'OTHER/UNKNOWN' END AS seg,
        |       count(*) AS cnt
        |FROM customer GROUP BY 1""".stripMargin,

    "e1_ts_reparse" ->
      "SELECT o_orderkey, CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS reparsed FROM orders",

    "e3_ship_lag" ->
      """SELECT l_orderkey, l_linenumber,
        |       (epoch(l_shipdate) - epoch(o_orderdate)) / 86400.0 AS ship_lag_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "e5_regex_recode" ->
      """SELECT CASE WHEN regexp_matches(p_name, '^red ') THEN 'RED'
        |            WHEN regexp_matches(p_name, '^blue ') THEN 'BLUE'
        |            WHEN regexp_matches(p_name, '^green ') THEN 'GREEN'
        |            ELSE 'OTHER' END AS color_std, count(*) AS cnt
        |FROM part GROUP BY 1""".stripMargin,

    "e8_substr_cast" ->
      "SELECT CAST(substr(p_brand, 7, 2) AS INTEGER) AS brand_num, count(*) AS cnt FROM part GROUP BY 1",

    "e10_bucket_chain" ->
      """SELECT CASE WHEN o_totalprice BETWEEN 0 AND 100000 THEN 'xs'
        |            WHEN o_totalprice BETWEEN 100000 AND 200000 THEN 's'
        |            WHEN o_totalprice BETWEEN 200000 AND 300000 THEN 'm'
        |            WHEN o_totalprice BETWEEN 300000 AND 400000 THEN 'l'
        |            WHEN o_totalprice BETWEEN 400000 AND 1000000000 THEN 'xl'
        |            ELSE 'other' END AS bucket, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,

    "e11_dict_decode" ->
      """SELECT n_nationkey,
        |       CASE WHEN n_nationkey = 0 THEN 'ZERO' WHEN n_nationkey = 1 THEN 'ONE'
        |            WHEN n_nationkey = 2 THEN 'TWO' WHEN n_nationkey = 5 THEN 'FIVE'
        |            ELSE CAST(n_nationkey AS VARCHAR) END AS decoded
        |FROM nation""".stripMargin,

    "e12_age_clamp" ->
      """WITH x AS (
        |  SELECT CAST(FLOOR(date_diff('day', l_shipdate, o_orderdate) / 365.0) AS BIGINT) AS years_raw
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |)
        |SELECT CASE WHEN years_raw < 0 THEN 90 ELSE years_raw END AS years, count(*) AS cnt
        |FROM x GROUP BY 1""".stripMargin,

    "p11_dropna" ->
      """SELECT count(*) AS cnt_after_dropna
        |FROM orders LEFT JOIN
        |  (SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY 1) f
        |  ON o_orderkey = f.l_orderkey
        |WHERE o_orderkey IS NOT NULL AND f.first_ship IS NOT NULL""".stripMargin,

    "e14_contains_frac" ->
      """SELECT avg(CASE WHEN text LIKE '%spark%' THEN 1.0 ELSE 0.0 END) AS frac_spark,
        |       count(*) AS n FROM documents""".stripMargin,

    "hist_totalprice" ->
      "SELECT CAST(FLOOR(o_totalprice / 50000) * 50000 AS DOUBLE) AS bucket, count(*) AS cnt FROM orders GROUP BY 1",

    "j2_join_agg" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin,

    "j4_outer_join" ->
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, c.c_name AS name,
        |       COALESCE(o.cnt, 0) AS order_cnt
        |FROM customer c FULL OUTER JOIN
        |  (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "j5_left_join" ->
      """SELECT o_orderkey, f.first_ship
        |FROM orders LEFT JOIN
        |  (SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY 1) f
        |  ON o_orderkey = f.l_orderkey""".stripMargin,

    "j7_anti_join" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')""".stripMargin,

    "j3_threeway" ->
      """SELECT r_name, count(*) AS cnt,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,

    "w2_backfill" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |         LEAD(o_orderdate) OVER w AS nxt,
        |         LEAD(o_orderpriority) OVER w AS nxt_ty
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey)
        |), nulled AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |         CASE WHEN nxt_ty = '5-LOW' THEN NULL ELSE nxt END AS nxt2
        |  FROM base
        |)
        |SELECT o_orderkey,
        |       first_value(nxt2 IGNORE NULLS) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
        |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_nonlow_ts
        |FROM nulled""".stripMargin,

    "e6_isin_recode" ->
      """SELECT CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW') THEN 'OTHER/UNKNOWN'
        |            ELSE o_orderpriority END AS prio_grp, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,

    "j8_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_value_counts" ->
      "SELECT o_orderpriority AS value, count(*) AS cnt FROM orders GROUP BY 1",

    "a2_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS d_part, count(DISTINCT l_suppkey) AS d_supp,
        |       count(*) AS n FROM lineitem""".stripMargin,

    // error-accounted sketch audit (HLL++ rsd 0.05 → 3σ = 15% relative)
    "a2_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_d_part,
        |       TRUE AS within_3sigma FROM lineitem""".stripMargin,

    "a3_collect_sorted" ->
      """SELECT o_custkey, string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |FROM orders GROUP BY 1""".stripMargin,

    "a4_pivot_status" ->
      """SELECT o_custkey,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
        |FROM orders GROUP BY 1""".stripMargin,

    "a5_group_minmax" ->
      """SELECT o_custkey, min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
        |       count(*) AS n_orders FROM orders GROUP BY 1""".stripMargin,

    "a6_dup_check" ->
      "SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1 HAVING count(*) > 1",

    "a7_threshold_metrics" ->
      """WITH x AS (
        |  SELECT CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END AS label,
        |         CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS pred
        |  FROM orders
        |), c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM x
        |)
        |SELECT tp, fp, tn, fn,
        |  CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) AS accuracy,
        |  CAST(tp AS DOUBLE) / (tp + fn) AS recall,
        |  CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
        |  CAST(tn AS DOUBLE) / (tn + fp) AS specificity
        |FROM c""".stripMargin,

    "w1_lead_next" ->
      """SELECT o_orderkey, o_custkey,
        |       LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS next_order_ts
        |FROM orders""".stripMargin,

    "w3_last_per_group" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC NULLS LAST, l_partkey DESC NULLS LAST) AS rn
        |  FROM lineitem
        |) WHERE rn = 1""".stripMargin,

    "w4_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC LIMIT 25",

    "w5_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS rn
        |  FROM orders
        |) WHERE rn <= 3""".stripMargin,

    "cohort_label" -> cohortSqlCore,

    "cohort_counts" ->
      s"SELECT label, count(*) AS cnt FROM (\n$cohortSqlCore\n) GROUP BY 1",

    // py:180-248 chain: reuses cohortSqlCore verbatim; pivot via FILTER
    // counts; last-note = ROW_NUMBER nth(-1); subject key = doc_id mod
    // |customers| (scalar subquery — same count the Spark side reads)
    "pipeline_relational" ->
      s"""WITH coh AS (
         |$cohortSqlCore
         |), lab AS (
         |  SELECT c.o_orderkey, o.o_custkey, o.o_orderdate, c.label
         |  FROM coh c JOIN orders o USING (o_orderkey)
         |), cats AS (
         |  SELECT l_orderkey,
         |         CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS cat_a,
         |         CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS cat_n,
         |         CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS cat_r
         |  FROM lineitem GROUP BY 1
         |), firstord AS (
         |  SELECT o_custkey, min(o_orderdate) AS first_order FROM orders GROUP BY 1
         |), notes AS (
         |  SELECT subj, doc_id AS note_id, n_chars AS note_chars FROM (
         |    SELECT doc_id % (SELECT count(*) FROM customer) AS subj, doc_id, n_chars,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id % (SELECT count(*) FROM customer)
         |             ORDER BY doc_id DESC) AS rn
         |    FROM documents WHERE lang = 'en'
         |  ) WHERE rn = 1
         |)
         |SELECT l.o_orderkey, l.label, c.cat_a, c.cat_n, c.cat_r,
         |       cu.c_mktsegment AS segment,
         |       CAST(date_diff('day', f.first_order, l.o_orderdate) AS BIGINT) AS tenure_days,
         |       CAST(coalesce(n.note_id, -1) AS BIGINT) AS note_id,
         |       CAST(coalesce(n.note_chars, -1) AS BIGINT) AS note_chars
         |FROM lab l
         |JOIN cats c ON l.o_orderkey = c.l_orderkey
         |JOIN customer cu ON l.o_custkey = cu.c_custkey
         |JOIN firstord f ON l.o_custkey = f.o_custkey
         |LEFT JOIN notes n ON l.o_custkey = n.subj""".stripMargin,

    "pipeline_curation" -> graft.text.Curation.funnelOracleSql(
      "documents", "doc_id", "text",
      corpusPredSql = "doc_id % 100 <> 0", probePredSql = "doc_id % 100 = 0",
      minTokens = 15, maxTokens = 100000,
      minMeanLen = 3.2, maxMeanLen = 4.65, minTtr = 0.32),

    "pipeline_rag" -> graft.text.Curation.ragOracleSql(
      "documents", "doc_id", "text", "embeddings", "vec_id", "embedding",
      corpusPredSql = "doc_id % 100 <> 0", probePredSql = "doc_id % 100 = 0",
      queryPredSql = "vec_id % 100 = 0",
      minTokens = 15, maxTokens = 100000,
      minMeanLen = 3.2, maxMeanLen = 4.65, minTtr = 0.32,
      maxQueryId = 2000L, k = 5),

    "pipeline_pretrain" -> graft.text.Curation.pretrainOracleSql(
      "documents", "doc_id", "text",
      corpusPredSql = "doc_id % 100 <> 0", probePredSql = "doc_id % 100 = 0",
      minTokens = 15, maxTokens = 100000,
      minMeanLen = 3.2, maxMeanLen = 4.65, minTtr = 0.32, budget = 512L),

    "o5_union_agg" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM (
        |  SELECT * FROM orders WHERE o_totalprice > 400000
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
        |) GROUP BY 1""".stripMargin,

    "a10_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
        |FROM lineitem GROUP BY 1""".stripMargin,

    // error-accounted sketch audit: the oracle asserts the exact per-group
    // count and that the GK estimates sat inside their rank guarantee
    // (the Spark side recomputes the rank bounds from the data; a sketch
    // outside its ±1/10000 rank band flips the boolean → hash mismatch)
    "a10_approx_quantiles" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       TRUE AS q50_in_bounds, TRUE AS p90_in_bounds
        |FROM lineitem GROUP BY 1""".stripMargin,

    "o10_stratified_hash" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM orders
         |WHERE ${permilleHashSql("o_orderkey", ":st42", 1000L)}
         |      < CASE o_orderstatus WHEN 'F' THEN 1000 WHEN 'O' THEN 200
         |                           WHEN 'P' THEN 500 ELSE 0 END
         |GROUP BY 1""".stripMargin,

    "w6_global_rownum" ->
      """SELECT o_orderkey,
        |       ROW_NUMBER() OVER (ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS rn
        |FROM orders""".stripMargin,

    "o2_shuffle_hash" ->
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |ORDER BY ${permilleHashSql("o_orderkey", ":s42", 1000000L)},
         |         o_orderkey
         |LIMIT 100""".stripMargin,

    "o3_split_hash" ->
      s"""SELECT CASE WHEN ${permilleHashSql("o_orderkey", ":t42", 1000L)} < 800
         |            THEN 'train' ELSE 'test' END AS part,
         |       count(*) AS cnt
         |FROM orders GROUP BY 1""".stripMargin,

    // hash-sampled resampling tier: identical permille arithmetic on the
    // portable md5-60bit hash, identical floor-division ratio derivation
    "o4_undersample_hash" ->
      s"""WITH c AS (
         |$cohortSqlCore
         |), n AS (
         |  SELECT CAST(SUM(CASE WHEN label = '1' THEN 1 ELSE 0 END) AS BIGINT) AS npos,
         |         CAST(SUM(CASE WHEN label = '0' THEN 1 ELSE 0 END) AS BIGINT) AS nneg
         |  FROM c
         |)
         |SELECT label, count(*) AS cnt
         |FROM c, n
         |WHERE label = '1'
         |   OR ${permilleHashSql("o_orderkey", ":u42", 1000L)}
         |      < CAST(FLOOR(1000.0 * npos / nneg) AS BIGINT)
         |GROUP BY 1""".stripMargin,

    "o8_oversample_hash" ->
      s"""WITH c AS (
         |$cohortSqlCore
         |), n AS (
         |  SELECT CAST(SUM(CASE WHEN label = '1' THEN 1 ELSE 0 END) AS BIGINT) AS npos,
         |         CAST(SUM(CASE WHEN label = '0' THEN 1 ELSE 0 END) AS BIGINT) AS nneg
         |  FROM c
         |), m AS (
         |  SELECT CAST(FLOOR(CAST(nneg AS DOUBLE) / npos) AS BIGINT) AS mult,
         |         CAST(FLOOR(1000.0 * (nneg - CAST(FLOOR(CAST(nneg AS DOUBLE) / npos) AS BIGINT) * npos) / npos) AS BIGINT) AS extra_p
         |  FROM n
         |)
         |SELECT label,
         |  CAST(SUM(CASE WHEN label = '0' THEN 1
         |       ELSE mult + (CASE WHEN ${permilleHashSql("o_orderkey", ":o42", 1000L)} < extra_p
         |                    THEN 1 ELSE 0 END)
         |       END) AS BIGINT) AS cnt
         |FROM c, m GROUP BY 1""".stripMargin,

    "a14_mode_per_group" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        |  FROM c
        |)
        |SELECT o_custkey, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rn = 1""".stripMargin,

    // forward ASOF is native in DuckDB too: the <= inequality picks the
    // nearest FOLLOWING right row
    "j14_asof_forward" ->
      """SELECT e.event_id, o.next_orderkey
        |FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts2 FROM events) e
        |ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS next_orderkey
        |  FROM orders GROUP BY 1, 2
        |) o ON e.user_id = o.o_custkey AND e.ts2 <= o.o_orderdate""".stripMargin,

    "j15_nearest_event" ->
      """WITH c AS (
        |  SELECT event_id, user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS psec,
        |         max(CAST(round(value, 2) AS DECIMAL(18,2))) AS pval
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT c.event_id, c.user_id, c.sec, CAST(m.pval AS DOUBLE) AS pval,
        |       m.psec AS matched_t
        |FROM c LEFT JOIN LATERAL (
        |  SELECT p.pval, p.psec FROM p
        |  WHERE p.user_id = c.user_id
        |  ORDER BY abs(p.psec - c.sec), p.psec LIMIT 1
        |) m ON true""".stripMargin,

    "a13_hist2d" ->
      """SELECT CAST(FLOOR(l_extendedprice / 20000) * 20000 AS DOUBLE) AS price_bucket,
        |       CAST(FLOOR(l_quantity / 10) * 10 AS DOUBLE) AS qty_bucket,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
  )
}
