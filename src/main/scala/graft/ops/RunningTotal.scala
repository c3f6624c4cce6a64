package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed inclusive running sum under a total order — the cumulative
  * analog of [[GlobalRowNumber]] for integer-valued measures (counts,
  * cents, bytes, tokens). `sum(v).over(Window.orderBy(ord))` is the
  * correct declaration but plans a SinglePartition window — every row
  * through one task, dead at 100 TB. Cure (the [[SequencePacking]] /
  * GlobalRowNumber shape):
  *
  *   1. range-repartition on the sort keys (executor-side sampled splits);
  *   2. prefix-sum the P per-partition VALUE TOTALS (a SinglePartition
  *      window over ≤ P rows — bounded by parallelism, never by data)
  *      and broadcast-JOIN them back as each partition's offset;
  *   3. local per-partition cumsum (parallel windows) + the offset.
  *
  * Entirely LAZY (the r11 form; until r10 step 2 collected the offsets
  * to the driver, which forced an eager materialization + session pin
  * per call and a release-hook contract on every consumer).
  *
  * CORRECTNESS CONTRACT — the offsets subtree MUST reuse the data
  * path's range exchange, not re-evaluate it: Spark seeds the range-
  * boundary reservoir sample per RDD id, so two INDEPENDENT evaluations
  * of the same range exchange can pick different boundaries, and
  * offsets computed against one partitioning would be applied to
  * another. Reuse holds because both subtrees consume the exchange's
  * identical column set: callers MUST pass slim frames (every column is
  * an ordering key or the value — true of every in-repo caller; a
  * column consumed by neither side prunes the two exchange children
  * differently, defeats stage canonicalization, and re-evaluates).
  * Plan-asserted in RunningTotalSpec, StatsOpsSpec, and the a15
  * PlansSpec case, so a Spark upgrade or conf change
  * (spark.sql.exchange.reuse=false) that breaks reuse fails the suite
  * loudly — and the DuckDB oracle gate would catch the value drift on
  * every hash-checked consumer regardless.
  *
  * The contract is additionally RUNTIME-ENFORCED (r12): the call throws
  * up front if `spark.sql.exchange.reuse` is off, or if `df` carries a
  * column that neither the ordering nor the value reads (a non-slim
  * frame prunes the two exchange children differently, defeats stage
  * canonicalization, and silently re-samples range boundaries). Misuse
  * fails loudly instead of producing wrong running sums; callers with
  * passthrough columns must project them out and join them back by key.
  */
object RunningTotal {

  /** Throws unless every column of `df` is consumed by `exprs` (the
    * ordering keys + the value). Resolution rides the analyzer — the
    * projection is analyzed against `df`'s plan (never executed), and
    * the referenced attributes are matched to `df`'s output by exprId,
    * so aliases/case quirks can't fake a pass. SortOrder wrappers
    * (`col.asc`/`.desc`) are unwrapped before projecting. If the guard
    * itself cannot resolve an exotic expression it stays permissive —
    * the plan-level specs and the per-consumer oracle hashes remain the
    * backstop there.
    */
  private def requireSlim(df: DataFrame, exprs: Seq[Column]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.SortOrder
    import org.apache.spark.sql.graftshim.Shim
    try {
      val plain = exprs.map { c =>
        Shim.catalystExpression(df.sparkSession, c) match {
          case so: SortOrder => Shim.column(so.child)
          case _             => c
        }
      }
      val analyzed = df.select(plain: _*).queryExecution.analyzed
      val usedIds = analyzed.expressions.flatMap(_.references.map(_.exprId)).toSet
      val extra = df.queryExecution.analyzed.output
        .filterNot(a => usedIds.contains(a.exprId)).map(_.name)
      require(extra.isEmpty,
        slimGuardTag +
          s": columns ${extra.mkString(", ")} are consumed by neither an " +
          "ordering key nor the value. A passthrough column prunes the data " +
          "and offset subtrees differently, defeats exchange reuse, and the " +
          "re-sampled range boundaries make the running sum silently wrong. " +
          "Project the frame down to (ord..., value) and join passthrough " +
          "columns back by key.")
    } catch {
      // ONLY the guard's own require above may escape: the analyzer/Shim
      // work inside the try can itself throw IllegalArgumentException for
      // unrelated reasons (e.g. a malformed Column reaching
      // Shim.catalystExpression), and rethrowing those would turn the
      // intended stay-permissive path into a hard failure blamed on the
      // slim-frame contract. The tag prefix distinguishes the two.
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains(slimGuardTag) =>
        throw e
      case _: Throwable => () // unresolvable guard input: stay permissive
    }
  }

  /** Message prefix identifying the slim-frame guard's OWN violation —
    * see the catch in [[requireSlim]]. */
  private val slimGuardTag =
    "RunningTotal.withRunningSum requires a SLIM frame (every column an " +
      "ordering key or the value)"

  /** @return (frame + `outCol` = inclusive running sum of `value` in
    *         `ord` order, 1-row grand-total frame with column
    *         `_rt_total` — crossJoin(broadcast(...)) it wherever the
    *         total is needed). `value` is cast to long (nulls → 0);
    *         `ord` must be a total order (append a unique key) or the
    *         prefix sums are nondeterministic.
    */
  def withRunningSum(
      df: DataFrame, value: Column, outCol: String,
      ord: Column*): (DataFrame, DataFrame) = {
    require(ord.nonEmpty, "running sum needs at least one ordering column")
    require(
      df.sparkSession.conf.get("spark.sql.exchange.reuse", "true").toBoolean,
      "RunningTotal.withRunningSum requires spark.sql.exchange.reuse=true: " +
        "the offset subtree must reuse the data path's range exchange, or " +
        "independently re-sampled range boundaries make the sums wrong")
    requireSlim(df, ord :+ value)
    val parts = math.max(1,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // the value is derived AFTER the exchange, so every subtree reads the
    // exchange's full input (the ordering keys and the value's columns),
    // also when the caller reads the value column again afterwards
    val ranged = df
      .repartitionByRange(parts, ord: _*)
      .withColumn("_rt_v", coalesce(value.cast("long"), lit(0L)))
      .withColumn("_pid", spark_partition_id())
    val offs = ranged.groupBy("_pid").agg(sum("_rt_v").as("_pc"))
      .withColumn("_poff",
        coalesce(sum("_pc").over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_poff"))
    val total = ranged.agg(coalesce(sum("_rt_v"), lit(0L)).as("_rt_total"))
    val w = Window.partitionBy("_pid").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged.join(broadcast(offs), "_pid")
      .withColumn(outCol, sum(col("_rt_v")).over(w) + col("_poff"))
      .drop("_rt_v", "_pid", "_poff")
    (out, total)
  }
}
