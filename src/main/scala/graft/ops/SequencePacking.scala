package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-budget sequence packing for LLM pretraining batches: order the
  * corpus by a deterministic key, lay documents end-to-end on one global
  * token axis, and chop that axis into fixed-`budget` context windows.
  * Each document gets its global start offset and the [first, last]
  * window range it lands in (a doc longer than the remaining room simply
  * spans the boundary — exactly how packed pretraining shards are cut).
  *
  * The core is a GLOBAL cumulative sum under a total order. The naive
  * `sum().over(Window.orderBy(ord))` plans a single-partition window —
  * every row through ONE task, dead at 100 TB. Same cure as
  * [[GlobalRowNumber]]:
  *
  *   1. range-repartition on the order key (executor-side sampled splits);
  *   2. bring only the P per-partition TOKEN TOTALS to the driver;
  *   3. per-partition local cumsum (parallel windows) + the partition's
  *      cumulative token offset from a literal map.
  *
  * Steps 1-2 are [[RangedCounts]]' pass, whose pin on the ranged frame
  * follows [[graft.Materialize.pin]]: act on the packed frame inside the
  * caller's `Materialize.scoped` body, or with no scope open the pin
  * stays for the session.
  */
object SequencePacking {

  /** @param tokenCol  per-doc token count (non-negative; nulls treated as 0)
    * @param budget    tokens per packed context window (> 0)
    * @param ord       total order for the layout (append a unique key —
    *                  doc_id — or ties make offsets nondeterministic)
    */
  def packWindows(
      docs: DataFrame, tokenCol: Column, budget: Long, ord: Column*): DataFrame = {
    require(budget > 0, s"window budget must be positive, got $budget")
    require(ord.nonEmpty, "packing needs at least one ordering column")
    val r = RangedCounts(
      docs.withColumn("_tok", coalesce(tokenCol.cast("long"), lit(0L))), ord, col("_tok"))
    r.df
      .withColumn("_end", r.runningSum(0))
      .withColumn("start_off", col("_end") - col("_tok"))
      // empty docs occupy no room: they sit AT start_off in the window that
      // offset falls in; last_win = first_win keeps the range well-formed
      .withColumn("first_win", floor(col("start_off") / budget))
      .withColumn("last_win",
        when(col("_tok") > 0, floor((col("_end") - 1) / budget))
          .otherwise(floor(col("start_off") / budget)))
      .drop("_tok", "_pid", "_end")
  }
}
