package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact, fully-distributed global top-n under a total order.
  *
  * `df.orderBy(...).limit(n)` plans a TakeOrderedAndProject that funnels
  * all n rows through the driver — fine for k-row heads, fatal when n is
  * "minority-class size" (billions at 100 TB, and `.toInt` overflows).
  * A global `Window.orderBy` sorts everything in ONE task. This instead:
  *
  *   1. range-repartitions on the sort key (Spark samples split points) —
  *      the same machinery as a distributed ORDER BY, all executor-side;
  *   2. collects only the P per-partition row COUNTS to the driver;
  *   3. keeps whole partitions strictly below the rank boundary (as a set —
  *      no sort needed), and row_number-filters ONLY the single partition
  *      straddling the boundary (the one sort that happens).
  *
  * Exactness does not depend on the (seeded, deterministic) range
  * sampling being balanced — skewed bounds only move work between
  * partitions. `ord` must be a total order for a deterministic result
  * (callers append a unique id as the last key).
  */
object GlobalTopN {

  def topN(df: DataFrame, n: Long, ord: Column*): DataFrame = {
    require(ord.nonEmpty, "topN needs at least one ordering column")
    if (n <= 0L) return df.limit(0)
    // RangedCounts pins on purpose (see its scaladoc): for NearMiss an
    // uncached two-pass re-executes the LSH kNN join — measured 2× the
    // whole query. No sort: counts need only the partitioning; the single
    // boundary partition sorts inside its row_number window.
    val r = RangedCounts(df, ord)
    val (ranged, cum) = (r.df, r.cum)
    // partitions fully inside the top-n …
    val fullParts = (0 until r.parts).filter(p => cum(p + 1) <= n)
    // … and the one straddling the boundary (if any)
    val boundary = (0 until r.parts).find(p => cum(p) < n && n < cum(p + 1))
    val whole = ranged.filter(col("_pid").isin(fullParts.map(Int.box): _*)).drop("_pid")
    boundary match {
      case None => whole
      case Some(pb) =>
        val w = Window.partitionBy("_pid").orderBy(ord: _*)
        val trimmed = ranged.filter(col("_pid") === pb)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= n - cum(pb))
          .drop("_rn", "_pid")
        whole.unionByName(trimmed)
    }
  }
}
