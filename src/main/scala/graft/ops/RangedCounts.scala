package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one eager pass of the "distributed order" operators (GlobalTopN,
  * GlobalRowNumber, SequencePacking, the KS / quantile / weighted-quantile
  * / sweep-line CDFs): range-repartition on the sort keys, tag rows with
  * their partition id `_pid`, pin the result, and bring ONLY the P
  * per-partition row counts and measure sums (P longs each) to the
  * driver, turned into cumulative offsets.
  *
  * The ranged frame is pinned on purpose ([[graft.Materialize.pin]]): the
  * counts pass and the caller's selection/numbering/cumulative pass are
  * separate QueryExecutions, and Spark does not reuse exchanges across
  * plans — an uncached two-pass re-executes the caller's entire upstream
  * and re-samples the range bounds the offsets were computed against.
  * The pin is spill-safe (MEMORY_AND_DISK) and bounded by the operator
  * contract: callers pass slim (key, ord, measure) projections, not
  * payload tables. A caller's result is a lazy frame over the ranged pin
  * (never a cached readout: its plan embeds the offsets), and a caller
  * inside a scope acts on it inside that scope.
  */
private[ops] object RangedCounts {

  /** @param cum  cumulative row counts: `cum(p)` = rows in partitions < p.
    * @param sums per measure, its cumulative sums in the same form.
    */
  final case class Ranged(df: DataFrame, parts: Int, ord: Seq[Column], measures: Seq[Column],
                          cum: IndexedSeq[Long], sums: IndexedSeq[IndexedSeq[Long]]) {
    /** Each row's partition offset under cumulative table `c` (`cum` or
      * one of `sums`): a literal P-entry map lookup — for a per-row
      * constant it beats a join, needs no extra shuffle and stays inside
      * codegen. */
    def offset(c: IndexedSeq[Long]): Column =
      element_at(typedlit((0 until parts).map(p => p -> c(p)).toMap), col("_pid"))

    /** Inclusive running sum of `measures(i)` in `ord` order: a local
      * per-partition window plus the partition's offset. */
    def runningSum(i: Int): Column =
      sum(measures(i)).over(Window.partitionBy("_pid").orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) + offset(sums(i))
  }

  /** @param measures long-valued columns of `df` summed per partition. */
  def apply(df: DataFrame, ord: Seq[Column], measures: Column*): Ranged = {
    require(ord.nonEmpty, "ranged counts need at least one ordering column")
    val parts = math.max(1, df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val ranged = Materialize.pin(df
      .repartitionByRange(parts, ord: _*)
      .withColumn("_pid", spark_partition_id()))
    val aggs = count(lit(1)) +: measures.map(sum)
    val perPid: Map[Int, IndexedSeq[Long]] = ranged.groupBy("_pid").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) ->
        aggs.indices.map(i => if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))).toMap
    val cums = aggs.indices.map(i => (0 until parts).scanLeft(0L)((acc, p) =>
      acc + perPid.get(p).fold(0L)(_(i))).toIndexedSeq)
    Ranged(ranged, parts, ord, measures, cums.head, cums.tail)
  }
}
