package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.registry._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 gets a `queries` entry; when the
  * semantics are ANSI-SQL-expressible, a matching `oracleSql` entry lets
  * the driver hash-compare against DuckDB on the same parquet tables.
  * Column names and numeric types are aligned on both sides (sums ride
  * exact decimal casts and are emitted as DOUBLE so both engines produce
  * bit-identical values regardless of accumulation order).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Shared.cohort(spark, "/root/testdata/sf0.001").groupBy("label").count()

  // The registry slices (graft.registry.*Registry — the r12 split of this
  // file) compose back into the SAME maps through the duplicate-key guard:
  // a re-used query name across slices fails loudly instead of silently
  // last-winning (Shared.uniqueMap).
  private def slices = Seq(
    SourcesRegistry.queries, RelationalRegistry.queries, TextRegistry.queries,
    DedupSimRegistry.queries, EventsRegistry.queries, MultimodalRegistry.queries,
    MlRegistry.queries, MaintenanceRegistry.queries, MimicRegistry.queries,
    SketchRegistry.queries)

  private def oracleSlices = Seq(
    SourcesRegistry.oracles, RelationalRegistry.oracles, TextRegistry.oracles,
    DedupSimRegistry.oracles, EventsRegistry.oracles, MultimodalRegistry.oracles,
    MlRegistry.oracles, MaintenanceRegistry.oracles, MimicRegistry.oracles,
    SketchRegistry.oracles)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Shared.uniqueMap[(SparkSession, String) => DataFrame]("query")(slices.flatten: _*)

  def oracleSql: Map[String, String] =
    Shared.uniqueMap[String]("oracle")(oracleSlices.flatten: _*)
}
