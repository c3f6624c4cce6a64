package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet source registry for the engine's test tables.
  *
  * The reference loads every table with a full `SELECT *` scan
  * (reference: Hap880_Final_Project.py:19,115,183,237). Here the scan is a
  * columnar Parquet read, so Catalyst's column pruning and predicate
  * pushdown reach the file scan for free — at 100 TB this is the difference
  * between reading the projected columns' pages and reading everything.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts arrives in whatever physical type the generator used:
    * TIMESTAMP(NANOS) (a Long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by `graft.Session`)
    * or TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    * Normalize both to a microsecond TimestampType column here so every
    * downstream operator — in particular `withWatermark`, which rejects
    * NTZ — sees a uniform schema. Sessions pin UTC, so the
    * NTZ→LTZ cast is a pure re-tag, not a wall-clock shift.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  // ---- JDBC source/sink (SURVEY §2.1 S2's `format("jdbc")` alternative) --
  // The registry's non-file ingestion surface. Spark's JDBC source
  // partitions reads via (partitionColumn, lowerBound, upperBound,
  // numPartitions) — pass them for any table bigger than one executor's
  // slice; the embedded-Derby smoke path here is single-partition by
  // design (an in-JVM database has no parallel read to win).
  private val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  def jdbcTable(
      spark: SparkSession,
      url: String,
      tableName: String,
      driver: String = derbyDriver
  ): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", tableName)
      .option("driver", driver)
      .load()

  def jdbcWrite(
      df: DataFrame,
      url: String,
      tableName: String,
      driver: String = derbyDriver
  ): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", tableName)
      .option("driver", driver)
      .mode("overwrite")
      .save()
}
