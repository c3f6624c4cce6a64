package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the cohort queries to a JSON file, for
  * recording their expected result digests.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = CohortQueries.names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    Files.write(Paths.get(args(0)), Json(sql).getBytes(StandardCharsets.UTF_8))
  }
}
