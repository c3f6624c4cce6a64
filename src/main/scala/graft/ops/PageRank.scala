package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge table — the Pregel-style
  * iterated-join pattern (score join edges → shuffle on destination →
  * aggregate → next score table) expressed as DataFrames, with ALL
  * arithmetic in scaled-integer (e12) fixed point so every engine, every
  * partitioning, and every run produces bit-identical scores: `pr/deg`
  * is integer division, sums are exact BIGINTs, damping is `(85·s) div
  * 100`. Float PageRank is merge-order-dependent; fixed-point PageRank is
  * a hash-checkable answer.
  *
  * Scale shape: per iteration, ONE shuffle of the contribution stream
  * keyed by destination (map-side partial sums) plus a join of the
  * (node-sized) score table against the edge table — the canonical
  * distributed-graph step. k iterations = k passes; nothing driver-side
  * but the node count. The edge table should be pre-partitioned by `src`
  * (and is reused k times — persist it at real scale).
  *
  * Dangling nodes: callers build edges symmetrically (or pre-drop
  * zero-out-degree nodes); every node in `edges` is assumed to have
  * out-degree ≥ 1, which a symmetric co-occurrence graph guarantees.
  */
object PageRank {

  /** @param edges distinct (src, dst) pairs, both BIGINT-compatible.
    * @return (node, pr_e12): PageRank × 10¹² after `iters` damped rounds
    *         from a uniform start, d = 0.85.
    */
  def fixedPoint(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters in [1,10], got $iters")
    // the edge table is probed `iters` times and its upstream (often a
    // self-join) would otherwise re-execute every iteration
    val e = graft.Materialize.pin(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val deg = graft.Materialize.pin(e.groupBy("src").agg(count(lit(1)).as("deg")))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val nNodes = nodes.count() // the one driver-side scalar; also warms the pins
    val base = lit(150000000000L / nNodes) // (0.15 × 1e12) div N
    var pr = nodes.withColumn("pr", lit(1000000000000L / nNodes))
    for (_ <- 1 to iters) {
      val contrib = pr.join(deg, pr("node") === deg("src"))
        .select(col("src"), expr("pr div deg").as("w"))
        .join(e, "src")
        .select(col("dst").as("node"), col("w"))
      pr = contrib.groupBy("node")
        .agg((base + expr("(85 * sum(w)) div 100")).as("pr"))
    }
    pr.select(col("node"), col("pr").as("pr_e12"))
  }

  /** DuckDB mirror of [[fixedPoint]] — the identical integer arithmetic
    * unrolled into one CTE per iteration, generated from the same
    * parameters so the two cannot drift. */
  def fixedPointOracleSql(edgesCte: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "pr0" else s"pr${i - 1}"
      s"""pr$i AS (
         |  SELECT e.dst AS node, (SELECT b FROM base) + (85 * SUM(p.pr // d.deg)) // 100 AS pr
         |  FROM $prev p JOIN deg d ON p.node = d.src JOIN edges e ON e.src = d.src
         |  GROUP BY e.dst
         |)""".stripMargin
    }
    s"""WITH edges AS ($edgesCte),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
       |n AS (SELECT count(*) AS n FROM nodes),
       |base AS (SELECT 150000000000 // n AS b FROM n),
       |pr0 AS (SELECT node, (SELECT 1000000000000 // n FROM n) AS pr FROM nodes),
       |${iterCtes.mkString(",\n")}
       |SELECT node, CAST(pr AS BIGINT) AS pr_e12 FROM pr$iters""".stripMargin
  }
}
