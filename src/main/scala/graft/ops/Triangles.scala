package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting via degree-ordered edge orientation —
  * the graph-shape statistic (clustering, community density) computed
  * the way a 1000-executor engine has to.
  *
  * Orientation: every undirected edge points from its lower-(degree, id)
  * endpoint to the higher one. Each triangle then has EXACTLY one corner
  * with two out-edges, so counting closed wedges counts each triangle
  * once. The payoff is the wedge bound: out-degree under this orientation
  * is O(√m) for every node (arboricity argument), so wedge generation is
  * O(m^1.5) worst-case — a degree-d hub would generate d² wedges
  * un-oriented, but its oriented out-degree stays √-bounded. This is the
  * standard MapReduce/GraphX formulation (Suri & Vassilvitskii's
  * "Counting Triangles and the Curse of the Last Reducer").
  *
  * Plan shape: canonicalize+distinct (one shuffle), degree aggregation
  * (one shuffle), two equi-joins to attach endpoint degrees, one
  * out-adjacency aggregation, and two equi-joins attaching both
  * endpoints' (√m-bounded) neighbor arrays — the triangle count is then
  * a per-edge sorted-array intersection, so the classic wedge blow-up
  * never materializes as rows. Every join is a hash join on explicit
  * keys; nothing is quadratic in a hub's degree.
  */
object Triangles {

  /** One row: (n_edges, n_triangles) over the cleaned undirected graph.
    * Self-loops are dropped and parallel/reversed duplicates collapse via
    * canonicalization to (a < b) + distinct.
    *
    * The oriented edge list is read THREE times (both wedge arms + the
    * closing-edge probe) and Spark does not reuse exchanges across those
    * subtree copies, so it is pinned ([[graft.Materialize.pin]]: for the
    * caller's scope, or the session when none is open) — without the pin
    * the edge build (self-join + distinct + two degree joins) re-executes
    * three times (measured ~2× the wall time at sf0.1). The pinned frame
    * is the slim (u, w) projection, not the input.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val deg = canon
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient each edge from its lower-(deg, id) endpoint; canon already
    // has a < b, so on equal degrees `a` stays the source
    val oriented = graft.Materialize.pin(canon
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("w")))
    // count per ORIENTED EDGE instead of materializing wedges: a triangle
    // {u,w,x} oriented u→w, u→x, w→x is found exactly once, on its (u→w)
    // edge, as x ∈ N_out(u) ∩ N_out(w). The out-adjacency arrays are
    // √m-bounded by the orientation, and the per-edge intersection
    // replaces the wedge self-join — at sf0.1 that join materialized and
    // shuffled 41M wedge rows through an exchange; this shape shuffles
    // 2·|E| array-payload rows instead (measured 14.4 s → ~11.5 s at
    // sf0.1; the probe WORK is the same 41M, but it runs inside the
    // intersection expression, not as shuffled join rows — the gap widens
    // with cluster size since wedge rows cross the network)
    val adj = oriented.groupBy("u").agg(collect_list(col("w")).as("nbrs"))
    val perEdge = oriented
      .join(adj.select(col("u"), col("nbrs").as("un")), Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("wn")), Seq("w"), "left")
      .select(coalesce(size(array_intersect(col("un"), col("wn"))), lit(0)).as("tri"))
    // oriented is 1:1 with the cleaned undirected edges, so the edge
    // count reads the pin instead of re-running the canon subtree
    oriented.agg(count(lit(1)).as("n_edges"))
      .crossJoin(perEdge.agg(sum(col("tri")).cast("long").as("n_triangles")))
  }

  /** DuckDB mirror of [[triangleCount]] — the orientation is a perf strategy, not
    * a semantic, so the oracle counts (a<b<c) closed triples directly.
    */
  def countOracleSql(edgesSql: String): String =
    s"""WITH raw AS ($edgesSql),
       |e AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM raw WHERE src <> dst
       |)
       |SELECT (SELECT count(*) FROM e) AS n_edges,
       |       (SELECT count(*) FROM e e1
       |          JOIN e e2 ON e1.b = e2.a
       |          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin

  /** Common-neighbor link prediction: non-adjacent vertex pairs sharing at
    * least `minCommon` neighbors — the candidate-generation step of graph
    * ML (friend suggestion, co-purchase, entity linking). Integer-exact
    * scores, no similarity-float luck.
    *
    * Scale contract: pair candidates are generated only THROUGH centers of
    * degree ≤ `maxDeg` (the same frequency-cap move as the Jaccard
    * inverted-index DF cap — a hub of degree d would mint d²/2 wedge pairs,
    * and a hub's endorsement carries no signal anyway). Wedge pairs are
    * produced by an in-row combination explode over each center's sorted
    * neighbor array — they feed a partially-aggregated count directly and
    * never exist as a self-join's shuffle rows. The wedge volume is
    * Σ_capped deg²/2 ≤ |V|·maxDeg²/2, chosen, not hoped for.
    */
  def commonNeighbors(edges: DataFrame, srcCol: String, dstCol: String,
                      maxDeg: Int, minCommon: Long): DataFrame = {
    val canon = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val nbrs = canon.select(col("a").as("v"), col("b").as("n"))
      .unionByName(canon.select(col("b").as("v"), col("a").as("n")))
    val adj = nbrs.groupBy("v").agg(sort_array(collect_set(col("n"))).as("ns"))
      .filter(size(col("ns")) <= maxDeg)
    // all (x, y) with x before y in the sorted neighbor array — the
    // ordered pairs of each wedge, generated array-side
    val pairs = adj.select(explode(flatten(transform(col("ns"), (x, i) =>
      transform(
        slice(col("ns"), i + lit(2), size(col("ns")) - i - lit(1)),
        y => struct(x.as("x"), y.as("y")))))).as("p"))
    val cn = pairs
      .groupBy(col("p.x").as("a"), col("p.y").as("b"))
      .agg(count(lit(1)).as("common_cnt"))
      .filter(col("common_cnt") >= minCommon)
    cn.join(canon, Seq("a", "b"), "left_anti")
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009) — the
    * degree-weighted refinement of [[commonNeighbors]]: each common
    * neighbor z endorses the candidate pair with weight 1/deg(z), so
    * promiscuous hubs count for less. The top of the RA ranking is the
    * standard "links most likely to form next" readout.
    *
    * Determinism: each center's weight is the exact integer
    * `round(10⁶ / deg(z))` (one correctly-rounded IEEE divide of small
    * integers — no tie can sit at .5 for deg < 128 because 2·10⁶ has only
    * seven factors of two), and the pair score is a SUM of those integers
    * — order-free, bit-identical on both engines. No float accumulation.
    *
    * Scale shape: identical to [[commonNeighbors]] — wedge pairs are
    * generated array-side through degree-capped centers (each carrying
    * its center's constant weight) and feed one partially-aggregated
    * (sum, count); the wedge volume is Σ_capped deg²/2, chosen not hoped
    * for. Output: non-adjacent (a, b, common_cnt, ra_micros).
    */
  def linkRA(edges: DataFrame, srcCol: String, dstCol: String,
             maxDeg: Int, minCommon: Long): DataFrame = {
    val canon = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val nbrs = canon.select(col("a").as("v"), col("b").as("n"))
      .unionByName(canon.select(col("b").as("v"), col("a").as("n")))
    val adj = nbrs.groupBy("v").agg(sort_array(collect_set(col("n"))).as("ns"))
      .filter(size(col("ns")) <= maxDeg)
      .withColumn("w",
        round(lit(1000000.0) / size(col("ns")).cast("double")).cast("long"))
    val pairs = adj.select(col("w"),
      explode(flatten(transform(col("ns"), (x, i) =>
        transform(
          slice(col("ns"), i + lit(2), size(col("ns")) - i - lit(1)),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
    val scored = pairs
      .groupBy(col("p.x").as("a"), col("p.y").as("b"))
      .agg(count(lit(1)).as("common_cnt"), sum(col("w")).as("ra_micros"))
      .filter(col("common_cnt") >= minCommon)
    scored.join(canon, Seq("a", "b"), "left_anti")
  }

  /** DuckDB mirror of [[linkRA]] — naive wedge self-join under the same
    * degree cap, each wedge weighted by its center's integer micro-weight.
    */
  def linkRAOracleSql(edgesSql: String, maxDeg: Int, minCommon: Long): String =
    s"""WITH raw AS ($edgesSql),
       |e AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM raw WHERE src <> dst
       |),
       |nb AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT v, count(*) AS dg FROM nb GROUP BY 1),
       |nb2 AS (
       |  SELECT nb.v, nb.n,
       |         CAST(round(1000000.0 / CAST(deg.dg AS DOUBLE)) AS BIGINT) AS w
       |  FROM nb JOIN deg ON nb.v = deg.v WHERE deg.dg <= $maxDeg
       |),
       |w AS (
       |  SELECT n1.n AS a, n2.n AS b, n1.w AS w
       |  FROM nb2 n1 JOIN nb2 n2 ON n1.v = n2.v AND n1.n < n2.n
       |),
       |cn AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS common_cnt,
       |         CAST(SUM(w) AS BIGINT) AS ra_micros
       |  FROM w GROUP BY 1, 2 HAVING count(*) >= $minCommon
       |)
       |SELECT cn.a, cn.b, cn.common_cnt, cn.ra_micros
       |FROM cn LEFT JOIN e ON cn.a = e.a AND cn.b = e.b
       |WHERE e.a IS NULL""".stripMargin

  /** DuckDB mirror of [[commonNeighbors]] — the oracle runs the naive
    * wedge self-join under the same degree cap, so the array-combination
    * strategy is proven against the textbook relational form. */
  def commonNeighborsOracleSql(edgesSql: String, maxDeg: Int, minCommon: Long): String =
    s"""WITH raw AS ($edgesSql),
       |e AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM raw WHERE src <> dst
       |),
       |nb AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT v, count(*) AS dg FROM nb GROUP BY 1),
       |nb2 AS (SELECT nb.v, nb.n FROM nb JOIN deg ON nb.v = deg.v WHERE deg.dg <= $maxDeg),
       |w AS (
       |  SELECT n1.n AS a, n2.n AS b
       |  FROM nb2 n1 JOIN nb2 n2 ON n1.v = n2.v AND n1.n < n2.n
       |),
       |cn AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS common_cnt
       |  FROM w GROUP BY 1, 2 HAVING count(*) >= $minCommon
       |)
       |SELECT cn.a, cn.b, cn.common_cnt
       |FROM cn LEFT JOIN e ON cn.a = e.a AND cn.b = e.b
       |WHERE e.a IS NULL""".stripMargin
}
