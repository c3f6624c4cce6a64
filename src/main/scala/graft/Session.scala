package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory and its one per-session memo.
  *
  * Every main and the test session build through [[local]], so they all
  * run with the same confs, the five SQL functions of [[GraftExtensions]]
  * and the top-k rule and strategy of [[plans.RowNumberTopK]] — a plan
  * dumped, verified, benched or spec'd is the same plan.
  */
object Session {

  /** Local worker threads for the mains: `SPARK_GRAFT_CPUS`, else the
    * machine's processor count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per thread, UTC
    * session time, nanosecond parquet timestamps read as longs (see
    * `core.Tables.events`), no UI and WARN logging; the engine's SQL
    * functions, optimizer rule and planner strategy are installed. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    plans.RowNumberTopK.install(s)
    s
  }

  /** A memo of one value per (session, key), built at most once; the
    * session is a weak key. `build` runs under this memo's own lock, so a
    * concurrent caller waits for the first build instead of starting a
    * second. A `build` may read another memo but not its own: use one
    * instance per memoized frame.
    */
  final class Memo[K, V] {
    private val bySession = new java.util.WeakHashMap[SparkSession, java.util.HashMap[K, V]]()

    def apply(s: SparkSession, k: K)(build: => V): V = bySession.synchronized {
      val perSession = Option(bySession.get(s)).getOrElse {
        val m = new java.util.HashMap[K, V](); bySession.put(s, m); m
      }
      // get then put, not computeIfAbsent: a nested build that touches
      // this HashMap would throw ConcurrentModificationException there
      if (perSession.containsKey(k)) perSession.get(k)
      else { val v = build; perSession.put(k, v); v }
    }
  }
}
