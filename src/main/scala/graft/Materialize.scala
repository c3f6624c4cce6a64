package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one per-call pin: frames kept in memory for the length of a body. */
object Materialize {

  // the scopes open on this thread, innermost first; not inherited, so a
  // pool thread never joins a scope it did not open
  private val open = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  private def persistNew(df: DataFrame): Boolean = {
    val fresh = df.storageLevel == StorageLevel.NONE
    if (fresh) df.persist(StorageLevel.MEMORY_AND_DISK)
    fresh
  }

  /** Persist (MEMORY_AND_DISK, as `Dataset.cache()`) each frame of `dfs`
    * that is not cached yet, in argument order so a later frame's cached
    * plan reads an earlier one's cache; run `body`; then release exactly
    * those frames and every frame [[pin]]ned inside `body` on this
    * thread, non-blocking, also when `body` throws. A frame the caller
    * cached is left alone. Lazy: the body's first action fills the
    * cache, so a body that times only after the fill counts first.
    */
  def scoped[T](dfs: DataFrame*)(body: => T): T = {
    val own = ArrayBuffer.empty[DataFrame]
    open.set(own :: open.get)
    try {
      dfs.foreach(df => if (persistNew(df)) own += df)
      body
    } finally {
      open.set(open.get.tail)
      own.foreach(_.unpersist())
    }
  }

  /** An operator's internal pin: persist `df` (MEMORY_AND_DISK) if it is
    * not cached yet and hand it to the innermost [[scoped]] open on the
    * calling thread, which releases it with its own frames. With no scope
    * open the pin stays for the session, deduplicated by the cache
    * manager's canonical-plan key across identical re-runs.
    *
    * A frame derived from a pinned range-partitioned frame may be acted
    * on only while the pin holds, that is inside the scope. Unpinned, an
    * action recomputes the range exchange, which samples its bounds again
    * (the sample is seeded per RDD id), while the per-partition offsets
    * the operator collected still describe the first partitioning: the
    * ids or sums come out wrong, not just slow.
    *
    * So a result over a range pass is a lazy frame over the ranged pin,
    * and a caller inside a scope acts on it inside that scope. It is not
    * cached: its plan embeds the collected offsets, which a rep that
    * samples the range bounds afresh may change, so the cache manager
    * would keep one more readout per rep.
    */
  def pin(df: DataFrame): DataFrame = {
    if (persistNew(df)) open.get.headOption.foreach(_ += df)
    df
  }
}
