package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one per-call pin: frames kept in memory for the length of a body. */
object Materialize {

  /** Persist (MEMORY_AND_DISK, as `Dataset.cache()`) each frame of `dfs`
    * that is not cached yet, in argument order so a later frame's cached
    * plan reads an earlier one's cache; run `body`; then release exactly
    * those frames, non-blocking, also when `body` throws. A frame the
    * caller cached is left alone. Lazy: the body's first action fills
    * the cache, so a body that times only after the fill counts first.
    */
  def scoped[T](dfs: DataFrame*)(body: => T): T = {
    val own = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      dfs.foreach { df =>
        if (df.storageLevel == StorageLevel.NONE) {
          df.persist(StorageLevel.MEMORY_AND_DISK)
          own += df
        }
      }
      body
    } finally own.foreach(_.unpersist())
  }
}
