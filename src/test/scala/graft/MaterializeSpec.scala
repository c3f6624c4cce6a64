package graft

import org.apache.spark.storage.StorageLevel

/** `Materialize.scoped`: pins exactly what it persisted for the length of
  * the body and releases it afterwards, also when the body throws, and
  * never releases a caller's cache.
  */
class MaterializeSpec extends SparkSpecBase {

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  private def frame(mod: Long) =
    spark.range(0, 1000, 1, 4).toDF("id").filter(s"id % $mod = 0")

  test("an uncached frame is cached inside the body and released after") {
    val df = frame(3)
    val before = pinned
    val n = Materialize.scoped(df) {
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      val c = df.count()
      assert(pinned == before + 1)
      c
    }
    assert(n == 334L)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(pinned == before)
  }

  test("a throwing body releases the pin and the exception propagates") {
    val df = frame(5)
    val before = pinned
    val e = intercept[IllegalStateException] {
      Materialize.scoped(df) {
        df.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(df.storageLevel == StorageLevel.NONE)
    assert(pinned == before)
  }

  test("nested scopes over a frame and a frame derived from it release both") {
    val base = frame(7)
    val derived = base.groupBy((base("id") % 10).as("k")).count()
    val before = pinned
    Materialize.scoped(base) {
      base.count()
      Materialize.scoped(derived) {
        assert(derived.count() == 10L)
        assert(pinned == before + 2)
      }
      assert(derived.storageLevel == StorageLevel.NONE)
      assert(base.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(base.storageLevel == StorageLevel.NONE)
    assert(pinned == before)
  }

  test("a frame the caller cached is read but not released") {
    val df = frame(11).cache()
    try {
      df.count()
      val before = pinned
      Materialize.scoped(df)(df.count())
      assert(df.storageLevel != StorageLevel.NONE)
      assert(pinned == before)
    } finally df.unpersist()
  }
}
