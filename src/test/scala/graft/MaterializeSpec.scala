package graft

import org.apache.spark.storage.StorageLevel

/** `Materialize.scoped`: pins exactly what it persisted for the length of
  * the body and releases it afterwards, also when the body throws, and
  * never releases a caller's cache. `Materialize.pin` hands its frame to
  * the innermost scope open on the calling thread, or to the session.
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

  test("a pin inside a scope is released at the scope's end, also on a throw") {
    val (a, b) = (frame(13), frame(17))
    val before = pinned
    Materialize.scoped() {
      Materialize.pin(a).count()
      assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(a.storageLevel == StorageLevel.NONE)
    intercept[IllegalStateException] {
      Materialize.scoped() {
        Materialize.pin(b).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(b.storageLevel == StorageLevel.NONE)
    assert(pinned == before)
  }

  test("a pin with no scope open stays for the session") {
    val df = frame(19)
    try {
      Materialize.pin(df).count()
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally df.unpersist()
  }

  test("a pin inside nested scopes goes to the innermost one") {
    val (outer, inner) = (frame(23), frame(29))
    Materialize.scoped() {
      Materialize.pin(outer).count()
      Materialize.scoped()(Materialize.pin(inner).count())
      assert(inner.storageLevel == StorageLevel.NONE)
      assert(outer.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("pinning a frame that is already cached leaves it alone") {
    val df = frame(31).cache()
    try {
      df.count()
      Materialize.scoped()(Materialize.pin(df).count())
      assert(df.storageLevel != StorageLevel.NONE)
    } finally df.unpersist()
  }

  test("a pin made on an inParallel pool thread outlives a scope on the calling thread") {
    val frames = Seq(frame(37), frame(41))
    try {
      Materialize.scoped() {
        ml.TrainHarness.inParallel(frames)(f => Materialize.pin(f).count())
      }
      frames.foreach(f => assert(f.storageLevel == StorageLevel.MEMORY_AND_DISK))
    } finally frames.foreach(_.unpersist())
  }
}
