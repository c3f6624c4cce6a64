package graft.ops

import graft.SparkSpecBase

class RobustStatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("madOutliers flags exactly the planted outliers") {
    // 99 values tightly around 100, one wild point
    val df = ((1 to 99).map(i => ("g", 100.0 + (i % 5))) :+ (("g", 10000.0)))
      .toDF("g", "v")
    val out = RobustStats.madOutliers(df, Seq("g"), "v", k = 3.0).collect().head
    assert(out.getAs[Long]("n") == 100L)
    assert(out.getAs[Long]("n_outliers") == 1L)
    assert(out.getAs[Double]("med") == 102.0)
  }

  test("madOutliers: constant group has MAD 0 and no outliers") {
    val df = (1 to 20).map(_ => ("c", 7.0)).toDF("g", "v")
    val out = RobustStats.madOutliers(df, Seq("g"), "v").collect().head
    assert(out.getAs[Double]("mad") == 0.0)
    assert(out.getAs[Long]("n_outliers") == 0L)
  }

  test("quantileBins: equi-depth deciles partition the rows evenly") {
    val df = (1 to 1000).map(i => Tuple1(i.toDouble)).toDF("v")
    val out = RobustStats.quantileBins(df, "v", (1 to 9).map(_ / 10.0))
      .collect().map(r => r.getAs[Int]("bin") -> r.getAs[Long]("n")).toMap
    assert(out.keySet == (0 to 9).toSet)
    assert(out.values.sum == 1000L)
    out.values.foreach(n => assert(n == 100L)) // uniform input → exact deciles
  }

  test("quantileBins: bin ranges are ordered and disjoint") {
    val df = (1 to 500).map(i => Tuple1((i * 37 % 211).toDouble)).toDF("v")
    val rows = RobustStats.quantileBins(df, "v", Seq(0.25, 0.5, 0.75))
      .collect().sortBy(_.getAs[Int]("bin"))
    assert(rows.map(_.getAs[Long]("n")).sum == 500L)
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Double]("max_v") <= hi.getAs[Double]("min_v"))
      case _ => ()
    }
  }

  test("withBin: row-level bins keep payload columns, match the aggregate") {
    val df = (1 to 100).map(i => (i.toDouble, s"p$i")).toDF("v", "payload")
    val binned = RobustStats.withBin(df, "v", Seq(0.5))
    val rows = binned.collect()
    assert(rows.length == 100 && binned.columns.toSeq == Seq("v", "payload", "bin"))
    rows.foreach { r =>
      val expected = if (r.getAs[Double]("v") <= 50.0) 0 else 1
      assert(r.getAs[Int]("bin") == expected, s"v=${r.getAs[Double]("v")}")
    }
  }

  test("trimmedMean drops floor(trim*n) from each end exactly") {
    // group g: values 1..10 with one huge outlier replacing 10 -> 1000.
    // trim=0.1, n=10 -> cut 1 from each end: keep 2..9 -> mean 5.5
    val df = ((1 to 9).map(i => ("g", i.toDouble, i.toLong)) :+ ("g", 1000.0, 10L))
      .toDF("grp", "v", "id")
    val r = RobustStats.trimmedMean(df, Seq("grp"), "v", "id", trim = 0.1)
      .collect().head
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("n_kept") == 8L)
    assert(r.getAs[Double]("trimmed_mean") == 5.5)
  }

  test("trimmedMean with trim=0 is the plain mean; tiny groups keep all rows") {
    val df = Seq(("g", 2.0, 1L), ("g", 4.0, 2L), ("h", 7.0, 3L))
      .toDF("grp", "v", "id")
    val out = RobustStats.trimmedMean(df, Seq("grp"), "v", "id", trim = 0.1)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("trimmed_mean"))).toMap
    // n=2 -> floor(0.2)=0 cut; n=1 -> 0 cut
    assert(out("g") == (2L, 3.0))
    assert(out("h") == (1L, 7.0))
  }
}
