package graft

import java.sql.Timestamp

import graft.ops.{CohortOps, Recodes}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.3): semantic invariants checked over
  * generated inputs rather than fixed fixtures. Generators are sampled
  * with fixed seeds (no scalatest-scalacheck bridge in the offline
  * dependency cache), so every run checks the same derived cases.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll[A](g: Gen[A], n: Int = 5)(check: A => Unit): Unit =
    samples(g, n).foreach(check)

  private val eventGen: Gen[List[(Long, Long, Int, String)]] = for {
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, for {
      entity <- Gen.choose(1L, 4L)
      id     <- Gen.choose(1L, 1000000L)
      day    <- Gen.choose(0, 200)
      typ    <- Gen.oneOf("EMERGENCY", "URGENT", "ELECTIVE")
    } yield (entity, id, day, typ))
  } yield rows.distinctBy(r => (r._1, r._2))

  test("W2 backfill property: next_time equals the first non-excluded successor's time") {
    forAll(eventGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.map { case (e, id, day, t) =>
          (e, id, new Timestamp(86400000L * day), t)
        }.toDF("entity", "event_id", "time", "etype")
        val out = CohortOps
          .labelNextEvent(df, "entity", "time", "etype", "event_id", "ELECTIVE", 30.0)
          .select("entity", "event_id", "next_time").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getTimestamp(2))).toMap
        // reference model: sort per entity, next = first LATER row (strictly
        // after in (time, id) order) whose type != ELECTIVE
        val byEntity = rows.groupBy(_._1)
        byEntity.foreach { case (entity, evs) =>
          val sorted = evs.sortBy(r => (r._3, r._2))
          sorted.zipWithIndex.foreach { case ((_, id, _, _), i) =>
            val expected = sorted.drop(i + 1).find(_._4 != "ELECTIVE")
              .map(r => new Timestamp(86400000L * r._3))
            assert(out((entity, id)) == expected,
              s"entity $entity event $id: got ${out((entity, id))}, want $expected in $sorted")
          }
        }
      }
    }
  }

  test("E10 bucket property: chained ranges are total over their union and first-match-wins") {
    val ranges = Seq((0.0, 10.0, "a"), (5.0, 20.0, "b"), (20.0, 30.0, "c"))
    forAll(Gen.listOfN(30, Gen.choose(-5.0, 35.0))) { vs =>
      if (vs.nonEmpty) {
        val out = vs.toDF("v")
          .select(col("v"), Recodes.rangeBucket(col("v"), ranges, lit("other")).as("b"))
          .collect().map(r => r.getDouble(0) -> r.getString(1))
        out.foreach { case (v, b) =>
          val expected = ranges.find { case (lo, hi, _) => v >= lo && v <= hi }
            .map(_._3).getOrElse("other")
          assert(b == expected, s"$v -> $b, want $expected")
        }
      }
    }
  }

  test("GlobalTopN property: equals orderBy().limit(n) as a set, any n") {
    val gen = for {
      rows <- Gen.listOfN(40, Gen.zip(Gen.choose(1L, 30L), Gen.choose(0.0, 5.0)))
      n    <- Gen.choose(0, 45)
    } yield (rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }, n)
    forAll(gen, n = 4) { case (rows, n) =>
      val df = rows.toDF("id", "k", "v")
      val expected = df.orderBy(col("v"), col("id")).limit(n)
        .select("id").collect().map(_.getLong(0)).toSet
      val got = graft.ops.GlobalTopN.topN(df, n.toLong, col("v"), col("id"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"n=$n")
    }
  }

  test("O5 union property: unionByName preserves row counts") {
    forAll(Gen.zip(Gen.choose(0, 50), Gen.choose(0, 50))) { case (na, nb) =>
      val a = (1 to na).map(i => (i.toLong, "a")).toDF("id", "src")
      val b = (1 to nb).map(i => (i.toLong, "b")).toDF("id", "src")
      assert(a.unionByName(b).count() == na.toLong + nb)
    }
  }

  test("A7 property: confusion counters always sum to n") {
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(0.0, 1.0)))) { rows =>
      if (rows.nonEmpty) {
        val m = graft.ml.Metrics
          .thresholdMetrics(rows.toDF("score", "y"), "score", "y", 0.5)
          .collect()(0)
        val total = m.getAs[Long]("tp") + m.getAs[Long]("fp") +
          m.getAs[Long]("tn") + m.getAs[Long]("fn")
        assert(total == rows.length)
      }
    }
  }

  test("CMS property: estimate >= exact count for EVERY item on random corpora") {
    val corpusGen = Gen.listOfN(60, Gen.zip(
      Gen.choose(1L, 1000000L),
      Gen.listOfN(8, Gen.oneOf("ax", "bx", "cx", "dx", "ex", "fx", "gx", "hx"))))
    forAll(corpusGen, n = 3) { rows =>
      val toks = rows.distinctBy(_._1)
        .map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("id", "text")
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("item"))
      val cms = graft.sketch.Sketches.cmsBuild(toks, "item", depth = 2, width = 8L)
      val exact = toks.groupBy("item").agg(count(lit(1)).as("exact_cnt"))
      // width 8 forces collisions, so the one-sided bound is exercised
      graft.sketch.Sketches.cmsEstimate(cms, exact, "item", depth = 2, width = 8L)
        .join(exact, Seq("item")).collect()
        .foreach { r =>
          assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"),
            s"${r.getAs[String]("item")}")
        }
    }
  }

  test("debounce property: no two kept events of a user within the gap") {
    val gen = Gen.listOfN(30, Gen.zip(
      Gen.choose(1L, 100000L), Gen.choose(1L, 3L), Gen.choose(0L, 20000L)))
    forAll(gen, n = 3) { rows =>
      val df = rows.distinctBy(_._1)
        .map { case (id, u, s) => (id, u, new Timestamp(1704067200000L + s * 1000L)) }
        .toDF("event_id", "user_id", "ts")
      val kept = graft.ops.TimeSeriesOps.debounce(df, "user_id", "ts", "event_id", 1800L)
        .select("user_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L))
      kept.groupBy(_._1).values.foreach { evs =>
        val ts = evs.map(_._2).sorted.toSeq
        ts.sliding(2).foreach {
          case Seq(a, b) => assert(b - a > 1800L, s"kept events $a,$b within gap")
          case _ =>
        }
      }
    }
  }

  test("containment property: jaccard never exceeds either directional containment") {
    val docGen = Gen.listOfN(6, Gen.zip(
      Gen.choose(1L, 1000L),
      Gen.listOfN(12, Gen.oneOf("red", "blue", "green", "gold", "iron", "clay"))))
    forAll(docGen, n = 3) { rows =>
      val docs = rows.distinctBy(_._1)
        .map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
      val cont = graft.dedup.Dedup
        .containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a"))).toMap
      graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.0)
        .collect().foreach { r =>
          val key = (r.getLong(0), r.getLong(1))
          val j = r.getAs[Double]("jaccard")
          val (cab, cba) = cont(key)
          assert(j <= cab + 1e-12 && j <= cba + 1e-12, s"$key: j=$j cont=($cab,$cba)")
          assert(cab >= 0.0 && cab <= 1.0 && cba >= 0.0 && cba <= 1.0)
        }
    }
  }

  test("triangle property: distributed count equals brute-force triple enumeration") {
    val edgeGen = Gen.listOfN(24, Gen.zip(Gen.choose(1L, 8L), Gen.choose(1L, 8L)))
    forAll(edgeGen, n = 5) { raw =>
      // reference model: clean to a simple undirected graph, try all triples
      val simple = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b))
      }.distinct.toSet
      val verts = simple.flatMap(e => Set(e._1, e._2)).toSeq.sorted
      val expected = (for {
        i <- verts; j <- verts if i < j; k <- verts if j < k
        if simple((i, j)) && simple((j, k)) && simple((i, k))
      } yield 1).size.toLong
      val out = graft.ops.Triangles
        .triangleCount(raw.toDF("src", "dst"), "src", "dst").collect()(0)
      assert(out.getAs[Long]("n_triangles") == expected,
        s"edges=$simple expected=$expected")
      assert(out.getAs[Long]("n_edges") == simple.size.toLong)
    }
  }

  test("woeBinned property: bins partition rows and positives exactly") {
    val rowGen = Gen.listOfN(60, Gen.zip(Gen.choose(1, 40), Gen.oneOf(0, 1)))
    forAll(rowGen, n = 4) { raw =>
      val df = raw.map { case (v, y) => (v.toDouble, y) }.toDF("v", "y")
      val bins = graft.ml.TargetEncoding
        .woeBinned(df, "v", col("y") === 1, Seq(0.25, 0.5, 0.75)).collect()
      assert(bins.map(_.getAs[Long]("n")).sum == raw.size.toLong)
      assert(bins.map(_.getAs[Long]("pos")).sum == raw.count(_._2 == 1).toLong)
      bins.foreach { b =>
        val woe = b.getAs[Double]("woe")
        assert(!woe.isNaN && !woe.isInfinite) // the ±0.5 guard keeps WOE finite
      }
    }
  }

  test("cumulativeUniques property: monotone, ends at the distinct entity count") {
    val evGen = Gen.listOfN(30, Gen.zip(Gen.choose(1L, 10L), Gen.choose(0, 15)))
    forAll(evGen, n = 4) { raw =>
      val df = raw.map { case (u, day) =>
        (u, new Timestamp(86400000L * day + 3600000L))
      }.toDF("user_id", "ts")
      val rows = graft.ops.TimeSeriesOps.cumulativeUniques(df, "user_id", "ts")
        .orderBy("day").collect()
      val cums = rows.map(_.getAs[Long]("cum_users"))
      assert(cums.last == raw.map(_._1).distinct.size.toLong)
      assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
      assert(rows.map(_.getAs[Long]("new_users")).sum == cums.last)
    }
  }

  test("group-rank property: withGroupRowNumberAndSize equals the per-group " +
    "window form on random keyed data (including skewed/singleton groups)") {
    val rowGen = Gen.listOfN(40, Gen.zip(
      Gen.oneOf("a", "b", "c", "z"), Gen.choose(-1000L, 1000L), Gen.choose(1L, 1000000L)))
    forAll(rowGen, n = 4) { raw =>
      val rows = raw.distinctBy(_._3)
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "v", "id")
        val got = graft.ops.GlobalRowNumber.withGroupRowNumberAndSize(
          df, "rn", "n", Seq("k"), col("v").desc, col("id").asc)
        val gotMap = got.select("id", "rn", "n").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(col("v").desc, col("id").asc)
        val want = df
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("k")))
          .select("id", "rn", "n").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(gotMap == want)
        // and the ntile arithmetic matches ntile() on every group size
        val gotTile = got.select(col("id"),
          graft.ops.GlobalRowNumber.ntileFromRankCol(col("rn"), col("n"), 4).as("t"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val wantTile = df.withColumn("t", ntile(4).over(w).cast("long"))
          .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotTile == wantTile)
      }
    }
  }
}
