package graft.obs

import graft.SparkSpecBase
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `TaskLog`: a log read right after `during` returns is complete, and the
  * two skew readouts keep their thresholds on literal task durations.
  */
class TaskLogSpec extends SparkSpecBase {
  import TaskLog.{heaviestStageMaxMed, worstSkewRatio}

  private def aggregate(): Long =
    spark.range(0, 2000, 1, 16).selectExpr("sum(id)").head().getLong(0)

  // one successful task record for every task of each stage the log holds,
  // among them the aggregate's 16-task stage
  private def assertComplete(run: Int, log: TaskLog): Unit = {
    assert(log.stages.exists(_.numTasks == 16), s"run $run: no 16-task stage in ${log.stages}")
    val succeeded = log.tasks.filter(_.successful).groupBy(_.stageId)
    log.stages.foreach { st =>
      val seen = succeeded.get(st.stageId).map(_.size).getOrElse(0)
      assert(seen == st.numTasks,
        s"run $run: stage ${st.stageId} ran ${st.numTasks} tasks, the log holds $seen")
    }
  }

  test("a log read right after during returns holds every task of the stages it recorded") {
    (1 to 50).foreach { run =>
      val (sum, log) = TaskLog.during(spark.sparkContext)(aggregate())
      assert(sum == 1999000L)
      assertComplete(run, log)
    }
  }

  test("the log is complete also when the shared listener queue lags behind the jobs") {
    // a query listener runs on the same listener-bus queue as the log, so
    // a slow one holds back the events of the jobs that follow it
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = Thread.sleep(500)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try (1 to 5).foreach { run =>
      val (_, log) = TaskLog.during(spark.sparkContext) { spark.range(1).count(); aggregate() }
      assertComplete(run, log)
    } finally spark.listenerManager.unregister(slow)
  }

  test("a job run under setCallSite records that site on its stages") {
    val sc = spark.sparkContext
    val (_, log) = TaskLog.during(sc) {
      sc.setCallSite("x")
      try aggregate() finally sc.clearCallSite()
    }
    assert(log.stages.nonEmpty && log.stages.forall(_.site == "x"), log.stages)
  }

  test("a stage with fewer than 8 tasks is ignored") {
    val seven = Seq(1000L, 1000L, 1000L, 1000L, 1000L, 1000L, 90000L)
    val eight = Seq.fill(7)(100L) :+ 300L
    assert(heaviestStageMaxMed(Seq(seven, eight)) == ((300L, 100L)))
    assert(worstSkewRatio(Seq(seven, eight)) == 3.0)
    assert(heaviestStageMaxMed(Seq(seven)) == ((-1L, -1L)))
    assert(worstSkewRatio(Seq(seven)) == -1.0)
  }

  test("a stage under 25 % of the heaviest's total, or under 100 ms, is ignored") {
    val heavy = Seq.fill(8)(1000L) // total 8,000 ms, max/median 1
    assert(worstSkewRatio(Seq(heavy, Seq.fill(7)(10L) :+ 1900L)) == 1.0) // 1,970 ms
    assert(worstSkewRatio(Seq(heavy, Seq.fill(7)(10L) :+ 1930L)) == 193.0) // 2,000 ms
    assert(worstSkewRatio(Seq(Seq.fill(7)(1L) :+ 92L)) == -1.0) // 99 ms
    assert(worstSkewRatio(Seq(Seq.fill(7)(1L) :+ 93L)) == 93.0) // 100 ms
  }

  test("an even task count takes the lower middle as the median") {
    val s = Seq(800L, 100L, 700L, 200L, 600L, 300L, 500L, 400L)
    assert(heaviestStageMaxMed(Seq(s)) == ((800L, 400L)))
    assert(worstSkewRatio(Seq(s)) == 2.0)
  }

  test("with no qualifying stage the readouts are -1") {
    assert(heaviestStageMaxMed(Seq.empty) == ((-1L, -1L)))
    assert(worstSkewRatio(Seq.empty) == -1.0)
  }

  test("during rethrows the body's exception") {
    val e = intercept[IllegalStateException] {
      TaskLog.during(spark.sparkContext) {
        spark.range(10).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
  }
}
