package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-stage profile of a named registry query — the optimization round's
  * "where does the time actually go" readout (guide §1.1/§7.1; the UI is
  * disabled in bench sessions, so this prints what the stage page would).
  *
  *   sbt "runMain graft.tools.StageProbe /root/testdata/sf0.1 <query> [reps]"
  *
  * Runs the query `reps` times (default 2 — rep 1 warms JIT/caches, later
  * reps are the steady state; all reps are listed) with the exact Bench
  * session config, then prints one line per stage: wall, summed task time,
  * task count, shuffle read/write bytes, spill, and the stage's callsite.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.local(graft.Session.cpus)
    case class St(wallMs: Long, taskMs: Long, cpuMs: Long, nTasks: Int,
                  shufReadMB: Double, shufWriteMB: Double, spillMB: Double,
                  inputMB: Double, rows: Long, site: String)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, St)]()
    // stage id -> the submitting job's callSite.short (survives SQL
    // executor-thread submission where stage details carry no graft frame)
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    var rep = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        js.stageIds.foreach(id => stageJob.put(id, site))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        stages.add(rep -> St(wall, m.executorRunTime, m.executorCpuTime / 1000000,
          i.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
          m.inputMetrics.bytesRead / 1e6,
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
          s"[s${i.stageId} job:${stageJob.getOrDefault(i.stageId, "?")}] " +
            i.rddInfos.sortBy(_.id).flatMap(r =>
              r.scope.map(_.name).filter(_.nonEmpty).orElse(Some(r.name)))
              .distinct.mkString(">")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      rep = r
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[probe] rep $r wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byRep = stages.asScala.toList.groupBy(_._1)
    byRep.toSeq.sortBy(_._1).foreach { case (r, ss) =>
      println(s"== rep $r: ${ss.size} stages, " +
        f"task-time ${ss.map(_._2.taskMs).sum / 1e3}%.1f s, " +
        f"wall-sum ${ss.map(_._2.wallMs).sum / 1e3}%.1f s ==")
      ss.map(_._2).sortBy(-_.taskMs).take(20).foreach { s =>
        println(f"  wall ${s.wallMs / 1e3}%6.2f task ${s.taskMs / 1e3}%7.2f cpu ${s.cpuMs / 1e3}%7.2f " +
          f"n=${s.nTasks}%3d sr ${s.shufReadMB}%7.1fMB sw ${s.shufWriteMB}%7.1fMB " +
          f"spill ${s.spillMB}%6.1fMB in ${s.inputMB}%7.1fMB | ${s.site.take(90)}")
      }
    }
    spark.stop()
  }
}
