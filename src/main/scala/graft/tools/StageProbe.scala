package graft.tools

import graft.obs.TaskLog

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
    val fn = graft.SparkEntry.queries(name)
    val byRep = (1 to reps).map { r =>
      val (_, log) = TaskLog.during(spark.sparkContext) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"[probe] rep $r wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      r -> log.stages
    }
    byRep.foreach { case (r, ss) =>
      println(s"== rep $r: ${ss.size} stages, " +
        f"task-time ${ss.map(_.metrics.executorRunTime).sum / 1e3}%.1f s, " +
        f"wall-sum ${ss.map(_.wallMs).sum / 1e3}%.1f s ==")
      ss.sortBy(-_.metrics.executorRunTime).take(20).foreach { s =>
        val m = s.metrics
        val site = s"[s${s.stageId} job:${s.site}] " + s.scopes.mkString(">")
        println(f"  wall ${s.wallMs / 1e3}%6.2f task ${m.executorRunTime / 1e3}%7.2f " +
          f"cpu ${m.executorCpuTime / 1000000 / 1e3}%7.2f n=${s.numTasks}%3d " +
          f"sr ${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1fMB " +
          f"sw ${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1fMB " +
          f"spill ${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%6.1fMB " +
          f"in ${m.inputMetrics.bytesRead / 1e6}%7.1fMB | ${site.take(90)}")
      }
    }
    spark.stop()
  }
}
