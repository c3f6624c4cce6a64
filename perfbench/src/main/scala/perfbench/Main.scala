package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one process: set up, iterate one workload in a
  * closed loop, and write the raw measurements as JSON.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --min-warm <m> --budget <s> --work <dir> --out <file>
  * }}}
  *
  * Set-up is timed once, from process start until the session is ready.
  * The first iteration is the cold one. Warm iterations follow until at
  * least `min-warm` ran and `seconds` passed since the first warm one
  * started, and no iteration starts that would not end within `budget`
  * seconds of process start. Output checks run between an iteration's timed
  * work and its timed release, outside the measured wall.
  */
object Main {
  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Collects the heap and waits until Spark's cleaner stops releasing
    * persisted RDDs, so neither lands in the next timed iteration. Returns
    * the heap still in use afterwards: what the process retains.
    */
  private def settle(sc: org.apache.spark.SparkContext): Double = {
    System.gc()
    val until = System.nanoTime() + 3000000000L
    var (last, stable) = (-1, 0)
    while (stable < 3 && System.nanoTime() < until) {
      Thread.sleep(50)
      val n = sc.getPersistentRDDs.size
      if (n == last) stable += 1 else { last = n; stable = 0 }
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
        StandardCharsets.UTF_8).linesIterator.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  /** The program's bench session config, with scratch space kept in `work`. */
  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.RowNumberTopK.install(s)
    s
  }

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val minWarm = opt("min-warm").toInt
    val work = opt("work")
    val startNs = System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val deadlineNs = startNs + (opt("budget").toDouble * 1e9).toLong

    val workloads = Map[String, () => Workload](
      "readmission_e2e" -> (() => new ReadmissionE2e(seed)),
      "cohort_queries" -> (() => new CohortQueries(seed)))
    val w = workloads(opt("workload"))()
    val t = new Tracer(trace)

    val s = session(cores, work)
    val setupS = (System.nanoTime() - startNs) / 1e9
    t.bind(s.sparkContext)
    val sc = s.sparkContext
    settle(sc)  // every iteration starts from a collected heap

    val iters = ArrayBuffer.empty[Map[String, Any]]
    val iterSpans = ArrayBuffer.empty[Int]
    var warmStart = 0L
    var lastNs = 0L
    def more(n: Int) = n <= minWarm || System.nanoTime() - warmStart < seconds * 1e9
    def fits = System.nanoTime() + lastNs * 13 / 10 < deadlineNs
    while (iters.isEmpty || (more(iters.size) && fits)) {
      if (iters.size == 1) warmStart = System.nanoTime()
      val c0 = cpuNs(); val t0 = System.nanoTime()
      var error: String = null
      def guard[T](empty: T)(body: => T): T =
        try body catch { case NonFatal(e) => if (error == null) error = errorText(e); empty }
      iterSpans += t.spans.size
      guard(())(t.span("bench.iter")(w.run(s, t)))
      val c1 = cpuNs(); val t1 = System.nanoTime()
      lastNs = t1 - t0
      val out = if (error != null) Map.empty[String, Any]
        else guard(Map.empty[String, Any])(t.span("bench.check")(w.check()))
      val c2 = cpuNs(); val t2 = System.nanoTime()
      guard(())(t.span("bench.release")(w.release()))
      val c3 = cpuNs(); val t3 = System.nanoTime()
      lastNs += t3 - t2
      // leak readout: what stays persisted once the harness released its own
      val liveMb = settle(sc)
      iters += Map(
        "wall_s" -> lastNs / 1e9,
        "cpu_s" -> ((c1 - c0) + (c3 - c2)) / 1e9,
        "error" -> error,
        "out" -> out,
        "pins" -> sc.getPersistentRDDs.size,
        "cached_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6,
        "live_heap_mb" -> liveMb)
    }
    // traced runs also time, once each, the layers this workload never calls,
    // so every per-layer metric is measured in every traced run; the other
    // workload's output is returned for the same checks as an iteration's
    val probe: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val (name, make) = workloads.find(_._1 != opt("workload")).get
        val o = make()
        var out = Map.empty[String, Any]
        val error = try {
          t.span("probe") {
            LayerProbe.run(s, t)
            try { o.run(s, t); out = t.span("bench.check")(o.check()) } finally o.release()
          }
          null
        } catch { case NonFatal(e) => errorText(e) }
        Map("workload" -> name, "error" -> error, "out" -> out)
      }
    org.apache.spark.BusDrain(sc)

    val result = Map[String, Any](
      "workload" -> opt("workload"),
      "cores" -> cores,
      "setup_s" -> setupS,
      "iters" -> iters.toSeq,
      "probe" -> probe,
      "peak_rss_mb" -> peakRssMb(),
      "order" -> (w match { case c: CohortQueries => c.order; case _ => Seq.empty }),
      "per_layer" -> (if (trace) Layers.metrics(t, cores, iterSpans.toSeq) else Map.empty),
      "spans" -> (if (trace) t.spans.toSeq.map(sp => Map(
        "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
        "start_s" -> (sp.startNs - startNs) / 1e9, "end_s" -> (sp.endNs - startNs) / 1e9))
        else Seq.empty))
    Files.write(Paths.get(opt("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    s.stop()
  }
}

/** Per-layer metrics from the recorded spans: `<span>.<counter>`, the median
  * over the span's calls. Spans inside the cold iteration count only when
  * the span has no warm call.
  */
object Layers {
  def metrics(t: Tracer, cores: Int, iterStarts: Seq[Int]): Map[String, Double] = {
    val spans = t.spans.toIndexedSeq
    val n = spans.size
    // inclusive counters: children always have larger ids than their parent
    val incl = Array.fill(n)(new Array[Double](8))
    val planS, execS = new Array[Double](n)
    for (id <- (n - 1) to 0 by -1) {
      val c = Option(t.counters.get(id))
      val own = c.fold(Array.fill(8)(0.0))(c => Array(
        c.jobs.get.toDouble, c.stages.get.toDouble, c.tasks.get.toDouble,
        c.taskMs.get / 1e3, c.cpuNs.get / 1e9, c.gcMs.get / 1e3,
        c.shuffleBytes.get / 1e6, c.spillBytes.get / 1e6))
      for (k <- 0 until 8) incl(id)(k) += own(k)
      if (spans(id).name == "plan") planS(id) += spans(id).wallS
      if (spans(id).name == "exec") execS(id) += spans(id).wallS
      val p = spans(id).parent
      if (p >= 0) {
        for (k <- 0 until 8) incl(p)(k) += incl(id)(k)
        planS(p) += planS(id); execS(p) += execS(id)
      }
    }
    def perCall(id: Int): Map[String, Double] = {
      val sp = spans(id)
      val Array(jobs, stages, tasks, taskS, cpuS, gcS, shuffleMb, spillMb) = incl(id)
      Map("wall_s" -> sp.wallS, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "task_s" -> taskS, "cpu_s" -> cpuS, "gc_s" -> gcS, "shuffle_mb" -> shuffleMb,
        "spill_mb" -> spillMb, "pins" -> sp.pins.toDouble,
        "core_busy" -> taskS / (sp.wallS * cores),
        "core_idle_s" -> (sp.wallS * cores - taskS),
        "plan_s" -> planS(id), "exec_s" -> execS(id))
    }
    val coldIds: Set[Int] = iterStarts.headOption.fold(Set.empty[Int]) { root =>
      val end = iterStarts.lift(1).getOrElse(n)
      (root until end).toSet
    }
    val byName = spans.groupBy(_.name)
    val layer = byName.flatMap { case (name, calls) =>
      val warm = calls.filterNot(sp => coldIds(sp.id))
      val use = if (warm.nonEmpty) warm else calls
      val per = use.map(sp => perCall(sp.id))
      per.head.keys.map(k => s"$name.$k" -> Main.median(per.map(_(k))))
    }
    val iterIds = iterStarts.drop(1)
    val cover = iterIds.map { id =>
      t.children(id).map(_.wallS).sum / spans(id).wallS
    }
    layer ++ Map(
      "bench.span_cover" -> Main.median(cover),
      "bench.unattributed_jobs" -> t.unattributedJobs.get.toDouble,
      "bench.stale_jobs" -> t.staleJobs.get.toDouble)
  }
}
