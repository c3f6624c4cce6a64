package graft.tools

/** Restricted-heap child session for the memory/spill banding tier
  * (r14, verdict #3). `spark.memory.fraction` is a static conf and the
  * heap of a running JVM cannot shrink, so memory tiers are real child
  * JVMs: the Scale harness (and ScaleSpec) spawn
  * `java -Xmx<tier> -cp <inherited classpath> graft.tools.SpillProbe op n out`
  * and read back one flat JSON line with wall seconds, spilled bytes
  * (TaskMetrics.memoryBytesSpilled/diskBytesSpilled summed over tasks),
  * and the result row count — so "degrades via spill, never OOM, same
  * answer" is a measured contract, not prose.
  *
  * args: <op: ppjoin|minhash> <nDocs> <outPath>; every child runs
  * local[16] with 32 shuffle partitions.
  * The two ops are the repo's biggest-shuffle operators: the PPJoin
  * verification join (whose 44.6-170.5 s cross-run variance at 500k docs
  * r11 observed and never attributed) and the MinHash banded
  * self-join.
  */
object SpillProbe {
  private val Cpus = 16
  private val Parts = 32
  private val TimeoutSec = 2400L

  /** Spawn this probe as a restricted-heap child JVM (classpath and
    * JDK-17 --add-opens inherited from this forked process) and parse
    * its one-line JSON back into a field map. None on timeout or
    * non-zero exit (an OOM-killed child lands here — the no-OOM
    * contract asserts on isDefined); the child log path is printed so
    * failures are diagnosable.
    */
  def spawn(op: String, n: Long, heap: String): Option[Map[String, Double]] = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val out = java.nio.file.Files.createTempFile("graft_spill_probe", ".json")
    val log = java.io.File.createTempFile("graft_spill_probe_log", ".txt")
    log.deleteOnExit()
    try {
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        s"-Xmx$heap", "-cp", cp, "graft.tools.SpillProbe",
        op, n.toString, out.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      releaseFreeHeap()
      val proc = pb.start()
      val done = proc.waitFor(TimeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        proc.destroyForcibly()
        System.err.println(s"[spill-probe] $op n=$n heap=$heap TIMED OUT — log: $log")
        None
      } else if (proc.exitValue() != 0) {
        System.err.println(
          s"[spill-probe] $op n=$n heap=$heap exited ${proc.exitValue()} — log: $log")
        None
      } else {
        val json = new String(java.nio.file.Files.readAllBytes(out),
          java.nio.charset.StandardCharsets.UTF_8)
        val field = """"([a-z_]+)":(-?[0-9.]+)""".r
        val m = field.findAllMatchIn(json)
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
        if (m.contains("wall_sec")) Some(m) else {
          System.err.println(s"[spill-probe] $op n=$n heap=$heap bad output '$json' — log: $log")
          None
        }
      }
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  /** Shrinks this JVM's committed heap to about its live set before a
    * child starts. The child's heap is real memory on the same machine,
    * and a long-lived parent (the forked test JVM late in the suite) keeps
    * its whole heap committed: on a 16 GB box a 7 GB parent plus the 16g
    * tier's ~6-7 GB got the parent OOM-killed. A full GC alone does not
    * help, because G1 only shrinks to live/(1 - MaxHeapFreeRatio) and the
    * parent's ~2 GB live set keeps that above a 7 GB heap. So the free
    * ratios are lowered for that one GC (both flags are manageable) and
    * then restored; the heap grows back on demand.
    */
  private def releaseFreeHeap(): Unit = {
    val hs = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val minFree = hs.getVMOption("MinHeapFreeRatio").getValue
    val maxFree = hs.getVMOption("MaxHeapFreeRatio").getValue
    hs.setVMOption("MinHeapFreeRatio", "0")
    hs.setVMOption("MaxHeapFreeRatio", "10")
    try System.gc()
    finally {
      hs.setVMOption("MaxHeapFreeRatio", maxFree)
      hs.setVMOption("MinHeapFreeRatio", minFree)
    }
  }

  def main(args: Array[String]): Unit = {
    val op = args(0)
    val n = args(1).toLong
    val outPath = args(2)
    val spark = graft.Session.local(Cpus)
    spark.conf.set("spark.sql.shuffle.partitions", Parts)

    val ((rows, wall), log) = graft.obs.TaskLog.during(spark.sparkContext) {
      val docs = graft.sources.ScaleSynth.zipfDocuments(spark, n)
      graft.Materialize.scoped(docs) {
        docs.count()
        val t0 = System.nanoTime()
        val rows = op match {
          case "ppjoin" =>
            graft.dedup.Dedup
              .prefixJaccardPairs(docs, "doc_id", "text", threshold = 0.9).count()
          case "minhash" =>
            graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text").count()
          case other => sys.error(s"unknown op: $other")
        }
        (rows, (System.nanoTime() - t0) / 1e9)
      }
    }
    val metrics = log.tasks.flatMap(_.metrics)
    val spillMem = metrics.map(_.memoryBytesSpilled).sum
    val spillDisk = metrics.map(_.diskBytesSpilled).sum
    val peakExec = metrics.map(_.peakExecutionMemory).maxOption.getOrElse(0L)

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val json =
      f"""{"op":"$op","n":$n,"heap_mb":$heapMb,"cpus":$Cpus,"partitions":$Parts,""" +
        f""""wall_sec":$wall%.2f,"spill_mem_mb":${spillMem / 1048576.0}%.1f,""" +
        f""""spill_disk_mb":${spillDisk / 1048576.0}%.1f,""" +
        f""""peak_task_exec_mb":${peakExec / 1048576.0}%.1f,"rows":$rows}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
