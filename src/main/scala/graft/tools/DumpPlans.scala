package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` for a named list of registry queries into
  * per-query text files — the optimization round's before/after plan
  * artifacts (`plans/r14/<query>_{before,after}.txt`).
  *
  *   sbt "runMain graft.tools.DumpPlans /root/testdata/sf0.1 plans/r14 before q1,q2"
  *
  * The session comes from `graft.Session`, as Bench's and Verify's do, so
  * the dumped plan is the benched plan.
  */
object DumpPlans {
  /** Ids a plan numbers per run (expression, AQE plan, query stage,
    * codegen stage, compiled lambda, streaming run UUID, object hash, RDD)
    * and the per-partition offsets a distributed prefix sum computes from
    * the run's partitioning, replaced so that two runs of one commit write
    * identical files.
    */
  private val runIds: Seq[(scala.util.matching.Regex, String)] = Seq(
    """#\d+""".r -> "#N",
    """plan_id=\d+""".r -> "plan_id=N",
    """(?m)(^\(\d+\) \w*QueryStage\n(?:.+\n)*?Arguments: )\d+""".r -> "$1N",
    """\[codegen id : \d+\]""".r -> "[codegen id : N]",
    """\*\(\d+\)""".r -> "*(N)",
    """(\$anonfun\$[\w$]*?\$)\d+""".r -> "$1N",
    """\$\$Lambda[^\s,\])]*""".r -> """\$\$Lambda""",
    """[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}""".r -> "UUID",
    """(\w)@[0-9a-f]{1,8}\b""".r -> "$1@N",
    """RDD\[\d+\]""".r -> "RDD[N]",
    """element_at\(map\(keys: \[[^\]]*\], values: \[[^\]]*\]\), _pid#""".r ->
      "element_at(map(<partition offsets>), _pid#")

  /** The plan text DumpPlans and PlanAudit write: run ids replaced, and
    * giant binary literals (bloom sketches dump as hundreds of KB of hex)
    * cut to their byte count. */
  private[graft] def normalize(plan: String): String =
    runIds.foldLeft("0[xX]([0-9A-Fa-f]{64})[0-9A-Fa-f]+".r.replaceAllIn(plan,
      m => s"0x${m.group(1)}…<${(m.matched.length - 2) / 2} bytes elided>")) {
      case (p, (re, to)) => re.replaceAllIn(p, to)
    }

  /** Whether a registry row computed while it was built: its executed
    * plan is a bare scan of data the builder already produced (a
    * `LocalTableScan`, or an RDD scan of a `parallelize`d result), so the
    * plan shows none of that work. */
  private[graft] def computedAtBuild(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, WholeStageCodegenExec}
    df.queryExecution.executedPlan match {
      case _: LocalTableScanExec | _: RDDScanExec | WholeStageCodegenExec(_: RDDScanExec) => true
      case _ => false
    }
  }

  /** The plan text of a registry row's frame, as both tools write it:
    * [[normalize]]d `explain("formatted")`, headed by a note when the row
    * [[computedAtBuild]].
    */
  private[graft] def render(df: org.apache.spark.sql.DataFrame): String = {
    val plan = normalize(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    if (computedAtBuild(df))
      "-- computed at build time: the plan below is only the scan of the " +
        "builder's collected result\n" + plan
    else plan
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2) // "before" | "after"
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Session.local(graft.Session.cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = render(graft.SparkEntry.queries(name)(spark, sfDir))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plans] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
