package graft.plans

import org.apache.spark.sql.catalyst.plans.physical
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** The plan-shape vocabulary: one claim about a physical plan per value,
  * checked against every operator the plan runs ([[PlanCheck.operators]]).
  * The registry's plan contract (`graft.PlanAudit.table`) is written in it.
  */
sealed trait PlanCheck {
  def describe: String
  def holds(ops: Seq[SparkPlan]): Boolean
}

object PlanCheck {

  /** How many operators of a kind a plan may hold. */
  sealed trait Count {
    def ok(n: Int): Boolean
    def describe: String
  }
  final case class Exactly(n: Int) extends Count {
    def ok(m: Int): Boolean = m == n
    def describe: String = s"= $n"
  }
  final case class AtMost(n: Int) extends Count {
    def ok(m: Int): Boolean = m <= n
    def describe: String = s"≤ $n"
  }
  final case class AtLeast(n: Int) extends Count {
    def ok(m: Int): Boolean = m >= n
    def describe: String = s"≥ $n"
  }

  /** Which shuffles a [[Shuffles]] check counts. */
  sealed trait Partitioning {
    def matches(p: physical.Partitioning): Boolean
    def describe: String
  }
  case object AnyPartitioning extends Partitioning {
    def matches(p: physical.Partitioning): Boolean = true
    def describe: String = "shuffle exchanges"
  }
  /** The exchange that funnels every row through one task. */
  case object Single extends Partitioning {
    def matches(p: physical.Partitioning): Boolean =
      p == SinglePartition
    def describe: String = "SinglePartition exchanges"
  }
  case object Range extends Partitioning {
    def matches(p: physical.Partitioning): Boolean =
      p.isInstanceOf[RangePartitioning]
    def describe: String = "rangepartitioning exchanges"
  }
  /** A hash exchange whose first key is the column `key`. */
  final case class HashOn(key: String) extends Partitioning {
    def matches(p: physical.Partitioning): Boolean = p match {
      case h: HashPartitioning => h.expressions.headOption.exists(named(_, key))
      case _ => false
    }
    def describe: String = s"hashpartitioning($key, …) exchanges"
  }

  /** Shuffle exchanges of a partitioning; a reused exchange is not counted
    * again. */
  final case class Shuffles(count: Count, partitioning: Partitioning = AnyPartitioning)
      extends PlanCheck {
    def describe: String = s"${partitioning.describe} ${count.describe}"
    def holds(ops: Seq[SparkPlan]): Boolean = count.ok(ops.count {
      case s: ShuffleExchangeLike => partitioning.matches(s.outputPartitioning)
      case _ => false
    })
  }

  /** Operators whose class name, less `Exec`, ends with `name`: "Window",
    * "TakeOrderedAndProject", "BroadcastHashJoin", or "Join" for every join.
    */
  final case class Node(name: String, count: Count) extends PlanCheck {
    def describe: String = s"$name operators ${count.describe}"
    def holds(ops: Seq[SparkPlan]): Boolean =
      count.ok(ops.count(op => opName(op).endsWith(name)))
  }

  /** Joins of a join type ("LeftSemi", "LeftAnti", "FullOuter", …). */
  final case class Joins(joinType: String, count: Count) extends PlanCheck {
    def describe: String = s"$joinType joins ${count.describe}"
    def holds(ops: Seq[SparkPlan]): Boolean = count.ok(ops.count {
      case j: BaseJoinExec => j.joinType.toString == joinType
      case _ => false
    })
  }

  /** A file scan whose pushed data filters (or, `partition`, partition
    * filters) contain `text` as printed, expression ids left out. */
  final case class ScanFilter(text: String, partition: Boolean = false) extends PlanCheck {
    private def key = if (partition) "PartitionFilters" else "PushedFilters"
    def describe: String = s"a scan's $key contains `$text`"
    def holds(ops: Seq[SparkPlan]): Boolean = ops.exists {
      case s: FileSourceScanExec =>
        s.metadata.get(key).exists(_.replaceAll("#\\d+", "").contains(text))
      case _ => false
    }
  }

  /** `column` is in a scanned table, but no file scan reads it. */
  final case class Unread(column: String) extends PlanCheck {
    def describe: String = s"`$column` is scanned past: in a table, in no ReadSchema"
    def holds(ops: Seq[SparkPlan]): Boolean = {
      val scans = ops.collect { case s: FileSourceScanExec => s }
      scans.exists(_.relation.schema.fieldNames.contains(column)) &&
        !scans.exists(_.requiredSchema.fieldNames.contains(column))
    }
  }

  /** Window operators partitioned by the column `key`; with `key` empty,
    * window operators with no partition key (they run in one task). */
  final case class WindowBy(key: String, count: Count) extends PlanCheck {
    def describe: String =
      if (key.isEmpty) s"unpartitioned windows ${count.describe}"
      else s"windows partitioned by $key ${count.describe}"
    def holds(ops: Seq[SparkPlan]): Boolean = count.ok(ops.count {
      case w: WindowExec =>
        if (key.isEmpty) w.partitionSpec.isEmpty else w.partitionSpec.exists(named(_, key))
      case _ => false
    })
  }

  private def named(e: org.apache.spark.sql.catalyst.expressions.Expression, key: String): Boolean =
    e match {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name == key
      case _ => false
    }

  private[graft] def opName(op: SparkPlan): String = op.getClass.getSimpleName.stripSuffix("Exec")

  /** Every operator `plan` runs: its tree, the current plan under adaptive
    * execution and inside each query stage, subquery plans, and the plans
    * of cached relations it reads. A reused exchange is a leaf: the
    * exchange it reuses is counted where it first runs.
    */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    plan +: (plan.children ++ inner ++ plan.subqueries).flatMap(operators)
  }
}
