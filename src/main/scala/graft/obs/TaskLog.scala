package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.Shim

/** The engine's one task-metrics listener: the tasks that end and the
  * stages that complete while a body runs. Opened only through
  * [[TaskLog.during]], which hands it out once Spark's asynchronous
  * listener bus has delivered the body's last events.
  */
final class TaskLog private () extends SparkListener {
  import TaskLog._
  private val taskQ = new ConcurrentLinkedQueue[Task]()
  private val stageQ = new ConcurrentLinkedQueue[Stage]()
  // stage id -> the submitting job's callSite.short (survives SQL
  // executor-thread submission, where stage details carry no graft frame)
  private val stageSite = new ConcurrentHashMap[Int, String]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val site = Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short")))
    js.stageIds.foreach(stageSite.put(_, site.getOrElse("")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = Option(e.taskInfo)
    taskQ.add(Task(e.stageId, info.exists(_.successful),
      info.filter(_.finished).map(_.duration).getOrElse(0L), Option(e.taskMetrics)))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
    stageQ.add(Stage(i.stageId, wall, i.numTasks, i.taskMetrics, stageSite.getOrDefault(i.stageId, "?"),
      i.rddInfos.sortBy(_.id).flatMap(r =>
        r.scope.map(_.name).filter(_.nonEmpty).orElse(Some(r.name))).distinct.toSeq))
  }

  def tasks: Seq[Task] = taskQ.asScala.toSeq
  def stages: Seq[Stage] = stageQ.asScala.toSeq

  private def durationsByStage: Iterable[Seq[Long]] =
    tasks.filter(_.successful).groupBy(_.stageId).values.map(_.map(_.durationMs))
  def heaviestStageMaxMed: (Long, Long) = TaskLog.heaviestStageMaxMed(durationsByStage)
  def worstSkewRatio: Double = TaskLog.worstSkewRatio(durationsByStage)
}

object TaskLog {
  /** One ended task: its wall ms and Spark's metrics (run, CPU and GC
    * time, shuffle read and write, spill, peak execution memory, input),
    * which a task that failed before reporting has not. */
  final case class Task(stageId: Int, successful: Boolean, durationMs: Long,
                        metrics: Option[TaskMetrics])

  /** One completed stage: wall ms (-1 without times), Spark's metrics summed
    * over its tasks, the job's call site and the scope names of its RDDs. */
  final case class Stage(stageId: Int, wallMs: Long, numTasks: Int, metrics: TaskMetrics,
                         site: String, scopes: Seq[String])

  /** Runs `body` with a fresh log attached to `sc` and returns the log once
    * the listener bus is empty, so it holds every event `body`'s jobs
    * posted; a drain that times out throws. The listener is removed also
    * when `body` throws.
    */
  def during[T](sc: SparkContext)(body: => T): (T, TaskLog) = {
    val log = new TaskLog
    sc.addSparkListener(log)
    try {
      val out = body
      Shim.drainListenerBus(sc)
      (out, log)
    } finally sc.removeSparkListener(log)
  }

  // skew readouts count only stages of ≥ 8 tasks: a straggler needs
  // siblings to straggle against. The median is the lower middle.
  private def skewable(stages: Iterable[Seq[Long]]) = stages.filter(_.size >= 8).map(_.sorted)
  private def median(sorted: Seq[Long]): Long = sorted((sorted.size - 1) / 2)

  /** (max, median) task ms of the stage with the most total task time;
    * (-1, -1) if there is none. On a cluster the stage barrier makes the
    * max task the stage's wall, so max/median is the wall penalty of skew.
    */
  def heaviestStageMaxMed(stageDurations: Iterable[Seq[Long]]): (Long, Long) =
    skewable(stageDurations).maxByOption(_.sum).map(s => (s.last, median(s))).getOrElse((-1L, -1L))

  /** Worst max/median task time over the stages that carry real work: a
    * total of ≥ 25 % of the heaviest stage's and ≥ 100 ms (skew in a
    * trivial side stage is noise); -1 if there is none.
    */
  def worstSkewRatio(stageDurations: Iterable[Seq[Long]]): Double = {
    val stages = skewable(stageDurations)
    val heaviest = stages.map(_.sum).maxOption.getOrElse(0L)
    stages.filter(s => s.sum >= 0.25 * heaviest && s.sum >= 100L)
      .map(s => s.last.toDouble / math.max(median(s), 1L)).maxOption.getOrElse(-1.0)
  }
}
