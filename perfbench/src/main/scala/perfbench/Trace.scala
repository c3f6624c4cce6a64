package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work the listener attributed to one span, children excluded. */
final class Counters {
  val jobs, stages, tasks, taskMs, cpuNs, gcMs, shuffleBytes, spillBytes = new AtomicLong
}

/** One timed call. Times are `System.nanoTime`; `startMs`/`endMs` are wall
  * clock, to compare with the job submission times Spark reports.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  var pins: Int = 0
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the one client thread of a run.
  *
  * Every span records its wall time and the change in the persisted-RDD
  * count. With `attribute` on, the span id is also set as a Spark local
  * property for the duration of the call, so [[SpanListener]] can charge
  * jobs, stages and tasks to it. Local properties are copied into threads
  * created while the property is set, which is how jobs that the program
  * submits from its own fit pools are attributed; jobs that arrive without
  * a span, or after their span closed, are counted separately so a
  * broken attribution shows instead of silently moving cost around.
  */
final class Tracer(val attribute: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val byId = new ConcurrentHashMap[Int, Span]()
  val counters = new ConcurrentHashMap[Int, Counters]()
  val unattributedJobs, staleJobs = new AtomicLong
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  /** Record against `context` and, when attributing, listen to it. */
  def bind(context: SparkContext): Unit = {
    sc = context
    if (attribute) sc.addSparkListener(new SpanListener(this))
  }

  def countersOf(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  def span[T](name: String)(body: => T): T = {
    val sp = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
      System.nanoTime(), System.currentTimeMillis())
    spans += sp
    byId.put(sp.id, sp)
    stack = sp :: stack
    val pins0 = sc.getPersistentRDDs.size
    val prev = sc.getLocalProperty(Tracer.Prop)
    if (attribute) sc.setLocalProperty(Tracer.Prop, sp.id.toString)
    try body
    finally {
      if (attribute) sc.setLocalProperty(Tracer.Prop, prev)
      sp.pins = sc.getPersistentRDDs.size - pins0
      sp.endMs = System.currentTimeMillis()
      sp.endNs = System.nanoTime()
      stack = stack.tail
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Charges Spark jobs, stages and task metrics to the span named by the
  * local property the job was submitted with.
  */
final class SpanListener(t: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).fold(-1)(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties)
    if (id < 0) t.unattributedJobs.incrementAndGet()
    else {
      val sp = t.byId.get(id)
      // submitted after its span closed: a reused thread carried a stale tag
      if (sp.endMs >= 0 && e.time > sp.endMs) t.staleJobs.incrementAndGet()
    }
    t.countersOf(id).jobs.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, id)
    t.countersOf(id).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = Option(stageSpan.get(e.stageId)).fold(-1)(_.intValue)
    val c = t.countersOf(id)
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }
}
