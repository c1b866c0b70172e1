package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as Spark's listener timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One span: workload, operation or public layer call (jobs and stages are
  * attached from the listener by the span id carried in a local property).
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String, start: Double, var end: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = (end - start) / 1000.0
}

/** In-memory span recorder. When disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var enabled = false

  private def attach(s: Option[Span]): Unit = s match {
    case Some(p) =>
      sc.setLocalProperty(SpanKey, p.id.toString)
      sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
    case None =>
      sc.setLocalProperty(SpanKey, null)
      sc.clearJobGroup()
  }

  /** Record `name` around `body`; `trace` is the operation index (root spans only). */
  def span[A](name: String, trace: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.length, parent.map(_.id).getOrElse(-1),
        parent.map(_.trace).getOrElse(trace), name, Clock.nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      attach(Some(s))
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        attach(stack.headOption)
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def self(s: Span): Double = s.dur - children(s).map(_.dur).sum
  /** Every span of one operation's tree, the root included. */
  def opTree(root: Span): Seq[Span] = {
    val out = mutable.ArrayBuffer(root)
    var frontier = Seq(root.id)
    while (frontier.nonEmpty) {
      val next = spans.filter(s => frontier.contains(s.parent))
      out ++= next
      frontier = next.map(_.id).toSeq
    }
    out.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

final class StageRec(val stageId: Int, val attempt: Int, val span: Int, val name: String) {
  var submitted = 0L; var completed = 0L
  var tasks = 0; var failures = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L; var schedDelayMs = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, span: Int, group: String, submitted: Long, stageIds: Seq[Int]) {
  var completed = 0L
}

/** Collects jobs, stages and per-task metrics, keyed to spans by the
  * [[Tracer.SpanKey]] local property (which, unlike the job group, survives
  * into broadcast-exchange jobs). Every callback is O(1).
  */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  @volatile private var drainGroup: String = null
  @volatile private var drained: CountDownLatch = null

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), group, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized(jobs.get(e.jobId).foreach(_.completed = e.time))
    val g = drainGroup
    if (g != null && synchronized(jobs.get(e.jobId).exists(_.group == g))) drained.countDown()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new StageRec(i.stageId, i.attemptNumber(), spanOf(e.properties), i.name))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val info = e.taskInfo
      s.tasks += 1
      if (info.failed || info.killed) s.failures += 1
      s.durations += info.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  /** Block until every event posted before this call has been delivered: a
    * marker job's end event arrives after all earlier events of the queue.
    */
  def drain(sc: SparkContext): Unit = {
    drained = new CountDownLatch(1)
    drainGroup = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(drainGroup, "listener drain", interruptOnCancel = false)
    sc.setLocalProperty(Tracer.SpanKey, null)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drained.await(60, TimeUnit.SECONDS)) throw new IllegalStateException("listener bus did not drain")
  }
}

/** SQL operator metrics from an executed plan, walking into the plan that
  * built a cache materialized by the same query. The benchmark's sessions
  * run without adaptive execution, so there are no query stages to unwrap.
  */
object PlanStats {
  /** (operator, cache depth): 0 = the query itself, 1 = the plan that built
    * a cache this query read for the first time.
    */
  def nodes(root: SparkPlan): Seq[(SparkPlan, Int)] = {
    val out = mutable.ArrayBuffer.empty[(SparkPlan, Int)]
    def walk(p: SparkPlan, cacheDepth: Int): Unit = {
      out += ((p, cacheDepth))
      p match {
        // one cache level: deeper caches were built by earlier queries
        case m: InMemoryTableScanExec if cacheDepth == 0 => walk(m.relation.cachedPlan, cacheDepth + 1)
        case _ =>
      }
      p.children.foreach(walk(_, cacheDepth))
    }
    walk(root, 0)
    out.toSeq
  }

  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
}
