package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Counters hold only the Spark work whose
  * jobs were submitted while this span was the innermost open one; the
  * analysis adds children in.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val run: String, val startNs: Long = System.nanoTime()) {
  val startMs: Long =
    System.currentTimeMillis() - (System.nanoTime() - startNs) / 1000000L
  val gcStartMs: Long = Trace.gcMillis()
  var endMs: Long = 0L
  var endNs: Long = 0L
  var gcEndMs: Long = 0L
  /** Time spent draining listener events after the span ended; it is
    * tracing cost, and the analysis takes it out of the parent's time.
    */
  var drainNs: Long = 0L
  var jobsSubmitted, jobsCompleted, stagesSubmitted, stagesCompleted,
    tasks: Int = 0
  var taskRunMs, taskCpuNs, shuffleReadB, shuffleWriteB, spillB,
    inputB: Long = 0L
  var exchanges, topkNodes: Int = 0
  var drainTimedOut: Boolean = false
  val jobIntervals: mutable.Map[Int, (Long, Long)] = mutable.Map.empty
  val attrs: mutable.Map[String, Double] = mutable.Map.empty

  def settled: Boolean =
    jobsCompleted == jobsSubmitted && stagesCompleted == stagesSubmitted

  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "parent" -> parent, "run" -> run,
    "start_ms" -> startMs, "end_ms" -> endMs,
    "start_ns" -> startNs, "end_ns" -> endNs,
    "dur_s" -> (endNs - startNs) / 1e9, "drain_s" -> drainNs / 1e9,
    "gc_s" -> (gcEndMs - gcStartMs) / 1e3,
    "jobs" -> jobsSubmitted, "jobs_completed" -> jobsCompleted,
    "stages" -> stagesSubmitted, "stages_completed" -> stagesCompleted,
    "tasks" -> tasks, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "shuffle_read_b" -> shuffleReadB,
    "shuffle_write_b" -> shuffleWriteB, "spill_b" -> spillB,
    "input_b" -> inputB, "exchanges" -> exchanges, "topk_nodes" -> topkNodes,
    "drain_timed_out" -> drainTimedOut,
    "job_intervals" -> jobIntervals.values.toSeq.sorted
      .map { case (s, e) => Seq(s, e) },
    "attrs" -> attrs.toMap)
}

/** Spans recorded around calls into the library, with Spark work
  * attributed to them by a SparkContext local property (never by time
  * overlap). Spans stay in memory until [[spanMaps]] at the end of the run.
  * When disabled, [[span]] only runs its body.
  */
final class Trace(spark: SparkSession, drainTimeoutMs: Long = 60000L)
    extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  @volatile private var open: List[Span] = Nil
  private var enabled = false
  var run: String = ""

  def setEnabled(on: Boolean): Unit = synchronized {
    if (on && !enabled) {
      // events of untraced work still queued must not reach this listener
      ListenerDrain.drain(sc, drainTimeoutMs)
      sc.addSparkListener(this)
      spark.listenerManager.register(this)
    }
    if (!on && enabled) {
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    enabled = on
  }

  /** Time `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = newSpan(name, System.nanoTime())
      open = s :: open
      sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = Trace.gcMillis()
        // the span stays innermost while draining, so late plan events
        // are still credited to it
        settle(s)
        s.drainNs = System.nanoTime() - s.endNs
        open = open.tail
        sc.setLocalProperty(Trace.SpanKey,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  private def newSpan(name: String, startNs: Long): Span = synchronized {
    val s = new Span(Trace.ids.incrementAndGet(), name,
      open.headOption.map(_.id).getOrElse(0), run, startNs)
    spans += s
    byId(s.id) = s
    s
  }

  /** Record a span that ran before tracing could start (the session
    * start), from its start time and duration in nanoseconds.
    */
  def recordClosed(name: String, startNs: Long, durNs: Long): Unit =
    if (enabled) {
      val s = newSpan(name, startNs)
      s.endNs = startNs + durNs
      s.endMs = s.startMs + durNs / 1000000L
      s.gcEndMs = s.gcStartMs
    }

  /** Record a value on the innermost open span. */
  def attr(key: String, value: Double): Unit =
    open.headOption.foreach(s => synchronized(s.attrs(key) = value))

  /** Deterministic drain: wait until the bus has delivered every event
    * posted so far, then until the span's completed jobs and stages equal
    * its submitted ones, within a timeout, never sleeping a fixed time.
    */
  private def settle(s: Span): Unit = {
    val deadline = System.currentTimeMillis() + drainTimeoutMs
    val emptied = ListenerDrain.drain(sc, drainTimeoutMs)
    synchronized {
      while (!s.settled && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      s.drainTimedOut = !emptied || !s.settled
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .flatMap(id => byId.get(id.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      s.jobsSubmitted += 1
      s.jobIntervals(e.jobId) = (e.time, Long.MaxValue)
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      s.jobsCompleted += 1
      s.jobIntervals(e.jobId) = (s.jobIntervals(e.jobId)._1, e.time)
    }
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.stagesSubmitted += 1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.stagesCompleted += 1)
      notifyAll()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
    }
  }

  /** Exchanges and top-k operators of each finished action's final plan
    * (adaptive stages included), credited to the span that ran it.
    */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
    }.size
    val topk = collectWithSubqueries(plan) {
      case p if p.nodeName.startsWith("TopKPerKey") => p
    }.size
    synchronized {
      open.headOption.foreach { s =>
        s.exchanges += exchanges
        s.topkNodes += topk
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def spanMaps: Seq[Map[String, Any]] = synchronized(spans.map(_.toMap).toSeq)
}

object Trace {
  val SpanKey = "perfbench.span"
  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}
