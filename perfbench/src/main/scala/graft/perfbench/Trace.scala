package graft.perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters, for the whole session or for one span. */
final class Counters {
  var jobs, tasks, jobMs, planningMs, cpuNs, schedDelayMs = 0L
  var shuffleWrite, spill, input = 0L

  def copy: Counters = { val c = new Counters; c.add(this, 1); c }
  def minus(o: Counters): Counters = { val c = copy; c.add(o, -1); c }
  def add(o: Counters, sign: Long): Unit = {
    jobs += sign * o.jobs; tasks += sign * o.tasks; jobMs += sign * o.jobMs
    planningMs += sign * o.planningMs; cpuNs += sign * o.cpuNs
    schedDelayMs += sign * o.schedDelayMs
    shuffleWrite += sign * o.shuffleWrite; spill += sign * o.spill; input += sign * o.input
  }
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "job_s" -> jobMs / 1e3,
    "planning_s" -> planningMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "sched_delay_s" -> schedDelayMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> input)
}

/** Spark listener that counts jobs, tasks, executor CPU, shuffle, spill,
  * input and scheduler delay for the session and, when a job carries the
  * span property, for the innermost benchmark span that launched it.
  * Jobs of a streaming query run on the stream's own thread; they are
  * charged to `streamSpan`, the span open around the drain. Planning
  * time comes from each action's `QueryExecution.tracker` phases.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  val total = new Counters
  private val bySpan = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobStarts = mutable.Map[Int, (Long, Int)]()
  @volatile var streamSpan: Int = -1
  /** Time spent inside this listener's callbacks. */
  @volatile var handlerNs = 0L

  private def spanOf(p: Properties): Int =
    if (p == null) -1
    else if (p.getProperty("sql.streaming.queryId") != null) streamSpan
    else Option(p.getProperty(Tracer.SpanKey)).map(_.toInt).getOrElse(-1)

  private def charge(span: Int)(f: Counters => Unit): Unit = {
    f(total)
    if (span >= 0) f(bySpan.getOrElseUpdate(span, new Counters))
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(body)
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = spanOf(e.properties)
    jobStarts(e.jobId) = (e.time, span)
    e.stageIds.foreach(stageSpan(_) = span)
    charge(span)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStarts.remove(e.jobId).foreach { case (t0, span) => charge(span)(_.jobMs += e.time - t0) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) charge(stageSpan.getOrElse(e.stageId, -1)) { c =>
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    total.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Counters = synchronized(total.copy)
  def spanCounters(id: Int): Counters = synchronized(bySpan.getOrElse(id, new Counters).copy)
}

final case class Span(id: Int, name: String, layer: String, op: Long, parent: Int,
    startNs: Long, var endNs: Long = 0L)

/** Driver-side span recorder. Spans are kept in memory and written out
  * when the run ends. While a span is open its id rides every job it
  * launches as a Spark local property, which is how [[Meter]] charges
  * engine counters to layers. With tracing off every call is a
  * pass-through and layer outputs stay lazy.
  */
final class Tracer(spark: SparkSession, meter: Meter, val on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  /** Id shared by the spans of one op; -1 during set-up. */
  var op: Long = -1L

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(nextId, name, layer, op, stack.headOption.fold(-1)(_.id), System.nanoTime())
      nextId += 1
      stack ::= s
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spans += s
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** A layer call that returns a DataFrame. Traced, its output is
    * materialized inside the span, so the lazy work is charged to the
    * layer that owns it.
    */
  def df(layer: String, name: String)(body: => DataFrame): DataFrame =
    if (!on) body else span(layer, name)(body.localCheckpoint(true))

  /** Open a span whose streaming jobs are charged to it. */
  def streamSpan[A](layer: String, name: String)(body: => A): A =
    span(layer, name) {
      val prev = meter.streamSpan
      meter.streamSpan = stack.headOption.fold(-1)(_.id)
      try body finally meter.streamSpan = prev
    }

  /** Per-layer self time, calls and engine counters over the spans of
    * ops (set-up spans excluded). Self time is a span's duration minus
    * its children's: spans come from one thread, so children never
    * overlap.
    */
  def layerTable(): Map[String, Map[String, Any]] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.filter(_.op >= 0).groupBy(_.layer).map { case (layer, ss) =>
      val c = new Counters
      ss.foreach(s => c.add(meter.spanCounters(s.id), 1))
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      layer -> (c.toMap ++ Map("busy_s" -> self / 1e9, "calls" -> ss.size.toLong))
    }
  }

  def spanRecords(t0: Long): Seq[Map[String, Any]] = spans.sortBy(_.id).map(s => Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
    "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)).toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}
