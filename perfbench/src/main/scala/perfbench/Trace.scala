package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.{Bus, SpanMark}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: what the scheduler ran while the
  * span was the innermost open one. */
final class ExecCounts {
  var jobs, stages, tasks, taskMs, inputBytes, shuffleRead, shuffleWrite,
      spill, queries, catalystMs = 0L
  /** (submitted, ended) epoch-millisecond interval of each job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One listener on the shared bus queue, registered both as a
  * SparkListener and as a QueryExecutionListener. Both callbacks run on
  * that queue's single thread, in the order events were posted, so the
  * span stack it keeps from [[SpanMark]]s is the one that was open when
  * each job, stage or query was submitted. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  private val open = mutable.ArrayBuffer.empty[Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, ExecCounts]

  private def current: Int = if (open.isEmpty) -1 else open.last
  private def at(span: Int): ExecCounts = bySpan.getOrElseUpdate(span, new ExecCounts)

  def counts: Map[Int, ExecCounts] = synchronized(bySpan.toMap)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case SpanMark(id, true) => synchronized(open += id)
    case SpanMark(id, false) => synchronized {
      val i = open.lastIndexOf(id)
      if (i >= 0) open.remove(i)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = current
    jobStart(e.jobId) = (s, e.time)
    e.stageIds.foreach(stageSpan(_) = s)
    at(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) =>
      at(s).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = at(s)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def query(qe: QueryExecution): Unit = synchronized {
    val c = at(current)
    c.queries += 1
    c.catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(qe)
}

/** A timed region of the benchmark around one call into a layer. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long) {
  var endNs: Long = -1L
  /** Counts the benchmark reads from the layer's own return values. */
  val counts = mutable.LinkedHashMap.empty[String, Long]
}

/** The traced run's recorder. Spans live in memory until [[finish]];
  * with tracing off, [[span]] is a plain call. */
object Trace {
  @volatile private var on = false
  private var sc: SparkContext = _
  private var listener: ExecListener = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Span]
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def enabled: Boolean = on

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    listener = new ExecListener
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    on = true
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.lastOption
      val id = spans.size
      val s = new Span(id, name, parent.fold(-1)(_.id), parent.fold(id)(_.op),
        System.nanoTime())
      spans += s
      stack += s
      Bus.post(sc, SpanMark(id, open = true))
      try f
      finally {
        Bus.post(sc, SpanMark(id, open = false))
        s.endNs = System.nanoTime()
        stack.remove(stack.size - 1)
      }
    }

  /** Add `n` to counter `key` of the innermost open span. */
  def count(key: String, n: Long): Unit =
    if (on && stack.nonEmpty) {
      val c = stack.last.counts
      c(key) = c.getOrElse(key, 0L) + n
    }

  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  private def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** Per-span results once the bus has delivered every event. */
  final case class SpanRow(span: Span, selfMs: Double, exec: ExecCounts, idleMs: Double)

  def finish(): Seq[SpanRow] = {
    if (!on) return Nil
    Bus.drain(sc)
    on = false
    val exec = listener.counts
    val children = spans.groupBy(_.parent)
    val subtreeJobs = mutable.HashMap.empty[Int, Seq[(Long, Long)]]
    def jobsOf(s: Span): Seq[(Long, Long)] = subtreeJobs.getOrElseUpdate(s.id,
      exec.get(s.id).fold(Seq.empty[(Long, Long)])(_.jobIntervals.toSeq) ++
        children.getOrElse(s.id, Nil).flatMap(jobsOf))
    spans.toSeq.map { s =>
      val lo = epochMs(s.startNs)
      val hi = epochMs(s.endNs)
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (epochMs(k.startNs), epochMs(k.endNs)))
      val jobs = jobsOf(s)
      val idle = (hi - lo) - unionMs(jobs.map { case (a, b) => (a.toDouble, b.toDouble) }, lo, hi)
      SpanRow(s, (hi - lo) - unionMs(kids.toSeq, lo, hi),
        exec.getOrElse(s.id, new ExecCounts), idle)
    }
  }
}
