package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** One timed call into a layer: `parent` is the span open on the same
  * thread when it started (-1 at the top), `op` the workload operation it
  * belongs to. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      thread: String, start: Long, end: Long)

/** Executor-side work attributed to one span, summed from the listener. */
final class ExecStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  /** Optimization plus physical planning of the span's SQL executions. */
  var planNs = 0L
  /** (start, end) wall times of the span's jobs, System.nanoTime based. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans around the benchmark's calls into each layer and tags the
  * SparkContext local property [[Tracer.SpanKey]] and a job tag for the
  * duration of each span, so the listener can attribute every job and
  * every SQL execution to the span that was open when it started. Spans stay in memory; [[spans]] hands them out once the
  * run is over. With `enabled = false` every method is a pass-through and no
  * listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val currentOp = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private val recording = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  val listener: Option[ExecListener] =
    if (enabled) Some(ExecListener.registerOnce(sc)) else None

  /** Start operation `op` on this thread; its spans are recorded only when
    * `traced` (the traced run alternates traced and untraced operations so
    * it can report its own overhead). */
  def beginOp(op: Int, traced: Boolean): Unit = {
    currentOp.set(op)
    recording.set(enabled && traced)
  }

  def endOp(): Unit = recording.set(false)

  /** Whether the calling thread's current operation is being traced. */
  def recordingNow: Boolean = recording.get()

  def span[T](name: String)(body: => T): T =
    if (!recording.get()) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(-1)
      val previous = sc.getLocalProperty(Tracer.SpanKey)
      stack.set(id :: stack.get())
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.addJobTag(Tracer.TagPrefix + id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(Tracer.TagPrefix + id)
        sc.setLocalProperty(Tracer.SpanKey, previous)
        stack.set(stack.get().tail)
        done.synchronized {
          done += Span(id, name, parent, currentOp.get(), Thread.currentThread().getName, t0, t1)
        }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = listener.foreach(_ => SparkInternals.drain(sc))
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Job tag of an open span; SQL execution events carry the job tags of
    * the thread that started them. */
  val TagPrefix = "perfbench-span-"

  /** Self time of every span: its duration minus the time covered by its
    * direct children (children nest strictly inside their parent on one
    * thread). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    spans.map(s => s.id -> ((s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9)).toMap
  }

  /** Total length of the union of `intervals` (nanoseconds). */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

/** Collects job, stage and task metrics per span id (from the job's local
  * properties), and the planning time of every SQL execution (from the
  * planning tracker of the query the program itself ran, attributed by the
  * innermost span tag at its start). Span -1 holds work started outside
  * any recorded span. */
final class ExecListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, ExecStats]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val executionSpan = mutable.HashMap.empty[Long, Int]
  private val plannedQueries = mutable.HashSet.empty[Long]

  private def stats(span: Int): ExecStats = bySpan.getOrElseUpdate(span, new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    stats(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    jobSpan(e.jobId) = (span, ExecListener.toNanoAxis(e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      stats(span).jobIntervals += ((t0, math.max(t0, ExecListener.toNanoAxis(e.time))))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageSpan.getOrElse(e.stageId, -1))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val spans = s.jobTags.collect { case t if t.startsWith(Tracer.TagPrefix) =>
        t.stripPrefix(Tracer.TagPrefix).toInt }
      executionSpan(s.executionId) = if (spans.isEmpty) -1 else spans.max
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val span = executionSpan.remove(end.executionId).getOrElse(-1)
      // one query run twice is planned once
      SparkInternals.queryExecution(end).filter(qe => plannedQueries.add(qe.id)).foreach { qe =>
        val phases = qe.tracker.phases
        val ms = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
        stats(span).planNs += ms * 1000000L
      }
    }
    case _ =>
  }

  def snapshot: Map[Int, ExecStats] = synchronized(bySpan.toMap)
}

object ExecListener {
  /** Events arrive late on the listener bus but carry their wall-clock
    * time in ms; shift that onto the System.nanoTime axis spans use. */
  def toNanoAxis(wallMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - wallMs) * 1000000L

  private var installed: Option[(SparkContext, ExecListener)] = None

  /** Register the listener at most once per SparkContext. */
  def registerOnce(sc: SparkContext): ExecListener = synchronized {
    installed match {
      case Some((ctx, l)) if ctx eq sc => l
      case _ =>
        val l = new ExecListener
        sc.addSparkListener(l)
        installed = Some((sc, l))
        l
    }
  }
}
