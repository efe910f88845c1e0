package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call from the benchmark into one engine layer. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, endNs: Long)

/** Spark work attributed to one span: every job submitted while the span
  * was the innermost open span on the calling thread (or on a thread that
  * inherited its local properties, as append's post-commit threads do). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "task_wait_ms" -> waitMs, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes)
}

/** Job, task and stage counters keyed by the span property of the job. */
final class Recorder extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  val bySpan = new ConcurrentHashMap[Long, Counters]()

  private def counters(span: Long): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    prop.foreach { s =>
      val span = s.toLong
      e.stageIds.foreach(id => stageSpan.put(id, span))
      counters(span).synchronized(counters(span).jobs += 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span == null) return
    val c = counters(span)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      val submit = stageSubmitMs.get(e.stageId)
      if (submit != null) c.waitMs += math.max(0L, e.taskInfo.launchTime - submit)
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Span recorder for the single client thread. Spans live in memory and
  * are written out with the run's result. When tracing is off every call
  * runs its body and records nothing; with tracing on, only ops the
  * workload marks as traced record spans, so traced and untraced ops
  * interleave in one run and their difference is the tracing overhead. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val recorder: Option[Recorder] =
    if (enabled) { val r = new Recorder; sc.addSparkListener(r); Some(r) } else None
  val spans = ArrayBuffer[Span]()
  private var nextId = 1L
  private var stack = List.empty[(Long, String, Long)] // (id, name, startNs)
  private var currentOp = 0L

  /** Runs one op; its spans are recorded iff `traced`. */
  def op[A](opId: Long, traced: Boolean)(body: => A): A = {
    currentOp = if (enabled && traced) opId else 0L
    try body finally currentOp = 0L
  }

  def span[A](name: String)(body: => A): A =
    if (currentOp == 0L) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, currentOp, start, System.nanoTime())
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_._1.toString).orNull)
      }
    }

  def finish(): Unit = recorder.foreach { r =>
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(r)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
