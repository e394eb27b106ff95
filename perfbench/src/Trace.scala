package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: every job submitted while the span
  * was the innermost open one on the submitting thread (Spark copies the
  * thread's local properties onto the job, broadcast and stream threads
  * included), with its stages and tasks. */
final class SpanCounts {
  var jobsStarted, jobsEnded, stages, tasksStarted, tasksEnded, failedTasks = 0L
  var taskCpuNs, taskRunMs, schedWaitMs, shuffleWriteB, shuffleReadB = 0L
  var spillB, resultB, peakExecMemB = 0L
}

/** Listener side of the traced run: SparkListener for jobs, stages and
  * task metrics, QueryExecutionListener for Catalyst phase times. Phase
  * events carry wall-clock times only, so they are attributed to spans
  * afterwards by time. */
final class Counters extends SparkListener with QueryExecutionListener {
  val bySpan = new ConcurrentHashMap[Long, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  /** (phase, start epoch ms, duration ms) per analysed query. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def counts(span: Long): SpanCounts = bySpan.computeIfAbsent(span, _ => new SpanCounts)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, span))
    val c = counts(span)
    c.synchronized { c.jobsStarted += 1; c.stages += e.stageIds.size }
    jobSpan.put(e.jobId, span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = counts(Option(jobSpan.remove(e.jobId)).getOrElse(0L))
    c.synchronized { c.jobsEnded += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val c = counts(stageSpan.getOrDefault(e.stageId, 0L))
    c.synchronized { c.tasksStarted += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageSpan.getOrDefault(e.stageId, 0L))
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    c.synchronized {
      c.tasksEnded += 1
      if (!info.successful) c.failedTasks += 1
      Option(stageSubmitted.get(e.stageId)).foreach(s =>
        c.schedWaitMs += math.max(0L, info.launchTime - s))
      m.foreach { t =>
        c.taskCpuNs += t.executorCpuTime
        c.taskRunMs += t.executorRunTime
        c.shuffleWriteB += t.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += t.shuffleReadMetrics.totalBytesRead
        c.spillB += t.memoryBytesSpilled + t.diskBytesSpilled
        c.resultB += t.resultSize
        c.peakExecMemB = math.max(c.peakExecMemB, t.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs, p.endTimeMs - p.startTimeMs))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One span: a harness call into one layer. `trace` is the op it belongs
  * to; `parent` is 0 for an op's root span. Times are nanoTime. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, var endNs: Long = 0L, var complete: Boolean = true)

/** Spans around harness calls into the program, kept in memory and
  * written out when the run ends. With tracing off every call is a plain
  * passthrough: no spans, no listener, no barrier. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val counters = new Counters
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1L
  private var nextTrace = 1L
  /** Wall-clock anchor, so Catalyst phase times (epoch ms) map onto spans. */
  val epochMs0: Long = System.currentTimeMillis()
  val nano0: Long = System.nanoTime()

  /** Time `f` as a span named `name`, nested in the innermost open span,
    * or as a new op's root span when none is open. */
  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = open.headOption
      val trace = parent.map(_.trace).getOrElse { nextTrace += 1; nextTrace - 1 }
      val s = Span(nextId, parent.map(_.id).getOrElse(0L), trace, name, System.nanoTime())
      nextId += 1
      spans += s
      open ::= s
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Trace id of the most recent op (0 with tracing off). */
  def lastTrace: Long = spans.lastOption.map(_.trace).getOrElse(0L)

  /** Op boundary: drain the listener bus, then mark every span of the op
    * incomplete if any of its jobs or tasks started without ending — its
    * CPU and shuffle numbers would be partial. */
  def closeOp(): Unit = if (on) {
    val trace = lastTrace
    val drained =
      try { org.apache.spark.graft.ListenerBarrier.waitUntilEmpty(sc, 5000L); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
    val opSpans = spans.reverseIterator.takeWhile(_.trace == trace).toSeq
    val balanced = opSpans.forall { s =>
      Option(counters.bySpan.get(s.id)).forall(c => c.synchronized {
        c.jobsStarted == c.jobsEnded && c.tasksStarted == c.tasksEnded
      })
    }
    if (!drained || !balanced) opSpans.foreach(_.complete = false)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
