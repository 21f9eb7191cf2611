package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One clock for spans (nanoTime) and Spark events (epoch millis). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Records a span around each call into a layer. Spans stay in memory
  * until `take()`. The active span id travels to Spark as a local
  * property, so every job is attributed to the span that launched it. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val spans = mutable.ArrayBuffer[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, t0, t1)
      }
    }

  def take(): List[Span] = { val s = spans.toList; spans.clear(); s }
}

object Tracer { val SpanKey = "graftbench.span" }

final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long)

/** Spark counters accumulated between two `Listener.take()` calls. */
final class Counts {
  var stages, tasks, failedTasks = 0L
  var busyMs, waitMs, gcMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobs = mutable.ArrayBuffer[Job]()
}

/** The one SparkListener and one QueryExecutionListener of a traced run. */
final class Listener extends SparkListener with QueryExecutionListener {
  private var cur = new Counts
  private val jobById = mutable.Map[Int, Job]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()

  def take(): Counts = synchronized {
    val c = cur
    cur = new Counts
    jobById.clear()
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val j = Job(e.jobId, span, e.time, e.time)
    cur.jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    cur.tasks += 1
    if (!ti.successful) cur.failedTasks += 1
    cur.busyMs += ti.duration
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s => cur.waitMs += math.max(0L, ti.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.diskBytesSpilled
      cur.input += m.inputMetrics.bytesRead
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def d(n: String): Long = p.get(n).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    cur.analysisMs += d("analysis")
    cur.optimizationMs += d("optimization")
    cur.planningMs += d("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(phases(qe))
}
