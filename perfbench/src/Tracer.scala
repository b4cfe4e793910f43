package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter recorder for the traced run.
  *
  * Spans are opened by the benchmark's client thread around its calls
  * into the engine (`pass` -> `tables.load` / `query` ->
  * `operators.build` / `execute`). The innermost open span's id rides
  * on the SparkContext local property [[Tracer.SpanProp]], so every job
  * and stage the engine launches carries the span that caused it. Task
  * metrics are summed per span; QueryExecution planning phases are
  * recorded with their start time and attributed to the pass window. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Wall clock in epoch microseconds, with nanoTime resolution, so span
    * bounds compare with the listener's epoch-millisecond event times. */
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, label: String = "")(body: => T): T = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, label,
      nowUs, -1L)
    spans += s
    open = s.id :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endUs = nowUs
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
    }
  }

  // ---- listener side: written by the listener-bus thread ----
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, (Int, Long)]
  val counters = mutable.Map.empty[Int, Counters]
  val queries = mutable.ArrayBuffer.empty[Planned]
  private val sentinelsSeen = mutable.Set.empty[String]

  private def spanOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      if (s.startsWith("sentinel")) jobById(e.jobId) = Job(e.jobId, -1, 0L, 0L, s)
      else {
        val j = Job(e.jobId, s.toInt, e.time, -1L, "")
        jobs += j
        jobById(e.jobId) = j
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach { j =>
      if (j.sentinel.nonEmpty) { sentinelsSeen += j.sentinel; notifyAll() }
      else j.endMs = e.time
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).filterNot(_.startsWith("sentinel")).foreach { s =>
      val id = s.toInt
      stageSpan(e.stageInfo.stageId) =
        (id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      counters.getOrElseUpdate(id, new Counters).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { case (id, submitMs) =>
      val c = counters.getOrElseUpdate(id, new Counters)
      c.tasks += 1
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitMs)
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.resultBytes += m.resultSize
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    queries += Planned(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Block until the listener bus has delivered every event posted so
    * far: run a one-task job tagged `sentinel-n` and wait for its end.
    * Listener events arrive in posting order, so when the sentinel's end
    * is seen, every earlier job, task and query event has been handled. */
  def flush(n: Int): Unit = {
    val tag = s"sentinel-$n"
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProp, prev)
    val deadline = System.currentTimeMillis() + 30000L
    synchronized {
      while (!sentinelsSeen(tag) && System.currentTimeMillis() < deadline)
        wait(50L)
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  final case class Span(id: Int, parent: Int, name: String, label: String,
      startUs: Long, var endUs: Long)

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long,
      sentinel: String)

  final case class Planned(startMs: Long, analysisMs: Long, optimizeMs: Long,
      planningMs: Long)

  final class Counters {
    var stages, tasks = 0L
    var taskWaitMs, runMs, cpuNs, gcMs, deserMs, resultBytes = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
    var scanBytes, scanRecords = 0L
    def +=(o: Counters): Unit = {
      stages += o.stages; tasks += o.tasks; taskWaitMs += o.taskWaitMs
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      deserMs += o.deserMs; resultBytes += o.resultBytes
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
      scanBytes += o.scanBytes; scanRecords += o.scanRecords
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var first = true
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (first) { curS = s; curE = e; first = false }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (first) 0.0 else total + curE - curS
  }
}
