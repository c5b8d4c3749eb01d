package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is -1 for a root span; spans of
  * one request share `request` (-1 outside requests, e.g. in set-up).
  */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to a span: jobs, their summed wall time, and
  * the task-side totals of their stages.
  */
final case class JobCounts(jobs: Int = 0, jobMs: Double = 0.0,
                           taskCpuNs: Long = 0L, shuffleBytes: Long = 0L) {
  def +(o: JobCounts): JobCounts = JobCounts(jobs + o.jobs, jobMs + o.jobMs,
    taskCpuNs + o.taskCpuNs, shuffleBytes + o.shuffleBytes)
}

object Trace {
  /** Local property naming the innermost open span; the listener
    * attributes each job to the span that was open when it started.
    */
  val SpanKey = "perfbench.span"

  /** Self time per span id: its duration minus the part of its interval
    * that its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val clipped = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      clipped.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** In-memory span recorder with Spark-listener counts per span. With
  * `enabled = false` every call runs its body untouched, so the untraced
  * path carries no recording cost.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Trace.SpanKey

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, Long)] = Nil // (id, startNs) of open spans
  private var nextId = 0
  private var request = -1L

  private val counts = mutable.Map[Int, JobCounts]()
  private val jobStart = mutable.Map[Int, (Int, Long)]() // job -> (span, ms)
  private val stageSpan = mutable.Map[Int, Int]()

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(q => Option(q.getProperty(SpanKey))).fold(-1)(_.toInt)
    private def add(span: Int, c: JobCounts): Unit =
      counts(span) = counts.getOrElse(span, JobCounts()) + c

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = spanOf(e.properties)
      jobStart(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) =>
        add(span, JobCounts(jobs = 1, jobMs = (e.time - t0).toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        add(stageSpan.getOrElse(e.stageInfo.stageId, -1), JobCounts(
          taskCpuNs = m.executorCpuTime,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten))
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as request `id`: spans opened inside carry the id. */
  def inRequest[T](id: Long)(body: => T): T = {
    request = id
    try body finally request = -1L
  }

  /** Spans are recorded while this is set (only ever in a traced run). */
  var recording: Boolean = enabled

  def span[T](name: String)(body: => T): T =
    if (!(enabled && recording)) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.fold(-1)(_._1)
      open = (id, System.nanoTime()) :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val end = System.nanoTime()
        val start = open.head._2
        open = open.tail
        spans += Span(id, name, parent, request, start, end)
        sc.setLocalProperty(SpanKey, open.headOption.map(_._1.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event of every finished job. */
  def drain(): Unit = if (enabled) ListenerDrain(sc)

  /** Summed counts of all spans called `name` (call [[drain]] first). */
  def countsOf(name: String): JobCounts = listener.synchronized {
    spans.iterator.filter(_.name == name)
      .map(s => counts.getOrElse(s.id, JobCounts()))
      .foldLeft(JobCounts())(_ + _)
  }

  /** Wall seconds of each span called `name`, in recording order. */
  def secondsOf(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.durNs / 1e9).toSeq

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Write every span, with its self time and Spark counts, as JSON. */
  def writeJson(file: Path): Unit = {
    val self = Trace.selfTimes(spans.toSeq)
    val t0 = spans.iterator.map(_.startNs).minOption.getOrElse(0L)
    val rows = listener.synchronized(spans.map { s =>
      val c = counts.getOrElse(s.id, JobCounts())
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs - t0},""" +
        s""""end_ns":${s.endNs - t0},"self_ns":${self(s.id)},""" +
        s""""jobs":${c.jobs},"job_ms":${c.jobMs},""" +
        s""""task_cpu_ns":${c.taskCpuNs},"shuffle_bytes":${c.shuffleBytes}}"""
    })
    Files.createDirectories(file.getParent)
    Files.write(file, rows.mkString("[\n", ",\n", "\n]\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
