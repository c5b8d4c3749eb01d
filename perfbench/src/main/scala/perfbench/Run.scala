package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one benchmark run hands a workload: the session, the seed all
  * inputs derive from, the measuring window, the tracer, and an empty
  * directory of its own.
  */
final class RunContext(val spark: SparkSession, val seed: Long,
                       val seconds: Int, val tracer: Tracer, val dir: Path) {

  /** Operations and correctness checks attempted, and those that failed. */
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Metrics under the names the workload's documentation uses. */
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)

  /** One attempted operation; it fails if it throws. */
  def operation[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** One attempted correctness check. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) fail(what)
    ok
  }

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Set-up time: everything before the first timed request, warm-up
    * included, measured once per run in a fresh JVM.
    */
  def timedSetup[S](setup: => S): S = {
    val (s, secs) = Run.seconds(setup)
    metric("setup_s", secs, "s")
    s
  }

  /** The end-to-end metrics every workload reports: `read` is the
    * latency of one single-query read, `bulk` the wall time of one bulk
    * operation (both as samples, in seconds).
    */
  def endToEnd(read: Seq[Double], bulk: Seq[Double]): Unit = {
    metric("read_p50_s", Stats.median(read), "s")
    metric("bulk_p50_s", Stats.median(bulk), "s")
  }

  /** Run `step` in a closed loop (the next call starts when the previous
    * one returns) until the measuring window has passed; returns the
    * number of steps.
    */
  def closedLoop(step: Int => Unit): Int = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { step(i); i += 1 }
    i
  }

  /** Whether request `i` of a traced run records spans: traced runs
    * alternate traced and untraced requests, so the difference of their
    * medians is the tracing overhead.
    */
  def traced(i: Int): Boolean = tracer.enabled && i % 2 == 0
}

object Run {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Consume a frame fully without collecting it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
