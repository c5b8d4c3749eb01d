package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, `local[<cores>]`, one closed-loop
  * client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <empty dir>
  * }}}
  *
  * The last stdout line is the result object; the line before it lists
  * every metric of the workload under its own name.
  */
object Main {

  val Workloads: Map[String, RunContext => Unit] = Map(
    "patient_search" -> PatientSearchWorkload.run,
    "knn_batch" -> KnnBatchWorkload.run,
    "commit_churn" -> CommitChurnWorkload.run)

  /** The metrics of the result line, with units, as BENCHMARK.json
    * declares them: with `--trace 0` the end-to-end ones, with
    * `--trace 1` the per-layer ones. A layer the workload never calls
    * reports 0 for its per-layer metrics. Metrics outside these lists
    * (commit_churn's) appear only in the detail line.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_s" -> "s", "bulk_p50_s" -> "s")
  val PerLayer: Seq[(String, String)] = Seq(
    "gen.generate_s" -> "s", "feat.normalize_s" -> "s",
    "model.train_s" -> "s", "model.train_jobs" -> "count",
    "model.embed_index_s" -> "s", "model.forward_ms" -> "ms",
    "search.construct_ms" -> "ms", "plans.search_ms" -> "ms",
    "search.execute_ms" -> "ms", "search.jobs" -> "count",
    "search.task_cpu_ms" -> "ms", "search.shuffle_bytes" -> "bytes",
    "stats.blocks_ms" -> "ms", "stats.jobs" -> "count",
    "sources.scan_s" -> "s", "functions.score_s" -> "s",
    "functions.merge_s" -> "s", "plans.knn_ms" -> "ms",
    "search.knn_jobs" -> "count", "search.knn_task_cpu_s" -> "s",
    "search.knn_shuffle_bytes" -> "bytes", "search.ivf_build_s" -> "s",
    "search.ivf_scored_frac" -> "ratio", "trace.read_overhead_ms" -> "ms")

  private def select(names: Seq[(String, String)],
                     got: collection.Map[String, (Double, String)],
                     absent: Option[Double]): Seq[(String, (Double, String))] =
    names.flatMap { case (n, u) =>
      got.get(n).orElse(absent.map(_ -> u)).map { case (v, gu) =>
        require(gu == u, s"metric $n reported in $gu, expected $u")
        n -> (v, u)
      }
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val dir = Path.of(opt("--dir")).toAbsolutePath
    require(seconds > 0, "--seconds must be positive")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new RunContext(spark, seed, seconds, tracer, dir.resolve("data"))
    Files.createDirectories(ctx.dir)
    try {
      run(ctx)
      if (traced)
        tracer.writeJson(dir.resolve(s"trace-$workload-seed$seed.json"))
    } catch {
      case e: Exception =>
        ctx.attempted += 1
        ctx.failed += 1
        ctx.failures += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      tracer.stop()
      spark.stop()
    }

    ctx.failures.foreach(f => System.err.println(s"FAILED CHECK: $f"))
    val detail = ctx.metrics ++ ctx.layers
    println(Json.metricsObject(workload, ctx.attempted, ctx.failed, detail))
    val result =
      if (traced) select(PerLayer, ctx.layers, absent = Some(0.0))
      else select(EndToEnd, ctx.metrics, absent = None)
    val complete = result.size == (if (traced) PerLayer else EndToEnd).size &&
      result.forall(r => !r._2._1.isNaN && !r._2._1.isInfinite)
    println(Json.result(ctx.failed == 0 && complete, ctx.attempted, ctx.failed, result))
    if (ctx.failed > 0 || !complete) sys.exit(1)
  }
}

object Json {
  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def metrics(ms: Iterable[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def metricsObject(workload: String, attempted: Long, failed: Long,
                    ms: Iterable[(String, (Double, String))]): String =
    s"""{"workload": "$workload", "failed_frac": ${num(failed.toDouble / math.max(attempted, 1))}, """ +
      s""""detail": ${metrics(ms)}}"""

  def result(correct: Boolean, attempted: Long, failed: Long,
             ms: Iterable[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""
}
