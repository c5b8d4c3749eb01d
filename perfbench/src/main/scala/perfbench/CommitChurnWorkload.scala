package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, count_distinct}
import org.apache.spark.sql.types._

import graft.search.VectorSearch
import graft.sources.SnapshotTable

/** A seeded `SnapshotTable` of embedding rows partitioned by shard, put
  * through a repeating cycle of `commitAppend`, `commitMerge` (upserts)
  * and `commitDeleteKeys`. After each commit a "fresh search" reads the
  * new version with `SnapshotTable.read` and feeds a small `batchKnn`.
  *
  * Why: this is the construct-dominated commit path, with writes beside
  * reads of the same `sources` layer. A change that makes commits
  * cheaper by making reads dearer (for example merge-on-read deletes)
  * shows here.
  */
object CommitChurnWorkload {

  val InitialRows = 20000
  val Dim = 64
  val Shards = 8
  val AppendRows = 2000
  val MergeUpdates = 500
  val MergeInserts = 500
  val DeleteKeys = 500
  val FreshQueries = 4
  val K = 10

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("shard", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
  /** Raw bytes of one committed row: key, shard and the float payload. */
  private val RowBytes = 8 + 4 + 4 * Dim

  /** The benchmark's own model of the table: live keys and their vectors. */
  final class Model {
    val vec = mutable.LinkedHashMap[Long, Array[Float]]()
    var nextKey = 0L
  }

  final class Table(val path: String, val model: Model)

  def run(ctx: RunContext): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer

    def vector(stream: Long, key: Long, version: Long): Array[Float] = {
      val r = Inputs.rng(ctx.seed, stream, key * 1000003L + version)
      Array.fill(Dim)(r.nextGaussian().toFloat)
    }
    def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, v) =>
        Row(k, (k % Shards).toInt, v.toSeq)
      }: _*), schema)
    def keysFrame(keys: Seq[Long]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(keys.map(Row(_)): _*),
        StructType(Seq(StructField("vec_id", LongType, nullable = false))))

    val commitSecs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val freshSecs = mutable.ArrayBuffer[Double]()
    val tracedFreshSecs = mutable.ArrayBuffer[Double]()
    var grownBytes = 0L
    var rawBytes = 0L
    val dataBytes = mutable.ArrayBuffer[Long]()
    val manifestBytes = mutable.ArrayBuffer[Long]()
    val rewrittenPerMerge = mutable.ArrayBuffer[Int]()
    var measuring = false

    def liveFiles(path: String): Set[String] =
      SnapshotTable.readManifest(spark, path, SnapshotTable.currentVersion(spark, path))
        .map(_.path).toSet

    def sizes(path: String): (Long, Long) = {
      val all = Run.dirBytes(Path.of(path))
      val manifests = Run.dirBytes(Path.of(path, "_manifests"))
      (all - manifests, manifests)
    }

    /** One commit of `kind`, then a fresh search of the new version; the
      * model is updated only once the commit call has returned.
      */
    def commit(tb: Table, kind: String, cycle: Long, step: Long): Unit = {
      val m = tb.model
      val r = Inputs.rng(ctx.seed, Inputs.ChurnStream, cycle * 3 + step)
      val liveKeys = m.vec.keysIterator.toIndexedSeq
      // table state before the commit (bookkeeping, skipped in warm-up)
      val (data0, manifests0) = if (measuring) sizes(tb.path) else (0L, 0L)
      val files0 = if (measuring) liveFiles(tb.path) else Set.empty[String]
      // the commit's input, its raw bytes, and its effect on the model
      val (input, raw, applyToModel) = kind match {
        case "append" =>
          val rows = (0 until AppendRows).map { i =>
            val k = m.nextKey + i; k -> vector(Inputs.CorpusStream, k, 0L)
          }
          (frame(rows), rows.size.toLong * RowBytes,
            () => { m.nextKey += AppendRows; rows.foreach(p => m.vec(p._1) = p._2) })
        case "merge" =>
          val updated = Inputs.sample(liveKeys, MergeUpdates, r)
          val inserted = (0 until MergeInserts).map(m.nextKey + _)
          val rows = (updated ++ inserted).map(k => k -> vector(Inputs.UpdateStream, k, cycle))
          (frame(rows), rows.size.toLong * RowBytes,
            () => { m.nextKey += MergeInserts; rows.foreach(p => m.vec(p._1) = p._2) })
        case "delete" =>
          val keys = Inputs.sample(liveKeys, DeleteKeys, r)
          (keysFrame(keys), keys.size.toLong * 8L, () => keys.foreach(m.vec.remove))
      }
      ctx.operation(s"commit $kind") {
        val before = ctx.failed
        val (_, secs) = Run.seconds(t.span(s"sources.$kind") {
          kind match {
            case "append" => SnapshotTable.commitAppend(spark, tb.path, input, "shard")
            case "merge" => SnapshotTable.commitMerge(spark, tb.path, input, "vec_id", "shard")
            case "delete" => SnapshotTable.commitDeleteKeys(spark, tb.path, input, "vec_id", "shard")
          }
        })
        applyToModel()
        freshSearch(tb, cycle * 3 + step)
        if (measuring && ctx.failed == before) {
          val (data1, manifests1) = sizes(tb.path)
          val files1 = liveFiles(tb.path)
          commitSecs.getOrElseUpdate(kind, mutable.ArrayBuffer()) += secs
          grownBytes += (data1 - data0) + (manifests1 - manifests0)
          rawBytes += raw
          dataBytes += data1 - data0
          manifestBytes += manifests1 - manifests0
          if (kind == "merge") rewrittenPerMerge += (files0 -- files1).size
        }
      }
    }

    /** Read the just-committed version and search it; check it against
      * the model.
      */
    def freshSearch(tb: Table, n: Long): Unit = {
      val m = tb.model
      val qs = (0 until FreshQueries).map(j => vector(Inputs.QueryStream, n, j))
      val qdf = spark.createDataFrame(java.util.Arrays.asList(qs.indices.map(j =>
        Row(j.toLong, qs(j).toSeq)): _*), StructType(Seq(
          StructField("query_id", LongType, nullable = false),
          StructField("q_emb", ArrayType(FloatType, containsNull = false), nullable = false))))
      val traced = t.recording
      val (rows, secs) = Run.seconds(t.span("search.fresh") {
        val current = t.span("sources.fresh_read") { SnapshotTable.read(spark, tb.path) }
        val df = VectorSearch.batchKnn(current.select(col("vec_id"), col("embedding")), qdf, K)
        t.span("plans.fresh_read") { df.queryExecution.executedPlan }
        t.span("search.fresh_execute") { df.collect() }
      })
      if (measuring) checkFresh(tb, qs, rows, if (traced) tracedFreshSecs else freshSecs, secs)
    }

    def checkFresh(tb: Table, qs: Seq[Array[Float]], rows: Array[Row],
                   samples: mutable.ArrayBuffer[Double], secs: Double): Unit = {
      val m = tb.model
      samples += secs
      val live = SnapshotTable.read(spark, tb.path)
        .agg(count(col("vec_id")), count_distinct(col("vec_id"))).head()
      ctx.check(live.getLong(0) == m.vec.size,
        s"commit_churn: ${live.getLong(0)} live rows, model has ${m.vec.size}")
      ctx.check(live.getLong(1) == live.getLong(0), "commit_churn: duplicate keys")
      val ids = m.vec.keysIterator.toArray
      val vecs = ids.map(m.vec)
      val exact = Exact.topK(ids, vecs, qs(0), K)
      val got = rows.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      ctx.check(got == exact, "commit_churn: fresh search differs from brute force")
    }

    def cycle(tb: Table, c: Long, traced: Boolean): Unit =
      Seq("append", "merge", "delete").zipWithIndex.foreach { case (kind, i) =>
        t.recording = traced && (i + c) % 2 == 0
        commit(tb, kind, c, i.toLong)
      }

    def setup(): Table = {
      val path = ctx.dir.resolve("churn").toString
      val m = new Model
      val rows = (0 until InitialRows).map(i => i.toLong -> vector(Inputs.CorpusStream, i, 0L))
      t.span("sources.create") {
        SnapshotTable.create(spark, path, frame(rows), "shard")
      }
      rows.foreach(p => m.vec(p._1) = p._2)
      m.nextKey = InitialRows
      val tb = new Table(path, m)
      // warm-up: one full cycle (JIT, codegen, commit-path plans)
      cycle(tb, -1L, traced = false)
      tb
    }

    val table = ctx.timedSetup(setup())
    measuring = true
    var cycles = 0L
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // whole cycles only, so every commit kind has the same sample count
    while (cycles == 0 || System.nanoTime() < deadline) {
      cycle(table, cycles, t.enabled)
      cycles += 1
    }
    t.recording = t.enabled

    def p50(kind: String) = Stats.median(commitSecs.getOrElse(kind, Seq(Double.NaN)).toSeq)
    ctx.metric("append_p50_s", p50("append"), "s")
    ctx.metric("merge_p50_s", p50("merge"), "s")
    ctx.metric("delete_p50_s", p50("delete"), "s")
    ctx.metric("fresh_search_p50_s", Stats.median(freshSecs.toSeq), "s")
    ctx.metric("write_amp", grownBytes.toDouble / rawBytes, "ratio")
    ctx.metric("commit_cycles", cycles.toDouble, "count")
    val kinds = Seq("append", "merge", "delete")
    val samples = kinds.map(commitSecs.getOrElse(_, mutable.ArrayBuffer[Double]()))
    val perCycle = (0 until samples.map(_.size).min).map(i => samples.map(_(i)).sum)
    ctx.endToEnd(read = freshSecs.toSeq, bulk = perCycle)

    if (t.enabled) {
      t.drain()
      kinds.foreach { k =>
        val n = t.secondsOf(s"sources.$k").size.max(1)
        ctx.layer(s"sources.${k}_jobs", t.countsOf(s"sources.$k").jobs.toDouble / n, "count")
      }
      val commitWall = kinds.flatMap(k => t.secondsOf(s"sources.$k")).sum
      val commitJobs = kinds.map(k => t.countsOf(s"sources.$k").jobMs).sum / 1e3
      val nCommits = kinds.map(k => t.secondsOf(s"sources.$k").size).sum.max(1)
      ctx.layer("sources.commit_driver_ms", (commitWall - commitJobs) / nCommits * 1e3, "ms")
      ctx.layer("sources.files_rewritten_per_merge",
        rewrittenPerMerge.sum.toDouble / rewrittenPerMerge.size.max(1), "count")
      ctx.layer("sources.bytes_written_per_commit",
        dataBytes.sum.toDouble / dataBytes.size.max(1), "bytes")
      ctx.layer("sources.manifest_bytes_per_commit",
        manifestBytes.sum.toDouble / manifestBytes.size.max(1), "bytes")
      ctx.layer("sources.live_files", liveFiles(table.path).size.toDouble, "count")
      ctx.layer("plans.fresh_read_ms", Stats.median(t.secondsOf("plans.fresh_read")) * 1e3, "ms")
      ctx.layer("trace.read_overhead_ms",
        (Stats.median(tracedFreshSecs.toSeq) - Stats.median(freshSecs.toSeq)) * 1e3, "ms")
    }
  }
}
