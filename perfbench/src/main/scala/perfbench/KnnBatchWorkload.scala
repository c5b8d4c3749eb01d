package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, round, udf}
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorFunctions.cosineSimilarity
import graft.operators.AnnSearch
import graft.search.VectorSearch
import graft.sources.TableIO

/** A seeded Gaussian-mixture corpus of 128-dim float vectors (the
  * reference `embedding_dim`), written once as `embeddings.parquet` and
  * read through `Tables.embeddings`, so the program caches none of it.
  * Two request types alternate: a batch of queries through
  * `VectorSearch.batchKnn`, and single-query IVF probes
  * (`AnnSearch.nearestLists` + `ivfSearch`) over a `buildIvf` index made
  * during set-up.
  *
  * Why: scoring and merge dominate here, so a top-k kernel change shows.
  * The mixture gives IVF clusters to find; uniform noise would make
  * recall meaningless.
  */
object KnnBatchWorkload {

  val Rows = 50000
  val Dim = 128
  val Clusters = 64
  val Spread = 1.5
  val BatchQueries = 32
  val K = 10
  val Lists = 16
  val NProbe = 4
  val ProbesPerBatch = 2
  val CheckedPerBatch = 4

  private val embeddingType = ArrayType(FloatType, containsNull = false)

  final class Served(val corpus: DataFrame, val indexPath: String,
                     val centroids: Array[Array[Double]])

  def run(ctx: RunContext): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val mix = Inputs.mixture(ctx.seed, Clusters, Dim, Spread)
    // driver-side copy of the corpus for the exact reference
    val ids = Array.tabulate(Rows)(_.toLong)
    val vecs = ids.map(i => mix.point(ctx.seed, Inputs.CorpusStream, i)._2)

    val batchSecs = Vector.newBuilder[Double]
    val probeSecs = Vector.newBuilder[Double]
    val tracedProbeSecs = Vector.newBuilder[Double]
    val recalls = Vector.newBuilder[Double]
    val scoredFrac = Vector.newBuilder[Double]

    // answers kept for checking after the measuring window, so the
    // window holds only timed requests
    val batchAnswers = mutable.ArrayBuffer[(Array[Array[Float]], Seq[Int], Map[Int, Seq[(Long, Double)]])]()
    val probeAnswers = mutable.ArrayBuffer[(Array[Float], Seq[(Long, Double)], Boolean)]()

    def queries(batch: Int): (DataFrame, Array[Array[Float]]) = {
      val qs = Array.tabulate(BatchQueries)(j =>
        mix.point(ctx.seed, Inputs.QueryStream, batch.toLong * BatchQueries + j)._2)
      val rows = qs.indices.map(j => Row(j.toLong, qs(j).toSeq))
      val schema = StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("q_emb", embeddingType, nullable = false)))
      (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), qs)
    }

    def setup(): Served = {
      val dir = ctx.dir.resolve("knn").toString
      t.span("sources.write_corpus") {
        val (seed, m) = (ctx.seed, mix)
        val point = udf((id: Long) => m.point(seed, Inputs.CorpusStream, id))
        spark.range(0, Rows, 1, spark.sparkContext.defaultParallelism)
          .select(col("id").as("vec_id"), point(col("id")).as("p"))
          .select(col("vec_id"), col("p._2").as("embedding"), col("p._1").as("label"))
          .write.parquet(s"$dir/embeddings.parquet")
      }
      val corpus = Tables.embeddings(spark, dir)
      val indexPath = s"$dir/ivf_index"
      val centroids = t.span("search.ivf_build") {
        val (assigned, centroids) = AnnSearch.buildIvf(corpus, "embedding", Lists, ctx.seed)
        TableIO.writeAnnIndex(assigned, indexPath, "ivf_list")
        centroids
      }
      val s = new Served(corpus, indexPath, centroids)
      // warm-up: one batch and its probes (JIT, codegen, reader memo)
      step(s, -1, traced = false)
      s
    }

    /** One batch of queries, then IVF probes with the batch's first queries. */
    def step(s: Served, b: Int, traced: Boolean): Unit = {
      val (qdf, qs) = queries(b + 1)
      val checked = Inputs.sample(qs.indices.map(_.toLong), CheckedPerBatch,
        Inputs.rng(ctx.seed, Inputs.QueryStream, -1L - b)).map(_.toInt)
      t.recording = traced
      ctx.operation("batchKnn") {
        if (traced) {
          t.span("sources.scan") {
            Run.noop(s.corpus.select(col("vec_id"), col("embedding")))
          }
          t.span("functions.score") {
            Run.noop(s.corpus.crossJoin(broadcast(qdf)).select(col("query_id"),
              col("vec_id"), round(cosineSimilarity(col("embedding"), col("q_emb")), 6)))
          }
        }
        val (rows, secs) = Run.seconds {
          t.span("search.knn") {
            val df = t.span("search.knn_construct") { VectorSearch.batchKnn(s.corpus, qdf, K) }
            t.span("plans.knn") { df.queryExecution.executedPlan }
            t.span("search.knn_execute") { df.collect() }
          }
        }
        if (b >= 0) batchSecs += secs
        batchAnswers += ((qs, checked, rows.groupBy(_.getLong(0)).map { case (q, rs) =>
          q.toInt -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
        }))
      }
      (0 until ProbesPerBatch).foreach { p =>
        val q = qs(p)
        t.recording = traced && p % 2 == 0
        ctx.operation("ivf probe") {
          val (rows, secs) = Run.seconds {
            t.span("search.ivf") {
              val lists = t.span("search.ivf_route") { AnnSearch.nearestLists(q, s.centroids, NProbe) }
              val df = t.span("search.ivf_construct") {
                AnnSearch.ivfSearch(TableIO.openAnnIndexBuckets(spark, s.indexPath, "ivf_list", lists),
                  s.centroids, "embedding", "vec_id", q, K, NProbe)
              }
              t.span("search.ivf_execute") { df.collect() }
            }
          }
          if (b >= 0) (if (t.recording) tracedProbeSecs else probeSecs) += secs
          probeAnswers += ((q, rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq, b >= 0))
        }
      }
      t.recording = t.enabled
    }

    val served = ctx.timedSetup(setup())
    ctx.closedLoop(b => step(served, b, ctx.traced(b)))

    // the list of every corpus row, for the exact top-k of probed lists
    val assignment = TableIO.openAnnIndex(spark, served.indexPath, "ivf_list")
      .select(col("vec_id"), col("ivf_list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lists = ids.map(assignment)
    val listRows = lists.groupBy(identity).map { case (l, xs) => l -> xs.length.toLong }

    batchAnswers.foreach { case (qs, checked, got) =>
      ctx.check(got.size == BatchQueries && got.values.forall(_.size == K),
        s"batchKnn: ${got.size} queries answered, expected $BatchQueries x $K rows")
      checked.foreach { j =>
        ctx.check(got.get(j).contains(Exact.topK(ids, vecs, qs(j), K)),
          s"batchKnn: query $j differs from brute force")
      }
    }
    probeAnswers.foreach { case (q, found, measured) =>
      val probed = AnnSearch.nearestLists(q, served.centroids, NProbe).toSet
      ctx.check(found == Exact.topK(ids, vecs, q, K,
        keep = i => probed(lists(i))),
        "ivf probe: result differs from the exact top-k of the probed lists")
      if (measured) {
        recalls += Stats.recall(found.map(_._1),
          Exact.topK(ids, vecs, q, K).map(_._1))
        scoredFrac += probed.toSeq.map(listRows.getOrElse(_, 0L)).sum.toDouble / Rows
      }
    }

    val batch = batchSecs.result()
    val probes = probeSecs.result()
    ctx.metric("knn_pairs_per_s", Rows.toDouble * BatchQueries / Stats.median(batch), "1/s")
    ctx.metric("ivf_query_p50_s", Stats.median(probes), "s")
    ctx.metric("ivf_query_p90_s", Stats.percentile(probes, 90), "s")
    ctx.metric("ivf_recall_at_10", recalls.result().sum / recalls.result().size, "ratio")
    ctx.metric("knn_batches", batch.size.toDouble, "count")
    ctx.metric("ivf_queries", probes.size.toDouble, "count")
    ctx.endToEnd(read = probes, bulk = batch)

    if (t.enabled) {
      t.drain()
      def med(name: String) = Stats.median(t.secondsOf(name))
      val n = t.secondsOf("search.knn").size.max(1).toDouble
      val knn = t.countsOf("search.knn_execute")
      ctx.layer("sources.scan_s", med("sources.scan"), "s")
      ctx.layer("functions.score_s", med("functions.score") - med("sources.scan"), "s")
      ctx.layer("functions.merge_s", med("search.knn") - med("functions.score"), "s")
      ctx.layer("plans.knn_ms", med("plans.knn") * 1e3, "ms")
      ctx.layer("search.knn_jobs", knn.jobs / n, "count")
      ctx.layer("search.knn_task_cpu_s", knn.taskCpuNs / 1e9 / n, "s")
      ctx.layer("search.knn_shuffle_bytes", knn.shuffleBytes / n, "bytes")
      ctx.layer("search.ivf_build_s", Stats.median(t.secondsOf("search.ivf_build")), "s")
      ctx.layer("search.ivf_scored_frac", Stats.median(scoredFrac.result()), "ratio")
      ctx.layer("trace.read_overhead_ms",
        (Stats.median(tracedProbeSecs.result()) - Stats.median(probes)) * 1e3, "ms")
    }
  }
}
