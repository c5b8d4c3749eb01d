package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.feat.Normalization
import graft.gen.PatientGenerator
import graft.model.Mlp
import graft.search.PatientSearch

/** The reference lifecycle through the `PatientSearch` facade: seeded
  * hospitals, federated training, embedding index, then a stream of
  * seeded query patients, each searched with k = 10.
  *
  * Why: the index is small and cached by the program, so fixed
  * per-request cost (jobs, planning, windows, statistics) dominates and
  * scoring is a small share. A planner or job-count change shows here; a
  * scoring-kernel change should not.
  */
object PatientSearchWorkload {

  val PatientsPerHospital = 300L
  val Rounds = 1
  val LocalEpochs = 2
  val K = 10
  val WarmupRequests = 2

  private def hospitals = Seq("hospital_A", "hospital_B", "hospital_C")
    .map(_ -> PatientsPerHospital)

  /** The driver-side copy of the served index the checks use. */
  final class Reference(val keys: Array[(String, String)], val vecs: Array[Array[Float]])

  def run(ctx: RunContext): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer

    def setup(): PatientSearch = {
      val f = new PatientSearch(spark)
      if (t.enabled) {
        // layer split of what the facade fuses lazily: generation and
        // normalization each materialized once over a cached input
        val raw = t.span("gen.generate") {
          val r = PatientGenerator.setupHospitals(spark, hospitals, ctx.seed).cache()
          Run.noop(r); r
        }
        t.span("feat.normalize") {
          Run.noop(Normalization.assembleFeatures(
            Normalization.zscore(raw, perGroup = Some("hospital"))))
        }
        raw.unpersist(true)
      }
      t.span("search.setup_hospitals") { f.setupHospitals(hospitals, ctx.seed) }
      t.span("model.train") { f.runFederatedTraining(Rounds, LocalEpochs) }
      t.span("model.embed_index") { f.generateAndStoreEmbeddings() }
      (0 until WarmupRequests).foreach(i => request(f, -1 - i, traced = false))
      f
    }

    /** One full request: search, materialize the hits, collect both
      * statistics blocks. Returns the outputs and the wall seconds.
      */
    def request(f: PatientSearch, i: Int, traced: Boolean) = {
      val query = Inputs.queryPatient(ctx.seed, i.toLong)
      t.recording = traced
      val t0 = System.nanoTime()
      val (result, hits, stats, insights) = t.inRequest(i.toLong) {
        t.span("request") {
          val r =
            if (!traced) f.searchSimilarPatients(query, K)
            else {
              val emb = t.span("model.forward") {
                Mlp.forward(f.globalWeights, Normalization.prepareQueryFeatures(query))
              }
              val r = t.span("search.construct") { f.secureSimilaritySearch(emb, K) }
              t.span("plans.search") {
                r.topSimilarPatients.queryExecution.executedPlan
                r.transplantStatistics.queryExecution.executedPlan
                r.clinicalInsights.queryExecution.executedPlan
              }
              r
            }
          val hits = t.span("search.execute") { r.topSimilarPatients.collect() }
          val (st, ci) = t.span("stats.blocks") {
            (r.transplantStatistics.collect(), r.clinicalInsights.collect())
          }
          (r, hits, st, ci)
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      t.recording = t.enabled
      // the facade caches each hit set for its statistics; the caller
      // releases it once consumed
      result.topSimilarPatients.unpersist(false)
      (query, result, hits, stats, insights, secs)
    }

    def checkHits(f: PatientSearch, s: Reference, query: Map[String, Double], r: PatientSearch.Result,
                  hits: Array[Row], stats: Array[Row], insights: Array[Row]): Unit = {
      val sims = hits.map(_.getAs[Double]("similarity"))
      ctx.check(hits.length == K, s"patient_search: ${hits.length} hits, expected $K")
      ctx.check(hits.map(_.getAs[Int]("rank")).toSeq == (1 to hits.length),
        "patient_search: ranks are not 1..k")
      ctx.check(sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        "patient_search: similarities increase down the ranking")
      val emb = Mlp.forward(f.globalWeights, Normalization.prepareQueryFeatures(query))
      val best = Exact.topKBy(s.keys.indices.map(_.toLong).toArray, s.vecs, emb, 1,
        keep = _ => true, score = identity, slack = 0.0).head
      val (bh, bp) = s.keys(best._1.toInt)
      ctx.check(hits.nonEmpty && hits(0).getAs[String]("hospital") == bh &&
        hits(0).getAs[String]("patient_id") == bp &&
        math.abs(sims(0) - best._2) <= 1e-9,
        s"patient_search: top hit differs from brute force ($bh/$bp ${best._2})")
      ctx.check(stats.length == 1 && insights.length == 1 &&
        stats(0).getAs[Long]("total_similar_patients") == K,
        "patient_search: statistics block does not count the k hits")
      ctx.check(r.totalSearched == hospitals.map(h => math.min(K.toLong, h._2)).sum,
        s"patient_search: total_searched ${r.totalSearched}")
    }

    val facade = ctx.timedSetup(setup())
    val index = facade.vectorIndex.get
      .select(col("hospital"), col("patient_id"), col("embedding")).collect()
    val reference = new Reference(index.map(r => (r.getString(0), r.getString(1))),
      index.map(_.getSeq[Float](2).toArray))

    val plain = Vector.newBuilder[Double]
    val withSpans = Vector.newBuilder[Double]
    ctx.closedLoop { i =>
      val traced = ctx.traced(i)
      ctx.operation("patient search request") {
        val before = ctx.failed
        val (query, result, hits, stats, insights, secs) = request(facade, i, traced)
        checkHits(facade, reference, query, result, hits, stats, insights)
        if (ctx.failed == before) (if (traced) withSpans else plain) += secs
      }
    }
    val lat = plain.result()
    ctx.metric("search_p50_s", Stats.median(lat), "s")
    ctx.metric("search_p90_s", Stats.percentile(lat, 90), "s")
    ctx.metric("search_requests", lat.size.toDouble, "count")
    ctx.endToEnd(read = lat, bulk = lat)

    if (t.enabled) {
      t.drain()
      val n = t.secondsOf("request").size.max(1).toDouble
      def ms(name: String) = Stats.median(t.secondsOf(name)) * 1e3
      def perReq(c: Double) = c / n
      ctx.layer("gen.generate_s", Stats.median(t.secondsOf("gen.generate")), "s")
      ctx.layer("feat.normalize_s", Stats.median(t.secondsOf("feat.normalize")), "s")
      ctx.layer("model.train_s", Stats.median(t.secondsOf("model.train")), "s")
      ctx.layer("model.train_jobs",
        t.countsOf("model.train").jobs.toDouble / t.secondsOf("model.train").size.max(1), "count")
      ctx.layer("model.embed_index_s", Stats.median(t.secondsOf("model.embed_index")), "s")
      ctx.layer("model.forward_ms", ms("model.forward"), "ms")
      ctx.layer("search.construct_ms", ms("search.construct"), "ms")
      ctx.layer("plans.search_ms", ms("plans.search"), "ms")
      ctx.layer("search.execute_ms", ms("search.execute"), "ms")
      val search = Seq("search.construct", "plans.search", "search.execute")
        .map(t.countsOf).reduce(_ + _)
      ctx.layer("search.jobs", perReq(search.jobs), "count")
      ctx.layer("search.task_cpu_ms", perReq(search.taskCpuNs / 1e6), "ms")
      ctx.layer("search.shuffle_bytes", perReq(search.shuffleBytes.toDouble), "bytes")
      ctx.layer("stats.blocks_ms", ms("stats.blocks"), "ms")
      ctx.layer("stats.jobs", perReq(t.countsOf("stats.blocks").jobs), "count")
      ctx.layer("trace.read_overhead_ms",
        (Stats.median(withSpans.result()) - Stats.median(lat)) * 1e3, "ms")
    }
  }
}
