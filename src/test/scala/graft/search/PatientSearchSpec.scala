package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftListenerBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.feat.Normalization
import graft.gen.PatientGenerator
import graft.model.Mlp
import graft.schema.PatientSchema

/** E2E pipeline + scatter-gather invariants (SURVEY.md §5.3/§5.4).
  * Small corpus + 1 training round keeps this fast; invariants (not golden
  * values) make it robust to training nondeterminism across JVMs.
  */
class PatientSearchSpec extends SparkSpec {

  private val topK = 5
  private val nShards = 3

  private lazy val system: (PatientSearch, PatientSearch.Result) = {
    val ps = new PatientSearch(spark)
    ps.setupHospitals(Seq(("Hospital_A", 150L), ("Hospital_B", 100L), ("Hospital_C", 120L)))
    val losses = ps.runFederatedTraining(rounds = 1, localEpochs = 2)
    assert(losses.nonEmpty && losses.forall(l => !l.isNaN))
    ps.generateAndStoreEmbeddings()
    (ps, ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK))
  }

  /** The exchanges between the per-hospital window of a hits frame and
    * the cached index it reads (the index cache's own plan excluded).
    */
  private def exchangesBelowShardWindow(hits: DataFrame): Seq[SparkPlan] = {
    def tree(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => tree(a.executedPlan, intoCache)
      case q: QueryStageExec => tree(q.plan, intoCache)
      case m: InMemoryTableScanExec if intoCache => tree(m.relation.cachedPlan, intoCache)
      case _ => p.children.flatMap(tree(_, intoCache))
    })
    val windows = tree(hits.queryExecution.executedPlan, intoCache = true).collect {
      case w: WindowExec if w.partitionSpec.exists(_.references.exists(_.name == "hospital")) => w
    }
    assert(windows.size == 1)
    tree(windows.head, intoCache = false).collect { case e: Exchange => e }
  }

  private val seededQueries: Seq[Map[String, Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(5)(PatientSchema.demoQueryPatient.map { case (f, v) =>
      f -> v * (0.7 + 0.6 * rnd.nextDouble()) })
  }

  /** The facade's served index has at most n_shards partitions, its
    * searches run the shard window with no Exchange below it, and hits
    * and both statistics blocks equal exactly those of the same search
    * body over an unclustered copy of the index (the pre-clustering
    * layout: genPartitions partitions per shard).
    */
  private def assertServedShardLocal(ps: PatientSearch): Unit = {
    val idx = ps.vectorIndex.get
    assert(idx.rdd.getNumPartitions <= nShards)
    val sizes = idx.groupBy("hospital").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val unclustered = idx.repartition(PatientGenerator.genPartitions * nShards).cache()
    try seededQueries.foreach { q =>
      val emb = Mlp.forward(ps.globalWeights, Normalization.prepareQueryFeatures(q))
      val served = ps.secureSimilaritySearch(emb, topK)
      val plain = PatientSearch.search(unclustered, sizes, emb, topK)
      try {
        assert(served.topSimilarPatients.collect().toSeq ==
          plain.topSimilarPatients.collect().toSeq)
        assert(served.transplantStatistics.collect().toSeq ==
          plain.transplantStatistics.collect().toSeq)
        assert(served.clinicalInsights.collect().toSeq ==
          plain.clinicalInsights.collect().toSeq)
        assert(served.totalSearched == plain.totalSearched)
        assert(exchangesBelowShardWindow(served.topSimilarPatients).isEmpty,
          "the served index must feed the shard window without a shuffle")
        assert(exchangesBelowShardWindow(plain.topSimilarPatients).nonEmpty,
          "an unclustered index needs an Exchange below the shard window")
      } finally Seq(served, plain).foreach(_.topSimilarPatients.unpersist())
    } finally unclustered.unpersist()
  }

  test("index holds one 128-dim embedding + metadata struct per patient") {
    val idx = system._1.vectorIndex.get
    assert(idx.count() == 370)
    val row = idx.select("embedding", "metadata.hospital", "metadata.age").head()
    assert(row.getSeq[Float](0).length == PatientSchema.embeddingDim)
    assert(row.getString(1).startsWith("Hospital_"))
  }

  test("hits: size == k, ranks 1..k, similarity descending in [-1,1]") {
    val hits = system._2.topSimilarPatients.collect()
    assert(hits.length == topK)
    assert(hits.map(_.getAs[Int]("rank")).toSeq == (1 to topK))
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
  }

  test("scatter-gather invariant: global top-k ⊆ union of local top-k " +
    "(similarity_search.py:332-356)") {
    val ps = system._1
    val idx = ps.vectorIndex.get
    val q = graft.feat.Normalization.prepareQueryFeatures(PatientSchema.demoQueryPatient)
    val qEmb = graft.model.Mlp.forward(ps.globalWeights, q)
    val scored = idx.withColumn("sim",
      graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), typedlit(qEmb.toSeq)))
    // local top-k per hospital, computed independently
    val localUnion = scored.orderBy(col("sim").desc, col("patient_id"))
      .groupBy("hospital")
      .agg(slice(sort_array(collect_list(struct(col("sim"), col("patient_id"))), asc = false), 1, topK)
        .as("top"))
      .select(explode(col("top.patient_id")).as("patient_id"))
      .collect().map(_.getString(0)).toSet
    val globalIds = system._2.topSimilarPatients
      .select("patient_id").collect().map(_.getString(0)).toSet
    assert(globalIds.subsetOf(localUnion))
  }

  test("total_searched = min(n_hospitals × k, corpus) — pool not corpus " +
    "(similarity_search.py:361)") {
    assert(system._2.totalSearched == 3L * topK)
  }

  test("search path runs no bookkeeping scans: secureSimilaritySearch " +
    "launches zero Spark jobs (shard sizes come from index build)") {
    val ps = system._1
    system._2 // force lazy system init (training + index build jobs happen here)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK)
      assert(r.totalSearched == 3L * topK)
      GraftListenerBridge.drain(spark.sparkContext)
      assert(jobs == 0,
        s"search construction must not scan the corpus, saw $jobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stats block: counts partition and rates are consistent (A3)") {
    val s = system._2.transplantStatistics.head()
    val total = s.getAs[Long]("total_similar_patients")
    val t = s.getAs[Long]("transplanted_count")
    val nt = s.getAs[Long]("not_transplanted_count")
    assert(total == topK && t + nt == total)
    assert(math.abs(s.getAs[Double]("transplant_rate") - t.toDouble / total) < 1e-12)
    val byStatus = Seq("still_on_waitlist", "removed_too_sick",
      "removed_improved", "deceased_on_waitlist").map(s.getAs[Long]).sum
    assert(byStatus == nt, "waitlist breakdown must sum to not-transplanted")
    if (t > 0) {
      assert(s.getAs[Long]("successful_transplants") <= t)
      val m = s.getAs[Double]("average_wait_time_months")
      val d = s.getAs[Double]("average_wait_time_days")
      assert(math.abs(m - d / 30.44) < 1e-9)
    }
  }

  test("built index is served one partition per hospital: shard-local " +
    "window, results equal an unclustered copy's") {
    assertServedShardLocal(system._1)
  }

  test("index persists shard-partitioned and search works after reload") {
    val (ps, before) = system
    val dir = java.nio.file.Files.createTempDirectory("graft_psearch").toString
    ps.persistIndex(dir)
    val reloaded = ps.loadIndex(dir)
    assert(reloaded.count() == 370)
    val after = ps.searchSimilarPatients(
      graft.schema.PatientSchema.demoQueryPatient, topK)
    val idsBefore = before.topSimilarPatients.select("patient_id")
      .collect().map(_.getString(0)).toSeq
    val idsAfter = after.topSimilarPatients.select("patient_id")
      .collect().map(_.getString(0)).toSeq
    assert(idsAfter == idsBefore, "cold-start search must reproduce results")
  }

  test("persisted index has one file per hospital directory; the reloaded " +
    "index is served one partition per hospital") {
    val ps = system._1
    val dir = java.nio.file.Files.createTempDirectory("graft_psearch_layout")
    ps.persistIndex(dir.toString)
    val shardDirs = dir.toFile.listFiles().filter(_.getName.startsWith("hospital="))
    assert(shardDirs.length == nShards)
    shardDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d.getName)
    }
    ps.loadIndex(dir.toString)
    assertServedShardLocal(ps)
  }

  test("transplant_date presentation uses the reference's 'N/A' sentinel") {
    val dates = system._2.topSimilarPatients
      .select("transplant_date", "received_transplant").collect()
    dates.foreach { r =>
      if (r.getBoolean(1)) assert(r.getString(0).matches("\\d{4}-\\d{2}-\\d{2}"))
      else assert(r.getString(0) == "N/A")
    }
  }

  test("clinical insights (A6) produce the reference's metric set") {
    val cols = system._2.clinicalInsights.columns.toSet
    Seq("avg_wait_transplanted_days", "avg_age_success",
      "avg_wait_not_transplanted_days", "still_waiting")
      .foreach(c => assert(cols.contains(c)))
  }
}
