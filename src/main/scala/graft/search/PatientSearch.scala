package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.feat.Normalization
import graft.gen.PatientGenerator
import graft.model.{FederatedTrainer, Mlp}
import graft.schema.PatientSchema
import graft.stats.TransplantStats
import graft.store.PatientIndex

/** The orchestration facade — capability parity with
  * `PrivacyPreservingPatientSearch` (similarity_search.py:410-578):
  * setup → federated training → index build → scatter-gather top-k search
  * with transplant statistics.
  *
  * Lifecycle E1 (SURVEY.md §3): query dict → per-row-normalized 20-vector
  * (P3) → driver-side MLP forward (O(1)) → literal array broadcast into a
  * per-row cosine expression → window local top-k per hospital →
  * TakeOrderedAndProject global top-k → one conditional-agg stats pass.
  *
  * The served index is cached one partition per hospital
  * ([[graft.store.PatientIndex.serve]]), whether built or reloaded, so
  * the per-hospital window runs shard-local with no Exchange: a request
  * is one task per shard plus the merge, not a scan of every generator
  * partition and a shuffle of the whole index.
  */
class PatientSearch(spark: SparkSession) {

  private var patients: Option[DataFrame] = None
  // number of hospitals set up; the built index gets one partition each
  private var nShards = 0
  private var weights: Mlp.Weights = Mlp.init()
  // the served index with its per-shard row counts, computed ONCE at
  // index build/load — the search path must not rescan the corpus for
  // bookkeeping (at warehouse scale that is two extra full scans per query)
  private var served: Option[(DataFrame, Map[String, Long])] = None

  /** Trained-model / index accessors (for tests and reuse). */
  def globalWeights: Mlp.Weights = weights
  def vectorIndex: Option[DataFrame] = served.map(_._1)

  private def computeShardSizes(idx: DataFrame): Map[String, Long] =
    idx.groupBy(col("hospital")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Serve `idx` (cached by [[PatientIndex.serve]]): its shard sizes are
    * counted here, which also materializes the cache.
    */
  private def install(idx: DataFrame): DataFrame = {
    served = Some(idx -> computeShardSizes(idx))
    idx
  }

  /** setup_hospitals (similarity_search.py:419-434): generate shards,
    * z-score per hospital (the reference normalizes each client against
    * its own stats, similarity_search.py:180+198), assemble feature
    * arrays.
    */
  def setupHospitals(configs: Seq[(String, Long)], seed: Long = 42L): DataFrame = {
    val raw = PatientGenerator.setupHospitals(spark, configs, seed)
    val normalized = Normalization.zscore(raw, perGroup = Some("hospital"))
    val withFeatures = Normalization.assembleFeatures(normalized)
      // keep raw outcome columns for metadata (z-scored features live in the array)
      .cache()
    patients = Some(withFeatures)
    nShards = configs.map(_._1).distinct.size
    withFeatures
  }

  /** run_federated_training (similarity_search.py:436-474). */
  def runFederatedTraining(rounds: Int = 3, localEpochs: Int = 5): Seq[Double] = {
    val df = patients.getOrElse(sys.error("setupHospitals first"))
    val (trained, losses) = FederatedTrainer.train(df, rounds, localEpochs)
    weights = trained
    losses
  }

  /** generate_and_store_embeddings (similarity_search.py:495-539). */
  def generateAndStoreEmbeddings(): DataFrame = {
    val df = patients.getOrElse(sys.error("setupHospitals first"))
    install(PatientIndex.build(FederatedTrainer.withEmbeddings(df, weights), nShards))
  }

  /** Persist the built index shard-partitioned (the durable form of the
    * reference's in-memory store — reads prune to one hospital's
    * directories; see [[graft.sources.TableIO]]). The index is clustered
    * by hospital, so each `hospital=` directory gets one file.
    */
  def persistIndex(path: String): Unit =
    graft.sources.TableIO.writeIndex(
      vectorIndex.getOrElse(sys.error("generateAndStoreEmbeddings first")), path)

  /** Reload a persisted index into this facade (cold-start serving),
    * served one partition per `hospital=` directory — counted from the
    * file listing, so no job runs to find it.
    */
  def loadIndex(path: String): DataFrame = {
    val loaded = graft.sources.TableIO.readIndex(spark, path)
    val shardDirs = loaded.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getParent).distinct.length
    install(PatientIndex.serve(loaded, shardDirs))
  }

  /** search_similar_patients (similarity_search.py:541-559 → 322-363).
    * Returns (hits with rank/similarity/promoted outcome fields + metadata,
    * statistics block, total_searched = the gathered candidate-pool size
    * `len(all_results)` = Σ_shards min(k, |shard|) — the reference reports
    * the pool size, not the corpus size, similarity_search.py:361).
    */
  def searchSimilarPatients(query: Map[String, Double], topK: Int = 10): PatientSearch.Result = {
    val qFeatures = Normalization.prepareQueryFeatures(query)
    secureSimilaritySearch(Mlp.forward(weights, qFeatures), topK)
  }

  /** §2.12 parity: `SecureMultiPartyComputation.secure_similarity_search`
    * (similarity_search.py:322-363) — scatter-gather over the shard
    * boundary from a raw query embedding; see [[PatientSearch.search]].
    */
  def secureSimilaritySearch(qEmbedding: Array[Float], topK: Int = 10): PatientSearch.Result = {
    val (idx, sizes) = served.getOrElse(sys.error("generateAndStoreEmbeddings first"))
    PatientSearch.search(idx, sizes, qEmbedding, topK)
  }
}

object PatientSearch {
  /** Search result shape (similarity_search.py:359-363). */
  case class Result(topSimilarPatients: DataFrame, totalSearched: Long,
                    transplantStatistics: DataFrame, clinicalInsights: DataFrame)

  /** The search body over an index and its per-shard row counts. "Secure"
    * in the reference means only local top-k winners leave each shard;
    * here that is literally the dataflow: over an index clustered by
    * hospital the window's local filter runs inside each shard's
    * partition, and only n_shards × k candidate rows reach the global
    * merge. Over any other layout the result is the same, after a
    * shuffle of the index.
    */
  private[search] def search(idx: DataFrame, shardSizes: Map[String, Long],
                              qEmbedding: Array[Float], topK: Int): Result = {
    val sim = graft.functions.VectorFunctions
      .cosineSimilarity(col("embedding"), typedlit(qEmbedding.toSeq))

    val localW = Window.partitionBy(col("hospital"))
      .orderBy(col("similarity").desc, col("patient_id"))
    val localTopK = idx
      .withColumn("similarity", sim)
      .withColumn("local_rank", row_number().over(localW))
      .filter(col("local_rank") <= topK)

    val hits = localTopK
      .orderBy(col("similarity").desc, col("patient_id"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("similarity").desc, col("patient_id"))))
      .select(col("rank"), col("patient_id"), col("similarity"),
        col("hospital"), col("received_transplant"), col("transplant_success"),
        col("days_to_transplant"),
        // presentation form of the reference's 'N/A' sentinel (§1.2)
        coalesce(date_format(col("transplant_date"), "yyyy-MM-dd"), lit("N/A"))
          .as("transplant_date"),
        col("waitlist_status"), col("metadata"))
      .cache()

    // total_searched is the reference's candidate-pool size,
    // len(all_results) (similarity_search.py:361): each shard contributes
    // min(k, |shard|) local winners
    Result(
      topSimilarPatients = hits,
      totalSearched = shardSizes.valuesIterator.map(math.min(_, topK.toLong)).sum,
      transplantStatistics = TransplantStats.statisticsBlock(hits),
      clinicalInsights = TransplantStats.clinicalInsights(hits))
  }

  /** Compat alias parity: `HospitalVectorDB = HospitalVectorStorage`
    * (similarity_search.py:316) — here the "storage" IS the index
    * DataFrame.
    */
  type HospitalVectorDB = DataFrame
}
