package graft.util

import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * Builds every snapshot artifact the registered queries share, from one
 * declared graph. A single artifact's stages leave most of the cores idle,
 * so independent artifacts build from a thread pool and Spark's scheduler
 * interleaves their jobs. Concurrency changes only wall time: artifacts,
 * cache keys and attribution names are those of a sequential walk of
 * [[Graph]] (SnapshotBuildSpec). Per-artifact seconds are each step's own
 * elapsed time, scheduler contention included.
 *
 * [[SnapshotCache]] is safe under this concurrency: builds run outside the
 * map's bin locks and a losing racer's blocks are released.
 */
object SnapshotBuild {

  /** One artifact: its attribution name, its builder, and the steps that
    * read what it built. A `next` step starts only after its parent has
    * finished; submitted independently, both would race to build the
    * parent's snapshot and one build would be thrown away. */
  final case class Step(name: String, build: (SparkSession, String) => Any,
                        next: Seq[Step] = Nil)

  /** Every shared artifact. Roots are submitted in this order, so the heavy
    * ones (the shared shingle, bigram, feature and embedding-pair streams,
    * the two ER canonical builds, the simhash census, the k-means model)
    * come first and start in the pool's first wave instead of setting the
    * section's tail. */
  val Graph: Seq[Step] = {
    import graft.batch.{BasketQueries, StatsQueries}
    import graft.ext.dedup.{DedupQueries => D, KMinHashQueries}
    import graft.ext.er.ErQueries
    import graft.ext.pipeline.CurateQueries
    import graft.ext.sim.{AlignQueries, PqQueries, SimQueries}
    import graft.ext.text.{CmSketchQueries, DsirQueries, TextQueries}
    Seq(
      Step("span_windows", D.spanWindowsSnapshot, Seq(
        Step("span_islands", D.spanIslandsSnapshot),
        Step("span_corpus_index", D.spanCorpusIndex))),
      Step("shingle_rows", D.shingleRowsSnapshot, Seq(
        Step("jaccard_pairs", D.jaccardPairSnapshot, Seq(
          Step("jaccard_clusters", D.clusterLabels))),
        Step("minhash_sigs", D.signatures),
        Step("kminhash_sketches", KMinHashQueries.sketchIndex),
        Step("inc_corpus_index", D.corpusIndex, Seq(
          Step("curate_screen", CurateQueries.screenVerdicts))))),
      Step("lm_bigrams", TextQueries.lmBigrams, Seq(
        Step("lm_scores", TextQueries.lmScoreSnapshot),
        Step("ppl_inc_model", TextQueries.pplArtifacts))),
      Step("dsir_features", DsirQueries.dsirFeatures, Seq(
        Step("dsir_weights", DsirQueries.weightFrame),
        Step("dsir_inc_model", DsirQueries.incModel))),
      Step("emb_pairs", D.embeddingPairSnapshot, Seq(
        Step("sem_clusters", D.semClusterLabels))),
      Step("emb_lsh_pairs", D.embeddingLshPairSnapshot, Seq(
        Step("sem_clusters_lsh", D.semClusterLabelsLsh))),
      Step("er_base_canon", ErQueries.baseArtifacts),
      Step("er_canon_map", ErQueries.canonMap),
      Step("simhash_sigs", D.qSimhash),
      Step("kmeans_assign", SimQueries.kmeansModel),
      Step("bpe_tokenizer", TextQueries.bpeArtifacts, Seq(
        Step("bpe_encoded", TextQueries.bpeEncoded))),
      Step("emb_inc_index", D.embIncCorpusIndex),
      Step("inc_exact_hashes", D.corpusHashIndex),
      Step("inc_doc_hashes", D.corpusDocHashes),
      Step("baskets", BasketQueries.basketSnapshot),
      Step("cm_counters", CmSketchQueries.counters),
      Step("lsh_bands", SimQueries.lshBandIndex),
      Step("knn_truth", SimQueries.qKnnBrute),
      Step("align_truth", AlignQueries.qAlignBitext),
      Step("pq_codes", PqQueries.codesSnapshot, Seq(
        Step("pq_luts", PqQueries.lutSnapshot))),
      Step("doc_tokens", TextQueries.tokenizedDocs),
      Step("wmedian_grain", StatsQueries.wmedianGrain))
  }

  /** Pool width cap: enough steps in flight to fill scheduler gaps, few
    * enough that each job keeps multi-core stages. At sf0.1 on 32 cores,
    * widths 8, 12, 16 and 24 built in 11.5, 9.3, 8.9 and 15.5 s
    * (oversubscription thrash at 24); on 4 cores width 4 beat width 2 in
    * 10 of 10 runs (about 28 against 36 s). */
  val Parallelism = 16

  /** Build (or re-touch) every artifact of [[Graph]] and return
    * `(name, seconds)` per step, in [[Graph]] order, depth first. Throws
    * if any build throws. The pool is one thread per session core, capped
    * at [[Parallelism]]; only 4 and 32 cores are measured, hosts with 8–31
    * cores are not. Each step runs in its own FAIR pool. A step's lone
    * `next` step runs on the step's own thread, after its parent; a
    * fan-out of several is submitted to the pool, behind the roots, so
    * every root starts before any branch and the heavy roots are not
    * pushed back. */
  def all(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val width = math.min(Parallelism, spark.sparkContext.defaultParallelism)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    val submit = ExecutionContext.fromExecutor(pool)
    implicit val join: ExecutionContext = ExecutionContext.parasitic
    def fork(s: Step): Future[Seq[(String, Double)]] = Future(run(s))(submit).flatten
    def run(s: Step): Future[Seq[(String, Double)]] = {
      // Under FAIR scheduling each step claims its own ad-hoc pool, so
      // concurrent builds share the scheduler equally; without it every
      // job lands in the 'default' pool, which runs FIFO. The property is
      // thread-local and pool threads are reused, hence the finally.
      val sc = spark.sparkContext
      sc.setLocalProperty("spark.scheduler.pool", s.name)
      val secs =
        try { val t0 = System.nanoTime(); s.build(spark, dir); (System.nanoTime() - t0) / 1e9 }
        finally sc.setLocalProperty("spark.scheduler.pool", null)
      val next = s.next match {
        case Seq(only) => Seq(run(only))
        case fanOut => fanOut.map(fork)
      }
      Future.sequence(next).map((s.name -> secs) +: _.flatten)
    }
    try Await.result(Future.sequence(Graph.map(fork)), Duration.Inf).flatten
    finally pool.shutdown()
  }
}
