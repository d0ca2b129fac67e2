package graft.util

import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * Concurrent builder for every snapshot artifact the registered queries
 * share (VERDICT r12 #3). The artifacts are mutually independent — the
 * one exception, the tokenized corpus reading the trained tokenizer,
 * stays a sequential chain inside its own task — and a single artifact's
 * stages leave most of a local[32] (or a cluster) idle, so the builds
 * submit from a thread pool and Spark's scheduler interleaves their
 * jobs. Artifacts, cache keys, and attribution names are IDENTICAL to
 * the former sequential build; only wall time changes. Per-artifact
 * seconds are each task's own elapsed time (under concurrency that
 * includes scheduler contention — attribution, not an isolated probe;
 * `graft.tools.Profile <dir> snapbuild 1`, a pool of width 1, is the
 * isolated per-artifact measurement).
 *
 * [[SnapshotCache]] is already safe under this concurrency: builds run
 * outside the map's bin locks and a losing racer's blocks are released.
 */
object SnapshotBuild {

  /** Thread-pool width on a 32-core host: enough tasks in flight to fill
    * scheduler gaps, few enough that individual jobs keep multi-core
    * stages. Measured by the `snapbuild` probe at sf0.1 on 32 cores:
    * 8 → 11.5 s, 12 → 9.3 s, 16 → 8.9 s, 24 → 15.5 s (oversubscription
    * thrash) — 16 sits at the floor set by the bpe tokenizer→encode
    * chain, the longest sequential task. */
  val Parallelism = 16

  /** Build (or re-touch) all shared artifacts; returns per-artifact build
    * seconds in a fixed order. Throws if any build throws (the caller's
    * failure handling is unchanged from the sequential form).
    * `parallelism` is overridable for the pool-width probe
    * (`graft.tools.Profile <dir> snapbuild`); production callers pass 0
    * and get the width scaled to the SESSION's core count — the probe's
    * 16 was tuned on 32 cores, and 16 concurrent jobs on a local[4]
    * driver would reproduce the oversubscription thrash the probe
    * measured at width 24 (ADVICE r13). */
  def all(spark: SparkSession, dir: String,
          parallelism: Int = 0): Seq[(String, Double)] = {
    import graft.ext.dedup.DedupQueries
    import graft.ext.text.{CmSketchQueries, DsirQueries, TextQueries}
    val width =
      if (parallelism > 0) parallelism
      else math.max(2, math.min(Parallelism, spark.sparkContext.defaultParallelism / 2))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Under spark.scheduler.mode=FAIR each task claims its own ad-hoc
    // pool (named by its first artifact) so concurrent builds FAIR-share
    // the scheduler: without the per-thread pool property every job lands
    // in the single 'default' pool, which FairSchedulableBuilder runs
    // FIFO internally — same behavior as FIFO mode (ADVICE r13). Pools
    // not in an allocation file get weight 1 / minShare 0, i.e. equal
    // shares — exactly what independent same-priority artifacts want.
    // Cleared in a finally: pool threads are reused across tasks, and the
    // property is thread-local to the submitting thread.
    def timed(name: String)(b: => Any): Seq[(String, Double)] = {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
      try {
        val t0 = System.nanoTime(); b
        Seq(name -> (System.nanoTime() - t0) / 1e9)
      } finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    }
    // The span pair shares one materialized window-hash stream (VERDICT
    // r15 #3): span_windows builds first, then span_islands and
    // span_corpus_index run CONCURRENTLY as continuations — submitting
    // them as independent tasks would race both into building the window
    // snapshot (the cache builds outside its bin lock; a losing racer's
    // work is discarded), re-paying the very duplication the shared
    // artifact removes.
    val spanWin: Future[Seq[(String, Double)]] = Future(
      timed("span_windows")(graft.ext.dedup.DedupQueries.spanWindowsSnapshot(spark, dir)))
    val spanIsl = spanWin.map(_ ++
      timed("span_islands")(graft.ext.dedup.DedupQueries.spanIslandsSnapshot(spark, dir)))
    val spanIdx = spanWin.map(_ =>
      timed("span_corpus_index")(graft.ext.dedup.DedupQueries.spanCorpusIndex(spark, dir)))
    // the shingle family shares one exploded-shingle materialization the
    // same way (r16): four artifact builds previously each re-ran the
    // scan→tokenize→slice→explode pipeline
    val shingles: Future[Seq[(String, Double)]] = Future(
      timed("shingle_rows")(DedupQueries.shingleRowsSnapshot(spark, dir)))
    val shJaccard = shingles.map(_ ++
      timed("jaccard_pairs")(DedupQueries.jaccardPairSnapshot(spark, dir)))
    val shMinhash = shingles.map(_ =>
      timed("minhash_sigs")(DedupQueries.signatures(spark, dir)))
    val shKmin = shingles.map(_ =>
      timed("kminhash_sketches")(
        graft.ext.dedup.KMinHashQueries.sketchIndex(spark, dir)))
    // the cluster-label artifact continues the jaccard chain (r16): its
    // input IS the pair snapshot, and three registered queries
    // (dedup_clusters / dedup_survivors / curate_clustered) read the
    // labels instead of each re-running the components loop
    val shClusters = shJaccard.map(_ ++
      timed("jaccard_clusters")(DedupQueries.clusterLabels(spark, dir)))
    // the curation screen verdict continues the corpus-index chain (r16):
    // its inputs are the posting/size indexes that chain builds (the
    // exact-hash set may race its own task — SnapshotCache discards the
    // loser); curate_incremental serves it and curate_index_append folds
    // its survivors
    val shIncIdx: Future[Seq[(String, Double)]] = shingles.map(_ =>
      timed("inc_corpus_index")(DedupQueries.corpusIndex(spark, dir)))
    val shScreen = shIncIdx.map(_ ++
      timed("curate_screen")(
        graft.ext.pipeline.CurateQueries.screenVerdicts(spark, dir)))
    // lm_scores and ppl_inc_model share one materialized bigram stream
    // (r16): the stream builds FIRST as its own attributed task, then the
    // two models run CONCURRENTLY as continuations (the span_windows
    // fan-out shape) — independent submission would race both into
    // building lm_bigrams, and a sequential chain would needlessly
    // serialize the two model fits behind each other
    val lmBigrams: Future[Seq[(String, Double)]] = Future(
      timed("lm_bigrams")(TextQueries.lmBigrams(spark, dir)))
    val lmChain = lmBigrams.map(_ ++
      timed("lm_scores")(TextQueries.lmScoreSnapshot(spark, dir)))
    val pplChain = lmBigrams.map(_ =>
      timed("ppl_inc_model")(TextQueries.pplArtifacts(spark, dir)))
    // dsir_weights / dsir_inc_model share the feature stream the same way
    val dsirFeat: Future[Seq[(String, Double)]] = Future(
      timed("dsir_features")(DsirQueries.dsirFeatures(spark, dir)))
    val dsirChain = dsirFeat.map(_ ++
      timed("dsir_weights")(DsirQueries.weightFrame(spark, dir)))
    val dsirInc = dsirFeat.map(_ =>
      timed("dsir_inc_model")(DsirQueries.incModel(spark, dir)))
    // the semantic component-label artifacts continue their pair-snapshot
    // tasks (r17, VERDICT r16 #1 — the jaccard_clusters move applied to
    // the embedding family): dedup_semantic / dedup_semantic_bucketed
    // read the labels instead of each re-running the components loop
    val embClusters = Future(
      timed("emb_pairs")(DedupQueries.embeddingPairSnapshot(spark, dir)) ++
        timed("sem_clusters")(DedupQueries.semClusterLabels(spark, dir)))
    val embLshClusters = Future(
      timed("emb_lsh_pairs")(DedupQueries.embeddingLshPairSnapshot(spark, dir)) ++
        timed("sem_clusters_lsh")(DedupQueries.semClusterLabelsLsh(spark, dir)))
    // Heavy roots HOISTED ahead of the tasks Seq (r17, VERDICT r16 #3 —
    // shorten the section's critical path): futures enqueue in CREATION
    // order, and these four (two ER canonical builds with sequential
    // components loops inside, the simhash census, the k-means model) sat
    // ~19th-21st in the submission order — behind the width-16 pool's
    // first wave, so they started seconds late and set the section's
    // tail. Creating them here starts them at t=0; their slots in the
    // tasks Seq below keep the attribution record order unchanged.
    val erBase = Future(
      timed("er_base_canon")(graft.ext.er.ErQueries.baseArtifacts(spark, dir)))
    val erCanon = Future(
      timed("er_canon_map")(graft.ext.er.ErQueries.canonMap(spark, dir)))
    val simhash = Future(timed("simhash_sigs")(DedupQueries.qSimhash(spark, dir)))
    val kmeans = Future(
      timed("kmeans_assign")(graft.ext.sim.SimQueries.kmeansModel(spark, dir)))
    val tasks: Seq[Future[Seq[(String, Double)]]] = Seq(
      spanIsl, spanIdx,
      // the bpe tokenizer→encode chain and the span chain above are the
      // longest tasks and set the section's critical path — both submit
      // ahead of the short tasks so neither ever queues at any pool width
      // (the bpe dependency chain: the tokenized corpus reads the trained
      // tokenizer, so the two stay sequential WITHIN this task; separate
      // tasks would race both into building the tokenizer, one build
      // discarded)
      Future(timed("bpe_tokenizer")(TextQueries.bpeArtifacts(spark, dir)) ++
        timed("bpe_encoded")(TextQueries.bpeEncoded(spark, dir))),
      shClusters, shScreen,
      embClusters, embLshClusters,
      Future(timed("emb_inc_index")(DedupQueries.embIncCorpusIndex(spark, dir))),
      Future(timed("inc_exact_hashes")(DedupQueries.corpusHashIndex(spark, dir))),
      Future(timed("inc_doc_hashes")(DedupQueries.corpusDocHashes(spark, dir))),
      Future(timed("baskets")(graft.batch.BasketQueries.basketSnapshot(spark, dir))),
      lmChain, pplChain,
      dsirChain, dsirInc,
      Future(timed("cm_counters")(CmSketchQueries.counters(spark, dir))),
      // lsh_bands feeds the emb_lsh_pairs / emb_inc_index builds — submit
      // it early so racers find it warm more often (races are safe, just
      // duplicated work)
      Future(timed("lsh_bands")(graft.ext.sim.SimQueries.lshBandIndex(spark, dir))),
      Future(timed("knn_truth")(graft.ext.sim.SimQueries.qKnnBrute(spark, dir))),
      Future(timed("align_truth")(graft.ext.sim.AlignQueries.qAlignBitext(spark, dir))),
      // the PQ index pair shares one task (both read the same 16-row
      // codebook seed; separate tasks would just race two cheap collects)
      Future(timed("pq_codes")(graft.ext.sim.PqQueries.codesSnapshot(spark, dir)) ++
        timed("pq_luts")(graft.ext.sim.PqQueries.lutSnapshot(spark, dir))),
      // frozen-model artifacts of the incremental screens: each is a
      // dependency chain internally (thresholds read counts; totals read
      // the model), so each stays one task
      Future(timed("doc_tokens")(TextQueries.tokenizedDocs(spark, dir))),
      shMinhash,
      simhash,
      shKmin,
      erBase,
      // the full-vocabulary canonical map (r16): er_canonical serves it
      // verbatim and er_resolve broadcasts it into the fact scan — each
      // previously re-ran fuzzy pairs + the components loop
      erCanon,
      kmeans,
      // the bucketed weighted median's (flag, value) weight census
      // (VERDICT r14 #2 — built live it put the twin BEHIND the exact
      // form in-suite; as an artifact the suite measures the operator)
      Future(timed("wmedian_grain")(graft.batch.StatsQueries.wmedianGrain(spark, dir))))
    try Await.result(Future.sequence(tasks), Duration.Inf).flatten
    finally pool.shutdown()
  }
}
