package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Hash-gate for the concurrent artifact build: [[SnapshotBuild.all]] must
 * produce artifacts IDENTICAL to a sequential walk of the same
 * [[SnapshotBuild.Graph]] — same rows, same attribution keys — with
 * concurrency changing only wall time. Frames are digested with an
 * order-independent row-hash sum so nondeterministic partition order
 * can't mask or fake a difference.
 */
class SnapshotBuildSpec extends SparkSpec {

  /** Order-independent content digest: (row count, Σ xxhash64(row)) —
    * the sum accumulates in decimal(38,0) because a LongType sum of
    * full-range hashes overflows under ANSI. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")).as("h")).head
    (r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** The artifacts sampled for content equality — one per family wired
    * through [[SnapshotBuild]], including both ends of the bpe chain. */
  private def sample(): Map[String, (Long, BigDecimal)] = Map(
    "jaccard_pairs" -> digest(
      graft.ext.dedup.DedupQueries.jaccardPairSnapshot(spark, sf)),
    "emb_lsh_pairs" -> digest(
      graft.ext.dedup.DedupQueries.embeddingLshPairSnapshot(spark, sf)),
    "baskets" -> digest(graft.batch.BasketQueries.basketSnapshot(spark, sf)),
    "lm_scores" -> digest(graft.ext.text.TextQueries.lmScoreSnapshot(spark, sf)),
    "bpe_encoded" -> digest(graft.ext.text.TextQueries.bpeEncoded(spark, sf)),
    "dsir_weights" -> digest(graft.ext.text.DsirQueries.weightFrame(spark, sf)),
    "cm_counters" -> digest(graft.ext.text.CmSketchQueries.counters(spark, sf)),
    "knn_truth" -> digest(graft.ext.sim.SimQueries.qKnnBrute(spark, sf)),
    "lsh_bands" -> digest(graft.ext.sim.SimQueries.lshBandIndex(spark, sf)),
    "align_truth" -> digest(graft.ext.sim.AlignQueries.qAlignBitext(spark, sf)),
    "pq_codes" -> digest(graft.ext.sim.PqQueries.codesSnapshot(spark, sf)),
    "pq_luts" -> digest(graft.ext.sim.PqQueries.lutSnapshot(spark, sf)),
    "doc_tokens" -> digest(graft.ext.text.TextQueries.tokenizedDocs(spark, sf)
      .select(col("doc_id"), col("dl"), md5(concat_ws(" ", col("t"))).as("sig"))),
    "minhash_sigs" -> digest(graft.ext.dedup.DedupQueries.signatures(spark, sf)
      .select(col("doc_id"),
        md5(concat_ws(",", transform(col("sig"), x => x.cast("string")))).as("sig"))),
    "simhash_sigs" -> digest(graft.ext.dedup.DedupQueries.qSimhash(spark, sf)),
    "kminhash_sketches" -> digest(
      graft.ext.dedup.KMinHashQueries.sketchIndex(spark, sf)
        .select(col("doc_id"),
          md5(concat_ws(",", transform(col("sk"), x => x.cast("string")))).as("sig"))),
    "ppl_inc_model" -> digest(graft.ext.text.TextQueries.pplArtifacts(spark, sf)._2),
    "dsir_inc_model" -> digest(graft.ext.text.DsirQueries.incModel(spark, sf)._1),
    "er_base_canon" -> digest(graft.ext.er.ErQueries.baseArtifacts(spark, sf)._3),
    "kmeans_assign" -> digest(graft.ext.sim.SimQueries.kmeansModel(spark, sf)
      .select(col("vec_id"), col("nsq"), col("cl"))),
    "wmedian_grain" -> digest(graft.batch.StatsQueries.wmedianGrain(spark, sf)),
    // shared-materialization artifacts: component labels and the
    // canonical map must come out identical whether built concurrently
    // (as `next` steps) or in the sequential walk
    "jaccard_clusters" -> digest(graft.ext.dedup.DedupQueries.clusterLabels(spark, sf)),
    "er_canon_map" -> digest(graft.ext.er.ErQueries.canonMap(spark, sf)),
    "curate_screen" -> digest(graft.ext.pipeline.CurateQueries.screenVerdicts(spark, sf)),
    "sem_clusters" -> digest(graft.ext.dedup.DedupQueries.semClusterLabels(spark, sf)),
    "sem_clusters_lsh" -> digest(graft.ext.dedup.DedupQueries.semClusterLabelsLsh(spark, sf)))

  test("concurrent build produces the sequential build's artifacts, keys, and content") {
    SnapshotCache.clearAll()
    val concurrent = SnapshotBuild.all(spark, sf)
    val concurrentDigests = sample() // cache hits — the concurrent build's frames
    SnapshotCache.clearAll()
    // sequential rebuild: the same graph, walked depth first on this thread
    def walk(s: SnapshotBuild.Step): Unit = { s.build(spark, sf); s.next.foreach(walk) }
    SnapshotBuild.Graph.foreach(walk)
    val sequentialDigests = sample()
    assert(concurrentDigests == sequentialDigests,
      s"concurrent vs sequential artifact content diverged:\n" +
        s"  concurrent: $concurrentDigests\n  sequential: $sequentialDigests")
    // attribution names: every step of the graph, in its depth-first order
    assert(concurrent.map(_._1) == Seq(
      "span_windows", "span_islands", "span_corpus_index",
      "shingle_rows", "jaccard_pairs", "jaccard_clusters",
      "minhash_sigs", "kminhash_sketches", "inc_corpus_index", "curate_screen",
      "lm_bigrams", "lm_scores", "ppl_inc_model",
      "dsir_features", "dsir_weights", "dsir_inc_model",
      "emb_pairs", "sem_clusters", "emb_lsh_pairs", "sem_clusters_lsh",
      "er_base_canon", "er_canon_map", "simhash_sigs", "kmeans_assign",
      "bpe_tokenizer", "bpe_encoded",
      "emb_inc_index", "inc_exact_hashes", "inc_doc_hashes", "baskets",
      "cm_counters", "lsh_bands", "knn_truth", "align_truth",
      "pq_codes", "pq_luts", "doc_tokens", "wmedian_grain"))
    // every build actually ran under the clock (no zero-cost phantom)
    assert(concurrent.forall(_._2 >= 0.0))
    SnapshotCache.clearAll()
  }
}
