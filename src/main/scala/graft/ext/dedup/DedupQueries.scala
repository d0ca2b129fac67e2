package graft.ext.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.text.TextNorm
import graft.functions.{Exact, VectorFunctions}
import graft.sources.Tables
import graft.util.SnapshotCache

/**
 * Deduplication suite for LLM training-data pipelines over `documents` and
 * `embeddings`: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
 * embedding-cosine near-dup detection.
 *
 * Scale design (the point of each algorithm):
 *  - Exact/fingerprint dedup: one shuffle on a 128-bit hash — trivially
 *    100 TB-safe.
 *  - MinHash: signatures are ONE narrow pass + one groupBy(doc_id); the LSH
 *    band join generates candidates via equi-join on (band, band_hash) —
 *    never the O(n²) cross join. Candidate count scales with actual
 *    duplication, not corpus size.
 *  - SimHash: 48-bit signature; candidate pairs via the pigeonhole chunk
 *    join (4 chunks of 12 bits ⇒ any pair within Hamming≤3 shares one exact
 *    chunk) then exact Hamming filter — same result as all-pairs, linear
 *    candidate generation. The DuckDB oracle runs the all-pairs form, so the
 *    driver's hash-compare proves the optimization is semantics-preserving.
 *  - Jaccard: shared-shingle inverted-index join; a pair appears iff it
 *    shares ≥1 shingle, which any pair above threshold must.
 *  - Embedding near-dup: quantized exact-integer dot products
 *    ([[graft.functions.Exact.fixed]]) make cosine bit-identical across
 *    engines; all-pairs here (embeddings table is small), LSH-bucketed ANN
 *    lives in [[graft.ext.sim.SimQueries]] as the scale path.
 *
 * All hashes derive from md5 ([[Exact.md5Long]]) — the one hash primitive
 * Spark and DuckDB share bit-for-bit.
 */
object DedupQueries {

  val MinhashFns = 12   // 4 bands × 3 rows
  val Bands = 4
  val RowsPerBand = 3
  val SimhashBits = 48  // 4 chunks × 12 bits, pigeonhole for Hamming ≤ 3
  val SimhashChunks = 4
  val HammingMax = 3
  val JaccardThreshold = 0.8
  val CosineThreshold = 0.4

  // ------------------------------------------------------------ exact

  /** Exact dedup by normalized-text md5: one group per distinct content,
    * keeper = min(doc_id), deterministic. */
  def qExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(TextNorm.norm(col("text"))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_docs"))

  // ------------------------------------------------------------ shingles

  /** Exploded (doc_id, shingle) rows, built WITHOUT higher-order lambdas
    * and WITHOUT a shuffle: three staggered `slice`s of the token array
    * zipped (`arrays_zip` — a plain codegen'd expression, not a lambda),
    * exploded, and stitched with `concat_ws`. The direct
    * `transform(sequence(...), …)` formulation costs ~6 ms/doc in
    * interpreted lambda evaluation (≈60 s/query at sf0.1); the previous
    * posexplode+window-`lead` form was codegen'd but forced a full
    * shuffle+sort of every token row just to see neighbors — the slices
    * see them for free inside one narrow projection. Docs with <3 tokens
    * contribute their whole text, matching [[TextNorm.shingles]] and the
    * DuckDB oracles exactly.
    *
    * `dedup=true` (jaccard set semantics) appends the ONE shuffle;
    * `dedup=false` skips it for consumers that are duplicate-insensitive
    * (minhash: min over a multiset = min over its set). */
  private[graft] def shingleRows(spark: SparkSession, dir: String,
                                 dedup: Boolean = true): DataFrame =
    shingleRowsOf(Tables.rebalanced(spark, Tables.documents(spark, dir)), dedup)

  /** [[shingleRows]] over an arbitrary (doc_id, text) frame — the same
    * single-projection build, reusable for document sets that are not a
    * table scan (e.g. a streaming micro-batch in the incremental screen).
    * `carry` names extra input columns to ride along on every shingle row
    * (e.g. `source` for per-source boilerplate stats) — they must be
    * functionally dependent on doc_id or the `dedup` distinct changes
    * grain. */
  private[graft] def shingleRowsOf(docsIn: DataFrame,
                                   dedup: Boolean = true,
                                   carry: Seq[String] = Nil): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    val docs = docsIn
      .select(keys :+ TextNorm.toks(col("text")).as("t"): _*)
    val n = size(col("t"))
    val len = greatest(n - 2, lit(0))
    val zipped = arrays_zip(
      slice(col("t"), lit(1), len).as("w1"),
      slice(col("t"), lit(2), len).as("w2"),
      slice(col("t"), lit(3), len).as("w3"))
    // short docs ride the SAME branch as a one-element struct array (null
    // w2/w3 — concat_ws skips nulls), so the whole build is one projection
    // over ONE scan of the text column, not a union of two scans
    val shortOne = array(struct(
      array_join(col("t"), " ").as("w1"),
      lit(null).cast("string").as("w2"),
      lit(null).cast("string").as("w3")))
    val rows = docs
      .select(keys :+ explode(when(n >= 3, zipped).otherwise(shortOne)).as("z"): _*)
      .select(keys :+ concat_ws(" ", col("z.w1"), col("z.w2"), col("z.w3")).as("s"): _*)
    if (dedup) rows.distinct() else rows
  }

  // ------------------------------------------------------------ minhash

  /** Universal-hash family over ONE 28-bit md5 base hash per shingle:
    * h_j = (A_j·h + B_j) mod P. One md5 instead of MinhashFns md5s per
    * shingle row — the md5 evaluations were 60% of minhash wall-clock at
    * sf0.1. Constants are arbitrary-but-fixed; the oracle inlines the same
    * values, so signatures stay engine-identical. */
  val HashP = 1000000007L
  val HashA: Seq[Long] = (0 until MinhashFns).map(j => (2654435761L * (j + 1)) % HashP)
  val HashB: Seq[Long] = (0 until MinhashFns).map(j => (40503L * (j + 7) + 12289L) % HashP)

  /** doc_id + minhash signature array (exact ints < P), as the
    * `minhash_sigs` snapshot — the persisted per-doc signature index a
    * production MinHash dedup maintains (12 ints/doc; re-banding and
    * candidate generation read the index, they never re-shingle the
    * corpus). Shared by dedup_minhash, its eval, and the banding sweep.
    * Built on the NON-deduped shingle rows: `min` is insensitive to
    * duplicates, so the distinct shuffle would buy nothing — the groupBy
    * below is the signature path's only exchange. */
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("minhash_sigs", spark, dir)(signaturesLive(spark, dir))

  /** Exploded shingle rows over the FULL corpus — (doc_id, source, s),
    * NON-deduped — the shared upstream of the four shingle-consuming
    * artifact builds (minhash/k-minhash signatures, the jaccard pair
    * snapshot, the incremental corpus index), materialized once per
    * corpus version (round 16, the span_windows discipline applied to
    * the other duplicated narrow pipeline): each build previously ran
    * its own scan→tokenize→slice→explode, the dominant cost of all
    * four. Consumers apply their OWN hash/distinct steps, so every
    * artifact's values are bit-identical to its live form (the string
    * grain is the shared truth; 28/48/60-bit hashes diverge per
    * consumer). `source` rides along for the corpus index's
    * incoming-batch filter. Since r16 the registered shingle CONSUMERS
    * (text_repetition, phrase search, boilerplate/novelty, the capped
    * jaccard, the contamination audit) also read this artifact — the
    * operator-cost line (OPTIMIZATION_r16.md) is drawn at narrow one-scan
    * operators (langid / quality / fingerprint / tokens) and the eval
    * cards, which keep their full pipelines because their cost IS the
    * measured operator. At 100 TB this is the shingled-corpus parquet an
    * ingest pipeline maintains next to the raw text. */
  private[graft] def shingleRowsSnapshot(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("shingle_rows", spark, dir)(
      shingleRowsOf(Tables.rebalanced(spark, Tables.documents(spark, dir)),
        dedup = false, carry = Seq("source")))

  private def signaturesLive(spark: SparkSession, dir: String): DataFrame = {
    val exploded = shingleRowsSnapshot(spark, dir)
      .withColumn("h", Exact.md5Long28(col("s")))
    val mins = (0 until MinhashFns).map { j =>
      min((lit(HashA(j)) * col("h") + lit(HashB(j))) % lit(HashP)).as(s"mh_$j")
    }
    exploded.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashFns).map(j => col(s"mh_$j")): _*).as("sig"))
  }

  /** MinHash+LSH near-dup candidates: band the signature, equi-join on
    * (band index, band hash), keep each pair once, attach the estimated
    * Jaccard (= fraction of agreeing minhash slots — exact ints, so the
    * estimate is deterministic). */
  def qMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .withColumn("band_hash",
        md5(concat_ws(",", transform(
          slice(col("sig"), col("band") * RowsPerBand + 1, lit(RowsPerBand)),
          x => x.cast("string")))))
    // Candidate pairs from PER-BUCKET posting lists instead of a self-join:
    // a self-join's two arms each instantiate the whole signature pipeline
    // (scan → shingle → minhash agg), whereas grouping (band, band_hash)
    // into doc lists runs it once — one exchange, pairs explode from each
    // bucket. Pair volume is identical (Σ bucket²). The `when` comparison
    // HOF runs only on the few surviving candidate pairs, not per row.
    // BOUND: one bucket materializes as one aggregation row (~104 B per
    // member with the signature inlined) — fine up to ~100k-member
    // buckets. Run exact dedup FIRST (the curation order) so identical
    // docs collapse before banding; for corpora that still form
    // megabuckets of near-identicals, swap the explode for a streamed
    // self-join on (band, band_hash) — same pair set, no per-bucket row.
    val posts = bands
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_set(struct(col("doc_id"), col("sig"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    posts
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("matches",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .select(col("doc_a"), col("doc_b"),
        (col("matches").cast("double") / lit(MinhashFns.toDouble)).as("est_jaccard"))
  }

  // ------------------------------------------------------------ simhash

  /** 48-bit SimHash per doc: token-frequency-weighted bit votes over
    * md5-derived token hashes. ONE groupBy with 49 static aggregate columns
    * (total count + one masked sum per bit) instead of a ×48 bit explode —
    * the sign of the classic ±cnt vote for bit i is `2·Σ(cnt·bit_i) >
    * Σcnt`, so the whole signature assembles in a codegen'd projection.
    * (The explode formulation generated 9.6 M intermediate rows per
    * evaluation and dominated dedup_simhash_pairs wall-clock.) */
  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("simhash_sigs", spark, dir)(simhashLive(spark, dir))

  /** The 48-bit signature build behind the `simhash_sigs` snapshot — the
    * persisted per-doc signature index (8 B/doc) that the chunk-join pair
    * screen and its eval read; same artifact discipline as
    * [[signatures]]. */
  private def simhashLive(spark: SparkSession, dir: String): DataFrame = {
    val tokCounts = Tables.rebalanced(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), explode(TextNorm.toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", Exact.md5Long48(col("tok")))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(col("cnt") * expr(s"shiftright(h, $i) & 1")).as(s"b_$i")
    }
    val agg = tokCounts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("total"), bitSums: _*)
    val simhash = (0 until SimhashBits).map { i =>
      when(col(s"b_$i") * 2 > col("total"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), simhash.as("simhash"))
  }

  /** Near-dup pairs within Hamming ≤ 3 of the 48-bit SimHash. Candidates
    * via the 4×12-bit chunk equi-join (pigeonhole-complete for ≤3 bit
    * errors), verified with exact popcount — identical result to the
    * oracle's all-pairs scan. */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sim = qSimhash(spark, dir)
    val chunks = sim.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(SimhashChunks - 1))).as("c"))
      .withColumn("chunk", expr("shiftright(simhash, 12 * c) & 4095"))
    // Candidate pairs from PER-BUCKET posting lists (same shape as the
    // jaccard/minhash rewrites): a self-join on (c, chunk) computes the
    // simhash pipeline (scan → tok agg → 49-column signature agg) once per
    // arm; grouping each bucket into a doc list runs it once. The Hamming
    // cut applies during pair explosion, so the pair-dedup distinct()
    // shuffles only true near-dups, not the whole candidate set.
    // Same megabucket bound as qMinhash (16 B per member here): exact
    // dedup first; swap to a streamed self-join for adversarial corpora.
    val posts = chunks
      .groupBy(col("c"), col("chunk"))
      .agg(collect_set(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    posts
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        expr("bit_count(a.simhash ^ b.simhash)") <= HammingMax)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .distinct()
  }

  // ------------------------------------------------------------ jaccard

  /** Word-3-gram Jaccard near-dup pairs via a POSTING-LIST inverted index:
    * one groupBy(shingle-hash) builds `h → set(doc_id)`; candidate pairs
    * explode from each posting list (every pair above any positive
    * threshold shares ≥1 shingle); set sizes derive from the same lists.
    *
    * Why not the classic self-equi-join on shingle: that plan instantiates
    * the full scan→tokenize→shingle→hash→distinct pipeline once per arm
    * (join side + sizes — exchange reuse only saves the second join side),
    * so the text corpus was read and tokenized three times per query.
    * Here the expensive narrow pipeline runs ONCE into a single exchange
    * on h; everything downstream is cheap agg/explode over 8-byte keys.
    * Candidate volume is Σ df² — identical to the self-join's output — and
    * the df-capped variant bounds it for adversarial corpora. Posting
    * lists go set-typed through `collect_set`, which also absorbs the
    * (doc, shingle) distinct — one fewer exchange. */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardFromPostings(spark, dir, dfCap = None)

  // five registered queries share this pair graph (dedup_ngram_jaccard,
  // dedup_clusters, graph_pagerank, dedup_source_matrix, curate_clustered);
  // same kernel and values as qNgramJaccard, read from the shared shingles
  private[graft] def jaccardPairSnapshot(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("jaccard", spark, dir)(
      jaccardPairsOfShingled(
        shingleRowsSnapshot(spark, dir)
          .select(col("doc_id"), Exact.md5Long(col("s")).as("h")),
        dfCap = None))

  /** All-pairs embedding near-dup snapshot — shared by dedup_embedding and
    * dedup_semantic (which collapses the same pair graph). */
  private[graft] def embeddingPairSnapshot(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("emb", spark, dir)(qEmbeddingDups(spark, dir))

  /** LSH-bucketed embedding near-dup snapshot — shared by
    * dedup_embedding_lsh and dedup_semantic_bucketed. */
  private[graft] def embeddingLshPairSnapshot(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("emb_lsh", spark, dir)(qEmbeddingDupsLsh(spark, dir))

  private def jaccardFromPostings(spark: SparkSession, dir: String,
                                  dfCap: Option[Int]): DataFrame =
    // 60-bit hash of the shingle, not the string: 8-byte shuffle keys. The
    // oracle hashes identically, so any (vanishingly rare) collision
    // affects both engines the same way. Reads the SHARED shingled-corpus
    // artifact (r16 optimization round, guide §2.4 — remove repeated
    // passes): the suite already materializes shingle_rows once per
    // corpus version for the four artifact builds, and re-running the
    // scan→tokenize→slice→explode pipeline here re-paid its dominant
    // cost per query. Values are bit-identical — the snapshot is the
    // same non-deduped (doc_id, s) multiset (`source` rides along,
    // projected away here).
    jaccardPairsOfShingled(
      shingleRowsSnapshot(spark, dir)
        .select(col("doc_id"), Exact.md5Long(col("s")).as("h")), dfCap)

  /** The jaccard pair kernel over an ARBITRARY (doc_id, h) shingle-hash
    * frame — factored out of [[jaccardFromPostings]] (round 11) so the
    * incremental curation screen can run the identical postings→pairs
    * plan over a micro-batch (batch-sized posting lists, batch-bounded
    * candidates) without re-stating the kernel. */
  private[graft] def jaccardPairsOfShingled(ex: DataFrame,
                                            dfCap: Option[Int]): DataFrame = {
    val allPosts = ex.groupBy(col("h")).agg(collect_set(col("doc_id")).as("docs"))
    // df cap BEFORE pair generation: a boilerplate shingle contributes df²
    // pairs and zero discrimination. (At 100 TB, compute df with a count
    // aggregate + semi-join on the same exchange instead of materializing
    // giant lists; at any df ≤ cap the list form is strictly cheaper.)
    //
    // posts is MATERIALIZED (localCheckpoint): it feeds three plan arms —
    // `inter` plus the two broadcast `sizes` lookups — and broadcast
    // subtrees don't participate in exchange reuse, so without this the
    // scan→tokenize→shingle→hash pipeline (the dominant cost) executes
    // once per arm. Checkpointed size is one row per distinct shingle
    // hash (8-byte key + doc-id list) — megabytes at corpus scale, and at
    // 100 TB the same materialization is a reliable `checkpoint`/parquet
    // snapshot of the inverted index, which downstream curation consumers
    // share anyway (SCALING.md).
    val posts = dfCap.map(c => allPosts.filter(size(col("docs")) <= c)).getOrElse(allPosts)
      .localCheckpoint()
    val sizes = posts.select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = posts.filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    // sizes is one row per DOC (not per pair) — orders of magnitude smaller
    // than inter; broadcast it so the pair set never sorts/shuffles for
    // these lookups. (At extreme corpus cardinality where even one row per
    // doc outgrows the driver, drop the hint and let AQE pick the join.)
    inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a")), "doc_a")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Within-batch jaccard near-dup pairs — [[jaccardPairsOfShingled]]
    * over ONE micro-batch's documents (no df cap: the batch is what
    * bounds candidate mass; a boilerplate-heavy ingest would pass
    * [[MaxShingleDf]] like the capped corpus kernel). The within-batch
    * complement of [[screenAgainstIndex]] in the incremental curation
    * screen: a batch can duplicate ITSELF as well as the corpus, and a
    * daily pipeline must catch both without touching corpus×corpus
    * pairs. */
  private[graft] def batchJaccardPairs(batchDocs: DataFrame): DataFrame =
    jaccardPairsOfShingled(
      shingleRowsOf(batchDocs, dedup = false)
        .select(col("doc_id"), Exact.md5Long(col("s")).as("h")), dfCap = None)

  /** The corpus's exact-dup fingerprint set — one md5(normalized text)
    * row per distinct corpus content, the third persisted artifact of the
    * incremental screen (next to [[corpusIndex]]'s posting lists and
    * sizes). At 100 TB this is a bucketed-by-hash parquet snapshot and
    * the batch probe is a bucket-pruned semi-join; the frame is one
    * 32-char hash per distinct content — far smaller than the corpus. */
  private[graft] def corpusHashIndex(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("inc-exact-hashes", spark, dir)(
      Tables.documents(spark, dir).filter(col("source") =!= IncomingSource)
        .select(md5(TextNorm.norm(col("text"))).as("content_hash"))
        .distinct())

  /** From-scratch build of the three screen artifacts over an ARBITRARY
    * (doc_id, text) corpus frame — the REBUILD side of the append ≡
    * rebuild invariant (CurateSpec pins [[indexAppend]] against this),
    * and the index builder the sequential-lifecycle spec seeds batches
    * with. Same artifact schemas as [[corpusIndex]]/[[corpusHashIndex]]
    * (which stay the production entry points: suite-scoped snapshots,
    * shared-scan discipline). */
  private[graft] def indexOf(corpusDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val ex = shingleRowsOf(corpusDocs)
      .select(col("doc_id"), Exact.md5Long(col("s")).as("h"))
      .localCheckpoint()
    (ex.groupBy(col("h")).agg(collect_set(col("doc_id")).as("docs")),
      ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_old"))
        .toDF("old_doc_id", "n_old"),
      corpusDocs.select(md5(TextNorm.norm(col("text"))).as("content_hash"))
        .distinct())
  }

  /** The index APPEND — the lifecycle step AFTER a batch screen: fold the
    * batch's surviving documents into the three persisted screen
    * artifacts, producing the index the NEXT batch screens against.
    * Returns (posting lists, per-doc sizes, content-hash set), each the
    * same schema as its [[corpusIndex]]/[[corpusHashIndex]] original.
    *
    * The merge is a full-outer join on the index key with a list concat —
    * never an explode+regroup of the corpus side. At 100 TB both sides
    * bucket on the same key (h / content_hash), so the merge is
    * co-partitioned: the corpus index never re-shuffles, the batch side
    * is micro-batch-sized, and a deployment writes it as a merge-on-read
    * delta (the LSM shape) or a compacted rewrite per corpus version.
    * Append ≡ rebuild-from-scratch over corpus ∪ survivors is spec-pinned
    * (CurateSpec), and the curate_index_append ORACLE is the rebuild —
    * the hash gate itself proves the equivalence. */
  private[graft] def indexAppend(survivors: DataFrame, posts: DataFrame,
                                 oldSizes: DataFrame, corpusHashes: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = shingleRowsOf(survivors)
      .select(col("doc_id"), Exact.md5Long(col("s")).as("h"))
      .localCheckpoint()
    val emptyDocs = array().cast("array<bigint>")
    val batchPosts = sh.groupBy(col("h")).agg(collect_set(col("doc_id")).as("bdocs"))
    val newPosts = posts.join(batchPosts, Seq("h"), "full_outer")
      .select(col("h"), concat(
        coalesce(col("docs"), emptyDocs),
        coalesce(col("bdocs"), emptyDocs)).as("docs"))
    val newSizes = oldSizes.union(
      sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_old"))
        .toDF("old_doc_id", "n_old"))
    val newHashes = corpusHashes.union(
      survivors.select(md5(TextNorm.norm(col("text"))).as("content_hash")))
      .distinct()
    (newPosts, newSizes, newHashes)
  }

  /** DOC-GRAIN content-hash table of the corpus — (doc_id, content_hash),
    * one row per corpus document. The distinct set ([[corpusHashIndex]])
    * is the probe-side optimization a screen joins against; the doc
    * grain is what a deployment PERSISTS, because deletion needs it: a
    * hash may be shared by several docs, so removing one doc must not
    * remove the hash unless no survivor carries it ([[indexForget]]). */
  private[graft] def corpusDocHashes(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("inc-doc-hashes", spark, dir)(
      Tables.documents(spark, dir).filter(col("source") =!= IncomingSource)
        .select(col("doc_id"), md5(TextNorm.norm(col("text"))).as("content_hash")))

  /** The index FORGET — the right-to-be-forgotten step on the persisted
    * screen artifacts: remove a REQUEST LIST of documents from the
    * posting lists, size table, and content-hash table without touching
    * the corpus (at 100 TB, re-deriving the index from the documents is
    * exactly the scan a deletion SLA cannot afford — the index must be
    * editable in place). The request list is human-initiated and bounded
    * (the q_forget convention), so it travels as a literal array /
    * broadcast: the posting rewrite is ONE narrow `array_except` pass
    * over the index (no explode/regroup, no shuffle — the compaction
    * form; a merge-on-read deployment writes the list as tombstones and
    * applies it at read time, same semantics), emptied postings drop,
    * and sizes/hashes anti-filter. Content hashes need the DOC GRAIN
    * ([[corpusDocHashes]]): a hash survives iff a surviving document
    * still carries it. Forget ≡ rebuild-over-remaining is the gate —
    * CurateSpec pins all three artifacts against [[indexOf]], and the
    * curate_index_forget ORACLE is the rebuild. */
  private[graft] def indexForget(forgetIds: Seq[Long], posts: DataFrame,
                                 oldSizes: DataFrame, docHashes: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val arr = typedlit(forgetIds.sorted)
    val newPosts = posts
      .select(col("h"), array_except(col("docs"), arr).as("docs"))
      .filter(size(col("docs")) > 0)
    val newSizes = oldSizes.filter(!col("old_doc_id").isin(forgetIds: _*))
    val newDocHashes = docHashes.filter(!col("doc_id").isin(forgetIds: _*))
    (newPosts, newSizes, newDocHashes)
  }

  /** Document-frequency cap for the adversarial-corpus variant: shingles
    * appearing in more than this many documents are dropped from the
    * similarity universe (they cannot discriminate near-dups, and each
    * contributes df² candidate pairs). */
  val MaxShingleDf = 50

  /** Jaccard near-dups over the DF-CAPPED shingle universe — the
    * production-safe variant of [[qNgramJaccard]] (SCALING.md): with the
    * cap, candidate generation is bounded by docs·shingles·MaxShingleDf
    * instead of exploding quadratically on a boilerplate shingle. Both the
    * sets AND the intersections use the capped universe, so the Jaccard is
    * well-defined and the DuckDB oracle replays it exactly. At this corpus
    * the result equals the uncapped query (no shingle is that common);
    * on a boilerplate-heavy corpus they diverge by design. */
  def qNgramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardFromPostings(spark, dir, dfCap = Some(MaxShingleDf))

  // ------------------------------------------------------------ spans

  /** Token width of a span window — the unit of exact-substring matching.
    * Real deployments use ~50 (the published exact-substring dedup
    * threshold); 5 keeps the synthetic corpus's shorter docs in scope
    * while exercising the identical plan. */
  val SpanWindow = 5
  /** Minimum CONSECUTIVE shared windows for a run to count as a span:
    * a qualifying span shares ≥ SpanWindow + MinSpanWindows − 1 = 8
    * contiguous tokens. */
  val MinSpanWindows = 4
  /** Occurrence cap per window hash — same role as [[MaxShingleDf]]:
    * a boilerplate window appearing everywhere contributes df² pair rows
    * and no dedup signal, so it is dropped from the span universe
    * (both engines replay the cap, so the oracle is exact). */
  val MaxWindowDf = 50

  /** Cross-document EXACT-SUBSTRING spans — the suffix-array dedup shape
    * of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al., ACL'22), re-expressed relationally: instead of one
    * global suffix array (inherently sequential to build), hash every
    * [[SpanWindow]]-token window WITH its position, join occurrences of
    * the same window across documents, and recover maximal shared runs as
    * gaps-and-islands over the match diagonal — two windows at (posA,
    * posB) and (posA+1, posB+1) belong to one run iff posA − posB is
    * constant, so grouping matches by (pair, diagonal) and subtracting a
    * row_number from posA makes each maximal run one island. Output: one
    * row per document pair sharing ≥ 1 run of ≥ [[MinSpanWindows]]
    * consecutive windows — span count and longest span in tokens.
    *
    * Relation to the jaccard family: jaccard measures BAG overlap (are
    * these documents near-copies?); spans find contiguous VERBATIM
    * overlap (do they share a quoted passage / boilerplate block?) — a
    * pair can score high on one and zero on the other, and the span
    * output is what substring-level scrubbing consumes.
    *
    * Scale shape: one narrow projection builds (doc, pos, hash) rows —
    * same staggered-slice construction as [[shingleRows]], no lambda, no
    * shuffle; ONE exchange on the 60-bit window hash builds df-capped
    * posting lists (the [[MaxWindowDf]] cap bounds the per-hash pair
    * fan-out exactly as in [[qNgramJaccardCapped]]); pair explode runs
    * pipelined inside the posting-list explode; the only downstream
    * exchange partitions by (doc_a, doc_b) for the diagonal window —
    * sized by actual cross-doc duplication, never corpus².
    *
    * Registered entries consume [[spanIslandsSnapshot]] — the island set
    * is the natural persisted artifact (it IS the duplication inventory),
    * and both the pair report and the scrub ride it; the `Raw` twins keep
    * the full build pipeline visible for the dossier and plan specs. */
  def qSharedSpans(spark: SparkSession, dir: String): DataFrame =
    spansRollup(spanIslandsSnapshot(spark, dir))

  private[graft] def qSharedSpansRaw(spark: SparkSession, dir: String): DataFrame =
    spansRollup(spanIslands(spark, dir))

  private def spansRollup(isl: DataFrame): DataFrame =
    isl.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("run_w") + lit(SpanWindow - 1)).as("max_span_tokens"))

  /** Suite-scoped materialization of [[spanIslands]] (tag "spans") —
    * shared by dedup_spans and dedup_spans_scrub. Builds from the shared
    * [[spanWindowsSnapshot]], so the window-hash pipeline — the dominant
    * cost of BOTH span artifacts — is paid once per corpus version, not
    * once per artifact (VERDICT r15 #3, the dsir_weights discipline). */
  private[graft] def spanIslandsSnapshot(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("spans", spark, dir)(
      spanIslandsFromWindows(spanWindowsSnapshot(spark, dir).drop("source")))

  /** Positioned window hashes over the FULL corpus — (doc_id, source,
    * pos, h) — the shared upstream of [[spanIslandsSnapshot]] and
    * [[spanCorpusIndex]] (VERDICT r15 #3): each previously ran its own
    * [[windowRows]] pipeline, and the W-slice zip + per-window md5 over
    * every corpus token is ~2/3 of either artifact's cost, so the pair
    * paid the window build twice. Materialized once, both tails read the
    * checkpoint; `source` rides along so the corpus index can exclude the
    * incoming batch AFTER windowing (filtering per-doc rows commutes with
    * per-doc windowing — bit-identical posting lists). At 100 TB this is
    * the positioned-window parquet a deployment maintains next to the
    * corpus, re-sharded by content version like the other indexes. */
  private[graft] def spanWindowsSnapshot(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("span_windows", spark, dir)(
      windowRows(
        Tables.rebalanced(spark, Tables.documents(spark, dir))
          .select(col("doc_id"), col("source"), TextNorm.toks(col("text")).as("t")),
        keep = Seq("source")))

  /** Normalized token stream per document — ALL documents, including those
    * too short to window (the scrub must hand them back unchanged). */
  private[graft] def spanTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.rebalanced(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), TextNorm.toks(col("text")).as("t"))

  /** Positioned window hashes (doc_id, pos, h) over a (doc_id, t) frame —
    * W staggered slices zipped = all W-token windows, one codegen'd
    * projection (the shingleRows build generalized to width W, keeping
    * the window's 1-based start position via posexplode). `keep` names
    * extra per-doc columns to carry through (the shared
    * [[spanWindowsSnapshot]] keeps `source` so downstream filters run on
    * the materialization instead of forcing a re-window). */
  private[graft] def windowRows(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val n = size(col("t"))
    val len = n - (SpanWindow - 1)
    val zipped = arrays_zip(
      (1 to SpanWindow).map(k => slice(col("t"), lit(k), len).as(s"w$k")): _*)
    docs.filter(n >= SpanWindow)
      .select(col("doc_id") +: keep.map(col) :+ posexplode(zipped): _*)
      .select(col("doc_id") +: keep.map(col) :+ (col("pos") + 1).as("pos") :+
        Exact.md5Long(concat_ws(" ",
          (1 to SpanWindow).map(k => col(s"col.w$k")): _*)).as("h"): _*)
  }

  /** Maximal runs on the match diagonal of a (doc_a, doc_b, pa, diag)
    * match frame: gaps-and-islands — pa is unique within (pair, diag), so
    * pa − row_number is constant exactly along each maximal run. One row
    * per qualifying run: (doc_a, doc_b, diag, run_w, pa0). */
  private[graft] def diagonalIslands(matches: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    matches
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run_w"), min(col("pa")).as("pa0"))
      .filter(col("run_w") >= MinSpanWindows)
  }

  /** Maximal qualifying runs on the span match diagonal — the shared core
    * of the span family: one row per run with its width in windows and its
    * first window position `pa0` in doc_a (`pa0 − diag` is the twin
    * position in doc_b). [[qSharedSpans]] rolls these up per pair;
    * [[qSpanScrub]] explodes them into covered token positions. */
  private def spanIslands(spark: SparkSession, dir: String): DataFrame =
    spanIslandsFromWindows(windowRows(spanTokens(spark, dir)))

  /** The post-window span pipeline, shared by the raw form (full build
    * visible for the plan sweeps) and the snapshot form (windows read
    * from the shared materialization). */
  private def spanIslandsFromWindows(win: DataFrame): DataFrame = {
    // posting lists per window hash, df-capped; pair generation explodes
    // in-place (no shuffle between candidates and the diagonal grouping
    // other than the (doc_a, doc_b) partition the window function needs)
    val posts = win
      .groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("ds"))
      .filter(size(col("ds")).between(2, MaxWindowDf))
    val matches = posts
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    diagonalIslands(matches)
  }

  /** Substring-level SCRUB — the consuming side of [[qSharedSpans]] and
    * the second half of the Lee et al. recipe: every shared span is kept
    * in exactly one document and REMOVED from the others. Keep-first
    * policy (the same deterministic rule as `curate_pipeline`'s greedy
    * drop-doc_b): in each pair the higher doc_id loses the span's token
    * range. Output is the full corpus, one row per document — token count,
    * number of tokens removed, and the scrubbed text — so the result is
    * directly writable as the cleaned training table.
    *
    * Scale shape: [[spanIslands]] bounds everything upstream; covered
    * ranges explode to one row per REMOVED token (∝ actual duplication,
    * never corpus size), collapse to a per-doc position set in one
    * doc_id-keyed exchange, and join the token table on doc_id — the only
    * corpus-sized exchange. The token drop itself is an array `filter`
    * against the per-doc covered set: clean documents skip it via the
    * empty-set guard, affected documents pay tokens × covered — bounded by
    * doc length², in practice covered is a handful of spans. */
  def qSpanScrub(spark: SparkSession, dir: String): DataFrame =
    scrubTail(spark, dir, spanIslandsSnapshot(spark, dir))

  private[graft] def qSpanScrubRaw(spark: SparkSession, dir: String): DataFrame =
    scrubTail(spark, dir, spanIslands(spark, dir))

  private def scrubTail(spark: SparkSession, dir: String, isl: DataFrame): DataFrame =
    scrubTailOver(spanTokens(spark, dir), isl, losingSide = "doc_b")

  /** Incremental-ingest SPAN screen — the span-family analog of
    * [[qIncrementalDedup]] / [[qEmbeddingIncremental]], completing the
    * ingest story for all three dedup families: which INCOMING documents
    * share a qualifying verbatim span with the EXISTING corpus, without
    * ever recomputing corpus×corpus matches. The corpus side is the
    * persisted positioned-window index (h → (doc, pos) posting list,
    * df-capped — the snapshot artifact); the batch side builds its own
    * windows and BROADCASTS them into the index join, so the corpus never
    * reshuffles and everything downstream (matches, islands, verdicts)
    * scales with the batch. One row per flagged incoming doc: span count,
    * distinct corpus sources matched, and the longest shared span —
    * the quarantine list that feeds span-level scrubbing or rejection.
    *
    * Unlike the same-corpus [[spanIslands]], a posting list of ONE corpus
    * occurrence is a valid match target (the pair is completed by the
    * incoming window), so only the upper df cap applies. */
  def qSpanIncremental(spark: SparkSession, dir: String): DataFrame = {
    val batch = Tables.rebalanced(spark,
        Tables.documents(spark, dir).filter(col("source") === IncomingSource))
      .select(col("doc_id"), col("text"))
    screenAgainstSpanIndex(batch, spanCorpusIndex(spark, dir))
  }

  /** The persisted-index artifact of the span screen: the corpus's
    * positioned-window posting lists (h → [(doc, pos)]), df-capped —
    * what a deployment snapshots between batches. Rides the suite-scoped
    * snapshot cache like [[corpusIndex]] so repeated probes pay the probe
    * only. */
  private[graft] def spanCorpusIndex(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("span-posts", spark, dir)(
      spanWindowsSnapshot(spark, dir)
        .filter(col("source") =!= IncomingSource).drop("source")
        .groupBy(col("h"))
        .agg(collect_list(struct(col("doc_id"), col("pos"))).as("ds"))
        .filter(size(col("ds")) <= MaxWindowDf))

  /** Probe-side span screen of a BATCH of (doc_id, text) documents
    * against a persisted window index — the kernel of
    * [[qSpanIncremental]], also drivable from a streaming foreachBatch
    * sink one micro-batch at a time (batch ≡ stream is spec-pinned:
    * per-doc verdicts are independent given the index). */
  def screenAgainstSpanIndex(batchDocs: DataFrame, posts: DataFrame): DataFrame = {
    val newWin = windowRows(
        batchDocs.select(col("doc_id"), TextNorm.toks(col("text")).as("t")))
      .withColumnRenamed("doc_id", "doc_a").withColumnRenamed("pos", "pa")
    val matches = posts.join(broadcast(newWin), "h")
      .select(col("doc_a"), col("pa"), explode(col("ds")).as("c"))
      .select(col("doc_a"), col("c.doc_id").as("doc_b"), col("pa"),
        (col("pa") - col("c.pos")).as("diag"))
    diagonalIslands(matches)
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_b")).as("n_src_docs"),
        max(col("run_w") + lit(SpanWindow - 1)).as("max_span_tokens"))
      .withColumnRenamed("doc_a", "new_doc_id")
  }

  /** The generic scrub tail: islands → covered token positions on the
    * LOSING side → per-doc position sets → array-filter the token stream.
    * `losingSide` names which island column pays ("doc_b" for keep-first
    * same-corpus dedup, "doc_a" when the match frame put the losing doc
    * first, as the decontamination scrub does). */
  private[graft] def scrubTailOver(docs: DataFrame, isl: DataFrame,
                                   losingSide: String): DataFrame = {
    val start =
      if (losingSide == "doc_a") col("pa0") else col("pa0") - col("diag")
    val cov = isl
      .select(col(losingSide).as("doc_id"),
        explode(sequence(
          start, start + col("run_w").cast("int") + lit(SpanWindow - 2)))
          .as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cov"))
    val covc = coalesce(col("cov"), array().cast("array<int>"))
    val kept = filter(col("t"), (x, i) => !array_contains(covc, i + lit(1)))
    docs
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(covc).cast("long").as("n_removed"),
        concat_ws(" ",
          when(size(covc) === 0, col("t")).otherwise(kept)).as("text_clean"))
  }

  // ------------------------------------------------------------ clusters

  /** Near-dup CLUSTER collapse: connected components of the jaccard pair
    * graph, each doc labeled with the min doc_id of its component — the
    * step that turns pairwise dedup output into "keep one per duplicate
    * cluster". Pairwise rules alone get transitivity wrong: with pairs
    * (A,C),(B,C) the greedy drop-doc_b rule keeps BOTH A and B though
    * they are near-dups through C; components collapse {A,B,C} to A.
    *
    * Algorithm: iterative min-label propagation. Each round is one
    * join + min-aggregate over the edge list; rounds = graph diameter
    * (near-dup clusters are shallow — a handful). The edge list is
    * materialized once (`localCheckpoint`) so rounds don't re-run the
    * jaccard pipeline, and each round checkpoints to keep lineage flat.
    * At 100 TB: same loop with reliable `checkpoint` to cluster storage;
    * for adversarial diameters switch to large-star/small-star (log n
    * rounds) — the per-round plan (join + agg) is unchanged.
    *
    * Deterministic: min-propagation converges to a unique fixpoint
    * regardless of partitioning or join order. */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).toDF("doc_id", "cluster_id")

  /** The component-label frame of the jaccard pair graph as a suite-scoped
    * snapshot (r16 optimization round, guide §1.2 — don't recompute what
    * three consumers share): dedup_clusters, dedup_survivors and
    * curate_clustered each re-ran the full iterative min-label loop
    * (~10 rounds of join+agg jobs) over the SAME pair snapshot. The label
    * fixpoint is unique and deterministic, so the materialization is
    * value-identical to each consumer's former private run; at 100 TB it
    * is the cluster-assignment parquet a dedup deployment persists next
    * to the pair snapshot. Built by `SnapshotBuild.all` (continuation of
    * the jaccard chain) so the cost stays one attributable entry. */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("jaccard_clusters", spark, dir)(
      components(jaccardPairSnapshot(spark, dir), "doc_a", "doc_b"))

  /** Component labels of the all-pairs embedding near-dup graph as a
    * suite-scoped snapshot (r17 optimization round, VERDICT r16 #1 — the
    * jaccard_clusters move applied to the semantic family): qSemDedup
    * re-ran the iterative min-label components loop over the SAME pair
    * snapshot on every call. The label fixpoint is unique and
    * deterministic, so the materialization is value-identical to the
    * former private run; at 100 TB it is the cluster-assignment parquet
    * a SemDeDup deployment persists next to the pair snapshot. Built by
    * `SnapshotBuild.all` as a continuation of the emb_pairs task. The
    * components loop itself is untouched — only its output is shared. */
  private[graft] def semClusterLabels(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("sem_clusters", spark, dir)(
      components(embeddingPairSnapshot(spark, dir), "vec_a", "vec_b"))

  /** [[semClusterLabels]] for the LSH-bucketed pair graph — the
    * dedup_semantic_bucketed consumer's label frame, a continuation of
    * the emb_lsh_pairs task. */
  private[graft] def semClusterLabelsLsh(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("sem_clusters_lsh", spark, dir)(
      components(embeddingLshPairSnapshot(spark, dir), "vec_a", "vec_b"))

  /** Survivor election: which document each near-dup cluster KEEPS —
    * the step that turns detection into an actionable kept-corpus, and
    * where the policy lives. Canonical-min-id election
    * ([[graft.ext.pipeline.CurateQueries.qCurateClustered]]'s rule) keeps
    * whichever dup happened to be crawled first; this elects by QUALITY —
    * the highest [[graft.ext.text.TextQueries.quality]] score in the
    * cluster (ties by doc_id), the policy production dedup actually wants
    * (keep the cleanest copy, drop the boilerplate-wrapped mirrors). One
    * row per cluster: the survivor, its score, and the cluster size (=
    * how many dups the election retires).
    *
    * Determinism across engines: quality_score is a single IEEE
    * expression over integer counts (the [[graft.functions.Exact]]
    * discipline), so the same doubles — and therefore the same argmax —
    * come out of Spark and the oracle; ties break on doc_id.
    *
    * Shape: the cluster frame (pair-graph nodes only — ≪ corpus) joins
    * the narrow quality projection on doc_id, then ONE window pass per
    * cluster key elects rank-1 and counts members. Clusters are
    * dup-group-sized, so the window partitions are small by construction;
    * output is one row per cluster. */
  def qSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClusters(spark, dir)
    val quality = graft.ext.text.TextQueries
      .quality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality_score"))
    val wElect = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rk", row_number().over(wElect))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_doc_id"),
        col("n_members"), col("quality_score").as("survivor_quality"))
  }

  /** Connected components of an undirected pair graph by iterative
    * min-label propagation with POINTER JUMPING — the shared collapse step
    * behind [[qDedupClusters]] (text near-dup pairs) and [[qSemDedup]]
    * (embedding near-dup pairs). Returns (id, component) for every node
    * that appears in a pair; component = min reachable id.
    *
    * Each round: (1) neighbor step — one join + min-aggregate over the
    * edge list; (2) jump step — label ← label(label), a self-join of the
    * label frame (every label IS a node id, so the lookup is total).
    * Plain propagation needs diameter rounds, and real pair graphs do go
    * deep — the sf0.1 embedding graph chains to diameter 16 through
    * cosine space; jumping contracts found paths each round (measured
    * 16 → 10 rounds here at identical output; a SECOND jump per round
    * was measured useless — convergence is neighbor-step-bound, the min
    * label physically traverses one edge per round — so
    * [[componentsStars]] remains the implemented O(log n) guarantee at
    * one more join per round, for adversarial diameters). The edge list
    * materializes once (`localCheckpoint`) so rounds never re-run the
    * upstream pair query, and each half-step checkpoints to keep lineage
    * flat. At 100 TB: same loop with reliable `checkpoint` to cluster
    * storage — per-round cost is 2 joins + 1 aggregate over node/edge-
    * sized frames either way.
    *
    * Deterministic: min-propagation (with or without jumping) converges
    * to the unique per-component-min fixpoint regardless of partitioning
    * or join order. */
  private[graft] def components(pairs: DataFrame, a: String, b: String): DataFrame = {
    // both edge directions from ONE explode over the pair rows — the
    // union-of-self form evaluated the whole pair query once per arm
    val edges = pairs.select(col(a), col(b))
      .select(explode(array(
        struct(col(a).as("u"), col(b).as("v")),
        struct(col(b).as("u"), col(a).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    // init = min(id, min neighbor): the first propagation round folded into
    // the same single exchange that node-set construction needs anyway —
    // one fewer round of the loop below
    var labels = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("nm"))
      .select(col("id"), least(col("id"), col("nm")).as("label"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vl")).as("nl"))
      // carry the previous label through so convergence is read off the
      // final frame — no extra compare join per round
      // EAGER on purpose: a lazy checkpoint here would appear twice in the
      // jump self-join's DAG and compute twice in the materializing job
      // (measured slower) — the extra scheduler round-trip is the cheaper
      // side of that trade
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      // jump: label ← label(label). `stepped` is materialized, so both
      // self-join arms read the checkpoint instead of re-running the step.
      // `next` checkpoints LAZILY: unlike `stepped` it has exactly one
      // consumer before the next round — the changed-count below — so that
      // count doubles as the materializing action and each round runs one
      // scheduler job fewer (the next round's joins then read the blocks).
      // (A second jump per round was tried and reverted: convergence on
      // real pair graphs is NEIGHBOR-step-bound — the min label has to
      // physically traverse graph edges, one hop per edge join — so extra
      // pointer doubling left the round count unchanged, measured on the
      // sf0.1 embedding chain graph: same 10 rounds, identical labels.)
      val next = stepped
        .join(stepped.select(col("id").as("lid"), col("label").as("ll")),
          col("label") === col("lid"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(false)
      changed = next.filter(col("label") =!= col("old")).count()
      // `next` is materialized, so the superseded checkpoints' blocks can
      // go — through SnapshotCache.release: these frames are localCheckpoint-
      // backed, so Dataset.unpersist would be a CacheManager no-op and
      // storage would grow by two label-set copies per round until the
      // ContextCleaner got around to them after GC
      SnapshotCache.release(stepped)
      SnapshotCache.release(labels)
      labels = next.select(col("id"), col("label"))
    }
    // the returned frame reads only the final round's checkpoint — the
    // edge list's blocks are dead weight from here
    SnapshotCache.release(edges)
    labels.select(col("id"), col("label"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * contraction — the O(log n)-ROUND variant of [[components]] for
    * adversarial diameters (a duplication chain that snakes through the
    * corpus makes propagation pay diameter rounds; star contraction
    * halves path depth every round regardless of shape). Public algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Same contract as [[components]]: (id, label) for every
    * node appearing in a pair, label = component min — the two converge
    * to the identical unique fixpoint, which is why [[qDedupClustersStars]]
    * can sit under dedup_clusters' own DuckDB oracle.
    *
    * Each round is two half-steps over the canonical (u < v) edge set:
    * large-star links every neighbor LARGER than a node to the node's
    * neighborhood min; small-star links the node and its SMALLER
    * neighbors to that min. Both are one join + one min-aggregate over
    * the edge list — the same per-round plan shape as [[components]],
    * one extra join per round, in exchange for the O(log n) round bound
    * (ExtensionsSpec pins a diameter-1000 chain converging in ≤ 12
    * rounds vs ~1000 for plain propagation). Each half-step's output is
    * edge-count-bounded by the input (contraction never adds edges), so
    * per-round memory is monotone non-increasing. Convergence = edge set
    * reaches its fixpoint (a star forest rooted at component minima);
    * checked with a count compare + one except, both over checkpointed
    * frames. */
  private[graft] def componentsStars(pairs: DataFrame, a: String, b: String): DataFrame =
    componentsStarsWithRounds(pairs, a, b)._1

  private[graft] def componentsStarsWithRounds(pairs: DataFrame, a: String,
                                               b: String): (DataFrame, Int) = {
    val nodes = pairs.select(explode(array(col(a), col(b))).as("id"))
      .distinct().localCheckpoint()
    var edges = pairs
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    // both directions from ONE explode, as in [[components]]
    def bidir(e: DataFrame): DataFrame = e.select(explode(array(
        struct(col("u").as("s"), col("v").as("t")),
        struct(col("v").as("s"), col("u").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    def canon(e: DataFrame, x: String, y: String): DataFrame = e
      .select(least(col(x), col(y)).as("u"), greatest(col(x), col(y)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // large-star(s): every larger neighbor t > s re-links to min(Γ⁺(s))
    def largeStar(e: DataFrame): DataFrame = {
      val nb = bidir(e)
      val m = nb.groupBy(col("s")).agg(min(col("t")).as("mn"))
        .select(col("s"), least(col("s"), col("mn")).as("m"))
      canon(nb.join(m, "s").filter(col("t") > col("s")), "t", "m")
    }
    // small-star(s): s and every smaller neighbor re-link to min(Γ⁻(s));
    // nodes with no smaller neighbor are roots and emit nothing
    def smallStar(e: DataFrame): DataFrame = {
      val nb = bidir(e).filter(col("t") < col("s"))
      val withM = nb.join(nb.groupBy(col("s")).agg(min(col("t")).as("m")), "s")
      canon(withM.select(explode(array(
          struct(col("t").as("x"), col("m").as("y")),
          struct(col("s").as("x"), col("m").as("y")))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y")), "x", "y")
    }
    var rounds = 0
    var changed = 1L
    while (changed > 0) {
      rounds += 1
      // lazy: the count below is the materializing action (same trade as
      // the jump checkpoint in [[components]])
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // distinct sets are equal iff counts match and one difference is empty
      changed = if (next.count() != edges.count()) 1L
                else next.exceptAll(edges).count()
      SnapshotCache.release(edges)
      edges = next
    }
    // converged star forest: every leaf's only neighbor is its component
    // min; every root's neighbors are all larger — one min-agg reads the
    // labels off. The left join restores nodes whose every pair was a
    // self-pair (none in practice — pair generators emit a < b only).
    val labels = bidir(edges).groupBy(col("s").as("id")).agg(min(col("t")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"))
    // materialize the label read-off, then free the star forest and node
    // set it was read from — the caller's frame must not depend on
    // checkpoint blocks we are about to drop
    val out = nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint()
    SnapshotCache.release(nodes)
    SnapshotCache.release(edges)
    (out, rounds)
  }

  /** [[qDedupClusters]] computed through [[componentsStars]] instead of
    * min-label propagation — registered as its own oracled entry so the
    * star-contraction path is hash-gated on the real pair graph (both
    * algorithms converge to the same per-component-min fixpoint, so it
    * shares dedup_clusters' recursive-CTE oracle verbatim). */
  def qDedupClustersStars(spark: SparkSession, dir: String): DataFrame =
    componentsStars(jaccardPairSnapshot(spark, dir), "doc_a", "doc_b")
      .toDF("doc_id", "cluster_id")

  // ------------------------------------------------------------ embedding

  /** Embedding vectors quantized to exact integer micro-units: dot products
    * and norms become order-independent integer sums, cosine becomes one
    * IEEE expression over identical ints — bit-identical across engines. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => Exact.fixed(x.cast("double"), 1e6)).as("v"))
      .withColumn("nsq", VectorFunctions.arrayDotLong(col("v"), col("v")))

  /** Cosine over quantized vectors. The dot product is the native codegen'd
    * [[graft.functions.ArrayDotLong]] — same exact-integer semantics as the
    * aggregate/zip_with HOF form it replaced, ~an order of magnitude faster
    * on the O(pairs·dim) similarity kernels. */
  private[graft] def cosine(va: Column, vb: Column, nsqA: Column, nsqB: Column): Column = {
    val dot = VectorFunctions.arrayDotLong(va, vb)
    dot.cast("double") / (sqrt(nsqA.cast("double")) * sqrt(nsqB.cast("double")))
  }

  /** Embedding-cosine near-dup pairs above [[CosineThreshold]]. All-pairs
    * is acceptable here (embeddings ≤ thousands); at real scale the
    * LSH/IVF candidate generation in graft.ext.sim replaces the cross
    * join — same cosine, same filter. */
  def qEmbeddingDups(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nsq").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nsq").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= CosineThreshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Semantic dedup (the SemDeDup shape): collapse embedding-cosine
    * near-dup PAIRS ([[qEmbeddingDups]]) into clusters via connected
    * [[components]], keep exactly one representative (the min vec_id) per
    * cluster — the embedding-space analog of the text-side
    * [[qDedupClusters]]. One row per vector: its cluster id (own id when
    * it has no near-dup) and whether it survives the cut.
    *
    * Scale shape: the pair graph is the scale knob — all-pairs here
    * (embeddings table is small), IVF/LSH candidate generation from
    * graft.ext.sim at corpus scale (same cosine, same threshold, pairs
    * only within ANN buckets — exactly how SemDeDup runs inside k-means
    * cells). The components loop and the final broadcast-joined label
    * attach are unchanged by that swap. */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupOver(semClusterLabels(spark, dir), spark, dir)

  /** Representative-keep over an embedding near-dup component-label frame
    * — the SemDeDup tail shared by the all-pairs and LSH-bucketed
    * entries, so swapping the candidate generator provably changes nothing
    * downstream. Since r17 the labels arrive as a shared snapshot
    * ([[semClusterLabels]] / [[semClusterLabelsLsh]]) instead of each
    * query re-running the components loop over its pair snapshot. */
  private def semDedupOver(labels: DataFrame, spark: SparkSession,
                           dir: String): DataFrame = {
    val comp = labels.toDF("vec_id", "cluster_id")
    // comp has one row per vector THAT APPEARS IN A PAIR — orders of
    // magnitude smaller than the corpus; broadcast it so the full table
    // never shuffles for the label attach
    Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      .join(broadcast(comp), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("kept", col("cluster_id") === col("vec_id"))
  }

  /** LSH-bucketed embedding near-dup pairs — the 100 TB path for
    * [[qEmbeddingDups]]: candidates are pairs sharing ANY hyperplane
    * signature band (graft.ext.sim's posting-list construction,
    * [[graft.ext.sim.SimQueries.lshBands]]), exact cosine + threshold only
    * within buckets. Pair volume scales with the corpus's actual
    * duplication (bucket occupancy), not corpus² — the same
    * bucketed-not-all-pairs shape as the shingle families. Recall is the
    * LSH recall at [[graft.ext.sim.SimQueries.NPlanes]]/
    * [[graft.ext.sim.SimQueries.PlanesPerBand]]; the oracle replays the
    * identical plane construction so recall behavior itself hash-matches. */
  def qEmbeddingDupsLsh(spark: SparkSession, dir: String): DataFrame = {
    // Posting lists per (band, band-hash) bucket CARRYING the vectors, so
    // pair generation + cosine + threshold run pipelined inside the
    // bucket explode — no shuffle between candidate generation and the
    // threshold. The dedup of cross-band repeats (a near-pair collides in
    // several bands) happens AFTER the cosine filter, where it shuffles
    // only the surviving near-dup pairs instead of the full candidate
    // mass (~0.5 · n² rows on this worst-case random fixture; measured
    // 980k candidate rows vs 715 survivors at sf0.1 — the early-distinct
    // formulation paid a candidate-sized exchange for nothing, since a
    // repeated cosine eval is ~100 codegen'd integer ops while a
    // shuffled row is a serialize+disk+network round trip). Same band
    // rule, same candidates, same recall; the oracle replays the band
    // construction and dedups candidates pre-cosine — equivalent, since
    // cosine is a pure function of the pair, so dedup commutes with it.
    // Parallelism grain is the BUCKET (one explode task does that
    // bucket's O(occupancy²) pair work), so the SCALING.md control law —
    // band bits ∝ log₂ n holds occupancy flat — is also what keeps task
    // sizes uniform at corpus scale; QueriesSpec pins the plan shape.
    val e = quantized(spark, dir)
    val posts = graft.ext.sim.SimQueries.lshBands(spark, dir)
      .join(e.select(col("vec_id"), col("v"), col("nsq")), "vec_id")
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nsq"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    posts
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.v"), col("b.v"), col("a.nsq"), col("b.nsq")).as("cosine"))
      .filter(col("cosine") >= CosineThreshold)
      .distinct()
  }

  /** Semantic dedup over the LSH-bucketed pair graph — the canonical
    * at-scale entry ([[qSemDedup]] keeps the all-pairs graph as its
    * correctness baseline, the way dedup_ngram_capped shadows the uncapped
    * jaccard). Same components, same representative rule; only the
    * candidate generator differs, and the oracle replays it exactly. */
  def qSemDedupBucketed(spark: SparkSession, dir: String): DataFrame =
    semDedupOver(semClusterLabelsLsh(spark, dir), spark, dir)

  /** Every [[IncomingVecStride]]-th vector plays the incoming batch in the
    * incremental semantic screen (the embedding analog of the documents
    * table's src5 ingest source). */
  val IncomingVecStride = 10

  /** Incremental SEMANTIC-dedup screen — the embedding analog of
    * [[qIncrementalDedup]], closing the ingest story for the semantic
    * family: an incoming batch of vectors is screened against the corpus
    * through the LSH band index, per-vector verdict = how many corpus
    * near-dups it has and the best cosine. One row per flagged incoming
    * vector (vectors with no banded corpus near-dup pass the screen and
    * emit nothing — the accept path).
    *
    * Scale shape: the corpus side of the band join is the PERSISTED
    * signature index a deployment maintains (same artifact the bucketed
    * batch dedup builds); the batch side recomputes signatures for its
    * own vectors only and BROADCASTS — bounded by the batch, so the join
    * streams the corpus index with no shuffle of it, and candidates are
    * batch × bucket-occupancy, never corpus². Payloads ride the band
    * rows, so candidate → cosine → threshold is pipelined exactly like
    * [[qEmbeddingDupsLsh]], and the cross-band dedup exchanges survivors
    * only. The two `lshBands` computations (one per arm) mirror
    * production — batch signatures are computed fresh, corpus signatures
    * come from the index — rather than an artifact to share. */
  private def embIncArm(spark: SparkSession, dir: String, incoming: Boolean): DataFrame =
    graft.ext.sim.SimQueries.lshBands(spark, dir)
      .filter(if (incoming) col("vec_id") % IncomingVecStride === 0
              else col("vec_id") % IncomingVecStride =!= 0)
      .join(quantized(spark, dir).select(col("vec_id"), col("v"), col("nsq")), "vec_id")

  /** The persisted corpus signature index of the embedding screen —
    * snapshot-cached like the jaccard/span indexes so repeated probes pay
    * the probe only. */
  private[graft] def embIncCorpusIndex(spark: SparkSession, dir: String): DataFrame =
    SnapshotCache.snapshot("emb-inc-corpus", spark, dir)(
      embIncArm(spark, dir, incoming = false).select(col("band"), col("bh"),
        col("vec_id").as("corpus_vec_id"), col("v").as("cv"), col("nsq").as("cn")))

  def qEmbeddingIncremental(spark: SparkSession, dir: String): DataFrame = {
    val batch = embIncArm(spark, dir, incoming = true).select(col("band"), col("bh"),
      col("vec_id").as("new_vec_id"), col("v").as("bv"), col("nsq").as("bn"))
    val corpus = embIncCorpusIndex(spark, dir)
    corpus.join(broadcast(batch), Seq("band", "bh"))
      .withColumn("cosine", cosine(col("bv"), col("cv"), col("bn"), col("cn")))
      .filter(col("cosine") >= CosineThreshold)
      .select(col("new_vec_id"), col("corpus_vec_id"), col("cosine"))
      .distinct()
      .groupBy(col("new_vec_id"))
      .agg(count(lit(1)).as("n_near_dups"), max(col("cosine")).as("best_cosine"))
  }

  /** Intra-document repetition score: 1 − distinct/total over each doc's
    * 3-gram shingle multiset — the "templated/looping text" quality signal
    * (decoder loops, boilerplate stutter). Rides the same shingle pipeline
    * as the dedup family (dedup=false: multiplicity is the signal here);
    * one groupBy(doc_id) is the only exchange, and the distinct count is
    * exact (countDistinct over the 60-bit shingle hash). */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    // reads the shared shingle_rows artifact (r16, same move as the
    // capped jaccard): identical non-deduped multiset, tokenize paid once
    shingleRowsSnapshot(spark, dir)
      .select(col("doc_id"), Exact.md5Long(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("h")).as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"))

  /** Cross-source duplication matrix: near-dup pair counts by (source,
    * source) — "which sources copy from each other", the provenance view
    * that decides which feeds to drop or down-weight. Pairs come from the
    * jaccard query (posting-list path, materialized once); sources attach
    * via two UNHINTED joins against the doc→source projection: the
    * projection is one row per CORPUS doc while the pair graph is
    * typically far smaller, so forcing the doc side to broadcast was
    * backwards (the r12 knn_label_eval class — dropped in r13; the
    * optimizer broadcasts whichever side stats say is small and shuffles
    * at scale). The matrix is canonicalized upper-triangular
    * (least/greatest) so A→B and B→A collapse. Output is at most
    * |sources|² rows regardless of corpus size. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = jaccardPairSnapshot(spark, dir)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
    pairs
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** The "incoming batch" for [[qIncrementalDedup]] — one source plays the
    * role of today's crawl against the rest of the corpus. */
  val IncomingSource = "src5"

  // --- Incremental-ingest dedup: which INCOMING docs are near-dups of the
  // EXISTING corpus — the daily operation of a production pipeline, which
  // must never recompute corpus×corpus pairs. Split into the two pieces a
  // deployment actually has: [[corpusIndex]] (the snapshot artifacts) and
  // [[screenAgainstIndex]] (the probe, batch-bounded end to end), composed
  // by [[qIncrementalDedup]] for the oracle gate and drivable one
  // micro-batch at a time from a stream. Output: one row per contaminated
  // incoming doc with its match count and best score — the
  // reject/quarantine list for the batch.

  /** The persisted-index artifacts of the incremental screen: the corpus's
    * inverted index (shingle-hash → posting list) and its per-doc distinct-
    * shingle counts — exactly what a deployment snapshots between batches
    * (bucketed on the hash / doc key). Built here from the non-incoming
    * side of the documents table; the shingle pipeline materializes ONCE
    * and feeds both artifacts. */
  private[graft] def corpusIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // both artifacts ride the suite-scoped snapshot cache (the persisted
    // index of a deployment): repeated probes — and every bench pass after
    // the first — pay the probe only. The shingle pipeline materializes
    // AT MOST ONCE per cold build: the shared scan→shingle→hash frame is
    // checkpointed lazily on first demand (only when at least one snapshot
    // is cold), both artifacts derive from it, and the intermediate is
    // released after they materialize — no orphan checkpoint, no double
    // scan (ADVICE r8: the `def` form executed the pipeline once per
    // artifact, doubling the cold-path cost charged to snapshot_build).
    // r16: derives from the shared shingle materialization — the source
    // filter and the set-semantics distinct run on the snapshot (per-doc
    // row filters commute with per-doc shingling, and distinct-then-hash
    // at the STRING grain is exactly the dedup=true live form), so the
    // values are bit-identical while the scan→tokenize→explode cost is
    // paid once per corpus version across all shingle artifacts
    var shared: DataFrame = null
    def ex: DataFrame = {
      if (shared eq null)
        shared = shingleRowsSnapshot(spark, dir)
          .filter(col("source") =!= IncomingSource)
          .select(col("doc_id"), col("s")).distinct()
          .select(col("doc_id"), Exact.md5Long(col("s")).as("h"))
          .localCheckpoint()
      shared
    }
    try {
      val posts = SnapshotCache.snapshot("inc-posts", spark, dir)(
        ex.groupBy(col("h")).agg(collect_set(col("doc_id")).as("docs")))
      val oldSizes = SnapshotCache.snapshot("inc-sizes", spark, dir)(
        ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_old"))
          .toDF("old_doc_id", "n_old"))
      (posts, oldSizes)
    } finally {
      // both artifacts are themselves eager localCheckpoints, so the
      // shared intermediate (if a cold build forced it) frees immediately
      // — in a finally so a mid-build failure cannot orphan its blocks
      if (shared ne null) SnapshotCache.release(shared)
    }
  }

  /** Probe-side screen of a BATCH of documents (doc_id, text) against a
    * persisted corpus index — the kernel of [[qIncrementalDedup]], also
    * drivable from a streaming foreachBatch sink (micro-batch in, reject
    * list out; batch ≡ stream is spec-pinned). Size lookups: only
    * batch-bounded frames are ever broadcast — the new-side sizes and the
    * candidate pair set scale with the batch, while the corpus-side
    * per-doc sizes (one row per corpus doc — a persisted stat of the index
    * snapshot) are STREAMED against the broadcast candidates, so nothing
    * corpus-sized ever collects to the driver. (A batch with pathological
    * candidate volume would drop the inter hint and let AQE pick — same
    * plan as the jaccard kernel.) */
  def screenAgainstIndex(batchDocs: DataFrame, corpusPosts: DataFrame,
                         oldSizes: DataFrame): DataFrame = {
    val newSh = shingleRowsOf(batchDocs)
      .select(col("doc_id"), Exact.md5Long(col("s")).as("h"))
      .localCheckpoint()
    val inter = newSh.join(corpusPosts, "h")
      .select(col("doc_id").as("new_doc_id"), explode(col("docs")).as("old_doc_id"))
      .groupBy(col("new_doc_id"), col("old_doc_id"))
      .agg(count(lit(1)).as("inter"))
    val newSizes = newSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
      .toDF("new_doc_id", "n_new")
    oldSizes.join(broadcast(inter), "old_doc_id")
      .join(broadcast(newSizes), "new_doc_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_new") + col("n_old") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("new_doc_id"))
      .agg(count(lit(1)).as("n_dup_matches"), max(col("jaccard")).as("max_jaccard"))
  }

  def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val (posts, oldSizes) = corpusIndex(spark, dir)
    val batch = Tables.rebalanced(spark,
      Tables.documents(spark, dir).filter(col("source") === IncomingSource))
    screenAgainstIndex(batch, posts, oldSizes)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_repetition"     -> (qRepetition _),
    "dedup_source_matrix" -> (qSourceOverlap _),
    "dedup_incremental"   -> (qIncrementalDedup _),
    "dedup_exact"         -> (qExact _),
    "dedup_minhash"       -> (qMinhash _),
    "dedup_minhash_eval"  -> (qMinhashEval _),
    "dedup_minhash_sweep" -> (qMinhashSweep _),
    "dedup_simhash"       -> (qSimhash _),
    "dedup_simhash_pairs" -> (qSimhashPairs _),
    "dedup_simhash_eval"  -> (qSimhashEval _),
    "dedup_ngram_jaccard" -> (jaccardPairSnapshot _),
    "dedup_ngram_capped"  -> (qNgramJaccardCapped _),
    "dedup_spans"         -> (qSharedSpans _),
    "dedup_spans_scrub"   -> (qSpanScrub _),
    "dedup_spans_incremental" -> (qSpanIncremental _),
    "dedup_clusters"      -> (qDedupClusters _),
    "dedup_clusters_stars" -> (qDedupClustersStars _),
    "dedup_survivors"     -> (qSurvivors _),
    "dedup_embedding"     -> (embeddingPairSnapshot _),
    "dedup_embedding_lsh" -> (embeddingLshPairSnapshot _),
    "dedup_semantic"      -> (qSemDedup _),
    "dedup_semantic_bucketed" -> (qSemDedupBucketed _),
    "dedup_embedding_incremental" -> (qEmbeddingIncremental _))

  // ------------------------------------------------------------- oracles

  private val shSql = TextNorm.shinglesSql("t")

  /** Shared CTE prefix: tokens → shingles → exploded shingle rows. Shared
    * with the contamination oracle in graft.ext.pipeline so both gates
    * agree on one shingle definition. */
  private[graft] val shingleCtes =
    s"""toks AS (SELECT doc_id, ${TextNorm.toksSql} AS t FROM documents),
       |sh AS (SELECT doc_id, $shSql AS shingles FROM toks),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)""".stripMargin

  /** In-engine calibration of the MinHash/LSH screen against exact
    * ground truth: band-collision candidates (dedup_minhash, verbatim)
    * compared to the exact jaccard pair set (the shared snapshot) —
    * recall (true pairs the bands caught) and precision (candidates that
    * were real) as integer milli-ratios, one summary row. The eval any
    * deployment runs before trusting an approximate screen at a new
    * band/row setting — same pattern as text_langid_eval for the
    * classifier and the recall numbers pinned in the ANN Scaladocs, here
    * under the hash gate itself.
    *
    * Scale shape: both inputs are PAIR frames (dedup output, ≪ corpus);
    * one full-outer join on the pair key and a single global aggregate —
    * the corpus-sized work happens once inside the two shared upstream
    * pipelines. At 100 TB the truth set is a sampled stratum (exact
    * jaccard over the full corpus is what LSH avoids); the comparison
    * frame itself is unchanged. */
  /** The shared pair-screen comparison: candidate pairs vs exact-truth
    * pairs → one summary row of counts + integer milli recall/precision.
    * Outer coalesce: on a pair-free corpus (clean ingest) the global agg
    * over an empty join emits one all-NULL row — the oracle's scalar
    * COUNT(*) form emits zeros, and zeros are the truthful report. */
  private def pairScreenEval(cand0: DataFrame, truth0: DataFrame): DataFrame = {
    val cand = cand0.select(col("doc_a"), col("doc_b"), lit(1L).as("is_cand"))
    val truth = truth0.select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
    cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("is_cand"), lit(0L))), lit(0L)).as("n_candidates"),
        coalesce(sum(coalesce(col("is_true"), lit(0L))), lit(0L)).as("n_true_pairs"),
        coalesce(sum(coalesce(col("is_cand"), lit(0L)) * coalesce(col("is_true"), lit(0L))), lit(0L)).as("n_hits"))
      .select(col("n_candidates"), col("n_true_pairs"), col("n_hits"),
        expr("1000 * n_hits DIV greatest(n_true_pairs, 1)").as("recall_milli"),
        expr("1000 * n_hits DIV greatest(n_candidates, 1)").as("precision_milli"))
  }

  def qMinhashEval(spark: SparkSession, dir: String): DataFrame =
    pairScreenEval(qMinhash(spark, dir), jaccardPairSnapshot(spark, dir))

  /** Band counts swept by [[qMinhashSweep]] — each must divide
    * [[MinhashFns]]; rows-per-band = MinhashFns / bands. (4,3) is the
    * production config of dedup_minhash. */
  val SweepBands: Seq[Int] = Seq(2, 3, 4, 6)

  /** The banding TUNING CURVE — dedup_minhash_eval generalized from the
    * one production config to the whole (bands × rows) trade-off over the
    * SAME 12-slot signatures: more bands of fewer rows = higher collision
    * probability at any given similarity = higher recall AND more
    * candidates. One row per config with candidate mass, recall, and
    * precision against the exact jaccard truth — the measured control law
    * a deployment reads to pick its operating point (the ann_eval /
    * er_blocking_eval discipline applied to the banding parameter
    * itself). The spec pins the monotonicity the S-curve theory predicts:
    * candidates and hits are both non-decreasing in the band count.
    *
    * Shape: signatures materialize ONCE (localCheckpoint) and each config
    * re-bands that 12-integer-per-doc frame — banding cost is per-doc,
    * never per-pair; each config's candidates and the shared truth meet
    * in the pair-frame-sized eval join. */
  def qMinhashSweep(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir) // snapshot — already materialized
    val truth = jaccardPairSnapshot(spark, dir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    SweepBands.map { b =>
      val r = MinhashFns / b
      val bands = sig.select(col("doc_id"),
        explode(sequence(lit(0), lit(b - 1))).as("band"), col("sig"))
        .select(col("doc_id"), col("band"),
          md5(concat_ws(",", transform(
            slice(col("sig"), col("band") * r + 1, lit(r)),
            x => x.cast("string")))).as("band_hash"))
      val posts = bands.groupBy(col("band"), col("band_hash"))
        .agg(collect_set(col("doc_id")).as("ds"))
        .filter(size(col("ds")) >= 2)
      val cand = posts
        .select(explode(col("ds")).as("doc_a"), col("ds"))
        .select(col("doc_a"), explode(col("ds")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .distinct()
      pairScreenEval(cand, truth)
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_true_pairs"), col("n_hits"),
          col("recall_milli"), col("precision_milli"))
    }.reduce(_ unionByName _)
  }

  /** The SimHash screen's report card — completing the calibration family
    * (minhash/ANN/blocking all have one): Hamming-≤[[HammingMax]] pairs
    * vs the exact jaccard pair set. Note the asymmetry to minhash_eval:
    * SimHash detects a DIFFERENT notion of similarity (bit-signature
    * proximity ≈ weighted token-set cosine, not shingle jaccard), so
    * sub-1000 recall here measures the metric gap as much as the banding
    * loss — exactly why a deployment runs the eval before swapping one
    * screen for the other. Same pair-frame scale shape as minhash_eval. */
  def qSimhashEval(spark: SparkSession, dir: String): DataFrame =
    pairScreenEval(qSimhashPairs(spark, dir), jaccardPairSnapshot(spark, dir))

  /** The simhash Hamming-pair statement — shared by the
    * dedup_simhash_pairs gate and the recall/precision eval built on it. */
  private[graft] lazy val simhashPairsSql: String =
    s"""WITH sim AS ($simhashSql)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax""".stripMargin

  /** The minhash band-collision statement — shared by the dedup_minhash
    * gate and the recall/precision eval built on it, so the candidate
    * definition cannot drift between the two. */
  /** The signature-building CTE chain (shingles → 28-bit base hash →
    * universal-hash minima → 12-slot signature list) — ONE definition
    * shared by the dedup_minhash statement and the banding sweep. */
  private lazy val sigCtes: String =
    s"""$shingleCtes,
       |exh AS (SELECT doc_id, ${Exact.md5Long28Sql("s")} AS h FROM ex),
       |sigrows AS (
       |  SELECT doc_id, j, min(($hashASql[j+1] * h + $hashBSql[j+1]) % $HashP) AS mh
       |  FROM exh, (SELECT unnest(generate_series(0, ${MinhashFns - 1})) AS j) js
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, list(mh ORDER BY j) AS sig FROM sigrows GROUP BY doc_id)""".stripMargin

  private[graft] lazy val minhashSql: String =
    s"""WITH $sigCtes,
       |bands AS (
       |  SELECT doc_id, sig, b,
       |    md5(array_to_string(list_transform(sig[b*$RowsPerBand+1 : b*$RowsPerBand+$RowsPerBand], y -> CAST(y AS VARCHAR)), ',')) AS bh
       |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS b) bs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_filter(generate_series(1, $MinhashFns), i -> sig_a[i] = sig_b[i])) AS DOUBLE)
       |    / ${MinhashFns.toDouble} AS est_jaccard
       |FROM cand""".stripMargin

  /** Recursive-CTE component collapse over the jaccard pair graph —
    * shared by dedup_clusters (propagation path) and dedup_clusters_stars
    * (star-contraction path): one truth for both algorithms. */
  private[graft] lazy val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |$ngramJaccardSql
       |  ) jp),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT DISTINCT u, u AS v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u""".stripMargin

  private val hashASql = HashA.mkString("[", ",", "]")
  private val hashBSql = HashB.mkString("[", ",", "]")

  /** Shared CTE prefix of the span family: tokens → positioned window
    * hashes → df-capped match universe → diagonal islands. Replays the
    * identical window/position construction as [[spanIslands]]: DuckDB's
    * 1-based inclusive list slice `t[i:i+W-1]` is the W-token window at i,
    * `generate_series(1, len-W+1)` the same position universe, and the
    * row_number-diagonal island arithmetic is engine-neutral integer math.
    * `runs` carries `pa` so the scrub oracle can recover each island's
    * start; the pair oracle simply ignores it. */
  private[graft] val spanWindowCtes =
    s"""toks AS (SELECT doc_id, ${TextNorm.toksSql} AS t FROM documents),
       |win AS (SELECT doc_id, t,
       |    unnest(generate_series(1, len(t) - ${SpanWindow - 1})) AS pos
       |  FROM toks WHERE len(t) >= $SpanWindow),
       |wh AS (SELECT doc_id, pos,
       |    ${Exact.md5LongSql(s"array_to_string(t[pos:pos+${SpanWindow - 1}], ' ')")} AS h
       |  FROM win)""".stripMargin

  private val spanRunsCtes =
    s"""$spanWindowCtes,
       |ok AS (SELECT h FROM wh GROUP BY h
       |       HAVING count(*) BETWEEN 2 AND $MaxWindowDf),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
       |    a.pos - b.pos AS diag
       |  FROM wh a JOIN wh b USING (h) JOIN ok USING (h)
       |  WHERE a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT doc_a, doc_b, diag, pa,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
       |  FROM m)""".stripMargin

  // lazy, NOT a strict val: this map embeds TextQueries.qualityScoreSql
  // while TextQueries.oracles embeds shingleCtes/quantizedSql from here —
  // as strict vals both sides would run inside their objects' <clinit>,
  // and two threads first-touching opposite objects would deadlock on the
  // crossed class-init locks. Lazy on both sides keeps each <clinit>
  // self-contained; first access (SparkEntry composition) pays once.
  lazy val oracles: Map[String, String] = Map(
    "text_repetition" ->
      s"""WITH toks AS (SELECT doc_id, ${TextNorm.toksSql} AS t FROM documents),
         |shm AS (SELECT doc_id, ${TextNorm.shinglesMultisetSql("t")} AS s
         |  FROM toks),
         |exm AS (SELECT doc_id, ${Exact.md5LongSql("s")} AS h
         |        FROM (SELECT doc_id, unnest(s) AS s FROM shm))
         |SELECT doc_id, count(*) AS n_shingles,
         |  count(DISTINCT h) AS n_distinct,
         |  CAST(1.0 AS DOUBLE) - CAST(count(DISTINCT h) AS DOUBLE) / count(*) AS rep_ratio
         |FROM exm GROUP BY 1""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $shingleCtes,
         |exg AS (SELECT doc_id, ${Exact.md5LongSql("s")} AS h
         |        FROM (SELECT DISTINCT doc_id, s FROM ex)),
         |tagged AS (SELECT e.doc_id, e.h, (d.source = '$IncomingSource') AS is_new
         |           FROM exg e JOIN documents d USING (doc_id)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM tagged GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS new_doc_id, b.doc_id AS old_doc_id, count(*) AS i
         |  FROM tagged a JOIN tagged b ON a.h = b.h AND a.is_new AND NOT b.is_new
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT new_doc_id, old_doc_id,
         |    CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jac
         |  FROM inter JOIN sizes na ON new_doc_id = na.doc_id
         |             JOIN sizes nb ON old_doc_id = nb.doc_id)
         |SELECT new_doc_id, count(*) AS n_dup_matches, max(jac) AS max_jaccard
         |FROM j WHERE jac >= $JaccardThreshold GROUP BY 1""".stripMargin,
    "dedup_source_matrix" ->
      s"""WITH pairs AS (
         |$ngramJaccardSql
         |)
         |SELECT least(da.source, db.source) AS source_x,
         |  greatest(da.source, db.source) AS source_y,
         |  count(*) AS n_dup_pairs
         |FROM pairs p
         |JOIN documents da ON p.doc_a = da.doc_id
         |JOIN documents db ON p.doc_b = db.doc_id
         |GROUP BY 1, 2""".stripMargin,
    "dedup_exact" ->
      s"""SELECT md5(${TextNorm.normSql}) AS content_hash,
         |  min(doc_id) AS keeper_doc_id, count(*) AS n_docs
         |FROM documents GROUP BY 1""".stripMargin,
    "dedup_minhash" -> minhashSql,
    // candidate set = band collisions (minhashSql, verbatim); truth set =
    // the exact pair SQL — the eval nests both shared statements, so it
    // cannot drift from either gate it calibrates
    // the sig CTE chain once, then one band/cand/hits block per config —
    // all against the one shared truth
    "dedup_minhash_sweep" -> {
      def cfg(b: Int): String = {
        val r = MinhashFns / b
        s"""bands$b AS (
           |  SELECT doc_id, bb,
           |    md5(array_to_string(list_transform(sig[bb*$r+1 : bb*$r+$r], y -> CAST(y AS VARCHAR)), ',')) AS bh
           |  FROM sig, (SELECT unnest(generate_series(0, ${b - 1})) AS bb) bs),
           |cand$b AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands$b x JOIN bands$b y
           |    ON x.bb = y.bb AND x.bh = y.bh AND x.doc_id < y.doc_id),
           |hits$b AS (SELECT doc_a, doc_b FROM cand$b
           |           INTERSECT SELECT doc_a, doc_b FROM truth)""".stripMargin
      }
      def row(b: Int): String = {
        val r = MinhashFns / b
        s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
           |  CAST((SELECT count(*) FROM cand$b) AS BIGINT) AS n_candidates,
           |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
           |  CAST((SELECT count(*) FROM hits$b) AS BIGINT) AS n_hits,
           |  (1000 * CAST((SELECT count(*) FROM hits$b) AS BIGINT))
           |    // greatest(CAST((SELECT count(*) FROM truth) AS BIGINT), 1) AS recall_milli,
           |  (1000 * CAST((SELECT count(*) FROM hits$b) AS BIGINT))
           |    // greatest(CAST((SELECT count(*) FROM cand$b) AS BIGINT), 1) AS precision_milli""".stripMargin
      }
      s"""WITH $sigCtes,
         |truth AS (SELECT doc_a, doc_b FROM (
         |$ngramJaccardSql
         |) j),
         |${SweepBands.map(cfg).mkString(",\n")}
         |${SweepBands.map(row).mkString("\nUNION ALL\n")}""".stripMargin
    },
    "dedup_minhash_eval" ->
      s"""WITH cand AS (SELECT doc_a, doc_b FROM (
         |$minhashSql
         |) m),
         |truth AS (SELECT doc_a, doc_b FROM (
         |$ngramJaccardSql
         |) j),
         |hits AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth)
         |SELECT CAST(nc AS BIGINT) AS n_candidates,
         |  CAST(nt AS BIGINT) AS n_true_pairs,
         |  CAST(nh AS BIGINT) AS n_hits,
         |  (1000 * CAST(nh AS BIGINT)) // greatest(CAST(nt AS BIGINT), 1) AS recall_milli,
         |  (1000 * CAST(nh AS BIGINT)) // greatest(CAST(nc AS BIGINT), 1) AS precision_milli
         |FROM (SELECT (SELECT count(*) FROM cand) AS nc,
         |             (SELECT count(*) FROM truth) AS nt,
         |             (SELECT count(*) FROM hits) AS nh)""".stripMargin,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    // the same nested-statement discipline as dedup_minhash_eval: the
    // candidate and truth definitions are the shared gate statements
    "dedup_simhash_eval" ->
      s"""WITH cand AS (SELECT doc_a, doc_b FROM (
         |$simhashPairsSql
         |) s),
         |truth AS (SELECT doc_a, doc_b FROM (
         |$ngramJaccardSql
         |) j),
         |hits AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth)
         |SELECT CAST(nc AS BIGINT) AS n_candidates,
         |  CAST(nt AS BIGINT) AS n_true_pairs,
         |  CAST(nh AS BIGINT) AS n_hits,
         |  (1000 * CAST(nh AS BIGINT)) // greatest(CAST(nt AS BIGINT), 1) AS recall_milli,
         |  (1000 * CAST(nh AS BIGINT)) // greatest(CAST(nc AS BIGINT), 1) AS precision_milli
         |FROM (SELECT (SELECT count(*) FROM cand) AS nc,
         |             (SELECT count(*) FROM truth) AS nt,
         |             (SELECT count(*) FROM hits) AS nh)""".stripMargin,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_clusters" -> dedupClustersSql,
    // componentsStars converges to the same per-component-min fixpoint as
    // min-label propagation, so the star entry shares the oracle verbatim
    // — the gate proves algorithm equivalence on the real pair graph
    "dedup_clusters_stars" -> dedupClustersSql,
    // the cluster statement nests verbatim as a derived CTE (one truth
    // with the dedup_clusters gate); the quality expression is the shared
    // qualityScoreSql, so election reuses the text_quality oracle's exact
    // doubles and the argmax cannot drift between gates
    "dedup_survivors" ->
      s"""WITH c AS (
         |$dedupClustersSql
         |),
         |q AS (SELECT doc_id,
         |  ${graft.ext.text.TextQueries.qualityScoreSql} AS quality_score
         |  FROM documents)
         |SELECT cluster_id, doc_id AS survivor_doc_id,
         |  n_members, quality_score AS survivor_quality
         |FROM (
         |  SELECT c.cluster_id, c.doc_id, q.quality_score,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY q.quality_score DESC, c.doc_id) AS rk,
         |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM c JOIN q USING (doc_id)) ranked
         |WHERE rk = 1""".stripMargin,
    "dedup_spans" ->
      s"""WITH $spanRunsCtes,
         |rl AS (
         |  SELECT doc_a, doc_b, count(*) AS run_w
         |  FROM runs GROUP BY doc_a, doc_b, diag, isl
         |  HAVING count(*) >= $MinSpanWindows)
         |SELECT doc_a, doc_b, count(*) AS n_spans,
         |  max(run_w + ${SpanWindow - 1}) AS max_span_tokens
         |FROM rl GROUP BY 1, 2""".stripMargin,
    // islands → covered token ranges in the LOSING (higher-id) doc →
    // per-position anti-join against the token universe → re-assembled
    // text; coalesce('') matches Spark's concat_ws over an empty array
    // for fully-scrubbed documents
    "dedup_spans_scrub" ->
      s"""WITH $spanRunsCtes,
         |isl AS (
         |  SELECT doc_b, min(pa - diag) AS sb, count(*) AS run_w
         |  FROM runs GROUP BY doc_a, doc_b, diag, isl
         |  HAVING count(*) >= $MinSpanWindows),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_b AS doc_id,
         |    unnest(generate_series(sb, sb + run_w + ${SpanWindow - 2})) AS pos
         |  FROM isl)),
         |tp AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
         |       FROM toks),
         |kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.t[tp.pos] AS tok
         |  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
         |  WHERE cov.pos IS NULL),
         |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
         |        FROM kept GROUP BY 1)
         |SELECT toks.doc_id, len(toks.t) AS n_tokens,
         |  coalesce(rem.n_removed, 0) AS n_removed,
         |  coalesce(agg.text_clean, '') AS text_clean
         |FROM toks LEFT JOIN rem USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin,
    // batch-vs-corpus replay: corpus windows exclude the incoming source,
    // the df cap applies to CORPUS occurrences only (a single corpus
    // occurrence is a valid target — the incoming window completes the
    // pair), and islands/verdicts mirror the span-family arithmetic
    "dedup_spans_incremental" ->
      s"""WITH toksrc AS (SELECT doc_id, source, ${TextNorm.toksSql} AS t FROM documents),
         |wins AS (SELECT doc_id, source, t,
         |    unnest(generate_series(1, len(t) - ${SpanWindow - 1})) AS pos
         |  FROM toksrc WHERE len(t) >= $SpanWindow),
         |whs AS (SELECT doc_id, source, pos,
         |    ${Exact.md5LongSql(s"array_to_string(t[pos:pos+${SpanWindow - 1}], ' ')")} AS h
         |  FROM wins),
         |corpus AS (SELECT doc_id, pos, h FROM whs WHERE source <> '$IncomingSource'),
         |ok AS (SELECT h FROM corpus GROUP BY h HAVING count(*) <= $MaxWindowDf),
         |newb AS (SELECT doc_id, pos, h FROM whs WHERE source = '$IncomingSource'),
         |m AS (
         |  SELECT n.doc_id AS doc_a, c.doc_id AS doc_b, n.pos AS pa,
         |    n.pos - c.pos AS diag
         |  FROM newb n JOIN corpus c USING (h) JOIN ok USING (h)),
         |runs AS (
         |  SELECT doc_a, doc_b, diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
         |  FROM m),
         |spans AS (
         |  SELECT doc_a, doc_b, count(*) AS run_w
         |  FROM runs GROUP BY doc_a, doc_b, diag, isl
         |  HAVING count(*) >= $MinSpanWindows)
         |SELECT doc_a AS new_doc_id, count(*) AS n_spans,
         |  count(DISTINCT doc_b) AS n_src_docs,
         |  max(run_w + ${SpanWindow - 1}) AS max_span_tokens
         |FROM spans GROUP BY 1""".stripMargin,
    "dedup_ngram_capped" ->
      s"""WITH $shingleCtes,
         |exg AS (SELECT DISTINCT doc_id, ${Exact.md5LongSql("s")} AS sh FROM ex),
         |rare AS (SELECT sh FROM exg GROUP BY sh HAVING count(*) <= $MaxShingleDf),
         |capped AS (SELECT exg.doc_id, exg.sh FROM exg JOIN rare USING (sh)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
         |FROM inter JOIN sizes na ON doc_a = na.doc_id
         |           JOIN sizes nb ON doc_b = nb.doc_id
         |WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold""".stripMargin,
    "dedup_embedding" -> embeddingDupsSql,
    // same recursive-CTE component construction as dedup_clusters, over the
    // embedding pair graph; vectors with no near-dup label themselves
    "dedup_semantic" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT vec_a, vec_b FROM (
         |$embeddingDupsSql
         |  ) ep),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |          UNION SELECT vec_b, vec_a FROM pairs),
         |reach AS (SELECT DISTINCT u, u AS v FROM edges
         |          UNION
         |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u)
         |SELECT e.vec_id, e.label,
         |  coalesce(c.cluster_id, e.vec_id) AS cluster_id,
         |  coalesce(c.cluster_id, e.vec_id) = e.vec_id AS kept
         |FROM embeddings e LEFT JOIN comp c USING (vec_id)""".stripMargin,
    "dedup_embedding_lsh" -> embeddingDupsLshSql,
    // identical component construction over the LSH-bucketed pair graph —
    // the oracle replays the bucketed candidate rule itself, not just the
    // cosine, so the at-scale entry is gated end to end
    "dedup_semantic_bucketed" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT vec_a, vec_b FROM (
         |$embeddingDupsLshSql
         |  ) ep),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |          UNION SELECT vec_b, vec_a FROM pairs),
         |reach AS (SELECT DISTINCT u, u AS v FROM edges
         |          UNION
         |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u)
         |SELECT e.vec_id, e.label,
         |  coalesce(c.cluster_id, e.vec_id) AS cluster_id,
         |  coalesce(c.cluster_id, e.vec_id) = e.vec_id AS kept
         |FROM embeddings e LEFT JOIN comp c USING (vec_id)""".stripMargin,
    // the incremental screen: same band CTEs, batch/corpus split on the
    // vec_id stride, banded candidates, exact cosine, per-incoming-vector
    // verdict — the candidate RULE and the verdict both gated
    "dedup_embedding_incremental" -> {
      val cos = graft.ext.sim.SimQueries.cosSql("a.v", "b.v", "a.nsq", "b.nsq")
      s"""WITH $quantizedSql,
         |${graft.ext.sim.SimQueries.lshBandCtes},
         |cand AS (
         |  SELECT DISTINCT bb.vec_id AS new_vec_id, cb.vec_id AS corpus_vec_id
         |  FROM bands bb JOIN bands cb ON cb.band = bb.band AND cb.bh = bb.bh
         |  WHERE bb.vec_id % $IncomingVecStride = 0
         |    AND cb.vec_id % $IncomingVecStride <> 0)
         |SELECT c.new_vec_id, CAST(count(*) AS BIGINT) AS n_near_dups,
         |  max($cos) AS best_cosine
         |FROM cand c JOIN q a ON a.vec_id = c.new_vec_id
         |            JOIN q b ON b.vec_id = c.corpus_vec_id
         |WHERE $cos >= $CosineThreshold
         |GROUP BY c.new_vec_id""".stripMargin
    })

  /** Embedding near-dup pairs oracle — shared by dedup_embedding and the
    * dedup_semantic component oracle built on it. */
  private lazy val embeddingDupsSql: String =
    s"""WITH $quantizedSql
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT) AS DOUBLE)
       |    / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cosine
       |FROM q a JOIN q b ON a.vec_id < b.vec_id
       |WHERE CAST(CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT) AS DOUBLE)
       |    / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) >= $CosineThreshold""".stripMargin

  /** LSH-bucketed embedding near-dup pairs oracle: the shared band CTEs
    * from graft.ext.sim (one plane/band definition across both gates)
    * generate the candidate set, then the same exact-cosine threshold.
    * Shared by dedup_embedding_lsh and the dedup_semantic_bucketed
    * component oracle built on it. */
  private lazy val embeddingDupsLshSql: String = {
    val cos = graft.ext.sim.SimQueries.cosSql("a.v", "b.v", "a.nsq", "b.nsq")
    s"""WITH $quantizedSql,
       |${graft.ext.sim.SimQueries.lshBandCtes},
       |cand AS (
       |  SELECT DISTINCT ba.vec_id AS vec_a, bb.vec_id AS vec_b
       |  FROM bands ba JOIN bands bb
       |    ON bb.band = ba.band AND bb.bh = ba.bh AND ba.vec_id < bb.vec_id)
       |SELECT c.vec_a, c.vec_b, $cos AS cosine
       |FROM cand c JOIN q a ON a.vec_id = c.vec_a
       |            JOIN q b ON b.vec_id = c.vec_b
       |WHERE $cos >= $CosineThreshold""".stripMargin
  }

  /** Uncapped jaccard-pairs oracle — shared by dedup_ngram_jaccard, the
    * dedup_clusters component oracle, and (via CurateQueries) the composed
    * curation oracle. */
  private[graft] lazy val ngramJaccardSql: String =
    s"""WITH $shingleCtes,
       |exg AS (SELECT DISTINCT doc_id, ${Exact.md5LongSql("s")} AS sh FROM ex),
       |sizes AS (SELECT doc_id, count(*) AS n FROM exg GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM exg a JOIN exg b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
       |FROM inter JOIN sizes na ON doc_a = na.doc_id
       |           JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold""".stripMargin

  private lazy val simhashSql: String =
    s"""WITH tokrows AS (
       |  SELECT doc_id, unnest(${TextNorm.toksSql}) AS tok FROM documents),
       |tok AS (SELECT doc_id, tok, count(*) AS cnt FROM tokrows GROUP BY 1, 2),
       |th AS (SELECT doc_id, cnt,
       |  CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, i,
       |    sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |  FROM th, (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS i) bs
       |  GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1""".stripMargin

  /** Quantized embeddings CTE (`q`): exact micro-unit ints + norm².
    * Shared with graft.ext.sim so both oracles quantize identically. */
  private[graft] lazy val quantizedSql: String =
    s"""q AS (
       |  SELECT vec_id, label,
       |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) for x in embedding] AS v,
       |    CAST(list_sum([y * y for y in v]) AS BIGINT) AS nsq
       |  FROM embeddings)""".stripMargin
}
