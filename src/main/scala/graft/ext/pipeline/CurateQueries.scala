package graft.ext.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.dedup.DedupQueries
import graft.ext.text.{TextNorm, TextQueries}
import graft.functions.Exact
import graft.sources.Tables

/**
 * The composed training-data curation workflow — the extension operators
 * assembled into the pipeline a 100 TB corpus actually runs:
 *
 *   quality filter → exact dedup → near-dup removal → split assignment →
 *   shard packing
 *
 * Every stage is DataFrame-in/DataFrame-out and every query here has a
 * DuckDB oracle, so the whole composition is under the correctness gate,
 * not just its pieces.
 *
 * Scale shape: quality/split/pack are narrow or one-keyed-shuffle stages;
 * dedup stages inherit the LSH/inverted-index candidate generation from
 * [[DedupQueries]] (never O(n²)); near-dup removal is an anti-join against
 * the (small) pair set.
 */
object CurateQueries {

  val QualityMin = 0.15
  val TrainPct = 90
  val ValPct = 95          // [90,95) val, [95,100) test
  val ShardTokens = 4096L

  /** Greedy near-dup removal rule: within each jaccard-pair, the larger
    * doc_id is dropped (deterministic, one anti-join; the standard greedy
    * approximation of clique-collapse). */
  private def survivors(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextQueries.qQuality(spark, dir)
      .filter(col("quality_score") >= QualityMin)
      .select(col("doc_id"), col("lang"), col("quality_score"))
    // exact dedup: keep the min doc_id of each content group
    val keepers = DedupQueries.qExact(spark, dir).select(col("keeper_doc_id").as("doc_id"))
    val nearDupLosers = DedupQueries.jaccardPairSnapshot(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    quality
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** Curated corpus: docs surviving quality + exact-dup + near-dup cuts. */
  def qCurate(spark: SparkSession, dir: String): DataFrame =
    survivors(spark, dir)

  /** Cluster-correct curation: near-dup removal keeps exactly ONE doc per
    * connected component (the min, via [[DedupQueries.qDedupClusters]])
    * instead of the greedy per-pair rule above. The greedy rule UNDER-
    * deletes on transitive duplication: pairs (A,C),(B,C) greedily drop
    * only C and keep both A and B even though they are near-dups by
    * transitivity — the cluster rule keeps A alone. Formally: clustered
    * survivors ⊆ greedy survivors (a component's min is never a doc_b, so
    * both rules always keep it), with equality only when every non-min
    * member appears as some pair's doc_b. Same quality and exact-dedup
    * stages; both variants fully oracled. */
  def qCurateClustered(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextQueries.qQuality(spark, dir)
      .filter(col("quality_score") >= QualityMin)
      .select(col("doc_id"), col("lang"), col("quality_score"))
    val keepers = DedupQueries.qExact(spark, dir).select(col("keeper_doc_id").as("doc_id"))
    val clusterLosers = DedupQueries.qDedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    quality
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(clusterLosers, Seq("doc_id"), "left_anti")
  }

  /** The split-bucket expression — THE single definition of the corpus
    * train/val/test assignment, shared by [[qSampleSplit]] and the
    * contamination audit (which is only meaningful if it audits the split
    * the corpus actually ships with). */
  private def splitBucket: Column =
    pmod(Exact.md5Long(concat(lit("split|"), col("doc_id"))), lit(100))

  /** Deterministic train/val/test split by content-independent hash of the
    * doc id — reproducible at any scale, no RNG. Counts per (lang, split). */
  def qSampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        when(bucket < TrainPct, "train")
          .when(bucket < ValPct, "val")
          .otherwise("test").as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Per-(lang, doc_id)-ordered inclusive running token totals — the
    * shared kernel of [[qPackShards]] and [[qPackManifest]], as a
    * TWO-PHASE prefix sum (the [[qPackSequences]] / q_global_rank
    * discipline, applied per language): doc_id splits into
    * [[PackBuckets]] CONTIGUOUS ranges (monotone in doc_id, so the
    * (lang, bucket, doc_id) order IS the (lang, doc_id) order), each
    * (lang, bucket) cell cumsums internally in parallel, and the
    * cross-bucket offsets ride one window over the |langs|×[[PackBuckets]]
    * aggregate. The pre-r13 form ran ONE window task per language over
    * full doc grain — an n/|langs| funnel; here per-task input is
    * n/(|langs|·buckets), and at 100 TB PackBuckets grows to
    * O(partitions) while the offset frame stays kilobytes. The bucket
    * bound (max doc_id) stays IN the plan as a 1-row broadcast aggregate
    * (ids are non-negative, so `(doc_id·B) DIV (max+1)` lands in
    * [0, B)). */
  private def packedTokens(spark: SparkSession, dir: String): DataFrame = {
    // materialized ONCE (the qBm25 discipline): the bucket bound, the
    // in-bucket cumsum, and the offsets aggregate each reference this
    // frame, and tokenization dominates the scan — un-checkpointed, the
    // tokenize would run three times (measured 2.3x the pre-split cost
    // at sf0.1; checkpointed it is back under it)
    val toks = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      size(TextNorm.toks(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val mx = toks.agg(max(col("doc_id")).as("max_id"))
    val bucketed = toks.crossJoin(broadcast(mx))
      .withColumn("b", expr(s"(doc_id * $PackBuckets) DIV (max_id + 1)"))
    val inBucket = Window.partitionBy("lang", "b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val acrossBuckets = Window.partitionBy("lang").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketed.groupBy(col("lang"), col("b"))
      .agg(sum(col("n_tokens")).as("b_tokens"))
      .select(col("lang"), col("b"),
        coalesce(sum(col("b_tokens")).over(acrossBuckets), lit(0L)).as("b_off"))
    bucketed
      .withColumn("in_cum", sum(col("n_tokens")).over(inBucket))
      .join(broadcast(bucketOffsets), Seq("lang", "b"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("b_off") + col("in_cum")).as("cum_tokens"))
  }

  /** Pack documents into ~[[ShardTokens]]-token shards per language: the
    * [[packedTokens]] running total assigns each doc the shard its
    * starting offset falls in. Deterministic (ordered by doc_id) and
    * exact-integer. */
  def qPackShards(spark: SparkSession, dir: String): DataFrame =
    packedTokens(spark, dir)
      .withColumn("shard",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / lit(ShardTokens.toDouble)).cast("long"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"))

  /** The loader MANIFEST of [[qPackShards]]' packing: one row per
    * (lang, shard, position) naming the doc at that slot, its token
    * count, and its start offset in the language's concatenated token
    * stream — the flat, ordered table a training reader actually seeks
    * by (pack_shards is the capacity summary; this is the index). The
    * same deterministic (lang, doc_id) packing order and the same shard
    * rule, so the manifest and the summary can never disagree; position
    * and offsets are exact integers and the whole table replays
    * bit-identically — the reproducible-run property again.
    *
    * Shape: identical to pack_shards (the [[packedTokens]] two-phase
    * prefix sum) plus a second window at the (lang, shard) grain for the
    * slot number — shard count GROWS with data (tokens/ShardTokens), so
    * that window's parallelism scales. */
  def qPackManifest(spark: SparkSession, dir: String): DataFrame = {
    packedTokens(spark, dir)
      .withColumn("shard",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / lit(ShardTokens.toDouble)).cast("long"))
      .withColumn("lang_offset", col("cum_tokens") - col("n_tokens"))
      .withColumn("position",
        row_number().over(Window.partitionBy("lang", "shard").orderBy("doc_id"))
          .cast("long"))
      .select(col("lang"), col("shard"), col("position"), col("doc_id"),
        col("n_tokens"), col("lang_offset"))
  }

  /** Fixed context length of the GPT-style packed training sequences. */
  val PackSeqLen = 256L
  /** Contiguous hash-range buckets for the two-phase prefix sum (2^60-bit
    * hash space split into 2^6 equal ranges). */
  private val PackBuckets = 64L

  /** GPT-style SEQUENCE PACKING under the REAL tokenizer — the step that
    * turns a curated corpus into the fixed-length training sequences a
    * loader feeds the model: documents are laid out in a deterministic
    * hash-shuffled order (the loader's reproducible shuffle), their BPE
    * token streams concatenated, and the stream cut every [[PackSeqLen]]
    * tokens (docs span cuts; the loader resets attention at doc
    * boundaries — the standard pretraining packing, zero padding waste
    * vs the first-fit alternative). Output is doc grain: each doc's
    * global token offset and the first/last/count of the sequences it
    * lands in — the index a loader seeks by, and the join key for
    * attributing a training batch back to documents. Token counts come
    * from the SNAPSHOTTED encode frame ([[TextQueries.bpeEncoded]] — the
    * trained tokenizer, not the whitespace proxy), so budget = layout by
    * construction.
    *
    * Scale shape: the global running offset is an EXCLUSIVE PREFIX SUM
    * over a total order — the corpus-sized global window Spark would
    * naively run on one partition. Two-phase kernel instead (the
    * q_global_rank discipline): the 60-bit hash key splits into
    * [[PackBuckets]] CONTIGUOUS ranges, each bucket cumsums internally
    * (parallel windows over corpus/64-sized partitions), and the
    * cross-bucket offsets are one window over a 64-row aggregate. At
    * 100 TB raise PackBuckets to O(partitions) — the bucket frame stays
    * kilobytes. */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    val enc = TextQueries.bpeEncoded(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"),
        Exact.md5Long(concat(lit("pack|"), col("doc_id"))).as("k"))
      .withColumn("b", expr(s"k DIV ${(1L << 60) / PackBuckets}"))
    val inBucket = Window.partitionBy("b").orderBy("k", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val acrossBuckets = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = enc.groupBy(col("b"))
      .agg(sum(col("n_bpe_tokens")).as("b_tokens"))
      .select(col("b"), coalesce(sum(col("b_tokens")).over(acrossBuckets),
        lit(0L)).as("b_off"))
    enc
      .withColumn("in_off",
        coalesce(sum(col("n_bpe_tokens")).over(inBucket), lit(0L)))
      .join(broadcast(bucketOffsets), Seq("b"))
      .withColumn("tok_offset", col("b_off") + col("in_off"))
      .select(col("doc_id"), col("n_bpe_tokens"), col("tok_offset"),
        expr(s"tok_offset DIV $PackSeqLen").as("seq_first"),
        expr(s"(tok_offset + n_bpe_tokens - 1) DIV $PackSeqLen").as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + lit(1L))
  }

  /** Benchmark-contamination check: for each held-out (test-split) doc,
    * the fraction of its distinct 3-gram shingles that appear anywhere in
    * the train split — the standard train/test leakage audit before a
    * corpus ships. Splits come from the same content-independent hash as
    * [[qSampleSplit]], so the audit is reproducible at any scale.
    *
    * Plan shape: the shingle pipeline runs ONCE into a materialized
    * (doc, shingle-hash, bucket) frame; train and test projections both
    * read it. The hit test is a LEFT SEMI join of test shingles against
    * the DISTINCT train shingle hashes — one exchange of 8-byte keys. At
    * 100 TB the benchmark side is the small one: snapshot its distinct
    * shingle set and bloom-prune the train scan instead (same semantics,
    * the semi-join stays as the exact confirm). */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    // val-split rows (TrainPct ≤ bucket < ValPct) are dropped BEFORE the
    // materialization — no consumer reads them
    // reads the shared shingle_rows artifact (r16): distinct over the
    // materialized multiset ≡ the former dedup=true live build
    val sh = DedupQueries.shingleRowsSnapshot(spark, dir)
      .select(col("doc_id"), col("s")).distinct()
      .select(col("doc_id"), Exact.md5Long(col("s")).as("h"), splitBucket.as("bucket"))
      .filter(col("bucket") < TrainPct || col("bucket") >= ValPct)
      .localCheckpoint()
    val trainH = sh.filter(col("bucket") < TrainPct).select(col("h")).distinct()
    val test = sh.filter(col("bucket") >= ValPct)
    val totals = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val hits = test.join(trainH, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_shingles"))
      .withColumn("flagged", col("contamination") >= lit(ContaminationMax))
  }

  val ContaminationMax = 0.5

  /** EXACT per-language token-length quantiles (p50/p90/p99) — the
    * length-distribution report a curation run reads before choosing
    * truncation and packing budgets. Exact by construction: the quantile
    * is the element at rank ⌈p·n⌉ of the per-language sort, with the rank
    * computed in INTEGER arithmetic (⌈a/b⌉ = (a+b−1) div b) — no
    * float-interpolation or sketch error, so the DuckDB twin matches to
    * the bit (`percentile_approx` could not be oracled this way). Ties
    * are harmless: any tie order yields the same VALUE at a given rank.
    *
    * Scale shape: the count-of-counts contraction (the q_weighted_median
    * / lowerMedian discipline): documents collapse to the
    * (lang, n_tokens)-grain count frame FIRST — one map-side-combinable
    * aggregate, the only doc-sized pass — and the cumulative window runs
    * over that value-distinct frame, where the rank-r element is the
    * smallest value whose cumulative count reaches r. The window input
    * is domain-bounded (distinct token lengths), never doc grain — the
    * pre-r13 form ranked raw documents per language, an n/|langs| funnel
    * flagged by the bounded-key sweep. */
  def qLenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir).select(col("lang"),
      size(TextNorm.toks(col("text"))).cast("long").as("n"))
    val counts = toks.groupBy(col("lang"), col("n")).agg(count(lit(1)).as("cnt"))
    // per-lang totals ride the SAME WindowExec as the running sum (same
    // partition key, whole-partition frame) — a groupBy+join twin would
    // run the tokenize scan a second time
    val byLang = Window.partitionBy("lang")
    counts
      .withColumn("cum", sum(col("cnt")).over(byLang.orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_docs", sum(col("cnt")).over(byLang))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        min(when(col("cum") >= expr("(n_docs + 1) div 2"), col("n"))).as("p50_tokens"),
        min(when(col("cum") >= expr("(9 * n_docs + 9) div 10"), col("n"))).as("p90_tokens"),
        min(when(col("cum") >= expr("(99 * n_docs + 99) div 100"), col("n"))).as("p99_tokens"))
  }

  /** Sketch twin of [[qLenQuantiles]] (VERDICT r13 #4, the
    * q_mad_outliers_approx discipline): all three quantiles as ONE
    * mergeable `approx_percentile` aggregate — no count frame, no
    * cumulative window — the swap for a value domain (here: distinct
    * token lengths) that outgrows the count-of-counts contraction. Rank
    * error ≤ n/accuracy; spec-only (sketch internals cannot hash-match
    * DuckDB), tolerance-bounded against the exact oracled twin in
    * CurateSpec. */
  def qLenQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("lang"),
      size(TextNorm.toks(col("text"))).cast("long").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"approx_percentile(n, 0.5, ${graft.batch.DqQueries.ApproxAcc})").as("p50_tokens"),
        expr(s"approx_percentile(n, 0.9, ${graft.batch.DqQueries.ApproxAcc})").as("p90_tokens"),
        expr(s"approx_percentile(n, 0.99, ${graft.batch.DqQueries.ApproxAcc})").as("p99_tokens"))

  /** SPAN-LEVEL decontamination — the scrubbing complement of
    * [[qContamination]]: that audit *flags* held-out leakage; this one
    * *removes* it. For every TRAIN-split document, every token range that
    * forms a qualifying verbatim span (the same window/run rule as
    * `dedup_spans`) with ANY TEST-split document is cut from the training
    * text; the test set is the protected side and never changes. Output:
    * the full train split, one row per doc — token count, removed count,
    * scrubbed text — the table that actually ships after the audit fires.
    *
    * Plan shape: the positioned-window build runs ONCE over the
    * val-filtered corpus ([[DedupQueries.windowRows]] — narrow); posting
    * lists are df-capped on that combined universe; ONLY train×test
    * matches explode (train is doc_a, the losing side), so candidate mass
    * is train-window × test-occupancy, bounded by the cap — never
    * train × train; islands and the scrub tail are the shared span-family
    * kernels. At 100 TB the test split is the small side by construction
    * (5% stride here, a fixed benchmark set in production), which keeps
    * posting lists dominated by train entries that pair only against
    * test rows. */
  def qDecontamScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = DedupQueries.spanTokens(spark, dir)
      .withColumn("bucket", splitBucket)
      .filter(col("bucket") < TrainPct || col("bucket") >= ValPct)
    val tagged = DedupQueries.windowRows(docs.select(col("doc_id"), col("t")))
      .withColumn("is_test", splitBucket >= lit(ValPct))
    val posts = tagged
      .groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("pos"), col("is_test"))).as("ds"))
      .filter(size(col("ds")).between(2, DedupQueries.MaxWindowDf))
    val matches = posts
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(!col("a.is_test") && col("b.is_test"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    val trainDocs = docs.filter(col("bucket") < TrainPct)
      .select(col("doc_id"), col("t"))
    DedupQueries.scrubTailOver(trainDocs,
      DedupQueries.diagonalIslands(matches), losingSide = "doc_a")
  }

  /** Per-language target sampling rates for [[qStratifiedSample]]: the
    * usual corpus-mixing move (keep most of the high-resource language,
    * thin the rest). Unlisted languages fall to the default. */
  val StratRates: Seq[(String, Double)] = Seq("en" -> 0.5, "de" -> 0.3)
  val StratDefault = 0.1

  /** Deterministic stratified sampling: each doc is kept iff its
    * content-independent hash bucket falls under its language's target
    * rate — RNG-free, reproducible, and exactly rescalable (a rate change
    * only adds/removes docs, never reshuffles survivors). Narrow filter +
    * one tiny aggregate; the 100 TB plan is the same plan. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(Exact.md5Long(concat(lit("strat|"), col("doc_id"))), lit(1000))
    val rate = StratRates.foldRight(lit(StratDefault)) { case ((l, r), acc) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), rate.as("target_rate"),
        (bucket < rate * lit(1000.0)).as("sampled"))
      .groupBy(col("lang"), col("target_rate"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("realized_rate",
        col("n_sampled").cast("double") / col("n_total"))
  }

  /** Data-mix rebalancing: thin each language's token mass toward a
    * UNIFORM per-language token budget (total/n_langs) — the corpus-mixing
    * step that turns a web-skewed crawl (en ≈ 41% of tokens here) into a
    * balanced training mix. Per language this reports the observed token
    * share, the down-sampling rate `min(1, budget/lang_tokens)`, and the
    * realized post-sample share.
    *
    * Sampling is doc-level and RNG-free (content-independent hash bucket
    * vs rate), so survivors are stable under repartitioning and rate
    * changes only add/remove docs — same contract as
    * [[qStratifiedSample]], but with rates COMPUTED from the data instead
    * of configured.
    *
    * Scale shape: tokenize runs ONCE into a materialized per-doc frame
    * (two consumers — the per-language totals and the sampling filter —
    * would otherwise each recompute it, the round-2 plan-arm lesson); the
    * rate table is one bounded-cardinality aggregate plus an unpartitioned
    * window over language-count rows (kilobytes), broadcast back into the
    * doc frame. Languages over budget are capped at rate 1.0 rather than
    * re-allocating their slack (single-pass; water-filling would iterate
    * this same dimension-sized frame on the driver if exact budget use
    * ever matters). */
  /** The materialized per-doc token frame both mixing operators sample
    * from: tokenize runs ONCE (two consumers — the per-language totals
    * and the sampling filter — would otherwise each recompute it); the
    * hash salt keeps the two operators' samples independent. */
  private def docTokens(spark: SparkSession, dir: String, salt: String): DataFrame =
    Tables.rebalanced(spark, Tables.documents(spark, dir)).select(
      col("doc_id"), col("lang"),
      size(TextNorm.toks(col("text"))).cast("long").as("n_tokens"),
      pmod(Exact.md5Long(concat(lit(salt), col("doc_id"))), lit(1000000)).as("b"))
      .localCheckpoint()

  def qMixRebalance(spark: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(spark, dir, "mix|")
    val wAll = Window.partitionBy()
    val rates = toks.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("total_tokens", sum(col("lang_tokens")).over(wAll))
      .withColumn("n_langs", count(lit(1)).over(wAll))
      .withColumn("token_share",
        col("lang_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("target_rate", least(lit(1.0),
        (col("total_tokens").cast("double") / col("n_langs").cast("double"))
          / col("lang_tokens").cast("double")))
      .drop("total_tokens", "n_langs")
    val sampled = toks
      .join(broadcast(rates.select(col("lang"), col("target_rate"))), Seq("lang"))
      .filter(col("b").cast("double") < col("target_rate") * lit(1000000.0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tokens")).as("sampled_tokens"))
    rates.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("token_share"),
        col("target_rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
      .withColumn("realized_share",
        col("sampled_tokens").cast("double")
          / sum(col("sampled_tokens")).over(wAll).cast("double"))
  }

  /** Token budget of the temperature-mixed corpus, as a fraction of the
    * raw corpus — the "train on half the tokens, flatter mix" knob. */
  val MixBudgetFrac = 0.5

  /** Temperature-flattened data mix (α = 0.5): language weights
    * ∝ lang_tokens^α, the standard multilingual move that UP-weights
    * low-resource languages without equalizing — ranking by size is
    * preserved (unlike [[qMixRebalance]]'s uniform budget), skew is
    * compressed quadratically. Each language's token budget is
    * `weight · total · MixBudgetFrac`, capped at what it has; the same
    * RNG-free hash sample applies it.
    *
    * Determinism discipline: α = 0.5 is computed with `sqrt` (an IEEE
    * basic op, bit-identical across engines — `pow` is NOT), and the
    * weight normalization sums INTEGER-quantized sqrt values
    * (floor(√tokens·10⁶+0.5) per language, summed exactly) — a raw
    * double sum over languages would be summation-order-dependent and
    * break the hash gate. Same plan shape as qMixRebalance: one
    * materialized tokenize, a language-count-sized rate table, narrow
    * sampling filter. */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(spark, dir, "mixt|")
    val wAll = Window.partitionBy()
    val rates = toks.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("total_tokens", sum(col("lang_tokens")).over(wAll))
      .withColumn("token_share",
        col("lang_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("wq", Exact.fixed(sqrt(col("lang_tokens").cast("double")), 1e6))
      .withColumn("weight", col("wq").cast("double") / sum(col("wq")).over(wAll).cast("double"))
      .withColumn("target_rate", least(lit(1.0),
        col("weight") * col("total_tokens").cast("double") * lit(MixBudgetFrac)
          / col("lang_tokens").cast("double")))
      .drop("total_tokens", "wq")
    val sampled = toks
      .join(broadcast(rates.select(col("lang"), col("target_rate"))), Seq("lang"))
      .filter(col("b").cast("double") < col("target_rate") * lit(1000000.0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tokens")).as("sampled_tokens"))
    rates.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("token_share"),
        col("weight"), col("target_rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
      .withColumn("realized_share",
        col("sampled_tokens").cast("double")
          / sum(col("sampled_tokens")).over(wAll).cast("double"))
  }

  /** Multi-epoch training budget, as a multiple of the raw corpus token
    * count — the planning constant of a repeat-factor schedule. */
  val EpochBudgetX = 2L

  /** Epoch-planning table — the UP-sampling complement of the two mixes
    * above (whose rates cap at 1.0, "take at most what a language has"):
    * given the temperature weights and a multi-epoch token budget
    * ([[EpochBudgetX]] × corpus), how many EPOCHS of each language the
    * schedule repeats — epochs_milli over 1000 means the language is seen
    * more than once, the standard low-resource repeat factor. One row per
    * language: planned tokens, milli-epochs, whole epochs + remainder.
    *
    * ALL-integer: weights enter as the same floor(√tokens·10⁶+0.5)
    * quantization as mix_temperature, and every division is a floor DIV
    * of BIGINTs — the whole table replays bit-exactly in the oracle with
    * no double anywhere. Headroom: wq·budget ≈ 10⁶·√T·X·T — overflows
    * int64 around T ≈ 10¹⁷ tokens; past that move the product to
    * DECIMAL(38,0), same plan (the bm25 note).
    *
    * Scale shape: one lang-keyed aggregate over the corpus (the only
    * full-data pass, map-side combinable), then windows over the
    * |langs|-row frame. */
  def qMixEpochs(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    docTokens(spark, dir, "mixe|")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("total_tokens", sum(col("lang_tokens")).over(wAll))
      .withColumn("wq", Exact.fixed(sqrt(col("lang_tokens").cast("double")), 1e6))
      .withColumn("sum_wq", sum(col("wq")).over(wAll))
      .withColumn("budget_tokens", col("total_tokens") * lit(EpochBudgetX))
      .withColumn("planned_tokens", expr("wq * budget_tokens DIV sum_wq"))
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("wq"),
        col("planned_tokens"),
        expr("1000 * planned_tokens DIV lang_tokens").as("epochs_milli"),
        expr("planned_tokens DIV lang_tokens").as("n_full_epochs"),
        expr("planned_tokens % lang_tokens").as("remainder_tokens"))
  }

  /** Duplication-aware sampling weights — SOFT dedup: instead of dropping
    * near-duplicates (dedup_survivors), down-weight every member of a
    * near-dup cluster by its cluster size, so k copies of a text
    * contribute the sampling mass of one. The standard alternative when
    * duplication frequency itself carries signal (popular text IS more
    * important, just not k× more): weight_milli = ⌊1000/k⌋ keeps the
    * score integer and the threshold engine-exact, same discipline as
    * novelty_milli. Docs outside any cluster keep weight 1000.
    *
    * Scale shape: clusters come from the shared jaccard pair snapshot →
    * component collapse (pair-graph-sized, ≪ corpus); cluster sizes are
    * one aggregate over that frame; the corpus-sized side is ONE
    * broadcast left join of the doc list against the (small) membership
    * frame plus a narrow projection. Nothing corpus-sized shuffles. */
  def qDupWeights(spark: SparkSession, dir: String): DataFrame = {
    val clusters = DedupQueries.qDedupClusters(spark, dir)
    val sizes = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_dups"))
    val membership = clusters.join(broadcast(sizes), "cluster_id")
    Tables.rebalanced(spark, Tables.documents(spark, dir))
      .select(col("doc_id"))
      .join(broadcast(membership), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_dups"), lit(1L)).as("n_dups"))
      .withColumn("weight_milli", expr("1000 DIV n_dups"))
  }

  /** The sampled corpus that APPLIES [[qDupWeights]]'s soft-dedup weights:
    * each doc is kept iff its RNG-free md5 bucket (0..999) falls under its
    * cluster's ⌊1000/k⌋ weight — deterministic Bernoulli(weight) sampling,
    * the same hash-sample rule as `mix_rebalance`/`q_strat_sample` driven
    * by a PER-DOC weight column instead of a per-language rate. Singletons
    * carry weight 1000 and are kept unconditionally, so unique content is
    * provably never lost — the property that separates down-weighting
    * from dropping; a k-clone cluster keeps ~one member in expectation.
    *
    * Scale shape: everything is [[qDupWeights]]'s one broadcast left join
    * plus a narrow hash filter — the decision needs no second shuffle, no
    * sort, no RNG state; resampling with a different salt is a constant
    * change. Output is the kept doc list with its provenance columns. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    qDupWeights(spark, dir)
      .withColumn("b",
        pmod(Exact.md5Long(concat(lit("wsamp|"), col("doc_id"))), lit(1000)))
      .filter(col("b") < col("weight_milli"))
      .select(col("doc_id"), col("cluster_id"), col("n_dups"), col("weight_milli"))

  /** Target hash-bucket OCCUPANCY for [[qTrainTriplets]]' negative
    * mining: the bucket count derives from the corpus size as
    * ⌊n/NegOccupancy⌋ (floored at 1), so candidate mass stays
    * |pairs|·occupancy at ANY corpus size. A FIXED bucket count is the
    * trap the 10x probe catches: occupancy — and with it the candidate
    * product — grows with the corpus, 63x observed at 10x docs+pairs
    * before this derivation replaced a constant 16 (SCALING.md). The
    * count is computed in-plan from a 1-row broadcast, and the oracle
    * derives it from the same count(*) — no driver pre-pass. */
  val NegOccupancy = 32L

  /** Contrastive training-pair mining: one (anchor, positive, negative)
    * triple per near-dup pair — anchors/positives straight from the
    * jaccard pair snapshot (documents that genuinely paraphrase each
    * other), negatives mined deterministically: each anchor probes ONE
    * md5 hash bucket of the corpus and takes the min-hash member that is
    * not itself, not the positive, and not a known near-dup of the
    * anchor. The RNG-free twin of uniform negative sampling — resampling
    * is a salt change, and the triple set replays bit-identically (the
    * property that makes a training run reproducible from the manifest).
    *
    * Scale shape: candidate generation is an EQUI join of the pair frame
    * against one corpus bucket per anchor — candidate mass =
    * |pairs| × occupancy, never pairs × corpus; the near-dup exclusion
    * is a hash anti-join on the normalized pair key (pair-frame-sized
    * build side); the argmin window partitions by (anchor, positive) —
    * triple-frame-sized groups of occupancy rows. Nothing corpus-sized
    * shuffles beyond the one bucket projection. In-batch negatives (the
    * other common scheme) need no mining at all — this operator exists
    * for the curriculum that wants CORPUS-wide negatives pinned ahead of
    * batching. */
  def qTrainTriplets(spark: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.jaccardPairSnapshot(spark, dir).select(col("doc_a"), col("doc_b"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val nb = docs.agg(
      greatest(lit(1L), expr(s"count(1) DIV $NegOccupancy")).as("nb_total"))
    val cands = docs.crossJoin(broadcast(nb)).select(
      col("doc_id").as("cand"),
      pmod(Exact.md5Long(concat(lit("negb|"), col("doc_id"))), col("nb_total")).as("nb"),
      Exact.md5Long(concat(lit("negh|"), col("doc_id"))).as("nh"))
    val probes = pairs.crossJoin(broadcast(nb)).withColumn("nb",
      pmod(Exact.md5Long(concat(lit("negp|"), col("doc_a"))), col("nb_total")))
      .drop("nb_total")
    val screened = probes.join(cands, Seq("nb"))
      .filter(col("cand") =!= col("doc_a") && col("cand") =!= col("doc_b"))
      .join(pairs.select(col("doc_a").as("xa"), col("doc_b").as("xb")),
        least(col("doc_a"), col("cand")) === col("xa") &&
          greatest(col("doc_a"), col("cand")) === col("xb"),
        "left_anti")
    val w = Window.partitionBy("doc_a", "doc_b").orderBy(col("nh"), col("cand"))
    screened.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_a").as("anchor_id"), col("doc_b").as("positive_id"),
        col("cand").as("negative_id"))
  }

  /** Corpus governance report: the per-(lang, source) dashboard a curation
    * run publishes — document and token counts, mean quality, and the
    * fraction falling under the [[QualityMin]] cut. Mean quality follows
    * the exact-sum discipline: each doc's (deterministic) quality double
    * is quantized to integer micro-units FIRST, the BIGINT sum is
    * order-independent, and one final division produces the mean — a raw
    * double sum would be partial-order-dependent and break the hash gate.
    * One scan (quality + tokenize fused in a single narrow projection),
    * one bounded-key aggregate. */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame = {
    // quality() projects its own columns — re-attach source on doc_id
    // (a narrow join of two projections of the SAME scan; Catalyst reuses
    // the scan, the join side carries 2 columns)
    val docs = Tables.rebalanced(spark, Tables.documents(spark, dir))
    TextQueries.quality(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("lang"), col("source"), col("n_tokens"),
        Exact.fixed(col("quality_score"), 1e6).as("q_micro"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("q_micro")).cast("double")
          / (count(lit(1)) * lit(1000000L)).cast("double")).as("mean_quality"),
        sum(when(col("q_micro") < lit((QualityMin * 1e6).toLong), 1L)
          .otherwise(0L)).as("n_below_min"))
  }

  /** Number of curriculum phases the global ordering is cut into. */
  val NPhases = 4

  /** Global curriculum ordering: every document's EXACT position in the
    * corpus-wide (quality_score desc, doc_id) total order, plus the
    * curriculum phase (⌊NPhases·(rank−1)/n⌋) a phased training schedule
    * would assign. The easy-to-hard ordering pass of curriculum training,
    * and the one operator here that needs a total order across partition
    * boundaries.
    *
    * Scale shape — the two-phase distributed ranking, NOT a global
    * window: `orderBy` range-partitions on sampled split points and sorts
    * within partitions (each partition holds a contiguous key range);
    * `zipWithIndex` then runs one lightweight count job over partition
    * SIZES and adds the per-partition prefix offsets — so the exact
    * global rank costs one range exchange plus a counts pass, and no row
    * ever moves to a single partition. The naive
    * `row_number().over(Window.orderBy(...))` plan would funnel the
    * corpus through ONE task — the exact anti-pattern this operator
    * exists to avoid (WindowExec logs that warning for a reason). The
    * RDD hop is the documented per-partition-imperative exception: the
    * offset add is not expressible relationally without the global
    * window. Phase assignment rides a 1-row broadcast of the doc count —
    * in-plan, not a driver pre-pass. */
  def qGlobalRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = TextQueries.qQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rdd.zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getDouble(1), i + 1L) }
      .toDF("doc_id", "quality_score", "global_rank")
    // doc count via an independent narrow aggregate (quality emits one
    // row per doc), so the ranked frame is consumed exactly once
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    ranked.crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality_score"), col("global_rank"),
        expr(s"($NPhases * (global_rank - 1)) DIV n_docs").as("phase"))
  }

  /** Maximum documents retained per source. */
  val CapPerSource = 15L

  /** Per-source document cap with quality prioritization — the C4 /
    * RefinedWeb "limit any single domain's share" rule: within each
    * source, rank documents by the trained quality-model score
    * ([[TextQueries.qQualityModel]]'s logit, doc_id tiebreak) and keep
    * only the top [[CapPerSource]]. A handful of mega-domains otherwise
    * dominate a web corpus; the cap bounds any source's contribution
    * while keeping its BEST documents, not a random subset. Full doc
    * grain with rank + verdict so downstream consumers can either filter
    * `kept` or re-cut at a different cap without re-ranking.
    *
    * Scale shape: at web scale the partition key is the domain —
    * millions of groups, so the window parallelizes across the cluster
    * and per-group state is one running counter; skew is bounded by the
    * single largest domain (the exact thing the cap exists to punish,
    * and an AQE-splittable sort spill, not a correctness risk). The
    * quality attach is a doc-keyed 1:1 join. No corpus-wide ordering
    * anywhere — contrast [[qGlobalRank]], which needs one and pays the
    * two-phase kernel for it. */
  def qSourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("logit_micro").desc, col("doc_id").asc)
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(TextQueries.qQualityModel(spark, dir)
        .select(col("doc_id"), col("logit_micro")), "doc_id")
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .withColumn("kept", col("src_rank") <= CapPerSource)
      .select(col("doc_id"), col("source"), col("logit_micro"),
        col("src_rank"), col("kept"))
  }

  /** The DAILY curation operation — [[qCurate]]'s stages applied to ONE
    * incoming batch (the [[DedupQueries.IncomingSource]] slice) against
    * the FROZEN corpus artifacts, never recomputing anything
    * corpus×corpus: quality is a narrow per-doc projection of the batch;
    * exact dedup probes the persisted content-hash set
    * ([[DedupQueries.corpusHashIndex]]) plus a batch-local min-keeper
    * group; near-dup runs [[DedupQueries.screenAgainstIndex]] against the
    * persisted inverted index AND [[DedupQueries.batchJaccardPairs]]
    * within the batch (a batch can duplicate itself as well as the
    * corpus). Output grain: EVERY incoming doc with its quality score,
    * first-failing-stage verdict (low_quality → exact_dup_corpus →
    * exact_dup_batch → near_dup_corpus → near_dup_batch → kept, the
    * cheapest-stage-first order the pipeline applies), and the keep bit —
    * the routing table a daily ingest writes before appending survivors
    * to the corpus and its indexes (the index append is the
    * dedup_incremental family's documented next step).
    *
    * Scale shape: every probe-side frame is batch-bounded (the verdict
    * flags broadcast against the batch quality frame); the corpus
    * contributes only its persisted indexes — posting lists, per-doc
    * sizes, hash set — exactly what a deployment snapshots between
    * batches. Since r16 the registered query SERVES the shared
    * curate_screen snapshot, so the batch-not-corpus scaling contract
    * (the scale10 probe in SCALING.md) pins the curate_screen BUILDER's
    * cost — the screen pipeline below — not this query's re-read (the
    * BroadcastDisciplineSpec comment makes the same attribution). */
  def qCurateIncremental(spark: SparkSession, dir: String): DataFrame =
    screenVerdicts(spark, dir)

  /** The incoming batch's screen verdict frame as a suite-scoped snapshot
    * (r16 optimization round, guide §1.2): curate_incremental and
    * curate_index_append both ran the full screen (quality + exact-hash
    * probe + index screen + within-batch jaccard); the verdicts given
    * frozen artifacts are deterministic, and the lifecycle doc already
    * describes screen → append as sequential steps over ONE screen
    * output — this is "the routing table a daily ingest writes before
    * appending survivors", persisted once per batch. Built by
    * `SnapshotBuild.all` as a continuation of the corpus-index chain. */
  private[graft] def screenVerdicts(spark: SparkSession, dir: String): DataFrame =
    graft.util.SnapshotCache.snapshot("curate_screen", spark, dir) {
      val inc = DedupQueries.IncomingSource
      val (posts, oldSizes) = DedupQueries.corpusIndex(spark, dir)
      val corpusHashes = DedupQueries.corpusHashIndex(spark, dir)
      val batch = Tables.rebalanced(spark,
        Tables.documents(spark, dir).filter(col("source") === inc))
      curateScreen(batch, posts, oldSizes, corpusHashes)
    }

  /** The screen kernel of [[qCurateIncremental]] over explicit artifact
    * frames — the foreachBatch-drivable form, and what the sequential
    * lifecycle (screen → [[DedupQueries.indexAppend]] → screen the next
    * batch) composes. `batch` needs (doc_id, lang, text). */
  private[graft] def curateScreen(batch: DataFrame, posts: DataFrame,
                                  oldSizes: DataFrame,
                                  corpusHashes: DataFrame): DataFrame = {
    val hashes = batch.select(col("doc_id"),
      md5(TextNorm.norm(col("text"))).as("content_hash"))
    val exactCorpus = hashes.join(corpusHashes, Seq("content_hash"), "left_semi")
    val batchKeeper = hashes.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper"))
    val exactBatch = hashes.join(batchKeeper, "content_hash")
      .filter(col("doc_id") =!= col("keeper"))
    val nearCorpus = DedupQueries.screenAgainstIndex(batch, posts, oldSizes)
      .select(col("new_doc_id").as("doc_id"))
    val nearBatch = DedupQueries.batchJaccardPairs(batch)
      .select(col("doc_b").as("doc_id"))
    def flag(df: DataFrame, name: String): DataFrame =
      broadcast(df.select(col("doc_id")).distinct().withColumn(name, lit(true)))
    TextQueries.quality(batch)
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .join(flag(exactCorpus, "f_ec"), Seq("doc_id"), "left")
      .join(flag(exactBatch, "f_eb"), Seq("doc_id"), "left")
      .join(flag(nearCorpus, "f_nc"), Seq("doc_id"), "left")
      .join(flag(nearBatch, "f_nb"), Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("quality_score") < QualityMin, "low_quality")
          .when(col("f_ec"), "exact_dup_corpus")
          .when(col("f_eb"), "exact_dup_batch")
          .when(col("f_nc"), "near_dup_corpus")
          .when(col("f_nb"), "near_dup_batch")
          .otherwise("kept"))
      .withColumn("keep", col("verdict") === lit("kept"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("verdict"), col("keep"))
  }

  /** The index-append GATE query: the posting-list table after folding
    * the screen's survivors into the corpus index
    * ([[DedupQueries.indexAppend]]), one row per shingle hash with its
    * updated document frequency and an order-canonical membership
    * signature (md5 of the sorted id list — one wrong member anywhere
    * fails the hash gate). The ORACLE rebuilds the index from scratch
    * over corpus ∪ survivors, so the gate row-for-row proves the
    * merge-on-read append ≡ a full rebuild — the invariant an LSM-style
    * index must honor across corpus versions. */
  def qIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val inc = DedupQueries.IncomingSource
    val (posts, oldSizes) = DedupQueries.corpusIndex(spark, dir)
    val corpusHashes = DedupQueries.corpusHashIndex(spark, dir)
    val batch = Tables.rebalanced(spark,
      Tables.documents(spark, dir).filter(col("source") === inc))
    // the screen verdicts come from the SHARED screen snapshot (r16) —
    // the append folds the survivors the persisted routing table kept,
    // instead of re-running the whole screen inside this query
    val kept = screenVerdicts(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    val survivors = batch.join(kept, Seq("doc_id"), "left_semi")
    val (newPosts, _, _) =
      DedupQueries.indexAppend(survivors, posts, oldSizes, corpusHashes)
    newPosts.select(col("h"),
      size(col("docs")).cast("long").as("df"),
      md5(array_join(transform(sort_array(col("docs")),
        x => x.cast("string")), ",")).as("docs_sig"))
  }

  /** Percent of corpus documents on the synthetic deletion list — at
    * deployment, the actual RTBF request list (q_forget's convention). */
  val ForgetPct = 5L
  /** Ceiling on one forget batch's request list: deletion requests are
    * human-initiated and arrive through a rate-limited API, so a batch is
    * operationally bounded — the boundedCollect gate pins that assumption
    * (a corpus-scale "deletion" should be a rebuild, not a literal). */
  val MaxForgetBatch = 100000

  /** The deterministic deletion list: corpus docs (never the incoming
    * batch — you can't forget what isn't indexed yet) whose salted hash
    * lands under [[ForgetPct]]%. Collected to the driver BY DESIGN: a
    * deletion list is human-initiated and bounded, and the posting-list
    * rewrite needs it as a literal ([[DedupQueries.indexForget]]). */
  private def forgetList(spark: SparkSession, dir: String): Seq[Long] =
    graft.util.Bounded.boundedCollect(
      Tables.documents(spark, dir)
        .filter(col("source") =!= DedupQueries.IncomingSource)
        .filter(pmod(Exact.md5Long(concat(lit("forget|"), col("doc_id"))),
          lit(100L)) < ForgetPct)
        .select(col("doc_id")),
      MaxForgetBatch, "right-to-be-forgotten request list")
      .map(_.getLong(0)).toSeq

  /** The index-forget GATE query — [[qIndexAppend]]'s inverse lifecycle
    * step: the posting table AFTER deleting the request list from the
    * persisted artifacts in place, same (h, df, docs_sig) projection.
    * The ORACLE rebuilds the index from scratch over corpus MINUS the
    * request list, so the hash gate row-for-row proves in-place forget
    * ≡ full rebuild — the deletion-completeness invariant a GDPR audit
    * actually checks (a doc id lingering in ANY posting list flips that
    * row's membership signature). */
  def qIndexForget(spark: SparkSession, dir: String): DataFrame = {
    val (posts, sizes) = DedupQueries.corpusIndex(spark, dir)
    val docHashes = DedupQueries.corpusDocHashes(spark, dir)
    val (newPosts, _, _) =
      DedupQueries.indexForget(forgetList(spark, dir), posts, sizes, docHashes)
    newPosts.select(col("h"),
      size(col("docs")).cast("long").as("df"),
      md5(array_join(transform(sort_array(col("docs")),
        x => x.cast("string")), ",")).as("docs_sig"))
  }

  /** Deterministic version-2 mutation rates for [[qCorpusDiff]]'s
    * stand-in corpus versions (the IncomingSource discipline: real
    * operators need a fixture axis the tables don't ship). */
  val DiffDeletePeriod = 37L
  val DiffEditPeriod = 23L

  /** Dataset-version diff — the reproducibility audit every corpus
    * release ships: given yesterday's corpus v1 and today's v2, classify
    * every doc id as added / removed / changed / unchanged by CONTENT
    * HASH (not by metadata — a silent re-crawl edit flips the hash), and
    * gate the full membership of each class through an id-list
    * signature, so a single misclassified doc anywhere fails the oracle.
    * Versions stand in deterministically: v1 = the corpus without the
    * incoming slice; v2 = v1 minus every [[DiffDeletePeriod]]-th doc
    * (deletions), with every [[DiffEditPeriod]]-th doc's content salted
    * (re-crawl edits), plus the incoming slice (additions).
    *
    * Shape: two narrow hash projections meet in ONE full-outer join on
    * doc_id (at deployment: on the content-addressed key of the
    * manifest); the class census is a 4-row aggregate whose collect_list
    * runs over class-sized id lists at THIS grain — at 100 TB the
    * signature column swaps to the xor/md5-merge trick and the card
    * stays 4 rows. */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.rebalanced(spark, Tables.documents(spark, dir))
    val inc = col("source") === DedupQueries.IncomingSource
    val v1 = docs.filter(!inc)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h1"))
    val v2base = docs.filter(!inc)
      .filter(pmod(col("doc_id"), lit(DiffDeletePeriod)) =!= 0L)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(DiffEditPeriod)) === 0L,
          concat(coalesce(col("text"), lit("")), lit("|v2")))
          .otherwise(coalesce(col("text"), lit("")))).as("h2"))
    val v2 = v2base.unionByName(docs.filter(inc)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h2")))
    v1.join(v2, Seq("doc_id"), "full")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("ids_sig"))
  }

  /** Docs per training batch for the length-grouped loader. */
  val BatchDocs = 8L

  /** Token lengths at the whitespace-token grain (one token definition
    * suite-wide), the input to both batching strategies. */
  private def docLens(spark: SparkSession, dir: String): DataFrame =
    Tables.rebalanced(spark, Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(TextNorm.toks(col("text"))).cast("long").as("n_tokens"))

  /** Length-grouped batching — the sorted-batching trick every trainer
    * with padded batches uses: order docs by token length (desc, doc_id
    * tiebreak — a total order), cut into [[BatchDocs]]-doc batches, and
    * report each batch's padding cost (docs padded to the batch max).
    * Similar-length neighbors ⇒ tiny max−len gaps ⇒ compute spent on
    * tokens, not padding. Full batch grain so a loader manifest can
    * consume it directly.
    *
    * Scale shape: the total order pays the q_global_rank two-phase
    * kernel (range exchange + partition-size counts pass — never a
    * single-partition window); the batch census is one bounded-key
    * aggregate on ⌈n/B⌉ keys. */
  def qPackLengthBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = docLens(spark, dir)
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rdd.zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getLong(1), i + 1L) }
      .toDF("doc_id", "n_tokens", "rank")
    ranked
      .withColumn("batch_id", expr(s"(rank - 1) DIV $BatchDocs"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("pad_tokens",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
  }

  /** The strategy card that justifies the sort: total padding of
    * length-grouped batches vs HASH-assigned batches (the random-order
    * baseline a naive loader gets) over the identical corpus — per-mille
    * of the padded compute, so the win is a measured number (the
    * ann_eval discipline). Hash batching assigns each doc to one of the
    * same ⌈n/B⌉ batch ids by md5 — batch sizes uneven, exactly like a
    * shuffled loader's tail. */
  def qPackBatchEval(spark: SparkSession, dir: String): DataFrame = {
    val sorted = qPackLengthBatches(spark, dir)
      .groupBy().agg(count(lit(1)).as("n_batches"),
        sum(col("pad_tokens")).as("pad_tokens"),
        sum(col("sum_tokens")).as("sum_tokens"))
      .withColumn("strategy", lit("length_sorted"))
    val nBatches = docLens(spark, dir)
      .agg(expr(s"CAST(ceil(count(1) / CAST($BatchDocs AS DOUBLE)) AS BIGINT)")
        .as("nb"))
    val hashed = docLens(spark, dir)
      .crossJoin(broadcast(nBatches))
      .withColumn("batch_id",
        pmod(Exact.md5Long(concat(lit("lb|"), col("doc_id"))), col("nb")))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("pad_tokens",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
      .groupBy().agg(count(lit(1)).as("n_batches"),
        sum(col("pad_tokens")).as("pad_tokens"),
        sum(col("sum_tokens")).as("sum_tokens"))
      .withColumn("strategy", lit("hashed"))
    sorted.unionByName(hashed)
      .withColumn("pad_milli",
        expr("(1000 * pad_tokens) DIV (pad_tokens + sum_tokens)"))
      .select(col("strategy"), col("n_batches"), col("sum_tokens"),
        col("pad_tokens"), col("pad_milli"))
  }

  /** Sketch queries (SURVEY §5.2): no DuckDB oracle — CurateSpec
    * tolerance-bounds each against its exact oracled twin. */
  val specOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_len_quantiles_approx" -> (qLenQuantilesApprox _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_diff"      -> (qCorpusDiff _),
    "pack_length_batches" -> (qPackLengthBatches _),
    "pack_batch_eval"  -> (qPackBatchEval _),
    "q_source_cap"     -> (qSourceCap _),
    "corpus_report"    -> (qCorpusReport _),
    "curate_pipeline"  -> (qCurate _),
    "curate_incremental" -> (qCurateIncremental _),
    "curate_index_append" -> (qIndexAppend _),
    "curate_index_forget" -> (qIndexForget _),
    "curate_clustered" -> (qCurateClustered _),
    "sample_split"    -> (qSampleSplit _),
    "pack_shards"     -> (qPackShards _),
    "pack_manifest"   -> (qPackManifest _),
    "pack_sequences"  -> (qPackSequences _),
    "q_contamination" -> (qContamination _),
    "q_decontam_scrub" -> (qDecontamScrub _),
    "q_global_rank"   -> (qGlobalRank _),
    "q_len_quantiles" -> (qLenQuantiles _),
    "q_strat_sample"  -> (qStratifiedSample _),
    "mix_rebalance"   -> (qMixRebalance _),
    "mix_temperature" -> (qMixTemperature _),
    "mix_epochs"      -> (qMixEpochs _),
    "mix_dupweight"   -> (qDupWeights _),
    "q_weighted_sample" -> (qWeightedSample _),
    "train_triplets"  -> (qTrainTriplets _))

  // ------------------------------------------------------------- oracles

  /** Shared oracle fragments — single sources of truth next to their Spark
    * twins, so a formula change cannot desynchronize this composed oracle
    * from the per-operator ones it builds on. */
  private val qualityExpr = TextQueries.qualityScoreSql

  /** The curate_incremental screen as one nestable statement — shared by
    * its own gate entry and the index-append oracle (which rebuilds the
    * index over corpus ∪ this statement's kept docs). */
  private lazy val curateIncrementalSql: String = {
    val inc = DedupQueries.IncomingSource
    val thr = DedupQueries.JaccardThreshold
    s"""WITH ${DedupQueries.shingleCtes},
       |exs AS (SELECT doc_id, ${Exact.md5LongSql("s")} AS h
       |        FROM (SELECT DISTINCT doc_id, s FROM ex)),
       |tagged AS (SELECT e.doc_id, e.h, (d.source = '$inc') AS is_new
       |           FROM exs e JOIN documents d USING (doc_id)),
       |csizes AS (SELECT doc_id, count(*) AS n FROM tagged GROUP BY 1),
       |interc AS (
       |  SELECT a.doc_id AS new_doc_id, b.doc_id AS old_doc_id, count(*) AS i
       |  FROM tagged a JOIN tagged b ON a.h = b.h AND a.is_new AND NOT b.is_new
       |  GROUP BY 1, 2),
       |nearc AS (
       |  SELECT DISTINCT new_doc_id AS doc_id
       |  FROM interc JOIN csizes na ON new_doc_id = na.doc_id
       |              JOIN csizes nb ON old_doc_id = nb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $thr),
       |exb AS (SELECT DISTINCT e.doc_id, ${Exact.md5LongSql("e.s")} AS sh
       |        FROM ex e JOIN documents d USING (doc_id)
       |        WHERE d.source = '$inc'),
       |bsizes AS (SELECT doc_id, count(*) AS n FROM exb GROUP BY 1),
       |interb AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM exb a JOIN exb b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |nearb AS (
       |  SELECT DISTINCT doc_b AS doc_id
       |  FROM interb JOIN bsizes na ON doc_a = na.doc_id
       |              JOIN bsizes nb ON doc_b = nb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $thr),
       |ch AS (SELECT doc_id, source, md5(${TextNorm.normSql}) AS content_hash
       |       FROM documents),
       |corpus_h AS (SELECT DISTINCT content_hash FROM ch WHERE source <> '$inc'),
       |bmin AS (SELECT content_hash, min(doc_id) AS keeper FROM ch
       |         WHERE source = '$inc' GROUP BY 1),
       |verdicts AS (
       |  SELECT d.doc_id, d.lang, $qualityExpr AS quality_score,
       |    CASE
       |      WHEN $qualityExpr < $QualityMin THEN 'low_quality'
       |      WHEN c.content_hash IN (SELECT content_hash FROM corpus_h)
       |        THEN 'exact_dup_corpus'
       |      WHEN d.doc_id <> m.keeper THEN 'exact_dup_batch'
       |      WHEN d.doc_id IN (SELECT doc_id FROM nearc) THEN 'near_dup_corpus'
       |      WHEN d.doc_id IN (SELECT doc_id FROM nearb) THEN 'near_dup_batch'
       |      ELSE 'kept' END AS verdict
       |  FROM documents d
       |  JOIN ch c ON d.doc_id = c.doc_id
       |  JOIN bmin m ON c.content_hash = m.content_hash
       |  WHERE d.source = '$inc')
       |SELECT doc_id, lang, quality_score, verdict,
       |  (verdict = 'kept') AS keep
       |FROM verdicts""".stripMargin
  }

  private val jaccardPairsSql =
    s"""SELECT doc_a, doc_b FROM (
       |${DedupQueries.oracles("dedup_ngram_jaccard")}
       |) jaccard_pairs""".stripMargin

  /** The components oracle, reused verbatim so the clustered-curation
    * oracle can never drift from dedup_clusters' own. */
  private val clusterSql = DedupQueries.oracles("dedup_clusters")

  val oracles: Map[String, String] = Map(
    // same content-hash rule, same deterministic delete/edit periods,
    // same sorted-id-list signature per class
    "corpus_diff" -> {
      val inc = DedupQueries.IncomingSource
      s"""WITH v1 AS (
         |  SELECT doc_id, md5(coalesce(text, '')) AS h1
         |  FROM documents WHERE source <> '$inc'),
         |v2 AS (
         |  SELECT doc_id,
         |    md5(CASE WHEN doc_id % $DiffEditPeriod = 0
         |      THEN coalesce(text, '') || '|v2'
         |      ELSE coalesce(text, '') END) AS h2
         |  FROM documents
         |  WHERE source <> '$inc' AND doc_id % $DiffDeletePeriod <> 0
         |  UNION ALL
         |  SELECT doc_id, md5(coalesce(text, '')) AS h2
         |  FROM documents WHERE source = '$inc'),
         |j AS (
         |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         |    CASE WHEN v1.h1 IS NULL THEN 'added'
         |         WHEN v2.h2 IS NULL THEN 'removed'
         |         WHEN v1.h1 <> v2.h2 THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT status, count(*) AS n_docs,
         |  md5(array_to_string(list_sort(list(doc_id)), ',')) AS ids_sig
         |FROM j GROUP BY 1""".stripMargin
    },
    // same (n_tokens desc, doc_id) total order replayed as one window —
    // the oracle may use the naive plan; the Spark side may not
    "pack_length_batches" ->
      s"""WITH lens AS (
         |  SELECT doc_id, CAST(len(${TextNorm.toksSql}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
         |  FROM lens)
         |SELECT (rank - 1) // $BatchDocs AS batch_id,
         |  count(*) AS n_docs,
         |  max(n_tokens) AS max_tokens,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  count(*) * max(n_tokens) - CAST(sum(n_tokens) AS BIGINT)
         |    AS pad_tokens
         |FROM r GROUP BY 1""".stripMargin,
    "pack_batch_eval" ->
      s"""WITH lens AS (
         |  SELECT doc_id, CAST(len(${TextNorm.toksSql}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
         |  FROM lens),
         |sb AS (
         |  SELECT (rank - 1) // $BatchDocs AS batch_id, count(*) AS n_docs,
         |    max(n_tokens) AS mx, CAST(sum(n_tokens) AS BIGINT) AS sm
         |  FROM r GROUP BY 1),
         |nb AS (SELECT CAST(ceil(count(*) / CAST($BatchDocs AS DOUBLE))
         |         AS BIGINT) AS nb FROM lens),
         |hb AS (
         |  SELECT ${Exact.md5LongSql("'lb|' || CAST(doc_id AS VARCHAR)")}
         |      % nb.nb AS batch_id,
         |    count(*) AS n_docs, max(n_tokens) AS mx,
         |    CAST(sum(n_tokens) AS BIGINT) AS sm
         |  FROM lens, nb GROUP BY 1),
         |card AS (
         |  SELECT 'length_sorted' AS strategy, count(*) AS n_batches,
         |    CAST(sum(sm) AS BIGINT) AS sum_tokens,
         |    CAST(sum(n_docs * mx - sm) AS BIGINT) AS pad_tokens
         |  FROM sb
         |  UNION ALL
         |  SELECT 'hashed', count(*),
         |    CAST(sum(sm) AS BIGINT),
         |    CAST(sum(n_docs * mx - sm) AS BIGINT)
         |  FROM hb)
         |SELECT strategy, n_batches, sum_tokens, pad_tokens,
         |  (1000 * pad_tokens) // (pad_tokens + sum_tokens) AS pad_milli
         |FROM card""".stripMargin,
    // same nested quality-model statement (the one-truth discipline),
    // same (logit desc, doc_id) deterministic rank, same cap constant
    "q_source_cap" ->
      s"""WITH qm AS (
         |${TextQueries.qualityModelSql}
         |),
         |s AS (
         |  SELECT d.doc_id, d.source, qm.logit_micro
         |  FROM documents d JOIN qm ON d.doc_id = qm.doc_id)
         |SELECT doc_id, source, logit_micro,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY logit_micro DESC, doc_id) AS BIGINT) AS src_rank,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY logit_micro DESC, doc_id) AS BIGINT) <= $CapPerSource AS kept
         |FROM s""".stripMargin,
    "corpus_report" ->
      s"""WITH scored AS (
         |  SELECT lang, source,
         |    CAST(len(${graft.ext.text.TextNorm.toksSql}) AS BIGINT) AS n_tokens,
         |    CAST(floor(($qualityExpr) * 1000000.0 + 0.5) AS BIGINT) AS q_micro
         |  FROM documents)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(CAST(sum(q_micro) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) * 1000000 AS DOUBLE) AS mean_quality,
         |  CAST(sum(CASE WHEN q_micro < ${(QualityMin * 1e6).toLong}
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_below_min
         |FROM scored GROUP BY 1, 2""".stripMargin,
    "curate_clustered" ->
      s"""WITH losers AS (
         |  SELECT doc_id FROM (
         |$clusterSql
         |  ) comp WHERE doc_id <> cluster_id),
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(${TextNorm.normSql}))
         |SELECT d.doc_id, d.lang, $qualityExpr AS quality_score
         |FROM documents d
         |JOIN keepers k ON d.doc_id = k.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND $qualityExpr >= $QualityMin""".stripMargin,
    "curate_pipeline" ->
      s"""WITH pairs AS ($jaccardPairsSql),
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(${TextNorm.normSql})),
         |losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
         |SELECT d.doc_id, d.lang, $qualityExpr AS quality_score
         |FROM documents d
         |JOIN keepers k ON d.doc_id = k.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND $qualityExpr >= $QualityMin""".stripMargin,
    // the corpus-vs-batch screen mirrors dedup_incremental's oracle
    // (string-distinct shingles) and the within-batch screen mirrors
    // dedup_ngram_jaccard's (hash-distinct) — each stage nests its
    // family's convention so one truth per kernel survives composition
    "curate_incremental" -> curateIncrementalSql,
    // the append oracle is the REBUILD over corpus ∪ kept survivors —
    // the hash gate itself proves append ≡ rebuild (the claim a
    // merge-on-read index must honor); kept nests the screen verbatim
    "curate_index_append" -> {
      val inc = DedupQueries.IncomingSource
      s"""WITH kept AS (SELECT doc_id FROM (
         |$curateIncrementalSql
         |) v WHERE verdict = 'kept'),
         |alld AS (SELECT doc_id FROM documents WHERE source <> '$inc'
         |         UNION ALL SELECT doc_id FROM kept),
         |${DedupQueries.shingleCtes},
         |exs AS (SELECT DISTINCT doc_id, ${Exact.md5LongSql("s")} AS h
         |        FROM (SELECT DISTINCT doc_id, s FROM ex)
         |        WHERE doc_id IN (SELECT doc_id FROM alld))
         |SELECT h, count(*) AS df,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS docs_sig
         |FROM exs GROUP BY h""".stripMargin
    },
    // the forget oracle is the REBUILD over corpus MINUS the request
    // list (same salted-hash selection) — the gate proves the in-place
    // artifact edit leaves no forgotten id in any posting list
    "curate_index_forget" -> {
      val inc = DedupQueries.IncomingSource
      val fkey = Exact.md5LongSql("'forget|' || CAST(doc_id AS VARCHAR)")
      s"""WITH alld AS (SELECT doc_id FROM documents
         |  WHERE source <> '$inc' AND $fkey % 100 >= $ForgetPct),
         |${DedupQueries.shingleCtes},
         |exs AS (SELECT DISTINCT doc_id, ${Exact.md5LongSql("s")} AS h
         |        FROM (SELECT DISTINCT doc_id, s FROM ex)
         |        WHERE doc_id IN (SELECT doc_id FROM alld))
         |SELECT h, count(*) AS df,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS docs_sig
         |FROM exs GROUP BY h""".stripMargin
    },
    "sample_split" ->
      s"""SELECT lang,
         |  CASE WHEN ${Exact.md5LongSql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < $TrainPct THEN 'train'
         |       WHEN ${Exact.md5LongSql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < $ValPct THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_contamination" -> {
      // distinct on shingle STRINGS before hashing (mirrors shingleRows'
      // dedup=true exactly, even under a 60-bit hash collision)
      val splitSql = Exact.md5LongSql("'split|' || CAST(doc_id AS VARCHAR)")
      s"""WITH ${DedupQueries.shingleCtes},
         |exd AS (SELECT doc_id, ${Exact.md5LongSql("s")} AS h
         |        FROM (SELECT DISTINCT doc_id, s FROM ex)),
         |bucketed AS (SELECT doc_id, h, $splitSql % 100 AS bucket FROM exd),
         |train_h AS (SELECT DISTINCT h FROM bucketed WHERE bucket < $TrainPct),
         |test AS (SELECT doc_id, h FROM bucketed WHERE bucket >= $ValPct),
         |totals AS (SELECT doc_id, count(*) AS n_shingles FROM test GROUP BY 1),
         |hits AS (SELECT doc_id, count(*) AS n_hit FROM test
         |         WHERE h IN (SELECT h FROM train_h) GROUP BY 1)
         |SELECT t.doc_id, t.n_shingles,
         |  coalesce(hits.n_hit, 0) AS n_hit,
         |  CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / t.n_shingles AS contamination,
         |  (CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / t.n_shingles)
         |    >= CAST($ContaminationMax AS DOUBLE) AS flagged
         |FROM totals t LEFT JOIN hits ON t.doc_id = hits.doc_id""".stripMargin
    },
    // span-family window CTEs shared with the dedup_spans oracles; the
    // split rule is the same md5 bucket as sample_split; islands → train
    // coverage → anti-join → reassembly mirror dedup_spans_scrub with the
    // TRAIN doc as the losing side
    "q_decontam_scrub" -> {
      val splitSql = Exact.md5LongSql("'split|' || CAST(doc_id AS VARCHAR)")
      val W = DedupQueries.SpanWindow
      s"""WITH ${DedupQueries.spanWindowCtes},
         |tagged AS (
         |  SELECT doc_id, pos, h, ($splitSql % 100 >= $ValPct) AS is_test
         |  FROM wh
         |  WHERE $splitSql % 100 < $TrainPct OR $splitSql % 100 >= $ValPct),
         |ok AS (SELECT h FROM tagged GROUP BY h
         |       HAVING count(*) BETWEEN 2 AND ${DedupQueries.MaxWindowDf}),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
         |    a.pos - b.pos AS diag
         |  FROM tagged a JOIN tagged b USING (h) JOIN ok USING (h)
         |  WHERE NOT a.is_test AND b.is_test),
         |runs AS (
         |  SELECT doc_a, doc_b, diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
         |  FROM m),
         |spans AS (
         |  SELECT doc_a AS doc_id, min(pa) AS sa, count(*) AS run_w
         |  FROM runs GROUP BY doc_a, doc_b, diag, isl
         |  HAVING count(*) >= ${DedupQueries.MinSpanWindows}),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(generate_series(sa, sa + run_w + ${W - 2})) AS pos
         |  FROM spans)),
         |train_docs AS (SELECT doc_id, t FROM toks
         |               WHERE $splitSql % 100 < $TrainPct),
         |tp AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
         |       FROM train_docs),
         |kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.t[tp.pos] AS tok
         |  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
         |  WHERE cov.pos IS NULL),
         |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
         |        FROM kept GROUP BY 1)
         |SELECT d.doc_id, len(d.t) AS n_tokens,
         |  coalesce(rem.n_removed, 0) AS n_removed,
         |  coalesce(agg.text_clean, '') AS text_clean
         |FROM train_docs d LEFT JOIN rem USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin
    },
    // the quality statement nests verbatim (one truth with text_quality);
    // row_number over the same (score desc, doc_id) total order replays
    // the two-phase distributed rank exactly
    "q_global_rank" ->
      s"""WITH r AS (
         |  SELECT doc_id, quality_score,
         |    row_number() OVER (ORDER BY quality_score DESC, doc_id) AS global_rank
         |  FROM (
         |${TextQueries.qualitySql}
         |  ) q)
         |SELECT doc_id, quality_score, global_rank,
         |  ($NPhases * (global_rank - 1)) // (SELECT count(*) FROM r) AS phase
         |FROM r""".stripMargin,
    // rank arithmetic replayed verbatim: DuckDB's // is the same floor
    // division as Spark's div on the same non-negative integers
    "q_len_quantiles" ->
      s"""WITH t AS (SELECT lang, len(${TextNorm.toksSql}) AS n FROM documents),
         |r AS (SELECT lang, n,
         |    row_number() OVER (PARTITION BY lang ORDER BY n) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS cnt
         |  FROM t)
         |SELECT lang, max(cnt) AS n_docs,
         |  max(CASE WHEN rn = (cnt + 1) // 2 THEN n END) AS p50_tokens,
         |  max(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n END) AS p90_tokens,
         |  max(CASE WHEN rn = (99 * cnt + 99) // 100 THEN n END) AS p99_tokens
         |FROM r GROUP BY lang""".stripMargin,
    "q_strat_sample" -> {
      val rateCase = StratRates.map { case (l, r) =>
        s"WHEN lang = '$l' THEN CAST($r AS DOUBLE)"
      }.mkString("CASE ", " ", s" ELSE CAST($StratDefault AS DOUBLE) END")
      s"""WITH rated AS (
         |  SELECT lang, $rateCase AS target_rate,
         |    ${Exact.md5LongSql("'strat|' || CAST(doc_id AS VARCHAR)")} % 1000 AS b
         |  FROM documents)
         |SELECT lang, target_rate, count(*) AS n_total,
         |  CAST(sum(CASE WHEN CAST(b AS DOUBLE) < target_rate * 1000.0
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(CAST(sum(CASE WHEN CAST(b AS DOUBLE) < target_rate * 1000.0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / count(*) AS realized_rate
         |FROM rated GROUP BY 1, 2""".stripMargin
    },
    "mix_rebalance" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, CAST(len(${TextNorm.toksSql}) AS BIGINT) AS n_tokens,
         |    ${Exact.md5LongSql("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
         |  FROM documents),
         |lang_tot AS (
         |  SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
         |  FROM toks GROUP BY 1),
         |rates AS (
         |  SELECT lang, n_docs, lang_tokens,
         |    CAST(lang_tokens AS DOUBLE) / CAST(sum(lang_tokens) OVER () AS DOUBLE) AS token_share,
         |    least(CAST(1.0 AS DOUBLE),
         |      (CAST(sum(lang_tokens) OVER () AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE))
         |        / CAST(lang_tokens AS DOUBLE)) AS target_rate
         |  FROM lang_tot),
         |sampled AS (
         |  SELECT t.lang, count(*) AS n_sampled, CAST(sum(t.n_tokens) AS BIGINT) AS sampled_tokens
         |  FROM toks t JOIN rates r ON t.lang = r.lang
         |  WHERE CAST(t.b AS DOUBLE) < r.target_rate * 1000000.0
         |  GROUP BY 1)
         |SELECT r.lang, r.n_docs, r.lang_tokens, r.token_share, r.target_rate,
         |  coalesce(s.n_sampled, 0) AS n_sampled,
         |  coalesce(s.sampled_tokens, 0) AS sampled_tokens,
         |  CAST(coalesce(s.sampled_tokens, 0) AS DOUBLE)
         |    / CAST(sum(coalesce(s.sampled_tokens, 0)) OVER () AS DOUBLE) AS realized_share
         |FROM rates r LEFT JOIN sampled s ON r.lang = s.lang""".stripMargin,
    "mix_temperature" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, CAST(len(${TextNorm.toksSql}) AS BIGINT) AS n_tokens,
         |    ${Exact.md5LongSql("'mixt|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
         |  FROM documents),
         |lang_tot AS (
         |  SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
         |  FROM toks GROUP BY 1),
         |weighted AS (
         |  SELECT lang, n_docs, lang_tokens,
         |    CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS wq
         |  FROM lang_tot),
         |rates AS (
         |  SELECT lang, n_docs, lang_tokens,
         |    CAST(lang_tokens AS DOUBLE) / CAST(sum(lang_tokens) OVER () AS DOUBLE) AS token_share,
         |    CAST(wq AS DOUBLE) / CAST(sum(wq) OVER () AS DOUBLE) AS weight,
         |    least(CAST(1.0 AS DOUBLE),
         |      CAST(wq AS DOUBLE) / CAST(sum(wq) OVER () AS DOUBLE)
         |        * CAST(sum(lang_tokens) OVER () AS DOUBLE) * CAST($MixBudgetFrac AS DOUBLE)
         |        / CAST(lang_tokens AS DOUBLE)) AS target_rate
         |  FROM weighted),
         |sampled AS (
         |  SELECT t.lang, count(*) AS n_sampled, CAST(sum(t.n_tokens) AS BIGINT) AS sampled_tokens
         |  FROM toks t JOIN rates r ON t.lang = r.lang
         |  WHERE CAST(t.b AS DOUBLE) < r.target_rate * 1000000.0
         |  GROUP BY 1)
         |SELECT r.lang, r.n_docs, r.lang_tokens, r.token_share, r.weight, r.target_rate,
         |  coalesce(s.n_sampled, 0) AS n_sampled,
         |  coalesce(s.sampled_tokens, 0) AS sampled_tokens,
         |  CAST(coalesce(s.sampled_tokens, 0) AS DOUBLE)
         |    / CAST(sum(coalesce(s.sampled_tokens, 0)) OVER () AS DOUBLE) AS realized_share
         |FROM rates r LEFT JOIN sampled s ON r.lang = s.lang""".stripMargin,
    "pack_shards" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, CAST(len(${TextNorm.toksSql}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |packed AS (
         |  SELECT lang, n_tokens,
         |    CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS DOUBLE)
         |      / ${ShardTokens.toDouble}) AS BIGINT) AS shard
         |  FROM toks)
         |SELECT lang, shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         |FROM packed GROUP BY 1, 2""".stripMargin,
    // the identical packing CTE (same double-floor shard rule), plus the
    // slot row_number at the (lang, shard) grain
    "pack_manifest" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, CAST(len(${TextNorm.toksSql}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |packed AS (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
         |      AS BIGINT) AS lang_offset,
         |    CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS DOUBLE)
         |      / ${ShardTokens.toDouble}) AS BIGINT) AS shard
         |  FROM toks)
         |SELECT lang, shard,
         |  CAST(row_number() OVER (PARTITION BY lang, shard ORDER BY doc_id)
         |    AS BIGINT) AS position,
         |  doc_id, n_tokens, lang_offset
         |FROM packed""".stripMargin,
    // the encode chain nested verbatim (one truth with bpe_encode), the
    // exclusive prefix sum replayed as ONE global window over the same
    // (hash, doc_id) total order — the single-window statement the
    // two-phase Spark kernel must equal row-for-row
    "pack_sequences" -> {
      val packKey = Exact.md5LongSql("'pack|' || CAST(doc_id AS VARCHAR)")
      s"""WITH ${TextQueries.bpeSegCtes},
         |perdoc AS MATERIALIZED (
         |  SELECT d.doc_id, CAST(sum(s.nseg) AS BIGINT) AS n
         |  FROM dw d JOIN wseg s USING (w)
         |  GROUP BY 1),
         |o AS (
         |  SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY $packKey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_offset
         |  FROM perdoc)
         |SELECT doc_id, n AS n_bpe_tokens, tok_offset,
         |  tok_offset // $PackSeqLen AS seq_first,
         |  (tok_offset + n - 1) // $PackSeqLen AS seq_last,
         |  (tok_offset + n - 1) // $PackSeqLen
         |    - tok_offset // $PackSeqLen + 1 AS n_seqs
         |FROM o""".stripMargin
    },
    // the cluster statement nests verbatim (one truth with the
    // dedup_clusters gate); 1000 // n is DuckDB integer division, the
    // twin of Spark's 1000 DIV n_dups on BIGINT operands
    "mix_dupweight" ->
      s"""WITH c AS (
         |${DedupQueries.dedupClustersSql}
         |),
         |s AS (SELECT cluster_id, count(*) AS n FROM c GROUP BY 1),
         |m AS (SELECT c.doc_id, c.cluster_id, s.n
         |      FROM c JOIN s ON c.cluster_id = s.cluster_id)
         |SELECT d.doc_id,
         |  coalesce(m.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(m.n, 1) AS n_dups,
         |  1000 // coalesce(m.n, 1) AS weight_milli
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin,
    // the mix_dupweight statement nests verbatim, then the same RNG-free
    // md5 bucket rule as the other hash samples applies the weight
    "q_weighted_sample" ->
      s"""WITH c AS (
         |${DedupQueries.dedupClustersSql}
         |),
         |s AS (SELECT cluster_id, count(*) AS n FROM c GROUP BY 1),
         |m AS (SELECT c.doc_id, c.cluster_id, s.n
         |      FROM c JOIN s ON c.cluster_id = s.cluster_id),
         |w AS (SELECT d.doc_id,
         |        coalesce(m.cluster_id, d.doc_id) AS cluster_id,
         |        coalesce(m.n, 1) AS n_dups,
         |        1000 // coalesce(m.n, 1) AS weight_milli
         |      FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id)
         |SELECT doc_id, cluster_id, n_dups, weight_milli
         |FROM w
         |WHERE ${Exact.md5LongSql("'wsamp|' || CAST(doc_id AS VARCHAR)")} % 1000
         |      < weight_milli""".stripMargin,
    // the jaccard pair statement nests verbatim (one truth with the dedup
    // gate); bucket probe, exclusions, and the (nh, cand) argmin replay
    // the engine rule exactly — all md5 operands nonnegative, so % is pmod
    "train_triplets" ->
      s"""WITH p AS (
         |$jaccardPairsSql
         |),
         |b AS (
         |  SELECT greatest(1, count(*) // $NegOccupancy) AS nb_total
         |  FROM documents),
         |d AS (
         |  SELECT doc_id AS cand,
         |    ${Exact.md5LongSql("'negb|' || CAST(doc_id AS VARCHAR)")}
         |      % b.nb_total AS nb,
         |    ${Exact.md5LongSql("'negh|' || CAST(doc_id AS VARCHAR)")} AS nh
         |  FROM documents, b),
         |c AS (
         |  SELECT p.doc_a, p.doc_b, d.cand, d.nh
         |  FROM p CROSS JOIN b JOIN d
         |    ON d.nb = ${Exact.md5LongSql("'negp|' || CAST(p.doc_a AS VARCHAR)")}
         |            % b.nb_total
         |  WHERE d.cand <> p.doc_a AND d.cand <> p.doc_b),
         |e AS (
         |  SELECT c.* FROM c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM p q
         |    WHERE q.doc_a = least(c.doc_a, c.cand)
         |      AND q.doc_b = greatest(c.doc_a, c.cand))),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_a, doc_b ORDER BY nh, cand) AS rn
         |  FROM e)
         |SELECT doc_a AS anchor_id, doc_b AS positive_id, cand AS negative_id
         |FROM r WHERE rn = 1""".stripMargin,
    // all-integer replay: the same √-quantization as mix_temperature's
    // wq, then floor division end to end — sums cast back from HUGEINT
    "mix_epochs" ->
      s"""WITH t AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len(${TextNorm.toksSql})) AS BIGINT) AS lang_tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT *, CAST(sum(lang_tokens) OVER () AS BIGINT) AS total_tokens,
         |    CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS wq
         |  FROM t),
         |x AS (
         |  SELECT *, CAST(sum(wq) OVER () AS BIGINT) AS sum_wq,
         |    total_tokens * $EpochBudgetX AS budget_tokens
         |  FROM w),
         |p AS (SELECT *, (wq * budget_tokens) // sum_wq AS planned_tokens FROM x)
         |SELECT lang, n_docs, lang_tokens, wq, planned_tokens,
         |  (1000 * planned_tokens) // lang_tokens AS epochs_milli,
         |  planned_tokens // lang_tokens AS n_full_epochs,
         |  planned_tokens % lang_tokens AS remainder_tokens
         |FROM p""".stripMargin)
}
