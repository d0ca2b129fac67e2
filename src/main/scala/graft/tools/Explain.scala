package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Print the formatted physical plan of a registered query (dev tool):
  *   runMain graft.tools.Explain <queryName> [sfDir]
  * or regenerate the checked-in plan dossier (PLANS.md):
  *   runMain graft.tools.Explain --audit <outFile> [sfDir]
  * or dump plans of named queries, one file each:
  *   runMain graft.tools.Explain --dump|--dumpexec <outDir> <suffix> <sfDir> <name...>
  * Other argument counts and unknown query names print the usage line and
  * exit 2 before the session builds. The session is
  * [[graft.SparkSessions.recommended]]; PLANS.md's plans are taken with
  * SPARK_MASTER and SPARK_GRAFT_CPUS unset (local[4], 4 shuffle
  * partitions), as its header says. */
object Explain {

  /** The representative plans the dossier documents, with the property
    * each one is chosen to exhibit. */
  val audited: Seq[(String, String)] = Seq(
    "q1_pricing" -> ("Scan→agg baseline: the shipdate predicate in " +
      "PushedFilters, ReadSchema pruned to the 7 referenced columns of an " +
      "11-column table; partial/final hash agg on a bounded key."),
    "q_weighted_median_bucketed" -> ("Two-phase exact quantile kernel " +
      "(r14; grain promoted to a snapshot artifact r15; equi-width " +
      "worst case guarded r16): the (flag, value) weight census builds " +
      "once in snapshot_build (one map-side-combinable aggregate over " +
      "the fact — see snapshot:wmedian_grain in PLAN_DIGESTS); phase A " +
      "(census + crossing summary) is checkpointed at flag grain, so " +
      "the final plan is the tail window over ONE bucket's grain rows, " +
      "and a concentrated value domain (crossing bucket > 4x its " +
      "equi-share of distinct values) triggers a one-level re-bucket " +
      "inside the crossing bucket (StatsSpec drives it) — contrast " +
      "q_weighted_median, whose single window re-sorts the FULL value " +
      "grain per flag."),
    "q22_idle_custs" -> ("Broadcast-scalar discipline (r12): the global " +
      "average balance is a 1-ROW aggregate attached by " +
      "BroadcastNestedLoopJoin — no partition-less WindowExec anywhere, " +
      "so no customer-scaling frame ever funnels through one task; the " +
      "lapsed test is a LEFT ANTI against the distinct recent-order keys. " +
      "WindowDisciplineSpec enforces this suite-wide."),
    "q_pareto" -> ("Two-phase global-rank kernel (r12): customer-grain " +
      "revenue ranks via range Exchange + per-partition zipWithIndex " +
      "positions (the q_global_rank kernel), NEVER a corpus-wide " +
      "single-task window sort; the only partition-less windows ride the " +
      "10-row decile aggregate, where they are free."),
    "q5_nation_revenue" -> ("6-table star: every dimension joins as " +
      "BroadcastHashJoin; lineitem⋈orders is the ONE wide exchange."),
    "q6_forecast" -> ("Pushdown showcase: every predicate reaches the " +
      "parquet scan; aggregate runs over the pruned scan output directly."),
    "q_window_agg" -> ("Sliding event-time windows batch-mode: the window " +
      "explode stays narrow; the exact distinct count runs as the standard " +
      "two-level Expand aggregate — two bounded-key exchanges, first on " +
      "(window, type, event_id), then on (window, type)."),
    "dedup_ngram_jaccard" -> ("Posting-list inverted index: the " +
      "scan→tokenize→shingle→hash pipeline feeds ONE exchange on the " +
      "60-bit shingle hash (localCheckpoint scan); pair explosion and both " +
      "broadcast size lookups reuse it."),
    "knn_brute" -> ("ANN baseline: BroadcastNestedLoopJoin of the query " +
      "sample against the corpus with the codegen'd arraydotlong kernel; " +
      "WindowGroupLimit prunes to top-K before the final exchange."),
    "q_salted_agg" -> ("Skew-mitigation rewrite: partial aggregate on " +
      "(key, __salt), final on key — exactly two exchanges."),
    "stats_profile" -> ("ANALYZE pass: every column's count/nulls/NDV/" +
      "min/max in ONE scan — the exact countDistincts batch through " +
      "Catalyst's Expand (|distinct-aggs| grouping streams over the same " +
      "scan), the at-scale swap is approx_count_distinct with the Expand " +
      "gone; no join anywhere (spec-pinned)."),
    "stats_histogram_depth" -> ("Equi-depth histogram on the exact " +
      "global rank: range-exchange sort + zipWithIndex counts pass (the " +
      "q_global_rank two-phase kernel), bucket aggregate on the bounded " +
      "bucket id — NO partition-less Window (spec-pinned)."),
    "q_asof_order" -> ("As-of join WITHOUT a join operator: union probe+" +
      "build on the key, one window pass carries the last build payload " +
      "forward — two exchanges, no node that can blow up with version " +
      "count."),
    "q_session_native" -> ("Native session windows: sort-based session " +
      "aggregation after one exchange on user_id — the identical stage " +
      "runs state-store-backed on a stream."),
    "text_chunk" -> ("Narrow doc→chunk explosion: sequence→explode→slice " +
      "with ZERO exchanges at any scale."),
    "q_rolling_7d" -> ("Window frames: the RANGE(-6,0) and ROWS(-2,0) " +
      "trailing frames both evaluate in ONE Window node over one " +
      "(nation, day_num) sort of the dimension-sized daily aggregate."),
    "q_cdc_merge" -> ("CDC merge: the change feed collapses to one row " +
      "per key in a partial/final aggregate (the shuffle carries " +
      "distinct keys, not the raw feed), then ONE full-outer join " +
      "against the snapshot — two exchanges total."),
    "dedup_embedding_lsh" -> ("Bucketed near-dup pair generation (round " +
      "5 shape): ONE exchange on (band, band-hash) carries the vector " +
      "payloads into posting lists; pair explode → cosine → threshold " +
      "run pipelined in a single codegen span, and the cross-band pair " +
      "dedup exchanges only the thresholded survivors — the full " +
      "candidate mass never shuffles."),
    "dedup_spans" -> ("Exact-substring spans without a suffix array: the " +
      "staggered-slice window build stays narrow (materialized ONCE as " +
      "the span_windows artifact r16, shared with the incremental " +
      "screen's corpus index); ONE exchange on the window hash forms " +
      "df-capped posting lists; pair explode runs pipelined, and the " +
      "diagonal gaps-and-islands window needs only a (doc_a, doc_b, " +
      "diag)-keyed exchange sized by actual cross-doc duplication."),
    "dedup_spans_scrub" -> ("The scrub tail over the same islands: " +
      "covered ranges explode one row per REMOVED token, collapse to " +
      "per-doc position sets in one doc_id exchange, and the token drop " +
      "is an array filter inside the doc_id-keyed join projection — the " +
      "only corpus-sized exchange in the plan."),
    "knn_filtered" -> ("Filtered ANN done right: the label predicate is " +
      "the JOIN KEY of candidate generation — the query sample " +
      "broadcasts on label into the corpus scan, so the candidate " +
      "product is per-label blocks and every query keeps its full K; no " +
      "post-filter of a global top-K anywhere in the plan, and the " +
      "partial-then-final WindowGroupLimit pair prunes to K before the " +
      "one rank exchange."),
    "q_len_quantiles" -> ("Exact distributed quantiles without a sketch " +
      "(r13 count-of-counts): docs collapse to the (lang, n_tokens) " +
      "count frame FIRST — the only doc-sized pass — and ONE Window " +
      "node computes both the running and whole-partition sums over the " +
      "value-grain frame; the rank arithmetic is integer-only and the " +
      "aggregate reads the crossings off with min."),
    "text_hybrid" -> ("Candidate-bounded re-ranking: the BM25 arm drops " +
      "to query-term hits before any aggregate, the cosine arm scores " +
      "only the K-row candidate frame (broadcast joins on both the " +
      "vector attach and the 1-row reference vector), and every fusion " +
      "window runs over K rows — no corpus-sized work after recall."),
    "text_boilerplate" -> ("Boilerplate census: reads the shared " +
      "shingle_rows artifact (r16 — the staggered-slice build is paid " +
      "once suite-wide), per-doc distinct, then ONE exchange on the " +
      "shingle key with map-side partial aggregation; the top-K cut is " +
      "TakeOrderedAndProject — only K rows survive each partial, " +
      "vocabulary-sized aggregate output at any corpus size."),
    "text_novelty" -> ("Per-doc novelty WITHOUT the fan-out join: only " +
      "df=1 shingles matter for the numerator, and a df=1 shingle's " +
      "posting list IS its one document — min(doc_id) rides the " +
      "shingle-keyed aggregate, so no shingle row ever joins against " +
      "its own frequency. Two map-side-combinable aggregates (shingle " +
      "key, then doc key) plus one left join of two per-doc frames."),
    "er_fuzzy" -> ("Blocked entity resolution: one vocabulary-contracting " +
      "aggregate over the fact table, a narrow explode of the compound " +
      "key union (prefix x band + suffix x band), then candidate pairs " +
      "from an EQUI join on the exploded key (BroadcastHashJoin, never a " +
      "nested loop) with levenshtein evaluated only on co-blocked " +
      "candidates inside the codegen'd post-join filter; the final " +
      "distinct exchanges only match-graph-sized survivors."),
    "er_fuzzy_capped" -> ("The at-scale ER kernel: the same exploded " +
      "compound-key equi-join with a block census (one aggregate on the " +
      "key) semi-joined in front, so keys whose block exceeds ErMaxBlock " +
      "generate no candidates — worst-case candidate mass cap*4*vocab, " +
      "linear in the vocabulary."),
    "graph_triangles" -> ("Degree-oriented triangle counting (node-" +
      "iterator++): two node-key joins attach degrees, the rank " +
      "orientation is a narrow projection, and the wedge self-join + " +
      "closing edge-membership join are both EQUI joins on the oriented " +
      "pair-graph frame — wedge fan-out bounded by out-degree (O(sqrt m) " +
      "under rank orientation), so a boilerplate hub of degree d emits " +
      "its oriented wedges, never d^2/2 rows."),
    "mix_dupweight" -> ("Soft dedup: the cluster membership frame (pair-" +
      "graph-sized) broadcasts into ONE left join against the corpus doc " +
      "list; the weight is a narrow integer projection — nothing corpus-" +
      "sized shuffles after the shared pair snapshot."),
    "er_resolve" -> ("Canonical-entity fact rollup: the vocabulary-sized " +
      "canonical map broadcasts into the fact scan (map-side dictionary " +
      "rewrite — facts never shuffle for the rename), then ONE aggregate " +
      "on the smaller canonical key space."),
    "ann_eval" -> ("Approximation report card: every input is a top-K " +
      "frame and each search pipeline appears in the plan exactly ONCE " +
      "— approx frames union method-tagged, the exact frame replicates " +
      "per method via a broadcast 2-row cross join, then one " +
      "(method, pair)-keyed join and a |methods|-row aggregate."),
    "q_transitions" -> ("Sequence census: lag() rides ONE user-keyed " +
      "sort; the transition aggregate is map-side-combinable onto a " +
      "|types|²-bounded frame, and the row-normalizing window runs over " +
      "that bounded output — nothing data-sized after the fact shuffle."),
    "q_mv_merge" -> ("Incremental MV maintenance: each side's partials " +
      "are a map-side-combinable aggregate of ITS slice only (the " +
      "cutoff predicate reaches both parquet scans as PushedFilters), " +
      "and the merge re-aggregates the UNION of two view-grain frames — " +
      "the merge exchange carries days x types rows, never events; in " +
      "deployment the base branch is a read of the persisted view, so " +
      "history is never rescanned."),
    "q_len_quantiles_approx" -> ("The length report on approx_percentile " +
      "(r14, spec-only): all three quantiles as ONE mergeable GK-sketch " +
      "aggregate — no count frame, no cumulative window — the swap for a " +
      "token-length domain that outgrows the count-of-counts " +
      "contraction; CurateSpec tolerance-bounds it against the exact " +
      "oracled q_len_quantiles."),
    "q_mad_outliers_approx" -> ("The MAD gate on approx_percentile " +
      "(r14, spec-only): both medians become one map-side-combinable " +
      "GK-sketch aggregate — O(accuracy*log n) state per type, no " +
      "cumulative window at all — the documented swap for a value " +
      "domain that grows unbounded; DqSpec tolerance-bounds it against " +
      "the exact oracled q_mad_outliers."),
    "q_mad_outliers" -> ("Robust outlier gate (r13 count-of-counts, r17 " +
      "one-census form): the fact collapses ONCE to the (type, value, " +
      "cnt) census — the only input-sized pass — and both medians, the " +
      "deviation distribution (regrouped census, Σ cnt by |x − med|), " +
      "and the count-weighted flag pass all run over that domain-bounded " +
      "frame; the per-type thresholds broadcast back onto the census; " +
      "output |types| rows. AQE stage reuse serves the census exchange " +
      "to all four consumers from one computation."),
    "q_drift_tv" -> ("Drift monitor: ONE scan with the window side as a " +
      "conditional-sum pivot (no per-side self-join), global bounds as " +
      "a 1-row broadcast, and every frame after the (type x bucket) " +
      "aggregate is bounded-cardinality — the TV arithmetic runs " +
      "integer-exact in decimal(38,0)."),
    "train_triplets" -> ("Negative mining candidate-bounded: the pair " +
      "frame equi-joins ONE corpus hash bucket per anchor (candidate " +
      "mass = pairs x occupancy, never pairs x corpus), the near-dup " +
      "exclusion is a hash anti-join on the normalized pair key, and " +
      "the argmin window partitions per (anchor, positive) over " +
      "occupancy-sized groups."),
    "q_skew_metrics" -> ("Skew census via the count-of-COUNTS " +
      "contraction: the |keys|-sized frequency frame (billions of " +
      "user_ids at scale) never meets a window — a second aggregate " +
      "collapses it to the Zipf-bounded frequency-of-frequencies frame " +
      "and the exact median/p99 read off ITS cumulative sum; the only " +
      "fact-sized work is the two map-side-combinable aggregates."),
    "q_drift_ks" -> ("KS drift monitor, the second rule over the TV " +
      "monitor's count state: the fact feeds the SAME one-scan " +
      "driftCounts aggregate; the cumulative-CDF window partitions by " +
      "type over <= DriftBuckets rows, so the window sort is " +
      "kilobyte-bounded at any corpus size — the 10x probe moves 0.78 " +
      "to 0.70 s."),
    "q_basket_rules" -> ("Market-basket rules: the lineitem scan " +
      "contracts to (order, brand) basket grain through ONE distinct " +
      "exchange that ReusedExchange then serves to the self-join and " +
      "both count aggregates (no recompute, no checkpoint); pair " +
      "fan-out is bounded by basket width and everything after the " +
      "pair count is |brands|^2 rows with the corpus total as a 1-row " +
      "broadcast."),
    "q_interval_coverage" -> ("Interval-union islands: one shuffle on " +
      "the customer key, then the running-max-of-prior-ends and " +
      "island-numbering windows stack on the SAME (custkey, start) " +
      "sort — one sort, two frames — and both aggregates keep the " +
      "customer partitioning; per-partition depth is orders-per-" +
      "customer, so 10x customers means more partitions, not deeper " +
      "sorts (1.7x measured at 10x)."),
    "text_lm_score" -> ("Bigram-LM scoring: the zip-slice bigram build " +
      "is one narrow projection (no lambda, no shuffle), materialized " +
      "ONCE per build and shared by the count fit and the scoring pass " +
      "(r15); the train-split count aggregate is vocabulary-sized with " +
      "map-side combine; the scoring join keys by bigram with 1:1 " +
      "fan-out (counts unique per key) and the per-doc aggregate closes " +
      "the pipeline — the canonical LM shuffle, linear in corpus tokens " +
      "(3.6x at 10x docs)."),
    "q_pit_features" -> ("Point-in-time feature join: equi-join on the " +
      "user key with the interval predicate evaluated as the join " +
      "condition, so candidates per row are that user's versions. No " +
      "hint is forced: at this SF Catalyst broadcasts the SCD2 side " +
      "(size-based, visible below); when the history outgrows the " +
      "threshold the SAME plan shuffle-joins on the user key — the " +
      "size decision stays the optimizer's (5.1x at 10x users = " +
      "linear)."),
    "q_weighted_median" -> ("Exact weighted median through the " +
      "value-grain contraction: the only fact-sized pass is the " +
      "map-side-combinable (flag, cents) weight aggregate; the " +
      "cumulative AND total sums ride one WindowExec over " +
      "value-DISTINCT rows per flag (r13 — the totals join that " +
      "re-scanned lineitem is gone) and the crossing reads off a min."),
    "q_forget" -> ("Deletion cascade: three left-semi joins stage the " +
      "FK walk with the request list broadcast and the derived " +
      "order-key list checkpointed once; each per-table card is two " +
      "1-row aggregates met by a broadcast cross — counts, never " +
      "row payloads, cross stage boundaries (2.8x at 10x)."),
    "curate_incremental" -> ("The daily screen, probe-side end to end: " +
      "the corpus appears ONLY as RDD scans of its three persisted " +
      "artifacts (posting lists, sizes, hash set); every batch-derived " +
      "frame — quality projection, content hashes, candidate " +
      "intersections, verdict flags — is micro-batch-sized, and all " +
      "four verdict flags broadcast into the final projection. Screen " +
      "cost flat under corpus x10 (scale11)."),
    "curate_index_append" -> ("Index append as a co-partitioned merge: " +
      "the corpus posting table meets the batch's postings in ONE " +
      "full-outer SortMergeJoin on the index key with a list concat — " +
      "no explode/regroup of the corpus side, so at 100 TB (bucketed " +
      "by h) the corpus index never re-shuffles; the membership " +
      "signature is a narrow projection over the merged lists."),
    "text_ppl_buckets_incremental" -> ("Threshold routing against " +
      "frozen artifacts: the batch scores through the persisted bigram " +
      "count table (RDD scan) in the one bigram-keyed join, then the " +
      "per-language cut scores attach as a <=|langs|-row broadcast — " +
      "no corpus pass, no window anywhere in the probe plan."),
    "bpe_encode" -> ("Tokenizer application: the Zipf-bounded trained " +
      "segmentation vocabulary rides a BroadcastHashJoin against the " +
      "narrow posexplode of the corpus (no shuffle to meet the vocab), " +
      "then ONE doc-keyed aggregate reassembles counts + the ordered " +
      "stream signature — linear in corpus tokens."),
    "pack_sequences" -> ("Exclusive prefix sum WITHOUT the global " +
      "window: contiguous hash-range buckets cumsum in PARALLEL window " +
      "partitions, the 64-row bucket-total frame takes the only global " +
      "(tiny) window, offsets attach by broadcast — the corpus-sized " +
      "'WindowExec: No Partition Defined' trap never appears " +
      "(spec-pinned vs a driver cumsum)."),
    "curate_index_forget" -> ("RTBF on the persisted index: the request " +
      "list is a literal array, the posting rewrite is one narrow " +
      "array_except projection over the RDD-scanned artifact — zero " +
      "exchanges, zero corpus scans; the oracle proves the in-place " +
      "edit equals a full rebuild."),
    "knn_ivf_pq" -> ("IVFADC: the probe stage bounds WHICH vectors are " +
      "scored (NProbe cells per query via the broadcast centroid " +
      "table), the PQ codes bound WHAT each score costs (M element_at " +
      "lookups against an M-byte row — the 32x-compressed index is the " +
      "only corpus-sized input to the search join); at 100 TB the " +
      "codes table shards by cell id and a probe is a partition-pruned " +
      "scan."),
    "emb_drift" -> ("Frozen-cell census drift: base-split centroids " +
      "collect once (dimension-sized driver state), assignment is one " +
      "narrow codegen'd argmin pass over literals, the census is a " +
      "|cells|-key map-combinable aggregate with totals on a 1-row " +
      "broadcast — scan bandwidth end to end, no window, no join " +
      "wider than the cell count."),
    "q_group_sample" -> ("Bounded per-group sampling via the native " +
      "bottom_k_pairs TypedImperativeAggregate: partial ObjectHashAgg " +
      "carries <= k pairs per group per map partition, so the ONE " +
      "exchange moves O(groups*k) bytes whatever the fact size — the " +
      "window idiom this replaces shuffles and sorts every row; the " +
      "posexplode re-ranking is a narrow projection over k-row arrays."),
    "q_kmv_merge" -> ("Sketch-artifact rollup: per-day KMV sketches are " +
      "one bounded aggregate on the day key; the merge explodes only " +
      "the n_days*k sketch MEMBERS (never raw events) and re-cuts in a " +
      "single-group aggregate — the plan after the daily aggregate is " +
      "kilobyte-sized, which is what lets persisted daily sketches " +
      "answer any date-range cardinality without a rescan."),
    "dsir_weights" -> ("DSIR importance weights: the hashed-bigram " +
      "feature pass is one narrow zip-slice projection, materialized " +
      "ONCE as the dsir_features artifact and read by all four " +
      "consumers here AND by the incremental model's filter (r16); " +
      "the model count " +
      "tables fuse into ONE <=4096-bucket map-combinable aggregate " +
      "(c_t null where the target never hit) that BROADCASTS back onto " +
      "the feature stream (the model attach never shuffles the fact); " +
      "scoring closes with one doc-keyed aggregate plus a 1-row " +
      "normalizer broadcast."),
    "knn_label_eval" -> ("Embedding-space label eval: the vote join " +
      "attaches the id->label map to the (queries x K) neighbor frame " +
      "on the id key; the argmax window partitions per query over " +
      "<=|labels| vote rows and the confusion aggregate is " +
      "|labels|^2-bounded — nothing corpus-sized beyond the knn_brute " +
      "stage it evaluates."),
    "q_recent_events" -> ("Latest-k history at raw grain: the fact " +
      "table never sorts — the partial bottom_k_pairs buffers carry at " +
      "most k (negated-time, id) pairs per user per map partition " +
      "through the ONE exchange; flat at 10x events in the scale11b " +
      "probe where the window twin re-sorts every user's full history."),
    "text_cm_counters" -> ("Count-Min build: the bigram feature stream " +
      "stays narrow (zip-slice projection, Depth-way literal explode), " +
      "then ONE map-side-combinable aggregate onto the (Depth x Width)-" +
      "bounded cell space — the exchange carries at most 1024 counter " +
      "rows per map partition at ANY corpus size."),
    "pack_length_batches" -> ("Length-grouped batching: the corpus-wide " +
      "length order pays the two-phase rank kernel (range exchange + " +
      "partition-size counts pass — NO single-partition window " +
      "anywhere), and the batch census aggregates on the bounded " +
      "ceil(n/B) batch-id space."),
    "align_bitext_lsh" -> ("Bitext mining, production tier: candidate " +
      "pairs come from an EQUI join of source and target band " +
      "signatures on (band, band-hash) — 8-byte keys, never |src|x|tgt| " +
      "— and the margin window partitions per source over its " +
      "candidate set only; the all-pairs anchor exists solely to gate " +
      "this plan's recall."))

  /** Snapshot-backed registered entries serve a `localCheckpoint`, whose
    * plan is just an RDD scan — audit the underlying BUILD pipeline
    * instead (the plan a deployment runs to produce the persisted pair
    * artifact). */
  val underlying: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "dedup_ngram_jaccard" ->
      ((s, d) => graft.ext.dedup.DedupQueries.qNgramJaccard(s, d)),
    "dedup_embedding_lsh" ->
      ((s, d) => graft.ext.dedup.DedupQueries.qEmbeddingDupsLsh(s, d)),
    "dedup_spans" ->
      ((s, d) => graft.ext.dedup.DedupQueries.qSharedSpansRaw(s, d)),
    "dedup_spans_scrub" ->
      ((s, d) => graft.ext.dedup.DedupQueries.qSpanScrubRaw(s, d)),
    "text_novelty" ->
      ((s, d) => graft.ext.text.TextQueries.noveltyFrom(
        graft.ext.dedup.DedupQueries.shingleRowsSnapshot(s, d)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("s")).distinct())),
    "dsir_weights" ->
      ((s, d) => graft.ext.text.DsirQueries.weightFrameRaw(s, d)),
    "text_cm_counters" ->
      ((s, d) => graft.ext.text.CmSketchQueries.countersRaw(s, d)),
    "graph_triangles" ->
      ((s, d) => graft.ext.graph.GraphQueries.trianglesFrom(
        graft.ext.dedup.DedupQueries.jaccardPairSnapshot(s, d)
          .select(org.apache.spark.sql.functions.col("doc_a").as("a"),
            org.apache.spark.sql.functions.col("doc_b").as("b")),
        materialize = false)))

  private val Usage = "usage: Explain [queryName [sfDir]] | --audit [outFile [sfDir]] | " +
    "--dump|--dumpexec <outDir> <suffix> <sfDir> <name...>"

  def main(args: Array[String]): Unit = {
    // arguments are checked before the session builds: a wrong count or an
    // unknown query name prints the usage line and exits 2, instead of
    // being ignored or failing after ~30 s of Spark startup
    def unknown(names: Seq[String], known: String => Boolean): Option[String] =
      names.filterNot(known) match {
        case Seq() => None
        case bad => Some(s"unknown queries: ${bad.mkString(", ")}\n$Usage")
      }
    val problem = args.headOption match {
      case Some("--dump" | "--dumpexec") =>
        if (args.length < 5) Some(Usage)
        else unknown(args.drop(4).toSeq,
          (graft.SparkEntry.queries ++ graft.SparkEntry.specOnly).contains)
      case Some("--audit") => if (args.length > 3) Some(Usage) else None
      case _ =>
        if (args.length > 2) Some(Usage)
        else unknown(args.take(1).toSeq, graft.SparkEntry.queries.contains)
    }
    problem.foreach { msg => System.err.println(msg); sys.exit(2) }
    val spark = graft.SparkSessions.recommended("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("--audit")) {
      val out = args.lift(1).getOrElse("PLANS.md")
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.01")
      val sb = new StringBuilder
      sb.append("# PLANS — physical-plan dossier of representative queries\n\n")
      sb.append("Regenerate: `sbt 'runMain graft.tools.Explain --audit PLANS.md'`.\n")
      sb.append("Each plan is the Catalyst `explain(\"formatted\")` output at sf0.01\n")
      sb.append("(local[4], shuffle.partitions=4); the property each query is chosen\n")
      sb.append("to exhibit is stated above its plan. Enforced variants of these\n")
      sb.append("assertions live in the specs (QueriesSpec/IoSpec/LayoutSpec).\n")
      // duplicate names would build (and eagerly execute any checkpointed
      // subtree of) the same plan twice AND emit two identical dossier
      // sections (ADVICE r14 — q_weighted_median_bucketed was listed twice)
      require(audited.map(_._1).distinct.size == audited.size,
        "duplicate audited entries: " + audited.map(_._1)
          .groupBy(identity).collect { case (n, g) if g.size > 1 => n }.mkString(", "))
      audited.foreach { case (name, why) =>
        val df = underlying.getOrElse(name,
          (graft.SparkEntry.queries ++ graft.SparkEntry.specOnly)(name))(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n$why\n\n```\n$plan```\n")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        sb.toString.getBytes("UTF-8"))
      println(s"wrote $out (${audited.size} plans)")
    } else if (args.headOption.contains("--dump") ||
        args.headOption.contains("--dumpexec")) {
      // batch plan capture for the optimization-round dossier
      // (plans/r16/<query>_{before,after}.txt): ONE JVM writes
      // <outDir>/<name><suffix>.txt per named query — a per-query
      // `runMain` fork would pay ~40 s of sbt/Spark startup each.
      val outDir = args(1); val suffix = args(2); val dir = args(3)
      val registry = graft.SparkEntry.queries ++ graft.SparkEntry.specOnly
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(4).foreach { name =>
        val df = registry(name)(spark, dir)
        // --dumpexec (r17): EXECUTE the query first so the dumped plan is
        // the FINAL adaptive plan (isFinalPlan=true) — the only place AQE
        // stage reuse (ReusedQueryStage/AQEShuffleRead) of repeated
        // subtrees is visible; the static plan shows duplicates that
        // never execute twice. The run goes through df's own
        // queryExecution, so the explain below reflects it, and its rows
        // are dropped on the executors: nothing is buffered in the driver.
        if (args.headOption.contains("--dumpexec")) {
          val qe = df.queryExecution
          SQLExecution.withNewExecutionId(qe, Some("dumpexec"))(qe.toRdd.foreach(_ => ()))
        }
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"dumped $name")
      }
    } else {
      val name = args.headOption.getOrElse("q1_pricing")
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
      graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
