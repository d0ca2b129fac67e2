package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/**
 * Streaming-throughput probe over the reference flagship pipeline
 * (reference app.py:52–205): parse → clean(+watermark-bounded dedup) →
 * enrich → windowed aggregate → flatten, driven from a MemoryStream in
 * fixed-size micro-batches so every stateful stage (dedup state, window
 * state) is exercised AND evicted as the watermark advances.
 *
 * The batch suite ([[graft.Bench]]) measures query seconds; this records
 * the stream-shaped number the reference actually ships — rows/second
 * through the full plan — plus the end-of-run state-store row count, so a
 * streaming perf OR state-leak regression is visible round-over-round in
 * BENCH_r{N}.json (VERDICT round-3 ask #6 / round-4 ask #1).
 *
 * Methodology notes:
 *  - The driver pre-generates (before the clock) only event INDICES;
 *    payload strings are built EXECUTOR-SIDE by a narrow map at the head
 *    of the plan. Shipping pre-built payloads from the driver put ~3.4 MB
 *    of strings into every micro-batch's task binary (the repeated
 *    "task of very large size" warnings in the r11 driver log) — and is
 *    the wrong shape anyway: a real Kafka source delivers payload bytes
 *    at the executors, the driver never ships them. The per-row build
 *    (~μs against ~1 s batches) is measured with the pipeline, exactly
 *    like a real source's deserialization.
 *  - Event times advance ~one window per batch, so the watermark closes
 *    windows and evicts dedup keys as the run progresses: state is
 *    steady-state bounded, not accumulate-then-stop. A duplicate is
 *    injected every 10th row, adjacent to its original, i.e. inside the
 *    watermark — the dedup path does real work.
 *  - rows/s here is single-JVM local[N]; on a cluster the same plan
 *    shards by event_id / group key across executors' state stores, so
 *    the number scales with cores until the sink or source caps it.
 */
// Serializable: the executor-side event-build lambdas capture this module
// (local `ev` defs are lifted onto it); it carries no state worth shipping
object StreamBench extends Serializable {

  final case class Result(rowsPerSec: Double, rows: Long, elapsedSec: Double,
                          batches: Long, stateRows: Long, outRows: Long) {
    def json: String =
      s"""{"rows_per_sec":${rowsPerSec.round},"rows":$rows,""" +
        s""""elapsed_sec":$elapsedSec,"batches":$batches,""" +
        s""""state_rows":$stateRows,"out_rows":$outRows}"""
  }

  private val Countries = Array("us", "in", "de", "fr", "jp", "br")
  private val Devices = Array("Mobile", "DESKTOP", " tablet ", "mobile", null)

  /** Shared immutable formatter (thread-safe) — hoisted so the
    * executor-side event build never constructs one per row. */
  private val EventTimeFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  final case class MvResult(rowsPerSec: Double, rows: Long, elapsedSec: Double,
                            batches: Long, viewRows: Long, matchesBatch: Boolean) {
    def json: String =
      s"""{"rows_per_sec":${rowsPerSec.round},"rows":$rows,""" +
        s""""elapsed_sec":$elapsedSec,"batches":$batches,""" +
        s""""view_rows":$viewRows,"matches_batch":$matchesBatch}"""
  }

  /** Streaming materialized-view maintenance probe: fold micro-batches of
    * synthetic events into the (day × type) partial-aggregate view via
    * the [[graft.batch.MvQueries]] merge kernel (the foreachBatch
    * lifecycle MvSpec pins functionally), and measure rows/second through
    * the fold. State is the VIEW — day×type rows, constant in the event
    * count — so unlike the dedup probe there is no per-key state store;
    * the cost is each batch's partial aggregate plus a view-grain merge.
    * The result carries `matches_batch`: the folded view is re-checked
    * against a one-shot recompute of the same events inside the probe, so
    * the throughput number can never come from a broken fold. */
  def probeMvFold(spark: SparkSession, nEvents: Long = 1000000L,
                  nBatches: Int = 20): MvResult = {
    import spark.implicits._
    import graft.batch.MvQueries
    implicit val sqlCtx = spark.sqlContext
    def ev(i: Long): (java.sql.Timestamp, String, Option[Double]) = (
      java.sql.Timestamp.valueOf(f"2024-01-${(i % 30) + 1}%02d 12:00:00"),
      Countries((i % Countries.length).toInt),
      if (i % 11 == 10) None else Some((i % 9973) / 100.0))
    // index ranges pre-generated; event tuples build executor-side (the
    // probePinned task-binary discipline)
    val chunks = (0L until nEvents).grouped((nEvents / nBatches).toInt.max(1)).toSeq
    val ms = MemoryStream[Long]
    var state = MvQueries.partials(
      Seq.empty[(java.sql.Timestamp, String, Option[Double])]
        .toDF("ts", "event_type", "value")).localCheckpoint()
    val q = StreamPipeline.start(
      ms.toDS().map(ev).toDF("ts", "event_type", "value"),
      StreamPipeline.ForeachBatch((b, _) => {
        state = MvQueries.merge(state, MvQueries.partials(b)).localCheckpoint()
      }, trigger = Trigger.ProcessingTime(0L)))
    val t0 = System.nanoTime()
    chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    val elapsed = (System.nanoTime() - t0) / 1e9
    q.stop()
    val viewRows = state.count()
    val batchTwin = MvQueries.finish(MvQueries.partials(
      chunks.flatten.map(ev).toDF("ts", "event_type", "value")))
    val matches = MvQueries.finish(state).collect().map(_.toString).sorted.toSeq ==
      batchTwin.collect().map(_.toString).sorted.toSeq
    MvResult(nEvents / elapsed, nEvents, math.round(elapsed * 1000) / 1000.0,
      chunks.size.toLong, viewRows, matches)
  }

  /** One synthetic Kafka-value line, built executor-side from its index.
    * Key space: every 10th row reuses the previous row's event_id (an
    * in-watermark duplicate). */
  private def eventJson(i: Long, t0: java.time.Instant, secPerEvent: Double): String = {
    val key = if (i % 10 == 9) i - 1 else i
    val ts = t0.plusSeconds((i * secPerEvent).toLong)
    val tstr = EventTimeFmt.format(ts)
    val dev = Devices((i % Devices.length).toInt)
    val devJson = if (dev == null) "null" else "\"" + dev + "\""
    s"""{"event_id":"evt_$key","user_id":${i % 5 + 1},"product_id":${i % 8 + 1},""" +
      s""""amount":${(i % 9973) / 100.0},"event_time":"$tstr",""" +
      s""""country":"${Countries((i % Countries.length).toInt)}","device":$devJson}"""
  }

  /** Shuffle-partition count pinned for the probe, REGARDLESS of the
    * session's batch setting. Root cause of the round-5→8 "2.3×
    * regression" (VERDICT r9 ask #1): per-micro-batch fixed cost is
    * ~0.5 s + ~55 ms × partitions on this container — every state-store
    * commit round (4 stateful operators × partitions delta files +
    * fsyncs, plus that many more scheduled tasks per stage) scales
    * linearly with the partition count, and at 20k rows/batch the work
    * per partition is trivial, so fixed cost dominates. Measured curve,
    * standalone cold JVM, 240k/12-adds (SCALING.md "streaming probe"):
    * 4p → 13.9k rows/s, 8p → 10.7k, 16p → 7.6k (≡ round 8's 7.7k), 32p →
    * 4.4k. Earlier rounds recorded the probe under whatever
    * SPARK_GRAFT_CPUS the harness exported — the number tracked
    * configuration, not code. Pinning makes it a constant-config series;
    * 4 matches Bench's historical default (the round-5 17.5k record) and
    * is the RIGHT sizing for this load — state-store partition count
    * should track sustained rows/batch, not cluster cores (on a real
    * cluster the same curve argues for maxing rows-per-partition-batch
    * before adding state partitions). */
  val ProbePartitions = "4"

  /** Drive [[StreamPipeline.plan]] over `nEvents` events in `nBatches`
    * micro-batches; returns throughput + final state size. */
  def probe(spark: SparkSession, nEvents: Long = 240000L, nBatches: Int = 12): Result = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", ProbePartitions)
    try probePinned(spark, nEvents, nBatches)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  private def probePinned(spark: SparkSession, nEvents: Long, nBatches: Int): Result = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // one window (60 s) of event time per batch → the watermark closes a
    // window per batch and evicts its dedup keys: steady-state state size
    val secPerEvent = nBatches * 60.0 / nEvents
    val perBatch = (nEvents / nBatches).toInt
    // pre-generate only the index ranges; payloads build executor-side
    // (see the methodology note — ~160 KB of longs per batch instead of
    // ~3.4 MB of strings in the task binary)
    val chunks: IndexedSeq[IndexedSeq[Long]] =
      (0 until nBatches).map(b =>
        (0 until perBatch).map(j => b.toLong * perBatch + j))

    val ms = MemoryStream[Long](ProbePartitions.toInt)
    val out = StreamPipeline.plan(spark,
      ms.toDS().map(i => eventJson(i, t0, secPerEvent)).toDF())
    val name = s"stream_bench_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .format("memory").queryName(name).start()
    val clock0 = System.nanoTime()
    chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
    val elapsed = (System.nanoTime() - clock0) / 1e9
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(-1L)
    val outRows = spark.table(name).count()
    q.stop()
    spark.sql(s"DROP VIEW IF EXISTS $name")
    val total = perBatch.toLong * nBatches
    Result(total / elapsed, total, math.rint(elapsed * 1000) / 1000, batches, stateRows, outRows)
  }

  final case class JoinResult(rowsPerSec: Double, rows: Long,
      elapsedSec: Double, batches: Long, stateRows: Long, innerRows: Long,
      outerRows: Long, stateCurve: Seq[Long]) {
    def json: String =
      s"""{"rows_per_sec":${rowsPerSec.round},"rows":$rows,""" +
        s""""elapsed_sec":$elapsedSec,"batches":$batches,""" +
        s""""state_rows":$stateRows,"inner_rows":$innerRows,""" +
        s""""outer_rows":$outerRows,""" +
        s""""state_curve":${stateCurve.mkString("[", ",", "]")}}"""
  }

  /** Stream-stream attribution-join probe (VERDICT r14 #3): drive
    * [[StreamJoin.attributionOuter]] — the left-outer, range-bounded,
    * dual-watermark join — from two MemoryStreams and measure rows/second
    * through the join plus the state story the spec proves
    * (StreamJoinSpec:92), now with numbers: `state_curve` is the
    * state-store row total after each micro-batch and must PLATEAU (the
    * range condition + watermarks evict clicks older than the purchase
    * watermark − window, so steady state holds ~2 batches of rows, not
    * the whole history), and `outer_rows` counts the watermark-gated
    * null emissions.
    *
    * Fixture shape (deterministic): user space sized so one user's
    * consecutive clicks sit 2400 s apart — OUTSIDE the 1800 s attribution
    * window — and every third click gets a purchase 60 s later, so each
    * purchase matches EXACTLY its own click: inner = ⌈clicks/3⌉, outer =
    * the rest, pinned. Each batch spans 1200 s of event time, so the
    * watermark (600 s delay) proves "no match" for a click ~2 batches
    * after it arrives — outer rows trail by design, and two sentinel
    * rows (user_id −1/−2, never matching anything) push both watermarks
    * past the last real close AFTER the clock stops, flushing the tail. */
  def probeJoin(spark: SparkSession, nClicks: Long = 120000L,
                nBatches: Int = 12,
                windowSeconds: Long = StreamJoin.WindowSeconds,
                delaySeconds: Long = StreamJoin.DelaySeconds,
                users: Long = JoinUsers): JoinResult = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", ProbePartitions)
    try probeJoinPinned(spark, nClicks, nBatches, windowSeconds, delaySeconds, users)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Users per click-index cycle: cycle length × per-click spacing must
    * exceed [[StreamJoin.WindowSeconds]] so a user's previous click can
    * never steal a purchase (see [[probeJoin]]'s exact-match argument).
    * The `join2x` probe passes a larger count for its doubled window. */
  private val JoinUsers = 20000L

  private def probeJoinPinned(spark: SparkSession, nClicks: Long,
                              nBatches: Int, windowSeconds: Long,
                              delaySeconds: Long, users: Long): JoinResult = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0ms = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val perBatch = (nClicks / nBatches).toInt
    val batchSpanMs = 1200000.0 // 1200 s of event time per batch
    val msPerClick = batchSpanMs / perBatch
    // the exact-match invariant (inner = purchases, 1:1) requires a
    // user's CONSECUTIVE clicks to sit outside the attribution window
    // plus the 60 s purchase offset — enforce rather than document
    // (ADVICE r15: an env override shrinking msPerClick silently let a
    // previous click also match, inflating inner_rows and the pinned
    // identity the record and spec rely on)
    require(users * msPerClick > (windowSeconds + 60L) * 1000L,
      s"probeJoin fixture degenerate: users($users) x msPerClick($msPerClick) " +
        s"must exceed window+60s (${(windowSeconds + 60L) * 1000L} ms) or " +
        "consecutive same-user clicks fall inside the attribution window")
    def clickTsMs(i: Long): Long = t0ms + (i * msPerClick).toLong
    // executor-side row build from pre-generated indices (the task-binary
    // discipline shared by every probe in this file)
    def click(i: Long) = (i % users + 1L, s"c_$i",
      new java.sql.Timestamp(clickTsMs(i)))
    def purchase(i: Long) = (i % users + 1L, s"p_$i",
      new java.sql.Timestamp(clickTsMs(i) + 60000L), (i % 9973) / 100.0)
    val chunks: IndexedSeq[IndexedSeq[Long]] =
      (0 until nBatches).map(b =>
        (0 until perBatch).map(j => b.toLong * perBatch + j))
    val clicks = MemoryStream[Long](ProbePartitions.toInt)
    val purchases = MemoryStream[Long](ProbePartitions.toInt)
    val out = StreamJoin.attributionOuter(
      clicks.toDS().map(click).toDF("user_id", "click_id", "click_ts"),
      purchases.toDS().map(purchase)
        .toDF("user_id", "purchase_id", "purchase_ts", "amount"),
      windowSeconds, delaySeconds)
    val name = s"stream_join_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .format("memory").queryName(name).start()
    val clock0 = System.nanoTime()
    var nPurchases = 0L
    val stateCurve = chunks.map { c =>
      clicks.addData(c: _*)
      val p = c.filter(_ % 3 == 0)
      nPurchases += p.size
      purchases.addData(p: _*)
      q.processAllAvailable()
      Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    }
    val elapsed = (System.nanoTime() - clock0) / 1e9
    // tail flush OUTSIDE the clock: one far-future index on each stream
    // advances both watermarks past the last real click's close
    // (click_ts + window + delay), so every real click's verdict — match
    // or provably-none — has emitted and the counts below are the full
    // deterministic answer. The sentinel pair matches only itself and is
    // excluded from the counts.
    val farIdx = nClicks +
      ((windowSeconds + 2L * delaySeconds + 3600L) *
        1000L / msPerClick).toLong
    clicks.addData(farIdx); purchases.addData(farIdx)
    q.processAllAvailable()
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val result = spark.table(name).where(col("click_id") =!= s"c_$farIdx")
    val innerRows = result.where(col("purchase_id").isNotNull).count()
    val outerRows = result.where(col("purchase_id").isNull).count()
    q.stop()
    spark.sql(s"DROP VIEW IF EXISTS $name")
    // clicks actually pushed, not the requested nClicks: a non-divisible
    // event-count override drops nClicks % nBatches indices on the floor,
    // and counting them would overstate rows_per_sec (ADVICE r15)
    val total = chunks.map(_.size.toLong).sum + nPurchases
    JoinResult(total / elapsed, total, math.rint(elapsed * 1000) / 1000,
      chunks.size.toLong, stateRows, innerRows, outerRows, stateCurve.toSeq)
  }

  final case class LargeStateResult(rowsPerSec: Double, rows: Long,
      elapsedSec: Double, stateRows: Long, outRows: Long, memBudgetMb: Int,
      sstMb: Long, changelog: Boolean, batchRps: Seq[Long]) {
    def json: String =
      s"""{"rows_per_sec":${rowsPerSec.round},"rows":$rows,""" +
        s""""elapsed_sec":$elapsedSec,"state_rows":$stateRows,""" +
        s""""out_rows":$outRows,"rocksdb_budget_mb":$memBudgetMb,""" +
        s""""sst_mb":$sstMb,"changelog":$changelog,""" +
        s""""batch_rps":${batchRps.mkString("[", ",", "]")}}"""
  }

  /** Beyond-memory state probe (VERDICT r9 ask #5): first-seen dedup
    * ([[TwsDedup]], ttl = None so ids are NEVER evicted) on the RocksDB
    * state-store provider with `boundedMemoryUsage` capped at
    * `memBudgetMb` — the id set grows past the store's memory budget and
    * RocksDB works off local SSTs, which is the mechanism a 1000-executor
    * cluster runs on when state outgrows executor memory. Every 10th
    * event duplicates the id from position i/2 — HALF the stream back, so
    * dedup hits are point lookups deep into old SSTs, not memtable hits.
    * Per-batch rows/s is the number to watch: a state-size-dependent
    * store would decay across batches as state grows; a log-structured
    * one holds roughly flat. State keys are ~15-byte strings + store
    * overhead, so the default 2M keys comfortably exceed a 64 MB budget.
    *
    * Same pinned-partition discipline as [[probe]] (the constant-config
    * series rationale); the provider/budget confs are restored after so a
    * sharing session (Bench) keeps its own settings. */
  def probeLargeState(spark: SparkSession, nEvents: Long = 2000000L,
                      nBatches: Int = 10, memBudgetMb: Int = 64,
                      changelog: Boolean = true): LargeStateResult = {
    val restore = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", ProbePartitions)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
      memBudgetMb.toString)
    // changelog checkpointing: per-commit durability cost ∝ the BATCH's
    // changes instead of a full state snapshot (∝ state size) — the
    // production config for state ≫ budget, and the measured difference
    // between a flat and a linearly-decaying batch_rps curve below
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelog.toString)
    try probeLargeStatePinned(spark, nEvents, nBatches, memBudgetMb, changelog)
    finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def probeLargeStatePinned(spark: SparkSession, nEvents: Long,
      nBatches: Int, memBudgetMb: Int, changelog: Boolean): LargeStateResult = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0ms = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val perBatch = (nEvents / nBatches).toInt
    // UUID-shaped ids (md5-hex of the position): 36-char incompressible
    // keys with no shared prefixes — the production id shape, and the one
    // RocksDB can't shrink via prefix compression; ~2M such keys put the
    // SST footprint several× over a 64 MB budget (the record reports the
    // measured sst_mb next to the budget)
    // per-call digest instance: the build now runs executor-side across
    // tasks, and MessageDigest is neither thread-safe nor serializable
    def hex(i: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ev(i: Long): DedupEvent = {
      // every 10th row re-sends the id from position i/2 — half the
      // stream back. (When i/2 itself was a duplicate row, that id never
      // existed and the "duplicate" is a genuine first-seen;
      // deterministic either way.)
      val key = if (i % 10 == 9) i / 2 else i
      DedupEvent(s"evt_${hex(key)}", new java.sql.Timestamp(t0ms + i), (i % 9973) / 100.0)
    }
    // index ranges pre-generated; DedupEvents build executor-side — 200k
    // pre-built events per batch rode the task binary at ~12 MB before
    val chunks: IndexedSeq[IndexedSeq[Long]] =
      (0 until nBatches).map(b =>
        (0 until perBatch).map(j => b.toLong * perBatch + j))
    val ms = MemoryStream[Long](ProbePartitions.toInt)
    val out = TwsDedup(ms.toDS().map(ev), ttl = None).toDF()
    val name = s"stream_large_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .format("memory").queryName(name).start()
    val clock0 = System.nanoTime()
    val batchRps = chunks.map { c =>
      val b0 = System.nanoTime()
      ms.addData(c: _*); q.processAllAvailable()
      (perBatch / ((System.nanoTime() - b0) / 1e9)).round
    }
    val elapsed = (System.nanoTime() - clock0) / 1e9
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    // on-disk state footprint (RocksDB's own metric, summed over the
    // store shards) — the record's evidence that state genuinely exceeds
    // the configured memory budget rather than fitting in block cache
    val sstMb = Option(q.lastProgress).map(_.stateOperators.map(op =>
      Option(op.customMetrics.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(0L))
      .sum / (1024 * 1024)).getOrElse(-1L)
    val outRows = spark.table(name).count()
    q.stop()
    spark.sql(s"DROP VIEW IF EXISTS $name")
    val total = perBatch.toLong * nBatches
    LargeStateResult(total / elapsed, total, math.rint(elapsed * 1000) / 1000,
      stateRows, outRows, memBudgetMb, sstMb, changelog, batchRps.toSeq)
  }

  /** Standalone CLI: prints the one-line JSON record. Env overrides:
    * SPARK_GRAFT_STREAM_EVENTS, SPARK_GRAFT_STREAM_BATCHES, SPARK_GRAFT_CPUS.
    * With arg `large`, runs [[probeLargeState]] instead (the beyond-memory
    * RocksDB record; SPARK_GRAFT_STREAM_BUDGET_MB overrides the budget);
    * with arg `join`, the stream-stream attribution-join probe
    * [[probeJoin]]; with arg `mv`, the MV-fold probe [[probeMvFold]]. */
  def main(args: Array[String]): Unit = {
    // streaming = false: the probes measure the default HDFS-backed state
    // store (the `large` probe sets RocksDB itself), so the band keeps its
    // meaning
    val spark = graft.SparkSessions.recommended("graft-stream-bench")
    if (args.headOption.contains("mv")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "1000000").toLong
      val b = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "20").toInt
      probeMvFold(spark, n / 10, math.max(b / 5, 2)) // untimed warm pass
      val r = probeMvFold(spark, n, b)
      println(s"""{"metric":"stream_mv_fold_rows_per_sec","value":${r.rowsPerSec.round},"unit":"rows/sec","detail":${r.json}}""")
      spark.stop(); return
    }
    if (args.headOption.contains("join2x")) {
      // Doubled window AND delay at the SAME corpus/batch span (VERDICT
      // r15 #6): join state retains rows spanning ~(window + delay) of
      // event time, so windows-in-flight doubles while corpus size holds —
      // the state_curve plateau must read ~2x the `join` probe's, pinning
      // that state scales with windows-in-flight, not corpus. Users double
      // too (the require above: consecutive same-user clicks must stay
      // outside the doubled window), which leaves the plateau untouched —
      // retention is event-time-driven, not key-count-driven.
      val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "120000").toLong
      val b = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "12").toInt
      val w2 = StreamJoin.WindowSeconds * 2
      val d2 = StreamJoin.DelaySeconds * 2
      probeJoin(spark, n / 4, math.max(b / 4, 2), w2, d2, JoinUsers * 2)
      val r = probeJoin(spark, n, b, w2, d2, JoinUsers * 2)
      println(s"""{"metric":"stream_join2x_rows_per_sec","value":${r.rowsPerSec.round},"unit":"rows/sec","detail":${r.json}}""")
      spark.stop(); return
    }
    if (args.headOption.contains("pair")) {
      // One child JVM, two records (VERDICT r16 #6): the flagship and
      // join probes previously forked a JVM each — ~10 s of JVM + session
      // startup per fork, ×3 best-of forks ×2 probes was the bench's
      // biggest fixed overhead after the suite itself. Probe order
      // matches the bench's record order (flagship first); each probe
      // keeps its own untimed warm pass, and the bench re-pins both
      // bands on the folded fork (BASELINE.md round 17). Bench defaults
      // only — env overrides would be ambiguous across the two probes,
      // so a set one is named as ignored rather than dropped silently.
      val ignored = Seq("SPARK_GRAFT_STREAM_EVENTS", "SPARK_GRAFT_STREAM_BATCHES").filter(sys.env.contains)
      if (ignored.nonEmpty)
        System.err.println(s"StreamBench pair: ignoring ${ignored.mkString(", ")}; pair mode runs the bench defaults")
      probe(spark, 60000L, 3)
      val r = probe(spark)
      println(s"""{"metric":"stream_rows_per_sec","value":${r.rowsPerSec.round},"unit":"rows/sec","detail":${r.json}}""")
      probeJoin(spark, 30000L, 3)
      val rj = probeJoin(spark)
      println(s"""{"metric":"stream_join_rows_per_sec","value":${rj.rowsPerSec.round},"unit":"rows/sec","detail":${rj.json}}""")
      spark.stop(); return
    }
    if (args.headOption.contains("join")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "120000").toLong
      val b = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "12").toInt
      // untimed warm pass (codegen for the join plan), then the record
      probeJoin(spark, n / 4, math.max(b / 4, 2))
      val r = probeJoin(spark, n, b)
      println(s"""{"metric":"stream_join_rows_per_sec","value":${r.rowsPerSec.round},"unit":"rows/sec","detail":${r.json}}""")
      spark.stop(); return
    }
    if (args.headOption.contains("large")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "2000000").toLong
      val b = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
      val mb = sys.env.getOrElse("SPARK_GRAFT_STREAM_BUDGET_MB", "64").toInt
      val cl = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHANGELOG", "true").toBoolean
      // untimed warm pass at 1/10 size (JIT + codegen + RocksDB init)
      probeLargeState(spark, n / 10, math.max(b / 5, 2), mb, cl)
      val r = probeLargeState(spark, n, b, mb, cl)
      println(s"""{"metric":"stream_large_state_rows_per_sec","value":${r.rowsPerSec.round},"unit":"rows/sec","detail":${r.json}}""")
    } else {
      val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "240000").toLong
      val b = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "12").toInt
      // untimed warm pass (JIT + codegen for the streaming plan), then the record
      probe(spark, n / 4, math.max(b / 4, 2))
      val r = probe(spark, n, b)
      println(s"""{"metric":"stream_rows_per_sec","value":${r.rowsPerSec.round},"unit":"rows/sec","detail":${r.json}}""")
    }
    spark.stop()
  }
}
