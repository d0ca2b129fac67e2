package graft

import org.apache.spark.sql.SparkSession

import graft.util.{NioLocalFileSystem, NioLocalFs}

/**
 * The one session recipe of this engine. Every entry point (Verify, Bench,
 * StreamRunner, DailyBatch, CurateRunner, Explain, Profile)
 * builds its session through [[recommended]], so they all plan and compute
 * under the same [[Engine]] settings; the test session (`SparkSpec`) layers
 * its fixed master and warehouse over the same [[Engine]] map.
 *
 * Rationale per knob:
 *  - master ([[settings]]): `SPARK_MASTER` env wins for ad-hoc runs; else
 *    spark-submit's `--master` (the `spark.master` system property) is left
 *    alone, since a code-set master would override it; else
 *    `local[$SPARK_GRAFT_CPUS]`; `local[4]` only as the last-resort default
 *    for bare `sbt runMain`.
 *  - shuffle partitions: `SPARK_GRAFT_CPUS` if set, else the local master's
 *    thread count — on a cluster, set it to 2–3× total executor cores and
 *    let AQE coalesce the excess.
 *  - AQE + coalesce + skew-join + 128 MB scan partitions: Spark 4 defaults,
 *    pinned here so a deployment-side conf file can't silently regress them
 *    (the reference pins the same AQE flags, spark/app.py:20–22).
 *  - streaming: the three settings of [[Streaming]], rationale there.
 *  - `file:` filesystem: the two classes of [[LocalFiles]], rationale there.
 *  - UTC session timezone: zone-independent, oracle-comparable timestamps.
 *  - `nanosAsLong`: corpus events.parquet may be TIMESTAMP_NS; set at build
 *    time, never as a loader side effect (see Tables.events).
 *  - FAIR job scheduling for the concurrent-job phase (SnapshotBuild): under
 *    FIFO its many small jobs queue behind other artifacts' wide stages
 *    (measured 14.6 s → 11.0 s for the section at sf0.1). Single-query
 *    execution is unaffected (FAIR ≡ FIFO for one job).
 *  - runtime bloom-filter injection OFF: the rule sizes the application
 *    side from plan statistics, and this engine's shared snapshot
 *    artifacts (checkpointed LogicalRDDs — SnapshotCache) carry NO stats,
 *    so every snapshot-probing join looks like a multi-TB scan and gets a
 *    fixed 8M-bit bloom that rides every downstream task binary (~1 MiB
 *    per stage, the r11 "large task binary" bench warnings) while pruning
 *    nothing (the probes are FK-complete by construction — measured on
 *    knn_label_eval, the only injection across all 200+ registered
 *    queries). Where a semi-join reduction IS profitable this engine
 *    writes it explicitly (left_semi dims, posting-list prefilters,
 *    broadcast hints), so the automatic rule only ever fires on the
 *    misinformed cases. Re-enable per-deployment if a workload relies on
 *    inferred reductions over well-statted scans.
 */
object SparkSessions {

  /** What `recommended(streaming = true)` adds, in one value so the specs
    * run the state and listing config the deployed path runs:
    *  - RocksDB state store: dedup keys, open windows, sessions and join
    *    buffers spill off-heap to local disk instead of living on the JVM
    *    heap. The provider is recorded in the checkpoint and cannot change
    *    across restarts — it only takes effect for NEW checkpoints.
    *  - changelog checkpointing: each state-store commit writes the batch's
    *    changes (`N.changelog`) instead of a full snapshot (`N.zip`) per
    *    partition per stateful operator; snapshots move to background
    *    maintenance. A small micro-batch's commit then costs what it
    *    changed, not what the store holds: a third to a half less commit
    *    time on the trickle path (CHANGES.md cites the traced record). It
    *    can be turned on over an existing RocksDB checkpoint written
    *    without it: recovery loads the last snapshot and replays changelogs
    *    on top (DeployedStreamConfSpec restarts a snapshot-only one).
    *  - parallel listing threshold: the file source hands each batch's new
    *    files to an index that, above this many paths, lists them in a
    *    Spark job with one task per file — a whole extra job per
    *    micro-batch for what is a driver-side stat per file, cheap on local
    *    disk and HDFS (one NameNode RPC). Raised well above any per-batch
    *    file count so the driver stats them itself. Caveat: on an object
    *    store (S3, GCS) each stat is a remote round trip, so a batch of
    *    many thousand files lists faster in parallel — cap the batch with
    *    `maxFilesPerTrigger` there, or lower this threshold. */
  val Streaming: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000")

  /** The `file:` filesystem every session here builds, for both Hadoop
    * entry points: `fs.file.impl` for the `FileSystem` API (parquet sink
    * part files, DailyBatch output) and `fs.AbstractFileSystem.file.impl`
    * for the `FileContext` API (offset, commit and source logs, state-store
    * changelogs and snapshots, the sink's metadata log).
    *
    * Why: without the native Hadoop library (the `NativeCodeLoader` warning
    * at start-up), Hadoop's local filesystem starts a shell `chmod` for every
    * file and directory it creates, `.crc` files included, and a shell
    * `readlink` on both sides of every `FileContext` rename. One state-store
    * changelog commit is two atomic files, each with a `.crc`: 12 process
    * starts, about 100 ms per task with almost no CPU, on every micro-batch
    * and stateful partition. [[graft.util.NioRawLocalFileSystem]] makes the
    * same two calls through `java.nio`.
    *
    * Unchanged: the same files land on disk, `.crc` checksums included, with
    * the same permission bits, and renames keep the same sequence, including
    * the no-overwrite check the offset log relies on. Other schemes (`hdfs:`,
    * `s3a:`) are not affected. Set at build time, not per query, because
    * Hadoop caches one `FileSystem` instance per scheme.
    *
    * Left unset, `fs.file.impl` resolves through Hadoop's ServiceLoader
    * registry, where Hive's `ProxyLocalFileSystem` (hive-exec, on Spark's
    * classpath) registers after `LocalFileSystem` and wins. It is a
    * `LocalFileSystem` that refuses a `FileSystem` rename onto an existing
    * file; the sink, checkpoint and DailyBatch writes make no such rename,
    * so the class here keeps Hadoop's own. */
  val LocalFiles: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Every setting that results or plans depend on, the same for every
    * entry point and for the test session (rationale per knob above). */
  val Engine: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
    "spark.scheduler.mode" -> "FAIR",
    "spark.ui.enabled" -> "false") ++ LocalFiles

  private val LocalMaster = "local\\[(\\d+)(?:,\\d+)?\\]".r
  private val LocalStar = "local(?:\\[\\*(?:,\\d+)?\\])?".r

  /** The conf [[recommended]] builds from an environment and the JVM's
    * system properties: [[Engine]], the master and shuffle partitions they
    * resolve to, and [[Streaming]] when `streaming`. The map carries no
    * `spark.master` when spark-submit's is to be left alone. */
  def settings(streaming: Boolean, env: Map[String, String],
               props: Map[String, String]): Map[String, String] = {
    val master = env.get("SPARK_MASTER")
      .orElse(props.get("spark.master"))
      .orElse(env.get("SPARK_GRAFT_CPUS").map(n => s"local[$n]"))
      .getOrElse("local[4]")
    val defaultParts = master match {
      case LocalMaster(n) => n
      case LocalStar()    => Runtime.getRuntime.availableProcessors().toString
      case _              => "200"   // cluster: expect SPARK_GRAFT_CPUS or AQE
    }
    val leaveMaster = props.contains("spark.master") && !env.contains("SPARK_MASTER")
    Engine ++
      (if (leaveMaster) Map.empty else Map("spark.master" -> master)) ++
      Map("spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_GRAFT_CPUS", defaultParts)) ++
      (if (streaming) Streaming else Map.empty)
  }

  def recommended(appName: String, streaming: Boolean = false): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(settings(streaming, sys.env, sys.props.toMap))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
