package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.etl.RefPipeline

/**
 * Streaming wiring for the reference pipeline (SURVEY §2.1, §2.8):
 * source →  parse → clean(+bounded dedup) → enrich → aggregate → flatten →
 * sink(s), all behind small config ADTs so tests drive the identical plan
 * from MemoryStream/file sources without Kafka or docker (SURVEY §7.1).
 *
 * Scale notes:
 *  - Source parallelism = Kafka partition count; at production scale the
 *    topic needs ≥ executor-core partitions (the reference's 3-partition
 *    topic caps it at 3 tasks — docker-compose.yml:63).
 *  - The ONLY stateful stages are dedup and the windowed aggregate; both
 *    key on high-cardinality columns, so state shards evenly across
 *    executors' RocksDB/HDFS-backed StateStores.
 *  - Dedup state is watermark-bounded ([[cleanStream]]) — the reference
 *    dedups before its watermark (app.py:77–79 vs 160), so its state grows
 *    forever; ours evicts keys older than the watermark, the fix SURVEY
 *    §7.5.1 calls out as the one intentional semantic deviation.
 */
object StreamPipeline {

  // ---------------------------------------------------------------- sources

  sealed trait Source
  /** S1 (reference app.py:53–59). Requires the spark-sql-kafka connector on
    * the classpath at deploy time (not shipped in this dev image). */
  final case class Kafka(bootstrapServers: String, topic: String,
                         startingOffsets: String = "earliest") extends Source
  /** Newline-delimited JSON files — the test/dev stand-in with identical
    * downstream semantics (each line = one Kafka value). */
  final case class JsonFiles(path: String) extends Source
  /** Synthetic rate source (smoke/load tests without any infra). */
  final case class Rate(rowsPerSecond: Int) extends Source

  /** The exact reader options [[read]] sets for a Kafka source — factored
    * out so the deploy contract is spec-assertable without the connector
    * jar (which plan RESOLUTION needs; the deploy-gate test pins that
    * failure mode). An option-name typo here would otherwise surface only
    * on a real cluster. */
  def kafkaSourceOptions(cfg: Kafka): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> cfg.bootstrapServers,
    "subscribe" -> cfg.topic,
    "startingOffsets" -> cfg.startingOffsets)

  /** The schema the kafka connector presents after load() (public contract
    * of spark-sql-kafka-0-10, stable across 3.x/4.x): `value` is BINARY —
    * [[graft.etl.RefPipeline.parse]]'s cast-from-binary is written against
    * this, and KafkaContractSpec feeds a frame of THIS shape through the
    * real parse path so a drift in either side fails in-sandbox. */
  val kafkaSourceSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("topic",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("timestampType",
        org.apache.spark.sql.types.IntegerType)))

  /** Raw stream with a `value` column, whatever the source. */
  def read(spark: SparkSession, src: Source): DataFrame = src match {
    case cfg: Kafka =>
      kafkaSourceOptions(cfg).foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()                                   // [[kafkaSourceSchema]]
    case JsonFiles(path) =>
      spark.readStream.text(path)   // the text source's column IS `value`
    case Rate(rps) =>
      spark.readStream.format("rate").option("rowsPerSecond", rps.toLong).load()
        .select(to_json(struct(
          concat(lit("evt_"), col("value")).as("event_id"),
          (col("value") % 5 + 1).cast("int").as("user_id"),
          (col("value") % 8 + 1).cast("int").as("product_id"),
          (rand(42) * 100).as("amount"),
          // no zone suffix: the string round-trips through to_timestamp in
          // the SAME session timezone; a literal 'Z' would shift the
          // instant whenever the session isn't UTC
          date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss").as("event_time"),
          lit("US").as("country"),
          lit("MOBILE").as("device"))).as("value"))
  }

  // ---------------------------------------------------------------- stages

  /** Streaming clean: the batch twin's [[RefPipeline.scalarClean]], but the
    * dedup is `dropDuplicatesWithinWatermark` AFTER the watermark, so state
    * for an event_id is dropped once the watermark passes it. */
  def cleanStream(parsed: DataFrame): DataFrame =
    RefPipeline.scalarClean(parsed)
      .withWatermark("event_time", RefPipeline.Watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Full streaming plan: the same stage functions as the batch twin —
    * parse (P1–P3), clean, enrich (J1–J3), aggregate (T1/T2, A1–A4),
    * flatten (P11/P12, T8). The watermark set before the dedup propagates
    * through the joins to the aggregate. */
  def plan(spark: SparkSession, raw: DataFrame): DataFrame = {
    val fact = RefPipeline.enrich(cleanStream(RefPipeline.parse(raw)),
      RefPipeline.usersDim(spark), RefPipeline.productsDim(spark))
    RefPipeline.flatten(RefPipeline.aggregate(fact))
  }

  // ---------------------------------------------------------------- sinks

  sealed trait Sink
  /** K1 (reference app.py:189–197): append-mode country-partitioned parquet,
    * checkpointed, fixed trigger. Each query gets its OWN checkpoint dir —
    * sharing one between queries corrupts offsets (SURVEY §2.8 T5). */
  final case class ParquetSink(path: String, checkpoint: String,
                               trigger: Trigger = Trigger.ProcessingTime("30 seconds")) extends Sink
  /** K2 (reference app.py:200–205): update-mode console debug sink. */
  final case class Console(trigger: Trigger = Trigger.ProcessingTime("30 seconds")) extends Sink
  /** In-memory table sink for tests (`spark.table(name)`). Default trigger
    * keeps the query alive across addData/processAllAvailable rounds —
    * AvailableNow would terminate after the first drain. */
  final case class Memory(name: String, outputMode: String = "append",
                          trigger: Trigger = Trigger.ProcessingTime(0L)) extends Sink
  /** Kafka write-back (K4 analog): aggregate rows re-serialized to JSON. */
  final case class KafkaSink(bootstrapServers: String, topic: String,
                             checkpoint: String) extends Sink
  /** foreachBatch escape hatch — the production pattern for upserts/merges
    * into external stores: each micro-batch arrives as a regular DataFrame
    * plus its id (exactly-once when the target write is idempotent on the
    * batch id). */
  final case class ForeachBatch(fn: (DataFrame, Long) => Unit,
                                outputMode: String = "update",
                                trigger: Trigger = Trigger.ProcessingTime(0L)) extends Sink

  /** K4's value serialization (reference kafka write-back): every column
    * folded into one JSON `value` string — the shape the kafka sink
    * requires. Factored out so KafkaContractSpec can run it on a batch
    * frame and assert the round-trip without a broker. */
  def kafkaPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))

  /** The exact writer options [[writer]] sets for a [[KafkaSink]] — the
    * sink-side twin of [[kafkaSourceOptions]], spec-assertable without
    * the connector (DataStreamWriter keeps its option map private). */
  def kafkaSinkOptions(sink: KafkaSink): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> sink.bootstrapServers,
    "topic" -> sink.topic,
    "checkpointLocation" -> sink.checkpoint)

  def writer(df: DataFrame, sink: Sink): DataStreamWriter[Row] = sink match {
    case ParquetSink(path, chk, trig) =>
      df.writeStream.outputMode("append").format("parquet")
        .option("path", path).option("checkpointLocation", chk)
        .partitionBy("country").trigger(trig)
    case Console(trig) =>
      df.writeStream.outputMode("update").format("console")
        .option("truncate", "false").trigger(trig)
    case Memory(name, mode, trig) =>
      df.writeStream.outputMode(mode).format("memory").queryName(name).trigger(trig)
    case s: KafkaSink =>
      kafkaSinkOptions(s).foldLeft(
        kafkaPayload(df).writeStream.outputMode("append").format("kafka")) {
        case (w, (k, v)) => w.option(k, v)
      }
    case ForeachBatch(fn, mode, trig) =>
      df.writeStream.outputMode(mode)
        .foreachBatch((batch: org.apache.spark.sql.Dataset[Row], id: Long) => fn(batch.toDF(), id))
        .trigger(trig)
  }

  def start(df: DataFrame, sink: Sink): StreamingQuery = writer(df, sink).start()

  /** Watermark delay on both sides of [[joinStreams]]. */
  val JoinWatermark = "30 seconds"

  /** [[joinStreams]] pairs an event with profile updates at most this many
    * seconds older. */
  val JoinIntervalSeconds = 60L

  /** Stream-stream interval join (beyond the reference's stream⋈static
    * joins): each event pairs with EVERY profile update in the preceding
    * [[JoinIntervalSeconds]] (a plain interval join — events duplicate when
    * several updates fall in the window; reducing to the single latest
    * match is a downstream dedup the caller owns, since append-mode
    * stream-stream joins cannot self-prune). Both sides carry watermarks,
    * so join state is bounded — Spark drops buffered rows once the
    * watermark passes the interval's reach. State shards by user_id.
    *
    * Inputs: events(user_id, event_time, …), profiles(p_user_id,
    * update_time, …). */
  def joinStreams(events: DataFrame, profiles: DataFrame): DataFrame =
    events.withWatermark("event_time", JoinWatermark)
      .join(
        profiles.withWatermark("update_time", JoinWatermark),
        expr(s"""
          user_id = p_user_id AND
          update_time <= event_time AND
          update_time >= event_time - INTERVAL $JoinIntervalSeconds SECONDS"""))
}
