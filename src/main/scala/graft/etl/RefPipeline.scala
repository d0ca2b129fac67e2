package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.model.{ProductDim, Schemas, UserDim}

/**
 * The reference streaming pipeline's stages (reference spark/app.py:52–184),
 * re-expressed as pure `DataFrame => DataFrame` functions.
 *
 * Each stage works unchanged on batch AND streaming DataFrames (Spark's
 * unified API) — the key structural improvement over the reference, which
 * duplicated its logic across PySpark (streaming) and pandas (batch).
 *
 * Scale notes:
 *  - Every stage is a narrow transformation except `deduplicate` (stateful /
 *    shuffle on event_id) and `aggregate` (shuffle on group keys) — exactly
 *    the two places a 100 TB run shuffles, and both shuffle on
 *    high-cardinality keys so they parallelize across 1000 executors.
 *  - The dims are broadcast (reference app.py:136 forces the hint with
 *    autoBroadcast disabled, app.py:26); a 5-row and an 8-row table must
 *    never shuffle the fact side.
 */
object RefPipeline {

  /** Sliding window length and slide of [[aggregate]]. */
  val Window = "1 minute"
  val Slide = "30 seconds"

  /** Event-time watermark delay of the streaming pipeline (reference
    * app.py:160): how late a row may arrive and still count. */
  val Watermark = "30 seconds"

  /** P1–P3 (reference app.py:61–63): Kafka value bytes → string → JSON
    * struct → flattened columns. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), Schemas.eventPayload).as("data"))
      .select("data.*")

  /** P4 (reference app.py:66–70) as a genuine Scala UDF — kept to preserve
    * the declared UDF capability (SURVEY §2.9). */
  val normalizeDeviceUdf: UserDefinedFunction =
    udf((d: String) =>
      if (d == null) "unknown"
      else d.trim.toLowerCase(java.util.Locale.ROOT))  // locale-stable, ≡ Spark lower()

  /** P4 as pure built-ins — codegen-friendly twin of the UDF; the hot path
    * uses this. Tests assert equivalence (SURVEY §2.9). */
  def normalizeDevice(c: Column): Column =
    coalesce(lower(trim(c)), lit("unknown"))

  /** P4–P8 (reference app.py:66–75): normalize device, uppercase country,
    * parse timestamp, fill nulls. The row-local half of cleaning, shared by
    * the batch [[clean]] and [[graft.stream.StreamPipeline.cleanStream]]. */
  def scalarClean(parsed: DataFrame): DataFrame =
    parsed
      .withColumn("device_norm", normalizeDevice(col("device")))
      .withColumn("country", upper(col("country")))
      .withColumn("event_time", to_timestamp(col("event_time")))
      .na.fill(Map("amount" -> 0.0, "country" -> "UNKNOWN", "device_norm" -> "unknown"))

  /** P4–P8 + D1 (reference app.py:66–79): [[scalarClean]], then drop
    * duplicate event_ids.
    *
    * Dedup semantics: the reference calls dropDuplicates BEFORE any
    * watermark (app.py:77–79), so its state is unbounded (SURVEY §2.6 ⚠).
    * Batch callers get exact dedup; streaming callers should use
    * [[graft.stream.StreamPipeline]] which bounds state with
    * dropDuplicatesWithinWatermark — an intentional, documented deviation.
    */
  def clean(parsed: DataFrame): DataFrame =
    scalarClean(parsed).dropDuplicates("event_id")

  /** Our dimension fixtures (reference app.py:87–125 shape; our values). */
  def usersDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      UserDim(1, "starter",    is_premium = false, "IN"),
      UserDim(2, "growth",     is_premium = true,  "US"),
      UserDim(3, "growth",     is_premium = true,  "DE"),
      UserDim(4, "starter",    is_premium = false, "US"),
      UserDim(5, "enterprise", is_premium = true,  "US")).toDF()
  }

  def productsDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ProductDim(1, "media",    "low"),
      ProductDim(2, "hardware", "high"),
      ProductDim(3, "apparel",  "medium"),
      ProductDim(4, "food",     "low"),
      ProductDim(5, "services", "high"),
      ProductDim(6, "media",    "medium"),
      ProductDim(7, "hardware", "medium"),
      ProductDim(8, "food",     "medium")).toDF()
  }

  /** J1–J3 (reference app.py:128–137): broadcast-join users (minus its
    * `country`, so the event's country survives unambiguously — app.py:132),
    * then join products. Both dims tiny ⇒ both broadcast: at 100 TB the
    * fact side must never shuffle for a kilobyte-sized dimension. The
    * reference shuffles the products join only because it disabled
    * auto-broadcast and hinted just one side; we hint both. */
  def enrich(cleaned: DataFrame, users: DataFrame, products: DataFrame): DataFrame =
    cleaned
      .join(broadcast(users.drop("country")), Seq("user_id"), "left")
      .join(broadcast(products), Seq("product_id"), "left")

  /** P10 (reference app.py:140–156): SQL projection through a temp view —
    * SQL and DataFrame APIs converge on one logical plan. */
  def projectFact(spark: SparkSession, enriched: DataFrame): DataFrame = {
    enriched.createOrReplaceTempView("fact_events")
    spark.sql("""
      SELECT event_id, user_id, product_id, amount, event_time,
             country, device_norm, segment, is_premium, category
      FROM fact_events""")
  }

  /** T1–T2 + A1–A4 (reference app.py:158–174): sliding-window aggregation.
    * It sets no watermark: the streaming plan's [[Watermark]] is set once,
    * before the bounded dedup, and gates every chained stateful operator
    * (Spark 4 disallows redefining it); batch inputs need none. */
  def aggregate(fact: DataFrame): DataFrame =
    fact
      .groupBy(window(col("event_time"), Window, Slide), col("country"), col("segment"))
      .agg(
        sum("amount").as("total_amount"),
        approx_count_distinct("event_id").as("unique_events"),
        max("event_time").as("max_event_time"))

  /** P11–P12 + P9 + T8 (reference app.py:177–184): derive event_date from
    * window.end, drop the struct, align partitioning with the sink's
    * partition column so each task writes one country directory. */
  def flatten(agg: DataFrame): DataFrame =
    agg
      .withColumn("event_date", to_date(col("window.end")))
      .drop("window")
      .repartition(col("country"))

  /** Whole reference pipeline, batch or streaming (parse → clean → enrich →
    * project → aggregate → flatten). */
  def full(spark: SparkSession, raw: DataFrame): DataFrame = {
    val fact = projectFact(spark, enrich(clean(parse(raw)), usersDim(spark), productsDim(spark)))
    flatten(aggregate(fact))
  }
}
