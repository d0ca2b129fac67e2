package graft.batch

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The daily batch job — reference entry point 3 (airflow/dags/
 * kafka_spark_etl.py:31–109) re-expressed as ONE lazy Catalyst query where
 * the reference ran 8 eager pandas steps in a single process.
 *
 * Input: the streaming layer's country-partitioned parquet (FIXTURES §A.3:
 * country, segment, total_amount, unique_events, max_event_time,
 * event_date). Steps: day filter (P13) → empty guard (P14) → daily
 * aggregate (A5) → per-country revenue rank (O1+W1) → segment dim dedup +
 * join (D2+J4) → premium rollup (A6) → single-file parquet (K3) → row-count
 * quality gate (X2, soft — warn, never fail, like the reference).
 *
 * Scale: the day filter lands on `event_date`/`country` partition pruning
 * (DPP-eligible), the aggregate shuffles once on (date,country,segment) —
 * high-cardinality enough to shard; the rank window partitions by
 * (date,country), never a global sort; the dim join broadcasts. At 100 TB
 * the pandas original simply does not run; this plan's only wide stages are
 * two keyed shuffles and one broadcast.
 */
object DailyBatch {

  /** segment → is_premium dim (reference kafka_spark_etl.py:81–93 shape,
    * deduped on the join key like its drop_duplicates("segment")). */
  def segmentDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("starter", false), ("growth", true), ("enterprise", true),
      ("starter", false)  // duplicate on purpose: D2 must collapse it
    ).toDF("segment", "is_premium").dropDuplicates("segment")
  }

  /** The reference's intermediate `daily` table (kafka_spark_etl.py:63–78):
    * per-(day, country, segment) metrics with the in-country revenue rank.
    * Exposed as a first-class output — the reference computed the rank and
    * then dropped it on the floor in its final merge; here consumers that
    * want the ranked table get it, and [[summarize]] rolls up WITHOUT
    * computing a window Catalyst would only prune away. */
  def dailyRanked(spark: SparkSession, factDir: String, runDate: String): DataFrame = {
    val w = Window.partitionBy(col("event_date"), col("country"))
      .orderBy(col("daily_revenue").desc, col("segment"))
    daily(spark, factDir, runDate)
      .withColumn("revenue_rank_in_country", row_number().over(w).cast("long"))
  }

  private def daily(spark: SparkSession, factDir: String, runDate: String): DataFrame =
    spark.read.parquet(factDir)
      .filter(col("event_date") === lit(runDate).cast("date"))
      .groupBy(col("event_date"), col("country"), col("segment"))
      .agg(
        sum(col("total_amount")).as("daily_revenue"),
        sum(col("unique_events")).as("daily_events"))

  /** The summary rollup the job writes (reference's A.4 contract). */
  def summarize(spark: SparkSession, factDir: String, runDate: String): DataFrame =
    daily(spark, factDir, runDate)
      .join(broadcast(segmentDim(spark)), Seq("segment"), "left")
      .groupBy(col("event_date"), col("country"), col("is_premium"))
      .agg(sum(col("daily_revenue")).as("total_revenue"))

  /** Run + write + quality-check. Returns the row count (the reference's
    * XCom metric). Soft gate: an empty day logs a warning and still writes,
    * exactly like quality_check (kafka_spark_etl.py:127–142). */
  def run(spark: SparkSession, factDir: String, runDate: String, outDir: String): Long = {
    val summary = summarize(spark, factDir, runDate)
    summary.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/metrics_$runDate.parquet")
    val n = spark.read.parquet(s"$outDir/metrics_$runDate.parquet").count()
    if (n == 0)
      System.err.println(s"[daily-batch] WARNING: 0 rows for run_date=$runDate (soft gate)")
    n
  }

  /** CLI: DailyBatch <factParquetDir> <runDate yyyy-MM-dd> <outDir>. */
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: DailyBatch <factParquetDir> <runDate yyyy-MM-dd> <outDir>")
      sys.exit(2)
    }
    val Array(factDir, runDate, outDir) = args
    val spark = graft.SparkSessions.recommended("graft-daily-batch")
    val n = run(spark, factDir, runDate, outDir)
    println(s"row_count=$n")
    spark.stop()
  }
}
