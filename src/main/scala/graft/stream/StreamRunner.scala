package graft.stream

import org.apache.spark.sql.streaming.Trigger

/**
 * CLI entry for the streaming pipeline: drain a directory of JSON-lines
 * event files through the full reference pipeline into country-partitioned
 * parquet, then print what was written.
 *
 * Usage: StreamRunner <inputJsonDir> <outputParquetDir> <checkpointDir>
 *
 * The same wiring with [[StreamPipeline.Kafka]] instead of
 * [[StreamPipeline.JsonFiles]] is the production deployment (needs the
 * spark-sql-kafka connector on the classpath).
 */
object StreamRunner {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: StreamRunner <inputJsonDir> <outputParquetDir> <checkpointDir>")
      sys.exit(2)
    }
    val Array(inDir, outDir, chkDir) = args
    val spark = graft.SparkSessions.recommended("graft-stream", streaming = true)

    val out = StreamPipeline.plan(spark,
      StreamPipeline.read(spark, StreamPipeline.JsonFiles(inDir)))
    val q = StreamPipeline.writer(out,
      StreamPipeline.ParquetSink(outDir, chkDir, Trigger.AvailableNow())).start()
    q.awaitTermination()

    // an empty input writes no data files (the sink leaves only
    // _spark_metadata) — report zero rows instead of crashing on the
    // unreadable output
    try {
      val written = spark.read.parquet(outDir)
      written.orderBy("country", "event_date").show(50, truncate = false)
      println(s"rows=${written.count()}")
    } catch {
      case _: org.apache.spark.sql.AnalysisException => println("rows=0")
    }
    spark.stop()
  }
}
