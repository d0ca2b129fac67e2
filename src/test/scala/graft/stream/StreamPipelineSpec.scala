package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/**
 * Streaming semantics the DuckDB oracle can't check (SURVEY §5.2-2):
 * watermark late-drop, sliding-window membership, bounded dedup across
 * micro-batches, append-vs-update emission, and the parquet sink layout.
 * Driven through MemoryStream so each addData = one micro-batch.
 */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def json(id: String, t: String, amount: Double = 10.0,
                   user: Int = 1, country: String = "in"): String =
    s"""{"event_id":"$id","user_id":$user,"product_id":1,"amount":$amount,
       |"event_time":"$t","country":"$country","device":"MOBILE"}""".stripMargin.replace("\n", "")

  test("append mode emits windows only after watermark passes window end; late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val out = StreamPipeline.plan(spark, ms.toDF().withColumnRenamed("value", "value"))
    val q = StreamPipeline.start(out, StreamPipeline.Memory("agg_out"))

    def table() = spark.table("agg_out")

    // batch 1: two events in the same minute — no window can close yet
    ms.addData(json("a", "2024-01-01T00:00:10Z"), json("b", "2024-01-01T00:00:20Z", amount = 20.0))
    q.processAllAvailable()
    assert(table().count() == 0, "windows must not emit before watermark passes them")

    // batch 2: an event 5 minutes later advances the watermark past the
    // first two windows → they finalize and emit
    ms.addData(json("c", "2024-01-01T00:05:00Z"))
    q.processAllAvailable()
    val emitted = table().collect()
    assert(emitted.nonEmpty)
    // sliding 60s/30s: events a+b (00:00:10, 00:00:20) share windows
    // [23:59:30,00:00:30) and [00:00:00,00:01:00) → both emit total 30.0
    val totals = table().select("total_amount").as[Double].collect().sorted
    assert(totals.count(_ == 30.0) == 2, s"expected two 30.0 windows, got ${totals.mkString(",")}")

    // batch 3: a late event behind the watermark must be dropped silently
    val before = table().count()
    ms.addData(json("late", "2024-01-01T00:00:15Z", amount = 999.0))
    q.processAllAvailable()
    ms.addData(json("d", "2024-01-01T00:10:00Z"))
    q.processAllAvailable()
    val nineNineNine = table().filter($"total_amount" >= 999.0).count()
    assert(nineNineNine == 0, "late row leaked into a finalized window")
    assert(table().count() >= before)
    q.stop()
  }

  test("dedup within watermark drops duplicate event_ids across micro-batches, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val cleaned = StreamPipeline.cleanStream(graft.etl.RefPipeline.parse(ms.toDF()))
    val q = StreamPipeline.start(cleaned.select("event_id", "event_time", "amount"),
      StreamPipeline.Memory("dedup_out"))

    ms.addData(json("dup", "2024-01-01T00:00:10Z"))
    q.processAllAvailable()
    ms.addData(json("dup", "2024-01-01T00:00:15Z"))   // dup within watermark
    q.processAllAvailable()
    assert(spark.table("dedup_out").filter($"event_id" === "dup").count() == 1)

    // advance event time far past the watermark so the 'dup' key is evicted,
    // then the same id arrives again — bounded state means it's accepted
    ms.addData(json("x", "2024-01-01T01:00:00Z"))
    q.processAllAvailable()
    ms.addData(json("dup", "2024-01-01T01:00:05Z"))
    q.processAllAvailable()
    assert(spark.table("dedup_out").filter($"event_id" === "dup").count() == 2,
      "evicted key must be re-acceptable (watermark-bounded state)")

    val progress = q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    assert(progress.exists(_.numRowsTotal >= 0))      // state metrics exposed
    q.stop()
  }

  test("native session_window stage runs unchanged on a stream (append after watermark)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("user_id", "ts", "value")
      .withColumn("cents", graft.functions.Exact.cents(coalesce(col("value"), lit(0.0))))
      .withWatermark("ts", "10 seconds")
    val q = graft.batch.SqlSurfaceQueries.sessionAgg(events)
      .writeStream.format("memory").queryName("sess_native_out")
      .outputMode("append").start()
    // two events 10 s apart: one open session — nothing may emit yet
    ms.addData((1L, ts("2024-01-01T00:00:00Z"), 10.0),
      (1L, ts("2024-01-01T00:00:10Z"), 5.0))
    q.processAllAvailable()
    assert(spark.table("sess_native_out").count() == 0,
      "open session must not emit before the watermark passes its end")
    // 2 h later: watermark passes the session's end (last event + 1 h gap)
    ms.addData((1L, ts("2024-01-01T02:00:00Z"), 1.0))
    q.processAllAvailable()
    val rows = spark.table("sess_native_out").collect()
    assert(rows.length == 1, s"exactly the closed session emits, got ${rows.length}")
    assert(rows(0).getAs[Long]("n_events") == 2)
    assert(rows(0).getAs[Double]("total_value") == 15.0)
    assert(rows(0).getAs[java.sql.Timestamp]("session_end").toInstant
      == java.time.Instant.parse("2024-01-01T01:00:10Z"))
    q.stop()
  }

  test("file-source → parquet sink end-to-end: country-partitioned layout, checkpointed") {
    val inDir = Files.createTempDirectory("graft_in").toString
    val outDir = Files.createTempDirectory("graft_out").toString
    val chkDir = Files.createTempDirectory("graft_chk").toString
    // seed: events across two countries, plus one event far ahead so the
    // watermark closes the first windows
    Files.write(java.nio.file.Paths.get(s"$inDir/batch1.json"), java.util.Arrays.asList(
      json("a", "2024-01-01T00:00:10Z", 10.0, 1, "in"),
      json("b", "2024-01-01T00:00:20Z", 20.0, 2, "us"),
      json("c", "2024-01-01T00:30:00Z", 5.0, 3, "de")))

    val out = StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(inDir)))
    val q = StreamPipeline.writer(out,
      StreamPipeline.ParquetSink(outDir, chkDir, Trigger.AvailableNow())).start()
    q.awaitTermination(60000)

    val written = spark.read.parquet(outDir)
    assert(written.count() >= 2)
    val countries = written.select("country").distinct().as[String].collect().toSet
    assert(countries.subsetOf(Set("IN", "US", "DE", "UNKNOWN")) && countries.nonEmpty)
    // hive-partitioned layout on disk (K1: partitionBy("country"))
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("country=")), dirs.mkString(","))
    assert(new java.io.File(chkDir, "offsets").exists(), "checkpoint not written")
  }

  test("restart from checkpoint resumes incrementally — no reprocessing (T5 exactly-once)") {
    val inDir = Files.createTempDirectory("graft_restart_in").toString
    val outDir = Files.createTempDirectory("graft_restart").toString + "/out"
    val chkDir = Files.createTempDirectory("graft_restart_chk").toString

    def runOnce(): Unit = {
      val out = StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(inDir)))
      val q = StreamPipeline.writer(out,
        StreamPipeline.ParquetSink(outDir, chkDir, Trigger.AvailableNow())).start()
      q.awaitTermination(60000)
    }

    // run 1: two events + a late watermark-advancer → 1 user-window emitted ×2 slides
    Files.write(java.nio.file.Paths.get(s"$inDir/b1.json"), java.util.Arrays.asList(
      json("a", "2024-01-01T00:00:10Z", 10.0),
      json("w1", "2024-01-01T01:00:00Z", 1.0)))
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst > 0)

    // run 2 (fresh query, SAME checkpoint): only the NEW file is processed;
    // previously-emitted windows are not re-emitted
    Files.write(java.nio.file.Paths.get(s"$inDir/b2.json"), java.util.Arrays.asList(
      json("b", "2024-01-01T02:00:00Z", 20.0),
      json("w2", "2024-01-01T03:00:00Z", 1.0)))
    runOnce()
    val afterSecond = spark.read.parquet(outDir)
    // event 'a' windows appear exactly once across both runs
    assert(afterSecond.filter($"total_amount" === 10.0).count() == 2,
      "event a must appear in exactly its 2 sliding windows, not re-emitted")
    assert(afterSecond.count() > afterFirst)
  }

  test("update-mode memory sink emits unfinalized windows (K2 semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val out = StreamPipeline.plan(spark, ms.toDF())
    val q = StreamPipeline.start(out,
      StreamPipeline.Memory("upd_out", outputMode = "update"))
    ms.addData(json("a", "2024-01-01T00:00:10Z"))
    q.processAllAvailable()
    // update mode shows the in-flight window immediately, before watermark
    assert(spark.table("upd_out").count() > 0)
    q.stop()
  }

  test("stream-stream interval join matches profiles within the window, drops stale ones") {
    implicit val sqlCtx = spark.sqlContext
    val evs = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val profs = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamPipeline.joinStreams(
      evs.toDF().toDF("user_id", "event_time", "amount"),
      profs.toDF().toDF("p_user_id", "update_time", "segment"))
    val q = StreamPipeline.start(joined.select("user_id", "amount", "segment"),
      StreamPipeline.Memory("ss_join"))

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // profile 30s before the event → inside the 60s interval → joins
    profs.addData((1L, ts("2024-01-01 00:00:00"), "growth"))
    evs.addData((1L, ts("2024-01-01 00:00:30"), 10.0))
    q.processAllAvailable()
    val got = spark.table("ss_join").collect()
    assert(got.length == 1 && got.head.getAs[String]("segment") == "growth")

    // profile 10 minutes older than the event → outside interval → no join
    profs.addData((2L, ts("2024-01-01 00:00:00"), "stale"))
    evs.addData((2L, ts("2024-01-01 00:10:00"), 5.0))
    q.processAllAvailable()
    assert(spark.table("ss_join").filter($"segment" === "stale").isEmpty)
    q.stop()
  }

  test("rate source generates parseable synthetic events") {
    val raw = StreamPipeline.read(spark, StreamPipeline.Rate(5))
    assert(raw.isStreaming)
    assert(raw.columns.contains("value"))
  }

  test("foreachBatch sink delivers each micro-batch as a DataFrame with its id") {
    implicit val sqlCtx = spark.sqlContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ms = MemoryStream[String]
    val cleaned = StreamPipeline.cleanStream(graft.etl.RefPipeline.parse(ms.toDF()))
      .select("event_id", "amount")
    val q = StreamPipeline.start(cleaned,
      StreamPipeline.ForeachBatch((df, id) => { seen.add((id, df.count())) }))
    ms.addData(json("f1", "2024-01-01T00:00:10Z"), json("f2", "2024-01-01T00:00:11Z"))
    q.processAllAvailable()
    ms.addData(json("f3", "2024-01-01T00:00:12Z"))
    q.processAllAvailable()
    q.stop()
    val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    assert(batches.map(_._2).sum == 3, s"got $batches")
    assert(batches.map(_._1).distinct.size == batches.size, "batch ids must be unique")
  }

  test("ext quality stage runs UNCHANGED on a document stream (batch ≡ stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the curation pre-filter is a pure narrow stage; feed the same rows
    // as a stream and as a batch and require identical scored output
    val docs = Seq(
      (1L, "en", "the quick brown fox and the lazy dog, it is what it is"),
      (2L, "de", "der hund und die katze das ist nicht ein zoo"),
      (3L, "en", ""),
      (4L, "fr", "le chat est sur les toits pour une nuit"))
    val ms = MemoryStream[(Long, String, String)]
    val streamed = graft.ext.text.TextQueries.quality(
      ms.toDF().toDF("doc_id", "lang", "text"))
    val q = StreamPipeline.start(streamed,
      StreamPipeline.Memory("quality_stream", trigger = Trigger.ProcessingTime(0L)))
    ms.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val fromStream = spark.table("quality_stream")
      .select("doc_id", "quality_score", "n_tokens").as[(Long, Double, Long)]
      .collect().toSet
    val fromBatch = graft.ext.text.TextQueries.quality(
      docs.toDF("doc_id", "lang", "text"))
      .select("doc_id", "quality_score", "n_tokens").as[(Long, Double, Long)]
      .collect().toSet
    assert(fromStream == fromBatch)
    assert(fromStream.size == docs.size)
  }

  test("incremental dedup screen runs UNCHANGED on a document stream (batch ≡ stream)") {
    import graft.ext.dedup.DedupQueries
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01"
    // the index artifacts a deployment persists between batches, built once
    val (posts, oldSizes) = DedupQueries.corpusIndex(spark, sf01)
    val expected = DedupQueries.qIncrementalDedup(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "equivalence is vacuous on an empty reject list")
    // stream the same incoming docs in TWO micro-batches through a
    // foreachBatch screen against the FIXED index — per-doc verdicts are
    // independent given the index, so the union of micro-batch reject
    // lists must equal the one-shot batch answer exactly
    val incoming = graft.sources.Tables.documents(spark, sf01)
      .filter(col("source") === DedupQueries.IncomingSource)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (half1, half2) = incoming.splitAt(incoming.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    val ms = MemoryStream[(Long, String)]
    val q = StreamPipeline.start(ms.toDF().toDF("doc_id", "text"),
      StreamPipeline.ForeachBatch((batch, _) =>
        DedupQueries.screenAgainstIndex(batch, posts, oldSizes).collect()
          .foreach(r => out.add((r.getLong(0), r.getLong(1), r.getDouble(2))))))
    ms.addData(half1: _*)
    q.processAllAvailable()
    ms.addData(half2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = out.toArray(Array.empty[(Long, Long, Double)]).toSet
    assert(streamed == expected,
      s"stream=${streamed.size} rows, batch=${expected.size} rows")
  }

  test("incremental SPAN screen runs UNCHANGED on a document stream (batch ≡ stream)") {
    import graft.ext.dedup.DedupQueries
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01"
    val posts = DedupQueries.spanCorpusIndex(spark, sf01)
    val expected = DedupQueries.qSpanIncremental(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty, "equivalence is vacuous on an empty quarantine list")
    // same two-micro-batch drive as the jaccard screen: span verdicts are
    // per incoming doc given the fixed index, so the union of micro-batch
    // outputs must equal the one-shot batch answer exactly
    val incoming = graft.sources.Tables.documents(spark, sf01)
      .filter(col("source") === DedupQueries.IncomingSource)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (half1, half2) = incoming.splitAt(incoming.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val ms = MemoryStream[(Long, String)]
    val q = StreamPipeline.start(ms.toDF().toDF("doc_id", "text"),
      StreamPipeline.ForeachBatch((batch, _) =>
        DedupQueries.screenAgainstSpanIndex(batch, posts).collect()
          .foreach(r => out.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))))
    ms.addData(half1: _*)
    q.processAllAvailable()
    ms.addData(half2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = out.toArray(Array.empty[(Long, Long, Long, Long)]).toSet
    assert(streamed == expected,
      s"stream=${streamed.size} rows, batch=${expected.size} rows")
  }

  test("incremental ER screen runs UNCHANGED on a name stream (batch ≡ stream)") {
    import graft.ext.er.ErQueries
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01"
    val expected = ErQueries.qErIncremental(spark, sf01).collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3))).toSet
    assert(expected.nonEmpty, "equivalence is vacuous with no incoming names")
    // the persisted artifacts a deployment holds between batches — the
    // SAME index the batch query screens against, materialized once
    val (base0, inc, canon0) = ErQueries.baseArtifacts(spark, sf01)
    val (base, canon) = (base0.localCheckpoint(), canon0.localCheckpoint())
    val incoming = inc.select("p_name").as[String].collect().toSeq.sorted
    val (half1, half2) = incoming.splitAt(incoming.length / 2)
    // per-name verdicts are independent given the index, so the union of
    // micro-batch screen outputs must equal the one-shot batch answer
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String], Option[Long], String)]()
    val ms = MemoryStream[String]
    val q = StreamPipeline.start(ms.toDF().toDF("p_name"),
      StreamPipeline.ForeachBatch((batch, _) =>
        ErQueries.screenAgainstBase(batch, base, canon).collect()
          .foreach(r => out.add((r.getString(0), Option(r.getString(1)),
            Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3))))))
    ms.addData(half1: _*)
    q.processAllAvailable()
    ms.addData(half2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = out.toArray(Array.empty[(String, Option[String], Option[Long], String)]).toSet
    assert(streamed == expected,
      s"stream=${streamed.size} rows, batch=${expected.size} rows; " +
        s"diff=${(streamed -- expected).take(3)} / ${(expected -- streamed).take(3)}")
  }

  test("LM quality screen runs UNCHANGED on a document stream (batch ≡ stream)") {
    import graft.ext.text.TextQueries
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01"
    val expected = TextQueries.queries("text_lm_score")(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // the persisted model a deployment scores new crawl batches against —
    // the SAME count table the batch query uses, materialized once
    val (docs, counts0) = TextQueries.lmArtifacts(spark, sf01)
    val counts = counts0.localCheckpoint()
    val incoming = docs.select("doc_id", "is_train", "text").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq.sortBy(_._1)
    val (half1, half2) = incoming.splitAt(incoming.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, Long, Long, Long)]()
    val ms = MemoryStream[(Long, Boolean, String)]
    val q = StreamPipeline.start(ms.toDF().toDF("doc_id", "is_train", "text"),
      StreamPipeline.ForeachBatch((batch, _) =>
        TextQueries.scoreAgainstCounts(batch, counts).collect()
          .foreach(r => out.add((r.getLong(0), r.getBoolean(1), r.getLong(2),
            r.getLong(3), r.getLong(4))))))
    ms.addData(half1: _*)
    q.processAllAvailable()
    ms.addData(half2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = out.toArray(Array.empty[(Long, Boolean, Long, Long, Long)]).toSet
    assert(streamed == expected,
      s"stream=${streamed.size} rows, batch=${expected.size} rows")
  }

  test("observed DQ counters surface per micro-batch via observedMetrics (the streaming twin)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // (event_id nullable, value nullable) rows with planted violations
    val rows = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, null), (null, -3.0), (4L, 5.0), (5L, -1.0))
    val ms = MemoryStream[(Option[Long], Option[Double])]
    val observed = ms.toDF().toDF("event_id", "value")
      .observe("dq",
        count(lit(1)).as("n_rows"),
        sum(col("value").isNull.cast("long")).as("n_null_value"),
        sum((col("value") < 0).cast("long")).as("n_neg_value"),
        sum(col("event_id").isNull.cast("long")).as("n_null_id"))
    // the sink must EXECUTE the batch — an unconsumed foreachBatch frame
    // never runs the plan and the observe node never fires
    val q = StreamPipeline.start(observed,
      StreamPipeline.ForeachBatch((b, _) => { b.count(); () }))
    ms.addData(rows.take(3).map(t => (Option(t._1).map(_.toLong), Option(t._2).map(_.toDouble))): _*)
    q.processAllAvailable()
    ms.addData(rows.drop(3).map(t => (Option(t._1).map(_.toLong), Option(t._2).map(_.toDouble))): _*)
    q.processAllAvailable()
    // sum the per-batch observed metrics across all progress events
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("dq")))
    q.stop()
    assert(metrics.nonEmpty, "no observed metrics surfaced")
    def total(name: String): Long =
      metrics.map(r => r.getAs[Long](name)).sum
    assert(total("n_rows") == 5L)
    assert(total("n_null_value") == 1L)
    assert(total("n_neg_value") == 2L)
    assert(total("n_null_id") == 1L)
  }

  test("kafka source/sink wiring constructs (connector needed only at runtime)") {
    // no connector jar in this image: constructing the plan must still work
    val cfg = StreamPipeline.Kafka("broker:9092", "events")
    assert(cfg.startingOffsets == "earliest")
    val streamingDf = spark.readStream.format("rate").load()
      .selectExpr("CAST(value AS STRING) AS country")
    val w = StreamPipeline.writer(
      streamingDf, StreamPipeline.KafkaSink("broker:9092", "out", "/tmp/chk"))
    assert(w != null)
  }

  test("kafka deploy gate: without the connector jar, source resolution fails naming kafka") {
    // executable documentation of the deploy requirement (README "Deploying
    // against Kafka"): the spark-sql-kafka-0-10 connector is NOT on this
    // offline classpath, so resolving the source must fail up front with an
    // error that names the missing data source — the first thing a user on
    // a real cluster hits if they forget --packages. If this test ever
    // fails because the load SUCCEEDS, the image gained the connector and
    // S1/K4 should graduate from wiring-only to runtime-tested.
    val err = intercept[Exception] {
      StreamPipeline.read(spark, StreamPipeline.Kafka("broker:9092", "events"))
    }
    val msg = err.toString.toLowerCase
    assert(msg.contains("kafka"), s"error does not name the missing source: $err")
    assert(msg.contains("failed to find") || msg.contains("data_source_not_found") ||
      msg.contains("classnotfound"), s"unexpected failure mode: $err")
  }
}
