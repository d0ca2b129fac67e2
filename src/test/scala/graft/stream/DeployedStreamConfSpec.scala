package graft.stream

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{SparkSessions, SparkSpec}
import graft.etl.RefPipeline

/** The state and listing settings the deployed stream path runs
  * ([[SparkSessions.Streaming]]), driven through `StreamRunner`'s wiring:
  * JsonFiles → [[StreamPipeline.plan]] → ParquetSink, Trigger.AvailableNow. */
class DeployedStreamConfSpec extends SparkSpec {
  import spark.implicits._

  private def json(id: String, hms: String, amount: Double, user: Int, country: String): String =
    s"""{"event_id":"$id","user_id":$user,"product_id":1,"amount":$amount,""" +
      s""""event_time":"2024-01-01T${hms}Z","country":"$country","device":"MOBILE"}"""

  private def drain(in: Path, out: Path, chk: Path): StreamingQuery = {
    val q = StreamPipeline.writer(
      StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(in.toString))),
      StreamPipeline.ParquetSink(out.toString, chk.toString, Trigger.AvailableNow())).start()
    assert(q.awaitTermination(180000), "query did not drain in time")
    q.exception.foreach(e => throw e)
    q
  }

  /** Rows the query's dedup operator dropped: (as duplicate, as late). */
  private def dedupDrops(q: StreamingQuery): (Long, Long) = {
    val ops = q.recentProgress.toSeq
      .flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains("dedup")))
    (ops.map(_.customMetrics.asScala.get("numDroppedDuplicateRows").map(_.longValue).getOrElse(0L)).sum,
      ops.map(_.numRowsDroppedByWatermark).sum)
  }

  private def stateFiles(chk: Path, suffix: String): Seq[String] =
    Files.walk(chk.resolve("state")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(suffix)).toSeq

  private def sorted(df: DataFrame): Seq[String] =
    df.select("country", "segment", "total_amount", "unique_events", "max_event_time", "event_date")
      .collect().map(_.mkString("|")).toSeq.sorted

  test("restart over a snapshot-only RocksDB checkpoint: dedup state recovered, each window once, changelogs written") {
    val root = Files.createTempDirectory("deployed_restart")
    val (in, out, chk) = (root.resolve("in"), root.resolve("out"), root.resolve("chk"))
    Files.createDirectories(in)
    def run(file: String, lines: Seq[String], conf: Map[String, String]): StreamingQuery = {
      Files.write(in.resolve(file), lines.asJava)
      withConf(conf)(drain(in, out, chk))
    }
    val a = json("a", "00:00:10", 10.0, 1, "in")
    val b = json("b", "00:00:40", 20.0, 2, "us")
    val c = json("c", "00:01:00", 5.0, 3, "de")
    val d = json("d", "00:01:20", 7.0, 1, "in")
    val e = json("e", "00:01:50", 3.0, 2, "us")
    val late = json("late", "00:00:05", 999.0, 1, "in")
    val f = json("f", "00:03:00", 1.0, 4, "us")
    val g = json("g", "00:04:30", 2.0, 5, "us")

    // run 1: the checkpoint as the provider writes it without changelogs
    val changelogOff = SparkSessions.Streaming +
      ("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false")
    run("b1.json", Seq(a, b, c), changelogOff)
    assert(stateFiles(chk, ".zip").nonEmpty && stateFiles(chk, ".changelog").isEmpty,
      "run 1 must leave a snapshot-only state store")

    // run 2: watermark 00:00:30, so the re-sent b is on time and its key
    // is still held; the state comes from run 1's snapshots
    val q2 = run("b2.json", Seq(b, d, e), SparkSessions.Streaming)
    assert(dedupDrops(q2) == ((1L, 0L)), "re-sent b must hit the recovered dedup state")

    // run 3: watermark 00:01:20; the re-sent e was first seen in run 2, so
    // its key comes back through run 2's changelogs on top of the snapshot
    val q3 = run("b3.json", Seq(e, late, f, g), SparkSessions.Streaming)
    assert(dedupDrops(q3) == ((1L, 1L)), "re-sent e must be dropped as duplicate, the late row as late")
    assert(stateFiles(chk, ".changelog").nonEmpty, "changelog commits left no .changelog files")

    // every window the final watermark closed, emitted exactly once across
    // the three runs: the batch twin over the on-time rows, as a multiset
    val watermark = q3.lastProgress.eventTime.get("watermark")
    val fact = RefPipeline.projectFact(spark, RefPipeline.enrich(
      RefPipeline.clean(RefPipeline.parse(Seq(a, b, c, b, d, e, e, f, g).toDF("value"))),
      RefPipeline.usersDim(spark), RefPipeline.productsDim(spark)))
    val want = sorted(RefPipeline.flatten(
      RefPipeline.aggregate(fact).where(col("window.end") <= to_timestamp(lit(watermark)))))
    val got = sorted(spark.read.parquet(out.toString))
    assert(want.nonEmpty)
    assert(got.size == want.size, s"${got.size} windows emitted, ${want.size} closed: one emitted twice or never")
    assert(got == want)
  }

  test("a micro-batch over 60 files lists them on the driver: no stage runs one task per file") {
    val root = Files.createTempDirectory("deployed_listing")
    val in = Files.createDirectories(root.resolve("in"))
    (0 until 60).foreach { i =>
      Files.write(in.resolve(f"f$i%02d.json"),
        Seq(json(s"e$i", f"00:00:$i%02d", 1.0, i % 5 + 1, "in")).asJava)
    }
    val group = s"listing-flush-${System.nanoTime()}"
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = withConf(SparkSessions.Streaming)(drain(in, root.resolve("out"), root.resolve("chk")))
      assert(q.recentProgress.map(_.numInputRows).sum == 60L)
      // listener events arrive asynchronously but in order: once a later
      // job's start is seen, every stage of the query has been delivered
      sc.setJobGroup(group, "flush listener events", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never saw the flush job")
      val tasks = stageTasks.asScala.toSeq
      assert(tasks.nonEmpty)
      assert(!tasks.contains(60), s"a stage ran one task per input file; stage task counts: $tasks")
    } finally sc.removeSparkListener(listener)
  }
}
