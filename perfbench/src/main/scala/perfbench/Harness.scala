package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.batch.DailyBatch
import graft.etl.RefPipeline
import graft.stream.StreamPipeline

/**
 * The system-under-test side of the benchmark: one JVM that drives the
 * engine only through its public entry points, on commands that
 * `run.py` sends over stdin, one per line, fields separated by tabs.
 * Every command answers with exactly one stdout line `@@ {json}`; Spark's
 * own logging goes to stderr. Timings of engine calls are taken here, next
 * to the call; everything that can be observed from outside (files, RSS,
 * checkpoint logs) is left to `run.py`.
 *
 * Started with argument `1`, it records a span around every engine call,
 * and the `trace` command attaches a [[SparkListener]] and a
 * [[StreamingQueryListener]] owned by this file, which count work and add
 * spans for jobs, micro-batches and their phases. Spans stay in memory
 * until the `spans` command writes them out.
 */
object Harness {

  private var spark: SparkSession = _
  private var trickle: StreamingQuery = _
  private var trickleStart = 0L
  private val tracer = new Tracer

  def main(args: Array[String]): Unit = {
    tracer.recording = args.headOption.contains("1")
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    val out = new PrintWriter(new java.io.OutputStreamWriter(System.out, StandardCharsets.UTF_8), true)
    var line = in.readLine()
    while (line != null && line != "exit") {
      val cmd = line.split("\t", -1).toList
      val reply =
        try Json.obj("ok" -> true) ++ handle(cmd)
        catch {
          case e: Throwable =>
            e.printStackTrace()
            Json.obj("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      out.println("@@ " + Json.render(reply))
      line = in.readLine()
    }
    if (trickle != null && trickle.isActive) trickle.stop()
    if (spark != null) spark.stop()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` as a span of `layer`; returns its result and seconds. */
  private def timed[T](layer: String, name: String)(body: => T): (T, Double) = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val s = secs(t0)
    tracer.span(layer, name, start, start + math.round(s * 1000))
    (r, s)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  private def handle(cmd: List[String]): Map[String, Any] = cmd match {
    case "session" :: master :: Nil =>
      val traced = tracer.on
      if (spark != null) { tracer.detach(spark); spark.stop() }
      sys.props("spark.master") = master
      val (s, t) = timed("graft.SparkSessions", "recommended") {
        graft.SparkSessions.recommended("perfbench", streaming = true)
      }
      spark = s
      // the progress history the row accounting reads after a query ends
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      if (traced) tracer.attach(spark)
      Map("init_s" -> t)

    case "trace" :: flag :: Nil =>
      if (flag == "1") tracer.attach(spark) else tracer.detach(spark)
      Map("trace" -> tracer.on)

    case "drain" :: inDir :: outDir :: chkDir :: name :: Nil =>
      val df = StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(inDir)))
      val w = StreamPipeline.writer(df, StreamPipeline.ParquetSink(outDir, chkDir, Trigger.AvailableNow()))
      val start = System.currentTimeMillis()
      val (q, s) = timed("graft.stream.StreamPipeline", name) {
        val q = w.start(); q.awaitTermination(); q
      }
      q.exception.foreach(e => throw e)
      Map("start_ms" -> start, "wall_s" -> s) ++ accounting(q)

    case "trickle_start" :: inDir :: outDir :: chkDir :: triggerMs :: Nil =>
      val df = StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(inDir)))
      trickleStart = System.currentTimeMillis()
      trickle = StreamPipeline.writer(df,
        StreamPipeline.ParquetSink(outDir, chkDir, Trigger.ProcessingTime(triggerMs.toLong))).start()
      Map("start_ms" -> trickleStart)

    case "trickle_stop" :: Nil =>
      val q = trickle
      trickle = null
      // stop between batches, so no batch is cut short
      while (q.status.isTriggerActive) Thread.sleep(5)
      q.stop()
      tracer.span("graft.stream.StreamPipeline", "trickle", trickleStart, System.currentTimeMillis())
      q.exception.foreach(e => throw e)
      accounting(q)

    case "daily" :: factDir :: date :: outDir :: Nil =>
      val summarize =
        if (tracer.on) timed("graft.batch.DailyBatch", s"summarize $date") {
          noop(DailyBatch.summarize(spark, factDir, date))
        }._2
        else 0.0
      val (rows, s) = timed("graft.batch.DailyBatch", s"run $date") {
        DailyBatch.run(spark, factDir, date, outDir)
      }
      Map("s" -> s, "rows" -> rows, "summarize_s" -> summarize)

    case "twin" :: inDir :: outDir :: Nil =>
      val (_, s) = timed("graft.etl.RefPipeline", "twin") {
        twin(spark.read.text(inDir)).write.mode(SaveMode.Overwrite).parquet(outDir)
      }
      Map("s" -> s)

    case "ref_stages" :: inDir :: Nil => refStages(inDir)

    case "exec" :: Nil => tracer.execCounters

    case "progress" :: Nil => Map("progress" -> tracer.progress.toList.map(Json.Raw))

    case "spans" :: path :: Nil =>
      Files.write(Paths.get(path), Json.render(tracer.spans.toList).getBytes(StandardCharsets.UTF_8))
      Map("spans" -> tracer.spans.size)

    case other => throw new IllegalArgumentException(s"unknown command: ${other.mkString(" ")}")
  }

  /** The batch twin: [[RefPipeline.full]]'s stages in its order, with the
    * window end kept as a column so the comparison can restrict the twin to
    * the windows a stream's final watermark closed. */
  private def twin(raw: DataFrame): DataFrame = {
    val fact = RefPipeline.projectFact(spark, RefPipeline.enrich(
      RefPipeline.clean(RefPipeline.parse(raw)),
      RefPipeline.usersDim(spark), RefPipeline.productsDim(spark)))
    RefPipeline.flatten(RefPipeline.aggregate(fact).withColumn("window_end", col("window.end")))
  }

  /** Row accounting of a finished query, from its own progress history:
    * rows read, and what its dedup operator dropped as duplicate or late. */
  private def accounting(q: StreamingQuery): Map[String, Any] = {
    val ps = q.recentProgress.toSeq
    val dedup = ps.flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains("dedup")))
    Map(
      "rows_in" -> ps.map(_.numInputRows).sum,
      "rows_duplicate" -> dedup.map(_.customMetrics.asScala.get("numDroppedDuplicateRows").map(_.longValue).getOrElse(0L)).sum,
      "rows_late" -> dedup.map(_.numRowsDroppedByWatermark).sum,
      "rows_kept" -> dedup.map(_.numRowsUpdated).sum)
  }

  /** The twin's stages, each forced by a noop write of the cumulative
    * prefix (parse, +clean, +enrich, +aggregate, +flatten); `run.py` turns
    * the prefixes into self times. Counts are taken outside the prefixes,
    * in one pass: rows in, rows whose event time does not parse
    * (malformed), and how many of the rest are repeats of an event_id. */
  private def refStages(inDir: String): Map[String, Any] = {
    val raw = spark.read.text(inDir)
    val parsed = RefPipeline.parse(raw)
    val cleaned = RefPipeline.clean(parsed)
    val fact = RefPipeline.projectFact(spark, RefPipeline.enrich(cleaned,
      RefPipeline.usersDim(spark), RefPipeline.productsDim(spark)))
    val agg = RefPipeline.aggregate(fact)
    val flat = RefPipeline.flatten(agg)
    val prefixes = Seq("parse" -> parsed, "clean" -> cleaned, "enrich" -> fact,
      "aggregate" -> agg, "flatten" -> flat)
    // one noop write per prefix: a differenced self time is only as steady
    // as the two writes it comes from, so read it as a rough share
    val cum = prefixes.map { case (n, df) =>
      n -> timed("graft.etl.RefPipeline", s"prefix $n")(noop(df))._2
    }
    val ts = to_timestamp(col("event_time"))
    val counts = parsed.agg(count(lit(1)), count(ts), countDistinct(when(ts.isNotNull, col("event_id"))))
      .head()
    val (rowsIn, good, kept) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
    Map("cumulative_s" -> cum.toMap, "rows_in" -> rowsIn, "rows_malformed" -> (rowsIn - good),
      "rows_duplicate" -> (good - kept), "rows_out" -> kept)
  }
}

/** Spans and work counters, fed by listeners this file owns. */
final class Tracer {
  /** Spans are kept in traced runs; `on` says whether the listeners are
    * attached, which a traced run switches for its measured window. */
  @volatile var recording = false
  @volatile var on = false
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[String]

  private val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicLong
  private val cpuNs, runMs, gcMs, shRead, shWrite, spill = new java.util.concurrent.atomic.AtomicLong

  def span(layer: String, name: String, start: Long, end: Long): Unit =
    if (recording) spans.synchronized {
      spans += Map("layer" -> layer, "name" -> name, "start_ms" -> start, "end_ms" -> end)
    }

  def execCounters: Map[String, Any] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_s" -> cpuNs.get / 1e9, "run_s" -> runMs.get / 1e3, "gc_s" -> gcMs.get / 1e3,
    "shuffle_read_bytes" -> shRead.get, "shuffle_write_bytes" -> shWrite.get,
    "spill_bytes" -> spill.get)

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => span("spark.job", s"job ${e.jobId}", t, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.incrementAndGet(); tasks.addAndGet(i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime); runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  // the progress phases in the order MicroBatchExecution runs them
  private val phases = Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.synchronized { progress += p.json }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val batch = s"batch ${p.batchId}"
      span("stream.microbatch", batch, start, start + d.getOrElse("triggerExecution", 0L))
      phases.foldLeft(start) { (t, ph) =>
        val ms = d.getOrElse(ph, 0L)
        span("stream.phase", s"$batch $ph", t, t + ms)
        t + ms
      }
    }
  }

  def attach(spark: SparkSession): Unit = if (!on) {
    on = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def detach(spark: SparkSession): Unit = if (on) {
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }
}

/** Just enough JSON rendering for replies and spans. */
object Json {
  /** Already-rendered JSON, passed through as is. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def render(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
