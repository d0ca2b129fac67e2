package graft.stream

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSessions, SparkSpec}
import graft.batch.DailyBatch

/** The deployed stream path writes its checkpoint, state and sink files,
  * and DailyBatch its output, without Hadoop starting a process per file
  * ([[SparkSessions.LocalFiles]]): a JFR recording of `jdk.ProcessStart`
  * sees no start with Hadoop's `Shell` on its stack. */
class NoShellOutSpec extends SparkSpec {

  private def json(id: String, hms: String, user: Int, country: String): String =
    s"""{"event_id":"$id","user_id":$user,"product_id":1,"amount":2.5,""" +
      s""""event_time":"2024-01-01T${hms}Z","country":"$country","device":"MOBILE"}"""

  test("StreamRunner's wiring over two AvailableNow runs, then DailyBatch, start no Hadoop shell process") {
    val root = Files.createTempDirectory("no_shell_out")
    val (in, out, chk) = (Files.createDirectories(root.resolve("in")), root.resolve("out"), root.resolve("chk"))
    spark.range(1).count()   // session, and the classes it loads, ready before recording
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.setDestination(root.resolve("process-starts.jfr"))
    rec.start()
    val (batches, dailyRows) =
      try {
        val batches = Seq(
          "b1.json" -> Seq(json("a", "00:00:10", 1, "in"), json("b", "00:00:40", 2, "us")),
          "b2.json" -> Seq(json("c", "00:05:00", 3, "de"), json("d", "00:09:00", 4, "in"))
        ).map { case (file, lines) =>
          Files.write(in.resolve(file), lines.asJava)
          val q = withConf(SparkSessions.Streaming)(StreamPipeline.writer(
            StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(in.toString))),
            StreamPipeline.ParquetSink(out.toString, chk.toString, Trigger.AvailableNow())).start())
          assert(q.awaitTermination(180000), "query did not drain in time")
          q.exception.foreach(e => throw e)
          q.recentProgress.length
        }.sum
        (batches, DailyBatch.run(spark, out.toString, "2024-01-01", root.resolve("daily").toString))
      } finally rec.stop()
    assert(batches >= 2, s"$batches micro-batches")
    assert(dailyRows > 0, "DailyBatch wrote no rows: the stream emitted no closed window")
    val starts = RecordingFile.readAllEvents(root.resolve("process-starts.jfr")).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    rec.close()
    val shell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    if (shell.nonEmpty)
      fail(s"${shell.size} of ${starts.size} process starts came from Hadoop's Shell, e.g. " +
        shell.take(5).map(_.getString("command")).mkString("; "))
  }
}
