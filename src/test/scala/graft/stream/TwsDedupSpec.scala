package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSessions, SparkSpec}

/** transformWithState first-seen dedup: within-batch and cross-run
  * duplicate drops, with RocksDB-backed state surviving a query restart
  * over the same checkpoint.
  *
  * Methodology note (pins the Spark 4.1.2 behavior the operator's
  * scaladoc documents): in ProcessingTime time-mode — which TTL requires —
  * transformWithState schedules perpetual no-data batches for expiry
  * evaluation, so processAllAvailable never stabilizes on a MemoryStream
  * and even Trigger.AvailableNow never terminates (observed: the stream
  * thread spins through empty micro-batches indefinitely, then a no-data
  * batch dies on a planner NPE in PythonSQLMetrics). The executable path
  * is therefore ttl=None (TimeMode.None): AvailableNow drains and stops,
  * and the restart doubles as the state-persistence check. */
class TwsDedupSpec extends SparkSpec {
  import spark.implicits._

  test("first occurrence survives; dups drop within batch AND across restarts") {
    withConf(SparkSessions.Streaming) {
      val in = Files.createTempDirectory("tws_in").toString
      val out = Files.createTempDirectory("tws_out").toString
      val chk = Files.createTempDirectory("tws_chk").toString

      // returns the state-store row total after the run's last batch
      def runOnce(): Long = {
        val events = spark.readStream
          .schema("event_id STRING, event_time TIMESTAMP, amount DOUBLE")
          .json(in).as[DedupEvent]
        val q = TwsDedup(events, None).writeStream
          .format("parquet").option("path", out)
          .option("checkpointLocation", chk)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(180000), "query did not drain in time")
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }

      def line(id: String, t: String, amount: Double) =
        s"""{"event_id":"$id","event_time":"$t","amount":$amount}"""

      // run 1: e1 duplicated within one file (first line wins), e2 once
      Files.write(java.nio.file.Paths.get(in, "b1.json"),
        java.util.Arrays.asList(
          line("e1", "2024-01-01T00:00:01Z", 1.0),
          line("e1", "2024-01-01T00:00:02Z", 2.0),
          line("e2", "2024-01-01T00:00:03Z", 3.0)))
      runOnce()
      val after1 = spark.read.parquet(out).as[DedupEvent].collect().sortBy(_.event_id)
      assert(after1.map(_.event_id).toSeq == Seq("e1", "e2"))
      assert(after1.find(_.event_id == "e1").get.amount == 1.0,
        "within-batch dedup must keep the FIRST occurrence")

      // run 2 (fresh query, SAME checkpoint): e1 recurs — RocksDB state
      // remembers it across the restart; only e3 is new
      Files.write(java.nio.file.Paths.get(in, "b2.json"),
        java.util.Arrays.asList(
          line("e1", "2024-01-01T00:00:04Z", 4.0),
          line("e3", "2024-01-01T00:00:05Z", 5.0)))
      val stateRows = runOnce()
      val after2 = spark.read.parquet(out).as[DedupEvent].collect().sortBy(_.event_id)
      assert(after2.map(_.event_id).toSeq == Seq("e1", "e2", "e3"))
      assert(after2.find(_.event_id == "e1").get.amount == 1.0,
        "the recurring e1 must not replace the original")
      // ttl = None never evicts: the state holds exactly one row per
      // first-seen id, and a recurring id adds none
      assert(stateRows == 3L, s"state rows $stateRows, want one per first-seen id")
    }
  }

  test("batch-mode twin: first-per-id grouping yields one row per id") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      DedupEvent("a", ts("2024-01-01 00:00:01"), 1.0),
      DedupEvent("a", ts("2024-01-01 00:00:02"), 2.0),
      DedupEvent("b", ts("2024-01-01 00:00:03"), 3.0)).toDS()
    val firsts = events.groupByKey(_.event_id).reduceGroups((x, y) =>
      if (x.event_time.before(y.event_time)) x else y).map(_._2)
    assert(firsts.count() == 2)
  }
}
