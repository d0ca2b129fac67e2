package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Custom stateful operator semantics: sessions close on event-time gap,
  * emit exactly once, state is freed. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(user: Long, t: String, amount: Double = 1.0) =
    SessionEvent(user, Timestamp.valueOf(t), amount)

  test("sessions split on gap and emit once the watermark passes the deadline") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val out = Sessionize(ms.toDS())
    val q = StreamPipeline.start(out.toDF(),
      StreamPipeline.Memory("sessions", trigger = Trigger.ProcessingTime(0L)))

    // one user: 3 events within the gap, then silence
    ms.addData(
      ev(1, "2024-01-01 00:00:00", 10.0),
      ev(1, "2024-01-01 00:00:30", 20.0),
      ev(1, "2024-01-01 00:00:50", 5.0))
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 0, "session must not close while active")

    // far-future event (other user) advances the watermark past the deadline
    ms.addData(ev(2, "2024-01-01 01:00:00"))
    q.processAllAvailable()
    val s = spark.table("sessions").as[UserSession].collect()
    assert(s.length == 1)
    assert(s.head.user_id == 1 && s.head.n_events == 3 && s.head.total_amount == 35.0)
    assert(s.head.session_start == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(s.head.session_end == Timestamp.valueOf("2024-01-01 00:00:50"))

    // same user returns much later: a NEW session (state was freed)
    ms.addData(ev(1, "2024-01-01 02:00:00", 7.0))
    ms.addData(ev(1, "2024-01-01 03:00:00"))   // advances watermark, closes it
    q.processAllAvailable()
    val s2 = spark.table("sessions").as[UserSession].collect()
      .filter(u => u.user_id == 1 && u.total_amount == 7.0)
    assert(s2.length == 1, "re-appearing user starts a fresh session")
    q.stop()
  }

  test("streaming sessionize ≡ batch gaps-and-islands twin on identical data") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // deterministic event set: 3 users, mixed gaps straddling the 60s line
    val events = Seq(
      ev(1, "2024-01-01 00:00:00", 1.0), ev(1, "2024-01-01 00:00:59", 2.0),
      ev(1, "2024-01-01 00:02:00", 4.0),   // 61s gap → new session
      ev(2, "2024-01-01 00:00:30", 8.0),
      ev(3, "2024-01-01 00:01:00", 16.0), ev(3, "2024-01-01 00:02:00", 32.0))

    // batch twin (the oracled formulation from SqlSurfaceQueries, gap 60s)
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("event_time")
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = events.toDF("user_id", "event_time", "amount")
      .withColumn("prev", lag(col("event_time").cast("long"), 1).over(byUser))
      .withColumn("brk", when(col("prev").isNull ||
        col("event_time").cast("long") - col("prev") > 60, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(running))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), sum("amount").as("total_amount"))
      .select("user_id", "n_events", "total_amount")
      .as[(Long, Long, Double)].collect().toSet

    // streaming: same rows + a far-future flush event per user
    val ms = MemoryStream[SessionEvent]
    val q = StreamPipeline.start(Sessionize(ms.toDS()).toDF(),
      StreamPipeline.Memory("sess_twin", trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)))
    ms.addData(events: _*)
    q.processAllAvailable()
    ms.addData(ev(99, "2024-01-02 00:00:00"))   // watermark flush
    q.processAllAvailable()
    val streamed = spark.table("sess_twin").as[UserSession].collect()
      .filter(_.user_id != 99)
      .map(s => (s.user_id, s.n_events, s.total_amount)).toSet
    q.stop()
    assert(streamed == batch,
      s"streaming $streamed != batch $batch")
  }

  test("mid-batch gap closes a session only once the watermark passes its deadline") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val out = Sessionize(ms.toDS())
    val q = StreamPipeline.start(out.toDF(),
      StreamPipeline.Memory("sessions2", trigger = Trigger.ProcessingTime(0L)))
    // gap inside the batch: the 00:10 event advances the watermark to
    // 00:09:30, past the first session's 00:01:00 deadline → it emits on
    // the watermark-update trigger; the 00:10 session stays open
    ms.addData(
      ev(9, "2024-01-01 00:00:00", 1.0),
      ev(9, "2024-01-01 00:10:00", 2.0))
    q.processAllAvailable()
    val s = spark.table("sessions2").as[UserSession].collect()
    assert(s.length == 1 && s.head.total_amount == 1.0)
    q.stop()
  }

  test("gap-deadline boundary: == watermark events are late; just-above ones attach at exactly gap") {
    implicit val sqlCtx = spark.sqlContext
    // Part 1 — admission semantics this operator is built on (empirically
    // pinned, Spark 4.1): an event with event_time == watermark is DROPPED
    // by the late-event filter. Consequence: no admissible event (t > wm)
    // can ever attach to a session whose deadline last+gap == wm, so
    // flushing at `deadline <= wm` loses nothing — and unlike strict `<`
    // it cannot withhold a boundary session when a drained stream's final
    // watermark lands exactly on the deadline.
    val ms = MemoryStream[SessionEvent]
    val q = StreamPipeline.start(Sessionize(ms.toDS()).toDF(),
      StreamPipeline.Memory("sessions4", trigger = Trigger.ProcessingTime(0L)))
    ms.addData(ev(7, "2024-01-01 00:00:00", 1.0))
    q.processAllAvailable()
    // pushes watermark to exactly 00:01:00 = first session's gap deadline
    ms.addData(ev(7, "2024-01-01 00:01:30", 100.0))
    q.processAllAvailable()
    ms.addData(ev(7, "2024-01-01 00:01:00", 5.0))   // == watermark → late, dropped
    q.processAllAvailable()
    ms.addData(ev(99, "2024-01-01 02:00:00"))       // watermark flush
    q.processAllAvailable()
    val s = spark.table("sessions4").as[UserSession].collect().filter(_.user_id == 7)
    assert(s.length == 2, s"== watermark straggler must be dropped as late: ${s.toSeq}")
    assert(s.map(_.total_amount).toSet == Set(1.0, 100.0), "dropped event must not attach anywhere")
    q.stop()

    // Part 2 — a straggler strictly above the watermark landing at EXACTLY
    // last+gap of a pending session attaches and bridges two sessions.
    val ms2 = MemoryStream[SessionEvent]
    val q2 = StreamPipeline.start(Sessionize(ms2.toDS()).toDF(),
      StreamPipeline.Memory("sessions5", trigger = Trigger.ProcessingTime(0L)))
    ms2.addData(ev(7, "2024-01-01 00:00:00", 1.0))
    q2.processAllAvailable()
    // watermark → 00:00:59.999: first session (deadline 00:01:00) pending
    ms2.addData(ev(7, "2024-01-01 00:01:29.999", 100.0))
    q2.processAllAvailable()
    // 00:01:00 > wm → admitted; == last+gap of session 1 AND within gap of
    // session 2 → attaches and merges both into one
    ms2.addData(ev(7, "2024-01-01 00:01:00", 5.0))
    q2.processAllAvailable()
    ms2.addData(ev(99, "2024-01-01 02:00:00"))
    q2.processAllAvailable()
    val s2 = spark.table("sessions5").as[UserSession].collect().filter(_.user_id == 7)
    assert(s2.length == 1, s"exact-gap straggler must bridge, not split: ${s2.toSeq}")
    assert(s2.head.n_events == 3 && s2.head.total_amount == 106.0)
    assert(s2.head.session_start == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(s2.head.session_end == Timestamp.valueOf("2024-01-01 00:01:29.999"))
    q2.stop()
  }

  test("out-of-order within-watermark event bridges two pending sessions (min-start, merge)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val out = Sessionize(ms.toDS())
    val q = StreamPipeline.start(out.toDF(),
      StreamPipeline.Memory("sessions3", trigger = Trigger.ProcessingTime(0L)))
    // batch 1: two events 70s apart → two pending sessions; watermark
    // after the batch is 00:00:40 — neither deadline passed, nothing emits
    ms.addData(ev(5, "2024-01-01 00:00:00", 1.0), ev(5, "2024-01-01 00:01:10", 2.0))
    q.processAllAvailable()
    assert(spark.table("sessions3").count() == 0,
      "sessions must stay pending while stragglers can still arrive")
    // batch 2: 00:00:50 is above the watermark and within gap of BOTH
    // pending sessions → merges them into one
    ms.addData(ev(5, "2024-01-01 00:00:50", 4.0))
    q.processAllAvailable()
    // flush via a far-future event
    ms.addData(ev(6, "2024-01-01 02:00:00", 0.0))
    q.processAllAvailable()
    val s = spark.table("sessions3").as[UserSession].collect().filter(_.user_id == 5)
    assert(s.length == 1, s"expected one bridged session, got ${s.toSeq}")
    assert(s.head.n_events == 3 && s.head.total_amount == 7.0)
    assert(s.head.session_start == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(s.head.session_end == Timestamp.valueOf("2024-01-01 00:01:10"))
    q.stop()
  }
}
