package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Stream-stream join semantics the oracle can't check: interval-bounded
 * inner matches across micro-batches, LEFT OUTER null-emission gated on
 * the watermark, per-side state eviction, and batch ≡ stream agreement.
 * Driven through two MemoryStreams so each addData = one micro-batch per
 * side.
 */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def clickDf(ms: MemoryStream[(Long, String, Timestamp)]) =
    ms.toDF().toDF("user_id", "click_id", "click_ts")
  private def purchaseDf(ms: MemoryStream[(Long, String, Timestamp, Double)]) =
    ms.toDF().toDF("user_id", "purchase_id", "purchase_ts", "amount")

  test("inner attribution: in-window pairs match across batches; out-of-window and cross-user never") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, String, Timestamp)]
    val purchases = MemoryStream[(Long, String, Timestamp, Double)]
    val q = StreamJoin.attribution(clickDf(clicks), purchaseDf(purchases))
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()

    // batch 1: clicks arrive first — nothing can emit yet
    clicks.addData((1L, "c1", ts("2024-01-01 00:00:00")),
      (2L, "c2", ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    assert(spark.table("attr_out").count() == 0)

    // batch 2: one purchase inside c1's 30-min window (same user), one
    // OUTSIDE any window, one in-window but for a user with no click
    purchases.addData(
      (1L, "p1", ts("2024-01-01 00:10:00"), 5.0),   // matches c1
      (2L, "p2", ts("2024-01-01 01:00:00"), 7.0),   // 60 min later: out of window
      (9L, "p3", ts("2024-01-01 00:10:00"), 9.0))   // no such click
    q.processAllAvailable()
    val rows = spark.table("attr_out")
      .select("click_id", "purchase_id").as[(String, String)].collect().toSet
    assert(rows == Set(("c1", "p1")), s"got $rows")

    // batch 3: a purchase for c2 still inside ITS window, arriving a
    // batch later — cross-batch state must hold the click
    purchases.addData((2L, "p4", ts("2024-01-01 00:20:00"), 3.0))
    q.processAllAvailable()
    val rows2 = spark.table("attr_out")
      .select("click_id", "purchase_id").as[(String, String)].collect().toSet
    assert(rows2 == Set(("c1", "p1"), ("c2", "p4")))
    q.stop()
  }

  test("left outer: unmatched click emits null purchase only after the watermark proves no match") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, String, Timestamp)]
    val purchases = MemoryStream[(Long, String, Timestamp, Double)]
    val q = StreamJoin.attributionOuter(clickDf(clicks), purchaseDf(purchases))
      .writeStream.format("memory").queryName("attr_outer").outputMode("append").start()

    clicks.addData((1L, "c1", ts("2024-01-01 00:00:00")))
    // a purchase for ANOTHER user drives the purchase-side event-time
    // clock without matching anything
    purchases.addData((9L, "px", ts("2024-01-01 00:05:00"), 1.0))
    q.processAllAvailable()
    assert(spark.table("attr_outer").count() == 0,
      "outer row must not emit while a match could still arrive")

    // advance BOTH watermarks well past c1's window close (00:30) + delay
    // (10 min): no match can arrive anymore → the null-extended row emits
    clicks.addData((8L, "cx", ts("2024-01-01 02:00:00")))
    purchases.addData((9L, "py", ts("2024-01-01 02:00:00"), 1.0))
    q.processAllAvailable()
    // one more tick so the state-cleanup batch runs the outer emission
    clicks.addData((8L, "cy", ts("2024-01-01 02:30:00")))
    purchases.addData((9L, "pz", ts("2024-01-01 02:30:00"), 1.0))
    q.processAllAvailable()
    val outer = spark.table("attr_outer")
      .filter(col("click_id") === "c1").collect()
    assert(outer.length == 1 && outer.head.isNullAt(3),
      s"c1 must emit exactly once with null purchase: ${outer.mkString(";")}")

    // a converting pair far past every close pushes both watermarks
    // beyond the last real row's reach: the state drains down to that pair
    clicks.addData((7L, "cz", ts("2024-01-01 06:00:00")))
    purchases.addData((7L, "pq", ts("2024-01-01 06:01:00"), 1.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.asScala.map(_.numRowsTotal).sum
    assert(stateRows <= 2, s"outer join state did not drain: $stateRows rows")
    q.stop()
  }

  test("state evicts behind the watermark; batch twin agrees on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, String, Timestamp)]
    val purchases = MemoryStream[(Long, String, Timestamp, Double)]
    val q = StreamJoin.attribution(clickDf(clicks), purchaseDf(purchases))
      .writeStream.format("memory").queryName("attr_state").outputMode("append").start()

    val allClicks = (0 until 40).map(i =>
      (i.toLong, s"c$i", ts(f"2024-01-01 ${i / 4}%02d:${(i % 4) * 15}%02d:00")))
    val allPurchases = (0 until 40).map(i =>
      (i.toLong, s"p$i", ts(f"2024-01-01 ${i / 4}%02d:${(i % 4) * 15 + 10}%02d:00"), 1.0))
    // feed in four chunks so the watermark advances ~2.5 h across batches
    allClicks.grouped(10).zip(allPurchases.grouped(10)).foreach { case (cs, ps) =>
      clicks.addData(cs); purchases.addData(ps); q.processAllAvailable()
    }
    val streamed = spark.table("attr_state")
      .select("click_id", "purchase_id").as[(String, String)].collect().toSet

    // batch twin: the same operator over the same rows as static frames
    val batch = StreamJoin.attribution(
      allClicks.toDF("user_id", "click_id", "click_ts"),
      allPurchases.toDF("user_id", "purchase_id", "purchase_ts", "amount"))
      .select("click_id", "purchase_id").as[(String, String)].collect().toSet
    assert(streamed == batch && streamed.size == 40,
      s"stream ${streamed.size} vs batch ${batch.size}")

    // eviction: the final state must hold only rows the watermark can
    // still match — far fewer than the 80 rows that flowed through
    val stateRows = q.lastProgress.stateOperators.asScala.map(_.numRowsTotal).sum
    assert(stateRows < 80, s"join state did not evict: $stateRows rows")
    q.stop()
  }

  private implicit class ArrAsScala[A](a: Array[A]) {
    def asScala: Seq[A] = a.toSeq
  }
}
