package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stream-stream ATTRIBUTION joins — completes the stream-stream family
 * begun by [[StreamPipeline.joinStreams]] (the backward-looking inner
 * enrich: latest profile no older than the event). This module adds the
 * FORWARD-looking shape (a purchase credits a preceding click) and the
 * semantics joinStreams never exercised: LEFT OUTER with watermark-gated
 * null emission, plus StreamJoinSpec's state-eviction and batch≡stream
 * proofs. Both inputs are unbounded, so the join is stateful on BOTH
 * sides, and correctness is entirely a watermark story.
 *
 * Semantics (Structured Streaming's standard contract, pinned by
 * StreamJoinSpec):
 *  - INNER with an event-time range condition: each side buffers rows in
 *    its state store; a match emits as soon as both rows have arrived.
 *    The range condition (`purchase_ts BETWEEN click_ts AND click_ts +
 *    window`) plus the two watermarks is what lets Spark EVICT: a click
 *    older than (purchase watermark − window) can never match a future
 *    purchase, so its state row drops — without the range bound the join
 *    is legal but both stores grow forever (the same unbounded-state trap
 *    as the reference's pre-watermark dedup, SURVEY §7.5.1).
 *  - LEFT OUTER additionally emits click-with-nulls, but only once the
 *    watermark PROVES no match can still arrive — so unmatched results
 *    trail by the watermark delay by design (a test that forgets to
 *    advance event time past the close will see zero outer rows, not a
 *    bug).
 *
 * Scale shape: state shards by the join key (user_id — data-grain, so
 * parallelism scales with users across executors' state stores); per-key
 * state is bounded by the interval width × per-user event rate; eviction
 * is incremental per micro-batch. At 100 TB/day the knobs are the
 * watermark delays (lateness tolerance vs state size) and the interval
 * width — the PLAN needs no change from this one.
 */
object StreamJoin {

  /** Attribution window: a purchase credits the most recent click no
    * older than this many seconds (fixture-sized). */
  val WindowSeconds = 1800L

  /** Watermark delay on both sides (how late a row may arrive and still
    * join). */
  val DelaySeconds = 600L

  /** INNER attribution join of `clicks(user_id, click_id, click_ts)` and
    * `purchases(user_id, purchase_id, purchase_ts, amount)`: purchases
    * matched to every click of the same user in the preceding
    * [[WindowSeconds]]. Works identically on batch frames (the spec's
    * batch-twin gate) and on streaming frames (where the watermarks bound
    * both state stores). */
  def attribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", s"$DelaySeconds seconds")
    val p = purchases.withWatermark("purchase_ts", s"$DelaySeconds seconds")
    c.join(p,
      c("user_id") === p("user_id") &&
        p("purchase_ts") >= c("click_ts") &&
        p("purchase_ts") <= c("click_ts") + expr(s"INTERVAL $WindowSeconds SECONDS"),
      "inner")
      .select(c("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("amount"))
  }

  /** LEFT OUTER variant: every click appears — matched rows as in
    * [[attribution]], unmatched clicks with null purchase columns emitted
    * once the purchase-side watermark passes `click_ts` + [[WindowSeconds]]
    * (the earliest moment "no match" is provable). The funnel-analysis
    * shape: conversion AND abandonment from one operator. */
  def attributionOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", s"$DelaySeconds seconds")
    val p = purchases.withWatermark("purchase_ts", s"$DelaySeconds seconds")
    c.join(p,
      c("user_id") === p("user_id") &&
        p("purchase_ts") >= c("click_ts") &&
        p("purchase_ts") <= c("click_ts") + expr(s"INTERVAL $WindowSeconds SECONDS"),
      "leftOuter")
      .select(c("user_id").as("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("amount"))
  }
}
