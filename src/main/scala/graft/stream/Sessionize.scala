package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Input contract for sessionization. */
case class SessionEvent(user_id: Long, event_time: Timestamp, amount: Double)

/** A closed session (emitted only when the watermark passes its gap
  * deadline). */
case class UserSession(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    total_amount: Double)

/** One pending session buffer; a user's state holds every session the
  * watermark has not yet finalized. */
case class SessionBuf(start: Long, last: Long, n: Long, total: Double)

/**
 * Custom stateful operator: event-time sessionization with a gap timeout,
 * via `flatMapGroupsWithState` — the surface for semantics Spark's built-in
 * windows can't express (a session ends `gap` after its LAST event, not at
 * a fixed boundary).
 *
 * Emission contract: a session is output EXACTLY once, and only when the
 * watermark passes `last_event + gap` — never mid-batch, because an
 * out-of-order event still above the watermark may yet extend or bridge
 * it. Such stragglers attach by min/max-extending the session they fall
 * into, and an event landing between two pending sessions merges them.
 *
 * Scale design: state is a handful of fixed-size buffers per ACTIVE user
 * (bounded: every session's deadline ≤ watermark gets flushed and freed),
 * keyed by user_id so state shards evenly across executors.
 */
object Sessionize {

  /** A session closes after this much event-time silence. */
  val GapSeconds = 60L

  /** Watermark delay: how late an event may arrive and still attach. */
  val Watermark = "30 seconds"

  def apply(events: Dataset[SessionEvent]): Dataset[UserSession] = {
    implicit val outEnc: Encoder[UserSession] = Encoders.product[UserSession]
    implicit val stateEnc: Encoder[Seq[SessionBuf]] = ExpressionEncoder[Seq[SessionBuf]]()
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val gapMs = GapSeconds * 1000L

    // coalesce sorted sessions whose gaps closed (an event can bridge two)
    def mergeAdjacent(sorted: List[SessionBuf]): List[SessionBuf] =
      sorted.foldLeft(List.empty[SessionBuf]) {
        case (prev :: rest, cur) if cur.start - prev.last <= gapMs =>
          SessionBuf(prev.start, math.max(prev.last, cur.last),
            prev.n + cur.n, prev.total + cur.total) :: rest
        case (acc, cur) => cur :: acc
      }.reverse

    events
      .withWatermark("event_time", Watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[SessionBuf], UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[Seq[SessionBuf]]) =>

        var sessions = state.getOption.getOrElse(Seq.empty).toList.sortBy(_.start)
        batch.toSeq.sortBy(e => (e.event_time.getTime, e.amount)).foreach { e =>
          val t = e.event_time.getTime
          val idx = sessions.indexWhere(b => t >= b.start - gapMs && t <= b.last + gapMs)
          sessions =
            if (idx >= 0) {
              val b = sessions(idx)
              sessions.updated(idx, SessionBuf(math.min(b.start, t),
                math.max(b.last, t), b.n + 1, b.total + e.amount))
            } else SessionBuf(t, t, 1, e.amount) :: sessions
          sessions = mergeAdjacent(sessions.sortBy(_.start))
        }

        val wm = state.getCurrentWatermarkMs()
        // Flush at deadline <= wm. Safe because (pinned in SessionizeSpec)
        // Spark 4.1 drops events with event_time == watermark as late, so
        // no admissible event (t > wm) can ever attach to a session whose
        // deadline last+gap == wm (attach needs t <= last+gap = wm) — the
        // boundary session's content is final the moment the watermark
        // reaches it. Strict `<` would emit the identical sessions but one
        // trigger later, and would silently WITHHOLD a session whose
        // deadline equals the final watermark of a drained/stopped stream.
        val (closed, open) = sessions.partition(_.last + gapMs <= wm)
        if (open.nonEmpty) {
          state.update(open)
          // open deadlines are > wm by the partition above; max() is a
          // defensive floor since setTimeoutTimestamp rejects ts <= wm
          state.setTimeoutTimestamp(math.max(open.map(_.last + gapMs).min, wm + 1L))
        } else state.remove()
        closed.sortBy(_.start).map(b =>
          UserSession(userId, new Timestamp(b.start), new Timestamp(b.last), b.n, b.total)
        ).iterator
      }
  }
}
