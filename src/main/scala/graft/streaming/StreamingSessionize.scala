package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap sessionization — the incremental twin of
  * `graft.ops.Events.sessionize` (same cut rule, same 1-based ids), as
  * per-key state instead of a lag window: a session id increments when
  * the gap to the key's previous event exceeds `gap`. Structured
  * Streaming's built-in `session_window` aggregates per session;
  * this ASSIGNS the session id to every event (append mode), which is
  * what downstream per-event feature pipelines join against.
  *
  * Ordering contract (same as StreamingScan): events must arrive in
  * non-decreasing ts order PER KEY across micro-batches; within a
  * micro-batch they are sorted here (ties by `tie`). State cannot
  * reorder the past — a late event would start/extend the wrong
  * session, exactly like the batch lag over a mis-sorted column.
  *
  * Scale: state is one (lastTs, sessionId) pair per key — O(#keys)
  * fixed width, partitioned by key. For unbounded key spaces use the
  * processing-time timeout variant upstream (a timed-out key restarts
  * at session 1, which matches "a key silent longer than any retention
  * is a new visitor").
  */
object StreamingSessionize {

  case class SessionEvent(key: Long, ts: Long, tie: Long)

  case class SessionedEvent(key: Long, ts: Long, tie: Long, sessionId: Long)

  /** Per-key carry. Flat primitives: the state-store serializer rejects
    * Option fields (see StreamingScan.Carry). */
  case class SessionCarry(lastTs: Long, hasLast: Boolean, sessionId: Long)

  /** Assign 1-based gap-session ids to a keyed event stream. */
  def sessionize(events: Dataset[SessionEvent], gap: Long): Dataset[SessionedEvent] = {
    StreamingCheckpoints.install(events.sparkSession)
    require(gap >= 0, "gap must be >= 0")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[SessionEvent], state: GroupState[SessionCarry]) => {
          var carry = state.getOption.getOrElse(SessionCarry(0L, false, 1L))
          // one key's slice of one micro-batch, sorted — bounded by the
          // micro-batch size, not stream history
          val out = batch.toSeq.sortBy(e => (e.ts, e.tie)).map { e =>
            val newSession = carry.hasLast && e.ts - carry.lastTs > gap
            carry = SessionCarry(e.ts, hasLast = true,
              carry.sessionId + (if (newSession) 1L else 0L))
            SessionedEvent(e.key, e.ts, e.tie, carry.sessionId)
          }
          state.update(carry)
          out.iterator
        })(Encoders.product[SessionCarry], Encoders.product[SessionedEvent])
  }
}
