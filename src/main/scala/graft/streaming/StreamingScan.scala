package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming grouped scans: the carry state that flox's Blelloch scan
  * threads between chunks (flox/aggregations.py:792-846 — last valid
  * value for ffill, running total for cumsum) becomes per-key state in
  * Spark's state store, maintained by flatMapGroupsWithState. This is
  * the custom-state extension point the window-frame batch path
  * (graft.api.GroupByScan) cannot express incrementally.
  *
  * Ordering contract: events must arrive in non-decreasing `idx` order
  * PER KEY across micro-batches (within a batch they are sorted here).
  * That is the streaming analog of the batch path's explicit
  * element-order column — state carries forward, it cannot reorder the
  * past.
  *
  * Scale notes: state is O(#keys) fixed-width (two doubles + a flag);
  * partitioned by key like any streaming agg. Use watermark-based
  * state timeout upstream if the key space is unbounded.
  */
object StreamingScan {

  /** One element of a keyed stream (value None = missing, as in ffill). */
  case class ScanEvent(key: Long, idx: Long, value: Option[Double])

  /** Input event + its scan results: forward-fill and running
    * NaN-skipping cumsum (nancumsum semantics: missing contributes 0). */
  case class ScanResult(key: Long, idx: Long, value: Option[Double],
                        filled: Option[Double], cumsum: Double)

  /** Per-key carry state. Public flat primitives by necessity: the
    * state-store serializer is janino-compiled and rejects both
    * private classes and Option-typed fields. */
  case class Carry(lastValid: Double, hasLast: Boolean,
                   runningSum: Double)

  /** Per-key streaming ffill + nancumsum. Append-mode output: one
    * result row per input event, in idx order within each micro-batch.
    */
  def ffillCumsum(events: Dataset[ScanEvent]): Dataset[ScanResult] = {
    StreamingCheckpoints.install(events.sparkSession)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[ScanEvent], state: GroupState[Carry]) => {
          var carry = state.getOption.getOrElse(Carry(0.0, false, 0.0))
          // buffers ONE key's slice of ONE micro-batch to sort by idx —
          // memory is bounded by (micro-batch rows / keys), not stream
          // history; cap micro-batch size (maxOffsetsPerTrigger /
          // maxFilesPerTrigger) if a single key can flood a batch
          val out = batch.toSeq.sortBy(_.idx).map { e =>
            carry = Carry(
              e.value.getOrElse(carry.lastValid),
              carry.hasLast || e.value.isDefined,
              carry.runningSum + e.value.getOrElse(0.0))
            val filled =
              if (e.value.isDefined) e.value
              else if (carry.hasLast) Some(carry.lastValid)
              else None
            ScanResult(key, e.idx, e.value, filled, carry.runningSum)
          }
          state.update(carry)
          out.iterator
        })(Encoders.product[Carry], Encoders.product[ScanResult])
  }
}
