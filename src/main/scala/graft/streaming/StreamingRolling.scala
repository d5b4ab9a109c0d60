package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming trailing-window rolling aggregates — the incremental
  * mirror of the batch `Events.rollingAgg` RANGE frame
  * `[ts - span, ts]` (count / sum / mean of the value over each
  * event's trailing span), closing the batch↔streaming symmetry gap
  * the other event operators (as-of, sessionize, scans) already
  * closed.
  *
  * Ordering contract (same as [[StreamingAsof]]): events arrive in
  * non-decreasing `ts` order PER KEY across micro-batches. Equal-ts
  * events are RANGE-frame PEERS in the batch operator — every peer
  * sees every other peer — so peers must share a micro-batch for exact
  * parity (within a batch the whole tie run is absorbed before any of
  * it emits); a peer arriving in a LATER micro-batch gets
  * emission-time semantics (it sees the earlier peer, not vice versa —
  * an already-emitted append-mode row cannot be retracted).
  *
  * Scale notes: state per key is the events inside ONE span of time —
  * horizon-bounded like the forward-as-of pending buffer, NEVER the
  * stream history. A key whose whole volume lands inside one span
  * bounds this by data, not by the plan (the same boundary the batch
  * skew tier documents). Use watermark-driven timeout upstream if the
  * key space itself is unbounded.
  */
object StreamingRolling {

  /** One element of a keyed event stream (value None = missing: it
    * gets a result row but never contributes to any aggregate —
    * `count(valueCol)` semantics). */
  case class RollEvent(key: Long, ts: Long, value: Option[Double])

  /** Input event + its trailing-window aggregates. `rollN` counts
    * non-missing values in `[ts - span, ts]`; sum/mean are None when
    * the frame holds no values (the batch operator's SQL nulls). */
  case class RollResult(key: Long, ts: Long, value: Option[Double],
                        rollN: Long, rollSum: Option[Double],
                        rollMean: Option[Double])

  /** Per-key in-span buffer: parallel primitive seqs (the state-store
    * serializer rejects Option-typed fields; missing values ride as
    * valid=false). Public by the same serializer necessity as the
    * other streaming states. */
  case class RollBuf(ts: Seq[Long], value: Seq[Double],
                     valid: Seq[Boolean])

  /** Per-key streaming rolling count/sum/mean over the trailing
    * `[ts - span, ts]` frame. Append-mode: one result row per input
    * event. */
  def rollingAgg(events: Dataset[RollEvent],
                 span: Long): Dataset[RollResult] = {
    StreamingCheckpoints.install(events.sparkSession)
    require(span >= 0, "span must be >= 0")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[RollEvent], state: GroupState[RollBuf]) => {
          val prev = state.getOption.getOrElse(RollBuf(Nil, Nil, Nil))
          var bTs = prev.ts.toVector
          var bVal = prev.value.toVector
          var bOk = prev.valid.toVector
          // ONE key's slice of ONE micro-batch, sorted and processed
          // as equal-ts RUNS: the whole tie run is absorbed into the
          // buffer before any of it emits, so every peer sees every
          // other peer — batch RANGE-peer semantics. Memory is bounded
          // by (micro-batch rows / keys) plus one span of history.
          val sorted = batch.toSeq.sortBy(_.ts)
          val out = scala.collection.mutable.ArrayBuffer.empty[RollResult]
          var i = 0
          while (i < sorted.length) {
            var j = i
            while (j < sorted.length && sorted(j).ts == sorted(i).ts) j += 1
            val runTs = sorted(i).ts
            // evict below the closed lower bound, then append the run
            val cut = runTs - span
            if (bTs.nonEmpty && bTs.head < cut) {
              val from = bTs.indexWhere(_ >= cut) match {
                case -1 => bTs.length
                case k  => k
              }
              bTs = bTs.drop(from); bVal = bVal.drop(from)
              bOk = bOk.drop(from)
            }
            (i until j).foreach { k =>
              bTs :+= sorted(k).ts
              bVal :+= sorted(k).value.getOrElse(0.0)
              bOk :+= sorted(k).value.isDefined
            }
            // aggregate once per run (eviction already enforced the
            // lower bound; in-order arrival the upper)
            var n = 0L
            var s = 0.0
            var b = 0
            while (b < bTs.length) {
              if (bOk(b)) { n += 1; s += bVal(b) }
              b += 1
            }
            (i until j).foreach { k =>
              out += RollResult(key, runTs, sorted(k).value, n,
                if (n > 0) Some(s) else None,
                if (n > 0) Some(s / n) else None)
            }
            i = j
          }
          state.update(RollBuf(bTs, bVal, bOk))
          out.iterator
        })(Encoders.product[RollBuf], Encoders.product[RollResult])
  }
}
