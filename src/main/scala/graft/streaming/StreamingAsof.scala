package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of join — the incremental mirror of the batch
  * `Events.asofJoin` backward direction (one keyed window pass there;
  * per-key last-value carry in the state store here).
  *
  * Model: ONE union stream of tagged events per key — tag 0 = right
  * rows (the quote/reference side whose latest value is carried), tag
  * 1 = left rows (the probe side that gets matched). This is the same
  * union-then-order shape the batch plan uses, made incremental: the
  * state store holds exactly the "last right row seen" per key, which
  * is the whole backward as-of invariant.
  *
  * Semantics parity with the batch operator:
  *  - a left row matches the latest right row with rightTs <= leftTs;
  *  - at EQUAL ts the right row is visible to the left row (tag sorts
  *    0 before 1, as the batch window orders (ts, tag) ascending);
  *  - a left row before any right row emits no match (None fields).
  *
  * Ordering contract (same as [[StreamingScan]]): events arrive in
  * non-decreasing ts order per key ACROSS micro-batches; within a
  * batch they are sorted here. State carries forward — it cannot
  * reorder the past.
  *
  * Scale notes: state is one (ts, value) pair per key — O(#keys)
  * fixed-width, partitioned by key like any streaming agg. Use
  * watermark-based timeouts upstream if the key space is unbounded.
  */
object StreamingAsof {

  /** Union-stream element: tag 0 = right (carried side), 1 = left. */
  case class AsofEvent(key: Long, ts: Long, tag: Int, value: Double)

  /** A left row + its as-of match (None = no right row yet). */
  case class AsofMatch(key: Long, ts: Long, value: Double,
                       matchTs: Option[Long], matchValue: Option[Double])

  /** Per-key carry: the last right row seen. Flat primitives — the
    * state-store serializer rejects Option-typed fields. */
  case class LastRight(ts: Long, value: Double, has: Boolean)

  /** Build the tagged union stream from separate left (probe) and
    * right (carried) streams sharing column names — the ergonomic
    * front door; the as-of operators consume the union. Both sides
    * must satisfy the per-key non-decreasing ts arrival contract. */
  def taggedUnion(left: org.apache.spark.sql.DataFrame,
                  right: org.apache.spark.sql.DataFrame,
                  keyCol: String, tsCol: String,
                  valueCol: String): Dataset[AsofEvent] = {
    StreamingCheckpoints.install(left.sparkSession)
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    import left.sparkSession.implicits._
    // Lossless long mapping PER DTYPE (r13 review — a plain
    // cast("long") is wrong for three of the admitted types: Date/NTZ
    // don't cast to long at all, and TimestampType casts to whole
    // SECONDS, silently collapsing sub-second-distinct timestamps):
    // integral → cast; TimestampType → unix_micros; NTZ → zone-free
    // wall-clock micros (days·86.4e9 + time-of-day); DateType →
    // unix_date (days). Each is monotone and injective, which is all
    // the as-of ordering/state need.
    def toLong(df: org.apache.spark.sql.DataFrame, c: String,
               what: String): org.apache.spark.sql.Column = {
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(c).cast("long")
        case TimestampType => org.apache.spark.sql.functions.unix_micros(col(c))
        case TimestampNTZType =>
          // Zone-FREE field arithmetic, not cast(TimestampType) →
          // unix_micros: that round-trip interprets the wall clock in
          // the SESSION zone and is not injective in a DST zone —
          // distinct NTZ values inside a spring-forward gap collapse
          // to one instant and would merge state groups (r14 review).
          // days·86.4e9 + wall time-of-day micros is monotone and
          // injective for every session timezone. date_part on NTZ
          // reads wall-clock fields directly; SECOND is a decimal
          // carrying the fractional micros exactly (·1e6 is exact in
          // decimal arithmetic before the long cast).
          {
            import org.apache.spark.sql.functions.{date_part, unix_date, lit}
            unix_date(col(c).cast(DateType)).cast("long") *
              lit(86400000000L) +
              date_part(lit("HOUR"), col(c)).cast("long") *
                lit(3600000000L) +
              date_part(lit("MINUTE"), col(c)).cast("long") *
                lit(60000000L) +
              (date_part(lit("SECOND"), col(c)) * lit(1000000L))
                .cast("long")
          }
        case DateType =>
          org.apache.spark.sql.functions.unix_date(col(c)).cast("long")
        case dt => throw new IllegalArgumentException(
          s"$what column '$c' has dtype $dt; the streaming as-of union " +
            "needs a lossless long mapping (non-matches would become " +
            "null and collapse into one state group). Pre-map " +
            "non-integral keys to long (e.g. hash or dictionary-encode " +
            "string ids) before taggedUnion.")
      }
    }
    // Each mapping is monotone+injective WITHIN its dtype, but the
    // dtypes land on mutually incomparable scales (epoch micros vs
    // zone-free wall-clock micros vs days) — mixed-dtype sides would
    // compare those scales directly and silently mis-join (r14
    // review). Require identical dtypes across the two sides.
    for ((c, what) <- Seq((keyCol, "key"), (tsCol, "ts"))) {
      val (lt, rt) = (left.schema(c).dataType, right.schema(c).dataType)
      require(lt == rt,
        s"$what column '$c' dtype differs across sides: left=$lt " +
          s"right=$rt; the long mappings are per-dtype and mutually " +
          "incomparable — cast both sides to one dtype before " +
          "taggedUnion.")
    }
    def side(df: org.apache.spark.sql.DataFrame, tag: Int) =
      df.select(toLong(df, keyCol, "key").as("key"),
        toLong(df, tsCol, "ts").as("ts"),
        lit(tag).as("tag"), col(valueCol).cast("double").as("value"))
    side(right, 0).unionByName(side(left, 1)).as[AsofEvent]
  }

  /** Backward as-of over the tagged union stream. Append-mode output:
    * one row per LEFT event; right events only update state. */
  def asofBackward(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    StreamingCheckpoints.install(events.sparkSession)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[AsofEvent], state: GroupState[LastRight]) => {
          var carry = state.getOption.getOrElse(LastRight(0L, 0.0, has = false))
          // sorts ONE key's slice of ONE micro-batch by (ts, tag) —
          // right-before-left at equal ts, exactly the batch window
          // order; memory bounded by micro-batch size per key
          val out = batch.toSeq.sortBy(e => (e.ts, e.tag)).flatMap { e =>
            if (e.tag == 0) {
              carry = LastRight(e.ts, e.value, has = true)
              None
            } else Some(AsofMatch(key, e.ts, e.value,
              if (carry.has) Some(carry.ts) else None,
              if (carry.has) Some(carry.value) else None))
          }
          state.update(carry)
          out.iterator
        })(Encoders.product[LastRight], Encoders.product[AsofMatch])
  }

  /** Pending left rows awaiting their forward match. Flat parallel
    * lists (the state-store serializer handles Seq of primitives). */
  case class FwdPending(ts: Seq[Long], value: Seq[Double])

  /** FORWARD as-of over the tagged union stream: a left row matches the
    * EARLIEST right row with rightTs >= leftTs (equal ts qualifies,
    * matching the batch operator). A streaming forward join must wait
    * for the future, so left rows buffer in state until either
    *  - a right row at ts >= leftTs arrives (match, emit), or
    *  - ANY event arrives at ts > leftTs + horizon: in-order arrival
    *    means every future right would land at or beyond that event's
    *    ts, i.e. outside the horizon — the left can never match and is
    *    emitted unmatched (None fields).
    * Emission is event-driven and deterministic: a pending left with no
    * subsequent event stays pending (exactly as a batch job would not
    * have run yet) — feed a heartbeat/sentinel event per key to flush
    * tails, or bound the wait upstream with the watermark.
    *
    * Ordering contract and state bounds: same per-key non-decreasing
    * ts arrival as [[asofBackward]]; state holds only lefts younger
    * than `horizon`, so it is O(#keys x lefts-per-horizon-window).
    */
  def asofForward(events: Dataset[AsofEvent], horizon: Long): Dataset[AsofMatch] = {
    StreamingCheckpoints.install(events.sparkSession)
    require(horizon >= 0, "horizon must be >= 0")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[AsofEvent], state: GroupState[FwdPending]) => {
          val st = state.getOption.getOrElse(FwdPending(Nil, Nil))
          var pending = st.ts.zip(st.value).toList // ascending leftTs
          val out = scala.collection.mutable.ListBuffer.empty[AsofMatch]
          // forward: at equal ts the right qualifies, so LEFTS process
          // first (tag desc) and are already pending when the equal-ts
          // right matches — the same reversed-tag mirror the batch
          // operator's forward window uses (Events.asofJoin fwdOrd)
          batch.toSeq.sortBy(e => (e.ts, -e.tag)).foreach { e =>
            // expire lefts whose horizon closed strictly before e.ts
            val (dead, alive) = pending.partition(_._1 + horizon < e.ts)
            dead.foreach { case (ts, v) =>
              out += AsofMatch(key, ts, v, None, None)
            }
            pending = alive
            if (e.tag == 0) {
              // earliest right at-or-after every pending left <= e.ts
              val (matched, rest) = pending.partition(_._1 <= e.ts)
              matched.foreach { case (ts, v) =>
                out += AsofMatch(key, ts, v, Some(e.ts), Some(e.value))
              }
              pending = rest
            } else pending = pending :+ ((e.ts, e.value))
          }
          state.update(FwdPending(pending.map(_._1), pending.map(_._2)))
          out.iterator
        })(Encoders.product[FwdPending], Encoders.product[AsofMatch])
  }

  /** Pending lefts + their backward candidate (parallel lists; bTs/bV
    * hold the last right seen at the left's arrival, bHas its
    * presence) and the carried last right row. */
  case class NearState(ts: Seq[Long], value: Seq[Double],
                       bTs: Seq[Long], bV: Seq[Double], bHas: Seq[Boolean],
                       lastTs: Long, lastV: Double, lastHas: Boolean)

  /** NEAREST as-of over the tagged union stream: each left row matches
    * whichever of (latest right at-or-before, earliest right at-or-
    * after) is closer in ts, ties to the backward match — the batch
    * operator's rule. The backward candidate is a scalar carry; the
    * forward side buffers the left until the first qualifying right or
    * until the forward candidate can no longer win:
    *  - a right at ts >= leftTs arrives -> compare distances, emit;
    *  - any event passes leftTs + min(backwardDistance, horizon) ->
    *    emit the backward candidate (beyond the backward distance the
    *    forward side is already farther; beyond the horizon we stop
    *    waiting — the one BOUNDED-STATE divergence from the batch
    *    operator, which would keep looking arbitrarily far forward
    *    when the backward match is even farther).
    * Same ordering contract and state bounds as [[asofForward]].
    */
  def asofNearest(events: Dataset[AsofEvent], horizon: Long): Dataset[AsofMatch] = {
    StreamingCheckpoints.install(events.sparkSession)
    require(horizon >= 0, "horizon must be >= 0")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[AsofEvent], state: GroupState[NearState]) => {
          val st = state.getOption.getOrElse(
            NearState(Nil, Nil, Nil, Nil, Nil, 0L, 0.0, lastHas = false))
          // pending: (leftTs, leftV, backTs, backV, backHas)
          var pending = st.ts.indices.map(i =>
            (st.ts(i), st.value(i), st.bTs(i), st.bV(i), st.bHas(i))).toList
          var last = (st.lastTs, st.lastV, st.lastHas)
          val out = scala.collection.mutable.ListBuffer.empty[AsofMatch]
          def backOf(p: (Long, Double, Long, Double, Boolean)): AsofMatch =
            AsofMatch(key, p._1, p._2,
              if (p._5) Some(p._3) else None, if (p._5) Some(p._4) else None)
          // the forward candidate loses once the clock passes
          // leftTs + backwardDistance (or + horizon with no backward)
          def deadline(p: (Long, Double, Long, Double, Boolean)): Long =
            if (p._5) p._1 + math.min(p._1 - p._3, horizon) else p._1 + horizon
          // lefts first at equal ts (forward side qualifies at equal
          // ts); the backward carry updates before the left only for
          // strictly-earlier rights, which the same order gives
          batch.toSeq.sortBy(e => (e.ts, -e.tag)).foreach { e =>
            val (dead, alive) = pending.partition(deadline(_) < e.ts)
            dead.foreach(out += backOf(_))
            pending = alive
            if (e.tag == 0) {
              val (arrived, rest) = pending.partition(_._1 <= e.ts)
              arrived.foreach { p =>
                val fwdD = e.ts - p._1
                out += (if (p._5 && (p._1 - p._3) <= fwdD) backOf(p)
                        else AsofMatch(key, p._1, p._2, Some(e.ts), Some(e.value)))
              }
              pending = rest
              last = (e.ts, e.value, true)
            } else pending = pending :+
              ((e.ts, e.value, last._1, last._2, last._3))
          }
          state.update(NearState(
            pending.map(_._1), pending.map(_._2), pending.map(_._3),
            pending.map(_._4), pending.map(_._5), last._1, last._2, last._3))
          out.iterator
        })(Encoders.product[NearState], Encoders.product[AsofMatch])
  }
}
