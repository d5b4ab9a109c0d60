package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Event-stream operators Spark lacks as built-ins, composed from
  * keyed windows so they keep Catalyst's planning (per the
  * compose-first custom-operator policy): as-of join and gap
  * sessionization. Both run as ONE hash Exchange on the key plus an
  * in-partition sort — the scale shape for billions of events across
  * millions of keys, with no range-condition join (which Spark would
  * plan as a broadcast-nested-loop or an exploding theta join).
  */
object Events {

  /** As-of join: for every left row, the payload of the LATEST right
    * row with the same key and `rightTs <= leftTs` (backward-inclusive,
    * DuckDB/pandas `ASOF JOIN` semantics); null payload when no right
    * row precedes. `direction` extends to pandas merge_asof parity:
    * "forward" matches the EARLIEST right row with `rightTs >= leftTs`,
    * "nearest" the right row with the smallest |rightTs - leftTs|
    * (ties -> the backward match; requires a numeric ts column).
    *
    * Plan: tag + union the two inputs, one window per key ordered by
    * (ts, tag) — right rows sort before left rows at equal ts, so
    * `last(payload, ignoreNulls)` over the running frame IS the as-of
    * match, carried to each left row in a single pass (forward = the
    * mirrored frame in the SAME window pass; nearest = both carries +
    * one comparison). One shuffle on the key; neither side is
    * broadcast, neither side range-joins. Right rows should be unique
    * per (key, ts) — pre-aggregate ties upstream or the carried match
    * is tie-ambiguous (same contract as DuckDB ASOF JOIN).
    *
    * Left rows with null `leftTs` sort first and match nothing
    * backward, by design.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               prefix: String = "asof_",
               direction: String = "backward",
               tolerance: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(payload.nonEmpty, "payload must be non-empty")
    require(Set("backward", "forward", "nearest")(direction),
      s"unknown direction '$direction'")
    require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
    val r2 = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"),
        struct(col(rightTs).as("__rts") +: payload.map(col): _*).as("__p"),
        lit(0).as("__tag")): _*)
    val l2 = left.withColumn("__ts", col(leftTs)).withColumn("__tag", lit(1))
    // at equal ts the right row must be VISIBLE to the left row in both
    // directions: tag asc puts right first for the trailing frame; the
    // leading frame starts at currentRow, and rows_between frames are
    // ROW-based, so the equal-ts right row (sorted just before) needs
    // tag desc for forward — run forward as last() over a REVERSED
    // mirror ordering instead, expressed as first() with tag desc
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwdOrd = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").desc)
    val fwd = fwdOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val unioned = l2.unionByName(r2, allowMissingColumns = true)
    // pandas merge_asof `tolerance`: a candidate only counts when its
    // ts distance is within the bound. Nulling the carried candidate
    // POST-window is exactly candidate-level filtering: backward's
    // carry is the unique latest-at-or-before row (too old -> no other
    // candidate exists), mirrored for forward; nearest filters each
    // side before the distance choice.
    def tolOk(m: Column, backSide: Boolean): Column = tolerance match {
      case None => m
      case Some(t) =>
        val d = if (backSide) col("__ts") - m.getField("__rts")
                else m.getField("__rts") - col("__ts")
        when(d <= t, m)
    }
    val matched = direction match {
      case "backward" =>
        unioned.withColumn("__m",
          tolOk(last(col("__p"), ignoreNulls = true).over(back), backSide = true))
      case "forward" =>
        unioned.withColumn("__m",
          tolOk(first(col("__p"), ignoreNulls = true).over(fwd), backSide = false))
      case "nearest" =>
        unioned
          .withColumn("__mb",
            tolOk(last(col("__p"), ignoreNulls = true).over(back), backSide = true))
          .withColumn("__mf",
            tolOk(first(col("__p"), ignoreNulls = true).over(fwd), backSide = false))
          .withColumn("__m",
            when(col("__mb").isNull, col("__mf"))
              .when(col("__mf").isNull, col("__mb"))
              .when(col("__ts") - col("__mb.__rts") <=
                col("__mf.__rts") - col("__ts"), col("__mb"))
              .otherwise(col("__mf")))
    }
    matched
      .filter(col("__tag") === 1)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"__m.$p").as(prefix + p)): _*)
  }

  /** [[asofJoin]] for the DOUBLE-DIGIT-fraction hot-key regime (r14,
    * the rollingAggSkewed sibling). The plain operator's single
    * Exchange partitions by key alone — a key holding 30% of the
    * corpus funnels through one task's sort. This variant decomposes
    * by `span`-width TIME BLOCKS of the ts column:
    *
    *  1. the tagged union windows over partition (keys, block) — the
    *     in-block match, same tag/tie discipline as the plain pass;
    *  2. a per-(keys, block) CARRY TABLE: the last (backward) / first
    *     (forward) right row of each block, carried across blocks by
    *     a window whose per-key partition holds one row per ACTIVE
    *     BLOCK (bounded by the time range over span, never by the
    *     key's corpus share), frame `[-∞, -1]` / `[+1, +∞]` so the
    *     carry is strictly-earlier/later blocks only;
    *  3. each left row coalesces in-block match → carry (the in-block
    *     candidate is always nearer), then the plain operator's
    *     tolerance filter and nearest comparison apply unchanged —
    *     the coalesced candidate IS the unique latest-at-or-before /
    *     earliest-at-or-after row.
    *
    * All exchanges are keyed (keys, block) or keys-over-block-rows;
    * null-safe joins keep null group keys flowing like the plain
    * window does. `span` trades carry-table size against in-block
    * partition width — any value is correct (EventsSpec fuzzes 4);
    * pick roughly the median match distance. Both ts columns must be
    * non-null (the plain operator's null-ts carry semantics don't
    * decompose; left-null-ts rows still match nothing backward /
    * everything-earliest forward, mirroring the plain pass). Cost: ~5
    * exchanges vs 1. Measured honestly (`graft.SkewProbe` at commit
    * 316cdc8, 10M events, 30% on one user): the plain union-window is
    * a single O(n) carry pass, so it does NOT cliff at probe scale
    * (the skewed variant's extra exchanges cost more there); its wall
    * is the one-TASK sort/memory bound when the hot key's rows stop
    * fitting an executor — the regime this decomposition exists for.
    * Use [[asofJoin]] whenever the hottest key fits a task. */
  def asofJoinSkewed(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTs: String, rightTs: String, payload: Seq[String],
                     span: Long, prefix: String = "asof_",
                     direction: String = "backward",
                     tolerance: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(payload.nonEmpty, "payload must be non-empty")
    require(Set("backward", "forward", "nearest")(direction),
      s"unknown direction '$direction'")
    require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
    require(span >= 1, "span must be >= 1")
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def blockOf(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, span)).otherwise(-idiv(-xl + (span - 1), span))
    }
    val pStruct = struct(col(rightTs).as("__rts") +: payload.map(col): _*)
    val r2 = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), pStruct.as("__p"),
        lit(0).as("__tag")): _*)
    val l2 = left.withColumn("__ts", col(leftTs)).withColumn("__tag", lit(1))
    val unioned = l2.unionByName(r2, allowMissingColumns = true)
      .withColumn("__b", blockOf(col("__ts")))
    // 1. in-block matches: the plain pass with block in the partition
    val part = keys.map(col) :+ col("__b")
    val ordB = Window.partitionBy(part: _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ordF = Window.partitionBy(part: _*)
      .orderBy(col("__ts").asc, col("__tag").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val needB = direction != "forward"
    val needF = direction != "backward"
    val inBlock = unioned
      .withColumn("__ib", if (needB)
        last(col("__p"), ignoreNulls = true).over(ordB) else lit(null))
      .withColumn("__if", if (needF)
        first(col("__p"), ignoreNulls = true).over(ordF) else lit(null))
      .filter(col("__tag") === 1)
    // 2. carry table over the UNION of both sides' active blocks (a
    // left block with no right rows must still see earlier carries).
    // Per-block last/first right rows come from row_number windows
    // over the bounded (keys, block) partitions, NOT max_by/min_by on
    // the payload struct — a struct-valued aggregation buffer kicks
    // HashAggregate out for a SortAggregate fallback (plan audit)
    val rB = right.select((keys.map(col) ++ Seq(
      blockOf(col(rightTs)).as("__b"), col(rightTs).as("__rt"),
      pStruct.as("__pp"))): _*)
    val rPart = keys.map(col) :+ col("__b")
    val lastT = rB.withColumn("__rn", row_number().over(
        Window.partitionBy(rPart: _*).orderBy(col("__rt").desc)))
      .filter(col("__rn") === 1)
      .select((keys.map(col) ++ Seq(col("__b"), col("__pp").as("__lastP"))): _*)
    val firstT = rB.withColumn("__rn", row_number().over(
        Window.partitionBy(rPart: _*).orderBy(col("__rt").asc)))
      .filter(col("__rn") === 1)
      .select((keys.map(k => col(k).as(s"__fk_$k")) ++ Seq(
        col("__b").as("__fb"), col("__pp").as("__firstP"))): _*)
    val rPerBlock = lastT.join(firstT,
        (keys.map(k => col(k) <=> col(s"__fk_$k")) :+
          (col("__b") <=> col("__fb"))).reduce(_ && _))
      .select((keys.map(col) ++ Seq(col("__b"), col("__lastP"),
        col("__firstP"))): _*)
    val domain = left
      .select((keys.map(col) :+ blockOf(col(leftTs)).as("__b")): _*)
      .distinct()
      .unionByName(rPerBlock.select((keys.map(col) :+ col("__b")): _*))
      .distinct()
    val wK = Window.partitionBy(keys.map(col): _*).orderBy(col("__b").asc)
    // null-SAFE domain join: a null group key forms a window partition
    // in the plain operator, so its blocks must keep their carries too
    val rpb = rPerBlock.select((keys.map(k => col(k).as(s"__rk_$k")) ++
      Seq(col("__b").as("__rb"), col("__lastP"), col("__firstP"))): _*)
    val carry = domain.join(rpb,
        (keys.map(k => col(k) <=> col(s"__rk_$k")) :+
          (col("__b") <=> col("__rb"))).reduce(_ && _), "left")
      .select((keys.map(k => col(k).as(s"__ck_$k")) ++ Seq(
        col("__b").as("__cb"),
        last(col("__lastP"), ignoreNulls = true)
          .over(wK.rowsBetween(Window.unboundedPreceding, -1)).as("__carryB"),
        first(col("__firstP"), ignoreNulls = true)
          .over(wK.rowsBetween(1, Window.unboundedFollowing)).as("__carryF"))): _*)
    // 3. combine: coalesce in-block over carry, then the plain
    // operator's tolerance/nearest algebra verbatim
    val cond = (keys.map(k => col(k) <=> col(s"__ck_$k")) :+
      (col("__b") <=> col("__cb"))).reduce(_ && _)
    val joined = inBlock.join(carry, cond, "left")
    def tolOk(m: Column, backSide: Boolean): Column = tolerance match {
      case None => m
      case Some(t) =>
        val d = if (backSide) col("__ts") - m.getField("__rts")
                else m.getField("__rts") - col("__ts")
        when(d <= t, m)
    }
    val mB = tolOk(coalesce(col("__ib"), col("__carryB")), backSide = true)
    val mF = tolOk(coalesce(col("__if"), col("__carryF")), backSide = false)
    val withM = direction match {
      case "backward" => joined.withColumn("__m", mB)
      case "forward"  => joined.withColumn("__m", mF)
      case "nearest"  => joined
        .withColumn("__mb", mB).withColumn("__mf", mF)
        .withColumn("__m",
          when(col("__mb").isNull, col("__mf"))
            .when(col("__mf").isNull, col("__mb"))
            .when(col("__ts") - col("__mb.__rts") <=
              col("__mf.__rts") - col("__ts"), col("__mb"))
            .otherwise(col("__mf")))
    }
    withM.select(left.columns.map(col) ++
      payload.map(p => col(s"__m.$p").as(prefix + p)): _*)
  }

  /** Trailing range-frame rolling aggregate per key: for every row, the
    * count/sum/mean of `valueCol` over rows of the same key with
    * `tsCol` in `[ts - span, ts]` (RANGE frame, so timestamp peers are
    * included identically in any engine — no tie ambiguity). One hash
    * Exchange on the key + one in-partition sort. `valueCol` should be
    * integral: the windowed sum is then exact and order-independent
    * (a float sum would hash differently per frame-evaluation order —
    * DuckDB computes window sums over a segment tree, Spark
    * sequentially); the mean is one final IEEE division.
    */
  def rollingAgg(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, span: Long): DataFrame = {
    require(span >= 0, "span must be >= 0")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc)
      .rangeBetween(-span, 0)
    df.withColumn("roll_n", count(col(valueCol)).over(w))
      .withColumn("roll_sum", sum(col(valueCol)).over(w))
      .withColumn("roll_mean",
        col("roll_sum").cast("double") / col("roll_n"))
  }

  /** [[rollingAgg]] for the DOUBLE-DIGIT-fraction hot-key regime. The
    * plain operator's one Exchange partitions by key alone, so a key
    * holding 30% of a 100 TB corpus sorts 30 TB on one task. This
    * variant partitions by (key, span-width TIME BLOCK
    * `b = floor(ts/span)`) instead. A row's frame `[ts-span, ts]` lies
    * in its own block and the one before, so every row travels to its
    * own block and, when it has a ts and a value, as a HALO copy to
    * block b+1. The plan is one hash
    * Exchange on (key, block), one sort on (key, block, ts) and one
    * streaming fold ([[trailingFold]]): per equal-ts run (RANGE peers)
    * it absorbs the whole run before emitting any of it, evicts
    * ts < t - span and emits the block's own rows only. That is O(n)
    * per task, where the window's sliding frame re-sums its buffer.
    *
    * Every partition is bounded by the hot key's rows in two spans of
    * TIME, not by its corpus share: no exchange is keyed by the bare
    * key. The price is the halo, which shuffles those rows twice (copies
    * carry only key, ts and value), so use [[rollingAgg]] below
    * double-digit key concentration. Columns and types equal
    * [[rollingAgg]]'s; integral values are bit-identical (EventsSpec
    * law), null keys form one group like the window's null partition,
    * and null-ts rows frame only each other, as in the RANGE frame.
    * `tsCol` must be integral. */
  def rollingAggSkewed(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, span: Long): DataFrame = {
    require(span >= 1, "span must be >= 1 (rollingAgg covers span=0)")
    require(isIntegral(df.schema(tsCol).dataType),
      s"'$tsCol' must be integral for the skewed tier")
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    val t = col(tsCol).cast("long")
    val b = when(t >= 0, idiv(t, span)).otherwise(-idiv(-t + (span - 1), span))
    // __o = 0: the row in its own block; 1: its halo copy in the next
    // block, made only for a row that enters frames (a null ts has a
    // null block, a null value adds nothing)
    val frameCols = Set(keyCol, tsCol, valueCol)
    val copied = t.isNotNull && col(valueCol).isNotNull
    val halo = df.select(df.columns.map(col) :+
        posexplode(when(copied, array(b, b + 1)).otherwise(array(b)))
          .as(Seq("__o", "__b")): _*)
      .select(df.columns.map(c =>
        if (frameCols(c)) col(c) else when(col("__o") === 0, col(c)).as(c)) ++
        Seq(col("__o"), col("__b")): _*)
    val sumType = df.select(sum(col(valueCol))).schema.head.dataType
    val (lift, plus) = sumOps(sumType)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("roll_n", LongType, nullable = false),
      StructField("roll_sum", sumType)))
    val (kI, tI, vI) = (df.columns.indexOf(keyCol),
      df.columns.indexOf(tsCol), df.columns.indexOf(valueCol))
    val nCols = df.columns.length
    halo.repartition(col(keyCol), col("__b"))
      .sortWithinPartitions(col(keyCol), col("__b"), col(tsCol))
      .mapPartitions(trailingFold(_, kI, tI, vI, nCols, span, lift, plus))(
        Encoders.row(outSchema))
      .withColumn("roll_mean",
        col("roll_sum").cast("double") / col("roll_n"))
  }

  private[graft] def isIntegral(t: DataType): Boolean =
    Seq(ByteType, ShortType, IntegerType, LongType).contains(t)

  /** Lift of an input value into `sum`'s result type, and its add. */
  private def sumOps(sumType: DataType): (Any => Any, (Any, Any) => Any) =
    sumType match {
      case LongType => (v => v.asInstanceOf[Number].longValue,
        (x, y) => x.asInstanceOf[Long] + y.asInstanceOf[Long])
      case DoubleType => (v => v.asInstanceOf[Number].doubleValue,
        (x, y) => x.asInstanceOf[Double] + y.asInstanceOf[Double])
      case _: DecimalType => (v => v, (x, y) =>
        x.asInstanceOf[java.math.BigDecimal].add(y.asInstanceOf[java.math.BigDecimal]))
      case other => throw new IllegalArgumentException(
        s"rollingAggSkewed sums numeric values, not $other")
    }

  /** [[rollingAggSkewed]]'s fold over one task's halo rows sorted by
    * (key, block, ts); `nCols` is the input width, followed by `__o`
    * and `__b`. Each group (key, block) starts an empty frame. */
  private def trailingFold(rows: Iterator[Row], kI: Int, tI: Int, vI: Int,
                           nCols: Int, span: Long, lift: Any => Any,
                           plus: (Any, Any) => Any): Iterator[Row] = {
    val in = rows.buffered
    val frame = new FrameQueue(plus)
    var key: Any = null
    var block: Any = null
    def sameKey(a: Any): Boolean = (a, key) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case _ => java.util.Objects.equals(a, key)
    }
    def inGroup(r: Row): Boolean = sameKey(r.get(kI)) && r.get(nCols + 1) == block
    def run(): Iterator[Row] = {
      val head = in.head
      if (!inGroup(head)) {
        frame.clear(); key = head.get(kI); block = head.get(nCols + 1)
      }
      val ts = head.get(tI)
      val t = if (ts == null) 0L else ts.asInstanceOf[Number].longValue
      val own = ArrayBuffer.empty[Row]
      while (in.hasNext && inGroup(in.head) && in.head.get(tI) == ts) {
        val r = in.next()
        if (!r.isNullAt(vI)) frame.push(t, lift(r.get(vI)))
        if (r.getInt(nCols) == 0) own += r
      }
      // the closed lower bound t - span; below Long.MinValue nothing
      // leaves, and a null-ts group never evicts
      if (ts != null && t >= Long.MinValue + span) frame.evictBefore(t - span)
      val (n, s) = (frame.count, frame.sum)
      own.iterator.map(r => Row.fromSeq(r.toSeq.take(nCols) ++ Seq(n, s)))
    }
    Iterator.continually(()).takeWhile(_ => in.hasNext).flatMap(_ => run())
  }

  /** FIFO of a frame's non-null (ts, value) pairs with an amortized O(1)
    * sum that never subtracts, so an evicted double never cancels into
    * the result: pushes go to `back` under one running sum; `front`
    * holds the oldest pairs, each with the sum of itself and every
    * newer pair in `front`, and is refilled from `back` when empty. */
  private final class FrameQueue(plus: (Any, Any) => Any) {
    private val backTs = ArrayBuffer.empty[Long]
    private val backV = ArrayBuffer.empty[Any]
    private var backSum: Any = null
    private var frontTs = Array.emptyLongArray
    private var frontSum = Array.empty[Any]
    private var lo = 0

    def count: Long = frontTs.length - lo + backTs.length

    def sum: Any =
      if (lo == frontTs.length) backSum
      else if (backSum == null) frontSum(lo)
      else plus(frontSum(lo), backSum)

    def push(ts: Long, v: Any): Unit = {
      backTs += ts; backV += v
      backSum = if (backSum == null) v else plus(backSum, v)
    }

    def evictBefore(lower: Long): Unit = {
      if (lo == frontTs.length && backTs.nonEmpty) flip()
      while (lo < frontTs.length && frontTs(lo) < lower) {
        lo += 1
        if (lo == frontTs.length && backTs.nonEmpty) flip()
      }
    }

    private def flip(): Unit = {
      frontTs = backTs.toArray
      frontSum = new Array[Any](frontTs.length)
      var acc: Any = null
      var i = frontTs.length - 1
      while (i >= 0) {
        acc = if (acc == null) backV(i) else plus(backV(i), acc)
        frontSum(i) = acc
        i -= 1
      }
      lo = 0; backTs.clear(); backV.clear(); backSum = null
    }

    def clear(): Unit = {
      frontTs = Array.emptyLongArray; frontSum = Array.empty[Any]; lo = 0
      backTs.clear(); backV.clear(); backSum = null
    }
  }

  /** Interval (range) join WITHOUT an equi-key requirement: every left
    * row is paired with the right rows whose `rightTs` falls in
    * `[leftTs + lower, leftTs + upper]` (inclusive ends, same integer
    * units as the ts columns), optionally also matching on equi `keys`.
    *
    * Spark plans a bare range predicate as a broadcast-nested-loop or
    * cartesian join — O(|L|·|R|) at any scale. This is the bucketed
    * form: both sides are assigned time buckets of width
    * `max(upper - lower, 1)`; a left row's window spans at most two
    * consecutive buckets (window length == bucket width), so the left
    * side explodes ≤2× into (bucket) rows, the join becomes an
    * EQUI-join on (keys…, bucket), and the exact range predicate
    * filters the candidates. Each matching pair meets exactly once
    * (the right row's bucket is unique), so no dedup step. Shuffle is
    * keyed by time bucket (+ keys): uniform event streams spread
    * evenly; a pathological hot bucket is AQE skew-join territory, the
    * same answer as any skewed equi-join.
    *
    * Right columns are carried as `prefix + name` (the `payload` list),
    * left columns pass through unchanged.
    */
  def rangeJoin(left: DataFrame, right: DataFrame,
                leftTs: String, rightTs: String,
                lower: Long, upper: Long,
                payload: Seq[String], keys: Seq[String] = Nil,
                prefix: String = "rj_"): DataFrame = {
    require(upper >= lower, "upper must be >= lower")
    require(payload.nonEmpty, "payload must be non-empty")
    val w = math.max(upper - lower, 1L)
    // INTEGRAL floor division: Column./ is IEEE double division, which
    // is lossy above 2^53 — nanosecond epochs (~1.7e18) would round
    // bucket boundaries and silently drop boundary pairs. `div`
    // truncates toward zero, so negatives take the mirrored ceiling.
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def floorDiv(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, w)).otherwise(-idiv(-xl + (w - 1), w))
    }
    val b0 = floorDiv(col(leftTs) + lower)
    val b1 = floorDiv(col(leftTs) + upper)
    val lExp = left
      .withColumn("__bucket", explode(sequence(b0, b1)))
    val rB = right.select(
      (keys.map(col) :+ floorDiv(col(rightTs)).as("__bucket") :+
        col(rightTs).as("__rts") :+
        struct(payload.map(col): _*).as("__p")): _*)
    lExp.join(rB, keys :+ "__bucket")
      .filter(col("__rts") >= col(leftTs) + lower &&
        col("__rts") <= col(leftTs) + upper)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"__p.$p").as(prefix + p)): _*)
  }

  /** Gap sessionization: 1-based `session_id` per key, incremented
    * whenever the gap to the previous event (by `tsCol`, ties broken by
    * `tieCol`) exceeds `gap` (same units as `tsCol`). Two window
    * expressions over the SAME (key, ts, tie) spec — Catalyst plans one
    * Exchange + one sort; the lag flag and its running sum share the
    * pass. The batch twin of Structured Streaming's session windows.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, gap: Long): DataFrame = {
    require(gap >= 0, "gap must be >= 0")
    val ord = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__brk",
        when(col(tsCol) - lag(col(tsCol), 1).over(ord) > gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(run) + 1)
      .drop("__brk")
  }

  /** [[sessionize]] for the DOUBLE-DIGIT-fraction hot-key regime (r14,
    * completing the skewed-events trio with rollingAggSkewed and
    * asofJoinSkewed). A session id is 1 + the number of gap breaks at
    * or before the row in the key's (ts, tie) order; breaks decompose
    * exactly over span-width time blocks (ties share a ts, hence a
    * block, so block boundaries never split a tie group):
    *
    *   session_id(r in block b) = 1 + localRunningBreaks(r)
    *     + Σ_{b'<b} (inBlockBreaks(b') + boundaryBreak(b'))
    *     + boundaryBreak(b)
    *
    * where boundaryBreak(b) compares block b's first ts with the
    * previous ACTIVE block's last ts over a per-(key, block) summary
    * table — one row per active block, so the key-wide window is
    * bounded by the time range over span, never by the key's corpus
    * share. Bit-equal to [[sessionize]] (EventsSpec fuzz); ts must be
    * non-null. ~4 exchanges vs 1. Measured honestly (`graft.SkewProbe`
    * at commit 316cdc8, 10M events, 30% on one user): plain sessionize
    * is a single O(n) lag+sum pass, so it does NOT cliff at probe
    * scale (6.0 s vs 6.3 s skewed — parity); its wall is the one-TASK
    * sort/memory bound when a key's rows stop fitting an executor (30%
    * of 100 TB on one task), which is exactly what the block partition
    * removes. Use [[sessionize]] whenever the hottest key fits a task. */
  def sessionizeSkewed(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, gap: Long, span: Long): DataFrame = {
    require(gap >= 0, "gap must be >= 0")
    require(span >= 1, "span must be >= 1")
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def blockOf(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, span)).otherwise(-idiv(-xl + (span - 1), span))
    }
    val withB = df.withColumn("__b", blockOf(col(tsCol)))
    val ordL = Window.partitionBy(col(keyCol), col("__b"))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val runL = ordL.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withB
      .withColumn("__brk",
        when(col(tsCol) - lag(col(tsCol), 1).over(ordL) > gap, 1L)
          .otherwise(0L))
      .withColumn("__lrun", sum(col("__brk")).over(runL))
    val summary = local.groupBy(col(keyCol), col("__b"))
      .agg(min(col(tsCol)).as("__fts"), max(col(tsCol)).as("__lts"),
        sum(col("__brk")).as("__ib"))
    val wK = Window.partitionBy(col(keyCol)).orderBy(col("__b").asc)
    val offs = summary
      .withColumn("__bnd",
        when(col("__fts") - lag(col("__lts"), 1).over(wK) > gap, 1L)
          .otherwise(0L))
      .withColumn("__off",
        coalesce(sum(col("__ib") + col("__bnd"))
          .over(wK.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("__bnd"))
      .select(col(keyCol).as("__ok"), col("__b").as("__ob"), col("__off"))
    local.join(offs,
        col(keyCol) <=> col("__ok") && col("__b") <=> col("__ob"), "left")
      .withColumn("session_id", col("__lrun") + col("__off") + 1)
      .drop("__b", "__brk", "__lrun", "__ok", "__ob", "__off")
  }
}
