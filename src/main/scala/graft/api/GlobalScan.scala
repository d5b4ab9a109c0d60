package graft.api

import graft.aggs.CustomScans
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, NumericType, StructField, StructType}

/** Global (corpus-wide) and per-group prefix scans WITHOUT a
  * single-task window.
  *
  * `Window.orderBy(...)` with no partitionBy funnels every row through
  * ONE task — the canonical local-mode-passes / cluster-falls-over trap
  * (Spark even warns `WARN WindowExec: No Partition Defined`) — and
  * `Window.partitionBy(group)` does the same to a group that spans the
  * corpus. Every scan here is instead a fold over ONE two-pass
  * boundary-carry engine ([[carryPinned]]), the Spark shape of flox's
  * Blelloch driver (`dask_groupby_scan`, flox/dask.py:576-663,
  * parameterized by `scan_binary_op`, flox/aggregations.py:792-846):
  *
  *   1. range-repartition on (group, order) and sort within partitions
  *      (range partitions are globally ordered: every row in partition i
  *      sorts before every row in partition i+1), so one group spreads
  *      over many ordered partitions;
  *   2. pass 1 — per partition, the first/last group keys and each
  *      boundary segment's folded state: O(#partitions) values to the
  *      driver, never per-group or per-row state;
  *   3. the driver chains the carries with the scan's `combine`: only a
  *      group CROSSING a partition boundary needs one, and a crossing
  *      group is by construction the last group of one partition and
  *      the first of the next;
  *   4. pass 2 — map-only: each partition replays the fold per row from
  *      its broadcast carried-in state.
  *
  * The entry points differ only in their fold: the long scans
  * ([[prefixSum]], [[rowNumber]] and their grouped mates) sum a staged
  * long with `Math.addExact`; ffill/bfill carry the last valid value;
  * the extrema compare; a registered custom scan brings its own. An
  * empty group list makes the whole frame one group.
  *
  * The range-parted data is pinned with `localCheckpoint` between the
  * two passes: `repartitionByRange` picks boundaries by sampling, so an
  * unpinned plan could recompute with DIFFERENT partition boundaries in
  * pass 2 and pair rows with the wrong carries. The checkpoint is also
  * what the result reads from, so the scan's input is materialized
  * exactly once. EAGER, like `Dedup.connectedComponents`: construction
  * runs the checkpoint + pass-1 jobs. Checkpoint blocks free when the
  * result is GC'd, or deterministically via [[Caches.release]] (the
  * result records the pin its second pass reads).
  *
  * Both passes run on InternalRow (`queryExecution.toRdd`, output
  * through one UnsafeProjection): only the value column and the state
  * cross to external values, which is what the folds take. Rows are
  * keyed by their float-normalized group columns, so groups are exactly
  * the window tier's (every NaN one group, −0.0 ≡ 0.0). The scan's
  * column replaces an input column of the same name in place, or is
  * appended — `withColumn`'s contract, so the tiers of
  * [[Dispatch.scanAuto]] return one schema.
  *
  * At 100 TB: one full shuffle (range exchange), one materialization to
  * executor memory/disk, one map-only pass — no further shuffles and no
  * row ever crosses to the driver. This is the same plan a distributed
  * sort runs, plus a map.
  */
object GlobalScan {

  /** Inclusive prefix sum of `valueCol` (cast to long, null = 0) over
    * the total order given by `order`, as the non-null long `outCol`.
    * A sum crossing 2^63 RAISES (ArithmeticException, a loud task
    * failure), never wraps into a silently wrong prefix — the
    * weightedQuantileDistributed weight CDF rides this sum.
    *
    * `order` must be a total order (include a unique tiebreak key) for
    * the result to be deterministic — rows that compare equal could
    * otherwise swap running-sum values between runs.
    */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: Column,
                outCol: String): DataFrame =
    groupedPrefixSum(df, Nil, order, valueCol, outCol)

  /** Global 1-based row number over the total order `order` (dense
    * ranking of the whole corpus without a single-partition window) —
    * prefix sum of the constant 1. Same determinism contract: `order`
    * must include a unique tiebreak key.
    */
  def rowNumber(df: DataFrame, order: Seq[Column], outCol: String): DataFrame =
    prefixSum(df, order, lit(1L), outCol)

  /** Per-GROUP 1-based row number that survives giant groups.
    *
    * `Window.partitionBy(group).orderBy(...)` puts each group on ONE
    * task — correct for flox-style grouping (many modest groups,
    * [[GroupByScan]]) but a scale trap when a handful of strata span the
    * corpus: 5 strata at 100 TB = 5 tasks doing all the work. Here one
    * group spreads over many ordered partitions and only the group
    * crossing each boundary carries an offset. It is
    * [[groupedPrefixSum]] of the constant 1.
    *
    * `order` must totally order rows WITHIN each group (unique tiebreak
    * key).
    */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], outCol: String): DataFrame =
    groupedPrefixSum(df, groupCols, order, lit(1L), outCol)

  /** Per-GROUP inclusive prefix sum of `valueCol` (cast to long, null =
    * 0), as the non-null long `outCol`, raising on overflow like
    * [[prefixSum]]. The value is staged as a temp column before the
    * pin, so both passes read the SAME evaluated longs (a
    * non-deterministic value expression re-evaluating in pass 2 would
    * desync from the pass-1 carries), so the input must not already
    * have a `__scan_v` column. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: Column,
                       outCol: String): DataFrame =
    carryPinned(df, groupCols, order, Left(valueCol), outCol,
      CustomScans.addLongs, CustomScans.addLongs, None)._1

  /** Per-GROUP forward fill at UNBOUNDED group size — the §2.2 scan
    * escalation tier: [[groupedPrefixSum]] is the distributed cumsum,
    * this is the distributed ffill. [[graft.api.GroupByScan]]'s window
    * formulation puts each group on one task; here the carry is a
    * running last-non-null, and only the group crossing a partition
    * boundary needs a carried-in value. Unlike a distributed double
    * cumsum (whose float summation order would diverge from the window
    * tier), ffill CARRIES EXACT VALUES, so this tier is bit-identical to
    * GroupByScan's ffill (spec law). Null = missing (filled); NaN is a
    * value and fills forward, the window tier's `last(ignoreNulls)`
    * semantics. Output column takes the value column's dtype, nullable
    * (a group's leading rows before any value stay null). `order` must
    * totally order rows within each group. */
  def groupedFfill(df: DataFrame, groupCols: Seq[String],
                   order: Seq[Column], valueCol: String,
                   outCol: String): DataFrame =
    carry(df, groupCols, order, valueCol, outCol, lastValid)

  /** Per-GROUP backward fill at unbounded group size — [[groupedFfill]]
    * run over the REVERSED order (the ffill/bfill reversal duality the
    * window tier's PropertySpec law pins, applied at the partitioning
    * level: range-partition on (group asc, order desc) and the forward
    * carry IS the backward fill). Same exact-value carry, so the tier
    * is bit-identical to GroupByScan's bfill. `order` columns must be
    * bare (no .asc/.desc) — the reversal is applied here. */
  def groupedBfill(df: DataFrame, groupCols: Seq[String],
                   order: Seq[Column], valueCol: String,
                   outCol: String): DataFrame =
    carry(df, groupCols, order.map(_.desc), valueCol, outCol, lastValid)

  /** Per-GROUP running maximum / minimum at unbounded group size — the
    * cum_extrema mates of [[groupedFfill]], folding with
    * [[CustomScans]]' extremum fold directly (never through
    * the registry, so re-registering `cummax` cannot change them).
    * Spark's ordering (NaN greatest, so a NaN sticks in the running max
    * as in the window tier's `max().over(...)`); the running min
    * NaN-poisons (np.minimum.accumulate, GroupByScan's `cummin`); nulls
    * are skipped. Numeric value columns only: boxed numeric compareTo
    * is Spark's ordering. Exact values carry, so the tier is
    * bit-identical to the window path. */
  def groupedCumMax(df: DataFrame, groupCols: Seq[String],
                    order: Seq[Column], valueCol: String,
                    outCol: String): DataFrame = {
    requireValue(df, valueCol, "groupedCumMax", double = false)
    carry(df, groupCols, order, valueCol, outCol,
      CustomScans.extremumFold(1))
  }

  def groupedCumMin(df: DataFrame, groupCols: Seq[String],
                    order: Seq[Column], valueCol: String,
                    outCol: String): DataFrame = {
    requireValue(df, valueCol, "groupedCumMin", double = false)
    carry(df, groupCols, order, valueCol, outCol,
      CustomScans.extremumFold(-1))
  }

  /** NaN-SKIPPING running extrema at unbounded group size — the
    * nancummax/nancummin mates (np.fmax/fmin.accumulate semantics:
    * null until the first valid value, NaN values skipped like
    * nulls). Exact values carry, so bit-identical to the window tier's
    * `max(when(!isnan(v), v))` formulation (spec law). DOUBLE value
    * columns only. */
  def groupedNanCumMax(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: String,
                       outCol: String): DataFrame = {
    requireValue(df, valueCol, "groupedNanCumMax", double = true)
    carry(df, groupCols, order, valueCol, outCol, nanSkipFold(1))
  }

  def groupedNanCumMin(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: String,
                       outCol: String): DataFrame = {
    requireValue(df, valueCol, "groupedNanCumMin", double = true)
    carry(df, groupCols, order, valueCol, outCol, nanSkipFold(-1))
  }

  /** UNBOUNDED-GROUP tier for a registered custom scan
    * ([[CustomScans]]) — flox's generic `scan_binary_op`
    * machinery (flox/aggregations.py:792-846) exposed through the
    * registry. The scan must declare its associative `fold`
    * (ScanSpec.fold); `reverse` scans run over the negated order (the
    * bfill duality — `order` columns must be bare). An `outFinalize`
    * (empty-state encoding adapter, e.g. cumcount's null→0) is applied
    * map-only after the carry.
    *
    * Scans with a `finish` post-transform (running fraction of total)
    * are supported too: finish needs the whole-group operand, which
    * here is a plain hash aggregation of the SAME agg (partial-agg
    * map-side, safe at any group size) null-safe-equi-joined back over
    * the carried scan — the group table has one row per group, so AQE
    * broadcasts it; no group is ever materialized in one task.
    * Window-tier equivalence holds when the fold/agg pair is exact
    * (integer monoids, selective carries) — the registrant's contract,
    * same as the fold itself. */
  def groupedCustomScan(df: DataFrame, groupCols: Seq[String],
                        order: Seq[Column], valueCol: String,
                        outCol: String, scanName: String): DataFrame = {
    val spec = CustomScans.lookup(scanName).getOrElse(
      throw new IllegalArgumentException(
        s"unknown custom scan '$scanName' (no CustomScans registration)"))
    val fold = spec.fold.getOrElse(throw new IllegalArgumentException(
      s"custom scan '$scanName' declares no associative binary_op " +
        "(ScanSpec.fold); only the window tier (GroupByScan) can run it"))
    val ord = if (spec.reverse) order.map(_.desc) else order
    def runTo(out: String): (DataFrame, DataFrame) = {
      val (raw, pinned) = carryPinned(df, groupCols, ord, Right(valueCol),
        out, fold, spec.combine.getOrElse(fold), spec.foldOutType)
      (spec.outFinalize.map(f => raw.withColumn(out, f(col(out))))
        .getOrElse(raw), pinned)
    }
    spec.finish match {
      case None => runTo(outCol)._1
      case Some(fin) =>
        require(!df.columns.contains("__run") && !df.columns.exists(
          c => c.startsWith("__w_") || c == "__whole"),
          "input already has __run/__whole/__w_* columns")
        val (raw, pinned) = runTo("__run")
        // whole-group operand: the same agg as the window tier's
        // unbounded frame, via groupBy (mergeable partial aggregation)
        // over the carry's pin, so `df` is read once and the result
        // holds no plan of the caller's for Caches.release to touch
        val wkeys = groupCols.map(c => s"__w_$c")
        val whole = pinned.groupBy(groupCols.map(col): _*)
          .agg(spec.agg(col(valueCol)).as("__whole"))
          .toDF(wkeys :+ "__whole": _*)
        // null-safe equality: null group keys are a group in both the
        // window tier and groupBy; a plain equi-join would drop them
        val cond = groupCols.zip(wkeys)
          .map { case (a, b) => raw(a) <=> col(b) }
          .reduceOption(_ && _).getOrElse(lit(true))
        raw.join(whole, cond, "left")
          .withColumn(outCol, fin(col("__run"), col("__whole")))
          .drop(("__run" +: "__whole" +: wkeys): _*)
    }
  }

  /** ffill/bfill: the last non-null value wins. */
  private val lastValid: (Any, Any) => Any = (st, v) =>
    if (v != null) v else st

  /** Spark-ordering extremum with NaN values skipped like nulls
    * (np.fmax/fmin accumulate); `sign` +1 keeps the larger, −1 the
    * smaller. State is always finite, so plain compare suffices. */
  private def nanSkipFold(sign: Int): (Any, Any) => Any = (st, v) =>
    if (v == null || v.asInstanceOf[Double].isNaN) st
    else if (st == null) v
    else {
      val c = java.lang.Double.compare(
        v.asInstanceOf[Double], st.asInstanceOf[Double])
      if (c * sign > 0) v else st
    }

  /** The folds compare the raw row value, so a value column of another
    * dtype would ClassCastException (or order strings as UTF-16, not as
    * Spark does) mid-task — fail fast at plan time instead
    * (groupedFfill/Bfill accept any dtype). */
  private def requireValue(df: DataFrame, valueCol: String, op: String,
                           double: Boolean): Unit = {
    val t = df.schema(valueCol).dataType
    require(if (double) t == DoubleType else t.isInstanceOf[NumericType],
      s"$op needs a ${if (double) "DOUBLE" else "numeric"} value column; " +
        s"'$valueCol' is ${t.simpleString} — cast it first")
  }

  /** A selective fold (max/min/first/fill — state and value share a
    * domain, so the fold of two states is the concatenation's state)
    * doubles as its own segment combine. */
  private def carry(df: DataFrame, groupCols: Seq[String],
                    order: Seq[Column], valueCol: String, outCol: String,
                    fold: (Any, Any) => Any): DataFrame =
    carryPinned(df, groupCols, order, Right(valueCol), outCol, fold, fold,
      None)._1

  /** The name the long scans stage their value under. */
  private val Staged = "__scan_v"

  /** The engine. `value` is either a long expression (cast, null = 0,
    * staged as [[Staged]]; the output is then a non-null long) or a
    * value column read as it is (the output takes `outType`, default
    * the value's dtype, nullable). `fold` is a null-identity per-row
    * step (state := fold(state, value), null state = empty); `combine`
    * merges two segment STATES (null-identity both sides) and is what
    * lets partition boundaries stitch with O(#partitions) driver
    * traffic. Accumulating folds, whose state domain differs from the
    * value's, must bring their own combine (see ScanSpec.combine).
    *
    * Returns the result and the pinned, range-partitioned input it read,
    * for callers that need a second pass over the input without
    * re-reading `df`. Group keys are copied [[groupKeys]] UnsafeRows,
    * and only the value column and the state cross to external values,
    * through one converter each per partition, so the folds (and the
    * registered [[CustomScans]] folds) keep their
    * external-value contract. */
  private def carryPinned(df: DataFrame, groupCols: Seq[String],
                          order: Seq[Column],
                          value: Either[Column, String], outCol: String,
                          fold: (Any, Any) => Any,
                          combine: (Any, Any) => Any,
                          outType: Option[DataType]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
    val spark = df.sparkSession
    val resolver = spark.sessionState.conf.resolver
    val (staged, valueCol) = value match {
      case Left(v) =>
        require(!df.columns.exists(resolver(_, Staged)),
          s"input already has a column named '$Staged', the name GlobalScan " +
            "stages its long value under; rename that column")
        (df.withColumn(Staged, coalesce(v.cast(LongType), lit(0L))), Staged)
      case Right(c) => (df, c)
    }
    val gIdx = groupCols.map(staged.schema.fieldIndex)
    val vIdx = staged.schema.fieldIndex(valueCol)
    val sortCols = groupCols.map(col) ++ order
    val parted = staged
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint() // pin sampled range boundaries between passes
    val schema = parted.schema
    val vType = schema(vIdx).dataType
    val sType = outType.getOrElse(vType)
    // output: `df`'s columns (a staged value is not one), the state
    // replacing the column named `outCol` or else appended; srcIdx is
    // each output column's slot in joined(input row, state)
    val stateIdx = schema.length
    val outField = StructField(outCol, sType, nullable = value.isRight)
    val (outFields, srcIdx) = {
      val kept = df.schema.zipWithIndex.map { case (f, i) =>
        if (resolver(f.name, outCol)) (outField, stateIdx) else (f, i)
      }
      if (kept.exists(_._2 == stateIdx)) kept.unzip
      else (kept :+ (outField -> stateIdx)).unzip
    }
    def valueOf(toScala: Any => Any)(r: InternalRow): Any =
      if (r.isNullAt(vIdx)) null else toScala(r.get(vIdx, vType))
    // pass 1: per partition — first/last group keys and each boundary
    // segment's folded state (null = segment holds no value)
    val bounds = parted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val keyOf = groupKeys(schema, gIdx)
        val v = valueOf(CatalystTypeConverters.createToScalaConverter(vType)) _
        val first = it.next()
        val fk = keyOf(first).copy()
        var fState: Any = fold(null, v(first))
        var lk = fk
        var lState: Any = fState
        var sawOther = false
        it.foreach { r =>
          val k = keyOf(r)
          if (k == lk) {
            lState = fold(lState, v(r))
            if (!sawOther) fState = lState
          } else { sawOther = true; lk = k.copy(); lState = fold(null, v(r)) }
        }
        Iterator((pid, fk, fState, lk, lState))
      }
    }.collect().sortBy(_._1)
    // chain carries: group g entering partition p from the left carries
    // g's folded state over partitions < p
    val carries = scala.collection.mutable.Map.empty[(Int, UnsafeRow), Any]
    var carryKey: UnsafeRow = null
    var carryVal: Any = null
    bounds.foreach { case (pid, fk, fState, lk, lState) =>
      if (carryKey != null && carryKey == fk && carryVal != null)
        carries((pid, fk)) = carryVal
      // g = lk's state leaving this partition: when the whole
      // partition is one group, combine the carried-in state with the
      // segment's; otherwise the segment started fresh inside this
      // partition
      val carryIn: Any =
        if (carryKey != null && carryKey == fk) carryVal else null
      val out: Any =
        if (fk == lk) {
          if (lState == null) carryIn
          else if (carryIn == null) lState
          else combine(carryIn, lState)
        } else lState
      carryKey = lk
      carryVal = out
    }
    val bc = spark.sparkContext.broadcast(carries.toMap)
    // pass 2: map-only — the fold replayed from each carried-in state,
    // the input row and the state emitted as one UnsafeRow
    val outRdd = parted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val keyOf = groupKeys(schema, gIdx)
      val v = valueOf(CatalystTypeConverters.createToScalaConverter(vType)) _
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(sType)
      val proj = UnsafeProjection.create(srcIdx.zip(outFields).map {
        case (i, f) => BoundReference(i, f.dataType, f.nullable)
      })
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      var cur: UnsafeRow = null
      var state: Any = null
      it.map { r =>
        val k = keyOf(r)
        if (cur == null || k != cur) {
          cur = k.copy()
          state = bc.value.getOrElse((pid, cur), null)
        }
        state = fold(state, v(r))
        extra.update(0, toCatalyst(state))
        proj(joined(r, extra)): InternalRow
      }
    }
    val result = org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(
      spark, outRdd, StructType(outFields))
    Caches.readsThrough(outRdd, parted)
    (result, parted)
  }

  /** The group key: the group columns of an input row as an UnsafeRow,
    * compared and hashed byte-wise (no columns: one empty key, so every
    * row is one group). Floats are normalized first, as Spark's own
    * grouping does (every NaN one value, −0.0 ≡ 0.0), so two rows share
    * a key exactly when `Window.partitionBy` puts them in one partition.
    * Keys stored across iterator steps must be COPIED: the projection
    * reuses its buffer (the valid-until-next() contract). */
  private def groupKeys(schema: StructType,
                        gIdx: Seq[Int]): org.apache.spark.sql.catalyst.expressions.UnsafeProjection = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    UnsafeProjection.create(gIdx.map { i =>
      val f = schema.fields(i)
      org.apache.spark.sql.GraftSqlBridge.normalizeFloats(
        BoundReference(i, f.dataType, f.nullable))
    })
  }
}
