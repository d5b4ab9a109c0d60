package graft.api

import graft.aggs.CustomScans
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, NumericType}

/** Global (corpus-wide) and per-group prefix scans WITHOUT a
  * single-task window.
  *
  * `Window.orderBy(...)` with no partitionBy funnels every row through
  * ONE task — the canonical local-mode-passes / cluster-falls-over trap
  * (Spark even warns `WARN WindowExec: No Partition Defined`) — and
  * `Window.partitionBy(group)` does the same to a group that spans the
  * corpus. Every scan here is instead a fold over ONE two-pass
  * boundary-carry engine ([[graft.plans.CarryScan]]), the Spark shape
  * of flox's Blelloch driver (`dask_groupby_scan`, flox/dask.py:576-663,
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
  *      its carried-in state.
  *
  * The entry points differ only in their fold: the long scans
  * ([[prefixSum]], [[rowNumber]] and their grouped mates) sum a staged
  * long with `Math.addExact`; ffill/bfill carry the last valid value;
  * the extrema compare; a registered custom scan brings its own. An
  * empty group list makes the whole frame one group.
  *
  * Every entry point only builds a plan: the scan is a logical
  * [[graft.plans.CarryScan]] node, and building it runs no job. The
  * range exchange, the sort and both passes run inside the action
  * ([[graft.plans.CarryScanExec]]). Nothing is pinned between the
  * passes: both read the materialized range shuffle, sorted within each
  * partition by (group, order) and then by every other orderable
  * column, so a partition replays in pass 2 in exactly the order pass 1
  * folded it, even where `order` ties. A finished query therefore holds
  * no memory while its DataFrame is referenced, and a second action
  * replays the same rows. Spark's column pruning reaches through the
  * node: the scan reads the group, order and value columns plus the
  * ones the query uses after it.
  *
  * Both passes run on InternalRow (output through one UnsafeProjection):
  * only the value column and the state cross to external values, which is what the folds take. Rows are
  * keyed by their float-normalized group columns, so groups are exactly
  * the window tier's (every NaN one group, −0.0 ≡ 0.0). The scan's
  * column replaces an input column of the same name in place, or is
  * appended — `withColumn`'s contract, so the tiers of
  * [[Dispatch.scanAuto]] return one schema.
  *
  * At 100 TB: one full shuffle (range exchange), two reads of its
  * output (the fold pass and the map-only replay) — no further shuffles
  * and no row ever crosses to the driver. This is the same plan a
  * distributed sort runs, plus a map.
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
    * [[prefixSum]]. The value is staged as a temp column below the
    * range exchange, so both passes read the SAME evaluated longs (a
    * non-deterministic value expression re-evaluating in pass 2 would
    * desync from the pass-1 carries), so the input must not already
    * have a `__scan_v` column. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: Column,
                       outCol: String): DataFrame =
    carryScan(df, groupCols, order, Left(valueCol), outCol,
      CustomScans.addLongs, CustomScans.addLongs, None)

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
    * map-side, safe at any group size) null-safe-equi-joined onto the
    * input below the carry — the group table has one row per group, so
    * AQE broadcasts it; no group is ever materialized in one task. The
    * input is read twice (the aggregation and the scan), so it must be
    * deterministic, as the window tier's two frames also assume.
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
    def runTo(in: DataFrame, out: String): DataFrame = {
      val raw = carryScan(in, groupCols, ord, Right(valueCol), out, fold,
        spec.combine.getOrElse(fold), spec.foldOutType)
      spec.outFinalize.map(f => raw.withColumn(out, f(col(out))))
        .getOrElse(raw)
    }
    spec.finish match {
      case None => runTo(df, outCol)
      case Some(fin) =>
        require(!df.columns.contains("__run") && !df.columns.exists(
          c => c.startsWith("__w_") || c == "__whole"),
          "input already has __run/__whole/__w_* columns")
        // whole-group operand: the same agg as the window tier's
        // unbounded frame, via groupBy (mergeable partial aggregation),
        // joined onto the input BELOW the scan, so every read of the
        // caller's plan sits under the CarryScan node (Caches.release
        // never reaches it) and the scan carries `__whole` through
        val wkeys = groupCols.map(c => s"__w_$c")
        val whole = df.groupBy(groupCols.map(col): _*)
          .agg(spec.agg(col(valueCol)).as("__whole"))
          .toDF(wkeys :+ "__whole": _*)
        // null-safe equality: null group keys are a group in both the
        // window tier and groupBy; a plain equi-join would drop them
        val cond = groupCols.zip(wkeys)
          .map { case (a, b) => df(a) <=> col(b) }
          .reduceOption(_ && _).getOrElse(lit(true))
        runTo(df.join(whole, cond, "left").drop(wkeys: _*), "__run")
          .withColumn(outCol, fin(col("__run"), col("__whole")))
          .drop("__run", "__whole")
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
    carryScan(df, groupCols, order, Right(valueCol), outCol, fold, fold,
      None)

  /** The name the long scans stage their value under. */
  private val Staged = "__scan_v"

  /** The engine: a [[graft.plans.CarryScan]] node over `df`
    * range-repartitioned on (group, order), planned by
    * [[graft.plans.CarryScanStrategy]]. Building it runs no job.
    *
    * `value` is either a long expression (cast, null = 0, staged as
    * [[Staged]]; the output is then a non-null long) or a value column
    * read as it is (the output takes `outType`, default the value's
    * dtype, nullable). `fold` is a null-identity per-row step (state :=
    * fold(state, value), null state = empty); `combine` merges two
    * segment STATES (null-identity both sides) and is what lets
    * partition boundaries stitch with O(#partitions) driver traffic.
    * Accumulating folds, whose state domain differs from the value's,
    * must bring their own combine (see ScanSpec.combine). Only the value
    * column and the state cross to external values, so the folds (and
    * the registered [[CustomScans]] folds) keep their external-value
    * contract.
    *
    * The range repartition carries an explicit partition count (the
    * session's shuffle partitions), so AQE never coalesces it and a
    * group spreads over as many ordered partitions as before. The
    * result is `df`'s columns (a staged value is not one), the state
    * replacing the column named `outCol` or else appended, under a
    * fresh alias so that a self-join of a result deduplicates. */
  private def carryScan(df: DataFrame, groupCols: Seq[String],
                        order: Seq[Column],
                        value: Either[Column, String], outCol: String,
                        fold: (Any, Any) => Any,
                        combine: (Any, Any) => Any,
                        outType: Option[DataType]): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, NamedExpression, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, RepartitionByExpression}
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
    val parted = staged.repartitionByRange(
      spark.sessionState.conf.numShufflePartitions,
      (groupCols.map(col) ++ order): _*).queryExecution.analyzed
    val sortOrder = parted match {
      case r: RepartitionByExpression =>
        r.partitionExpressions.map(_.asInstanceOf[SortOrder])
      case other => throw new IllegalStateException(
        s"range repartition analyzed to an unexpected plan:\n$other")
    }
    val keys = sortOrder.take(groupCols.length).map(_.child match {
      case a: Attribute => a
      case e =>
        throw new IllegalArgumentException(s"group key $e is not a column")
    })
    val valueAttr = parted.output(staged.schema.fieldIndex(valueCol))
    val out = AttributeReference(outCol,
      outType.getOrElse(valueAttr.dataType), nullable = value.isRight)()
    val scan = graft.plans.CarryScan(keys, sortOrder.drop(groupCols.length),
      valueAttr, out, fold, combine, parted)
    val shown: Seq[NamedExpression] =
      parted.output.take(df.schema.length).map { a =>
        if (resolver(a.name, outCol)) Alias(out, outCol)() else a
      }
    val cols =
      if (shown.exists(_.isInstanceOf[Alias])) shown
      else shown :+ Alias(out, outCol)()
    GraftSqlBridge.addStrategy(spark, graft.plans.CarryScanStrategy)
    GraftSqlBridge.ofRows(spark, Project(cols, scan))
  }
}
