package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The boundary-carry scan of [[graft.api.GlobalScan]] as a logical
  * plan node: the child's rows plus `out`, the fold's running state per
  * row, per group of `keys` in `order`.
  *
  * `references` are the keys, the order and the value only, so Spark's
  * own `ColumnPruning` narrows the child to those plus whatever the
  * plan above reads: a `select` after the scan shrinks what the scan
  * shuffles and sorts.
  * The node builds no RDD and runs no job; [[CarryScanStrategy]] plans
  * it as [[CarryScanExec]], which does both inside the action.
  */
case class CarryScan(keys: Seq[Attribute], order: Seq[SortOrder],
                     value: Attribute, out: Attribute,
                     fold: (Any, Any) => Any, combine: (Any, Any) => Any,
                     child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def stringArgs: Iterator[Any] =
    Iterator(keys, order, value, out)
  override protected def withNewChildInternal(c: LogicalPlan): CarryScan =
    copy(child = c)
}

/** Plans [[CarryScan]]; registered on a session by the first GlobalScan
  * call (`GraftSqlBridge.addStrategy`), as Layout registers
  * [[BucketSortElision]]. */
object CarryScanStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: CarryScan =>
      CarryScanExec(s.keys, s.order, s.value, s.out, s.fold, s.combine,
        planLater(s.child)) :: Nil
    case _ => Nil
  }
}

/** The two passes of the carry scan, both inside the action.
  *
  * The child arrives range-partitioned on (keys, order) and sorted on
  * (keys, order, every other orderable column): the required
  * distribution and ordering below make EnsureRequirements plan the
  * exchange and the sort where the child does not already provide them
  * (GlobalScan's child is a fixed-count range repartition, which AQE
  * never coalesces). The trailing sort keys make the order within a
  * partition TOTAL: rows that tie on (keys, order) arrive in fetch
  * order, which can differ between two reads of the same shuffle
  * output, and pass 2 must replay exactly the order pass 1 folded.
  * They cost a comparison only on a tie. `doExecute` then
  *
  *  1. runs pass 1 as one `runJob` over the sorted child: each
  *     partition's first/last group key with its boundary segment's
  *     folded state, O(#partitions) values;
  *  2. chains the carries on the driver with `combine`;
  *  3. returns pass 2, a map over the same sorted child that replays
  *     the fold per row from its partition's carried-in state (the
  *     carries ride in the task closure: no broadcast to free).
  *
  * Both passes read the materialized range shuffle, whose partitions
  * hold the same rows on every read, in the same total order. Nothing
  * is pinned, so a finished query holds no memory, and any later read
  * of pass 2 (a second action on the DataFrame, which reuses this
  * plan's RDD; a downstream range exchange's sampling job; a retried
  * stage) replays the rows pass 1 folded.
  */
case class CarryScanExec(keys: Seq[Attribute], order: Seq[SortOrder],
                         value: Attribute, out: Attribute,
                         fold: (Any, Any) => Any, combine: (Any, Any) => Any,
                         child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ out
  private def ordering: Seq[SortOrder] =
    keys.map(SortOrder(_, Ascending)) ++ order
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(ordering) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val sorted = AttributeSet(ordering.flatMap(_.references))
    (ordering ++ child.output.filter(a => !sorted.contains(a) &&
      RowOrdering.isOrderable(a.dataType)).map(SortOrder(_, Ascending))) :: Nil
  }
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def stringArgs: Iterator[Any] =
    Iterator(keys, order, value, out)
  override protected def withNewChildInternal(c: SparkPlan): CarryScanExec =
    copy(child = c)

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val keyOf = CarryScanExec.keyProjection(keys, in)
    val vIdx = in.indexWhere(_.exprId == value.exprId)
    val (vType, sType, outAttrs) = (value.dataType, out.dataType, output)
    val (fold, combine) = (this.fold, this.combine)
    val sorted = child.execute()
    val bounds = sparkContext.runJob(sorted,
      (it: Iterator[InternalRow]) =>
        CarryScanExec.boundary(it, keyOf(), vIdx, vType, fold))
    val carries = CarryScanExec.chain(bounds, combine)
    sorted.mapPartitionsWithIndex { (pid, it) =>
      val key = keyOf()
      val toScala = CatalystTypeConverters.createToScalaConverter(vType)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(sType)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      val (carryKey, carryVal) = carries(pid)
      var cur: UnsafeRow = null
      var state: Any = null
      it.map { r =>
        val k = key(r)
        if (cur == null || k != cur) {
          cur = k.copy()
          state = if (cur == carryKey) carryVal else null
        }
        state = fold(state,
          if (r.isNullAt(vIdx)) null else toScala(r.get(vIdx, vType)))
        extra.update(0, toCatalyst(state))
        proj(joined(r, extra)): InternalRow
      }
    }
  }
}

object CarryScanExec {
  /** A partition's first and last group key, and the folded state of
    * its last group's segment (null = the segment holds no value). */
  private final case class Boundary(first: UnsafeRow, last: UnsafeRow,
                                    lastState: Any)

  /** A factory for the group-key projection: the key columns of a row as
    * an UnsafeRow, compared and hashed byte-wise (no keys: one empty
    * key, so every row is one group). Floats are normalized first, as
    * Spark's own grouping does (every NaN one value, −0.0 ≡ 0.0), so two
    * rows share a key exactly when `Window.partitionBy` puts them in one
    * partition. Keys kept across iterator steps must be COPIED: the
    * projection reuses its buffer. */
  private def keyProjection(keys: Seq[Attribute],
                            in: Seq[Attribute]): () => UnsafeProjection = {
    val bound = keys.map(k => org.apache.spark.sql.GraftSqlBridge
      .normalizeFloats(BindReferences.bindReference(k, in)))
    () => UnsafeProjection.create(bound)
  }

  /** Pass 1 over one partition. */
  private def boundary(it: Iterator[InternalRow], keyOf: UnsafeProjection,
                       vIdx: Int, vType: org.apache.spark.sql.types.DataType,
                       fold: (Any, Any) => Any): Boundary =
    if (!it.hasNext) null
    else {
      val toScala = CatalystTypeConverters.createToScalaConverter(vType)
      def v(r: InternalRow): Any =
        if (r.isNullAt(vIdx)) null else toScala(r.get(vIdx, vType))
      val first = it.next()
      val fk = keyOf(first).copy()
      var lk = fk
      var lState: Any = fold(null, v(first))
      it.foreach { r =>
        val k = keyOf(r)
        if (k == lk) lState = fold(lState, v(r))
        else { lk = k.copy(); lState = fold(null, v(r)) }
      }
      Boundary(fk, lk, lState)
    }

  /** Each partition's carried-in (group key, state): the state of the
    * group that enters it from the left, folded over every partition
    * before it, or (null, null). Only the group crossing a boundary
    * carries, and a crossing group is by construction the last group of
    * one partition and the first of the next. */
  private def chain(bounds: Array[Boundary],
                    combine: (Any, Any) => Any): Array[(UnsafeRow, Any)] = {
    var carryKey: UnsafeRow = null
    var carryVal: Any = null
    bounds.map { b =>
      if (b == null) (null, null)
      else {
        val carryIn: Any =
          if (carryKey != null && carryKey == b.first) carryVal else null
        // the state of the last group leaving this partition: combined
        // with the carried-in state when the whole partition is one
        // group, else the segment started fresh inside this partition
        val leaving: Any =
          if (b.first == b.last) {
            if (b.lastState == null) carryIn
            else if (carryIn == null) b.lastState
            else combine(carryIn, b.lastState)
          } else b.lastState
        carryKey = b.last
        carryVal = leaving
        if (carryIn == null) (null, null) else (b.first, carryIn)
      }
    }
  }
}
