package graft.aggs

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DataType

/** User-defined grouped-scan extension point — the Spark-native analog
  * of flox's custom `Scan` dataclass (reference:
  * flox/aggregations.py:715-737: scan kernel + binary_op carry +
  * identity + optional reverse preprocess/finalize, e.g. bfill =
  * reversed ffill).
  *
  * On Spark the whole contract collapses into "an aggregate expression
  * over a window frame": the running frame plays the scan kernel, the
  * shuffle-and-sort of WindowExec plays the Blelloch carry
  * (flox/dask.py:576-663), and `reverse` selects the backward frame
  * (current row → unbounded following) instead of flipping the data.
  *
  * A scan that additionally declares its associative `fold` (flox's
  * `binary_op`, flox/aggregations.py:792-846) also gets the
  * UNBOUNDED-GROUP carry tier for free:
  * [[graft.api.GlobalScan.groupedCustomScan]] range-partitions rows on
  * (group, order) and stitches partition boundaries with the fold —
  * the same escalation path the built-in ffill/cummax tiers use when
  * one group spans the corpus (one task per group is the window
  * formulation's wall).
  *
  * {{{
  *   CustomScans.register("cummax", CustomScans.ScanSpec(v => max(v)))
  *   CustomScans.register("cumfraction", CustomScans.ScanSpec(
  *     agg = v => sum(v), finish = Some((run, tot) => run / tot)))
  *   GroupByScan(df, Seq("k"), "v", "cummax", order = "idx")
  * }}}
  */
object CustomScans {

  /** @param agg      running aggregate over the scan frame (flox `scan`
    *                  kernel / `binary_op` carry combine — one and the
    *                  same under a window frame)
    * @param reverse   scan from the end of the group (flox `reverse`
    *                  preprocess+finalize, used by bfill)
    * @param finish   optional post-transform of (running value,
    *                  whole-group value) — the second argument lets
    *                  normalizing scans (running fraction of total)
    *                  stay single-pass. Window tier only: the carry
    *                  tier has no whole-group operand and refuses
    *                  finishing scans.
    * @param fold     the scan's associative binary_op over the VALUE
    *                  column's external JVM type (flox
    *                  `scan_binary_op`), null-identity: state :=
    *                  fold(state, value), null state = empty, null
    *                  value = missing. Declaring it unlocks the
    *                  unbounded-group carry tier
    *                  ([[graft.api.GlobalScan.groupedCustomScan]]);
    *                  ASSOCIATIVITY IS THE REGISTRANT'S CONTRACT —
    *                  exact-value carries (max/min/first/fill) and
    *                  integer monoids are bit-equal to the window
    *                  tier, float accumulation is not (summation
    *                  order differs across partition boundaries),
    *                  which is why the built-in float cumsum has no
    *                  fold here.
    * @param combine  boundary segment-state merge (flox `binary_op`
    *                  proper): state × state → state, null-identity on
    *                  BOTH sides. Defaults to `fold` — correct exactly
    *                  when the fold is selective (max/min/first/fill:
    *                  states and values share a domain and
    *                  fold(s₁, s₂) IS the concatenation's state).
    *                  Accumulating folds (counts, sums) whose state
    *                  domain differs from the value domain MUST
    *                  declare it: fold(carry=107, segState=35) would
    *                  count the segment as one more value, not 35
    *                  (the defect the GlobalScanSpec law caught when
    *                  this tier was built).
    * @param foldOutType  the carry tier's output dtype when the fold's
    *                  state type differs from the value column's
    *                  (default: same as the value column)
    * @param outFinalize  carry-tier-only per-row adapter applied to the
    *                  folded output column so its EMPTY-state encoding
    *                  matches the window aggregate's (the fold contract
    *                  is null = empty, but e.g. `count` over an empty
    *                  frame is 0, not null — cumcount declares
    *                  `coalesce(out, 0)`). Map-only, applied after the
    *                  carry scan and before any `finish`.
    */
  case class ScanSpec(
      agg: Column => Column,
      reverse: Boolean = false,
      finish: Option[(Column, Column) => Column] = None,
      fold: Option[(Any, Any) => Any] = None,
      combine: Option[(Any, Any) => Any] = None,
      foldOutType: Option[DataType] = None,
      outFinalize: Option[Column => Column] = None)

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, ScanSpec]

  def register(name: String, spec: ScanSpec): Unit = registry.put(name, spec)

  /** Comparable-based extremum fold matching Spark's window max/min for
    * the dtypes whose boxed compareTo is Spark's ordering: numerics
    * (java.lang.Double.compareTo IS Double.compare — NaN greatest,
    * matching the window tier) and ASCII strings. Nulls skip.
    *
    * For the MIN side, fp NaN poisons: GroupByScan's built-in 'cummin'
    * (the window formulation these folds must mirror) implements
    * np.minimum.accumulate, where a seen NaN sticks forever; a bare
    * compareTo orders NaN greatest and would let a later finite value
    * replace it (the r15 advice-high divergence). The max side needs
    * no guard: NaN-greatest IS the window max semantics. Non-fp dtypes
    * are unaffected by the guard. Shared with GlobalScan, whose
    * groupedCumMax/groupedCumMin fold with it directly. */
  private[graft] def extremumFold(sign: Int): (Any, Any) => Any = (st, v) =>
    if (v == null) st
    else if (st == null) v
    else if (sign < 0 && isNaNBoxed(st)) st
    else if (sign < 0 && isNaNBoxed(v)) v
    else {
      val c = v.asInstanceOf[Comparable[Any]].compareTo(st)
      if (c * sign > 0) v else st
    }

  private def isNaNBoxed(a: Any): Boolean = a match {
    case d: java.lang.Double => d.isNaN
    case f: java.lang.Float  => f.isNaN
    case _                   => false
  }

  /** Null-identity count fold: counts non-null values. State domain
    * (a running Long) differs from the value domain, so the segment
    * combine MUST be declared (fold would count a merged segment as
    * one value — the accumulating-fold defect class the GlobalScanSpec
    * law caught when the carry tier was built). */
  private val countFold: (Any, Any) => Any = (st, v) =>
    if (v == null) st
    else if (st == null) java.lang.Long.valueOf(1L)
    else java.lang.Long.valueOf(Math.addExact(st.asInstanceOf[Long], 1L))

  /** Null-identity exact long sum (raises on overflow): cumcount's
    * segment combine, and the fold and combine of GlobalScan's long
    * scans. */
  private[graft] val addLongs: (Any, Any) => Any = (a, b) =>
    if (a == null) b
    else if (b == null) a
    else java.lang.Long.valueOf(
      Math.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long]))

  // Standard extra scans pre-registered (numpy ufunc.accumulate family
  // beyond flox's fixed four): available to GroupByScan by name.
  // cummax/cummin/cumcount declare their fold (exact-value /
  // integer-monoid carries ⇒ the carry tier is bit-equal; cumcount
  // additionally declares the segment combine — its state domain is a
  // count, not a value — and the null→0 output finalize matching
  // `count` over an empty frame). cumprod stays window-only: float
  // product is order-sensitive across partition boundaries.
  locally {
    import org.apache.spark.sql.functions.{coalesce, count, lit, max, min, product}
    register("cummax", ScanSpec(v => max(v), fold = Some(extremumFold(1))))
    register("cummin", ScanSpec(v => min(v), fold = Some(extremumFold(-1))))
    register("cumprod", ScanSpec(v => product(v)))
    register("cumcount", ScanSpec(v => count(v),
      fold = Some(countFold),
      combine = Some(addLongs),
      foldOutType = Some(org.apache.spark.sql.types.LongType),
      outFinalize = Some(c => coalesce(c, lit(0L)))))
  }

  def lookup(name: String): Option[ScanSpec] = registry.get(name)

  def isRegistered(name: String): Boolean = registry.contains(name)
}
