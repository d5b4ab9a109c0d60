package graft.aggs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Complex-valued grouped reductions over the `struct(re, im)` column
  * convention — the last reference dtype with no graft answer (r14
  * verdict missing #4: NumPy reduces complex arrays natively and the
  * reference's hypothesis strategies include complex dtypes,
  * `tests/strategies.py:83-99`; Spark has no complex type, so a
  * two-double struct carries one).
  *
  * Semantics follow NumPy componentwise:
  *  - a value is MISSING when the struct is null (the long-form NA
  *    convention); it is NaN when EITHER part is NaN
  *    (`numpy.isnan(z) = isnan(re) | isnan(im)`);
  *  - plain variants propagate NaN (a double sum does this natively),
  *    `nan*` variants skip NaN values as a whole — never one part;
  *  - `count` is flox's nanlen: # values with neither part NaN;
  *  - var/std are REAL-valued: E|x − x̄|² with arbitrary ddof,
  *    reconstructed componentwise from Spark's STABLE central-moment
  *    aggregate (M2 = n·(var_pop(re) + var_pop(im)) — the same algebra
  *    the scalar var uses; never the cancellation-prone raw-moment
  *    form);
  *  - first/last take an explicit order column (min_by/max_by — the
  *    idx-deterministic convention every order-dependent reduction in
  *    graft follows).
  *
  * Everything is plain column expressions over the struct's fields:
  * one hash aggregation, map-side combinable, whole-stage codegen —
  * the complex dtype adds zero plan complexity.
  */
object ComplexAggs {

  private def re(v: Column): Column = v.getField("re")
  private def im(v: Column): Column = v.getField("im")

  /** Neither part NaN (and the struct present). */
  def valid(v: Column): Column =
    v.isNotNull && !isnan(re(v)) && !isnan(im(v))

  private def c(reC: Column, imC: Column): Column =
    struct(reC.as("re"), imC.as("im"))

  /** # non-NaN complex values (flox `count` = nanlen). */
  def ccount(v: Column): Column = count(when(valid(v), 1))

  /** NaN-propagating sum: componentwise double sums (NaN sticks
    * natively); null structs are missing and skip. All-missing group
    * is null (both parts null → struct of nulls normalized to null). */
  def csum(v: Column): Column = {
    val s = c(sum(re(v)), sum(im(v)))
    when(count(v) > 0, s)
  }

  /** NaN-skipping sum; all-skipped group sums to 0+0i (NumPy
    * nansum([]) = 0). */
  def nancsum(v: Column): Column =
    c(coalesce(sum(when(valid(v), re(v))), lit(0.0)),
      coalesce(sum(when(valid(v), im(v))), lit(0.0)))

  /** NaN-propagating mean; an all-missing group is null (the [[csum]]
    * convention), not a struct of nulls. */
  def cmean(v: Column): Column =
    when(count(v) > 0, c(sum(re(v)) / count(v), sum(im(v)) / count(v)))

  def nancmean(v: Column): Column = {
    val n = ccount(v)
    when(n > 0, c(sum(when(valid(v), re(v))) / n,
      sum(when(valid(v), im(v))) / n))
  }

  /** Real variance E|x − x̄|², denominator n − ddof; NaN values
    * propagate (any NaN part NaNs the moment sums). */
  def cvar(v: Column, ddof: Int = 1): Column =
    varFrom(re(v), im(v), count(v), ddof)

  def nancvar(v: Column, ddof: Int = 1): Column =
    varFrom(when(valid(v), re(v)), when(valid(v), im(v)), ccount(v), ddof)

  def cstd(v: Column, ddof: Int = 1): Column = sqrt(cvar(v, ddof))
  def nancstd(v: Column, ddof: Int = 1): Column = sqrt(nancvar(v, ddof))

  private def varFrom(reC: Column, imC: Column, n: Column,
                      ddof: Int): Column = {
    // stable componentwise reconstruction: Σ|x − x̄|² decomposes as
    // n·(var_pop(re) + var_pop(im)), and Spark's CentralMomentAgg
    // accumulates var_pop with the numerically stable pairwise update —
    // the same M2-from-var_pop algebra the scalar varDdof uses
    // (ReduceExprs.scala:99-109). The raw-moment form
    // Σ|x|² − |Σx|²/n cancels catastrophically when |mean| ≫ sd
    // (ComplexAggsSpec pins a mean~1e8/sd~1 group against a
    // mean-shifted local reference); flox mean-shifts for the same
    // reason (flox/aggregate_npg.py:112-120). NaN inputs propagate
    // through var_pop natively; an all-missing group's var_pop is null
    // and the CASE keeps the result null. Same plan shape: one hash
    // aggregation.
    val m2 = n * (var_pop(reC) + var_pop(imC))
    when(n > ddof, m2 / (n - ddof))
  }

  /** Lexicographic complex min/max — NumPy's amin/amax over complex
    * compares (re, im) lexicographically. nan* variants skip NaN
    * values; the plain variants propagate: any NaN value in the group
    * makes the extremum NaN+NaNi (the scalar plain-min NaN-guard
    * convention, componentwise). ExtremumBy on the (re, im) struct
    * ordering — ObjectHashAggregate, no SortAggregate fallback. */
  def nancmin(v: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      v, when(valid(v), struct(re(v).as("re"), im(v).as("im"))),
      isMax = false)
  def nancmax(v: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      v, when(valid(v), struct(re(v).as("re"), im(v).as("im"))),
      isMax = true)
  def cmin(v: Column): Column = nanPoison(v, nancmin(v))
  def cmax(v: Column): Column = nanPoison(v, nancmax(v))

  private def nanPoison(v: Column, base: Column): Column =
    when(count(when(v.isNotNull && !valid(v), 1)) > 0,
      c(lit(Double.NaN), lit(Double.NaN))).otherwise(base)

  /** Complex argmin/argmax — the `order` value (the element index) of
    * the lexicographic extremum, FIRST index on ties (NumPy's
    * first-extremum contract): the min side appends `order` ascending
    * to the (re, im) ordering; the max side appends `-order` so the
    * greatest ordering still lands on the SMALLEST index among tied
    * values (the ReduceExprs argmax convention). NaN values are
    * skipped (nanarg*); flox's plain arg* over all-NaN raises — here
    * an all-NaN group returns null (the NA-sentinel convention). */
  def cargmin(v: Column, order: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      order,
      when(valid(v), struct(re(v).as("re"), im(v).as("im"),
        order.as("o"))),
      isMax = false)
  def cargmax(v: Column, order: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      order,
      when(valid(v), struct(re(v).as("re"), im(v).as("im"),
        (-order).as("no"))),
      isMax = true)

  /** First/last complex value in `order` — includes NaN values (plain
    * first/last); rows with a null struct are missing and skip (their
    * ordering value is nulled alongside — ExtremumBy skips null
    * orderings). ExtremumBy, NOT the built-in min_by/max_by: their
    * struct-typed aggregation buffer sinks the whole Aggregate into a
    * SortAggregate (the r8 lesson, re-caught by PlanAuditSpec on this
    * very query's first draft); ExtremumBy keeps ObjectHashAggregate. */
  def cfirst(v: Column, order: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      v, when(v.isNotNull, order), isMax = false)
  def clast(v: Column, order: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      v, when(v.isNotNull, order), isMax = true)

  /** First/last non-NaN value in `order` (nanfirst/nanlast). */
  def nancfirst(v: Column, order: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      v, when(valid(v), order), isMax = false)
  def nanclast(v: Column, order: Column): Column =
    graft.functions.VectorExprs.extremumBy(
      v, when(valid(v), order), isMax = true)
}
