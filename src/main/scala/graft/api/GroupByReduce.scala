package graft.api

import graft.aggs.{DtypeView, ReduceExprs, ReduceOptions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{BooleanType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.expressions.Window

/** Spark-native `groupby_reduce` (reference entry point: flox/core.py:739).
  *
  * Long-form data model (SURVEY.md §1.1): one row per array element with
  * key column(s) `by`, a value column, and (for order-dependent ops) a
  * stable element-index column. The reduction itself is a single
  * declarative `groupBy(...).agg(expr)` — Catalyst plans it as
  * partial-aggregate → shuffle-by-key → final-aggregate, which is exactly
  * flox's chunk → combine → finalize decomposition (flox/dask.py:325-573)
  * with the method heuristics (map-reduce/blockwise/cohorts,
  * flox/cohorts.py:109-301) subsumed by EnsureRequirements + AQE.
  *
  * Scale notes (100 TB design):
  *  - one shuffle, map-side partial aggregation, whole-stage codegen —
  *    no UDFs in the hot path;
  *  - `expectedGroups` is by contract a SMALL domain (group cardinality,
  *    not data cardinality) and is joined broadcast;
  *  - no `.collect()` anywhere; output stays distributed.
  */
object GroupByReduce {

  /** Drop rows whose group label tuple contains a null — the flox
    * null-label-drop semantics (flox/factorize.py:201-210), shared by
    * every entry point so a future policy change lands in ONE place
    * (r13 review: this expression had five hand-maintained copies). */
  private def dropNullKeyRows(df: DataFrame, by: Seq[String]): DataFrame =
    if (by.isEmpty) df
    else df.filter(by.map(c => col(c).isNotNull).reduce(_ && _))

  def apply(df: DataFrame, by: Seq[String], value: String, func: String,
            as: String = "result",
            opts: ReduceOptions = ReduceOptions()): DataFrame = {
    multi(df, by, Seq((value, func, as)), opts)
  }

  /** Several reductions in ONE pass / one shuffle — the shape a 100 TB
    * pipeline wants instead of N separate jobs. */
  def multi(df: DataFrame, by: Seq[String],
            reductions: Seq[(String, String, String)], // (value, func, as)
            opts: ReduceOptions = ReduceOptions()): DataFrame = {

    // NaN/null group labels are dropped (flox/factorize.py:201-210).
    val cleaned =
      if (opts.dropNullKeys) dropNullKeyRows(df, by) else df

    // min_count x fill_value decision table (flox/core.py:1026-1038):
    // an unset min_count becomes 1 when BOTH fill_value and
    // expected_groups are declared — an all-missing group must then read
    // as fill, not as nansum's 0 / nanprod's 1. Masked groups take the
    // user fill_value when provided, NA (null) otherwise.
    val minCount =
      if (opts.minCount == 0 && opts.fillValue.isDefined &&
        opts.expectedGroups.isDefined) 1
      else opts.minCount

    val aggCols = reductions.map { case (value, func, as) =>
      if (func == "mode" || func == "nanmode")
        throw new IllegalArgumentException(
          "mode requires a two-stage plan — use GroupByReduce.mode")
      val fp = isFp(df, value)
      val idx = opts.idxCol.map(col).getOrElse {
        if (ReduceExprs.needsIdx(func)) throw new IllegalArgumentException(
          s"$func needs opts.idxCol: a stable element-order column " +
            "(monotonically_increasing_id is NOT order-stable; see SURVEY.md §7.4.1)")
        else lit(0L)
      }
      // datetime/bool inputs: int view for numeric funcs + dtype
      // restore on the result (flox core.py:985-1001,1205-1217)
      val (vv, restore) = DtypeView(df, value, func, opts.q)
      // UnsafeRow-mutability of the ORIGINAL dtype: only the no-view
      // order-preserving funcs (min/max/first/last) consult it — their
      // value column is the original one (strings route to ExtremumBy,
      // everything else stays declarative under HashAggregateExec)
      val mv = UnsafeRow.isMutable(df.schema(value).dataType)
      // integral covers bool: DtypeView promotes it to int (flox
      // core.py:916-917), so its sums/products are integer-typed too
      val integral = df.schema(value).dataType match {
        case ByteType | ShortType | IntegerType | LongType | BooleanType => true
        case _ => false
      }
      val base = ReduceExprs(func, vv, idx, fp, opts, mv, integral)
      // min_count mask (flox/core.py:426-459: np.where(count < min_count,
      // fill_value, result)). The mask nulls the result PRE-restore; the
      // user fill is applied POST-restore, so `fillValue` lives in the
      // original dtype space everywhere (same space as the
      // expectedGroups coalesce below) — never in the viewed
      // micros/days space.
      val validCount =
        if (minCount > 0) Some(count(if (fp) ReduceExprs.nanToNull(vv) else vv))
        else None
      val masked = validCount.map(c => when(c >= minCount, base)).getOrElse(base)
      val restored = restore(masked)
      val out = (validCount, opts.fillValue) match {
        case (Some(c), Some(fill)) => when(c >= minCount, restored).otherwise(fill)
        case _ => restored
      }
      out.as(as)
    }

    val grouped =
      if (by.isEmpty) cleaned.agg(aggCols.head, aggCols.tail: _*)
      else cleaned.groupBy(by.map(col): _*).agg(aggCols.head, aggCols.tail: _*)

    val filled = (opts.expectedGroups, by) match {
      case (Some(domain), keys) if keys.nonEmpty =>
        // Keep every declared group: left-outer from the domain, NO
        // broadcast hint. The aggregated side is data-dependent (a
        // groupBy on a high-cardinality key yields millions of groups)
        // so broadcasting it would OOM at scale; and the domain — the
        // preserved side of the outer join — cannot be the build side
        // of a broadcast hash join (a hint would force a nested-loop
        // fallback). Unhinted, the agg output is already partitioned
        // on the group keys, so only the tiny domain shuffles; AQE
        // still picks a broadcast at runtime when sizes allow.
        val joined = domain.join(grouped, keys, "left")
        opts.fillValue match {
          case Some(fill) =>
            reductions.foldLeft(joined) { case (d, (_, _, as)) =>
              d.withColumn(as, coalesce(col(as), fill))
            }
          case None => joined
        }
      case _ => grouped
    }

    if (opts.sort && by.nonEmpty) filled.orderBy(by.map(col): _*) else filled
  }

  /** Weighted grouped reductions — the xarray `.weighted(w).mean()`
    * companion surface flox users reach for (flox itself has no weight
    * support; xarray computes weighted ops then hands grouping to
    * flox). Frequency-weight semantics matching xarray's Weighted
    * (xarray/core/weighted.py): wmean = Σwv/Σw, population
    * wvar = Σw(v-wmean)²/Σw expanded to the one-pass moment form
    * Σwv²/Σw - wmean². A pair is skipped when EITHER side is
    * missing (null/NaN) — xarray's skipna over value ∧ weight mask.
    *
    * All plain column expressions: one hash aggregation, one shuffle,
    * whole-stage codegen — weights add zero plan complexity.
    */
  def weighted(df: DataFrame, by: Seq[String], value: String, weight: String,
               reductions: Seq[(String, String)], // (func, as)
               opts: ReduceOptions = ReduceOptions()): DataFrame = {
    val cleaned =
      if (opts.dropNullKeys) dropNullKeyRows(df, by) else df
    def fpValid(c: Column, dt: org.apache.spark.sql.types.DataType) =
      dt match {
        case DoubleType | FloatType => c.isNotNull && !isnan(c)
        case _                      => c.isNotNull
      }
    val pairOk = fpValid(col(value), df.schema(value).dataType) &&
      fpValid(col(weight), df.schema(weight).dataType)
    val v = when(pairOk, col(value).cast("double"))
    val w = when(pairOk, col(weight).cast("double"))
    def wsum = sum(v * w)
    def wtot = sum(w)
    def wmean = wsum / wtot
    // STABLE weighted population variance (r16): weighted
    // Welford/Chan via WeightedVarAgg — the raw-moment form
    // Σwv²/Σw − (Σwv/Σw)² kept zero significant digits at
    // |mean| ≫ sd (the same cancellation class the complex var fix
    // closed; ReduceSpec pins the large-offset law). Same skip mask,
    // same all-missing-null / zero-weight-NaN / clamp-at-zero
    // semantics; ObjectHashAggregate plan shape.
    def wvar = graft.functions.VectorExprs.weightedVarPop(v, w)
    // Weighted quantile with FREQUENCY-weight semantics: integer weights
    // are repeat counts, and the result is the exact type-7 linear
    // quantile of the expanded multiset — computed WITHOUT expanding,
    // by walking the weight CDF of the per-group sorted (v, w) buffer.
    // Same sorted-buffer + bound-lambda machinery as the unweighted
    // exact quantile (ReduceExprs.quantiles): the buffer sorts once, the
    // CDF walks are interpreted but run per GROUP, never per row, and
    // the lo*(1-frac) + hi*frac interpolation algebra is bit-identical
    // to DuckDB quantile_cont over the unnest-expanded rows (the oracle
    // re-expression). Pairs with missing value/weight or weight < 1 are
    // skipped; an all-invalid group is null. Same 100 TB caveat as every
    // exact quantile — one group's pairs buffer on one task; the
    // mergeable GK sketch over expanded weights is the escape hatch.
    def wquantileOf(qq: Double): Column = {
      val pairQ = pairOk && col(weight).cast("long") >= 1
      val entry = when(pairQ, struct(col(value).cast("double").as("v"),
        col(weight).cast("long").as("w")))
      // CDF walk as the codegen'd WeightedQuantileExpr kernel — one
      // loop per GROUP over the sorted buffer, replacing the
      // interpreted aggregate() HOF fold (bit-identical algebra —
      // target=(n−1)·q, lov·(1−frac)+hiv·frac — measured 8 CPU-sec →
      // <0.5 at sf0.1; ReduceSpec's expanded-multiset law unchanged)
      graft.functions.VectorExprs.weightedQuantile(
        sort_array(collect_list(entry)), qq)
    }
    val aggCols = reductions.map { case (func, as) =>
      (func match {
        case "wsum"  => wsum
        case "wmean" => wmean
        case "wvar"  => wvar
        case "wstd"  => sqrt(wvar)
        case "wcount" => wtot // total weight of valid pairs
        case "wmedian"   => wquantileOf(0.5)
        // scalar q → double; vector q → array (the unweighted
        // quantile's surface symmetry, flox vector-q parity)
        case "wquantile" =>
          if (opts.q.length == 1) wquantileOf(opts.q.head)
          else array(opts.q.map(wquantileOf): _*)
        case other => throw new IllegalArgumentException(
          s"unknown weighted reduction '$other' (wsum|wmean|wvar|wstd|wcount|wmedian|wquantile)")
      }).as(as)
    }
    val grouped =
      if (by.isEmpty) cleaned.agg(aggCols.head, aggCols.tail: _*)
      else cleaned.groupBy(by.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    if (opts.sort && by.nonEmpty) grouped.orderBy(by.map(col): _*) else grouped
  }

  /** EXACT grouped quantile for MEGA-GROUP regimes: the default exact
    * path ([[graft.aggs.ReduceExprs]]) sorts each group's values in a
    * single aggregation buffer — correct and fastest when groups are
    * modest, but one corpus-spanning group then sorts on one task
    * (100× probe: 3 groups × 20M values → 11s single-buffer sorts).
    *
    * r14 plan: SKETCH-GUIDED BRACKET SEARCH (r13 verdict #2),
    * replacing the r12 global grouped row-number over the full data
    * (which re-sorted every row and lost 5× to the buffered path).
    * Three stages, none of which sorts more than a sliver:
    *
    *   1. one hash aggregation per group: exact counts `n` (non-null)
    *      and `nFin` (non-NaN), plus a 201-point GK percentile grid
    *      (`percentile_approx`, mergeable, map-side combinable);
    *   2. from the grid, a per-(group, q) VALUE BRACKET [a, b]
    *      GUARANTEED to contain the two target order statistics: with
    *      rank slack S = nFin/accuracy + 2 covering the GK error
    *      bound (ε = 1/accuracy) plus query discretization, grid
    *      index floor((r−S)/nFin/h) has rank ≤ r−1 and
    *      ceil((r+S)/nFin/h) has rank ≥ r+1. One map-side-combinable
    *      pass then counts EXACTLY: #v<a, #v=a, #a<v<b, #v=b — the
    *      duplicate-run compression that keeps the ranked sliver
    *      small even when the bracket endpoints carry huge ties;
    *   3. only the strict interior a<v<b — ≤ (2h + 2ε)·nFin + 4
    *      ranks ≈ 1% of the data — goes through the distributed
    *      [[GlobalScan.groupedRowNumber]]; bracket-endpoint hits are
    *      answered from the exact counts alone. A `raise_error`
    *      branch guards every impossible rank case, so a violated
    *      sketch guarantee can never return a silently wrong number.
    *
    * Interpolation uses the IDENTICAL lo·(1−frac) + hi·frac algebra
    * (with the frac==0 infinite-element guard), and every picked
    * value is an actual data value (GK stores sampled inputs), so
    * results stay BIT-equal to the buffered path (spec-pinned law,
    * fuzzed over duplicates/NaN/±Inf/tiny groups). NaN PROPAGATES:
    * any NaN value in a group makes its quantile NaN — np.quantile /
    * flox parity and the buffered path's guardNaN exactly, so
    * [[graft.api.Dispatch.quantileAuto]] can never flip a result with
    * estimated group size (r16 fix; the pre-r16 sort-order semantics
    * returned NaN only when the rank landed in the NaN tail).
    * Nulls are skipped (collect_list parity); all-null
    * groups yield null. Scalar q → double column, vector q → array.
    *
    * Memory: O(grid + sketch) per group in stage 1, O(1) per row
    * after — NO group-size bound; the only sorted data is the ~1%
    * interior sliver. This is the declared 100 TB tier for exact
    * quantiles of groups too large for any single task's buffer
    * (the reference is blockwise-only here, flox/aggregations.py:
    * 670-685); the GK sketch alone remains the approximate tier. */
  def quantileDistributed(df0: DataFrame, by: Seq[String], value: String,
                          qs: Seq[Double],
                          as: String = "result",
                          dropNullKeys: Boolean = true,
                          accuracy: Int = 10000): DataFrame = {
    require(by.nonEmpty, "quantileDistributed needs group keys")
    require(qs.nonEmpty, "need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0, 1]: $qs")
    require(accuracy >= 100, s"accuracy $accuracy too coarse (min 100)")
    // staged-column collision guard (the weightedQuantileDistributed
    // convention): an input carrying one of these names would get an
    // ambiguous-reference failure or be silently shadowed
    val staged = Seq("__qn", "__qnf", "__qg", "__qv", "__qe", "__qi",
      "__iv", "__qrn") ++
      qs.indices.flatMap(i => Seq(s"__qa$i", s"__qb$i", s"__r1_$i",
        s"__r2_$i", s"__cl$i", s"__ca$i", s"__ci$i", s"__cb$i",
        s"__s1$i", s"__s2$i")) ++
      by.map(k => s"__qr_$k")
    staged.foreach { c =>
      require(!df0.columns.contains(c),
        s"quantileDistributed stages a column named '$c'; rename the input's")
    }
    // flox null-label-drop parity (same default as the buffered path's
    // ReduceOptions.dropNullKeys); with it off, the NULL-keyed group is
    // a real group and the null-safe joins below carry it correctly.
    val df = if (dropNullKeys) dropNullKeyRows(df0, by) else df0
    val v = col(value)
    // Null-safe key joins (<=>): a NULL-keyed group is a real group for
    // groupBy, so a plain equi-join here would drop its ranked/picked
    // rows and break bit-equality with the buffered exact path.
    def nsJoin(l: DataFrame, r: DataFrame, how: String): DataFrame = {
      val rr = by.foldLeft(r)((d, k) => d.withColumnRenamed(k, s"__qr_$k"))
      val cond = by.map(k => col(k) <=> col(s"__qr_$k")).reduce(_ && _)
      l.join(rr, cond, how).drop(by.map(k => s"__qr_$k"): _*)
    }
    val m = 200 // grid points (spacing h); interior ≈ (2h + 2ε)·nFin
    val h = 1.0 / m
    val vd = v.cast("double")
    // stage 1: per-group exact counts + the GK percentile grid over
    // the FINITE (non-NaN) values — NaNs sort greatest in Spark, so
    // ranks 1..nFin are the finite order statistics and the NaN tail
    // is answered by rank > nFin alone, no sketch involvement
    val fin = when(vd.isNotNull && !isnan(vd), lit(1))
    val g0 = df.groupBy(by.map(col): _*).agg(
      count(vd).as("__qn"),
      count(fin).as("__qnf"),
      percentile_approx(when(!isnan(vd), vd),
          lit((0 to m).map(_.toDouble / m).toArray), lit(accuracy))
        .cast("array<double>").as("__qg"))
    // per-q target ranks (1-based, over the full n incl. the NaN
    // tail) and the guaranteed value bracket read off the grid
    val gCols = qs.indices.flatMap { i =>
      val r1 = floor((col("__qn") - 1).cast("double") * lit(qs(i)))
        .cast("long") + 1
      val r2 = least(r1 + 1, col("__qn"))
      val nf = col("__qnf").cast("double")
      // 2·ε·n + query discretization: percentile_approx's map-side-
      // merged GK summaries can degrade TOWARD the ε = 1/accuracy
      // bound, and a violated bracket fires the raise_error guard — a
      // loud whole-job abort on exactly the 100 TB workloads this tier
      // targets. Doubling the slack widens the interior sliver by only
      // ~ε·n rows (cost flat) while removing the spurious-abort risk
      // when merged summaries sit at the bound (r14 advice).
      val slack = nf * 2.0 / accuracy + lit(2.0)
      val rB = least(r2, col("__qnf")).cast("double")
      val ja = least(lit(m.toLong), greatest(lit(0L),
        floor(((r1.cast("double") - slack) / nf) / h).cast("long")))
      val jb = least(lit(m.toLong), greatest(lit(0L),
        ceil(((rB + slack) / nf) / h).cast("long")))
      Seq(r1.as(s"__r1_$i"), r2.as(s"__r2_$i"),
        element_at(col("__qg"), (ja + 1).cast("int")).as(s"__qa$i"),
        element_at(col("__qg"), (jb + 1).cast("int")).as(s"__qb$i"))
    }
    // PINNED (localCheckpoint, the GlobalScan convention — EAGER, one
    // job): g is one tiny row per group but its parent is the full
    // sketch pass; unpinned, every consumer branch below re-ran that
    // pass and re-sorted the corpus through sort-merge joins (measured
    // 142s vs 12s at the 60M probe). Pinned, the sketch pass runs
    // ONCE and AQE broadcasts the materialized tiny exchange.
    val g = g0.select((by.map(col) ++
      Seq(col("__qn"), col("__qnf")) ++ gCols): _*).localCheckpoint()
    // EXPLICIT broadcast decision on the known group count: AQE does
    // not re-plan a join whose small side is a checkpointed leaf (no
    // shuffle stage to re-measure), so without the hint the full data
    // was exchanged once and SORT-MERGE-READ three times — 66 of the
    // 83 s at the 60M probe. One driver-side count on the pinned
    // per-group table is the whole cost of deciding.
    val nGroups = g.count()
    val bcast = nGroups <= 100000
    def side(t: DataFrame) = if (bcast) broadcast(t) else t
    // rows × per-group brackets: one row per non-null value
    val rowsJ = nsJoin(
      df.filter(v.isNotNull)
        .select(by.map(col) :+ vd.as("__qv"): _*), side(g), "inner")
    // stage 2: EXACT counts around each bracket — v<a / v=a / a<v<b /
    // v=b. NaN rows fall in none of them (NaN compares greatest and
    // a, b are finite), which is exactly the rank arithmetic's model.
    val vv = col("__qv")
    val cAggs = qs.indices.flatMap { i =>
      val a = col(s"__qa$i"); val b = col(s"__qb$i")
      Seq(count(when(vv < a, 1)).as(s"__cl$i"),
        count(when(vv === a, 1)).as(s"__ca$i"),
        count(when(vv > a && vv < b, 1)).as(s"__ci$i"),
        count(when(b > a && vv === b, 1)).as(s"__cb$i"))
    }
    val counts = rowsJ.groupBy(by.map(col): _*).agg(cAggs.head, cAggs.tail: _*)
    // stage 3: rank ONLY the strict interior, tagged by quantile
    // index — a cheap comparison-only prefilter drops the ~99%
    // non-interior rows BEFORE any array/struct allocation, then a
    // compacted when()-array explode tags the survivors per q
    val inAny = qs.indices.map { i =>
      vv > col(s"__qa$i") && vv < col(s"__qb$i") }.reduce(_ || _)
    val taggedArr = array(qs.indices.map { i =>
      when(vv > col(s"__qa$i") && vv < col(s"__qb$i"),
        struct(lit(i).as("qi"), vv.as("iv")))
    }: _*)
    // pinned: groupedRowNumber's range partitioner SAMPLES its input
    // before shuffling it, which re-ran the full scan+explode;
    // checkpointed, both passes read the ~1% sliver
    val interior = rowsJ.filter(inAny)
      .select(by.map(col) :+
        explode(filter(taggedArr, x => x.isNotNull)).as("__qe"): _*)
      .select(by.map(col) :+ col("__qe.qi").as("__qi") :+
        col("__qe.iv").as("__iv"): _*)
      .localCheckpoint()
    val ranked = GlobalScan.groupedRowNumber(
      interior, by :+ "__qi", Seq(col("__iv")), "__qrn")
    // LEFT join: an all-null group has no rowsJ rows and thus no
    // counts row, but must still appear (with a null result).
    // Pinned for the same reason as g: targets is per-group tiny but
    // its parent is the full exact-counts pass, and it has two
    // consumers (the sliver picks and the final assembly).
    val targets = nsJoin(g, counts, "left").localCheckpoint()
    val pAggs = qs.indices.flatMap { i =>
      val t1 = col(s"__r1_$i") - col(s"__cl$i") - col(s"__ca$i")
      val t2 = col(s"__r2_$i") - col(s"__cl$i") - col(s"__ca$i")
      val here = col("__qi") === i
      Seq(max(when(here && col("__qrn") === t1, col("__iv"))).as(s"__s1$i"),
        max(when(here && col("__qrn") === t2, col("__iv"))).as(s"__s2$i"))
    }
    val picks = nsJoin(ranked, side(targets), "inner")
      .groupBy(by.map(col): _*).agg(pAggs.head, pAggs.tail: _*)
    val assembled = nsJoin(targets, side(picks), "left")
    // the order statistic at rank rr, answered from the exact counts
    // (bracket-endpoint runs) or the ranked sliver; every impossible
    // case raises — a violated sketch guarantee can never return a
    // silently wrong number
    val fail = raise_error(
      lit("quantileDistributed: sketch bracket violated (internal)"))
      .cast("double")
    def xAt(i: Int, rr: Column, sel: Column): Column = {
      val cl = col(s"__cl$i"); val ca = col(s"__ca$i")
      val ci = col(s"__ci$i"); val cb = col(s"__cb$i")
      when(rr > col("__qnf"), lit(Double.NaN))
        .when(rr <= cl, fail)
        .when(rr <= cl + ca, col(s"__qa$i"))
        .when(rr <= cl + ca + ci, coalesce(sel, fail))
        .when(rr <= cl + ca + ci + cb, col(s"__qb$i"))
        .otherwise(fail)
    }
    def interp(q: Double, i: Int): Column = {
      val target = (col("__qn") - 1).cast("double") * lit(q)
      val frac = target - floor(target)
      val x1 = xAt(i, col(s"__r1_$i"), col(s"__s1$i"))
      val x2 = xAt(i, col(s"__r2_$i"), col(s"__s2$i"))
      // NaN PROPAGATION first (r16): any NaN in the group (__qn counts
      // non-null incl. NaN, __qnf finite only) makes the quantile NaN —
      // np.quantile/flox parity and EXACTLY the buffered path's
      // guardNaN, so quantileAuto can never flip a result with
      // estimated group size (the cummin advice-high class, found here
      // by the r16 adversarial sweep). The old sort-order semantics
      // (NaN only when the rank lands in the NaN tail) answered a
      // question NumPy never asks; xAt's NaN-tail arm stays as an
      // unreachable internal safety net.
      // frac == 0 → the lo element itself (infinite-element guard,
      // same algebra as the buffered path — bit-equality preserved)
      when(col("__qn") > col("__qnf"), lit(Double.NaN))
        .when(col("__qn") > 0,
          when(frac === 0, x1).otherwise(x1 * (lit(1.0) - frac) + x2 * frac))
    }
    val out = assembled
      .withColumn(as,
        if (qs.length == 1) interp(qs.head, 0)
        else array(qs.zipWithIndex.map { case (q, i) => interp(q, i) }: _*))
      .select(by.map(col) :+ col(as): _*)
    out.orderBy(by.map(col): _*)
  }

  /** EXACT weighted quantile for MEGA-GROUP regimes — the weighted
    * mirror of [[quantileDistributed]], closing the last group-size
    * asymmetry in the quantile family: [[weighted]]'s
    * wquantile/wmedian sorts one group's (v, w) pairs in a single
    * aggregation buffer (`WeightedQuantileExpr`'s CDF walk), so a
    * corpus-spanning group buffers on one task. This tier never
    * buffers a group:
    *
    *   1. DUPLICATE-RUN COMPRESSION — groupBy (keys, v) summing the
    *      long weights: the CDF walk only ever consults one row per
    *      DISTINCT value, so massive ties collapse in a map-side
    *      combinable aggregation before anything sorts;
    *   2. a distributed inclusive weight prefix sum over the runs in
    *      value order ([[GlobalScan.groupedPrefixSum]]: range
    *      partition on (keys, v) spreads corpus-spanning groups over
    *      the cluster, boundary-only driver bookkeeping);
    *   3. per-group targets lo = ⌊(n−1)·q⌋ and hiPos = min(lo+1, n−1)
    *      (n = total weight) are answered by the two runs whose
    *      [cum−w, cum) rank windows cover them — a filtered pick, not
    *      a sort — and the identical lov·(1−frac)+hiv·frac
    *      interpolation (frac = 0 ⇒ the element itself, the
    *      infinite-element guard).
    *
    * Semantics are bit-equal to the buffered walk by construction —
    * same valid-pair mask (null/NaN value or weight skipped, long-cast
    * weight ≥ 1), same rank algebra over the same run decomposition
    * (ReduceSpec law + fuzz). Worst case (all-distinct values) the
    * runs table is the data, and the cost is one DISTRIBUTED range
    * sort of it — the price of unbounded groups; below that regime
    * [[weighted]] stays the faster tier, the same split as the
    * unweighted pair.
    *
    * VECTOR q (r17, closing the last quantile-surface asymmetry):
    * every q rides the ONE compression + prefix sum — only the
    * per-q target columns and the covering-run picks multiply, all
    * inside the same two aggregations. Result shape mirrors the
    * buffered and unweighted-distributed surfaces: single q → double
    * column, vector → array in q order, each element bit-equal to the
    * scalar call (ReduceSpec law). */
  def weightedQuantileDistributed(df0: DataFrame, by: Seq[String],
                                  value: String, weight: String,
                                  qs: Seq[Double],
                                  as: String = "result",
                                  dropNullKeys: Boolean = true): DataFrame = {
    require(by.nonEmpty, "weightedQuantileDistributed needs group keys")
    require(qs.nonEmpty, "pass at least one quantile")
    qs.foreach(q =>
      require(q >= 0.0 && q <= 1.0, s"quantile must lie in [0, 1]: $q"))
    (Seq("__wv", "__ww", "__wcw", "__wn") ++
      qs.indices.flatMap(i => Seq(s"__wlo$i", s"__wfrac$i", s"__whi$i",
        s"__lov$i", s"__hiv$i")) ++
      by.map(k => s"__wr_$k")).foreach { c =>
      require(!df0.columns.contains(c),
        s"weightedQuantileDistributed stages a column named '$c'; " +
          "rename the input's")
    }
    val df = if (dropNullKeys) dropNullKeyRows(df0, by) else df0
    def nsJoin(l: DataFrame, r: DataFrame, how: String): DataFrame = {
      val rr = by.foldLeft(r)((d, k) => d.withColumnRenamed(k, s"__wr_$k"))
      val cond = by.map(k => col(k) <=> col(s"__wr_$k")).reduce(_ && _)
      l.join(rr, cond, how).drop(by.map(k => s"__wr_$k"): _*)
    }
    def fpValid(c: Column, dt: org.apache.spark.sql.types.DataType) =
      dt match {
        case DoubleType | FloatType => c.isNotNull && !isnan(c)
        case _                      => c.isNotNull
      }
    // the buffered path's exact pair mask: both sides present, and the
    // LONG-cast weight (frequency semantics truncate) at least 1
    val pairQ = fpValid(col(value), df.schema(value).dataType) &&
      fpValid(col(weight), df.schema(weight).dataType) &&
      col(weight).cast("long") >= 1
    val runs = df.filter(pairQ)
      .select((by.map(col) :+ col(value).cast("double").as("__wv") :+
        col(weight).cast("long").as("__ww")): _*)
      .groupBy((by.map(col) :+ col("__wv")): _*)
      .agg(sum("__ww").as("__ww"))
    // pinned: the targets and the picks both read the scan, and the
    // scan itself pins nothing, so each would re-run the corpus-scale
    // run-compression pass and the range shuffle from source (the
    // two-consumer trap quantileDistributed documents)
    val cum = GlobalScan.groupedPrefixSum(
      runs, by, Seq(col("__wv")), col("__ww"), "__wcw").localCheckpoint()
    // per-group total weight + targets: one tiny row per group, pinned
    // (the quantileDistributed convention — it feeds two consumers).
    // n is read off CUM's last inclusive prefix (max over the group),
    // NOT a second aggregation of `runs`, which would re-run the
    // corpus-scale run-compression pass from source (r14 review)
    val targets = cum.groupBy(by.map(col): _*).agg(max("__wcw").as("__wn"))
      .select((by.map(col) ++ Seq(col("__wn")) ++
        qs.zipWithIndex.flatMap { case (q, i) =>
          val t = (col("__wn") - 1).cast("double") * lit(q)
          Seq(floor(t).cast("long").as(s"__wlo$i"),
            (t - floor(t)).as(s"__wfrac$i"),
            least(floor(t).cast("long") + 1, col("__wn") - 1)
              .as(s"__whi$i"))
        }): _*)
      .localCheckpoint()
    // explicit broadcast decision on the known group count (AQE does
    // not re-plan around a checkpointed leaf — see quantileDistributed)
    val bcast = targets.count() <= 100000
    def side(d: DataFrame) = if (bcast) broadcast(d) else d
    // a run covers ranks [cum − w, cum); q ≤ 1 ⇒ lo ≤ n−1 < last cum,
    // so both targets always hit exactly one run
    def covers(rank: Column): Column =
      col("__wcw") - col("__ww") <= rank && rank < col("__wcw")
    // one filtered pick serves EVERY q: a run is kept if it covers any
    // target rank, and the per-q extraction is a null-skipping
    // conditional max — max over ≤1 non-null value per (group, q, side)
    val anyCover = qs.indices
      .map(i => covers(col(s"__wlo$i")) || covers(col(s"__whi$i")))
      .reduce(_ || _)
    val pickAggs = qs.indices.flatMap(i => Seq(
      max(when(covers(col(s"__wlo$i")), col("__wv"))).as(s"__lov$i"),
      max(when(covers(col(s"__whi$i")), col("__wv"))).as(s"__hiv$i")))
    val picked = nsJoin(cum, side(targets), "inner")
      .filter(anyCover)
      .groupBy(by.map(col): _*).agg(pickAggs.head, pickAggs.tail: _*)
    // groups whose rows are ALL invalid pairs still appear, with null
    // (the buffered path's empty-buffer answer)
    val allGroups = df.select(by.map(col): _*).distinct()
    def interp(i: Int): Column =
      when(col(s"__lov$i").isNull, lit(null).cast("double"))
        .when(col(s"__wfrac$i") === 0, col(s"__lov$i"))
        .otherwise(col(s"__lov$i") * (lit(1.0) - col(s"__wfrac$i")) +
          col(s"__hiv$i") * col(s"__wfrac$i"))
    val res = nsJoin(nsJoin(allGroups, side(targets), "left"),
      side(picked), "left")
      .withColumn(as,
        if (qs.length == 1) interp(0)
        else array(qs.indices.map(interp): _*))
      .select(by.map(col) :+ col(as): _*)
    res.orderBy(by.map(col): _*)
  }

  /** Grouped mode with the reference's smallest-value tie-break
    * (scipy.stats.mode semantics, flox/aggregate_npg.py:185-215).
    * Two-stage plan: per-(key,value) counts (map-side combinable), then
    * a second hash aggregation picking the (max count, min value)
    * winner via ExtremumBy on ordering (-count, value) — no window-rank
    * sort, and no SortAggregateExec fallback (a built-in min over the
    * (-count, value) STRUCT would put a struct in the aggregation
    * buffer and sink stage 2 out of hash aggregation). Both stages
    * shuffle on bounded-cardinality keys, so this scales to arbitrary
    * input rows.
    */
  def mode(df: DataFrame, by: Seq[String], value: String,
           as: String = "result", skipNaN: Boolean = false,
           opts: ReduceOptions = ReduceOptions()): DataFrame = {
    val fp = isFp(df, value)
    val v0 = if (fp && skipNaN) ReduceExprs.nanToNull(col(value)) else col(value)
    val cleaned =
      if (opts.dropNullKeys) dropNullKeyRows(df, by) else df
    val counts = cleaned
      .withColumn("__v", v0)
      .filter(col("__v").isNotNull)
      .groupBy((by.map(col) :+ col("__v")): _*)
      .agg(count(lit(1)).as("__n"))
    val picked = counts
      .groupBy(by.map(col): _*)
      .agg(graft.functions.VectorExprs.extremumBy(
        col("__v"), struct((-col("__n")).as("nc"), col("__v").as("v")),
        isMax = false).as(as))
    if (opts.sort && by.nonEmpty) picked.orderBy(by.map(col): _*) else picked
  }

  /** Callable-per-group escape hatch (reference: a plain Python callable
    * applied to each group's values, flox/core.py:363-366). The function
    * sees one group's values as an iterator in UNSPECIFIED order (add an
    * orderBy upstream + `sorted` inside if order matters) and returns one
    * result. This is the slow path — an opaque function on the executors,
    * outside whole-stage codegen and without partial aggregation — and
    * exists for reductions that genuinely cannot be expressed as
    * Aggregator algebra. Group keys travel as a single composite string
    * and the typed key columns are re-attached from the (small,
    * group-cardinality) distinct-keys side.
    */
  def perGroupDouble(df: DataFrame, by: Seq[String], value: String,
                     as: String = "result", sort: Boolean = true)
                    (f: Iterator[Double] => Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(by.nonEmpty, "perGroupDouble needs at least one key column")
    val sep = "\u0001" // non-printing separator: collision-free composite keys
    def packed = concat_ws(sep, by.map(c => col(c).cast("string")): _*)
    val cleaned = dropNullKeyRows(df, by)
    // null = missing, skipped (the framework-wide convention, see
    // ReduceExprs): the callable only ever sees valid values — a null
    // would otherwise NPE inside the non-nullable Double encoder. NaN is
    // NOT filtered: like flox's callable path, NaN policy belongs to the
    // user function.
    val reduced = cleaned
      .filter(col(value).isNotNull)
      .select(packed.as("__k"), col(value).cast("double").as("__v"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroups { (k, it) => (k, f(it.map(_._2))) }
      .toDF("__k", as)
    val keyCols = cleaned.select((packed.as("__k") +: by.map(col)): _*).distinct()
    // left join: a group whose values are ALL missing keeps its row with
    // a null result, matching every built-in reduction
    val joined = keyCols.join(reduced, Seq("__k"), "left").drop("__k")
    if (sort) joined.orderBy(by.map(col): _*) else joined
  }

  private def isFp(df: DataFrame, value: String): Boolean =
    df.schema(value).dataType match {
      case DoubleType | FloatType => true
      case _                      => false
    }
}
