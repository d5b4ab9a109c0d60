package graft.api

import graft.aggs.ReduceOptions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Automatic tier selection — the `_choose_method` parity gap (r14
  * verdict #3; reference heuristics: `flox/core.py:685-709`,
  * `flox/cohorts.py:109-301`). flox picks
  * map-reduce/blockwise/cohorts for the user from how labels
  * distribute over chunks; graft's equivalent forks are its
  * ESCALATION TIERS, whose boundaries previously lived only in
  * scaladoc constants: a user who picked wrong either OOM'd (buffered
  * quantile of a corpus-spanning group) or paid 3–11× (plain
  * rollingAgg at a 30% hot key).
  *
  * One cheap sampled-stats pass drives every fork:
  *
  *   - `keyStats` — total rows (often metadata-only on parquet) plus
  *     ONE aggregation over a deterministic sample: estimated group
  *     count, estimated max group size, max group share. Cost is two
  *     small jobs, independent of group cardinality.
  *   - decision functions (pure, spec-testable) map stats to a tier;
  *     the auto entry points log the decision and delegate to exactly
  *     the code the certified queries run, so `auto` can never change
  *     a result — only a plan.
  *
  * Thresholds are the measured crossover points from the r12–r14
  * probes, overridable per call:
  *
  *   - [[MegaGroupRows]] (default 8M): above this estimated max group
  *     size, buffered exact quantiles (one sorted buffer per group)
  *     and window scans (one task per group) escalate to the
  *     distributed bracket-search / boundary-carry tiers. QdistProbe:
  *     buffered wins at 5M pairs/group, loses (or OOMs) at 20M;
  *     ScanTierProbe: carry ffill 2.5× at 20M rows/group.
  *   - [[HotKeyShare]] (default 0.10): at double-digit key
  *     concentration the events operators escalate to the time-block
  *     decompositions (SkewProbe: 11× for rolling at 30% hot key;
  *     as-of/sessionize escalate for the single-task memory wall, not
  *     wall-clock — the probes measured plain parity at 10M).
  */
object Dispatch {

  /** Measured crossover: max group rows above which one-buffer/"one
    * task per group" formulations escalate. */
  val MegaGroupRows: Long = 8000000L

  /** Measured boundary: hottest-key row share at which the events
    * operators escalate to the block decompositions. */
  val HotKeyShare: Double = 0.10

  /** Sampled per-key statistics.
    *
    * @param rows            exact total row count
    * @param sampledRows     rows in the sample the estimates came from
    * @param groupsEst       distinct keys IN THE SAMPLE (a lower bound
    *                        on true group count — rare keys are
    *                        invisible, which is fine: dispatch only
    *                        cares about BIG groups, which a 1% sample
    *                        cannot miss)
    * @param maxGroupRowsEst sample max group size scaled by 1/fraction
    * @param maxGroupShare   hottest sampled key's share of sampled rows
    */
  case class KeyStats(rows: Long, sampledRows: Long, groupsEst: Long,
                      maxGroupRowsEst: Long, maxGroupShare: Double)

  /** One cheap stats pass: exact count + one aggregation over a
    * deterministic `fraction` sample (fixed seed — same data AND same
    * partitioning, same decision: Bernoulli sampling seeds per
    * partition, so a repartitioned input may sample differently; both
    * tiers of every fork return identical results either way, so a
    * flipped decision only changes the plan). Inputs whose SAMPLE
    * would be smaller than ~100k rows
    * (i.e. under 10M rows at the default 1%) are measured exactly —
    * a 1% sample of small data estimates nothing. Null keys count
    * like any other key — both tiers of every fork drop or carry them
    * identically, so they cannot flip a decision wrongly.
    *
    * Cost honesty: the count is usually metadata-only on parquet, but
    * the sampled aggregation SCANS the input once (Spark pushes no
    * sampling into the scan) — flox's heuristics read only chunk
    * metadata, which Spark does not keep per key. One extra map-side-
    * combined scan is the price of choosing right; a caller running
    * many operators over the same keying should compute [[keyStats]]
    * ONCE and pass it to each auto entry point via their
    * `stats = Some(...)` parameter (zero extra jobs — DispatchSpec
    * law), the flox analog of its memoized per-array chunk metadata
    * (flox/cache.py:1-12). */
  def keyStats(df: DataFrame, keys: Seq[String],
               fraction: Double = 0.01, seed: Long = 42L): KeyStats = {
    require(keys.nonEmpty, "keyStats needs key columns")
    require(fraction > 0 && fraction <= 1.0, s"bad fraction $fraction")
    val total = df.count()
    val frac = if (total * fraction < 100000L) 1.0 else fraction
    val s = if (frac >= 1.0) df else df.sample(withReplacement = false, frac, seed)
    val r = s.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__dc"))
      .agg(count(lit(1)).as("g"), max("__dc").as("m"), sum("__dc").as("n"))
      .head()
    val g = r.getLong(0)
    val (m, n) = if (g == 0L) (0L, 0L) else (r.getLong(1), r.getLong(2))
    KeyStats(
      rows = total,
      sampledRows = n,
      groupsEst = g,
      maxGroupRowsEst = if (frac >= 1.0) m else (m / frac).toLong,
      maxGroupShare = if (n == 0L) 0.0 else m.toDouble / n)
  }

  sealed trait Tier { def name: String }
  case object Buffered extends Tier { val name = "buffered" }
  case object DistributedTier extends Tier { val name = "distributed" }
  case object WindowTier extends Tier { val name = "window" }
  case object CarryTier extends Tier { val name = "carry" }
  case object Plain extends Tier { val name = "plain" }
  case object Skewed extends Tier { val name = "skewed" }

  /** Pure decision functions — the spec asserts these on planted
    * stats; the auto entry points below only log + delegate. */
  def chooseQuantileTier(st: KeyStats,
                         megaGroupRows: Long = MegaGroupRows): Tier =
    if (st.maxGroupRowsEst > megaGroupRows) DistributedTier else Buffered

  def chooseScanTier(st: KeyStats,
                     megaGroupRows: Long = MegaGroupRows): Tier =
    if (st.maxGroupRowsEst > megaGroupRows) CarryTier else WindowTier

  def chooseEventsTier(st: KeyStats,
                       hotKeyShare: Double = HotKeyShare): Tier =
    if (st.maxGroupShare >= hotKeyShare) Skewed else Plain

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private def logDecision(op: String, tier: Tier, st: KeyStats): Unit =
    log.info(s"graft.Dispatch: $op -> ${tier.name} " +
      s"(rows=${st.rows}, sampled=${st.sampledRows}, " +
      s"groups>=${st.groupsEst}, maxGroup~${st.maxGroupRowsEst}, " +
      s"maxShare=${"%.3f".format(st.maxGroupShare)})")

  /** Exact grouped quantile, tier chosen from the data: buffered
    * per-group sort below [[MegaGroupRows]], the sketch-guided
    * bracket search ([[GroupByReduce.quantileDistributed]]) above.
    * Both tiers are bit-equal by the shared interpolation algebra
    * (spec-pinned), so `auto` affects only the plan. */
  def quantileAuto(df: DataFrame, by: Seq[String], value: String,
                   qs: Seq[Double], as: String = "result",
                   opts: ReduceOptions = ReduceOptions(),
                   megaGroupRows: Long = MegaGroupRows,
                   stats: Option[KeyStats] = None): DataFrame = {
    // an approx request never needs escalation: the GK sketch is
    // mergeable map-side and group-size-unbounded already — the
    // buffered branch IS the scale tier for approxQuantile (and
    // skipping keyStats saves the stats scan)
    if (opts.approxQuantile)
      return GroupByReduce(df, by, value, "quantile", as, opts.copy(q = qs))
    // VIEWED dtypes (datetime/duration/bool) never escalate: the
    // buffered path views them to int64 and RESTORES the dtype
    // (DtypeView), while the distributed tier computes on a raw double
    // cast — escalation would change the result's type and units, the
    // one thing auto must never do. Buffered stays correct at any
    // size; the decision log names the wall.
    if (!isNumeric(df, value)) {
      log.info("graft.Dispatch: quantile -> buffered (value dtype " +
        s"${df.schema(value).dataType.simpleString} is viewed+restored, " +
        "which only the buffered tier implements; no stats pass run)")
      return GroupByReduce(df, by, value, "quantile", as, opts.copy(q = qs))
    }
    val st = stats.getOrElse(keyStats(df, by))
    val tier = chooseQuantileTier(st, megaGroupRows)
    logDecision("quantile", tier, st)
    tier match {
      case DistributedTier =>
        // escalation must never SILENTLY drop semantics: the
        // distributed tier has no expected-groups/fill/min_count
        // machinery, so an auto-escalated call carrying them fails
        // loudly with the alternatives instead of returning a frame
        // missing its declared groups
        require(opts.expectedGroups.isEmpty && opts.fillValue.isEmpty &&
          opts.minCount == 0,
          "quantileAuto escalated to the distributed tier (max group ~" +
            s"${st.maxGroupRowsEst} rows > $megaGroupRows) but " +
            "expectedGroups/fillValue/minCount are set, which that tier " +
            "does not implement — left-join the expected domain over the " +
            "result yourself, or force the buffered tier via GroupByReduce " +
            "if every group genuinely fits one task")
        GroupByReduce.quantileDistributed(df, by, value, qs, as,
          dropNullKeys = opts.dropNullKeys)
      case _ =>
        GroupByReduce(df, by, value, "quantile", as, opts.copy(q = qs))
    }
  }

  /** Umbrella reduction dispatch — ONE entry point that routes any
    * [[GroupByReduce]] func through the right tier, so users stop
    * needing to know which auto entry points exist (r15 verdict
    * stretch #8). The routing fact that makes this cheap: hash-
    * aggregated reductions (count/sum/mean/var/min/max/corr/skew/
    * nunique/topk/custom registrations/...) are mergeable map-side
    * and GROUP-SIZE-UNBOUNDED under Tungsten already — they dispatch
    * straight to GroupByReduce with NO stats pass (zero added cost),
    * as do approx quantiles (mergeable GK sketches). The EXACT
    * quantile family (quantile/nanquantile/median/nanmedian) is the
    * one buffered-per-group class and gets the tier choice: buffered
    * below [[MegaGroupRows]], [[GroupByReduce.quantileDistributed]]
    * above (median = quantile 0.5, the same interpolation algebra;
    * nan* variants NaN-mask the value column before escalating —
    * nanquantile(v) == quantile(nan→null(v)) since null is skipped on
    * both tiers). Escalation refuses loudly what the distributed tier
    * does not implement (expectedGroups/fill/minCount — the
    * quantileAuto guard — and the nanQuantileAllNaN sentinel, whose
    * all-NaN→NaN encoding the masked column erases). `mode` keeps its
    * own two-stage entry (GroupByReduce.mode). */
  def reduceAuto(df: DataFrame, by: Seq[String], value: String,
                 func: String, as: String = "result",
                 opts: ReduceOptions = ReduceOptions(),
                 megaGroupRows: Long = MegaGroupRows,
                 stats: Option[KeyStats] = None): DataFrame = {
    val exactQuantile = Set("quantile", "nanquantile", "median", "nanmedian")
    // non-quantile funcs, approx sketches, and VIEWED dtypes (datetime/
    // duration/bool: the buffered tier views+restores the dtype, the
    // distributed tier computes on a raw double cast — escalation would
    // change the result's type/units) all stay on GroupByReduce, which
    // is correct at any group size for them
    if (!exactQuantile(func) || opts.approxQuantile || !isNumeric(df, value))
      return GroupByReduce(df, by, value, func, as, opts)
    val qs = func match {
      case "median" | "nanmedian" => Seq(0.5)
      case _ =>
        // an empty q here is a caller mistake, not a median request:
        // the explicit GroupByReduce path validates q values, so
        // defaulting to 0.5 would mask on the auto path an error the
        // manual path surfaces (r16 advice)
        require(opts.q.nonEmpty,
          s"reduceAuto($func) needs opts.q — pass the quantile(s); " +
            "only median/nanmedian default to 0.5")
        opts.q
    }
    val st = stats.getOrElse(keyStats(df, by))
    val tier = chooseQuantileTier(st, megaGroupRows)
    logDecision(s"reduce:$func", tier, st)
    tier match {
      case DistributedTier =>
        require(opts.expectedGroups.isEmpty && opts.fillValue.isEmpty &&
          opts.minCount == 0,
          s"reduceAuto($func) escalated to the distributed tier (max " +
            s"group ~${st.maxGroupRowsEst} rows > $megaGroupRows) but " +
            "expectedGroups/fillValue/minCount are set, which that tier " +
            "does not implement — left-join the expected domain over the " +
            "result yourself, or force the buffered tier via GroupByReduce")
        val isNan = func.startsWith("nan")
        require(!(isNan && opts.nanQuantileAllNaN),
          s"reduceAuto($func) escalated, but nanQuantileAllNaN is set: " +
            "the distributed tier's NaN-masked column cannot distinguish " +
            "an all-NaN group (NaN sentinel) from an all-null one — force " +
            "the buffered tier via GroupByReduce if every group fits one " +
            "task, or drop the flag")
        val fp = df.schema(value).dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => true
          case _ => false
        }
        val masked =
          if (isNan && fp)
            df.withColumn(value, when(!isnan(col(value)), col(value)))
          else df
        GroupByReduce.quantileDistributed(masked, by, value, qs, as,
          dropNullKeys = opts.dropNullKeys)
      case _ =>
        GroupByReduce(df, by, value, func, as, opts.copy(q = qs))
    }
  }

  /** Weighted exact quantile, tier chosen from the data — the fourth
    * manual fork ([[GroupByReduce.weighted]]'s buffered CDF walk vs
    * [[GroupByReduce.weightedQuantileDistributed]]'s run-compressed
    * prefix sum; the buffered path needed a 48 GB heap at the 60M/3-
    * group probe, the regime this exists to catch). Bit-equal tiers
    * (spec-pinned), so `auto` affects only the plan. */
  def weightedQuantileAuto(df: DataFrame, by: Seq[String], value: String,
                           weight: String, q: Seq[Double],
                           as: String = "result",
                           opts: ReduceOptions = ReduceOptions(),
                           megaGroupRows: Long = MegaGroupRows,
                           stats: Option[KeyStats] = None): DataFrame = {
    require(q.nonEmpty, "weightedQuantileAuto needs at least one quantile")
    val st = stats.getOrElse(keyStats(df, by))
    val tier = chooseQuantileTier(st, megaGroupRows)
    logDecision("weightedQuantile", tier, st)
    tier match {
      case DistributedTier =>
        GroupByReduce.weightedQuantileDistributed(df, by, value, weight, q,
          as, dropNullKeys = opts.dropNullKeys)
      case _ =>
        GroupByReduce.weighted(df, by, value, weight,
          Seq(("wquantile", as)), opts.copy(q = q))
    }
  }

  /** Grouped scan, tier chosen from the data: the window formulation
    * below [[MegaGroupRows]] max group size, the boundary-carry tier
    * above. Supported funcs in the carry tier: ffill, bfill (any
    * dtype); cummax/cummin/nancummax/nancummin (double natively;
    * plain cummax/cummin also escalate for other NUMERIC dtypes via
    * the registry's Comparable fold — boxed numeric compareTo IS
    * Spark's ordering, and the registered cummin fold NaN-poisons to
    * match the window tier); and any registered custom scan with a
    * declared fold (finish scans included — the carry tier joins the
    * whole-group aggregate back). Declined escalations stay on the
    * window tier at any size and the decision log names WHY (e.g.
    * "cast to double" for a non-double nancummin, or the non-ASCII
    * string-ordering divergence for string extrema — boxed UTF-16
    * compareTo is not Spark's UTF-8 binary order, so auto refuses
    * what an explicit GlobalScan.groupedCustomScan call may still
    * opt into). */
  def scanAuto(df: DataFrame, by: Seq[String], value: String,
               func: String, order: String, as: String = "result",
               megaGroupRows: Long = MegaGroupRows,
               stats: Option[KeyStats] = None): DataFrame = {
    val st = stats.getOrElse(keyStats(df, by))
    val tier = chooseScanTier(st, megaGroupRows)
    var decline: String = ""
    def declined(msg: String): Option[DataFrame => DataFrame] = {
      decline = s" ($msg)"; None
    }
    val numeric = df.schema(value).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val carry: Option[DataFrame => DataFrame] =
      if (tier != CarryTier) None
      else func match {
        case "ffill" =>
          Some(d => GlobalScan.groupedFfill(d, by, Seq(col(order)), value, as))
        case "bfill" =>
          Some(d => GlobalScan.groupedBfill(d, by, Seq(col(order)), value, as))
        case "cummax" if isDouble(df, value) =>
          Some(d => GlobalScan.groupedCumMax(d, by, Seq(col(order)), value, as))
        case "cummin" if isDouble(df, value) =>
          Some(d => GlobalScan.groupedCumMin(d, by, Seq(col(order)), value, as))
        case "nancummax" if isDouble(df, value) =>
          Some(d => GlobalScan.groupedNanCumMax(d, by, Seq(col(order)), value, as))
        case "nancummin" if isDouble(df, value) =>
          Some(d => GlobalScan.groupedNanCumMin(d, by, Seq(col(order)), value, as))
        case f @ ("nancummax" | "nancummin") =>
          declined(s"$f carry fold compares doubles; '$value' is " +
            s"${df.schema(value).dataType.simpleString} — cast to double " +
            "to unlock the carry tier")
        case f @ ("cummax" | "cummin") if numeric =>
          // registry Comparable fold: boxed numeric compareTo is
          // Spark's ordering (cummin's fold NaN-poisons for fp,
          // matching the window tier)
          Some(d => GlobalScan.groupedCustomScan(
            d, by, Seq(col(order)), value, as, f))
        case f @ ("cummax" | "cummin") =>
          declined(s"$f on ${df.schema(value).dataType.simpleString} " +
            "stays windowed: the carry fold's boxed compareTo is only " +
            "certified as Spark's ordering for numeric dtypes (strings " +
            "diverge on non-ASCII: UTF-16 vs UTF-8 binary order); opt " +
            "in explicitly via GlobalScan.groupedCustomScan if the " +
            "domain is safe")
        case other =>
          graft.aggs.CustomScans.lookup(other) match {
            case Some(spec) if spec.fold.isDefined =>
              Some(d => GlobalScan.groupedCustomScan(
                d, by, Seq(col(order)), value, as, other))
            case Some(_) =>
              declined(s"registered scan '$other' declares no " +
                "associative fold (ScanSpec.fold), so only the window " +
                "tier can run it")
            case None => None
          }
      }
    logDecision(s"scan:$func$decline",
      if (carry.isDefined) CarryTier else WindowTier, st)
    carry.map(_(df)).getOrElse(
      GroupByScan(df, by, value, func, order, as))
  }

  /** Trailing-range rolling aggregate, tier chosen from the data:
    * plain keyed window below [[HotKeyShare]] concentration; above it,
    * for an integral ts, the halo fold over (key, span block): one
    * exchange, bit-equal to the window on integral values (spec-pinned). */
  def rollingAggAuto(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, span: Long,
                     hotKeyShare: Double = HotKeyShare,
                     stats: Option[KeyStats] = None): DataFrame = {
    val st = stats.getOrElse(keyStats(df, Seq(keyCol)))
    val tier = chooseEventsTier(st, hotKeyShare)
    logDecision("rollingAgg", tier, st)
    if (tier == Skewed && span >= 1 && graft.ops.Events.isIntegral(
        df.schema(tsCol).dataType))
      graft.ops.Events.rollingAggSkewed(df, keyCol, tsCol, valueCol, span)
    else graft.ops.Events.rollingAgg(df, keyCol, tsCol, valueCol, span)
  }

  /** Block width for the skewed tiers when the caller does not pick
    * one: ts-range / 1024 (floored at `atLeast`). ANY positive span is
    * CORRECT (the skewed tiers are span-fuzzed bit-equal); the value
    * only trades carry-table size against in-block partition width,
    * and ~1024 blocks keeps both comfortable at any probe scale. One
    * tiny min/max aggregation. */
  def deriveSpan(df: DataFrame, tsCol: String, atLeast: Long = 1L): Long = {
    val r = df.agg(min(col(tsCol).cast("long")),
      max(col(tsCol).cast("long"))).head()
    if (r.isNullAt(0)) math.max(atLeast, 1L)
    else math.max(math.max(atLeast, 1L), (r.getLong(1) - r.getLong(0)) / 1024L)
  }

  /** As-of join, tier chosen from the RIGHT side's key concentration
    * (the side whose rows a hot key funnels through one task's sort;
    * both sides shuffle on the same keys, so either estimates the
    * skew — the right side is usually the bigger history table).
    * `span` is only consulted by the skewed tier (block width);
    * omitted, it derives from the right side's ts range
    * ([[deriveSpan]]). Ts columns should be non-null when escalation
    * is possible — the skewed tier's documented contract (null-ts
    * carry semantics don't decompose into time blocks); with null-free
    * ts the tiers are bit-equal (EventsSpec fuzz). */
  def asofJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, payload: Seq[String],
                   span: Option[Long] = None, prefix: String = "asof_",
                   direction: String = "backward",
                   tolerance: Option[Long] = None,
                   hotKeyShare: Double = HotKeyShare,
                   stats: Option[KeyStats] = None): DataFrame = {
    val st = stats.getOrElse(keyStats(right, keys))
    val tier = chooseEventsTier(st, hotKeyShare)
    logDecision("asofJoin", tier, st)
    if (tier == Skewed)
      graft.ops.Events.asofJoinSkewed(left, right, keys, leftTs, rightTs,
        payload, span.getOrElse(deriveSpan(right, rightTs)), prefix,
        direction, tolerance)
    else
      graft.ops.Events.asofJoin(left, right, keys, leftTs, rightTs,
        payload, prefix, direction, tolerance)
  }

  /** Gap sessionization, tier chosen from the data (same boundary);
    * an omitted `span` derives from the ts range, floored at `gap`
    * (blocks narrower than the gap would make every block boundary a
    * potential break — correct but carry-heavy). */
  def sessionizeAuto(df: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, gap: Long, span: Option[Long] = None,
                     hotKeyShare: Double = HotKeyShare,
                     stats: Option[KeyStats] = None): DataFrame = {
    val st = stats.getOrElse(keyStats(df, Seq(keyCol)))
    val tier = chooseEventsTier(st, hotKeyShare)
    logDecision("sessionize", tier, st)
    if (tier == Skewed)
      graft.ops.Events.sessionizeSkewed(df, keyCol, tsCol, tieCol, gap,
        span.getOrElse(deriveSpan(df, tsCol, atLeast = gap)))
    else graft.ops.Events.sessionize(df, keyCol, tsCol, tieCol, gap)
  }

  private def isDouble(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType == org.apache.spark.sql.types.DoubleType

  private def isNumeric(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
}
