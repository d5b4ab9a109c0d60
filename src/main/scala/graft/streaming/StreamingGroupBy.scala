package graft.streaming

import graft.aggs.{ReduceExprs, ReduceOptions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming face of the grouped-reduction engine.
  *
  * flox has no streaming surface, but its commutative chunk/combine
  * algebra is exactly what incremental aggregation needs (SURVEY.md §2:
  * "closest analog: incremental-friendly commutative combine algebra").
  * Spark's streaming hash aggregation maintains the same partial state
  * per (window, key) that flox keeps per chunk — so every algebraic
  * reduction in ReduceExprs works unchanged under `readStream`.
  *
  * Scale notes: state store size = #open-windows × #keys × buffer width;
  * the watermark bounds open windows, so memory is O(active keys), not
  * O(stream length). Order-dependent reductions (first/last/arg*) and
  * holistic ones (median/quantile/mode) need the idx/sort machinery and
  * are batch-only by design — the same restriction flox's blockwise-only
  * aggs have (flox/aggregations.py:670-712).
  */
object StreamingGroupBy {

  /** Funcs whose combine is commutative+associative -> streamable.
    * approx_nunique rides the mergeable HLL sketch (same reasoning as
    * the GK quantile sketch below) and topk its O(k) heap — the top-k
    * of a union is order-insensitive; exact nunique is NOT streamable —
    * its distinct-set state is unbounded. */
  val streamable: Set[String] = Set(
    "count", "sum", "nansum", "prod", "nanprod", "mean", "nanmean",
    "var", "nanvar", "std", "nanstd", "min", "nanmin", "max", "nanmax",
    "all", "any", "approx_nunique", "topk", "skew", "nanskew",
    "kurt", "nankurt")

  /** Quantile family: streamable ONLY through the mergeable GK sketch
    * (`ReduceOptions.approxQuantile`) — the exact path buffers a
    * window's whole value multiset in the state store, which is the
    * definition of unbounded streaming state. */
  val sketchable: Set[String] = Set(
    "median", "nanmedian", "quantile", "nanquantile")

  /** Event-time windowed grouped reduction over a (possibly streaming)
    * DataFrame: watermark + tumbling/sliding window + the same agg
    * expressions the batch path uses.
    */
  def windowedReduce(df: DataFrame, tsCol: String, by: Seq[String],
                     reductions: Seq[(String, String, String)], // (value, func, as)
                     windowDuration: String,
                     slideDuration: Option[String] = None,
                     watermarkDelay: String = "10 minutes",
                     opts: ReduceOptions = ReduceOptions()): DataFrame = {
    StreamingCheckpoints.install(df.sparkSession)
    reductions.foreach { case (_, func, _) =>
      require(streamable(func) || (sketchable(func) && opts.approxQuantile),
        s"'$func' is not incrementally computable; streamable: $streamable; " +
          s"with ReduceOptions(approxQuantile = true) also: $sketchable")
    }
    val win = slideDuration match {
      case Some(slide) => window(col(tsCol), windowDuration, slide)
      case None        => window(col(tsCol), windowDuration)
    }
    val aggCols = reductions.map { case (value, func, as) =>
      import org.apache.spark.sql.types._
      val dt = df.schema(value).dataType
      val fp = dt match {
        case DoubleType | FloatType => true
        case _                      => false
      }
      // same mv/integral dispatch as the batch GroupByReduce path (r13
      // review): without `integral`, a LongType nansum/prod silently
      // widened to double on the stream (coalesce fill lit(0.0), and
      // product() instead of the exact longProduct), so the streaming
      // face of the same reduction had a different result schema and
      // lost >2^53 exactness
      val mv = org.apache.spark.sql.catalyst.expressions.UnsafeRow
        .isMutable(dt)
      val integral = dt match {
        case ByteType | ShortType | IntegerType | LongType | BooleanType => true
        case _ => false
      }
      ReduceExprs(func, col(value), lit(0L), fp, opts, mv, integral).as(as)
    }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((win +: by.map(col)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }
}
