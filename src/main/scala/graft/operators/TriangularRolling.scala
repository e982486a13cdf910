package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Trailing triangular-weighted rolling mean, the one genuinely custom
  * aggregate in the reference (main.py:89,
  * `df.rolling(i, win_type='triang').mean()` for
  * i in {1,5,10,20,30,45,60,120,300,600,1200}). Pinned pandas semantics:
  *
  *  - trailing window of exactly `n` rows;
  *  - symmetric triangular weights (scipy.signal.windows.triang);
  *  - null until `n` rows exist (min_periods defaults to the window);
  *  - a null anywhere inside a full window poisons the result (weighted
  *    kernels do not skip NaNs).
  *
  * Strategy: collect the frame into an array — nulls encoded as NaN so
  * they survive `collect_list` (which drops nulls) AND poison the dot
  * product, exactly the pandas behaviour — then fold a weighted dot
  * product with codegen'd higher-order functions (`zip_with` +
  * `aggregate`). No UDFs, no custom nodes; everything stays inside
  * whole-stage codegen except the Window exchange itself.
  *
  * Scale: O(n) state per row with n <= 1200 in the reference; windows
  * are per-activity/per-user partitions, so executor memory stays
  * bounded and the only shuffle is the Window partitioning (shared by
  * all 33 rolling columns — Catalyst evaluates every frame over one
  * sort). That O(n) fold is the reference formulation the tests compare
  * against; the pipeline and the a5 gate use the O(1)-per-row ring
  * kernel ([[triangMeanKahan]], [[triangMeansFast]]).
  */
object TriangularRolling {

  /** Unnormalized scipy.signal.windows.triang weights.
    * odd n:  1, 2, ..., (n+1)/2, ..., 2, 1
    * even n: 1, 3, ..., n-1, n-1, ..., 3, 1
    */
  def weights(n: Int): Seq[Double] = {
    require(n >= 1)
    if (n % 2 == 1) (0 until n).map(k => math.min(k + 1, n - k).toDouble)
    else (0 until n).map(k => 2.0 * math.min(k, n - 1 - k) + 1.0)
  }

  /** Triangular rolling mean of `value` over the trailing `n` rows of
    * window spec `w` (which must carry partitionBy + orderBy).
    *
    * O(n) per row (collects the frame). Exact reference formulation —
    * use [[triangMeansFast]] for large windows / many windows at once.
    */
  def triangMean(value: Column, w: WindowSpec, n: Int): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    val arr = collect_list(coalesce(value.cast("double"), lit(Double.NaN))).over(frame)
    val wts = array(weights(n).map(lit): _*)
    val dot = aggregate(zip_with(arr, wts, (x, wt) => x * wt), lit(0.0), (acc, x) => acc + x)
    val mean = dot / lit(weights(n).sum)
    when(size(arr) === n && !isnan(mean), mean)
  }

  /** The O(1)-per-row kernel, exact-class: the trailing
    * triangular mean as a custom window aggregate
    * ([[graft.functions.TriangRollingKahan]]) over the RUNNING frame,
    * whose state is a ring buffer of the last `n` values with
    * Neumaier-compensated sliding sums. Same pinned pandas semantics
    * as [[triangMean]] (null until `n` rows; NaN/null poisons while
    * inside the window), bit-EQUAL to it on integer-valued inputs
    * (every update exact below 2^53 — the a5 gate discipline) and
    * ulp-class on floats with NO dependence on partition length
    * (every running quantity is window-local, so nothing cancels
    * against a partition-sized running sum).
    * All (channel, window) columns over the same `w` share ONE
    * partition sort/exchange, like every other frame. */
  def triangMeanKahan(value: Column, w: WindowSpec, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.TriangRollingKahan(
        Bridge.expression(value.cast("double")), n).toAggregateExpression())
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  /** Trailing triangular means for every (channel, window) pair: one
    * [[triangMeanKahan]] column `s"${outPrefix}_${ch}_${n}"` each, all
    * over one window spec, so every output column shares ONE partition
    * sort/exchange. Returns `df` plus those columns. */
  def triangMeansFast(df: DataFrame, partitionCols: Seq[String],
                      orderCols: Seq[String], channels: Seq[String],
                      ns: Seq[Int], outPrefix: String = "tri"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val outCols = for { ch <- channels; n <- ns }
      yield triangMeanKahan(col(ch), w, n).as(s"${outPrefix}_${ch}_$n")
    df.select(df.columns.map(col).toSeq ++ outCols: _*)
  }
}
