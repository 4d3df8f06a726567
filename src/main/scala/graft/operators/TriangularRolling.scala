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
  * Two kernels with those semantics:
  *
  *  - [[triangMean]] is the O(n)-per-row spec twin: it collects the
  *    frame (nulls as NaN, so they survive `collect_list` and poison
  *    the dot product) and folds the weighted sum with codegen'd
  *    higher-order functions.
  *  - [[triangMeanKahan]] / [[triangMeansFast]] are the production
  *    kernel: the custom window aggregate
  *    [[graft.functions.TriangRollingKahan]] over the running frame,
  *    O(1) per row with a ring buffer and Neumaier-compensated sliding
  *    sums, so its cost does not depend on the window length and its
  *    error does not grow with the partition length.
  *
  * All (channel, window) columns over one window spec share one
  * partition exchange, one sort and one Window operator.
  *
  * The ETL pipeline rolls inside [[graft.functions.ActivityPass]],
  * which runs the same [[graft.functions.TriangKahanState]]; these
  * operators serve the a3/a4/a5 gates and are the reference the
  * ActivityPass equivalence spec compares against.
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
    * O(n) per row (collects the frame). Exact reference formulation,
    * kept as the spec twin; use [[triangMeansFast]] in pipelines.
    */
  def triangMean(value: Column, w: WindowSpec, n: Int): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    val arr = collect_list(coalesce(value.cast("double"), lit(Double.NaN))).over(frame)
    val wts = array(weights(n).map(lit): _*)
    val dot = aggregate(zip_with(arr, wts, (x, wt) => x * wt), lit(0.0), (acc, x) => acc + x)
    val mean = dot / lit(weights(n).sum)
    when(size(arr) === n && !isnan(mean), mean)
  }

  /** O(1)-per-row trailing triangular mean: the custom window aggregate
    * [[graft.functions.TriangRollingKahan]] over the running frame, whose
    * state is a ring buffer of the last `n` values with
    * Neumaier-compensated sliding sums. Same pinned pandas semantics as
    * [[triangMean]]; bit-equal to it on integer-valued inputs (every
    * update is exact below 2^53, the a5 gate discipline) and ulp-class
    * on floats, independent of the partition length (every running
    * quantity is window-local). */
  def triangMeanKahan(value: Column, w: WindowSpec, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.TriangRollingKahan(
        Bridge.expression(value.cast("double")), n).toAggregateExpression())
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  /** [[triangMeanKahan]] for every (channel, window) pair: returns
    * `df` plus a column `s"${outPrefix}_${ch}_${n}"` for each, all
    * evaluated by one Window operator over one partition sort. */
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
