package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Linear interpolation over ordered gaps, matching the observable
  * semantics of the reference's pandas `DataFrame.interpolate()` call
  * (reference main.py:59, default `method='linear'`,
  * `limit_direction='forward'`):
  *
  *  - interior nulls are linearly interpolated between the nearest
  *    non-null neighbours, weighted by the order column;
  *  - leading nulls stay null;
  *  - trailing nulls are forward-filled with the last non-null value.
  *
  * Implementation: per value column, the nearest non-null value (and
  * its time) on each side, from two kinds of window function over ONE
  * partitioning/ordering, so Catalyst plans a single exchange + sort and
  * evaluates all of them in the same Window operator:
  *
  *  - the previous non-null value and its time: `last(.., ignoreNulls)`
  *    over the running frame (unboundedPreceding..currentRow), which
  *    Spark updates incrementally — O(1) per row;
  *  - the next non-null value and its time: `lead(.., ignoreNulls)`, a
  *    frameless offset function that Spark evaluates in one forward
  *    pass — O(1) amortised per row. It is only read where the current
  *    value is null, and there "first non-null strictly after" is the
  *    same row as "first non-null at or after".
  *
  * So the cost is linear in the partition length (an
  * `unboundedFollowing` frame here would be re-evaluated from every row
  * to the partition end: quadratic in the series length). No
  * driver-side collection; at 100 TB the cost is one exchange on the
  * partition keys, which any per-key ordered operator needs anyway.
  */
object Interpolation {

  /** Returns `df` with each of `valueCols` replaced by its interpolated
    * series (other columns untouched).
    *
    * @param partitionCols series identity (e.g. user, activity)
    * @param orderCol      numeric time axis (cast to double internally)
    * @param passthrough   rows where this predicate holds keep their RAW
    *                      value (cast to double) — lets interpolated and
    *                      non-interpolated series share one dataflow
    *                      (e.g. the R5 long-activity bypass) instead of
    *                      a filter-split + union that evaluates the
    *                      input subtree twice
    */
  def interpolate(df: DataFrame, partitionCols: Seq[String], orderCol: String,
                  valueCols: Seq[String],
                  passthrough: Option[Column] = None): DataFrame = {
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val before = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = col(orderCol).cast("double")
    val interpCols: Seq[Column] = valueCols.map { c =>
      val v = col(c).cast("double")
      val pv = last(v, ignoreNulls = true).over(before)
      val pt = last(when(v.isNotNull, t), ignoreNulls = true).over(before)
      val nv = lead(v, 1, null, ignoreNulls = true).over(base)
      val nt = lead(when(v.isNotNull, t), 1, null, ignoreNulls = true).over(base)
      val interp = when(v.isNotNull, v)
        .when(pv.isNull, lit(null).cast("double")) // leading nulls stay null
        .when(nv.isNull, pv)                       // trailing nulls: forward fill
        .otherwise(pv + (nv - pv) * (t - pt) / (nt - pt))
      passthrough.map(g => when(g, v).otherwise(interp)).getOrElse(interp).as(c)
    }
    val keep = df.columns.filterNot(valueCols.contains).map(col).toSeq
    df.select(keep ++ interpCols: _*)
  }
}
