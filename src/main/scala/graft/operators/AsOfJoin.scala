package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of join: for every left row, attach the most recent right row with
  * `rightTs <= leftTs` sharing the same keys.
  *
  * Spark has no built-in as-of join, and the naive formulation
  * (non-equi join + row_number) degenerates to a BroadcastNestedLoopJoin
  * or an exploding sort-merge at scale. Instead we union the two tagged
  * sides and take a running `last(non-null)` over a single
  * (keys, ts, side) sort: ONE shuffle on the keys, linear per partition,
  * sort-merge friendly, and skew behaves like any window over the same
  * keys. This is the standard large-scale formulation (a.k.a. the
  * "union + last_value" as-of pattern).
  *
  * Tie-breaking: right rows sort before left rows at equal timestamps,
  * so the match condition is inclusive (`rightTs <= leftTs`), matching
  * DuckDB/kdb ASOF JOIN semantics. NULL join keys never match (also the
  * DuckDB/kdb rule): null-keyed right rows are dropped before the
  * union, so a null-keyed left row finds no payload in its window
  * partition.
  */
object AsOfJoin {

  /** @param valueCols right-side columns to carry, as (rightCol -> outputName)
    * @param inner     drop left rows with no match (ASOF JOIN default);
    *                  false keeps them with null values (LEFT ASOF JOIN)
    */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String,
           valueCols: Seq[(String, String)], inner: Boolean = true): DataFrame = {
    val rSchema = right.schema
    val payloadType = StructType(valueCols.map { case (rc, out) =>
      StructField(out, rSchema(rc).dataType, nullable = true)
    })
    val leftCols = left.columns.toSeq

    val l2 = left.select(
      leftCols.map(col) ++ Seq(
        col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(null).cast(payloadType).as("__payload")): _*)
    // NULL keys never match: Window.partitionBy groups nulls together,
    // so without this filter a null-keyed left row would pick up
    // null-keyed right payloads.
    val rightKeyed = keys.foldLeft(right)((df, k) => df.filter(col(k).isNotNull))
    val r2 = rightKeyed.select(
      leftCols.map { c =>
        if (keys.contains(c)) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(
        col(rightTs).as("__ts"), lit(0).as("__side"),
        struct(valueCols.map { case (rc, out) => col(rc).as(out) }: _*).as("__payload")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = l2.unionByName(r2)
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)

    val filtered = if (inner) matched.filter(col("__match").isNotNull) else matched
    filtered.select(
      leftCols.map(col) ++ valueCols.map { case (_, out) =>
        col("__match").getField(out).as(out)
      }: _*)
  }

  /** NEAREST join (pandas merge_asof direction='nearest'): for every
    * left row, the right row minimizing |rightTs - leftTs| within the
    * same keys — the enrichment join when the reference stream
    * brackets the probe (sensor readings around an event, the closest
    * model checkpoint to a sample's timestamp).
    *
    * Same one-shuffle union discipline as [[asof]]: both TAGGED sides
    * sort once on (keys, ts, side, rightId); the backward candidate is
    * a running `last(payload)` and the forward candidate
    * `lead(payload, ignoreNulls)` over the SAME sort (one Window sort —
    * no second exchange, no inequality join; both are linear per
    * partition). Left rows carry a null payload, so for them the next
    * non-null payload is the first right row after them. Deterministic
    * everywhere: ties between equal distances go to the BACKWARD
    * candidate; among right rows at one timestamp the backward pick is
    * the max `rightId`, the forward pick the min (the sort order's
    * natural extremes — `rightId` must be unique per right row).
    *
    * `leftTs`/`rightTs` must be INTEGRAL epoch columns (millis/micros
    * — caller converts; exact int64 distance arithmetic, never
    * timestamp-interval subtraction that rounds). Emits the left
    * columns + `valueCols` + `delta` (= matched rightTs − leftTs,
    * signed). NULL keys never match (asof's rule). `inner` drops
    * left rows whose key partition holds no right row. */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String, rightId: String,
              valueCols: Seq[(String, String)], inner: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.LongType
    require(left.schema(leftTs).dataType == LongType &&
      right.schema(rightTs).dataType == LongType,
      "nearest needs integral (long) epoch ts columns — convert first")
    val rSchema = right.schema
    val payloadType = StructType(valueCols.map { case (rc, out) =>
      StructField(out, rSchema(rc).dataType, nullable = true)
    } :+ StructField("__rts", LongType, nullable = true)
      :+ StructField("__rid", rSchema(rightId).dataType, nullable = true))
    val leftCols = left.columns.toSeq

    val l2 = left.select(
      leftCols.map(col) ++ Seq(
        col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(null).cast(rSchema(rightId).dataType).as("__srid"),
        lit(null).cast(payloadType).as("__payload")): _*)
    val rightKeyed = keys.foldLeft(right)((df, k) => df.filter(col(k).isNotNull))
    val r2 = rightKeyed.select(
      leftCols.map { c =>
        if (keys.contains(c)) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(
        col(rightTs).as("__ts"), lit(0).as("__side"),
        col(rightId).as("__srid"),
        struct(valueCols.map { case (rc, out) => col(rc).as(out) } ++ Seq(
          col(rightTs).as("__rts"), col(rightId).as("__rid")): _*).as("__payload")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"), col("__srid"))
    val prev = last(col("__payload"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val next = lead(col("__payload"), 1, null, ignoreNulls = true).over(w)
    val matched = l2.unionByName(r2)
      .withColumn("__prev", prev)
      .withColumn("__next", next)
      .filter(col("__side") === 1)
      .withColumn("__match",
        when(col("__prev").isNull, col("__next"))
          .when(col("__next").isNull, col("__prev"))
          .when(col("__ts") - col("__prev.__rts")
            <= col("__next.__rts") - col("__ts"), col("__prev"))
          .otherwise(col("__next")))

    val filtered = if (inner) matched.filter(col("__match").isNotNull) else matched
    filtered.select(
      leftCols.map(col) ++ valueCols.map { case (_, out) =>
        col("__match").getField(out).as(out)
      } :+ (col("__match").getField("__rts") - col("__ts")).as("delta"): _*)
  }
}
