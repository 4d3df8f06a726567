package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `Interpolation.interpolate` and `AsOfJoin.nearest` find the next
  * non-null value with `lead(.., ignoreNulls)`. These specs keep the
  * earlier formulation — `first(.., ignoreNulls)` over a
  * currentRow..unboundedFollowing frame, quadratic per partition — as
  * the reference and require the two to agree row for row, with exact
  * `==` on doubles (no tolerance), on seeded random inputs. */
class NextNonNullEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The two-frame interpolation, as it was before `lead`. */
  private def interpolateTwoFrames(df: DataFrame, partitionCols: Seq[String],
                                   orderCol: String, valueCols: Seq[String],
                                   passthrough: Option[Column]): DataFrame = {
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val before = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val t = col(orderCol).cast("double")
    val interpCols = valueCols.map { c =>
      val v = col(c).cast("double")
      val pv = last(v, ignoreNulls = true).over(before)
      val pt = last(when(v.isNotNull, t), ignoreNulls = true).over(before)
      val nv = first(v, ignoreNulls = true).over(after)
      val nt = first(when(v.isNotNull, t), ignoreNulls = true).over(after)
      val interp = when(v.isNotNull, v)
        .when(pv.isNull, lit(null).cast("double"))
        .when(nv.isNull, pv)
        .otherwise(pv + (nv - pv) * (t - pt) / (nt - pt))
      passthrough.map(g => when(g, v).otherwise(interp)).getOrElse(interp).as(c)
    }
    val keep = df.columns.filterNot(valueCols.contains).map(col).toSeq
    df.select(keep ++ interpCols: _*)
  }

  /** Seeded series: partitions of 1..120 rows (several single-row ones),
    * time steps of 1..9, null runs at the start, inside and at the end,
    * channel `c` null everywhere, and a passthrough flag on some
    * partitions. */
  private def series(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val schema = StructType.fromDDL(
      "k BIGINT, t BIGINT, bp BOOLEAN, a DOUBLE, b DOUBLE, c DOUBLE, n BIGINT")
    val rows = (0L until 40L).flatMap { k =>
      val len = if (k % 7 == 0) 1 else 2 + rnd.nextInt(119)
      val bypass = k % 5 == 3
      val head = rnd.nextInt(4)
      val tail = rnd.nextInt(4)
      var t = rnd.nextInt(3).toLong
      (0 until len).map { i =>
        t += 1 + rnd.nextInt(9)
        val edge = i < head || i >= len - tail
        def value(pNull: Double): Option[Double] =
          if (edge || rnd.nextDouble() < pNull) None
          else Some(rnd.nextGaussian() * 100)
        Row(k, t, bypass, value(0.4).getOrElse(null), value(0.8).getOrElse(null),
          null, value(0.5).map(d => math.round(d)).getOrElse(null))
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, order: Seq[String]): Unit = {
    val g = got.orderBy(order.map(col): _*).collect()
    val w = want.select(got.columns.map(col): _*).orderBy(order.map(col): _*).collect()
    assert(g.length == w.length)
    g.zip(w).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i: lead form $x, frame form $y")
    }
  }

  test("interpolate equals the two-frame formulation exactly") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val df = series(seed)
      val vals = Seq("a", "b", "c", "n")
      assertSameRows(
        Interpolation.interpolate(df, Seq("k"), "t", vals, Some(col("bp"))),
        interpolateTwoFrames(df, Seq("k"), "t", vals, Some(col("bp"))),
        Seq("k", "t"))
      assertSameRows(
        Interpolation.interpolate(df, Seq("k"), "t", vals),
        interpolateTwoFrames(df, Seq("k"), "t", vals, None),
        Seq("k", "t"))
    }
  }

  /** `AsOfJoin.nearest` with its forward candidate taken from the
    * currentRow..unboundedFollowing frame, as it was before `lead`. */
  private def nearestTwoFrames(left: DataFrame, right: DataFrame, keys: Seq[String],
                               leftTs: String, rightTs: String, rightId: String,
                               valueCols: Seq[(String, String)], inner: Boolean): DataFrame = {
    val rSchema = right.schema
    val payloadType = StructType(valueCols.map { case (rc, out) =>
      StructField(out, rSchema(rc).dataType, nullable = true)
    } :+ StructField("__rts", LongType, nullable = true)
      :+ StructField("__rid", rSchema(rightId).dataType, nullable = true))
    val leftCols = left.columns.toSeq
    val l2 = left.select(leftCols.map(col) ++ Seq(
      col(leftTs).as("__ts"), lit(1).as("__side"),
      lit(null).cast(rSchema(rightId).dataType).as("__srid"),
      lit(null).cast(payloadType).as("__payload")): _*)
    val r2 = keys.foldLeft(right)((df, k) => df.filter(col(k).isNotNull)).select(
      leftCols.map { c =>
        if (keys.contains(c)) col(c) else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(
        col(rightTs).as("__ts"), lit(0).as("__side"), col(rightId).as("__srid"),
        struct(valueCols.map { case (rc, out) => col(rc).as(out) } ++ Seq(
          col(rightTs).as("__rts"), col(rightId).as("__rid")): _*).as("__payload")): _*)
    val order = Seq(col("__ts"), col("__side"), col("__srid"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val matched = l2.unionByName(r2)
      .withColumn("__prev", last(col("__payload"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", first(col("__payload"), ignoreNulls = true)
        .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("__side") === 1)
      .withColumn("__match",
        when(col("__prev").isNull, col("__next"))
          .when(col("__next").isNull, col("__prev"))
          .when(col("__ts") - col("__prev.__rts")
            <= col("__next.__rts") - col("__ts"), col("__prev"))
          .otherwise(col("__next")))
    val filtered = if (inner) matched.filter(col("__match").isNotNull) else matched
    filtered.select(leftCols.map(col) ++ valueCols.map { case (_, out) =>
      col("__match").getField(out).as(out)
    } :+ (col("__match").getField("__rts") - col("__ts")).as("delta"): _*)
  }

  test("nearest equals the two-frame formulation exactly") {
    val rnd = new Random(21L)
    // lefts on keys 0..5 and null, rights on 0..4 and null (key 5 has
    // no right row); timestamps on a coarse grid so equal-ts rights,
    // rights at a left's ts and equal distances all occur
    def key(i: Int, keys: Int): java.lang.Long =
      if (i % 11 == 0) null else java.lang.Long.valueOf(i % keys)
    val left = spark.createDataFrame(java.util.Arrays.asList((0 until 300).map { i =>
      Row(key(i, 6), i.toLong, (rnd.nextInt(200) * 5).toLong, rnd.nextGaussian())
    }: _*), StructType.fromDDL("k BIGINT, lid BIGINT, lts BIGINT, x DOUBLE"))
    val right = spark.createDataFrame(java.util.Arrays.asList((0 until 200).map { j =>
      Row(key(j + 1, 5), 1000L + j, (rnd.nextInt(100) * 10).toLong,
        if (j % 9 == 0) null else rnd.nextGaussian())
    }: _*), StructType.fromDDL("k BIGINT, rid BIGINT, rts BIGINT, y DOUBLE"))
    val vals = Seq("rid" -> "match_id", "y" -> "y")
    Seq(true, false).foreach { inner =>
      assertSameRows(
        AsOfJoin.nearest(left, right, Seq("k"), "lts", "rts", "rid", vals, inner),
        nearestTwoFrames(left, right, Seq("k"), "lts", "rts", "rid", vals, inner),
        Seq("lid"))
    }
  }
}
