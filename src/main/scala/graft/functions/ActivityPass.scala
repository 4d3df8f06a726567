package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, InterpretedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The per-activity body of the reference ETL as ONE in-row pass over
  * an activity's collected samples — the [[GreedyChangepoints]] shape
  * (groupBy key + collect_list, then one expression per key) applied to
  * densify -> interpolate -> triangular rolling maxima -> nesting, which
  * as a window chain cost three Window operators, a Generate, ~100
  * window functions to plan and one task to run.
  *
  * Input: `samples` = array<struct<time: bigint, c1..ck: double,
  * label: string>>, `bypass` = the activity's R5 flag. Output:
  * struct<streams: array<struct<c1..ck, label, time>>, maxima:
  * array<double>>, one linear walk per stage:
  *
  *  - order: samples with a null time drop out; the rest are ordered by
  *    time, ties by the whole sample struct with `array_sort`'s ordering
  *    (nulls first, NaN largest). Samples equal under that ordering
  *    keep their collected order.
  *  - densify (R2/R3): each sample fills its own gap, times
  *    [prev + 1, time] (the first from min(0, time)), with null
  *    channels and label on the generated rows. A bypass activity
  *    (flag true) keeps its samples as they are.
  *  - interpolate (R4): the next non-null value per channel comes from
  *    one backward sweep; a null between neighbours (pv, pt) and
  *    (nv, nt) becomes `pv + (nv - pv) * (t - pt) / (nt - pt)` on
  *    doubles — the IEEE expression of
  *    [[graft.operators.Interpolation.interpolate]], including its null
  *    (ANSI: error) on a zero denominator. Leading nulls stay null,
  *    trailing nulls take the last value. Bypass samples stay raw.
  *  - roll (A3/A4/P8): for each channel in `rolled` and each window in
  *    `windows`, the maximum over the dense rows of the trailing
  *    triangular mean, run by [[TriangKahanState]] (the same code as the
  *    [[TriangRollingKahan]] window aggregate). One maxima set per entry
  *    of `legacySets`, laid out [set][channel][window]: a legacy set is
  *    null for every window of a channel with any null after
  *    interpolation; negative maxima become null; an activity whose
  *    flag is not false (bypass, or unknown) has null maxima.
  *
  * Memory per activity: the collected samples plus the dense output,
  * the size of the nested `streams` array the activity produces. */
case class ActivityPass(samples: Expression, bypass: Expression,
                        rolled: Seq[Int], windows: Seq[Int],
                        legacySets: Seq[Boolean],
                        failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(samples, bypass)

  override def nullable: Boolean = true

  private def sampleType: StructType =
    samples.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def dataType: DataType = StructType(Seq(
    StructField("streams", ArrayType(StructType(
      (sampleType.fields.tail :+ sampleType.head).map(_.copy(nullable = true))),
      containsNull = false)),
    StructField("maxima", ArrayType(DoubleType, containsNull = true))))

  @transient private lazy val byTime: java.util.Comparator[InternalRow] = {
    val tieOrder = InterpretedOrdering.forSchema(sampleType.map(_.dataType))
    (x, y) => {
      val c = java.lang.Long.compare(x.getLong(0), y.getLong(0))
      if (c != 0) c else tieOrder.compare(x, y)
    }
  }

  override def eval(input: InternalRow): Any = {
    val arr = samples.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return null
    val flag = bypass.eval(input)
    val raw = flag == true
    val width = sampleType.length
    val nCh = width - 2
    val label = width - 1

    val found = new Array[InternalRow](arr.numElements())
    var ns = 0
    var i = 0
    while (i < found.length) {
      val r = arr.getStruct(i, width)
      if (r != null && !r.isNullAt(0)) { found(ns) = r; ns += 1 }
      i += 1
    }
    val rows = java.util.Arrays.copyOf(found, ns)
    java.util.Arrays.sort(rows, byTime)

    // dense spine: row j is sample src(j), or a gap row (src -1)
    def fillFrom(k: Int): Long = {
      val t = rows(k).getLong(0)
      if (raw) t else math.min(if (k == 0) 0L else rows(k - 1).getLong(0) + 1, t)
    }
    var dense = 0L
    i = 0
    while (i < ns) { dense += rows(i).getLong(0) - fillFrom(i) + 1; i += 1 }
    require(dense <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"activity_pass: $dense dense rows exceed the array limit")
    val dn = dense.toInt
    val times = new Array[Long](dn)
    val src = new Array[Int](dn)
    var j = 0
    i = 0
    while (i < ns) {
      var t = fillFrom(i)
      val end = rows(i).getLong(0)
      while (t < end) { times(j) = t; src(j) = -1; j += 1; t += 1 }
      times(j) = end; src(j) = i; j += 1
      i += 1
    }

    // interpolate every channel; nulls are flagged, values kept apart
    val vals = Array.ofDim[Double](nCh, dn)
    val isNull = Array.ofDim[Boolean](nCh, dn)
    val next = new Array[Int](dn)
    var c = 0
    while (c < nCh) {
      val f = c + 1
      val v = vals(c)
      val nul = isNull(c)
      def present(k: Int): Boolean = src(k) >= 0 && !rows(src(k)).isNullAt(f)
      def value(k: Int): Double = rows(src(k)).getDouble(f)
      var nx = -1
      j = dn - 1
      while (j >= 0) { next(j) = nx; if (present(j)) nx = j; j -= 1 }
      var prev = -1
      j = 0
      while (j < dn) {
        if (present(j)) { v(j) = value(j); prev = j }
        else if (raw || prev < 0) nul(j) = true
        else if (next(j) < 0) v(j) = v(prev)
        else {
          val pv = v(prev); val pt = times(prev).toDouble
          val nv = value(next(j)); val nt = times(next(j)).toDouble
          val t = times(j).toDouble
          if (nt - pt == 0.0) {
            if (failOnError) throw Bridge.divideByZeroError()
            nul(j) = true
          } else v(j) = pv + (nv - pv) * (t - pt) / (nt - pt)
        }
        j += 1
      }
      c += 1
    }

    val streams = new Array[Any](dn)
    j = 0
    while (j < dn) {
      val e = new Array[Any](nCh + 2)
      c = 0
      while (c < nCh) { if (!isNull(c)(j)) e(c) = vals(c)(j); c += 1 }
      if (src(j) >= 0 && !rows(src(j)).isNullAt(label))
        e(nCh) = rows(src(j)).getUTF8String(label).clone()
      e(nCh + 1) = times(j)
      streams(j) = new GenericInternalRow(e)
      j += 1
    }

    // rolling maxima, shared by every set; NaN stands for null
    val nw = windows.length
    val best = Array.fill(rolled.length * nw)(Double.NaN)
    if (flag == false) {
      for (r <- rolled.indices; w <- 0 until nw if windows(w) <= dn) {
        val x = vals(rolled(r))
        val xNull = isNull(rolled(r))
        val st = new TriangKahanState(windows(w))
        var top = Double.NaN
        j = 0
        while (j < dn) {
          st.push(if (xNull(j)) Double.NaN else x(j))
          val m = st.mean
          if (!m.isNaN && (top.isNaN || m > top)) top = m
          j += 1
        }
        best(r * nw + w) = top
      }
    }
    val poisoned = rolled.map(ch => isNull(ch).contains(true))
    val maxima = for {
      legacy <- legacySets
      r <- rolled.indices
      w <- 0 until nw
    } yield {
      val m = best(r * nw + w)
      if (m.isNaN || m < 0 || (legacy && poisoned(r))) null else m
    }
    InternalRow(new GenericArrayData(streams), new GenericArrayData(maxima))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ActivityPass =
    copy(samples = newChildren(0), bypass = newChildren(1))

  override def prettyName: String = "activity_pass"
}

object ActivityPass {
  /** Column form; see the class doc for the input and output shapes. */
  def of(samples: Column, bypass: Column, rolled: Seq[Int], windows: Seq[Int],
         legacySets: Seq[Boolean]): Column =
    Bridge.column(ActivityPass(Bridge.expression(samples),
      Bridge.expression(bypass), rolled, windows, legacySets))
}
