package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Sliding-window state for [[TriangRollingKahan]]: a ring buffer of
  * the last `n` values plus Neumaier-compensated running sums of the
  * three sliding pieces —
  *
  *   W = the triangular-WEIGHTED window sum,
  *   A = the plain sum of the window's RISING half (positions 1..m),
  *   B = the plain sum of its FALLING half (positions m+1..n)
  *
  * — which close under the slide recurrence: when the window moves one
  * row (leaver `o`, old-position-(m+1) value `v`, arrival `x`), every
  * remaining rising element's weight drops by the ramp step and every
  * falling element's rises by it, so
  *
  *   odd n:   W' = W − A + B + x
  *   even n:  W' = W + o − 2A + 2B − 2v + x   (flat two-row peak:
  *            the m+1 → m move is weight-neutral)
  *   both:    A' = A − o + v,   B' = B − v + x
  *
  * O(1) per row, O(n) state, zero difference-of-prefix cancellation:
  * unlike a prefix-sum kernel (whose sums grow with the PARTITION and
  * cancel to window-sized results), every quantity here is window-
  * local. Each accumulation is Neumaier-compensated, so float drift
  * over a long partition stays at the ulp of the window magnitude; on
  * integer-valued inputs (|sums| < 2^53, the a5 gate discipline) every
  * update is exact and the kernel is BIT-EQUAL to a fresh weighted
  * fold. NaN (and null, which enters as NaN — pandas' rule) poisons
  * results while inside the window via a counter, never the sums
  * (poisoned values sum as 0 and count separately, so the state
  * recovers the moment the NaN slides out — a NaN in W itself would
  * never subtract away). */
final class TriangKahanState(val n: Int) {
  val m: Int = (n + 1) / 2 // ramp length (odd: peak; even: rising half)
  val ring = new Array[Double](n)
  var count = 0L // rows seen this partition
  var nanIn = 0 // NaN values inside the current window
  // Neumaier pairs (sum, compensation)
  var w = 0.0; var wc = 0.0
  var a = 0.0; var ac = 0.0
  var b = 0.0; var bc = 0.0
}

/** Trailing triangular-weighted rolling MEAN over the last `n` rows as
  * a window aggregate for the RUNNING frame (UnboundedPreceding ..
  * CurrentRow — the one frame Spark's window operator feeds with a
  * single O(1) update per row; a sliding frame would replay the whole
  * buffer per row). The sliding semantics live in the state's ring
  * buffer ([[TriangKahanState]]); null until `n` rows exist and while
  * any NaN/null sits inside the window — pinned pandas
  * `rolling(n, win_type='triang').mean()` semantics, identical to
  * [[graft.operators.TriangularRolling.triangMean]] (reference
  * main.py:89), which remains the O(n)-per-row spec twin this kernel
  * is bit-tested against. WINDOW-ONLY: merge (partial aggregation)
  * has no sliding meaning and throws. */
case class TriangRollingKahan(
    child: Expression,
    n: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TriangKahanState]
  with UnaryLike[Expression] {

  require(n >= 1, s"window must be >= 1 (got $n)")

  private val weightSum: Double =
    graft.operators.TriangularRolling.weights(n).sum

  override def createAggregationBuffer(): TriangKahanState =
    new TriangKahanState(n)

  /** Neumaier compensated add of `x` into (s._1 = sum, s._2 = comp). */
  @inline private def kadd(s: TriangKahanState, which: Int, x: Double): Unit = {
    val (sv, cv) = which match {
      case 0 => (s.w, s.wc); case 1 => (s.a, s.ac); case _ => (s.b, s.bc)
    }
    val t = sv + x
    val nc = cv + (if (math.abs(sv) >= math.abs(x)) (sv - t) + x
                   else (x - t) + sv)
    which match {
      case 0 => s.w = t; s.wc = nc
      case 1 => s.a = t; s.ac = nc
      case _ => s.b = t; s.bc = nc
    }
  }

  /** NaN-sanitized value: poisoned entries ride the nan counter, not
    * the sums (a NaN inside W could never be subtracted back out). */
  @inline private def san(x: Double): Double = if (x.isNaN) 0.0 else x

  override def update(s: TriangKahanState, input: InternalRow): TriangKahanState = {
    val raw = child.eval(input)
    val x = if (raw == null) Double.NaN else raw.asInstanceOf[Double]
    val slot = (s.count % n).toInt // overwrites the leaver once full
    if (s.count >= n) {
      // previous window = positions 1..n; position p sits at ring
      // slot (count - n + p - 1) % n; the leaver (p=1) is `slot`.
      val o = s.ring(slot)
      // old position m+1 — the value crossing from falling to rising
      // as the window slides; at n=1 (m+1 > n) the arrival itself
      // enters the rising part directly
      val v = if (s.m < n) s.ring(((s.count - n + s.m) % n).toInt) else x
      val oS = san(o); val vS = san(v); val xS = san(x)
      val aVal = s.a + s.ac
      val bVal = s.b + s.bc
      if (n % 2 == 1) { // W' = W - A + B + x
        kadd(s, 0, -aVal); kadd(s, 0, bVal); kadd(s, 0, xS)
      } else { // W' = W + o - 2A + 2B - 2v + x
        kadd(s, 0, oS); kadd(s, 0, -2.0 * aVal); kadd(s, 0, 2.0 * bVal)
        kadd(s, 0, -2.0 * vS); kadd(s, 0, xS)
      }
      kadd(s, 1, -oS); kadd(s, 1, vS) // A' = A - o + v
      kadd(s, 2, -vS); kadd(s, 2, xS) // B' = B - v + x
      if (o.isNaN) s.nanIn -= 1
      if (x.isNaN) s.nanIn += 1
      s.ring(slot) = x
      s.count += 1
    } else {
      if (x.isNaN) s.nanIn += 1
      s.ring(slot) = x
      s.count += 1
      if (s.count == n) { // first full window: one exact O(n) pass
        s.w = 0.0; s.wc = 0.0; s.a = 0.0; s.ac = 0.0; s.b = 0.0; s.bc = 0.0
        val wts = graft.operators.TriangularRolling.weights(n)
        var p = 1
        while (p <= n) {
          val value = san(s.ring(p - 1)) // count==n: position p = slot p-1
          kadd(s, 0, value * wts(p - 1))
          if (p <= s.m) kadd(s, 1, value) else kadd(s, 2, value)
          p += 1
        }
      }
    }
    s
  }

  override def merge(b1: TriangKahanState, b2: TriangKahanState): TriangKahanState =
    if (b2.count == 0L) b1
    else if (b1.count == 0L) b2
    else throw new UnsupportedOperationException(
      "triang_rolling_kahan is a window-only kernel: a sliding window " +
        "has no partial-aggregation merge; use it over an ordered " +
        "running frame")

  override def eval(s: TriangKahanState): Any =
    if (s.count < n || s.nanIn > 0) null
    else {
      val mean = (s.w + s.wc) / weightSum
      if (mean.isNaN) null else mean
    }

  override def serialize(s: TriangKahanState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(s.n); out.writeLong(s.count); out.writeInt(s.nanIn)
    out.writeDouble(s.w); out.writeDouble(s.wc)
    out.writeDouble(s.a); out.writeDouble(s.ac)
    out.writeDouble(s.b); out.writeDouble(s.bc)
    s.ring.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TriangKahanState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new TriangKahanState(in.readInt())
    s.count = in.readLong(); s.nanIn = in.readInt()
    s.w = in.readDouble(); s.wc = in.readDouble()
    s.a = in.readDouble(); s.ac = in.readDouble()
    s.b = in.readDouble(); s.bc = in.readDouble()
    var i = 0
    while (i < s.n) { s.ring(i) = in.readDouble(); i += 1 }
    s
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def withNewMutableAggBufferOffset(newOffset: Int): TriangRollingKahan =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TriangRollingKahan =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TriangRollingKahan =
    copy(child = newChild)
  override def prettyName: String = "triang_rolling_kahan"
}
