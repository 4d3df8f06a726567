package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The one trailing triangular rolling mean: [[push]] slides a value
  * in, [[mean]] reads the window. The window aggregate
  * [[TriangRollingKahan]] and the per-activity ETL kernel
  * [[ActivityPass]] both run it, so their rolling columns agree bit for
  * bit. State: a ring buffer of the last `n` values plus
  * Neumaier-compensated running sums of the three sliding pieces —
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

  private lazy val weightSum: Double =
    graft.operators.TriangularRolling.weights(n).sum

  /** Neumaier compensated add of `x` into sum `which` (0 = W, 1 = A,
    * 2 = B) and its compensation. */
  @inline private def kadd(which: Int, x: Double): Unit = {
    val (sv, cv) = which match {
      case 0 => (w, wc); case 1 => (a, ac); case _ => (b, bc)
    }
    val t = sv + x
    val nc = cv + (if (math.abs(sv) >= math.abs(x)) (sv - t) + x
                   else (x - t) + sv)
    which match {
      case 0 => w = t; wc = nc
      case 1 => a = t; ac = nc
      case _ => b = t; bc = nc
    }
  }

  /** NaN-sanitized value: poisoned entries ride the nan counter, not
    * the sums (a NaN inside W could never be subtracted back out). */
  @inline private def san(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Slides the next row's value into the window; null enters as NaN. */
  def push(x: Double): Unit = {
    val slot = (count % n).toInt // overwrites the leaver once full
    if (count >= n) {
      // previous window = positions 1..n; position p sits at ring
      // slot (count - n + p - 1) % n; the leaver (p=1) is `slot`.
      val o = ring(slot)
      // old position m+1 — the value crossing from falling to rising
      // as the window slides; at n=1 (m+1 > n) the arrival itself
      // enters the rising part directly
      val v = if (m < n) ring(((count - n + m) % n).toInt) else x
      val oS = san(o); val vS = san(v); val xS = san(x)
      val aVal = a + ac
      val bVal = b + bc
      if (n % 2 == 1) { // W' = W - A + B + x
        kadd(0, -aVal); kadd(0, bVal); kadd(0, xS)
      } else { // W' = W + o - 2A + 2B - 2v + x
        kadd(0, oS); kadd(0, -2.0 * aVal); kadd(0, 2.0 * bVal)
        kadd(0, -2.0 * vS); kadd(0, xS)
      }
      kadd(1, -oS); kadd(1, vS) // A' = A - o + v
      kadd(2, -vS); kadd(2, xS) // B' = B - v + x
      if (o.isNaN) nanIn -= 1
      if (x.isNaN) nanIn += 1
      ring(slot) = x
      count += 1
    } else {
      if (x.isNaN) nanIn += 1
      ring(slot) = x
      count += 1
      if (count == n) { // first full window: one exact O(n) pass
        w = 0.0; wc = 0.0; a = 0.0; ac = 0.0; b = 0.0; bc = 0.0
        val wts = graft.operators.TriangularRolling.weights(n)
        var p = 1
        while (p <= n) {
          val value = san(ring(p - 1)) // count==n: position p = slot p-1
          kadd(0, value * wts(p - 1))
          if (p <= m) kadd(1, value) else kadd(2, value)
          p += 1
        }
      }
    }
  }

  /** The triangular mean of the current window; NaN stands for null
    * (fewer than `n` rows so far, or a NaN/null inside the window). */
  def mean: Double =
    if (count < n || nanIn > 0) Double.NaN
    else (w + wc) / weightSum
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

  override def createAggregationBuffer(): TriangKahanState =
    new TriangKahanState(n)

  override def update(s: TriangKahanState, input: InternalRow): TriangKahanState = {
    val raw = child.eval(input)
    s.push(if (raw == null) Double.NaN else raw.asInstanceOf[Double])
    s
  }

  override def merge(b1: TriangKahanState, b2: TriangKahanState): TriangKahanState =
    if (b2.count == 0L) b1
    else if (b1.count == 0L) b2
    else throw new UnsupportedOperationException(
      "triang_rolling_kahan is a window-only kernel: a sliding window " +
        "has no partial-aggregation merge; use it over an ordered " +
        "running frame")

  override def eval(s: TriangKahanState): Any = {
    val mean = s.mean
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
