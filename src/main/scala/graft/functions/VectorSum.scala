package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise sum of an `array<double>` column with per-position
  * counts, as a native `TypedImperativeAggregate` in the
  * [[GramianAgg]] flat-buffer form — the Lloyd update of
  * [[graft.operators.Ann]]'s k-means without a (vec, pos) explode.
  *
  * The buffer is `[S_0..S_{L-1}, N_0..N_{L-1}]`: L is the longest array
  * seen so far (the buffer grows on a longer row), S_i sums element i
  * and N_i counts the rows that have a non-null element i. So
  * `S_i / N_i` is `avg(v)` over the rows exploded to (pos, v) and
  * grouped by pos — the same ragged-length semantics, and the same
  * final division. Null rows and null elements are skipped. Counts are
  * held as doubles, exact below 2^53.
  *
  * Result: `struct<sum: array<double>, n: array<bigint>>`, both arrays
  * of length L (empty when no row contributed).
  */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Double] = new Array[Double](0)

  /** `buf` widened to length `len` (sums and counts both padded). */
  private def widen(buf: Array[Double], len: Int): Array[Double] = {
    val old = buf.length / 2
    if (len <= old) buf
    else {
      val out = new Array[Double](2 * len)
      System.arraycopy(buf, 0, out, 0, old)
      System.arraycopy(buf, old, out, len, old)
      out
    }
  }

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val b = widen(buf, arr.numElements())
      val len = b.length / 2
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          b(i) += arr.getDouble(i)
          b(len + i) += 1.0
        }
        i += 1
      }
      b
    }
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    val b = widen(b1, b2.length / 2)
    val len = b.length / 2
    val len2 = b2.length / 2
    var i = 0
    while (i < len2) {
      b(i) += b2(i)
      b(len + i) += b2(len2 + i)
      i += 1
    }
    b
  }

  override def eval(buf: Array[Double]): Any = {
    val len = buf.length / 2
    InternalRow(
      new GenericArrayData(java.util.Arrays.copyOf(buf, len)),
      new GenericArrayData(Array.tabulate(len)(i => buf(len + i).toLong)))
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble())
  }

  override def dataType: DataType = StructType(Seq(
    StructField("sum", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("n", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): VectorSumAgg =
    copy(child = newChild)

  override def prettyName: String = "vector_sum"
}

object VectorSum {

  /** Element-wise sum and per-position count of an array column (see
    * [[VectorSumAgg]]). */
  def sum(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(VectorSumAgg(Bridge.expression(c.cast("array<double>")))
      .toAggregateExpression())
  }
}
