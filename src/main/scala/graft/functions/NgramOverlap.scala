package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the overlap of the distinct
  * character `n`-gram sets of two texts: `struct<inter, union>`, the
  * sizes of the intersection and the union — the one kernel behind
  * exact n-gram Jaccard verification ([[graft.operators.Dedup
  * .ngramJaccard]]).
  *
  * A gram is `n` consecutive code points, sliced the way Spark's
  * `substr`/`length` slice them (`UTF8String.numBytesForFirstByte`: a
  * byte that cannot start a UTF-8 sequence counts as one character),
  * so the sets equal `array_distinct(transform(sequence(1, length(t) -
  * n + 1), i -> substr(t, i, n)))`. A null text, or one shorter than
  * `n` code points, has no grams. Grams compare as bytes. The result
  * is never null: two gramless texts give (0, 0).
  *
  * Why not the array spelling: `transform(sequence(..), i ->
  * substr(..))` runs an interpreted lambda per gram, each `substr`
  * rescans the text from its start (quadratic per text), and every
  * gram becomes a string object before `array_distinct` and
  * `array_intersect` hash them again. Here each text is walked once:
  * the code-point starts are recorded in one pass, grams of up to 7
  * bytes are packed exactly (bytes + length) into one long of an open
  * addressing set, and longer grams are byte-range views into the text
  * — no allocation per gram.
  */
case class NgramOverlap(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 1, "ngram_overlap needs n >= 1")

  override def nullable: Boolean = false

  override def dataType: DataType = NgramOverlap.resultType

  override def eval(input: InternalRow): Any =
    new NgramOverlap.Counter(n).overlap(
      left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[NgramOverlap.Counter].getName
    val counter = ctx.addMutableState(cls, "ngramCounter",
      v => s"$v = new $cls($n);")
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      ${classOf[InternalRow].getName} ${ev.value} = $counter.overlap(
        ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      """, isNull = FalseLiteral)
  }

  override def prettyName: String = "ngram_overlap"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramOverlap =
    copy(left = newLeft, right = newRight)
}

object NgramOverlap {

  val resultType: StructType = StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("union", LongType, nullable = false)))

  /** Column form: `struct<inter, union>` of the distinct character
    * `n`-gram sets of `a` and `b` (see [[NgramOverlap]]). */
  def overlap(a: Column, b: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(NgramOverlap(
      Bridge.expression(a.cast("string")), Bridge.expression(b.cast("string")), n))
  }

  /** Reusable per-task state: both gram sets and the code-point starts.
    * Not thread-safe; generated code holds one per task. */
  final class Counter(n: Int) {
    private val setA = new GramSet
    private val setB = new GramSet
    private var starts = new Array[Int](64)

    def overlap(a: UTF8String, b: UTF8String): InternalRow = {
      if (a == null) setA.reset(null, 0L, 0)
      else fill(setA, a.getBaseObject, a.getBaseOffset, a.numBytes(), null)
      val inter =
        if (b == null) { setB.reset(null, 0L, 0); 0L }
        else fill(setB, b.getBaseObject, b.getBaseOffset, b.numBytes(), setA)
      new GenericInternalRow(Array[Any](inter, setA.size + setB.size - inter))
    }

    /** Resets `set` to the grams of the text at (base, off, len) and
      * returns how many of its distinct grams `probe` holds (0 when
      * `probe` is null). */
    private def fill(set: GramSet, base: AnyRef, off: Long, len: Int,
                     probe: GramSet): Long = {
      // one pass: byte offset of every code point, plus the end
      if (starts.length < len + 1) starts = new Array[Int](len + 1)
      var chars = 0
      var i = 0
      while (i < len) {
        starts(chars) = i
        chars += 1
        i += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i))
      }
      starts(chars) = math.min(i, len)
      val grams = chars - n + 1
      set.reset(base, off, math.max(grams, 0))
      var inter = 0L
      var g = 0
      while (g < grams) {
        val s = starts(g)
        val gl = starts(g + n) - s
        if (gl <= 7) {
          var key = gl.toLong << 56
          var j = 0
          while (j < gl) {
            key |= (Platform.getByte(base, off + s + j) & 0xFFL) << (8 * j)
            j += 1
          }
          if (set.addPacked(key) && probe != null && probe.containsPacked(key))
            inter += 1
        } else {
          val h = Murmur3_x86_32.hashUnsafeBytes2(base, off + s, gl, 42)
          if (set.addRange(s, gl, h) && probe != null &&
              probe.containsRange(base, off + s, gl, h))
            inter += 1
        }
        g += 1
      }
      inter
    }
  }

  /** Open-addressing set of one text's grams: packed grams (<= 7
    * bytes, length in the top byte, so never 0 — 0 marks an empty
    * slot) and byte-range views (> 7 bytes) into the text at
    * (base, off). Tables are sized for the text's gram count at
    * [[reset]] (load <= 1/2, so probes always end) and cleared lazily:
    * a text of one kind of gram never touches the other table. */
  private[functions] final class GramSet {
    private var keys = new Array[Long](16)
    private var kMask = -1 // -1: packed table not cleared for this text
    private var rOff = new Array[Int](16) // -1 marks an empty slot
    private var rLen = new Array[Int](16)
    private var rHash = new Array[Int](16)
    private var rMask = -1
    private var cap = 16
    private var base: AnyRef = _
    private var off = 0L
    var size = 0L

    def reset(textBase: AnyRef, textOff: Long, grams: Int): Unit = {
      base = textBase
      off = textOff
      size = 0L
      cap = math.max(16, Integer.highestOneBit(grams) << 2)
      kMask = -1
      rMask = -1
    }

    private def packedTable(): Unit = if (kMask < 0) {
      if (keys.length < cap) keys = new Array[Long](cap)
      else java.util.Arrays.fill(keys, 0, cap, 0L)
      kMask = cap - 1
    }

    private def rangeTable(): Unit = if (rMask < 0) {
      if (rOff.length < cap) {
        rOff = new Array[Int](cap)
        rLen = new Array[Int](cap)
        rHash = new Array[Int](cap)
      }
      java.util.Arrays.fill(rOff, 0, cap, -1)
      rMask = cap - 1
    }

    /** Adds a packed gram; true if it was new. */
    def addPacked(key: Long): Boolean = {
      packedTable()
      var p = Murmur3_x86_32.hashLong(key, 42) & kMask
      while (keys(p) != 0L) {
        if (keys(p) == key) return false
        p = (p + 1) & kMask
      }
      keys(p) = key
      size += 1
      true
    }

    def containsPacked(key: Long): Boolean = kMask >= 0 && {
      var p = Murmur3_x86_32.hashLong(key, 42) & kMask
      while (keys(p) != 0L && keys(p) != key) p = (p + 1) & kMask
      keys(p) == key
    }

    /** Adds the gram at byte `s` (relative to this set's text) of
      * `len` bytes and hash `h`; true if it was new. */
    def addRange(s: Int, len: Int, h: Int): Boolean = {
      rangeTable()
      var p = h & rMask
      while (rOff(p) >= 0) {
        if (rHash(p) == h && rLen(p) == len &&
            ByteArrayMethods.arrayEquals(base, off + rOff(p), base, off + s, len)) return false
        p = (p + 1) & rMask
      }
      rOff(p) = s
      rLen(p) = len
      rHash(p) = h
      size += 1
      true
    }

    /** Whether the gram of `len` bytes at (b, o), hash `h`, is held. */
    def containsRange(b: AnyRef, o: Long, len: Int, h: Int): Boolean =
      rMask >= 0 && {
        var p = h & rMask
        var found = false
        while (!found && rOff(p) >= 0) {
          found = rHash(p) == h && rLen(p) == len &&
            ByteArrayMethods.arrayEquals(base, off + rOff(p), b, o, len)
          p = (p + 1) & rMask
        }
        found
      }
  }
}
