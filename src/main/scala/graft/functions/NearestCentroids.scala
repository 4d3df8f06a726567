package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the ids of the `n` centroids nearest
  * to a unit vector — the one kernel behind k-means assignment, IVF
  * membership and probing, and PQ encoding in [[graft.operators.Ann]].
  *
  * `codebook` is `array<struct<cluster: bigint, c: array<double>>>`,
  * usually one broadcast row. Each centroid scores
  * `round(dot(ue, c), 6)`: the sequential [[DotProduct]] fold over the
  * shorter of the two arrays, then Spark's `round` (HALF_UP on
  * `BigDecimal.valueOf` of the double; NaN and infinities pass
  * through). That is the score `round(sum(v * c), 6)` gives over the
  * (vec, pos) long form joined on `pos`. Scores rank the way Spark
  * sorts doubles descending: NaN above everything, -0.0 equal to 0.0,
  * ties to the lowest cluster id — so element 0 is the
  * `row_number() over (order by score desc, cluster)` argmax and the
  * first `nprobe` elements are the IVF probes.
  *
  * A null codebook entry, or a centroid sharing no position with the
  * vector (either array empty), is not a candidate; centroid elements
  * must be non-null. The result holds min(n, candidates) ids, best
  * first; null when either input is null.
  *
  * Why not a long form: exploding every vector into (vec, pos) rows,
  * joining the codebook on `pos`, grouping by (vec, cluster) and
  * ranking with a window turns a k·d loop into d rows, a shuffle and a
  * sort per vector. Here the loop stays inside whole-stage codegen.
  */
case class NearestCentroids(ue: Expression, codebook: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 0, "nearest_centroids needs n >= 0")

  override def left: Expression = ue
  override def right: Expression = codebook

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val len = u.numElements()
    val ids = new Array[Long](n)
    val sc = new Array[Double](n)
    var cnt = 0
    var i = 0
    while (i < cb.numElements()) {
      if (!cb.isNullAt(i)) {
        val e = cb.getStruct(i, 2)
        if (!e.isNullAt(0) && !e.isNullAt(1)) {
          val c = e.getArray(1)
          val m = math.min(len, c.numElements())
          if (m > 0) {
            var s = 0.0
            var j = 0
            while (j < m) { s += u.getDouble(j) * c.getDouble(j); j += 1 }
            if (!s.isNaN && !s.isInfinite)
              s = java.math.BigDecimal.valueOf(s)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            val id = e.getLong(0)
            // insertion into the sorted top-n: walk up while (s, id) ranks
            // above the slot's entry
            var p = cnt
            var up = true
            while (p > 0 && up) {
              val t = sc(p - 1)
              val cmp = if (s == t) 0 else java.lang.Double.compare(s, t)
              if (cmp > 0 || (cmp == 0 && id < ids(p - 1))) p -= 1 else up = false
            }
            if (p < n) {
              var q = math.min(cnt, n - 1)
              while (q > p) { sc(q) = sc(q - 1); ids(q) = ids(q - 1); q -= 1 }
              sc(p) = s
              ids(p) = id
              if (cnt < n) cnt += 1
            }
          }
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(ids, cnt))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ad = classOf[ArrayData].getName
    val name = ctx.freshName("nearestCentroids")
    val fn = ctx.addNewFunction(name,
      s"""
         |private $ad $name($ad u, $ad cb) {
         |  int len = u.numElements();
         |  long[] ids = new long[$n];
         |  double[] sc = new double[$n];
         |  int cnt = 0;
         |  for (int i = 0; i < cb.numElements(); i++) {
         |    if (cb.isNullAt(i)) continue;
         |    org.apache.spark.sql.catalyst.InternalRow e = cb.getStruct(i, 2);
         |    if (e.isNullAt(0) || e.isNullAt(1)) continue;
         |    $ad c = e.getArray(1);
         |    int m = java.lang.Math.min(len, c.numElements());
         |    if (m == 0) continue;
         |    double s = 0.0;
         |    for (int j = 0; j < m; j++) {
         |      s += u.getDouble(j) * c.getDouble(j);
         |    }
         |    if (!java.lang.Double.isNaN(s) && !java.lang.Double.isInfinite(s)) {
         |      s = java.math.BigDecimal.valueOf(s)
         |        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |    }
         |    long id = e.getLong(0);
         |    int p = cnt;
         |    while (p > 0) {
         |      double t = sc[p - 1];
         |      int cmp = s == t ? 0 : java.lang.Double.compare(s, t);
         |      if (cmp > 0 || (cmp == 0 && id < ids[p - 1])) p--; else break;
         |    }
         |    if (p < $n) {
         |      for (int q = java.lang.Math.min(cnt, $n - 1); q > p; q--) {
         |        sc[q] = sc[q - 1];
         |        ids[q] = ids[q - 1];
         |      }
         |      sc[p] = s;
         |      ids[p] = id;
         |      if (cnt < $n) cnt++;
         |    }
         |  }
         |  return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray(java.util.Arrays.copyOf(ids, cnt));
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $fn($a, $b);")
  }

  override def prettyName: String = "nearest_centroids"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroids =
    copy(ue = newLeft, codebook = newRight)
}

object NearestCentroids {

  /** The codebook element type: one centroid per struct. */
  val centroidType: StructType = StructType(Seq(
    StructField("cluster", LongType),
    StructField("c", ArrayType(DoubleType))))

  /** Column form: ids of the `n` centroids of `codebook` nearest to the
    * unit vector `ue`, best first (see [[NearestCentroids]]). */
  def nearest(ue: Column, codebook: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(NearestCentroids(
      Bridge.expression(ue.cast("array<double>")),
      Bridge.expression(codebook.cast(ArrayType(centroidType))), n))
  }
}
