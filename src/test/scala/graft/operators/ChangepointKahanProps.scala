package graft.operators

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import graft.TestSpark

/** Property invariants for greedy changepoints, Theil-Sen coarsening
  * and the Kahan rolling kernel: the greedy binary-segmentation family
  * (single-series driver rounds, grouped in-row expression), the
  * Theil-Sen coarsen escape hatch, and the
  * Kahan ring-buffer rolling kernel — each checked against an
  * independent driver-side replay over RANDOM inputs (the gates pin
  * one corpus; these pin the semantics). Integer paths compare with
  * equality — on int64 inputs the Kahan kernel is BIT-equal to the
  * exact fold, and the greedy recursion is exact int64 end to end. */
object ChangepointKahanProps extends Properties("changepointKahan") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genSeries: Gen[List[Long]] =
    Gen.chooseNum(5, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 500L)))

  /** Driver-side greedy binary-segmentation replay (BigInt-exact):
    * per round, per-segment CUSUM argmax (ties -> smallest t), commit
    * the global strongest, stop when all segments are constant. */
  private def greedyRef(xs: Seq[Long], k: Int): Seq[(Long, Long, Long, Long)] = {
    val pts = xs.zipWithIndex.map { case (x, t) => (t.toLong, x) }
    var bounds = Seq.empty[Long]
    (1 to k).flatMap { step =>
      val segs = pts.groupBy { case (t, _) => bounds.count(_ < t) }
      val picks = segs.values.map { seg =>
        val n = BigInt(seg.size)
        val s = BigInt(seg.map(_._2).sum)
        var cum = BigInt(0)
        var best: (BigInt, Long, BigInt) = null
        seg.sortBy(_._1).foreach { case (t, x) =>
          cum += n * x - s
          if (best == null || cum.abs > best._1 ||
            (cum.abs == best._1 && t < best._2)) best = (cum.abs, t, cum)
        }
        (best._2, best._3, seg.size.toLong)
      }.filter(_._2 != 0)
      if (picks.isEmpty) None
      else {
        val (t, cusum, n) = picks.maxBy { case (t, c, _) => (c.abs, -t) }
        bounds = bounds :+ t
        Some((step.toLong, n, t, cusum.toLong))
      }
    }
  }

  property("changepoints (driver rounds) == greedy replay") =
    forAll(genSeries, Gen.chooseNum(1, 4)) { (xs, k) =>
      val df = xs.zipWithIndex.map { case (x, t) => (t.toLong, x) }
        .toDF("t", "x")
      val got = SeriesStats.changepoints(df, "t", "x", k).orderBy("step")
        .collect()
        .map(r => (r.getAs[Long]("step"), r.getAs[Long]("n"),
          r.getAs[Long]("t"), r.getAs[Long]("cusum")))
      got.toSeq == greedyRef(xs, k)
    }

  property("changepointsByKey (in-row expression) == per-key greedy replay") =
    forAll(genSeries, genSeries, Gen.chooseNum(1, 4)) { (a, b, k) =>
      val rows = a.zipWithIndex.map { case (x, t) => ("a", t.toLong, x) } ++
        b.zipWithIndex.map { case (x, t) => ("b", t.toLong, x) }
      val got = SeriesStats.changepointsByKey(rows.toDF("k", "t", "x"),
          "k", "t", "x", k).orderBy("k", "step").collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("step"),
          r.getAs[Long]("n"), r.getAs[Long]("t"), r.getAs[Long]("cusum")))
      val want = greedyRef(a, k).map { case (s, n, t, c) => ("a", s, n, t, c) } ++
        greedyRef(b, k).map { case (s, n, t, c) => ("b", s, n, t, c) }
      got.toSeq == want
    }

  property("theilSen coarsen: point bound holds and under-bound is identity") =
    forAll(genSeries, Gen.chooseNum(5, 15)) { (xs, maxPts) =>
      val df = xs.zipWithIndex.map { case (x, t) => (t.toLong, x) }
        .toDF("t", "y")
      val co = SeriesStats.theilSen(df, "t", "y", maxPoints = maxPts,
        coarsen = true).collect()
      val boundHolds = co.isEmpty || co.head.getAs[Long]("n") <= maxPts
      val identityWhenUnder =
        if (xs.size > maxPts) true
        else {
          val plain = SeriesStats.theilSen(df, "t", "y").collect()
          co.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq
        }
      boundHolds && identityWhenUnder
    }

  property("Kahan rolling kernel BIT-equals the exact fold on int64 inputs") =
    forAll(genSeries, Gen.oneOf(2, 3, 5, 8)) { (xs, n) =>
      val df = xs.zipWithIndex.map { case (x, t) => (0L, t.toLong, x.toDouble) }
        .toDF("k", "t", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("t")
      val rows = df.select(org.apache.spark.sql.functions.col("t"),
          TriangularRolling.triangMean(
            org.apache.spark.sql.functions.col("v"), w, n).as("slow"),
          TriangularRolling.triangMeanKahan(
            org.apache.spark.sql.functions.col("v"), w, n).as("fast"))
        .collect()
      rows.forall { r =>
        (r.isNullAt(1), r.isNullAt(2)) match {
          case (true, true) => true
          case (false, false) =>
            java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
              java.lang.Double.doubleToLongBits(r.getDouble(2))
          case _ => false
        }
      }
    }
}
