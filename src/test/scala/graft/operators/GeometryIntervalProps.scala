package graft.operators

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import graft.TestSpark

/** Property invariants for the interval, skyline and priority-sample
  * operators beyond their closed-form specs: interval-union bounds and
  * permutation invariance, skyline anti-chain/coverage laws, and
  * priority-sample monotonicity in the weights. */
object GeometryIntervalProps extends Properties("geometryInterval") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genIntervals: Gen[List[(Long, Long)]] =
    Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, for {
        s <- Gen.chooseNum(0L, 500L)
        len <- Gen.chooseNum(0L, 60L)
      } yield (s, s + len)))

  property("intervals: covered <= sum of lengths AND <= span; permutation-invariant") =
    forAll(genIntervals) { iv =>
      def run(seq: Seq[(Long, Long)]): (Long, Long) = {
        val df = seq.map { case (s, e) => ("k", s, e) }.toDF("k", "s", "e")
        val r = Intervals.unionCoverage(df, Seq("k"), "s", "e")
          .collect().head
        (r.getAs[Long]("covered"), r.getAs[Long]("n_blocks"))
      }
      val (covered, blocks) = run(iv)
      val sumLen = iv.map { case (s, e) => e - s }.sum
      val span = iv.map(_._2).max - iv.map(_._1).min
      val (covered2, blocks2) = run(iv.reverse)
      covered <= sumLen && covered <= span && blocks >= 1 &&
        covered == covered2 && blocks == blocks2
    }

  private val genPoints: Gen[List[(Long, Long)]] =
    Gen.chooseNum(2, 60).flatMap(n =>
      Gen.listOfN(n, for {
        x <- Gen.chooseNum(0L, 40L)
        y <- Gen.chooseNum(0L, 40L)
      } yield (x, y)))

  property("skyline: frontier is an anti-chain and dominates every input point") =
    forAll(genPoints) { pts =>
      val f = Skyline.frontier2d(pts.toDF("x", "y"), "x", "y")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val antiChain = f.forall { case (x, y) =>
        !f.exists { case (a, b) =>
          a >= x && b >= y && (a > x || b > y) }
      }
      val covers = pts.forall { case (x, y) =>
        f.exists { case (a, b) => a >= x && b >= y }
      }
      val counts = Skyline.frontier2d(pts.toDF("x", "y"), "x", "y")
        .agg(org.apache.spark.sql.functions.sum("n_rows")).collect()
        .head.getLong(0)
      antiChain && covers && counts <= pts.size.toLong
    }

  property("prioritySample: inflating one row's weight never evicts it once present") =
    forAll(Gen.chooseNum(1L, 40L)) { boostId =>
      val rows = (1L to 40L).map(i => (i, 100L + i))
      val k = 10
      val base = Sampling.prioritySample(rows.toDF("id", "w"), "id", "w", k)
        .collect().map(_.getLong(0)).toSet
      // boost past the adversarial bound: min boosted priority (u at
      // its 2^20 max) must exceed every other row's max priority
      // (u = 1), i.e. wB > maxW * 2^20 ~ 1.5e8
      val boosted = rows.map { case (id, w) =>
        (id, if (id == boostId) 200000000000L else w) }
      val after = Sampling.prioritySample(boosted.toDF("id", "w"), "id", "w", k)
        .collect().map(_.getLong(0)).toSet
      // the boosted row is in the new sample, and (monotonicity) it
      // was only ever helped by the boost
      after.contains(boostId) &&
        (!base.contains(boostId) || after.contains(boostId))
    }
}
