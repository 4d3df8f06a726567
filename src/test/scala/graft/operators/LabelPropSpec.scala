package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** LabelProp pinned on closed-form communities, stability at the
  * fixpoint (extra rounds are no-ops once settled), the
  * self-inclusion anti-oscillation property, and a driver-side
  * replay of the exact update rule on random graphs. */
class LabelPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sym(es: Seq[(Long, Long)]) =
    (es ++ es.map(_.swap)).toDF("src", "dst")

  private def run(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelProp.propagate(sym(es), rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side replay of the synchronous self-inclusive rule. */
  private def ref(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .map { case (n, ps) => n -> ps.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (n, nbrs) =>
        val votes = (nbrs.map(lab) :+ lab(n)).groupBy(identity)
          .map { case (l, v) => (l, v.size) }
        val best = votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        n -> best
      }
    }
    lab
  }

  test("a call leaves one pin, whatever the rounds") {
    // superseded rounds are released once the next one is materialized;
    // the result reads only the last round's pin
    def persistent = spark.sparkContext.getPersistentRDDs.size
    try {
      val before = persistent
      run(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 1L), 4)
      assert(persistent - before == 1)
    } finally Checkpoints.clear(spark)
  }

  test("two disjoint triangles: each keeps its own min-label community") {
    val es = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 4L)
    val got = run(es, 3)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("a settled consensus is a fixpoint (extra rounds change nothing)") {
    val es = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 4L)
    assert(run(es, 3) === run(es, 6))
  }

  test("self-inclusion damps the 2-node oscillation") {
    // pure neighbor voting would swap labels every round forever;
    // self-inclusion ties at 1-1 -> min label, then stays
    val es = Seq(1L -> 2L)
    assert(run(es, 1) === Map(1L -> 1L, 2L -> 1L))
    assert(run(es, 4) === Map(1L -> 1L, 2L -> 1L))
  }

  test("random graphs match the driver-side replay, several round budgets") {
    val rnd = new Random(13)
    for (trial <- 1 to 5) {
      val n = 20
      val es = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      for (r <- Seq(1, 2, 4)) {
        assert(run(es, r) === ref(es, r), s"trial $trial rounds $r")
      }
    }
  }
}
