package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pca pinned on three claims: the distributed covariance pass equals
  * the textbook E[(x-m)(y-m)] computed locally; power iteration
  * recovers a KNOWN dominant direction; and the eigenpair actually
  * satisfies Cv = lambda*v (a residual check, so a subtly wrong
  * covariance or a transposed index cannot pass by luck). */
class PcaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Points stretched along (0.6, 0.8) with small off-axis jitter: the
  // top PC is the stretch direction. Deterministic corpus (no RNG).
  private val pts: Seq[Array[Float]] = (0 until 200).map { i =>
    val t = (i - 100) / 10.0        // big spread along the axis
    val s = ((i % 7) - 3) / 40.0    // small spread across it
    Array((0.6 * t - 0.8 * s).toFloat, (0.8 * t + 0.6 * s).toFloat, 0.0f)
  }

  private def df = pts.zipWithIndex
    .map { case (e, i) => (i.toLong, e) }.toDF("vec_id", "embedding")

  test("covariance matches the local textbook computation") {
    val d = 3
    val got = Pca.covariance(df, "embedding", d).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    val n = pts.size
    val means = Array.tabulate(d)(k => pts.map(_(k).toDouble).sum / n)
    for (i <- 0 until d; j <- i until d) {
      val exp = pts.map(p => (p(i) - means(i)) * (p(j) - means(j))).sum / n
      assert(math.abs(got((i, j)) - exp) < 1e-9, s"cov($i,$j)")
    }
    assert(got.size === d * (d + 1) / 2)
  }

  test("power iteration recovers the known dominant direction, sign-normalized") {
    val v = Pca.topComponent(df, "embedding", 3)
    assert(math.abs(v(0) - 0.6) < 1e-3, v.mkString(","))
    assert(math.abs(v(1) - 0.8) < 1e-3, v.mkString(","))
    assert(math.abs(v(2)) < 1e-6)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12, "not unit length")
    assert(v(1) > 0, "sign convention: largest-|coord| entry positive")
  }

  test("eigen residual: C v ~= lambda v") {
    val d = 3
    val entries = Pca.covariance(df, "embedding", d).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val m = Array.ofDim[Double](d, d)
    entries.foreach { case (i, j, c) => m(i)(j) = c; m(j)(i) = c }
    val v = Pca.topComponent(df, "embedding", d)
    val cv = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
    val lambda = (0 until d).map(i => v(i) * cv(i)).sum // Rayleigh quotient
    val residual = math.sqrt(
      (0 until d).map(i => math.pow(cv(i) - lambda * v(i), 2)).sum)
    assert(residual < 1e-9 * math.max(1.0, math.abs(lambda)), s"residual $residual")
  }

  test("deflation recovers the second component, orthogonal, smaller eigenvalue") {
    val comps = Pca.topComponents(df, "embedding", 3, 2)
    val (l1, v1) = comps(0)
    val (l2, v2) = comps(1)
    // first = the stretch axis, second = the cross axis (-0.8, 0.6) up
    // to sign normalization (largest-|coord| positive -> (-0.8, 0.6))
    assert(math.abs(v1(0) - 0.6) < 1e-3 && math.abs(v1(1) - 0.8) < 1e-3)
    assert(math.abs(math.abs(v2(0)) - 0.8) < 1e-3 &&
      math.abs(math.abs(v2(1)) - 0.6) < 1e-3, v2.mkString(","))
    val dot = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-6, s"components not orthogonal: $dot")
    assert(l1 > l2 && l2 > 0, s"eigenvalues not ordered: $l1, $l2")
    // the two axes' variances dominate the flat third dimension
    assert(l1 / l2 > 10, s"stretch axis should dominate: $l1 vs $l2")
  }

  test("gramian buffer: layout, partition merge, null/short rows skipped") {
    // 3 full rows + 1 short + 1 null across 4 partitions: update,
    // serialize/deserialize, and merge all exercise; short/null rows
    // must be skipped WHOLE (no per-dim partial presence)
    val rows: Seq[(Long, Array[Float])] = Seq(
      (0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)),
      (2L, Array(5.0f, 6.0f)), (3L, Array(7.0f)), (4L, null))
    val df2 = rows.toDF("vec_id", "embedding").repartition(4)
    val g = df2.select(graft.functions.Gramian.gramian(
        graft.functions.Similarity.toDoubleArray(
          org.apache.spark.sql.functions.col("embedding")), 2).as("g"))
      .head().getSeq[Double](0)
    // [n, S0, S1, P00, P01, P11] over the 3 full rows only
    assert(g(0) === 3.0)
    assert(g(1) === (1.0 + 3.0 + 5.0) && g(2) === (2.0 + 4.0 + 6.0))
    assert(g(3) === (1.0 + 9.0 + 25.0))
    assert(g(4) === (1 * 2.0 + 3 * 4.0 + 5 * 6.0))
    assert(g(5) === (4.0 + 16.0 + 36.0))
    // covariance over the same mixed corpus = textbook over full rows
    val cov = Pca.covariance(df2, "embedding", 2).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    val full = Seq(Array(1.0, 2.0), Array(3.0, 4.0), Array(5.0, 6.0))
    val mn = Array.tabulate(2)(k => full.map(_(k)).sum / 3)
    for (i <- 0 until 2; j <- i until 2) {
      val exp = full.map(p => (p(i) - mn(i)) * (p(j) - mn(j))).sum / 3
      assert(math.abs(cov((i, j)) - exp) < 1e-12, s"cov($i,$j)")
    }
  }

  test("gramian at production width d=64: parity with the explode-structs form") {
    // The round-8 explode-structs covariance (each row emits its
    // d(d+1)/2 upper-triangle product structs, then an (i,j) groupBy)
    // is reconstructed here as the reference. On ONE input partition
    // both forms accumulate every sum in the same row order and then
    // run the identical P/n - (S_i/n)(S_j/n) float ops, so all 2080
    // entries must match BITWISE — a changed accumulation layout or a
    // transposed triangle index cannot pass. (Multi-partition runs
    // differ only by float summation order; the gates' tolerance
    // story covers that, bit-parity here pins the arithmetic.)
    val d = 64
    val n = 500
    val wide = (0 until n).map { i =>
      (i.toLong,
        Array.tabulate(d)(k => ((((i * 37 + k * 17) % 101) - 50) / 7.0).toFloat))
    }.toDF("vec_id", "embedding").coalesce(1)
    val got = Pca.covariance(wide, "embedding", d).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    // the ONE reference definition of the explode-structs form
    val ref = ExplodeCovariance.explodeCovariance(wide, d)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    assert(got.size === d * (d + 1) / 2 && ref.size === got.size)
    for (((i, j), v) <- ref)
      assert(java.lang.Double.doubleToLongBits(got((i, j))) ===
        java.lang.Double.doubleToLongBits(v), s"cov($i,$j)")
  }

  test("null ELEMENTS skip the row whole; empty input -> empty covariance, not NaN") {
    // a null element read as 0.0 would corrupt sums while counting the
    // row — the row must be skipped entirely
    val withNullElem = spark.sql(
      """SELECT * FROM VALUES
           (0L, array(1.0D, 2.0D)), (1L, array(3.0D, 4.0D)),
           (2L, array(5.0D, CAST(NULL AS DOUBLE)))
         AS t(vec_id, embedding)""")
    val g = withNullElem.select(graft.functions.Gramian.gramian(
        org.apache.spark.sql.functions.col("embedding"), 2))
      .head().getSeq[Double](0)
    assert(g(0) === 2.0 && g(1) === 4.0 && g(2) === 6.0)
    // zero qualifying rows: EMPTY result (the exploded form's
    // behavior), never d^2/2 rows of 0/0 = NaN
    val empty = spark.sql(
      "SELECT * FROM VALUES (9L, CAST(NULL AS ARRAY<DOUBLE>)) t(vec_id, embedding)")
    assert(Pca.covariance(empty, "embedding", 2).count() === 0L)
  }

  test("projection scores order points along the axis") {
    val scores = Pca.project(df, "vec_id", "embedding", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // axis position grows with i, so scores must be strictly increasing
    // up to the tiny jitter; check the endpoints dominate
    assert(scores(199L) > scores(100L) && scores(100L) > scores(0L))
    val sorted = (0L until 200L).sortBy(scores)
    assert(math.abs(sorted.head.toInt - 0) <= 1 &&
      math.abs(sorted.last.toInt - 199) <= 1)
  }

  /** The operator's sign matrix, reimplemented independently. */
  private def jlSign(j: Int, c: Int): Long =
    if (((j.toLong * 73856093L + c.toLong * 19349663L) % 83L) % 2L == 0L) 1L
    else -1L

  test("randomProjection matches a driver-side integer replay") {
    val vecs = Seq(
      0L -> Array(1.0f, 2.0f, -3.0f, 0.5f),
      1L -> Array(0.0f, 0.0f, 0.0f, 0.0f),
      2L -> Array(-1.25f, 4.0f, 2.0f, -2.0f))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Pca.randomProjection(df, "vec_id", "embedding", 3)
      .collect().map(r => r.getLong(0) ->
        (1 to 3).map(i => r.getLong(i))).toMap
    vecs.foreach { case (id, xs) =>
      val want = (0 until 3).map { c =>
        xs.zipWithIndex.map { case (x, j) =>
          jlSign(j, c) * math.floor(x.toDouble * 1e6).toLong
        }.sum
      }
      assert(got(id) === want, s"vec $id")
    }
  }

  test("randomProjection is linear: scaling the vector scales the projection") {
    val base = Array(0.5f, -1.0f, 2.0f, 0.25f, -0.125f)
    val df = Seq(0L -> base, 1L -> base.map(_ * 2f))
      .toDF("vec_id", "embedding")
    val got = Pca.randomProjection(df, "vec_id", "embedding", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((got(0L)._1 * 2, got(0L)._2 * 2)))
  }

  test("randomProjection sign matrix is not degenerate across components") {
    // components must differ: a vector with a single hot dimension
    // separates any two components whose signs differ at that dim
    val hot = (0 until 8).map(j =>
      j.toLong -> Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f))
    val df = hot.toDF("vec_id", "embedding")
    val rowsOut = Pca.randomProjection(df, "vec_id", "embedding", 4).collect()
    // each row is (±1e6) at each component; the 8x4 sign pattern must
    // contain both signs in at least one column and one row
    val signs = rowsOut.map(r => (1 to 4).map(r.getLong))
    assert(signs.exists(row => row.toSet.size == 2))
    assert((0 until 4).exists(c => signs.map(_(c)).toSet.size == 2))
  }
}
