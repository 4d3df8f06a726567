package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{NearestCentroids, Similarity}

/** `Ann.kmeansCentroids`, `clusterAssignment`, `ivfTopK` and `pqTopK`
  * run on the array-form nearest-centroid kernel. These specs keep the
  * earlier long-form plans — every unit vector exploded into
  * (vec_id, pos) rows, the codebook joined on `pos`, a
  * (vec_id, cluster) aggregation and an argmax window — as the
  * reference, and require row-for-row equality with doubles compared by
  * bit pattern, on seeded random corpora. */
class AnnKernelEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The long-form plans, as they were before the kernel. */
  private object LongForm {
    def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
      val dims = embeddings
        .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
        .select(col("vec_id"), posexplode(col("ue")))
        .withColumnRenamed("col", "v")
      val seedIds = embeddings.select(col("vec_id")).orderBy("vec_id").limit(k)
        .withColumn("cluster",
          (row_number().over(Window.partitionBy(lit(0)).orderBy("vec_id")) - 1)
            .cast("long"))
      var cent = dims.join(broadcast(seedIds), Seq("vec_id"))
        .select(col("cluster"), col("pos"), round(col("v"), 6).as("c"))
      for (_ <- 0 until iters) {
        val scores = dims.join(cent, Seq("pos"))
          .groupBy("vec_id", "cluster")
          .agg(round(sum(col("v") * col("c")), 6).as("score"))
        val wA = Window.partitionBy("vec_id")
          .orderBy(col("score").desc, col("cluster"))
        val assign = scores.withColumn("__r", row_number().over(wA))
          .filter(col("__r") === 1).select("vec_id", "cluster")
        cent = dims.join(assign, Seq("vec_id"))
          .groupBy("cluster", "pos").agg(round(avg(col("v")), 6).as("c"))
      }
      cent
    }

    def clusterAssignment(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
      val dims = embeddings
        .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
        .select(col("vec_id"), posexplode(col("ue")))
        .withColumnRenamed("col", "v")
      val scores = dims.join(broadcast(centroids), Seq("pos"))
        .groupBy("vec_id", "cluster")
        .agg(round(sum(col("v") * col("c")), 6).as("score"))
      val wA = Window.partitionBy("vec_id").orderBy(col("score").desc, col("cluster"))
      scores.withColumn("__r", row_number().over(wA))
        .filter(col("__r") === 1).select("vec_id", "cluster")
    }

    def ivfTopK(embeddings: DataFrame, centroids: DataFrame,
                queryPred: Column, k: Int, nprobe: Int,
                tombstones: Option[DataFrame]): DataFrame = {
      val em = embeddings
        .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
      val dims = em.select(col("vec_id"), posexplode(col("ue")))
        .withColumnRenamed("col", "v")
      val scores = dims.join(broadcast(centroids), Seq("pos"))
        .groupBy("vec_id", "cluster")
        .agg(round(sum(col("v") * col("c")), 6).as("score"))
      val wA = Window.partitionBy("vec_id").orderBy(col("score").desc, col("cluster"))
      val ranked = scores.withColumn("__r", row_number().over(wA))
      val member = ranked.filter(col("__r") === 1).select("vec_id", "cluster")
      val probes = ranked.filter(queryPred && col("__r") <= nprobe)
        .select(col("vec_id").as("qid"), col("cluster"))
      val q = em.filter(queryPred)
        .select(col("vec_id").as("qid"), col("ue").as("qu"))
      val candAll = broadcast(probes.join(q, "qid"))
        .join(em.join(member, Seq("vec_id")), Seq("cluster"))
        .filter(col("vec_id") =!= col("qid"))
      val cand = tombstones.fold(candAll)(ts =>
          candAll.join(ts.select(col("vec_id")), Seq("vec_id"), "left_anti"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          round(Similarity.dot(col("qu"), col("ue")), 6).as("cos_r"))
      Ann.topKPerGroup(cand, Seq("qid"),
        Seq(col("cos_r").desc, col("neighbor_id")), k, "rnk")
        .select("qid", "rnk", "neighbor_id", "cos_r")
    }

    def pqTopK(embeddings: DataFrame, m: Int, subDim: Int, k: Int,
               iters: Int, queryPred: Column, topK: Int): DataFrame = {
      val perSub = (0 until m).map { s =>
        val sub = embeddings.select(col("vec_id"),
          slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
        val cb = kmeansCentroids(sub, k, iters)
        val codes = clusterAssignment(sub, cb)
          .select(col("vec_id"), col("cluster"))
        val qdims = sub.filter(queryPred)
          .select(col("vec_id").as("qid"), Similarity.unit(col("embedding")).as("qu"))
          .select(col("qid"), posexplode(col("qu")))
          .withColumnRenamed("col", "qv")
        val lut = qdims.join(broadcast(cb), Seq("pos"))
          .groupBy("qid", "cluster")
          .agg(round(sum(col("qv") * col("c")), 6).as("part"))
        codes.join(broadcast(lut), Seq("cluster"))
          .select(col("qid"), col("vec_id"), col("part"))
      }
      val scored = perSub.reduce(_ unionByName _)
        .groupBy("qid", "vec_id")
        .agg(round(sum(col("part")), 6).as("score_r"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumnRenamed("vec_id", "neighbor_id")
      Ann.topKPerGroup(scored, Seq("qid"),
        Seq(col("score_r").desc, col("neighbor_id")), topK, "rnk")
        .select("qid", "rnk", "neighbor_id", "score_r")
    }
  }

  /** Seeded corpus of `n` rows, `d`-dim float embeddings, vec_ids from
    * 1000 in steps of 3 (ids that do not start at 0). The two lowest
    * ids hold the same vector, so their seeded centroids tie on every
    * score and the higher one's cluster loses all its members. The
    * third lowest id has a null embedding (a seed that never becomes a
    * cluster); every fifth row is short (d - 3 or 5 dims, shorter than
    * the codebook and, for PQ, missing whole subspaces); one row is
    * empty. With `zero`, the fourth lowest id and a mid-corpus row are
    * all zeros: their unit vectors are NaN, which outranks every score,
    * and the first seeds a NaN centroid above the lowest cluster id. With `ints`, components
    * are small integers, so distinct vectors tie after rounding. */
  private def corpus(seed: Long, n: Int, d: Int, zero: Boolean,
                     ints: Boolean): DataFrame = {
    val rnd = new Random(seed)
    def vec(len: Int): Seq[Float] = Seq.fill(len)(
      if (ints) (rnd.nextInt(5) - 2).toFloat
      else (math.round(rnd.nextGaussian() * 1000) / 1000.0).toFloat)
    val dup = vec(d)
    val rows = (0 until n).map { i =>
      val e: Seq[Float] =
        if (i < 2) dup
        else if (i == 2) null
        else if (i == n / 3) Seq.empty
        else if (zero && (i == 3 || i == n / 2)) Seq.fill(d)(0f)
        else if (i % 5 == 4) vec(if (i % 10 == 4) d - 3 else 5)
        else vec(d)
      Row(1000L + 3L * i, e)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
  }

  /** Corpora for seed `s`: real-valued, small-integer, and one with a
    * zero vector. */
  private def corpora(s: Long): Seq[(String, DataFrame)] = Seq(
    s"seed $s real" -> corpus(s, 60, 12, zero = false, ints = false),
    s"seed $s ints" -> corpus(s + 100, 60, 12, zero = false, ints = true),
    s"seed $s zero" -> corpus(s + 200, 40, 12, zero = true, ints = false))

  private val seeds = Seq(11L, 12L)

  /** Rows as sorted strings; doubles by bit pattern. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case null => "null"
      case x => x.toString
    }.mkString("|")).sorted

  private def assertSame(label: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType), s"$label: schema")
    val g = canon(got)
    val w = canon(want)
    assert(w.nonEmpty, s"$label: the reference is empty")
    val diff = g.diff(w) ++ w.diff(g)
    assert(g == w, s"$label: ${g.size} vs ${w.size} rows, differing: ${diff.take(4)}")
  }

  test("kmeansCentroids: codebook equals the long form bit for bit") {
    for (s <- seeds; (name, em) <- corpora(s); (k, iters) <- Seq((3, 2), (6, 3))) {
      assertSame(s"$name k=$k iters=$iters",
        Ann.kmeansCentroids(em, k, iters), LongForm.kmeansCentroids(em, k, iters))
    }
  }

  test("kmeansCentroids: k greater than the corpus size") {
    for (s <- seeds) {
      val em = corpus(s, 7, 6, zero = false, ints = false)
      for (iters <- Seq(0, 2))
        assertSame(s"seed $s k=10 iters=$iters",
          Ann.kmeansCentroids(em, 10, iters), LongForm.kmeansCentroids(em, 10, iters))
    }
  }

  // codebooks after 0 rounds hold the duplicate seeds: two equal
  // centroids, tied on every score
  test("clusterAssignment: equals the long form, incl. tied and NaN scores") {
    for (s <- seeds; (name, em) <- corpora(s); k <- Seq(4, 7); iters <- Seq(0, 2)) {
      val cb = LongForm.kmeansCentroids(em, k, iters).localCheckpoint()
      assertSame(s"$name k=$k iters=$iters",
        Ann.clusterAssignment(em, cb), LongForm.clusterAssignment(em, cb))
    }
  }

  test("ivfTopK: equals the long form for nprobe 1..3, with and without tombstones") {
    for (s <- seeds; (name, em) <- corpora(s); iters <- Seq(0, 2)) {
      val cb = LongForm.kmeansCentroids(em, 5, iters).localCheckpoint()
      val pred = col("vec_id") < 1000 + 3 * 12
      val ts = em.select(col("vec_id")).filter(col("vec_id") % 7 === 1)
      for (np <- 1 to 3; tomb <- Seq(None, Some(ts)))
        assertSame(s"$name iters=$iters nprobe=$np tombstones=${tomb.isDefined}",
          Ann.ivfTopK(em, cb, pred, 4, np, tomb),
          LongForm.ivfTopK(em, cb, pred, 4, np, tomb))
    }
  }

  test("pqTopK: equals the long form for m = 2 and m = 3 subspaces") {
    for (s <- seeds; (name, em) <- corpora(s); (m, subDim) <- Seq((2, 6), (3, 4))) {
      val pred = col("vec_id") < 1000 + 3 * 10
      assertSame(s"$name m=$m",
        Ann.pqTopK(em, m, subDim, 4, 2, pred, 5),
        LongForm.pqTopK(em, m, subDim, 4, 2, pred, 5))
    }
  }

  test("kernel: generated and interpreted code agree") {
    val em = corpus(13, 60, 12, zero = true, ints = true)
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
    val cb = LongForm.kmeansCentroids(corpus(14, 60, 12, zero = false, ints = true), 6, 1)
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).getField("c").as("c"))
      .agg(collect_list(struct(col("cluster"), col("c"))).as("cb"))
    def run(): Seq[String] = canon(em.crossJoin(cb)
      .select(col("vec_id"), NearestCentroids.nearest(col("ue"), col("cb"), 3).cast("string")))
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback",
      "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      conf.set("spark.sql.codegen.fallback", "false")
      val generated = run()
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = run()
      assert(generated == interpreted)
      assert(generated.exists(_.contains(", ")), "expected multi-centroid results")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
