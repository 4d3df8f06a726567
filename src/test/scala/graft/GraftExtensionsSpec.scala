package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("runtime registration exposes dot_product to SQL") {
    val spark = TestSpark.spark
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("v")
    val got = spark.sql("SELECT dot_product(a, b) AS d FROM v").as[Double].collect()(0)
    assert(got == 11.0)
  }

  test("runtime registration exposes unit_vector to SQL") {
    val spark = TestSpark.spark
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq(Tuple1(Seq(3.0, 4.0))).toDF("a").createOrReplaceTempView("vu")
    val got = spark.sql("SELECT unit_vector(a) AS u FROM vu")
      .as[Seq[Double]].collect()(0)
    assert(got == Seq(0.6, 0.8))
    // cosine of a vector with itself via the two registered kernels
    val cos = spark.sql("SELECT dot_product(unit_vector(a), unit_vector(a)) c FROM vu")
      .as[Double].collect()(0)
    assert(math.abs(cos - 1.0) < 1e-15)
  }

  test("runtime registration exposes array_count_in_set to SQL") {
    val spark = TestSpark.spark
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq(Tuple1(Seq("the", "cat", "sat", "on", "the", "mat")))
      .toDF("w").createOrReplaceTempView("vw")
    val got = spark.sql("SELECT array_count_in_set(w, 'the', 'on') AS n FROM vw")
      .as[Long].collect()(0)
    assert(got == 3L)
  }

  test("runtime registration exposes nearest_centroids to SQL, equal to the Column API") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    // ties (clusters 1 and 3 are the same centroid), a short vector, a
    // zero vector (NaN unit vector) and a null vector
    spark.sql("""SELECT * FROM VALUES
        (1L, array(1.0D, 0.0D, 0.0D)), (2L, array(0.6D, 0.8D, 0.0D)),
        (3L, array(0.0D, 0.0D, 1.0D)), (4L, array(0.0D, 1.0D)),
        (5L, array(0.0D, 0.0D, 0.0D)), (6L, CAST(NULL AS ARRAY<DOUBLE>))
        AS t(id, e)""")
      .select(col("id"), graft.functions.Similarity.unit(col("e")).as("u"))
      .createOrReplaceTempView("nc_vecs")
    spark.sql("""SELECT array(
        named_struct('cluster', 3L, 'c', array(0.0D, 1.0D, 0.0D)),
        named_struct('cluster', 1L, 'c', array(0.0D, 1.0D, 0.0D)),
        named_struct('cluster', 2L, 'c', array(1.0D, 0.0D, 0.0D)),
        named_struct('cluster', 0L, 'c', array(0.0D, 0.0D, 1.0D))) AS cb""")
      .createOrReplaceTempView("nc_cb")
    val sql = spark.sql("""SELECT id, nearest_centroids(u, cb, 2) AS near
        FROM nc_vecs CROSS JOIN nc_cb ORDER BY id""")
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toList)).toList
    val api = spark.table("nc_vecs").crossJoin(spark.table("nc_cb"))
      .select(col("id"), graft.functions.NearestCentroids.nearest(col("u"), col("cb"), 2))
      .orderBy("id")
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toList)).toList
    assert(sql == api)
    assert(sql == List(1L -> Some(List(2L, 0L)), 2L -> Some(List(1L, 3L)),
      3L -> Some(List(0L, 1L)), 4L -> Some(List(1L, 3L)),
      5L -> Some(List(0L, 1L)), 6L -> None))
  }

  test("kernel substitution rewrites size(filter(x IN ...)) to the codegen kernel") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // a real scan — a local Seq would be constant-folded into a
    // LocalTableScan before the plan shows any expression at all
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def idiomatic(markers: Seq[String]) = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "),
        w => w.isin(markers.map(lit): _*))).as("n"))
    // few markers: the In branch
    val few = idiomatic(Seq("table", "row"))
    assert(few.queryExecution.executedPlan.toString.contains("arraycountinset"),
      "In-branch substitution did not fire")
    // >10 markers: OptimizeIn turns the list into InSet first
    val many = idiomatic(Seq("table", "row", "m1", "m2", "m3", "m4", "m5", "m6",
      "m7", "m8", "m9", "m10"))
    assert(many.queryExecution.executedPlan.toString.contains("arraycountinset"),
      "InSet-branch substitution did not fire")
    // semantics preserved: compare against the interpreted HOF kernel
    // (same spelling with a non-foldable guard that declines the rule)
    val raw = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "),
        w => w.isin(lit("table"), lit("row")) && length(w) >= 0)).as("n"))
    assert(!raw.queryExecution.executedPlan.toString.contains("arraycountinset"))
    val subbed = few.orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(subbed == raw.orderBy("doc_id").as[(Long, Int)].collect().toSeq)
    assert(subbed == many.orderBy("doc_id").as[(Long, Int)].collect().toSeq)
    assert(subbed.exists(_._2 > 0), "fixture must contain marker tokens")
  }

  test("spark.sql.extensions injection path registers nearest_centroids") {
    TestSpark.spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val got = s2.sql("""SELECT nearest_centroids(array(0.6D, 0.8D),
          array(named_struct('cluster', 7L, 'c', array(1.0D, 0.0D)),
                named_struct('cluster', 4L, 'c', array(0.0D, 1.0D))), 1) AS near""")
        .collect()(0).getSeq[Long](0)
      assert(got == Seq(4L))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("spark.sql.extensions injection path registers the function in a fresh session") {
    // reuse the shared SparkContext but build a NEW session with the
    // extensions applied (the config-file deployment path).
    TestSpark.spark // ensure context exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      Seq((Seq(1.0f, 2.0f), Seq(5.0f, 6.0f))).toDF("a", "b").createOrReplaceTempView("v2")
      val got = s2.sql("SELECT dot_product(a, b) AS d FROM v2").as[Double].collect()(0)
      assert(got == 17.0)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
