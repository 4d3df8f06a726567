package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalysis

/** Micro-profiler for stage-level timings of the dedup pipeline.
  * Usage: runMain graft.tools.Profile [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val d = Tables.load(spark, sfDir, "documents")
    d.count() // warm

    time("split words only") {
      d.select(size(TextAnalysis.words(col("text")))).agg(sum("size(split(text,  , -1))")).count()
    }
    time("explode word shingles") {
      d.select(col("doc_id"),
        explode(TextAnalysis.wordShingles(TextAnalysis.words(col("text")), 3)).as("sh")).count()
    }
    time("+ md5 x2") {
      d.select(col("doc_id"),
        explode(TextAnalysis.wordShingles(TextAnalysis.words(col("text")), 3)).as("sh"))
        .select(col("doc_id"), md5(concat(lit("0|"), col("sh"))).as("h0"),
          md5(concat(lit("1|"), col("sh"))).as("h1")).count()
    }
    time("+ 8 min aggs (full d2)") {
      graft.SparkEntry.queries("d2_minhash_sig")(spark, sfDir).count()
    }
    time("lead-based shingles") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      d.select(col("doc_id"), posexplode(TextAnalysis.words(col("text"))))
        .withColumnRenamed("col", "w")
        .select(col("doc_id"), col("pos"), concat_ws(" ", col("w"),
          lead("w", 1).over(w), lead("w", 2).over(w)).as("sh"))
        .count()
    }

    // rolling kernel comparison: long partitions (150k rows/key) where
    // the 1200-row window actually fills — the reference's max window.
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TriangularRolling
    val series = spark.range(600000).select(
      (col("id") % 4).as("k"), col("id").as("t"),
      (col("id") % 997).cast("double").as("value"))
    series.count()
    val w = Window.partitionBy("k").orderBy("t")
    time("rolling triang w=1200, O(n) kernel") {
      val v = series.select(TriangularRolling.triangMean(col("value"), w, 1200).as("r"))
        .agg(sum("r")).collect()(0).getDouble(0)
      v.toLong % 1000
    }
    time("rolling triang w=1200, ring-buffer kernel") {
      val v = TriangularRolling.triangMeansFast(series, Seq("k"), Seq("t"),
        Seq("value"), Seq(1200))
        .agg(sum("tri_value_1200")).collect()(0).getDouble(0)
      v.toLong % 1000
    }
    spark.stop()
  }
}
