package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GateFixtures, Tables, TempDirs, TestSpark}
import graft.functions.Similarity
import graft.operators.Ann
import graft.sources.VersionedParquetStore

/** Streaming retrieval eval (w31) pinned on its two structural
  * claims: (1) BATCHING IS INVISIBLE — per-micro-batch nDCG over the
  * static corpus and gold equals the one-shot batch computation of
  * the same queries (scoring is per-query independent); (2) the
  * append is IDEMPOTENT under at-least-once replay — re-merging a
  * batch's scores leaves the store bit-identical because nDCG is a
  * pure function of (query, corpus, gold). */
class StreamRetrievalEvalSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def em = Tables.load(spark, dir, "embeddings")

  private val k = 5
  private val wts = GateFixtures.dcgWeights(k)
  private val idcg = (1 to k).map(p => (k + 1 - p).toLong * wts(p - 1)).sum

  private def rel = Ann.bruteForceTopK(em, col("vec_id") < 5, k)
    .select(col("qid"), col("neighbor_id"),
      (lit((k + 1).toLong) - col("rnk")).as("rel"))

  private def corpus8 = em.select(col("vec_id"),
    Similarity.unit(slice(col("embedding"), 1, 8)).as("ue"))

  private def batchNdcg: Map[Long, (Long, Long)] = {
    val trunc8 = em.select(col("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    val ranked = Ann.bruteForceTopK(trunc8, col("vec_id") < 5, k)
    val wExpr = (1 to k).foldLeft(lit(0L): org.apache.spark.sql.Column) {
      (acc, p) => when(col("rnk") === p, lit(wts(p - 1))).otherwise(acc) }
    ranked.join(rel, Seq("qid", "neighbor_id"), "left_outer")
      .select(col("qid"), coalesce(col("rel"), lit(0L)).as("rel"),
        wExpr.as("w"))
      .groupBy("qid").agg(sum(col("rel") * col("w")).as("dcg"))
      .select(col("qid"), col("dcg"),
        expr(s"dcg * 1000000 div ${idcg}L").as("ndcg_ppm"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("micro-batched scores equal the one-shot batch computation") {
    val got = graft.SparkEntry
      .queries("w31_stream_retrieval_eval")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == batchNdcg)
    assert(got.nonEmpty && got.keySet == (0L until 5L).toSet)
  }

  test("replayed batch is absorbed: store bit-identical after re-merge") {
    val tmp = tempDir("graft-w31-replay").toString
    val queries8 = em.filter(col("vec_id") < 5)
      .select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    queries8.coalesce(1).write.parquet(s"$tmp/in/b0")
    def runOnce(ckpt: String): Set[(Long, Long, Long)] = {
      val schema = spark.read.parquet(s"$tmp/in/b0").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$tmp/in/*")
      EventStream.scoreRetrievalNdcg(stream, corpus8, rel, k, wts, idcg,
        s"$tmp/store", ckpt).awaitTermination()
      VersionedParquetStore.read(spark, s"$tmp/store").get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    }
    val first = runOnce(s"$tmp/ckpt1")
    // fresh checkpoint => the same files replay as a "duplicate" batch
    val second = runOnce(s"$tmp/ckpt2")
    assert(second == first, "replay must be absorbed, not appended")
  }
}
