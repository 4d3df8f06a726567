package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GateFixtures, Tables, TempDirs, TestSpark}
import graft.functions.Similarity
import graft.operators.Ann
import graft.sources.VersionedParquetStore

/** Streaming graph-ANN search (w30) pinned on its two structural
  * claims: (1) BATCHING IS INVISIBLE — the union of per-micro-batch
  * walks over the frozen index equals the one-shot [[Ann.graphSearch]]
  * of all queries (each walk is per-query independent, the index
  * static); (2) the append is IDEMPOTENT under at-least-once replay —
  * re-merging a batch's hits leaves the store bit-identical, because
  * search is a pure function of the frozen index and dropDuplicates
  * on (qid, rnk) is exact, never a choice. */
class GraphSearchStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def em = Tables.load(spark, dir, "embeddings")
  private def unitEm = em.select(col("vec_id"),
    Similarity.unit(col("embedding")).as("ue"))

  private def rows(r: DataFrame) = r.collect()
    .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    .toSet

  test("per-batch streamed search equals the one-shot search of all queries") {
    val edges = Ann.knnGraphEdges(em, GateFixtures.rpPlanes, 10)
    val index = Ann.buildLocalGraphIndex(unitEm, edges)
    val tmp = tempDir("graft-w30-spec").toString
    val queries = em.filter(col("vec_id") < 5)
    (0 to 1).foreach(i => queries.filter(col("vec_id") % 2 === i)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i"))
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
    EventStream.searchGraphIndex(stream, index,
      beam = 16, rounds = 6, k = 5, s"$tmp/store", s"$tmp/ckpt")
      .awaitTermination()
    val streamed = rows(VersionedParquetStore.read(spark, s"$tmp/store").get)

    val q = unitEm.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("ue").as("qu"))
    val oneShot = rows(Ann.graphSearch(unitEm, edges, q,
      beam = 16, rounds = 6, k = 5))
    assert(streamed == oneShot, "batching must be invisible to the result")

    // at-least-once replay: re-merge one batch's hits — bit-identical
    val b0 = unitEm.filter(col("vec_id") < 5 && col("vec_id") % 2 === 0)
      .select(col("vec_id").as("qid"), col("ue").as("qu"))
    val replay = Ann.graphSearch(unitEm, edges, b0, 16, 6, 5)
    VersionedParquetStore.merge(spark, s"$tmp/store", replay, "qid",
      combine = (cur, d) => cur.unionByName(d).dropDuplicates("qid", "rnk"))
    assert(rows(VersionedParquetStore.read(spark, s"$tmp/store").get)
      == streamed, "replayed batch must leave the store unchanged")
  }
}
