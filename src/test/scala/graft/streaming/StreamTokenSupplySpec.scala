package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TempDirs, TestSpark}
import graft.operators.Dedup
import graft.sources.VersionedParquetStore

/** Streaming token-supply maintenance (w32) pinned on its two
  * structural claims: (1) the aggregated store equals the one-shot
  * batch table (Dedup.dedupTokenSupply) when ingest is id-ordered;
  * (2) replay is absorbed STRUCTURALLY — the counter merge admits
  * only never-seen (source, bucket) keys, so re-running the same
  * batch against the existing stores leaves the supply
  * bit-identical even though the replayed delta itself differs (its
  * digests are now all indexed). */
class StreamTokenSupplySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def supplyOf(root: String): Set[(String, Long, Long, Long, Long)] =
    VersionedParquetStore.read(spark, root).get
      .groupBy("source")
      .agg(sum(col("raw_docs")).as("rd"), sum(col("raw_tokens")).as("rt"),
        sum(col("kept_docs")).as("kd"), sum(col("kept_tokens")).as("kt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  test("streamed supply equals the batch table; replay is absorbed") {
    val docs = Tables.load(spark, dir, "documents")
    val tmp = tempDir("graft-w32-spec").toString
    docs.select(col("doc_id"), col("source"), col("text"),
        lit(0L).as("bucket"))
      .coalesce(1).write.parquet(s"$tmp/in/b0")
    def runOnce(ckpt: String): Unit = {
      val schema = spark.read.parquet(s"$tmp/in/b0").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$tmp/in/*")
      EventStream.maintainTokenSupply(stream, s"$tmp/digests",
        s"$tmp/supply", ckpt).awaitTermination()
    }
    runOnce(s"$tmp/ckpt1")
    val first = supplyOf(s"$tmp/supply")
    val want = Dedup.dedupTokenSupply(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(first == want, "streamed store must equal the batch table")
    // fresh checkpoint => the same file replays as a duplicate batch
    runOnce(s"$tmp/ckpt2")
    assert(supplyOf(s"$tmp/supply") == first,
      "replayed batch must be absorbed, not re-counted")
  }
}
