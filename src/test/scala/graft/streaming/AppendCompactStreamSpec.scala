package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}
import graft.sources.VersionedParquetStore

/** Streaming append + in-stream compaction (w34) pinned on its
  * structural claims: (1) append is O(batch) — a batch's commit
  * carries the previous snapshot by manifest REFERENCE, so a bucket
  * untouched by later batches keeps its ORIGINAL physical file to the
  * end; (2) compaction folds exactly the buckets the append
  * fragmented — their final file lives in a compaction snapshot, not
  * the append's; (3) replaying a batch is a structural no-op (empty
  * anti-join delta → no commit at all). */
class AppendCompactStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def snapOf(path: String): String =
    "v-[0-9]+-[0-9a-f]+".r.findFirstIn(path).getOrElse(path)

  test("append by reference, compact selectively, absorb replays") {
    val tmp = tempDir("graft-w34-spec").toString
    val root = s"$tmp/store"
    // batch 1: buckets 0 (ids 0-4) and 1 (ids 5-9)
    val b1 = (0L until 10L).map(i => (i, s"t$i", i / 5)).toDF("doc_id", "th", "bucket")
    // batch 2: bucket 1 again (ids 10-12 forced into bucket 1) + bucket 2
    val b2 = Seq((10L, "t10", 1L), (11L, "t11", 1L), (12L, "t12", 2L))
      .toDF("doc_id", "th", "bucket")
    (Seq(b1, b2).zipWithIndex).foreach { case (b, i) =>
      b.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b$i")
      Option(new java.io.File(s"$tmp/in/b$i").listFiles())
        .foreach(_.foreach(_.setLastModified(1700000000000L + i * 60000L)))
    }
    val schema = spark.read.parquet(s"$tmp/in/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tmp/in/*")
    EventStream.appendCompactStore(stream, root, 1, s"$tmp/ckpt")
      .awaitTermination()

    val back = VersionedParquetStore.read(spark, root).get
      .withColumn("__f", input_file_name())
    val rows = back.select("doc_id", "th").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == (b1.select("doc_id", "th").collect() ++
      b2.select("doc_id", "th").collect())
      .map(r => (r.getLong(0), r.getString(1))).toSet,
      "content must equal the union of the batches")

    val byBucket = back.select(col("bucket").cast("long"), col("__f"))
      .collect().map(r => r.getLong(0) -> snapOf(r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    assert(byBucket.values.forall(_.size == 1),
      s"every bucket must be one file: $byBucket")
    // bucket 0 (only batch 1) keeps its ORIGINAL append file; bucket 1
    // (fragmented by batch 2) was folded into a LATER snapshot;
    // bucket 2 (only batch 2) keeps batch 2's append file
    assert(byBucket(0L) != byBucket(1L),
      "the cold bucket must NOT have been rewritten by the compaction")
    assert(byBucket(1L).head > byBucket(0L).head,
      "the fragmented bucket's file must be in a later (compaction) snapshot")

    // replay batch 1: structural no-op — pointer does not move
    val vBefore = VersionedParquetStore.currentVersion(spark, root)
    val seen = spark.read.parquet(s"$tmp/in/b0")
    val cur = VersionedParquetStore.read(spark, root).get
    val delta = seen.join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
    assert(delta.isEmpty, "replayed batch must derive an empty delta")
    assert(VersionedParquetStore.currentVersion(spark, root) == vBefore)
  }
}
