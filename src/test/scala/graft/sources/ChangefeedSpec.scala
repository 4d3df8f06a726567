package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Changefeed (x22) pinned on its contract: the feed between two
  * versions is exactly the appended rows, served from post-cursor
  * files only; the identity feed is empty; the feed composes across
  * multiple appends; and the REFUSAL half — a rewrite (materialize /
  * full-rewrite commit) between the cursors makes file arithmetic
  * lie, so the feed must throw rather than re-emit the table. */
class ChangefeedSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTmp() =
    tempDir("graft-cf").toString

  private def batch(ids: Range) =
    ids.map(i => (i.toLong, i.toLong % 3, s"p$i"))
      .toDF("id", "bucket", "payload")

  private def seed(root: String, ids: Range): Unit =
    VersionedParquetStore.commitSnapshot(spark, root, None,
      path => batch(ids).write.mode("errorifexists")
        .partitionBy("bucket").parquet(path))

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("feed is exactly the appended rows, from post-cursor files, " +
    "and the identity feed is empty") {
    val root = s"${freshTmp()}/store"
    seed(root, 0 until 20)
    val v0 = VersionedParquetStore.currentVersion(spark, root).get
    VersionedParquetStore.appendPartitioned(spark, root,
      batch(100 until 110), "bucket")
    val v1 = VersionedParquetStore.currentVersion(spark, root).get
    VersionedParquetStore.appendPartitioned(spark, root,
      batch(200 until 205), "bucket")
    val v2 = VersionedParquetStore.currentVersion(spark, root).get

    val feed01 = VersionedParquetStore.changefeed(spark, root, v0, v1)
    assert(idsOf(feed01) == (100L until 110L).toSet)
    // partition column recovered identically to a snapshot read
    assert(feed01.columns.sorted.toSeq == Seq("bucket", "id", "payload"))

    val feed02 = VersionedParquetStore.changefeed(spark, root, v0, v2)
    assert(idsOf(feed02) ==
      (100L until 110L).toSet ++ (200L until 205L).toSet)
    // provenance: zero feed rows served from the base snapshot's files
    val files = feed02.withColumn("__f", input_file_name())
      .select("__f").as[String].collect()
    assert(files.nonEmpty && !files.exists(_.contains(s"/$v0/")))

    assert(VersionedParquetStore.changefeed(spark, root, v0, v0).count() == 0L)
    assert(VersionedParquetStore.changefeed(spark, root, v2, v2).count() == 0L)
  }

  test("a rewrite between the cursors is refused, not re-emitted") {
    val root = s"${freshTmp()}/store"
    seed(root, 0 until 12)
    val v0 = VersionedParquetStore.currentVersion(spark, root).get
    VersionedParquetStore.appendPartitioned(spark, root,
      batch(50 until 55), "bucket")
    // materialize rewrites every row into fresh store-owned files —
    // v0's units vanish from the current manifest closure
    VersionedParquetStore.materialize(spark, root, "bucket")
    val v2 = VersionedParquetStore.currentVersion(spark, root).get
    val ex = intercept[IllegalStateException] {
      VersionedParquetStore.changefeed(spark, root, v0, v2)
    }
    assert(ex.getMessage.contains("rewritten"))
    // the feed FROM the rewrite onward works again
    VersionedParquetStore.appendPartitioned(spark, root,
      batch(300 until 303), "bucket")
    val v3 = VersionedParquetStore.currentVersion(spark, root).get
    assert(idsOf(VersionedParquetStore.changefeed(spark, root, v2, v3)) ==
      (300L until 303L).toSet)
  }
}
