package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

class VersionedParquetStoreSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot() =
    tempDir("graft-vstore").toString + "/users"

  test("merge commits last-write-wins snapshots; readers see whole versions") {
    val root = freshRoot()
    assert(VersionedParquetStore.read(spark, root).isEmpty)

    val base = Seq(("ada", "h1", 1.0), ("bob", "h2", 2.0))
      .toDF("username", "password_hash", "expires_at")
    VersionedParquetStore.merge(spark, root, base)
    val v0 = VersionedParquetStore.read(spark, root).get
    assert(v0.count() == 2)

    // whole-doc overwrite for ada + insert for eve (K2 set semantics)
    val updates = Seq(("ada", "h9", 9.0), ("eve", "h3", 3.0))
      .toDF("username", "password_hash", "expires_at")
    val merged = VersionedParquetStore.merge(spark, root, updates)
    val got = merged.select("username", "password_hash")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("ada" -> "h9", "bob" -> "h2", "eve" -> "h3"))

    // the pre-merge snapshot handle still reads its own version intact:
    // snapshots are immutable, the pointer swap is the only mutation
    assert(v0.count() == 2)
    assert(VersionedParquetStore.read(spark, root).get.count() == 3)
  }

  test("a concurrent pointer bump between write and swap aborts the commit") {
    val root = freshRoot()
    val base = Seq(("ada", "h1", 1.0)).toDF("username", "password_hash", "expires_at")
    VersionedParquetStore.merge(spark, root, base)

    val u1 = Seq(("bob", "h2", 2.0)).toDF("username", "password_hash", "expires_at")
    val u2 = Seq(("eve", "h3", 3.0)).toDF("username", "password_hash", "expires_at")
    // the race: another writer commits after this merge wrote its
    // snapshot but before it swapped the pointer
    val ex = intercept[IllegalStateException] {
      VersionedParquetStore.merge(spark, root, u2,
        beforeCommit = () => { VersionedParquetStore.merge(spark, root, u1); () })
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the winner's commit is intact; the loser's snapshot never visible
    val got = VersionedParquetStore.read(spark, root).get
      .select("username").as[String].collect().toSet
    assert(got == Set("ada", "bob"))
  }

  test("appendPartitioned REFUSES a non-partitioned previous snapshot " +
    "instead of silently dropping the table") {
    // merge() writes FLAT part files: carrying that snapshot by
    // manifest reference would find no bucket= dirs and the commit
    // would swap the pointer to a delta-only view — the whole table
    // silently gone. The layout contract is now enforced, not merely
    // documented (round-14 advice, medium).
    val root = freshRoot()
    val base = Seq((1L, "a", 0L), (2L, "b", 1L))
      .toDF("doc_id", "payload", "bucket")
    VersionedParquetStore.merge(spark, root, base, keyCol = "doc_id")
    val before = VersionedParquetStore.currentVersion(spark, root)
    val delta = Seq((3L, "c", 0L)).toDF("doc_id", "payload", "bucket")
    val ex = intercept[IllegalStateException] {
      VersionedParquetStore.appendPartitioned(spark, root, delta, "bucket")
    }
    assert(ex.getMessage.contains("not bucket=-partitioned"))
    // nothing committed; the flat store is fully intact
    assert(VersionedParquetStore.currentVersion(spark, root) == before)
    assert(VersionedParquetStore.read(spark, root).get.count() == 2)
  }

  test("appendPartitioned refuses a previous snapshot partitioned on a " +
    "DIFFERENT column") {
    val root = freshRoot()
    val base = Seq((1L, "a", 0L)).toDF("doc_id", "payload", "shard")
    VersionedParquetStore.commitSnapshot(spark, root, None, path =>
      base.write.mode("errorifexists").partitionBy("shard").parquet(path))
    val delta = Seq((2L, "b", 0L)).toDF("doc_id", "payload", "bucket")
    val ex = intercept[IllegalStateException] {
      VersionedParquetStore.appendPartitioned(spark, root, delta, "bucket")
    }
    assert(ex.getMessage.contains("shard="))
  }
}
