package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}
import graft.sources.VersionedParquetStore

/** Compaction EXECUTION (applyPlan) pinned on the three claims the
  * e18 gate rests on: (1) the rewrite is CONTENT-PRESERVING (every
  * row survives, nothing duplicated); (2) the physical layout equals
  * the plan — exactly ONE file per bucket, buckets the greedy
  * first-fit assignment; (3) the swap is ATOMIC — a crash between
  * the snapshot write and the pointer swap leaves the pointer, and
  * every reader, on the OLD snapshot (the orphaned directory is
  * garbage, never visible). */
class CompactionApplySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val target = 1000L
  private val rows: Seq[(Long, Long, String)] =
    (0L until 200L).map(i => (i, 37L + (i * 31L) % 211L, s"payload-$i"))

  private def freshStore(): String = {
    val root = tempDir("graft-capply").toString + "/store"
    // deliberately fragmented seed snapshot: 8 small files
    VersionedParquetStore.merge(spark, root,
      rows.toDF("id", "bytes", "payload").repartition(8), "id")
    root
  }

  private def contents(root: String): Set[(Long, Long, String)] =
    VersionedParquetStore.read(spark, root).get
      .select("id", "bytes", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("applyPlan preserves contents and emits one file per plan bucket") {
    val root = freshStore()
    val before = contents(root)
    Compaction.applyPlan(spark, root, "id", "bytes", target)
    assert(contents(root) == before, "compaction must not change contents")

    val back = VersionedParquetStore.read(spark, root).get
    // exactly one physical file per bucket — the plan, executed
    val perBucket = back
      .withColumn("__f", input_file_name())
      .groupBy("bucket").agg(countDistinct(col("__f")).as("nf"))
      .collect().map(r => r.getLong(1))
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1L),
      s"every bucket must be exactly one file, got ${perBucket.toSeq}")

    // bucket assignment equals the sequential greedy first-fit replay
    var acc = 0L
    val expected = rows.map { case (id, bytes, _) =>
      val b = acc / target; acc += bytes; id -> b
    }.toMap
    val got = back.select(col("id"), col("bucket").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "bucket assignment must equal the plan")
  }

  test("a crash between write and swap leaves readers on the old snapshot") {
    val root = freshStore()
    val before = contents(root)
    val vBefore = VersionedParquetStore.currentVersion(spark, root)
    val boom = intercept[RuntimeException] {
      Compaction.applyPlan(spark, root, "id", "bytes", target,
        beforeCommit = () => throw new RuntimeException("crash injection"))
    }
    assert(boom.getMessage == "crash injection")
    assert(VersionedParquetStore.currentVersion(spark, root) == vBefore,
      "pointer must not move on a failed commit")
    val after = VersionedParquetStore.read(spark, root).get
    assert(after.columns.toSet == Set("id", "bytes", "payload"),
      "reader must still see the OLD (un-bucketed) layout")
    assert(contents(root) == before)
  }

  test("a concurrent commit aborts the swap loudly, winner intact") {
    val root = freshStore()
    // inject a concurrent merge between applyPlan's write and its swap
    val ex = intercept[IllegalStateException] {
      Compaction.applyPlan(spark, root, "id", "bytes", target,
        beforeCommit = () => {
          VersionedParquetStore.merge(spark, root,
            Seq((999L, 1L, "late")).toDF("id", "bytes", "payload"), "id",
            combine = (cur, d) => cur.unionByName(d))
          ()
        })
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the winner (the injected merge) is what readers see
    assert(contents(root).contains((999L, 1L, "late")))
  }
}
