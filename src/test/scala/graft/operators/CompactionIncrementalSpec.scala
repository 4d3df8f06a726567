package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}
import graft.sources.VersionedParquetStore

/** Incremental compaction (applyPlanIncremental) pinned on the claims
  * the e20 gate rests on: (1) ONLY fragmented buckets are rewritten —
  * cold buckets' physical files survive with byte-identical PATHS and
  * mtimes (carried by manifest reference, never opened); (2) contents
  * are preserved and the hot bucket lands as one new file; (3) the
  * no-op fast path commits nothing when the store is already at plan;
  * (4) the optimistic-swap atomicity is inherited (crash between
  * write and swap leaves readers on the old snapshot); (5) vacuum
  * exempts snapshot dirs referenced by a survivor's manifest, and
  * collects them once nothing references them. */
class CompactionIncrementalSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val target = 1000L
  private val rows: Seq[(Long, Long, String)] =
    (0L until 200L).map(i => (i, 37L + (i * 31L) % 211L, s"payload-$i"))

  /** Greedy first-fit bucket per row — the plan, replayed sequentially. */
  private val planned: Seq[(Long, Long, String, Long)] = {
    var acc = 0L
    rows.map { case (id, bytes, p) =>
      val b = acc / target; acc += bytes; (id, bytes, p, b)
    }
  }

  /** Plan-bucketed seed snapshot: bucket 0 fragmented into 4 files,
    * every other bucket already at plan (one file). Returns the store
    * root and the seed snapshot version. */
  private def freshStore(): (String, String) = {
    val root = tempDir("graft-cinc").toString + "/store"
    val df = planned.toDF("id", "bytes", "payload", "bucket")
    VersionedParquetStore.commitSnapshot(spark, root, None, path => {
      df.filter(col("bucket") === 0).repartition(4)
        .write.mode("errorifexists").partitionBy("bucket").parquet(path)
      df.filter(col("bucket") =!= 0).repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(path)
    })
    (root, VersionedParquetStore.currentVersion(spark, root).get)
  }

  private def contents(root: String): Set[(Long, Long, String)] =
    VersionedParquetStore.read(spark, root).get
      .select("id", "bytes", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  /** (absolute path, lastModified) of every parquet file under the
    * seed snapshot's cold (bucket != 0) partition dirs. */
  private def coldFiles(root: String, seedV: String): Map[String, Long] = {
    val snap = new java.io.File(s"$root/$seedV")
    Option(snap.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("bucket=") &&
        d.getName != "bucket=0")
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("only the fragmented bucket is rewritten; cold files keep " +
    "byte-identical paths and mtimes") {
    val (root, seedV) = freshStore()
    val before = contents(root)
    val coldBefore = coldFiles(root, seedV)
    assert(coldBefore.nonEmpty, "seed must have cold buckets")

    Compaction.applyPlanIncremental(spark, root, maxFilesPerBucket = 1)

    assert(contents(root) == before, "compaction must not change contents")
    assert(coldFiles(root, seedV) == coldBefore,
      "cold files must be untouched — same paths, same mtimes")

    val back = VersionedParquetStore.read(spark, root).get
      .withColumn("__f", input_file_name())
    val hotFiles = back.filter(col("bucket") === 0)
      .select("__f").distinct().collect().map(_.getString(0))
    assert(hotFiles.length == 1, s"hot bucket must be one file, got ${hotFiles.length}")
    assert(!hotFiles.head.contains(seedV),
      "the hot bucket's file must be NEW (not under the seed snapshot)")
    val coldRead = back.filter(col("bucket") =!= 0)
      .select("__f").distinct().collect().map(_.getString(0))
    assert(coldRead.nonEmpty && coldRead.forall(_.contains(seedV)),
      "every cold-bucket read must come from the SEED snapshot's files")

    // bucket assignment still equals the plan after the rewrite
    val got = back.select(col("id"), col("bucket").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == planned.map(p => p._1 -> p._4).toMap)
  }

  test("no-op fast path: an already-compact store commits nothing") {
    val (root, _) = freshStore()
    Compaction.applyPlanIncremental(spark, root)
    val v1 = VersionedParquetStore.currentVersion(spark, root)
    val before = contents(root)
    Compaction.applyPlanIncremental(spark, root)
    assert(VersionedParquetStore.currentVersion(spark, root) == v1,
      "a second pass must not commit a new snapshot")
    assert(contents(root) == before)
  }

  test("a crash between write and swap leaves readers on the " +
    "fragmented snapshot") {
    val (root, seedV) = freshStore()
    val before = contents(root)
    val boom = intercept[RuntimeException] {
      Compaction.applyPlanIncremental(spark, root,
        beforeCommit = () => throw new RuntimeException("crash injection"))
    }
    assert(boom.getMessage == "crash injection")
    assert(VersionedParquetStore.currentVersion(spark, root)
      .contains(seedV), "pointer must not move on a failed commit")
    assert(contents(root) == before)
  }

  test("a bucket fragmented ACROSS a schema evolution folds — older " +
    "rows null-pad the appended column (x19+w34 composition)") {
    // seed: one bucket, original schema; append: same bucket, one NEW
    // column. The bucket is now fragmented across a pre-evolution and
    // a post-evolution snapshot — the maintenance pass must fold it
    // (mergeSchema + allowMissingColumns, mirroring readSnapshot), not
    // throw and leave the store permanently uncompactable (round-14
    // advice, medium).
    val root = tempDir("graft-cinc-evo").toString + "/store"
    val seed = Seq((1L, "a", 0L), (2L, "b", 0L))
      .toDF("id", "payload", "bucket")
    VersionedParquetStore.commitSnapshot(spark, root, None, path =>
      seed.write.mode("errorifexists").partitionBy("bucket").parquet(path))
    val evolved = Seq((3L, "c", "EN", 0L))
      .toDF("id", "payload", "lang", "bucket")
    VersionedParquetStore.appendPartitioned(spark, root, evolved, "bucket")

    Compaction.applyPlanIncremental(spark, root, maxFilesPerBucket = 1)

    val back = VersionedParquetStore.read(spark, root).get
    val got = back.select("id", "payload", "lang", "bucket")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(got == Set(
      (1L, "a", None), (2L, "b", None), (3L, "c", Some("EN"))))
    // and the fold actually compacted: bucket 0 is one file now
    val files = back.withColumn("__f", input_file_name())
      .select("__f").distinct().collect()
    assert(files.length == 1,
      s"evolved bucket must fold to one file, got ${files.length}")
  }

  test("vacuum exempts manifest-referenced snapshots, collects them " +
    "once unreferenced") {
    val (root, seedV) = freshStore()
    val before = contents(root)
    Compaction.applyPlanIncremental(spark, root)
    // keep=1 would normally delete the seed; the incremental snapshot's
    // manifest references its cold dirs, so it must survive
    val deleted1 = VersionedParquetStore.vacuum(spark, root, keep = 1)
    assert(!deleted1.contains(seedV),
      "vacuum must not delete a snapshot referenced by a survivor")
    assert(contents(root) == before,
      "the store must remain fully readable after vacuum")
    // a FULL rewrite re-materializes everything; nothing references
    // the seed any more and vacuum may now collect it
    Compaction.applyPlan(spark, root, "id", "bytes", target)
    val deleted2 = VersionedParquetStore.vacuum(spark, root, keep = 1)
    assert(deleted2.contains(seedV),
      "an unreferenced seed must age out of the window")
    assert(contents(root) == before)
  }
}
