package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Shallow clone (x20) pinned on its contract: the clone's first
  * snapshot is METADATA ONLY (one manifest, zero data files) yet reads
  * the source's bytes; the fork is independent both ways; references
  * are flattened when the source itself carries a manifest; and the
  * documented cross-root hazard is REAL — a vacuum on the source
  * cannot see the clone's references and collects the shared files. */
class CloneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTmp() =
    tempDir("graft-clone").toString

  private def seed(root: String, ids: Range): Unit =
    VersionedParquetStore.commitSnapshot(spark, root, None,
      path => ids.map(i => (i.toLong, i.toLong % 3, s"p$i"))
        .toDF("id", "bucket", "payload")
        .write.mode("errorifexists").partitionBy("bucket").parquet(path))

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("clone is metadata-only, reads the source's bytes, and the " +
    "fork is independent both ways") {
    val tmp = freshTmp()
    val (src, cln) = (s"$tmp/source", s"$tmp/clone")
    seed(src, 0 until 30)
    VersionedParquetStore.shallowClone(spark, src, cln)

    // metadata-only: the clone's snapshot dir holds ONLY the manifest
    val snap = new java.io.File(cln).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-")).head
    // only the manifest (plus the local FS's .crc sidecar) — zero
    // data files, zero partition dirs
    assert(snap.listFiles().forall(f =>
      f.isFile && f.getName.stripPrefix(".").startsWith("_MANIFEST")),
      snap.listFiles().map(_.getName).mkString(", "))

    val back = VersionedParquetStore.read(spark, cln).get
    assert(idsOf(back) == (0L until 30L).toSet)
    // every clone row is served from a physical file under the source
    val files = back.withColumn("__f", input_file_name())
      .select("__f").as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("/source/")))

    // clone append -> source unchanged; source append -> clone unchanged
    VersionedParquetStore.appendPartitioned(spark, cln,
      Seq((100L, 1L, "c")).toDF("id", "bucket", "payload"), "bucket")
    VersionedParquetStore.appendPartitioned(spark, src,
      Seq((200L, 2L, "s")).toDF("id", "bucket", "payload"), "bucket")
    assert(idsOf(VersionedParquetStore.read(spark, cln).get) ==
      (0L until 30L).toSet + 100L)
    assert(idsOf(VersionedParquetStore.read(spark, src).get) ==
      (0L until 30L).toSet + 200L)
  }

  test("cloning a source that itself carries a manifest flattens the " +
    "references (no chains)") {
    val tmp = freshTmp()
    val (src, cln) = (s"$tmp/source", s"$tmp/clone")
    seed(src, 0 until 10)
    // source gains an append-path snapshot (own delta + manifest refs)
    VersionedParquetStore.appendPartitioned(spark, src,
      Seq((50L, 0L, "d")).toDF("id", "bucket", "payload"), "bucket")
    VersionedParquetStore.shallowClone(spark, src, cln)
    val v = VersionedParquetStore.currentVersion(spark, cln).get
    val refs = VersionedParquetStore.manifestRefs(spark, cln, v)
    // every reference resolves to a physical dir with data, never to
    // another manifest-carrying snapshot root
    assert(refs.nonEmpty)
    assert(idsOf(VersionedParquetStore.read(spark, cln).get) ==
      (0L until 10L).toSet + 50L)
  }

  test("the documented hazard is real: vacuum on the SOURCE collects " +
    "snapshots only the clone references") {
    val tmp = freshTmp()
    val (src, cln) = (s"$tmp/source", s"$tmp/clone")
    seed(src, 0 until 10)
    val clonedV = VersionedParquetStore.currentVersion(spark, src).get
    VersionedParquetStore.shallowClone(spark, src, cln)
    // source moves on: a full rewrite (same schema, keyed on id)
    // makes the cloned snapshot unreferenced WITHIN the source root
    VersionedParquetStore.merge(spark, src,
      (0 until 10).map(i => (i.toLong, i.toLong % 3, s"v2-$i"))
        .toDF("id", "bucket", "payload"),
      keyCol = "id",
      combine = (cur, upd) => upd.unionByName(
        cur.join(upd.select("id"), Seq("id"), "left_anti")))
    val deleted = VersionedParquetStore.vacuum(spark, src, keep = 1)
    assert(deleted.contains(clonedV),
      "vacuum cannot see cross-root references — the hazard the " +
        "scaladoc documents must actually exist, or the doc is wrong")
  }

  test("materialize is the hazard's remedy: a materialized clone " +
    "survives source vacuum") {
    val tmp = freshTmp()
    val (src, cln) = (s"$tmp/source", s"$tmp/clone")
    seed(src, 0 until 12)
    VersionedParquetStore.shallowClone(spark, src, cln)
    VersionedParquetStore.materialize(spark, cln, "bucket")
    // source moves on with a FULL REWRITE (no within-root references
    // keep the old snapshot alive) and vacuum COLLECTS the snapshot
    // the clone used to reference — the materialized clone no longer
    // cares
    val clonedV = VersionedParquetStore.currentVersion(spark, src).get
    VersionedParquetStore.merge(spark, src,
      (0 until 12).map(i => (i.toLong, i.toLong % 3, s"v2-$i"))
        .toDF("id", "bucket", "payload"),
      keyCol = "id",
      combine = (cur, upd) => upd.unionByName(
        cur.join(upd.select("id"), Seq("id"), "left_anti")))
    val deleted = VersionedParquetStore.vacuum(spark, src, keep = 1)
    assert(deleted.contains(clonedV), "precondition: the shared " +
      "snapshot must actually be collected for this test to bite")
    val back = VersionedParquetStore.read(spark, cln).get
    assert(idsOf(back) == (0L until 12L).toSet)
    val files = back.withColumn("__f", input_file_name())
      .select("__f").as[String].collect()
    assert(files.forall(_.contains("/clone/")),
      "after materialize every row must be served from clone-owned files")
  }

  test("a FLAT (merge-written) source clones too: file-level " +
    "references resolve") {
    // the e18 gate forks a flat 64-file seed per call — the clone's
    // manifest references bare part FILES, not partition dirs
    val tmp = freshTmp()
    val (src, cln) = (s"$tmp/source", s"$tmp/clone")
    VersionedParquetStore.merge(spark,
      src, (0 until 20).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartition(8),
      keyCol = "id")
    VersionedParquetStore.shallowClone(spark, src, cln)
    val back = VersionedParquetStore.read(spark, cln).get
    assert(idsOf(back) == (0L until 20L).toSet)
    val files = back.withColumn("__f", input_file_name())
      .select("__f").as[String].distinct().collect()
    assert(files.length > 1 && files.forall(_.contains("/source/")),
      "multi-file flat source must be served from source files")
  }

  test("cloning onto an existing store refuses loudly") {
    val tmp = freshTmp()
    val (src, cln) = (s"$tmp/source", s"$tmp/clone")
    seed(src, 0 until 5)
    VersionedParquetStore.shallowClone(spark, src, cln)
    val ex = intercept[IllegalStateException] {
      VersionedParquetStore.shallowClone(spark, src, cln)
    }
    assert(ex.getMessage.contains("already has snapshot"))
  }
}
