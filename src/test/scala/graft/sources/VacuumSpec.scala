package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Snapshot expiry (VersionedParquetStore.vacuum, the x17 gate)
  * pinned on its safety claims: the pointer target survives
  * unconditionally (even keep = 1 on a long history), content through
  * the pointer is untouched, exactly the aged-out directories are
  * deleted, and keep < 1 is refused. */
class VacuumSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def snapshotDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
      .map(_.getName).sorted.toSeq

  test("expiry keeps the pointer target and the newest window; content intact") {
    val tmp = tempDir("graft-vacuum").toString
    val root = s"$tmp/store"
    (1 to 4).foreach { i =>
      VersionedParquetStore.merge(spark, root,
        Seq((s"u$i", i.toLong)).toDF("username", "v"), "username")
    }
    assert(snapshotDirs(root).size == 4)
    val before = VersionedParquetStore.read(spark, root).get
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expired = VersionedParquetStore.vacuum(spark, root, keep = 1)
    assert(expired.size == 3, "three aged-out snapshots expire")
    val left = snapshotDirs(root)
    assert(left.size == 1, "only the newest (= pointer target) survives")
    val after = VersionedParquetStore.read(spark, root).get
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "expiry must not change the visible table")
    // a second pass is a no-op
    assert(VersionedParquetStore.vacuum(spark, root, keep = 1).isEmpty)
  }

  test("keep < 1 is refused; empty root is a no-op") {
    val tmp = tempDir("graft-vacuum2").toString
    intercept[IllegalArgumentException] {
      VersionedParquetStore.vacuum(spark, s"$tmp/store", keep = 0)
    }
    assert(VersionedParquetStore.vacuum(spark, s"$tmp/none", keep = 2).isEmpty)
  }
}
