package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TempDirs, TestSpark}

/** The IVF STORAGE claim made concrete: SCALE.md says "embeddings at
  * 100 TB should be stored partitioned by centroid id so probes prune
  * at the file level" — this spec writes the inverted file that way and
  * proves a probe's scan actually prunes (PartitionFilters in the scan,
  * non-probed partitions never read) while returning exactly the
  * in-memory probe's rows. */
class AnnStorageSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("centroid-partitioned embedding store prunes probe scans at the file level") {
    val em = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = Ann.kmeansCentroids(em, 4, 2)
    val assigned = em.join(
      Ann.clusterAssignment(em, centroids), Seq("vec_id"))
    val store = tempDir("graft-ivf").toString
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(store)

    // the inverted file landed as one directory per centroid cell
    val cells = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("cluster=")).map(_.getName).sorted
    assert(cells.length >= 2, s"expected >=2 centroid partitions, got ${cells.toSeq}")

    // a probe of one cell must reach the scan as a PARTITION filter —
    // file-level pruning, not a post-scan filter of all rows
    val probed = spark.read.parquet(store).filter(col("cluster") === 1)
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster"),
      s"probe filter did not reach the scan as a partition filter:\n$scan")
    assert(probed.queryExecution.executedPlan.collectLeaves().forall {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.partitionFilters.nonEmpty
      case _ => true
    }, "scan has no partition filters")

    // and the pruned read returns exactly the in-memory assignment's cell
    val expected = assigned.filter(col("cluster") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = probed.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("incremental membership: history bit-stable, batch == frozen-codebook assignment") {
    val em = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val stored = em.filter(col("vec_id") % 4 =!= 0)
    val batch = em.filter(col("vec_id") % 4 === 0)
    val cb = Ann.kmeansCentroids(stored, 5, 2)
    val storedMembers = Ann.clusterAssignment(stored, cb)
    val merged = Ann.incrementalMembers(storedMembers, cb, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // stored rows pass through UNTOUCHED (the frozen-codebook contract)
    val storedMap = storedMembers.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedMap.forall { case (id, c) => merged.get(id).contains(c) })
    // batch rows equal a direct assignment under the same codebook —
    // so the merged index equals a from-scratch rebuild
    val batchMap = Ann.clusterAssignment(batch, cb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchMap.nonEmpty)
    assert(batchMap.forall { case (id, c) => merged.get(id).contains(c) })
    assert(merged.keySet == storedMap.keySet ++ batchMap.keySet)
  }
  test("clusterPurity: majority share, min-label ties, unlabeled dropped") {
    import spark.implicits._
    val assign = Seq(
      (1L, 0L), (2L, 0L), (3L, 0L),      // cluster 0: labels 7,7,9
      (4L, 1L), (5L, 1L),                // cluster 1: labels 3,5 (tie)
      (6L, 2L), (7L, 2L)                 // cluster 2: 8 + unlabeled
    ).toDF("vec_id", "cluster")
    val labels = Seq(
      (1L, 7), (2L, 7), (3L, 9), (4L, 3), (5L, 5), (6L, 8)
    ).toDF("vec_id", "label")
    val got = Ann.clusterPurity(assign, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      0L -> ((3L, 7L, 2L, 666666L)),
      1L -> ((2L, 3L, 1L, 500000L)),   // tie 1-1 -> smaller label 3
      2L -> ((1L, 8L, 1L, 1000000L)))) // unlabeled member dropped
  }

  test("ivfTopK tombstones: deleted ids never returned, slots backfill, base unchanged") {
    val dir = "/root/testdata/sf0.001"
    val em = graft.Tables.load(spark, dir, "embeddings")
    val cb = Ann.kmeansCentroids(em, 5, 2)
    import org.apache.spark.sql.functions.col
    val pred = col("vec_id") < 5 && col("vec_id") % 7 =!= 3
    val ts = em.filter(col("vec_id") % 7 === 3).select("vec_id")
    val base = Ann.ivfTopK(em, cb, pred, 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val del = Ann.ivfTopK(em, cb, pred, 5, 2, Some(ts))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(del.forall(_._2 % 7 != 3), "a tombstoned id was returned")
    // slots backfill: still k rows per query
    assert(del.groupBy(_._1).values.forall(_.length == 5))
    // non-vacuous: the base search DID return tombstoned ids
    assert(base.exists(_._2 % 7 == 3),
      "fixture vacuous: no tombstoned id in the undeleted top-k")
    // survivors keep their relative order: deleting ids never changes
    // the base list's order among non-deleted members
    val baseOrdered = Ann.ivfTopK(em, cb, pred, 5, 2)
      .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(2))).filter(_._2 % 7 != 3)
    val delOrdered = Ann.ivfTopK(em, cb, pred, 5, 2, Some(ts))
      .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(2)))
    // base's surviving prefix per query must be a prefix of the
    // tombstoned list (backfilled tail may add new members)
    for ((q, survivors) <- baseOrdered.groupBy(_._1)) {
      val d = delOrdered.filter(_._1 == q).map(_._2).toSeq
      assert(d.startsWith(survivors.map(_._2).toSeq), s"query $q reordered")
    }
  }
}
