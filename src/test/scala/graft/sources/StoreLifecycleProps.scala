package graft.sources

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import org.apache.spark.sql.functions._

import graft.TestSpark

/** MODEL-BASED property over the store lifecycle: random sequences of
  * the append-path operations — O(batch) append, incremental
  * compaction, snapshot expiry, zero-copy clone (work continues on
  * the clone) — checked after EVERY step against an in-memory model
  * of the table. The per-operation specs pin each member alone; this
  * pins that ANY interleaving composes: manifests chain and flatten,
  * vacuum never tears a referenced snapshot, clones stay readable
  * while their source root is left behind (never vacuumed — the
  * documented hazard contract), and compaction folds exactly to plan.
  *
  * Kept small (tiny batches, short sequences, 8 cases) — the value is
  * the interleaving coverage, not the volume. */
object StoreLifecycleProps extends Properties("store-lifecycle") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private sealed trait Op
  private case class Append(n: Int) extends Op
  private case class Compact(maxFiles: Int) extends Op
  private case class Vacuum(keep: Int) extends Op
  private case object Clone extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> Gen.chooseNum(1, 6).map(Append),
    3 -> Gen.chooseNum(1, 2).map(Compact),
    2 -> Gen.chooseNum(1, 3).map(Vacuum),
    2 -> Gen.const(Clone))

  private val genOps: Gen[List[Op]] =
    Gen.chooseNum(3, 7).flatMap(n => Gen.listOfN(n, genOp))

  property("any append/compact/vacuum/clone interleaving preserves " +
    "contents and readability") = forAll(genOps) { ops =>
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-lifecycle").toFile
    val tmp = tmpDir.toString
    try {
      var root = s"$tmp/r0"
      var rootSeq = 0
      var nextId = 0L
      var model = Map.empty[Long, (Long, String)]

      def appendRows(n: Int): Unit = {
        val rows = (0 until n).map { _ =>
          val id = nextId; nextId += 1
          id -> (id % 3, s"p$id")
        }
        model ++= rows
        val df = rows.map { case (id, (b, p)) => (id, b, p) }
          .toDF("id", "bucket", "payload")
        if (VersionedParquetStore.currentVersion(spark, root).isEmpty)
          VersionedParquetStore.commitSnapshot(spark, root, None,
            path => df.write.mode("errorifexists")
              .partitionBy("bucket").parquet(path))
        else
          VersionedParquetStore.appendPartitioned(spark, root, df, "bucket")
      }

      def contents(): Map[Long, (Long, String)] =
        VersionedParquetStore.read(spark, root) match {
          case None => Map.empty
          case Some(df) => df
            // partition-dir values read back as INT — normalize
            .select(col("id"), col("bucket").cast("long"), col("payload"))
            .collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
        }

      appendRows(3) // every sequence starts on a live partitioned store
      val ok = (contents() == model) && ops.forall { op =>
        op match {
          case Append(n) => appendRows(n)
          case Compact(maxFiles) =>
            graft.operators.Compaction
              .applyPlanIncremental(spark, root, maxFiles)
            ()
          case Vacuum(keep) =>
            // only ever the CURRENT root: vacuuming an abandoned source
            // root under a live clone is the documented hazard, not a
            // legal maintenance move (CloneSpec pins that it really
            // tears) — the model test exercises the legal surface
            VersionedParquetStore.vacuum(spark, root, keep)
            ()
          case Clone =>
            rootSeq += 1
            val next = s"$tmp/r$rootSeq"
            VersionedParquetStore.shallowClone(spark, root, next)
            root = next
        }
        contents() == model
      }
      // terminal deep check: a materialize at the end always succeeds
      // and preserves contents with zero cross-root references left
      VersionedParquetStore.materialize(spark, root, "bucket")
      val matOk = contents() == model && {
        val back = VersionedParquetStore.read(spark, root).get
          .withColumn("__f", input_file_name())
          .select("__f").as[String].collect()
        back.forall(_.contains(s"/r$rootSeq/"))
      }
      ok && matOk
    } finally graft.SessionArtifact.rmTree(tmpDir)
  }
}
