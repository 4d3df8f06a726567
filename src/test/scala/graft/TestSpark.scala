package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for the whole test run. */
object TestSpark {
  private lazy val warehouse = {
    val d = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(SessionArtifact.rmTree(d))
    d
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", // static conf; tests write bucketed tables
      warehouse.toString)
    .getOrCreate()
}

/** Temp directories that go away when the spec ends: [[tempDir]] makes
  * a new directory under java.io.tmpdir and records it, and `afterAll`
  * deletes every recorded directory with its contents. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[File]()

  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d.toFile)
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      var d = made.poll()
      while (d != null) {
        SessionArtifact.rmTree(d)
        d = made.poll()
      }
    }
}
