package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every session-keyed store goes through [[SessionArtifact]], so
  * `SparkEntry.clearCaches` releases it: a `TrieMap` or
  * `ConcurrentLinkedQueue` whose key or element type mentions
  * `SparkSession` anywhere else under src/main/scala is a store that
  * release would miss. */
class SessionStoreGuardSpec extends AnyFunSuite {

  private val store =
    """(TrieMap|ConcurrentLinkedQueue)\s*(\.\s*empty\s*)?\[""".r

  /** The type argument text of every TrieMap/ConcurrentLinkedQueue
    * declaration in `src`. */
  private def storeTypes(src: String): Seq[String] =
    store.findAllMatchIn(src).map { m =>
      var depth = 1
      var i = m.end
      while (i < src.length && depth > 0) {
        if (src(i) == '[') depth += 1 else if (src(i) == ']') depth -= 1
        i += 1
      }
      src.substring(m.end, i - 1)
    }.toSeq

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("the scanner flags a session-keyed store split across lines") {
    val src = """private val c = scala.collection.concurrent.TrieMap
                |    .empty[(SparkSession, String), DataFrame]
                |private val q =
                |  new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, RDD[_])]()
                |private val ok = TrieMap.empty[String, Int]""".stripMargin
    assert(storeTypes(src).map(_.contains("SparkSession")) ===
      Seq(true, true, false))
  }

  test("no session-keyed TrieMap or queue outside SessionArtifact.scala") {
    val files = scalaFiles(new File("src/main/scala"))
    assert(files.exists(_.getName == "SessionArtifact.scala"),
      "run from the repository root")
    val offenders = for {
      f <- files if f.getName != "SessionArtifact.scala"
      t <- storeTypes(new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")) if t.contains("SparkSession")
    } yield s"${f.getPath}: [$t]"
    assert(offenders.isEmpty,
      "declare session stores as SessionArtifacts:\n" + offenders.mkString("\n"))
  }
}
