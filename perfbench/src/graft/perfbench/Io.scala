package graft.perfbench

import java.io.File
import java.nio.file.Files

/** File-tree helpers for staging, restoring and sizing outputs. */
object Io {

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Every regular file under `root` (relative path -> bytes). */
  def files(root: File): Map[String, Long] = {
    if (!root.exists()) return Map.empty
    val base = root.toPath
    val out = Map.newBuilder[String, Long]
    Files.walk(base).forEach { p =>
      if (Files.isRegularFile(p)) out += base.relativize(p).toString -> Files.size(p)
    }
    out.result()
  }

  /** Files under `root` that are data, not Spark's commit markers or checksums. */
  def dataFiles(root: File): Map[String, Long] =
    files(root).filter { case (k, _) =>
      val name = new File(k).getName
      !name.startsWith(".") && !name.startsWith("_")
    }

  def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
}
