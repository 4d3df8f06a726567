package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` environment variable and `spark.graft.*` conf
  * named anywhere in `src/main`, pinned: a new knob (or a removed one)
  * changes this set, so it shows up in review as an edit here. */
class KnobCensusSpec extends AnyFunSuite {
  private val mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def census(pattern: String): Set[String] = {
    val re = pattern.r
    mainSources.flatMap(p =>
      re.findAllIn(new String(Files.readAllBytes(p), "UTF-8"))).toSet
  }

  test("the SPARK_GRAFT_* environment variables") {
    assert(census("SPARK_GRAFT_[A-Z0-9_]+") == Set(
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_HEAVY",
      "SPARK_GRAFT_BENCH_BUDGET", "SPARK_GRAFT_HEAVY_DIR",
      "SPARK_GRAFT_LEDGER", "SPARK_GRAFT_HEAVY_DEADLINE_MS",
      "SPARK_GRAFT_WARM_DIR"))
  }

  test("the spark.graft.* confs") {
    assert(census("""spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""") == Set(
      "spark.graft.stream.stateParts", "spark.graft.checkpoint.reliable",
      "spark.graft.ann.localIndexMaxMb"))
  }

  test("SPARK_DRIVER_MEM is build.sbt's alone") {
    assert(census("SPARK_DRIVER_MEM").isEmpty)
  }
}
