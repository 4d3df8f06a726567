package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TempDirs, TestSpark}

/** The engine is parquet-first, but a library user switching from the
  * reference will hit CSV and ORC data too — pin that both formats
  * round-trip through the standard spark.read/write paths losslessly
  * (schema applied explicitly on CSV read, as headers carry no types).
  */
class FormatRoundTripSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("nation round-trips through CSV with explicit schema") {
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val dir = tempDir("graft-csv").toString + "/nation"
    nation.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(nation.schema).csv(dir)
    assert(back.schema == nation.schema)
    assert(rows(back) == rows(nation))
  }

  test("orders round-trips through ORC unchanged (incl. timestamps)") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val dir = tempDir("graft-orc").toString + "/orders"
    orders.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == orders.schema)
    assert(rows(back) == rows(orders))
  }
}
