package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every declared query runs and returns rows at sf0.001, and every
  * oracleSql key has a matching query. Exact-value equivalence is covered by
  * the DuckDB gate (tools/check.py); this keeps `sbt test` self-contained.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession("4")

  val dir = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracleSql without query: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
