package graft

import org.apache.spark.sql.functions._

/** The bench harness must not be able to report a crashing query as a
  * healthy number (round-3 verdict #3). */
class BenchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("runQueries records a broken query as -1 + error, not a time") {
    val qs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "ok_query" -> ((s, d) => Tables.load(s, d, "region")),
      // The probe must survive ColumnPruning under count() (round-4
      // verdict #1: a raise_error in an unreferenced SELECT column is
      // pruned and the "broken" query succeeds). Putting it in the
      // FILTER condition makes it load-bearing: the error surfaces
      // during count() — at optimization time if ConstantFolding
      // evaluates the foldable raise_error, otherwise per row — and
      // either way runQueries must catch it.
      "broken_query" -> ((s, d) =>
        Tables.load(s, d, "region")
          .filter(col("r_regionkey") >
            raise_error(lit("deliberately broken")).cast("int"))))
    val res = SparkSpec.withExpectedTaskFailures(
      Bench.runQueries(spark, dir, qs))
    val (okSec, okErr) = res("ok_query")
    assert(okSec >= 0.0 && okErr.isEmpty)
    val (badSec, badErr) = res("broken_query")
    assert(badSec == -1.0)
    assert(badErr.exists(_.contains("deliberately broken")), badErr)
  }
}
