package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Fixtures.tempDir

/** The correctness dump must report a query that fails to run, and a
  * failure must not cost the queries beside it their output. */
class VerifySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("dump reports a broken query as failed and still writes the " +
    "healthy query beside it") {
    val out = tempDir("graft_verify")
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_query" -> ((s, d) => Tables.load(s, d, "region")),
      // BenchSpec's probe: raise_error in the FILTER is load-bearing,
      // so no pruning can skip it
      "broken_query" -> ((s, d) =>
        Tables.load(s, d, "region")
          .filter(col("r_regionkey") >
            raise_error(lit("deliberately broken")).cast("int"))))
    val failed = SparkSpec.withExpectedTaskFailures(
      Verify.dump(spark, dir, out, qs))
    assert(failed.keySet == Set("broken_query"))
    assert(failed("broken_query").contains("deliberately broken"),
      failed)
    assert(spark.read.parquet(s"$out/ok_query").count() ==
      Tables.load(spark, dir, "region").count())
    assert(!new java.io.File(s"$out/broken_query/_SUCCESS").exists())
  }
}
