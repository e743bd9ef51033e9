package graft

import org.apache.spark.sql.functions._
import graft.queries.Fixtures.tempDir

/** The scale-adaptive scan fan-out (Tables.scanParallelism /
  * fanOutScan / loadFanned): the r20 optimization that un-pins
  * CPU-heavy narrow pipelines from single-row-group bench inputs
  * WITHOUT adding an exchange to inputs that already scan wide. */
class FanOutSpec extends SparkSpec {

  private def writeParquet(df: org.apache.spark.sql.DataFrame,
                           parts: Int): String = {
    val dir = tempDir("graft_fan")
    df.repartition(parts).write.mode("overwrite").parquet(dir)
    dir
  }

  test("scanParallelism counts row groups across the input's files") {
    import spark.implicits._
    val one = writeParquet((1 to 100).toDF("id"), 1)
    val four = writeParquet((1 to 100).toDF("id"), 4)
    assert(Tables.scanParallelism(spark, one) == 1)
    assert(Tables.scanParallelism(spark, four) == 4)
  }

  test("fanOutScan repartitions a below-parallelism input and is a " +
      "NO-OP on an already-parallel one (same rows either way)") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val narrow = writeParquet((1 to 100).toDF("id"), 1)
    val df = spark.read.parquet(narrow)
    val fanned = Tables.fanOutScan(spark, df, narrow, col("id"))
    assert(fanned.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"),
      "single-row-group input must fan out")
    assert(fanned.rdd.getNumPartitions == cores)
    assert(fanned.select(sum($"id")).head.getLong(0) == 5050L)
    // wide input: plan unchanged — no exchange added
    val wide = writeParquet((1 to 100).toDF("id"), cores + 1)
    val wdf = spark.read.parquet(wide)
    val notFanned = Tables.fanOutScan(spark, wdf, wide, col("id"))
    assert(!notFanned.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"),
      "an input with >= defaultParallelism row groups must not fan out")
    assert(notFanned.select(sum($"id")).head.getLong(0) == 5050L)
  }

  test("loadFanned returns exactly load's rows on a driver table") {
    val dir = "/root/testdata/sf0.001"
    val a = Tables.load(spark, dir, "orders")
    val b = Tables.loadFanned(spark, dir, "orders", "o_orderkey")
    assert(b.count() == a.count())
    assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty)
  }
}
