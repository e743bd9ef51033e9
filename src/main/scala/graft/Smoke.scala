package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Fixtures.{moneySum, t}

/** t1-style smoke: run the flagship query on sf0.001 and print its row
  * count (the driver checks rows > 0). */
object Smoke {

  /** Revenue per region: 4-way join (3 broadcast dims) + hash agg. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    // customer grows with the fact — no hard hint (AQE broadcasts it
    // while small, shuffles it at scale); nation/region are true dims
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = entry(spark)
    df.show(20, truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
