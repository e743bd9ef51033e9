package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.GraftThriftBridge

/** JDBC/Thrift front door (BASELINE "Spark SQL + JDBC"): registers the
  * tables + native functions on a session and serves it over the
  * HiveServer2 wire protocol — beeline, hive-jdbc, or any BI tool
  * connects with `jdbc:hive2://host:port`. `singleSession` shares the
  * main session's temp views and registered functions with every
  * connection (the registered-catalog model SqlRunner uses, over a
  * socket instead of stdin).
  *
  * Usage: runMain graft.JdbcServer <dataDir> [port]
  */
object JdbcServer {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).getOrElse("10000")
    val spark = GraftSession.local()
    start(spark, dataDir, port)
    println(s"[jdbc] thrift server on port $port; Ctrl-C to stop")
    Thread.currentThread().join() // serve until killed
  }

  /** Register tables + start the server on `port`; returns an opaque
    * server handle for [[stop]] (the server class is private[hive]).
    * Tables register BOTH as session temp views (for the hosting
    * session) and as global temp views, because each JDBC connection
    * gets its own derived session — clients query
    * `global_temp.<table>`. */
  def start(spark: SparkSession, dataDir: String, port: String): AnyRef = {
    Tables.registerAll(spark, dataDir)
    Tables.registerAllGlobal(spark, dataDir)
    spark.sqlContext.setConf("hive.server2.thrift.port", port)
    GraftThriftBridge.start(spark.sqlContext)
  }

  def stop(server: AnyRef): Unit = GraftThriftBridge.stop(server)
}
