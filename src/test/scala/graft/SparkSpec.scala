package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Fixtures.tempDir

/** Shared local session for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {

  /** Run `body` with the task-failure loggers OFF, restoring their
    * previous effective levels after — for tests that INTENTIONALLY
    * fail Spark tasks or streaming batches (guard trips, deliberate
    * user-func exceptions) so the EXPECTED ERROR stack traces don't
    * bury a real failure elsewhere in the `sbt test` log. Scoped:
    * an unexpected task failure in any other test still logs. (The
    * Hive-metastore init noise is handled separately in
    * src/test/resources/log4j2.properties — it logs from the isolated
    * Hive classloader's LoggerContext, out of reach from here.) */
  def withExpectedTaskFailures[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val loggers = Seq(
      "org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager",
      "org.apache.spark.util.Utils",
      "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
      "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec",
      "org.apache.spark.sql.execution.datasources.FileFormatWriter",
      "org.apache.spark.sql.execution.streaming.MicroBatchExecution",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "org.apache.spark.broadcast.TorrentBroadcast",
      "org.apache.spark.TaskContextImpl")
    val prev = loggers.map(l => l -> LogManager.getLogger(l).getLevel)
    loggers.foreach(l => Configurator.setLevel(l, Level.OFF))
    try body
    finally prev.foreach { case (l, lv) => Configurator.setLevel(l, lv) }
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // native functions in EVERY derived session (Thrift connections)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // bucketed-table specs use saveAsTable; keep the warehouse out of
      // the repo working tree
      .config("spark.sql.warehouse.dir",
        tempDir("graft_wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
  }
}
