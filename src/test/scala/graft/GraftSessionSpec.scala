package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.queries.Fixtures.tempDir
import graft.streaming.{Drain, EventStreams}

/** The engine's sessions share one class loader, so a streaming
  * query's cloned session reuses the classes earlier drains compiled;
  * a client's `newSession()` keeps the jars it adds to itself. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private val isolation = "spark.sql.artifact.isolation.enabled"

  test("a streaming query's session runs with artifact isolation off") {
    val dir = tempDir("graft_iso")
    spark.range(3).write.parquet(s"$dir/in")
    val seen = new java.util.concurrent.atomic.AtomicReference[SparkSession]
    val q = spark.readStream.schema("id LONG").parquet(s"$dir/in")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        seen.set(batch.sparkSession) }
      .start()
    Drain.availableNow(q, s"$dir/ckpt")
    val batchSession = Option(seen.get).getOrElse(fail("no batch ran"))
    assert(batchSession ne spark, "a streaming query runs in a cloned session")
    assert(batchSession.conf.get(isolation) == "false")
  }

  test("a second AvailableNow drain of the same transform compiles no " +
    "generated class again") {
    val dir = tempDir("graft_recompile")
    Seq((1L, "view", 1.0), (2L, "click", 2.0), (3L, "view", 4.0))
      .toDF("event_id", "event_type", "value").write.parquet(s"$dir/in")
    def drain(name: String): Set[(String, Long, Double)] = {
      val stream = spark.readStream.schema("event_id LONG, " +
        "event_type STRING, value DOUBLE").parquet(s"$dir/in")
      EventStreams.runAvailableNow(
        stream.filter($"value" > 0).groupBy("event_type")
          .agg(count("*").as("n"), sum("value").as("total")),
        queryName = name, checkpoint = s"$dir/ckpt_$name",
        outputMode = OutputMode.Complete())
        .as[(String, Long, Double)].collect().toSet
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = drain("recompile_a")
    val before = compiles.getCount
    val second = drain("recompile_b")
    assert(compiles.getCount - before == 0,
      "the second drain recompiled generated classes")
    assert(first == second &&
      first == Set(("view", 2L, 5.0), ("click", 1L, 2.0)))
  }

  test("a newSession(), like a Thrift connection's, keeps isolation on: " +
    "a jar it adds reaches its own tasks and the tuned sessions', not " +
    "another connection's") {
    val resource = "graft_session_spec_probe.txt"
    val jar = s"${tempDir("graft_addjar")}/probe.jar"
    val out = new java.util.jar.JarOutputStream(
      new java.io.FileOutputStream(jar))
    try {
      out.putNextEntry(new java.util.jar.JarEntry(resource))
      out.write(Array[Byte](1))
      out.closeEntry()
    } finally out.close()
    def taskSees(s: SparkSession): Boolean = {
      import s.implicits._
      s.range(1).map(_ => Thread.currentThread.getContextClassLoader
        .getResource(resource) != null).collect().head
    }
    val (a, b) = (spark.newSession(), spark.newSession())
    assert(a.conf.get(isolation) == "true" && b.conf.get(isolation) == "true")
    assert(!taskSees(a) && !taskSees(b) && !taskSees(spark))
    a.sql(s"ADD JAR $jar")
    assert(taskSees(a), "the adding connection's tasks miss its jar")
    assert(!taskSees(b), "another connection's tasks see the jar")
    assert(taskSees(spark), "the tuned host's tasks miss the SparkContext jar")
  }
}
