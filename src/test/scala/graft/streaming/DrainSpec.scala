package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class DrainSpec extends SparkSpec {

  /** A stall that outlives `stallMs` fails; 2 s is the seam's stall. */
  private val stallMs = 2000L

  /** Drain an AvailableNow `foreachBatch` over `files` one-row parquet
    * files, `maxFiles` per batch; returns the batch ids it saw and the
    * wall time of the wait. */
  private def drain(name: String, files: Int, maxFiles: Int)
                   (batch: DataFrame => Unit): (Seq[Long], Long) = {
    val dir = tempDir(s"graft_$name")
    (0 until files).foreach(i =>
      spark.range(i, i + 1).coalesce(1).write.mode("append")
        .parquet(s"$dir/in"))
    val checkpoint = s"$dir/ckpt"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val q = spark.readStream.schema("id LONG")
      .option("maxFilesPerTrigger", maxFiles.toLong)
      .parquet(s"$dir/in")
      .writeStream
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => batch(b); seen.add(id); () }
      .start()
    val t0 = System.nanoTime()
    try Drain.availableNow(q, checkpoint, stallMs)
    finally if (q.isActive) q.stop()
    (seen.asScala.toSeq,
      (System.nanoTime() - t0) / 1000000L)
  }

  test("a stalled AvailableNow drain fails once it makes no progress " +
    "for the stall limit, stopped, naming the query, its last batch id " +
    "and its checkpoint") {
    val t0 = System.nanoTime()
    val ex = SparkSpec.withExpectedTaskFailures {
      intercept[IllegalStateException] {
        drain("drain_stall", files = 1, maxFiles = 1)(_ =>
          Thread.sleep(600000L))
      }
    }
    val tookMs = (System.nanoTime() - t0) / 1000000L
    // the wait ends one stall after the last progress; stop() then ends
    // the sleeping batch by interrupting it, far inside the 10-minute
    // stall
    assert(tookMs >= stallMs && tookMs < stallMs + 30000L, s"$tookMs ms")
    Seq("drain_stall", "no progress for 2000 ms",
      "last completed batch id none", "graft_drain_stall",
      "ckpt); it was stopped")
      .foreach(s => assert(ex.getMessage.contains(s), ex.getMessage))
    assert(spark.streams.active.isEmpty,
      spark.streams.active.map(_.name).mkString(", "))
  }

  test("a drain that keeps completing batches runs past the stall limit") {
    val (batches, tookMs) = drain("drain_batches", files = 5, maxFiles = 1)(
      _ => Thread.sleep(stallMs / 3))
    assert(batches == (0L until 5L), batches)
    assert(tookMs > stallMs, s"$tookMs ms: the drain never outlived a stall")
  }

  test("one long batch whose jobs keep completing tasks runs past the " +
    "stall limit") {
    val napMs = stallMs / 3
    val (batches, tookMs) = drain("drain_tasks", files = 1, maxFiles = 1) {
      b => (1 to 5).foreach(_ => b.sparkSession.sparkContext
        .parallelize(Seq(1), 1).foreach(_ => Thread.sleep(napMs)))
    }
    assert(batches == Seq(0L), batches)
    assert(tookMs > stallMs, s"$tookMs ms: the batch never outlived a stall")
  }
}
