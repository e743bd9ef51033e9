package graft.clif

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** The incremental capstone materialization's two contracts, proven
  * across real AvailableNow invocations:
  *   1. EXACTLY-ONCE — a second wave of files is folded in without
  *      reprocessing the first (and an invocation with no new files
  *      changes nothing);
  *   2. BATCH EQUALITY — the final grid equals the one-shot
  *      [[BlockedDataset.build]] over all events, row for row. */
class BlockedDatasetIncrementalSpec extends SparkSpec {

  private val channels = Seq(
    BlockedDataset.Channel("click", "vital_value", 7200L),
    BlockedDataset.Channel("purchase", "lab_value", 86400L))

  private def params = BlockedDatasetIncremental.Params(
    encCol = "user_id", tsCol = "ts", channelCol = "event_type",
    valueCol = "value", tiebreak = "event_id",
    channels = channels, stepSeconds = 3600L,
    outcome = col("event_type") === "error", rollRows = 4,
    trainPct = 80, valPct = 10)

  // 3 encounters × a few hours of mixed observations; wave 2 extends
  // encounter 2 (its grid must grow) and adds encounter 3 (new), but
  // never touches encounter 1 after wave 1
  private def events(ids: Seq[Long]) = {
    import spark.implicits._
    val all = Seq(
      (1L, "2024-01-01 00:10:00", 1L, "click", 10.0),
      (2L, "2024-01-01 01:20:00", 1L, "purchase", 20.0),
      (3L, "2024-01-01 02:30:00", 1L, "error", 30.0),
      (4L, "2024-01-01 00:05:00", 2L, "click", 11.0),
      (5L, "2024-01-01 00:55:00", 2L, "view", 12.0),
      (6L, "2024-01-01 04:00:00", 2L, "purchase", 13.0),
      (7L, "2024-01-01 06:15:00", 2L, "click", 14.0),
      (8L, "2024-01-02 00:00:00", 3L, "click", 15.0),
      (9L, "2024-01-02 01:30:00", 3L, "error", 16.0))
    all.filter(r => ids.contains(r._1))
      .map { case (id, ts, u, et, v) =>
        (id, java.sql.Timestamp.valueOf(ts), u, et, v)
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("two AvailableNow invocations fold two waves exactly-once and " +
    "land on the batch build; a no-new-files invocation is a no-op") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_bdi_spec"))
    val in = s"$tmp/in"; val work = s"$tmp/work"
    val wave1 = events(Seq(1L, 2L, 3L, 4L, 5L))
    val wave2 = events(Seq(6L, 7L, 8L, 9L))

    wave1.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    val afterW1 = BlockedDatasetIncremental.grid(spark, work)
    // wave-1 state == batch build over wave-1 events only
    val batchW1 = BlockedDataset.build(wave1, "user_id", "ts",
      "event_type", "value", "event_id", channels, 3600L,
      col("event_type") === "error", 4, 80, 10)
    assert(afterW1.exceptAll(batchW1).isEmpty &&
      batchW1.exceptAll(afterW1).isEmpty,
      "wave-1 grid must equal the batch build over wave 1")

    wave2.coalesce(1).write.mode("append").parquet(in)
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    val afterW2 = BlockedDatasetIncremental.grid(spark, work)
    val batchAll = BlockedDataset.build(events((1L to 9L).toSeq),
      "user_id", "ts", "event_type", "value", "event_id", channels,
      3600L, col("event_type") === "error", 4, 80, 10)
    assert(afterW2.exceptAll(batchAll).isEmpty &&
      batchAll.exceptAll(afterW2).isEmpty,
      "final grid must equal the batch build over all events")
    // encounter 2's grid grew across the wave (hour 0 → hour 6)
    assert(afterW2.filter(col("user_id") === 2L).count() == 7,
      "encounter 2 must span 7 grid hours after wave 2")

    // the layout's pruning claim, structurally: a bucket filter on
    // the raw store prunes at FILE-LISTING time (PartitionFilters on
    // the scan, not a post-scan Filter over all bytes)
    val slicePlan = spark.read.parquet(s"$work/raw")
      .filter(col("__bucket") === 0)
      .queryExecution.executedPlan.toString
    assert(slicePlan.contains("PartitionFilters") &&
      slicePlan.contains("__bucket"), slicePlan.take(1500))

    // exactly-once: a third invocation with NO new files is a no-op
    val before = afterW2.orderBy("user_id", "grid_ts").collect().toSeq
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    val after = BlockedDatasetIncremental.grid(spark, work)
      .orderBy("user_id", "grid_ts").collect().toSeq
    assert(after == before,
      "an invocation with no new files must change nothing")
  }

  test("the bucket count is immutable layout: a second invocation " +
    "with a different count is refused instead of corrupting the grid") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_bdi_layout"))
    val in = s"$tmp/in"; val work = s"$tmp/work"
    events(Seq(1L, 2L, 3L)).coalesce(1).write
      .mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    val e = intercept[IllegalArgumentException] {
      BlockedDatasetIncremental.runOnce(spark, in, work, schema,
        params, buckets = 8)
    }
    assert(e.getMessage.contains("buckets=4"), e.getMessage)
  }

  test("raw-store append is idempotent under batch replay: " +
    "re-applying the same wave's files overwrites, never duplicates") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_bdi_replay"))
    val in = s"$tmp/in"; val work = s"$tmp/work"
    val wave1 = events(Seq(1L, 2L, 3L, 4L, 5L))
    wave1.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    val rawBefore = spark.read.parquet(s"$work/raw").count()
    // simulate a crash-replay of micro-batch 0: wipe ONLY the stream
    // checkpoint so the same files re-enter as the same batch id —
    // the dynamic-overwrite raw append must land on identical state
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$work/_checkpoints"))
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    assert(spark.read.parquet(s"$work/raw").count() == rawBefore,
      "replaying a batch must overwrite its own partitions, not append")
    val batchW1 = BlockedDataset.build(wave1, "user_id", "ts",
      "event_type", "value", "event_id", channels, 3600L,
      col("event_type") === "error", 4, 80, 10)
    val grid = BlockedDatasetIncremental.grid(spark, work)
    assert(grid.exceptAll(batchW1).isEmpty &&
      batchW1.exceptAll(grid).isEmpty,
      "replayed grid must still equal the batch build")
  }

  test("raw-store compaction folds closed batches into one bounded " +
    "per-bucket generation; recomputes read the compacted base " +
    "bit-identically and exactly-once survives compact-then-append") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_bdi_compact"))
    val in = s"$tmp/in"; val work = s"$tmp/work"
    def rawBatchDirs(): Set[String] =
      new java.io.File(s"$work/raw").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("__batch=")).toSet
    def rawParquetCount(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$work/raw"))
        .count(_.getName.endsWith(".parquet"))
    }
    // waves 1+2 land as two committed batches
    events(Seq(1L, 2L, 3L)).coalesce(1).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    events(Seq(4L, 5L, 6L, 7L)).coalesce(1).write.mode("append").parquet(in)
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    assert(rawBatchDirs() == Set("__batch=0", "__batch=1"), rawBatchDirs())
    val gridBefore = BlockedDatasetIncremental.grid(spark, work)
      .orderBy("user_id", "grid_ts").collect().toSeq

    // compaction 1: both closed batches fold into generation -1; the
    // grid store is untouched; file count is bounded by the bucket
    // layout (one split per bucket at this scale)
    assert(BlockedDatasetIncremental.compactRaw(spark, work, params))
    assert(rawBatchDirs() == Set("__batch=-1"), rawBatchDirs())
    assert(rawParquetCount() <= 4, s"files=${rawParquetCount()}")
    assert(BlockedDatasetIncremental.grid(spark, work)
      .orderBy("user_id", "grid_ts").collect().toSeq == gridBefore,
      "compaction must not change the grid")
    // immediate re-compaction: nothing new is closed -> no-op
    assert(!BlockedDatasetIncremental.compactRaw(spark, work, params))

    // wave 3 AFTER compaction: the recompute reads compacted base +
    // new batch and still equals the one-shot batch build
    events(Seq(8L, 9L)).coalesce(1).write.mode("append").parquet(in)
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    assert(rawBatchDirs() == Set("__batch=-1", "__batch=2"),
      rawBatchDirs())
    val batchAll = BlockedDataset.build(events((1L to 9L).toSeq),
      "user_id", "ts", "event_type", "value", "event_id", channels,
      3600L, col("event_type") === "error", 4, 80, 10)
    val afterW3 = BlockedDatasetIncremental.grid(spark, work)
    assert(afterW3.exceptAll(batchAll).isEmpty &&
      batchAll.exceptAll(afterW3).isEmpty,
      "post-compaction recompute must equal the batch build")

    // compaction 2 folds generation -1 + batch 2 into -2, still
    // bit-identical, and a no-new-files invocation stays a no-op
    assert(BlockedDatasetIncremental.compactRaw(spark, work, params))
    assert(rawBatchDirs() == Set("__batch=-2"), rawBatchDirs())
    val gridFinal = BlockedDatasetIncremental.grid(spark, work)
      .orderBy("user_id", "grid_ts").collect().toSeq
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    assert(BlockedDatasetIncremental.grid(spark, work)
      .orderBy("user_id", "grid_ts").collect().toSeq == gridFinal,
      "exactly-once must survive a compact-then-rerun sequence")
  }

  test("compaction self-heals crash leftovers: an orphaned _staging " +
    "copy (pre-rename crash) and a half-built generation dir " +
    "(pre-flip crash) are cleared, and the live raw store still " +
    "holds every event exactly once") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_bdi_crash"))
    val in = s"$tmp/in"; val work = s"$tmp/work"
    val all = events((1L to 9L).toSeq)
    all.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    BlockedDatasetIncremental.runOnce(spark, in, work, schema, params,
      buckets = 4)
    // crash fixture 1: a compaction died between its staging write
    // and the directory rename — a full stale raw copy under
    // _staging that nothing references
    val orphan = new java.io.File(s"$work/_staging/gen1/__bucket=0")
    assert(orphan.mkdirs())
    Files.write(orphan.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    // crash fixture 2: a compaction died after creating the target
    // generation dir but BEFORE the stamp flip — raw/__batch=-1
    // exists with plausible (duplicate) data that must never go live
    val w1dir = new java.io.File(s"$work/raw")
      .listFiles().find(_.getName == "__batch=0").get
    val srcBucket = w1dir.listFiles()
      .find(_.getName.startsWith("__bucket=")).get
    val srcPart = srcBucket.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val half = new java.io.File(
      s"$work/raw/__batch=-1/${srcBucket.getName}")
    assert(half.mkdirs())
    Files.copy(srcPart.toPath, half.toPath.resolve(srcPart.getName))
    // the real compaction clears both leftovers and folds batch 0
    assert(BlockedDatasetIncremental.compactRaw(spark, work, params))
    val dirs = new java.io.File(s"$work/raw").listFiles().toSeq
      .map(_.getName).filter(_.startsWith("__batch=")).toSet
    assert(dirs == Set("__batch=-1"), dirs)
    assert(!new java.io.File(s"$work/_staging").exists(),
      "_staging must be cleared before a new staging write")
    // exactly-once content: the compacted store holds each of the 9
    // events once (the half-built duplicate never leaked in)
    assert(spark.read.parquet(s"$work/raw").count() == 9L)
    val batchAll = BlockedDataset.build(all, "user_id", "ts",
      "event_type", "value", "event_id", channels, 3600L,
      col("event_type") === "error", 4, 80, 10)
    val grid = BlockedDatasetIncremental.grid(spark, work)
    assert(grid.exceptAll(batchAll).isEmpty &&
      batchAll.exceptAll(grid).isEmpty)
  }
}
