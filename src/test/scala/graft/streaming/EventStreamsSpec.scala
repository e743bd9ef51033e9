package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def writeEvents(dir: String): Unit =
    Seq(
      (0L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0, "{}"),
      (2L, ts("2024-01-01 01:10:00"), 2L, "view", 3.0, "{}"),
      (3L, ts("2024-01-01 02:05:00"), 1L, "view", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)

  test("windowedCounts over AvailableNow matches batch aggregation") {
    val dir = tempDir("graft_stream")
    writeEvents(s"$dir/in")
    val stream = EventStreams.readStream(spark, s"$dir/in")
    // complete mode: append would hold back windows the final watermark
    // advance never got a closing batch to emit under AvailableNow
    val out = EventStreams.runAvailableNow(
      EventStreams.windowedCounts(stream, "1 hour", "2 hours"),
      queryName = "wc_test", checkpoint = s"$dir/ckpt",
      outputMode = OutputMode.Complete())
    val got = out.select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == Set(
      (ts("2024-01-01 00:00:00"), "view", 1L),
      (ts("2024-01-01 00:00:00"), "click", 1L),
      (ts("2024-01-01 01:00:00"), "view", 1L),
      (ts("2024-01-01 02:00:00"), "view", 1L)))
  }

  test("RocksDB state store: windowed agg and sessionize produce the " +
    "same results as the default HDFS-backed store") {
    // the large-state backend for real deployments: state spills to
    // local disk instead of living in executor heap — a week-long
    // sessionization window at corpus scale does not fit in memory.
    // The engine must be provider-agnostic; results must be identical.
    val dir = tempDir("graft_rocks")
    writeEvents(s"$dir/in")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val agg = EventStreams.runAvailableNow(
        EventStreams.windowedCounts(
          EventStreams.readStream(spark, s"$dir/in"), "1 hour", "2 hours"),
        queryName = "wc_rocks", checkpoint = s"$dir/ckpt_wc",
        outputMode = OutputMode.Complete())
      val got = agg.select("window_start", "event_type", "n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(got == Set(
        (ts("2024-01-01 00:00:00"), "view", 1L),
        (ts("2024-01-01 00:00:00"), "click", 1L),
        (ts("2024-01-01 01:00:00"), "view", 1L),
        (ts("2024-01-01 02:00:00"), "view", 1L)))
      // stateful mapGroupsWithState path (sessionize) on RocksDB too
      val sess = EventStreams.runAvailableNow(
        EventStreams.sessionize(
          EventStreams.readStream(spark, s"$dir/in"), gapSeconds = 1800)
          .toDF(),
        queryName = "sess_rocks", checkpoint = s"$dir/ckpt_sess",
        outputMode = OutputMode.Update())
      assert(sess.count() > 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stateful sessionize: gap splits sessions, state carries counts") {
    val dir = tempDir("graft_stream2")
    writeEvents(s"$dir/in")
    val stream = EventStreams.readStream(spark, s"$dir/in")
    val out = EventStreams.runAvailableNow(
      EventStreams.sessionize(stream, gapSeconds = 1800).toDF(),
      queryName = "sess_test", checkpoint = s"$dir/ckpt",
      outputMode = OutputMode.Update())
    val byUser = out.as[EventStreams.SessionUpdate].collect()
      .map(s => s.user_id -> s).toMap
    // user 1: events at 00:10, 00:20, then 02:05 -> latest session has 1
    assert(byUser(1L).n_events == 1)
    assert(byUser(1L).session_start == ts("2024-01-01 02:05:00"))
    assert(byUser(2L).n_events == 1)
  }

  test("sessionize and sessionizeRetained: null user_id rows form one " +
    "session group (batch PARTITION BY user_id), not a decode error") {
    val dir = tempDir("graft_nullkey")
    Seq(
      (0L, ts("2024-01-01 00:10:00"), Option(1L), "view", 1.0, "{}"),
      (1L, ts("2024-01-01 00:15:00"), None, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 00:25:00"), None, "view", 1.0, "{}"),
      // far-future sentinel: flushes every retained session
      (3L, ts("2024-01-03 00:00:00"), Option(-1L), "flush", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/in")
    def sessions(ds: org.apache.spark.sql.Dataset[EventStreams.SessionUpdate],
                 name: String, mode: OutputMode) =
      EventStreams.runAvailableNow(ds.toDF(), queryName = name,
        checkpoint = s"$dir/ckpt_$name", outputMode = mode)
        .as[EventStreams.SessionUpdate].collect()
        .map(s => (Option(s.user_id).map(_.longValue), s.session_start,
          s.n_events)).toSet
    val nullSession = (None, ts("2024-01-01 00:15:00"), 2)
    val live = sessions(EventStreams.sessionize(
      EventStreams.readStream(spark, s"$dir/in"), gapSeconds = 1800),
      "sess_null", OutputMode.Update())
    assert(live.contains(nullSession), live)
    val retained = sessions(EventStreams.sessionizeRetained(
      EventStreams.readStream(spark, s"$dir/in"), gapSeconds = 1800,
      watermarkDelay = "1 hour"), "sess_null_ooo", OutputMode.Append())
    assert(retained == Set(
      (Some(1L), ts("2024-01-01 00:10:00"), 1), nullSession), retained)
  }

  test("dedupStream: first occurrence kept, AvailableNow equals batch") {
    val dir = tempDir("graft_stream4")
    // duplicate event_ids — same ts AND different ts (the content-hash
    // re-ingest case): key-only dedup must drop both kinds
    Seq(
      (0L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0, "{}"),
      (0L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0, "{}"),
      (1L, ts("2024-01-01 00:35:00"), 1L, "click", 2.0, "{}"),
      (2L, ts("2024-01-01 01:10:00"), 2L, "view", 3.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/in")
    val stream = EventStreams.readStream(spark, s"$dir/in")
    val out = EventStreams.runAvailableNow(
      EventStreams.dedupStream(stream, Seq("event_id")),
      queryName = "dedup_test", checkpoint = s"$dir/ckpt")
    assert(out.count() == 3)
    assert(out.select("event_id").as[Long].collect().toSet == Set(0L, 1L, 2L))
  }

  test("upsertStream: per-batch merge — create, revise, insert; " +
       "in-batch duplicate keys keep the latest; replay converges") {
    val dir = tempDir("graft_ups")
    val in = s"$dir/in"
    EventStreams.stageDrainBatches(in, Seq(
      // batch 1: creates the table (incl. an in-batch duplicate of key
      // 1 — the later-ts row must win)
      events(Seq(
        (1L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0, "{}"),
        (1L, ts("2024-01-01 00:20:00"), 1L, "view", 1.5, "{}"),
        (2L, ts("2024-01-01 00:30:00"), 2L, "click", 2.0, "{}"))),
      // batch 2: revises key 2, inserts key 3 (new partition value)
      events(Seq(
        (2L, ts("2024-01-01 01:00:00"), 2L, "click", 20.0, "{}"),
        (3L, ts("2024-01-01 01:10:00"), 3L, "buy", 3.0, "{}")))))
    val sink = s"$dir/sink"
    def run(ck: String): Set[(Long, String, Double)] = {
      EventStreams.upsertStream(
        EventStreams.readStream(spark, in,
          options = Map("maxFilesPerTrigger" -> "1")),
        sink, keys = Seq("event_id"), partCol = "event_type",
        orderCol = "ts", queryName = s"ups_${System.nanoTime()}",
        checkpoint = ck)
      spark.read.parquet(sink).select("event_id", "event_type", "value")
        .as[(Long, String, Double)].collect().toSet
    }
    val expected = Set((1L, "view", 1.5), (2L, "click", 20.0),
      (3L, "buy", 3.0))
    assert(run(s"$dir/ck1") == expected)
    // replay from scratch (fresh checkpoint, existing sink) converges
    assert(run(s"$dir/ck2") == expected)
  }

  private def events(rows: Seq[(Long, java.sql.Timestamp, Long, String,
                     Double, String)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionizeRetained: out-of-event-time-order micro-batches " +
    "(maxFilesPerTrigger=1) still produce exact sessions") {
    val dir = tempDir("graft_ooo")
    // batch 1 jumps ahead to 20:00; batch 2 delivers a 10:20 event that
    // belongs INSIDE batch 1's first session — the cross-trigger
    // disorder sessionize's guard rejects. 12h watermark covers it.
    // Batch 3 is a far-future sentinel on its OWN user: it advances the
    // watermark past every real session's end + gap, so the trailing
    // no-data batch fires each user's event-time timeout and flushes
    // final sessions.
    EventStreams.stageDrainBatches(s"$dir/in", Seq(
      events(Seq(
        (0L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
        (1L, ts("2024-01-01 10:10:00"), 1L, "view", 1.0, "{}"),
        (2L, ts("2024-01-01 20:00:00"), 1L, "view", 1.0, "{}"),
        (3L, ts("2024-01-01 09:55:00"), 2L, "view", 1.0, "{}"))),
      events(Seq((4L, ts("2024-01-01 10:20:00"), 1L, "view", 1.0, "{}"))),
      events(Seq((5L, ts("2024-01-02 23:00:00"), -1L, "flush", 0.0, "{}")))))
    val stream = EventStreams.readStream(spark, s"$dir/in",
      options = Map("maxFilesPerTrigger" -> "1"))
    val out = EventStreams.runAvailableNow(
      EventStreams.sessionizeRetained(stream, gapSeconds = 1800,
        watermarkDelay = "12 hours").toDF(),
      queryName = "sess_ooo", checkpoint = s"$dir/ckpt",
      outputMode = OutputMode.Append())
    val got = out.as[EventStreams.SessionUpdate].collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events))
      .toSet
    // the 10:20 straggler merged into user 1's first session (n=3);
    // the sentinel's own open session stays in state, not emitted
    assert(got == Set(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"), 3),
      (1L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:00:00"), 1),
      (2L, ts("2024-01-01 09:55:00"), ts("2024-01-01 09:55:00"), 1)))
  }

  test("sessionizeRetained: watermark finalizes early sessions " +
    "incrementally (no sentinel), later sessions stay pending") {
    val dir = tempDir("graft_ooo2")
    // same user goes quiet, then reappears 23h later: the new max event
    // time pulls the watermark (12h delay) past 01:00 + gap, so the
    // trailing batch's timeout flushes the first session while the
    // 23:50 session is still open in state
    EventStreams.stageDrainBatches(s"$dir/in", Seq(
      events(Seq((0L, ts("2024-01-01 01:00:00"), 7L, "view", 1.0, "{}"))),
      events(Seq((1L, ts("2024-01-01 23:50:00"), 7L, "view", 1.0, "{}")))))
    val stream = EventStreams.readStream(spark, s"$dir/in",
      options = Map("maxFilesPerTrigger" -> "1"))
    val out = EventStreams.runAvailableNow(
      EventStreams.sessionizeRetained(stream, gapSeconds = 1800,
        watermarkDelay = "12 hours").toDF(),
      queryName = "sess_ooo2", checkpoint = s"$dir/ckpt",
      outputMode = OutputMode.Append())
    val got = out.as[EventStreams.SessionUpdate].collect()
      .map(s => (s.user_id, s.session_start, s.n_events)).toSet
    assert(got == Set((7L, ts("2024-01-01 01:00:00"), 1)))
  }

  test("live sessionize evicts idle users via processing-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val events = ms.toDF().toDF("user_id", "ts")
      .selectExpr("cast(null as long) as event_id", "ts", "user_id",
        "'x' as event_type", "1.0 as value", "'{}' as props")
    val dir = tempDir("graft_stream3")
    val q = EventStreams.sessionize(events, gapSeconds = 1800,
        evictIdleAfterMs = Some(500L)).toDF()
      .writeStream.format("memory").queryName("sess_live")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    // NOTE: no processAllAvailable — with processing-time timeouts the
    // engine keeps scheduling timeout-check batches, so "all available"
    // never settles. Poll the sink with a deadline instead.
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
      assert(cond, "condition not met within deadline")
    }
    def rows() = spark.table("sess_live")
      .as[EventStreams.SessionUpdate].collect()
    try {
      ms.addData((1L, ts("2024-01-01 00:10:00")))
      await(rows().exists(_.user_id == 1L))
      // idle past the 500ms horizon: the engine fires the timeout batch
      // on its own; the evicted session is re-emitted on eviction
      Thread.sleep(800)
      // user 1's state was evicted: a LATER event restarts from scratch
      // (n_events=1, session_start at the new event, despite being within
      // the 1800s EVENT-time gap of the first)
      ms.addData((1L, ts("2024-01-01 00:20:00")))
      await(rows().exists(r =>
        r.user_id == 1L && r.session_start == ts("2024-01-01 00:20:00") &&
          r.n_events == 1))
    } finally q.stop()
  }

  test("windowedTopK: heap state merges across micro-batches — a later " +
    "batch's higher value displaces an earlier batch's entry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "ts", "value")
      .selectExpr("event_id", "ts", "1L as user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_stk")
    val q = EventStreams.windowedTopK(events, "1 hour", k = 2)
      .writeStream.format("memory").queryName("stk_live")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      ms.addData((1L, ts("2024-01-01 00:10:00"), 5.0),
        (2L, ts("2024-01-01 00:20:00"), 3.0))
      q.processAllAvailable()
      // batch 2: 9.0 must displace 3.0 from the k=2 heap carried in
      // the state store (deserialized, merged, reserialized)
      ms.addData((3L, ts("2024-01-01 00:30:00"), 9.0))
      q.processAllAvailable()
      val got = spark.table("stk_live")
        .select("rank", "event_id", "value")
        .as[(Int, Long, Double)].collect().toSet
      assert(got == Set((1, 3L, 9.0), (2, 1L, 5.0)), got.toString)
    } finally q.stop()
  }

  test("ewmaStream: exact decimal recurrence carried across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_sewma")
    val q = EventStreams.ewmaStream(events, alpha = 0.3).toDF()
      .writeStream.format("memory").queryName("ewma_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // trigger 1: two events for user 1
      ms.addData((1L, 1L, ts("2024-01-01 00:00:00"), 10.0),
        (2L, 1L, ts("2024-01-01 00:01:00"), 20.0))
      q.processAllAvailable()
      // trigger 2: state must carry (s2 = 13.0): s3 = .3*40 + .7*13 = 21.1
      ms.addData((3L, 1L, ts("2024-01-01 00:02:00"), 40.0))
      q.processAllAvailable()
      val got = spark.table("ewma_live")
        .as[graft.streaming.EwmaOut].collect()
        .map(o => o.event_id -> o.ewma).toMap
      assert(got == Map(1L -> 10.0, 2L -> 13.0, 3L -> 21.1), got.toString)
    } finally q.stop()
  }

  test("every ordered per-key fold throws, naming itself, when a later " +
    "trigger carries an earlier event than its carried state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val folds: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "ewmaStream" -> (EventStreams.ewmaStream(_, alpha = 0.3).toDF()),
      "cusumStream" -> (EventStreams.cusumStream(_, target = 1.0,
        slack = 0.5, threshold = 10.0).toDF()),
      "rateLimitStream" -> (EventStreams.rateLimitStream(_, capacity = 2,
        refillPerSec = 1.0).toDF()),
      "holtStream" -> (EventStreams.holtStream(_, alpha = 0.5,
        beta = 0.3).toDF()),
      "zscoreStream" -> (EventStreams.zscoreStream(_).toDF()),
      "madStream" -> (EventStreams.madStream(_).toDF()),
      "funnelStream" -> (EventStreams.funnelStream(_,
        Seq("view", "click")).toDF()))
    for ((op, fold) <- folds) {
      val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
      val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
        .selectExpr("event_id", "ts", "user_id", "'view' as event_type",
          "value", "'{}' as props")
      val q = fold(events).writeStream.format("memory")
        .queryName(s"ooo_$op").outputMode(OutputMode.Append())
        .option("checkpointLocation", s"${tempDir("graft_sooo")}/ckpt")
        .start()
      try {
        ms.addData((1L, 1L, ts("2024-01-01 00:10:00"), 1.0))
        q.processAllAvailable()
        ms.addData((2L, 1L, ts("2024-01-01 00:05:00"), 2.0))
        val ex = graft.SparkSpec.withExpectedTaskFailures {
          intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            q.processAllAvailable()
          }
        }
        val chain = Iterator.iterate[Throwable](ex)(_.getCause)
          .takeWhile(_ != null).map(_.toString).mkString(" | ")
        assert(chain.contains(s"$op: event 2 for user 1") &&
          chain.contains("out-of-order arrival across triggers"), chain)
      } finally q.stop()
    }
  }

  test("cusumStream: state carried across triggers equals the batch " +
    "recurrence; alarm raised in-batch at the crossing event") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_scus")
    // target+slack = 10, threshold 15
    val q = EventStreams.cusumStream(events, target = 8.0, slack = 2.0,
        threshold = 15.0).toDF()
      .writeStream.format("memory").queryName("cusum_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // trigger 1: s1 = max(0, 0+12-10) = 2; s2 = max(0, 2+5-10) = 0
      ms.addData((1L, 1L, ts("2024-01-01 00:00:00"), 12.0),
        (2L, 1L, ts("2024-01-01 00:01:00"), 5.0))
      q.processAllAvailable()
      // trigger 2: state carries 0; s3 = 0+22-10 = 12 (no alarm),
      // s4 = 12+14-10 = 16 > 15 -> ALARM in this micro-batch
      ms.addData((3L, 1L, ts("2024-01-01 00:02:00"), 22.0),
        (4L, 1L, ts("2024-01-01 00:03:00"), 14.0))
      q.processAllAvailable()
      val got = spark.table("cusum_live")
        .as[graft.streaming.CusumOut].collect()
        .map(o => o.event_id -> ((o.cusum, o.alarm))).toMap
      assert(got == Map(1L -> ((2.0, false)), 2L -> ((0.0, false)),
        3L -> ((12.0, false)), 4L -> ((16.0, true))), got.toString)
      // batch twin on the same rows is bit-identical
      val batch = Seq(
        (1L, 1L, ts("2024-01-01 00:00:00"), 12.0),
        (2L, 1L, ts("2024-01-01 00:01:00"), 5.0),
        (3L, 1L, ts("2024-01-01 00:02:00"), 22.0),
        (4L, 1L, ts("2024-01-01 00:03:00"), 14.0))
        .toDF("event_id", "user_id", "ts", "value")
      val b = graft.ops.WindowOps.cusum(batch, Seq("user_id"), "ts",
          "event_id", "value", target = 8.0, slack = 2.0,
          threshold = 15.0)
        .select("event_id", "cusum", "alarm")
        .as[(Long, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(b == got, s"batch=$b stream=$got")
    } finally q.stop()
  }

  test("windowedDistinctUsers: chained dedup+agg counts each user " +
    "once per window across triggers; closed windows emit on " +
    "watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "0.0 as value", "'{}' as props")
    val dir = tempDir("graft_sdc")
    val q = EventStreams.windowedDistinctUsers(events, "1 hour",
        "30 minutes")
      .writeStream.format("memory").queryName("sdc_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // window 10:00: users 1,1,2 -> 2 distinct
      ms.addData((1L, 1L, ts("2024-01-01 10:05:00")),
        (2L, 1L, ts("2024-01-01 10:10:00")),
        (3L, 2L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // user 1 AGAIN in the same window from a LATER trigger — the
      // dedup state must absorb it (the single-agg formulation would
      // double-count across micro-batches)
      ms.addData((4L, 1L, ts("2024-01-01 10:40:00")),
        (5L, 3L, ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      // two sentinel advances close the 10:00 window (watermark lag)
      ms.addData((6L, 99L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      ms.addData((7L, 99L, ts("2024-01-01 13:10:00")))
      q.processAllAvailable()
      val got = spark.table("sdc_live")
        .as[(java.sql.Timestamp, Long)].collect().toMap
      assert(got(ts("2024-01-01 10:00:00")) == 3L, got.toString)
    } finally q.stop()
  }

  test("psiStream: bin partials merge across triggers, windows emit " +
    "on watermark close, nulls ignored, psi matches the scalar mirror") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Option[Double])]
    val events = ms.toDF().toDF("event_id", "ts", "value")
    val dir = tempDir("graft_spsi")
    val q = EventStreams.psiStream(events, "value",
        boundaries = Seq(5.0), refShares = Seq(0.5, 0.5),
        windowLen = "1 day", watermark = "30 minutes")
      .writeStream.format("memory").queryName("spsi_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // trigger 1: low 1,2 / high 6 (+ a null that must not count)
      ms.addData((1L, ts("2024-01-01 01:00:00"), Some(1.0)),
        (2L, ts("2024-01-01 02:00:00"), Some(2.0)),
        (3L, ts("2024-01-01 03:00:00"), Some(6.0)),
        (4L, ts("2024-01-01 03:30:00"), None))
      q.processAllAvailable()
      // trigger 2, SAME window: low 3 / high 7 — the window's bin
      // histogram must merge partials, not restart
      ms.addData((5L, ts("2024-01-01 10:00:00"), Some(3.0)),
        (6L, ts("2024-01-01 11:00:00"), Some(7.0)))
      q.processAllAvailable()
      // two sentinel advances close the Jan-1 window (watermark lag)
      ms.addData((7L, ts("2024-01-04 00:00:00"), Some(0.0)))
      q.processAllAvailable()
      ms.addData((8L, ts("2024-01-04 00:10:00"), Some(0.0)))
      q.processAllAvailable()
      val got = spark.table("spsi_live")
        .as[(java.sql.Timestamp, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // scalar mirror of the operator's own formula: n1=3, n2=2, tot=5
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (q1, q2) = ((3 + 0.5) / (5 + 1.0), (2 + 0.5) / (5 + 1.0))
      val want = r6(
        r6((q1 - 0.5) * math.log(q1 / 0.5)) +
        r6((q2 - 0.5) * math.log(q2 / 0.5)))
      assert(got(ts("2024-01-01 00:00:00")) == ((5L, want)), got.toString)
    } finally q.stop()
  }

  test("hellingerStream: partials merge across triggers, zero " +
    "reference shares contribute 0, identical-to-reference window " +
    "scores H=0, BC an exact decimal fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Option[Double])]
    val events = ms.toDF().toDF("event_id", "ts", "value")
    val dir = tempDir("graft_shel")
    // 3 bins; the reference NEVER saw the top bin (share 0) — the
    // psi twin would need a Laplace guard, this scores it 0
    val q = EventStreams.hellingerStream(events, "value",
        boundaries = Seq(5.0, 10.0), refShares = Seq(0.5, 0.5, 0.0),
        windowLen = "1 day", watermark = "30 minutes")
      .writeStream.format("memory").queryName("shel_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // Jan 1: 2 low / 2 mid in two triggers (partials must merge)
      // -> q = (0.5, 0.5, 0) == reference -> BC = 1, H = 0
      ms.addData((1L, ts("2024-01-01 01:00:00"), Some(1.0)),
        (2L, ts("2024-01-01 02:00:00"), Some(6.0)))
      q.processAllAvailable()
      ms.addData((3L, ts("2024-01-01 10:00:00"), Some(2.0)),
        (4L, ts("2024-01-01 11:00:00"), Some(7.0)),
        (5L, ts("2024-01-01 11:30:00"), None))
      q.processAllAvailable()
      // Jan 2: all mass in the zero-reference top bin -> BC = 0, H = 1
      ms.addData((6L, ts("2024-01-02 01:00:00"), Some(20.0)))
      q.processAllAvailable()
      ms.addData((7L, ts("2024-01-05 00:00:00"), Some(0.0)))
      q.processAllAvailable()
      ms.addData((8L, ts("2024-01-05 00:10:00"), Some(0.0)))
      q.processAllAvailable()
      val got = spark.table("shel_live")
        .as[(java.sql.Timestamp, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got(ts("2024-01-01 00:00:00")) == ((4L, 1.0, 0.0)),
        got.toString)
      assert(got(ts("2024-01-02 00:00:00")) == ((1L, 0.0, 1.0)),
        got.toString)
    } finally q.stop()
  }

  test("checkpoint RESUME: a NEW query on the same checkpoint " +
    "restores recurrence state and continues without reprocessing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft_ckr")
    // FILE sink, not memory: the memory sink refuses checkpoint
    // recovery (no durable commit log) — the restart contract only
    // exists for transactional sinks
    def start(ms: MemoryStream[(Long, Long, java.sql.Timestamp, Double)]) = {
      val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
        .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
          "value", "'{}' as props")
      EventStreams.ewmaStream(events, alpha = 0.3).toDF()
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    // run 1: two events, then the query STOPS (restart/crash model)
    val ms1 = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val q1 = start(ms1)
    try {
      ms1.addData((1L, 1L, ts("2024-01-01 00:00:00"), 10.0),
        (2L, 1L, ts("2024-01-01 00:01:00"), 20.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // run 2: NEW MemoryStream + NEW query, SAME checkpoint. The
    // offset log maps the committed offset onto the new source —
    // batch 0's data must be re-added (a MemoryStream's buffer dies
    // with its object) but is NOT re-emitted; the STATE STORE
    // restores s2 = 13.0, so event 3 continues the recurrence.
    val ms2 = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    ms2.addData((1L, 1L, ts("2024-01-01 00:00:00"), 10.0),
      (2L, 1L, ts("2024-01-01 00:01:00"), 20.0))
    val q2 = start(ms2)
    try {
      q2.processAllAvailable()
      ms2.addData((3L, 1L, ts("2024-01-01 00:02:00"), 40.0))
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
        .as[graft.streaming.EwmaOut].collect()
        .map(o => o.event_id -> o.ewma).toMap
      // state restored: s3 = .3*40 + .7*13 = 21.1 — a reset state
      // would give s3 = 40.0 (fresh first event)
      assert(got(3L) == 21.1, got.toString)
      // run 1's rows exist EXACTLY once: the sink's commit log makes
      // the restart exactly-once, not at-least-once
      assert(got == Map(1L -> 10.0, 2L -> 13.0, 3L -> 21.1),
        got.toString)
    } finally q2.stop()
  }

  test("funnelStream: out-of-order stage events don't count; " +
    "same-instant cascade reaches fixpoint; state carries across " +
    "triggers; each (user, stage) emits once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "event_type")
      .selectExpr("event_id", "ts", "user_id", "event_type",
        "0.0 as value", "'{}' as props")
    val dir = tempDir("graft_sfn")
    val q = EventStreams.funnelStream(events,
        Seq("view", "click", "purchase")).toDF()
      .writeStream.format("memory").queryName("fun_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // user 1: click BEFORE any view (doesn't count), then view;
      // user 2: view+click+purchase all at ONE instant (cascades)
      ms.addData(
        (1L, 1L, ts("2024-01-01 00:01:00"), "click"),
        (2L, 1L, ts("2024-01-01 00:02:00"), "view"),
        (3L, 2L, ts("2024-01-01 00:01:00"), "purchase"),
        (4L, 2L, ts("2024-01-01 00:01:00"), "view"),
        (5L, 2L, ts("2024-01-01 00:01:00"), "click"))
      q.processAllAvailable()
      // trigger 2: user 1's click now counts (view carried in state);
      // a SECOND view for user 1 must NOT re-emit stage 1
      ms.addData(
        (6L, 1L, ts("2024-01-01 00:03:00"), "click"),
        (7L, 1L, ts("2024-01-01 00:04:00"), "view"))
      q.processAllAvailable()
      val got = spark.table("fun_live")
        .as[graft.streaming.FunnelReach].collect()
        .map(r => (r.user_id, r.stage_idx)).toSeq
      assert(got.size == got.distinct.size, s"duplicate emission: $got")
      assert(got.toSet == Set((1L, 1), (1L, 2),
        (2L, 1), (2L, 2), (2L, 3)), got.toString)
    } finally q.stop()
  }

  test("zscoreStream: the trailing ring carried across triggers is " +
    "bit-equal to the batch windowed op, including the spike flag") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_szsp")
    val q = EventStreams.zscoreStream(events, lookback = 10,
        zThreshold = 3.0, minObs = 4).toDF()
      .writeStream.format("memory").queryName("zs_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    // alternating 9/11 context split across triggers, then a spike
    val rows = (1 to 6).map(i =>
      (i.toLong, 1L, ts(f"2024-01-01 00:0$i:00"),
        if (i % 2 == 0) 11.0 else 9.0)) :+
      ((7L, 1L, ts("2024-01-01 00:07:00"), 20.0))
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("zs_live")
        .select("event_id", "n_window", "zscore", "anomaly")
        .as[(Long, Long, Option[Double], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val batch = graft.ops.WindowOps.rollingZscore(
          rows.toDF("event_id", "user_id", "ts", "value"),
          Seq("user_id"), "ts", "event_id", "value",
          lookback = 10, zThreshold = 3.0, minObs = 4)
        .select("event_id", "n_window", "zscore", "anomaly")
        .as[(Long, Long, Option[Double], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      // spike flagged with the hand-computed z (mean 10, std 1)
      assert(got(7L) == ((6L, Some(10.0), true)), got.toString)
    } finally q.stop()
  }

  test("hllDistinctStream: window registers merged across triggers " +
    "equal the batch sketch per window; state is registers, not users") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_shllp")
    val q = EventStreams.hllDistinctStream(events, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("hll_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    // 40 users in hour 0, 15 in hour 1, split mid-hour across
    // triggers so register maxes must merge through state; a late
    // hour-2 row advances the watermark past both windows
    val h0a = (1L to 25L).map(u =>
      (u, u, ts("2024-01-01 00:10:00"), 1.0))
    val h0b = (26L to 40L).map(u =>
      (u, u, ts("2024-01-01 00:50:00"), 1.0))
    val h1 = (100L to 114L).map(u =>
      (u, u, ts("2024-01-01 01:30:00"), 1.0))
    val flush = Seq((999L, 999L, ts("2024-01-01 03:30:00"), 1.0))
    try {
      ms.addData(h0a)
      q.processAllAvailable()
      ms.addData(h0b ++ h1)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
      val got = spark.table("hll_live")
        .select("window_start", "registers_hit", "estimate")
        .as[(java.sql.Timestamp, Long, Double)].collect()
        .map(r => r._1.toString -> ((r._2, r._3))).toMap
      // batch twin over the same rows via the shared helpers
      val all = (h0a ++ h0b ++ h1)
        .toDF("event_id", "user_id", "ts", "value")
      val (idx, rho) = graft.ops.Sketches.hllIdxRho(col("user_id"))
      val batch = all
        .select(date_trunc("hour", col("ts")).as("w"), idx.as("i"),
          rho.as("r"))
        .groupBy("w", "i").agg(max("r").as("r"))
        .groupBy("w").agg(count(lit(1)).as("hit"),
          sum(graft.ops.Sketches.hllZTerm(col("r"))).as("z"))
        .select(col("w"),
          col("hit"),
          graft.ops.Sketches.hllEstimate(col("hit"), col("z")).as("e"))
        .as[(java.sql.Timestamp, Long, Double)].collect()
        .map(r => r._1.toString -> ((r._2, r._3))).toMap
      assert(got.view.filterKeys(batch.contains).toMap == batch,
        s"stream=$got batch=$batch")
      assert(batch.size == 2 && got.size >= 2, got.toString)
    } finally q.stop()
  }

  test("kmvDistinctStream: sketches merged across triggers equal the " +
    "batch KMV per window (threshold included); truncation to k " +
    "exercised; state is k hashes, not users") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_skmvp")
    val q = EventStreams.kmvDistinctStream(events, k = 8,
        windowLenSec = 3600L, watermark = "1 hour").toDF()
      .writeStream.format("memory").queryName("kmv_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    // 50 users in hour 0 split mid-hour across triggers (the merged
    // sketch must re-take the 8 smallest), 5 users in hour 1 (below
    // k: exact), a late hour-3 row closes both
    val h0a = (1L to 30L).map(u => (u, u, ts("2024-01-01 00:10:00"), 1.0))
    val h0b = (31L to 50L).map(u => (u, u, ts("2024-01-01 00:50:00"), 1.0))
    val h1 = (100L to 104L).map(u => (u, u, ts("2024-01-01 01:30:00"), 1.0))
    val flush = Seq((999L, 999L, ts("2024-01-01 03:30:00"), 1.0))
    try {
      ms.addData(h0a)
      q.processAllAvailable()
      ms.addData(h0b ++ h1)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
      val got = spark.table("kmv_live")
        .select("window_start", "hashes_kept", "threshold", "estimate")
        .as[(java.sql.Timestamp, Long, Long, Double)].collect()
        .map(r => r._1.toString -> ((r._2, r._3, r._4))).toMap
      def batch(rows: Seq[(Long, Long, java.sql.Timestamp, Double)]) =
        graft.ops.Sketches.kmvDistinct(
            rows.toDF("event_id", "user_id", "ts", "value"),
            "user_id", k = 8)
          .select("hashes_kept", "threshold", "estimate")
          .as[(Long, Long, Double)].collect().head
      val b0 = batch(h0a ++ h0b)
      val b1 = batch(h1)
      assert(got("2024-01-01 00:00:00.0") == b0,
        s"h0 stream=${got.get("2024-01-01 00:00:00.0")} batch=$b0")
      assert(got("2024-01-01 01:00:00.0") == b1,
        s"h1 stream=${got.get("2024-01-01 01:00:00.0")} batch=$b1")
      // truncation really happened in hour 0; hour 1 is exact
      assert(b0._1 == 8L && b1._1 == 5L && b1._3 == 5.0, s"$b0 $b1")
    } finally q.stop()
  }

  test("brierStream: per-window brier/base-rate equal the batch " +
    "arithmetic on the same rows across split triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id",
        "CASE WHEN event_id % 3 = 0 THEN 'purchase' ELSE 'view' END " +
          "AS event_type", "value", "'{}' as props")
    val dir = tempDir("graft_sbrp")
    val q = EventStreams.brierStream(events,
        least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)),
        col("event_type") === "purchase", "1 hour", "1 hour")
      .writeStream.format("memory").queryName("brier_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    val h0a = (1L to 20L).map(i =>
      (i, i, ts("2024-01-01 00:10:00"), (i * 7 % 100).toDouble))
    val h0b = (21L to 30L).map(i =>
      (i, i, ts("2024-01-01 00:50:00"), (i * 7 % 100).toDouble))
    val flush = Seq((999L, 999L, ts("2024-01-01 03:30:00"), 1.0))
    try {
      ms.addData(h0a)
      q.processAllAvailable()
      ms.addData(h0b)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
      val got = spark.table("brier_live")
        .select("window_start", "n_rows", "base_rate", "brier")
        .as[(java.sql.Timestamp, Long, Double, Double)].collect()
        .map(r => r._1.toString -> ((r._2, r._3, r._4))).toMap
      val batch = {
        val r = graft.ops.Quality.brierDecomposition(
          (h0a ++ h0b).toDF("event_id", "user_id", "ts", "value")
            .selectExpr("*",
              "CASE WHEN event_id % 3 = 0 THEN 'purchase' ELSE 'view' " +
                "END AS event_type")
            .withColumn("score", least(greatest(
              col("value") / lit(100.0), lit(0.0)), lit(1.0))),
          "score", col("event_type") === "purchase").collect().head
        (r.getLong(0), r.getDouble(1), r.getDouble(2))
      }
      assert(got("2024-01-01 00:00:00.0") == batch,
        s"stream=${got.get("2024-01-01 00:00:00.0")} batch=$batch")
    } finally q.stop()
  }

  test("fingerprintStream: per-window fingerprints equal the batch op " +
    "on the same rows across split triggers, and modular-ADD to the " +
    "whole-corpus fingerprint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id",
        "concat('t', event_id % 3) as event_type", "value",
        "'{}' as props")
    val dir = tempDir("graft_sfpp")
    val q = EventStreams.fingerprintStream(events,
        Seq("event_id", "event_type"), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("fp_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    val h0a = (1L to 20L).map(i => (i, i, ts("2024-01-01 00:10:00"), 1.0))
    val h0b = (21L to 30L).map(i => (i, i, ts("2024-01-01 00:50:00"), 1.0))
    val h1 = (31L to 40L).map(i => (i, i, ts("2024-01-01 01:30:00"), 1.0))
    val flush = Seq((999L, 999L, ts("2024-01-01 03:30:00"), 1.0))
    try {
      ms.addData(h0a)
      q.processAllAvailable()
      ms.addData(h0b ++ h1)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
      val got = spark.table("fp_live")
        .select("window_start", "n_rows", "hash_sum", "hash_sum_b")
        .as[(java.sql.Timestamp, Long, Long, Long)].collect()
        .map(r => r._1.toString -> ((r._2, r._3, r._4))).toMap
      def batch(rows: Seq[(Long, Long, java.sql.Timestamp, Double)]) = {
        val r = graft.ops.Quality.datasetFingerprint(
          rows.toDF("event_id", "user_id", "ts", "value")
            .selectExpr("event_id",
              "concat('t', event_id % 3) as event_type"),
          Seq("event_id", "event_type")).collect().head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val b0 = batch(h0a ++ h0b)
      val b1 = batch(h1)
      assert(got("2024-01-01 00:00:00.0") == b0,
        s"h0 stream=${got.get("2024-01-01 00:00:00.0")} batch=$b0")
      assert(got("2024-01-01 01:00:00.0") == b1,
        s"h1 stream=${got.get("2024-01-01 01:00:00.0")} batch=$b1")
      // window fingerprints modular-add to the corpus fingerprint
      val whole = batch(h0a ++ h0b ++ h1)
      val p = BigInt(graft.ops.Quality.FpMod)
      assert(b0._1 + b1._1 == whole._1 &&
        (BigInt(b0._2) + BigInt(b1._2)) % p == BigInt(whole._2) &&
        (BigInt(b0._3) + BigInt(b1._3)) % p == BigInt(whole._3),
        s"$b0 + $b1 != $whole")
    } finally q.stop()
  }

  test("calibrationStream: bin partials merged across triggers equal " +
    "the batch calibration bins per window; state is bins, not rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_scalp")
    val q = EventStreams.calibrationStream(events, col("value"),
        col("user_id") % 2 === 0, bins = 5)
      .writeStream.format("memory").queryName("cal_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    // hour-0 scores split MID-BIN across triggers (0.05 and 0.09 both
    // land in bin 0 but arrive in different triggers, so n/Σmu/pos
    // must merge through state); 1.0 pins the top-bin clamp; a late
    // hour-3 row advances the watermark past hour 0 and 1
    val h0a = Seq((1L, 1L, ts("2024-01-01 00:05:00"), 0.05),
      (2L, 2L, ts("2024-01-01 00:10:00"), 0.31),
      (3L, 3L, ts("2024-01-01 00:15:00"), 1.0))
    val h0b = Seq((4L, 4L, ts("2024-01-01 00:40:00"), 0.09),
      (5L, 5L, ts("2024-01-01 00:45:00"), 0.33),
      (6L, 6L, ts("2024-01-01 00:50:00"), 0.99))
    val h1 = Seq((7L, 7L, ts("2024-01-01 01:30:00"), 0.5))
    val flush = Seq((99L, 99L, ts("2024-01-01 03:30:00"), 0.5))
    try {
      ms.addData(h0a)
      q.processAllAvailable()
      ms.addData(h0b ++ h1)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
      val got = spark.table("cal_live")
        .select("window_start", "bin", "n", "conf_micros", "acc_micros")
        .as[(java.sql.Timestamp, Int, Long, Long, Long)].collect()
        .map(r => (r._1.toString, r._2) -> ((r._3, r._4, r._5))).toMap
      // batch twin over the hour-0 rows via the shared batch op
      val batch = graft.ops.Quality.calibrationBins(
          h0a.++(h0b).toDF("event_id", "user_id", "ts", "value"),
          "value", col("user_id") % 2 === 0, bins = 5)
        .select("bin", "n", "conf_micros", "acc_micros")
        .as[(Int, Long, Long, Long)].collect()
        .map(r => ("2024-01-01 00:00:00.0", r._1) ->
          ((r._2, r._3, r._4))).toMap
      assert(batch.size == 3, batch.toString) // bins 0, 1, 4 hit
      batch.foreach { case (k, v) =>
        assert(got.get(k).contains(v), s"at $k: stream=${got.get(k)} " +
          s"batch=$v (full: $got)")
      }
      // bin 0 merged across triggers: n=2, conf=(50000+90000) div 2
      assert(got(("2024-01-01 00:00:00.0", 0)) ==
        ((2L, 70000L, 500000L)), got.toString)
      // top-bin clamp: 1.0 joins 0.99 in bin 4
      assert(got(("2024-01-01 00:00:00.0", 4))._1 == 2L, got.toString)
    } finally q.stop()
  }

  test("madStream: the frame ring carried across triggers is " +
    "bit-equal to the batch lower-median/MAD window, spike included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_smadp")
    val q = EventStreams.madStream(events, lookback = 3, k = 3).toDF()
      .writeStream.format("memory").queryName("mad_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    val rows = Seq(
      (1L, 1L, ts("2024-01-01 00:01:00"), 10.0),
      (2L, 1L, ts("2024-01-01 00:02:00"), 10.0),
      (3L, 1L, ts("2024-01-01 00:03:00"), 10.0),
      (4L, 1L, ts("2024-01-01 00:04:00"), 100.0),
      (5L, 1L, ts("2024-01-01 00:05:00"), 10.0))
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      // the spike arrives in trigger 2 — its frame crosses the state
      ms.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("mad_live")
        .select("event_id", "med", "mad", "is_anomaly")
        .as[(Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val batch = graft.ops.WindowOps.rollingMadAnomaly(
          rows.toDF("event_id", "user_id", "ts", "value"),
          Seq("user_id"), "ts", "event_id", "value",
          lookback = 3, k = 3)
        .select("event_id", "med", "mad", "is_anomaly")
        .as[(Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got(4L) == ((10.0, 0.0, true)), got.toString)
      assert(got.filter(_._2._3).keySet == Set(4L), got.toString)
    } finally q.stop()
  }

  test("holtStream: level AND trend carried across triggers are " +
    "bit-equal to the batch recurrence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts", "value")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "value", "'{}' as props")
    val dir = tempDir("graft_sh")
    val q = EventStreams.holtStream(events, alpha = 0.5, beta = 0.3)
      .toDF()
      .writeStream.format("memory").queryName("holt_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    val rows = Seq(
      (1L, 1L, ts("2024-01-01 00:01:00"), 10.0),
      (2L, 1L, ts("2024-01-01 00:02:00"), 20.0),
      (3L, 1L, ts("2024-01-01 00:03:00"), 30.0))
    try {
      ms.addData(rows.take(2))
      q.processAllAvailable()
      // trigger 2 must carry BOTH level (15.0) and trend (1.5)
      ms.addData(rows.drop(2))
      q.processAllAvailable()
      val got = spark.table("holt_live")
        .as[graft.streaming.HoltOut].collect()
        .map(o => o.event_id -> ((o.level, o.trend, o.forecast))).toMap
      // hand-computed (the w27 batch spec's numbers)
      assert(got(2L) == ((15.0, 1.5, 16.5)), got.toString)
      assert(got(3L) == ((23.25, 3.525, 26.775)), got.toString)
      val batch = graft.ops.WindowOps.holt(
          rows.toDF("event_id", "user_id", "ts", "value"),
          Seq("user_id"), "ts", "event_id", "value", 0.5, 0.3)
        .select("event_id", "level", "trend", "forecast")
        .as[(Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(batch == got, s"batch=$batch stream=$got")
    } finally q.stop()
  }

  test("rateLimitStream: bucket state carried across triggers is " +
    "bit-equal to the batch limiter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = ms.toDF().toDF("event_id", "user_id", "ts")
      .selectExpr("event_id", "ts", "user_id", "'x' as event_type",
        "0.0 as value", "'{}' as props")
    val dir = tempDir("graft_srl")
    val q = EventStreams.rateLimitStream(events, capacity = 2,
        refillPerSec = 0.1).toDF()
      .writeStream.format("memory").queryName("rate_live")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    val rows = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00")),
      (2L, 1L, ts("2024-01-01 00:00:01")),
      (3L, 1L, ts("2024-01-01 00:00:02")),
      (4L, 1L, ts("2024-01-01 00:00:10")),
      (5L, 1L, ts("2024-01-01 00:01:00")))
    try {
      // trigger 1: events 1-3 (burst: deny at 3); trigger 2 carries
      // the fractional bucket (0.2) across the state store
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("rate_live")
        .as[graft.streaming.RateOut].collect()
        .map(o => o.event_id -> ((o.tokens, o.admitted))).toMap
      val batch = graft.ops.WindowOps.rateLimit(
          rows.toDF("event_id", "user_id", "ts"), Seq("user_id"), "ts",
          "event_id", capacity = 2, refillPerSec = 0.1)
        .select("event_id", "tokens", "admitted")
        .as[(Long, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got(3L) == ((0.2, false)) && got(4L) == ((0.0, true)))
    } finally q.stop()
  }

  test("intervalJoinStreamsOuter: unmatched lefts emit with nulls once " +
    "the watermark passes; stageDrainBatches + drainTail flush the tail") {
    val base = tempDir("graft_sjo")
    def mk(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val data = mk(Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "click"),
      (2L, ts("2024-01-01 00:30:00"), 1L, "purchase"), // matches click 1
      (3L, ts("2024-01-01 05:00:00"), 2L, "click"),    // unmatched
      (4L, ts("2024-01-01 23:00:00"), 3L, "click")))   // unmatched, tail
    val inDir = new java.io.File(s"$base/in")
    data.coalesce(1).write.mode("overwrite").parquet(inDir.toString)
    // TWO drain batches (the stateful-drain case stageDrainBatches
    // documents): the first advances the watermark — it takes effect
    // the batch AFTER the rows advancing it are processed — and the
    // second triggers the join-state eviction pass under it; one batch
    // would leave the tail's unmatched-left state unflushed
    EventStreams.stageDrainBatches(inDir.toString, Seq(
      mk(Seq(
        (-1L, ts("2024-03-01 00:00:00"), -1L, "click"),
        (-2L, ts("2024-03-01 00:00:00"), -1L, "purchase"))),
      mk(Seq(
        (-3L, ts("2024-03-02 00:00:00"), -1L, "click"),
        (-4L, ts("2024-03-02 00:00:00"), -1L, "purchase")))))
    // staged drain files must sort strictly after the data by mtime
    val files = inDir.listFiles.filter(_.getName.endsWith(".parquet"))
    val dataM = files.filterNot(_.getName.startsWith("drain"))
      .map(_.lastModified()).max
    val drainM = files.filter(_.getName.startsWith("drain"))
      .map(_.lastModified()).sorted
    assert(drainM.length == 2 && drainM.head > dataM &&
      drainM(1) > drainM.head)
    val opts = Map("maxFilesPerTrigger" -> "1")
    val clicks = EventStreams.readStream(spark, inDir.toString,
        options = opts)
      .filter(col("event_type") === "click")
    val purchases = EventStreams.readStream(spark, inDir.toString,
        options = opts)
      .filter(col("event_type") === "purchase")
    val joined = EventStreams.intervalJoinStreamsOuter(clicks, purchases,
        "user_id", "ts", within = "1 HOUR", watermark = "2 hours")
      .select(col("l.event_id").as("click_id"),
        col("r.event_id").as("purchase_id"))
    // drainTail is the BATCH-side sentinel filter (plan-side would
    // freeze the watermark); predicate on the nullable right column
    // exercises its null-safety — null purchase_id must KEEP the row
    val out = EventStreams.drainTail(
        EventStreams.runAvailableNow(joined,
          queryName = s"sjospec_${System.nanoTime()}",
          checkpoint = s"$base/ckpt"),
        col("click_id") < 0 || col("purchase_id") < 0)
      .as[(Long, Option[Long])].collect().toSet
    assert(out == Set((1L, Some(2L)), (3L, None), (4L, None)), out.toString)
  }

  test("intervalJoinStreamsFull: unmatched rows from BOTH sides emit " +
    "with nulls once the watermark passes — the join matrix's last " +
    "cell next to inner and left-outer") {
    val base = tempDir("graft_sjf")
    def mk(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val data = mk(Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "click"),
      (2L, ts("2024-01-01 00:30:00"), 1L, "purchase"), // matches click 1
      (3L, ts("2024-01-01 05:00:00"), 2L, "click"),    // unmatched LEFT
      (4L, ts("2024-01-01 07:00:00"), 3L, "purchase"), // unmatched RIGHT
      (5L, ts("2024-01-01 23:00:00"), 4L, "purchase"))) // unmatched, tail
    val inDir = new java.io.File(s"$base/in")
    data.coalesce(1).write.mode("overwrite").parquet(inDir.toString)
    EventStreams.stageDrainBatches(inDir.toString, Seq(
      mk(Seq(
        (-1L, ts("2024-03-01 00:00:00"), -1L, "click"),
        (-2L, ts("2024-03-01 00:00:00"), -1L, "purchase"))),
      mk(Seq(
        (-3L, ts("2024-03-02 00:00:00"), -1L, "click"),
        (-4L, ts("2024-03-02 00:00:00"), -1L, "purchase")))))
    val opts = Map("maxFilesPerTrigger" -> "1")
    val clicks = EventStreams.readStream(spark, inDir.toString,
        options = opts)
      .filter(col("event_type") === "click")
    val purchases = EventStreams.readStream(spark, inDir.toString,
        options = opts)
      .filter(col("event_type") === "purchase")
    val joined = EventStreams.intervalJoinStreamsFull(clicks, purchases,
        "user_id", "ts", within = "1 HOUR", watermark = "2 hours")
      .select(col("l.event_id").as("click_id"),
        col("r.event_id").as("purchase_id"))
    val out = EventStreams.drainTail(
        EventStreams.runAvailableNow(joined,
          queryName = s"sjfspec_${System.nanoTime()}",
          checkpoint = s"$base/ckpt"),
        col("click_id") < 0 || col("purchase_id") < 0)
      .as[(Option[Long], Option[Long])].collect().toSet
    assert(out == Set(
      (Some(1L), Some(2L)),   // matched pair
      (Some(3L), None),       // unmatched click
      (None, Some(4L)),       // unmatched purchase
      (None, Some(5L))),      // tail purchase, flushed by the drain
      out.toString)
  }

  test("nearDupCandidatesStream: a chunked replay verifies to exactly " +
    "the batch near-dup answer, including pairs SPLIT across batches") {
    import graft.text.Dedup
    val docs = Seq(
      // near-dup pair inside batch 1
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      // its twin arrives two batches later (cross-batch state hit)
      (3L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      // unrelated docs in every batch
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
      (6L, "spark shuffle partition broadcast join window agg scan")
    ).toDF("doc_id", "text")
    val base = tempDir("graft_snd")
    // three controlled files -> three micro-batches (mod-time ordered)
    val inDir = s"$base/src"
    EventStreams.stageDrainBatches(inDir,
      Seq(Seq(1L, 2L), Seq(4L, 5L), Seq(3L, 6L))
        .map(ids => docs.filter(col("doc_id").isin(ids: _*))))
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val cands = EventStreams.nearDupCandidatesStream(stream, "doc_id",
      "text", shingleN = 3, numHashes = 32, bands = 16)
    val out = EventStreams.runAvailableNow(cands.toDF(),
      queryName = s"sndspec_${System.nanoTime()}",
      checkpoint = s"$base/ckpt")
    val streamed = Dedup.verifyCandidatePairs(
        out.dropDuplicates("id1", "id2"), docs, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val batch = Dedup.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, shingleN = 3, numHashes = 32, bands = 16)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the cross-batch pair (1,3) or (2,3) must be present — state
    // carried members across micro-batches
    assert(streamed.exists(p => p._2 == 3L))
  }

  test("restart from checkpoint is exactly-once: an outer-join replay " +
    "killed mid-run resumes into a file sink with no loss or dupes") {
    // The ops property a 100 TB backfill depends on: kill the job at an
    // arbitrary batch boundary, restart with the same checkpoint, and
    // the parquet sink (whose _spark_metadata commit log spark.read
    // honors) holds every result exactly once.
    val base = tempDir("graft_rst")
    def mk(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val inDir = new java.io.File(s"$base/in")
    mk(Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "click"),
      (2L, ts("2024-01-01 00:30:00"), 1L, "purchase"),
      (3L, ts("2024-01-01 05:00:00"), 2L, "click"),
      (4L, ts("2024-01-01 23:00:00"), 3L, "click")))
      .coalesce(1).write.mode("overwrite").parquet(inDir.toString)
    EventStreams.stageDrainBatches(inDir.toString, Seq(
      mk(Seq((-1L, ts("2024-03-01 00:00:00"), -1L, "click"),
        (-2L, ts("2024-03-01 00:00:00"), -1L, "purchase"))),
      mk(Seq((-3L, ts("2024-03-02 00:00:00"), -1L, "click"),
        (-4L, ts("2024-03-02 00:00:00"), -1L, "purchase")))))
    val opts = Map("maxFilesPerTrigger" -> "1")
    def joined() = {
      val clicks = EventStreams.readStream(spark, inDir.toString,
        options = opts).filter(col("event_type") === "click")
      val purchases = EventStreams.readStream(spark, inDir.toString,
        options = opts).filter(col("event_type") === "purchase")
      EventStreams.intervalJoinStreamsOuter(clicks, purchases,
          "user_id", "ts", within = "1 HOUR", watermark = "2 hours")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"))
    }
    def start() = joined().writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // run 1: kill after at least one committed batch (wherever the
    // stop lands, the sink's commit log keeps only whole batches);
    // stopping MID-BATCH aborts tasks by design — silence those
    // expected ERROR traces for this section only
    graft.SparkSpec.withExpectedTaskFailures {
      val q1 = start()
      val deadline = System.currentTimeMillis() + 60000
      while (q1.isActive && q1.recentProgress.length < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      q1.stop(); q1.awaitTermination()
      // run 2 (same scope: the killed run's async broadcast/task
      // cleanup can log its expected ERROR while run 2 starts):
      // same checkpoint — resumes from the last committed offset
      val q2 = start(); q2.awaitTermination()
    }
    val out = EventStreams.drainTail(
        spark.read.parquet(s"$base/out"),
        col("click_id") < 0 || col("purchase_id") < 0)
      .as[(Long, Option[Long])].collect().toSeq
    assert(out.sorted == Seq((1L, Some(2L)), (3L, None), (4L, None)),
      s"restart lost or duplicated rows: $out")
  }

  test("nearDupCandidatesStream: idle eviction SHRINKS state (bucket " +
    "count) versus the unbounded default, measured per micro-batch") {
    // 3 micro-batches of mutually-unrelated docs: without eviction the
    // state (one row per live LSH band-bucket) only grows; with a 1 ms
    // idle horizon, buckets untouched by the current batch time out by
    // the next, so the final state is strictly smaller — the contract
    // the scaladoc documents (beyond-horizon pairs are LshIndex's job).
    val docs = (1L to 12L).map(i =>
      (i, s"chunk${i % 3} unique$i words$i tokens$i content$i more$i " +
        s"text$i here$i body$i tail$i"))
      .toDF("doc_id", "text")
    val base = tempDir("graft_sev")
    val inDir = new java.io.File(s"$base/in")
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir.toString)
    // chunks 2 and 3 staged as strictly-later files: stageDrainBatches
    // is the general mtime-ordering tool, not only for sentinels
    EventStreams.stageDrainBatches(inDir.toString, Seq(
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2)))
    // runBoundedWithTimeouts, not runAvailableNow: a processing-time-
    // timeout query under AvailableNow never self-terminates (the
    // operator's documented caution) — the helper polls and stops
    def run(evict: Option[Long]): Seq[(Long, Long)] = {
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      EventStreams.runBoundedWithTimeouts(
        EventStreams.nearDupCandidatesStream(stream, "doc_id",
          "text", shingleN = 3, numHashes = 32, bands = 16,
          evictIdleAfterMs = evict).toDF(),
        checkpoint =
          s"$base/ckpt_${evict.isDefined}_${System.nanoTime()}",
        expectDataBatches = 3)
    }
    def dataStates(rows: Seq[(Long, Long)]): Seq[Long] =
      rows.collect { case (in, st) if in > 0 => st }
    val unbounded = dataStates(run(None))
    val evicted = dataStates(run(Some(1L)))
    assert(unbounded.length == 3 && evicted.length == 3)
    // unbounded state is monotone non-decreasing and ends at its peak
    assert(unbounded == unbounded.sorted, unbounded.toString)
    // with a 1 ms idle horizon, earlier batches' untouched buckets are
    // evicted, so the final retained state sits strictly below the
    // unbounded final state
    assert(evicted.last < unbounded.last,
      s"evicted=$evicted unbounded=$unbounded")
  }

  test("runBoundedWithTimeouts fails loudly when the query terminates " +
    "before its expected data batches") {
    // a stateful no-timeout query over two staged files self-terminates
    // after two data batches; expecting three must throw, not return
    // the partial progress
    val dir = tempDir("graft_short")
    EventStreams.stageDrainBatches(s"$dir/in", Seq(
      events(Seq((0L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0, "{}"))),
      events(Seq((1L, ts("2024-01-01 00:20:00"), 1L, "view", 2.0, "{}")))))
    val stream = EventStreams.readStream(spark, s"$dir/in",
      options = Map("maxFilesPerTrigger" -> "1"))
    val ex = intercept[IllegalStateException] {
      EventStreams.runBoundedWithTimeouts(
        EventStreams.ewmaStream(stream).toDF(),
        checkpoint = s"$dir/ckpt", expectDataBatches = 3)
    }
    assert(ex.getMessage.contains("terminated before") &&
      ex.getMessage.contains("saw 2 of 3 data batches"), ex.getMessage)
  }
}
