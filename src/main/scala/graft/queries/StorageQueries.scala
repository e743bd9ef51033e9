package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.text.Dedup

import Fixtures._
import TextQueries.duckStripSql
import WindowQueries.{FunnelOracle, HoltOracle, RateLimitOracle, RollingMadOracle, ZscoreOracle}

/** Storage and streaming queries (prefix s): sink/scan roundtrips, merges
  * and snapshots, crawl-format scans, and bounded `AvailableNow` stream
  * drains over staged inputs. */
object StorageQueries {

  /** Per-JVM cache of the re-staged events dir for the streaming query. */
  private val stagedEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the DUPLICATED events dir (streaming-dedup input:
    * every row staged twice, so the dedup has real work to undo). */
  private val stagedDupEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the two-tier dedup staging dir (two mod-time-
    * ordered file groups: originals, then late re-arrivals). */
  private val stagedTwoTierDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the streaming-upsert staging (source dir with two
    * mod-time-ordered file groups: originals, then revisions; sink dir
    * the stream merges into). Replays converge: a re-run's batch 1
    * re-merges the originals, batch 2 re-applies the revisions. */
  private val stagedUpsert =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Per-JVM cache of the merge-upsert base table dir (hive-partitioned
    * documents staging; the merge itself is idempotent, so re-running
    * the query against the mutated base converges to the same state). */
  private val stagedMergeBase =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val stagedAggMv =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val stagedDocsStreamDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the fixed-width customer extract staging. */
  private val stagedFixedWidth =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the WET-export roundtrip staging dir (s17). */
  private val stagedWet =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the WARC drop-directory staging (s_stream). */
  private val stagedWarcStream =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the streaming-curate drop dir (s_stream_warc_curate). */
  private val stagedWarcCurateStream =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the streaming-distinct staging (events + two
    * sentinel drain batches). */
  private val stagedDistinctEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the s_stream_psi reference profile (decile
    * bounds, Laplace-guarded shares) — round-10 ADVICE: the profile's
    * two driver-side collects re-ran on every invocation even though
    * the staged input was already cached per dir. */
  private val stagedPsiProfile = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Double], Seq[Double])]

  private val stagedHellingerProfile = scala.collection.concurrent
    .TrieMap.empty[String, (Seq[Double], Seq[Double])]

  /** Shared staging for the sentinel-drained chunked events replays
    * (s_stream_distinct and s_stream_psi — round-10 ADVICE: the ~25
    * line closure was duplicated verbatim and both populate the SAME
    * cache key, so an edit to one could silently drift from the
    * other). Events land as ONE parquet file followed by two sentinel
    * drain batches (max ts + 30/31 days), so maxFilesPerTrigger=1
    * replays chunk-by-chunk and the two-sentinel watermark advance
    * flushes the last real windows. */
  private def stageSentinelEvents(s: SparkSession, dir: String): String =
    stagedDistinctEventsDir.getOrElseUpdate(dir, {
      val tmp = tempDir("graft_sdc")
      val e = t(s, dir, "events")
      val maxMs = e.agg(max(col("ts"))).head().get(0) match {
        case ts: java.sql.Timestamp      => ts.getTime
        case dt: java.time.LocalDateTime =>
          java.sql.Timestamp.valueOf(dt).getTime
      }
      val tsType = e.schema("ts").dataType
      def sentinel(offsetDays: Long) = e.limit(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxMs + offsetDays * 86400 * 1000))
          .cast(tsType).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      val inDir = s"$tmp/in"
      e.coalesce(1).write.mode("overwrite").parquet(inDir)
      graft.streaming.EventStreams.stageDrainBatches(inDir,
        Seq(sentinel(30), sentinel(31)))
      inDir
    })

  private val stagedOuterEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Shared staging for the outer/full stream-stream interval joins
    * (s_stream_join_outer and s_stream_join_full populate the SAME
    * cache key, so the closure must exist ONCE — a drifted copy
    * would silently change the other query's input depending on run
    * order): events as one parquet file + TWO sentinel click/purchase
    * PAIR batches (max ts + 30/31 days). Pairs advance BOTH inputs'
    * watermarks together; the first sentinel batch advances the
    * watermark (takes effect next batch), the second triggers the
    * eviction pass that drains the tail's unmatched state — the
    * one-batch watermark lag stageDrainBatches documents. */
  private def stageOuterEvents(s: SparkSession, dir: String): String =
    stagedOuterEventsDir.getOrElseUpdate(dir, {
      val tmp = tempDir("graft_sjo")
      val e = t(s, dir, "events")
      val maxMs = e.agg(max(col("ts"))).head().get(0) match {
        case ts: java.sql.Timestamp      => ts.getTime
        case dt: java.time.LocalDateTime =>
          java.sql.Timestamp.valueOf(dt).getTime
      }
      val tsType = e.schema("ts").dataType
      def sentinels(ids: (Long, Long), offsetDays: Long) = {
        def one(id: Long, et: String) = e.limit(1).select(
          lit(id).as("event_id"),
          lit(new java.sql.Timestamp(maxMs + offsetDays * 86400 * 1000))
            .cast(tsType).as("ts"),
          lit(-1L).as("user_id"), lit(et).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        one(ids._1, "click").unionByName(one(ids._2, "purchase"))
      }
      val inDir = s"$tmp/in"
      e.coalesce(1).write.mode("overwrite").parquet(inDir)
      graft.streaming.EventStreams.stageDrainBatches(inDir,
        Seq(sentinels((-1L, -2L), 30), sentinels((-3L, -4L), 31)))
      inDir
    })

  /** Streaming state partition count for the bounded harness drains:
    * the staged inputs are single-digit micro-batches of O(100k) rows,
    * where per-partition state-store commit fan-out dominates wall
    * clock (r15: s_stream_join_outer 9.3 s at 32 state partitions vs
    * 3.8 s at 8 — the stream-stream joins carry FOUR stores per
    * partition and gain the most). r19 CORRECTION of the r18 claim:
    * an r18 hand sweep reported 48.8 s at 2 vs ~59 s at 8 for the 26
    * queries, but that number never reproduced in a shipped
    * artifact. With EVERY stream query quiet-re-measured end-of-run
    * and min-folded (the r19 bench block), the artifacted floor
    * came in at 53-59 s across three quiet r19 runs (52.5 s on the
    * final run for the comparable 26) — better than the flat ~59 s
    * the un-re-measured r17/r18 artifacts published, still short of
    * the 48.8 claim. The honest reading: the bench-harness floor is
    * dominated by per-QUERY fixed costs (fresh checkpoint staging,
    * stream start/stop, commit-log scans) that the partition count
    * moves only weakly; parts=2 is kept for the per-query wins the
    * r15 measurement established, not for a floor-level claim.
    * Production streams inherit the session's cluster-sized
    * `spark.sql.shuffle.partitions` — this constant exists only so
    * the harness does not shard kilobyte state dozens of ways. */
  private val drainStateParts = Some(2)

  /** The bounded-drain entry every `s_stream_*` query runs through:
    * [[graft.streaming.EventStreams.runAvailableNow]] with the
    * harness state-partition count applied. */
  private def runDrain(transformed: DataFrame, queryName: String,
                       checkpoint: String,
                       outputMode: org.apache.spark.sql.streaming.OutputMode =
                         org.apache.spark.sql.streaming.OutputMode.Append())
      : DataFrame =
    graft.streaming.EventStreams.runAvailableNow(transformed, queryName,
      checkpoint, outputMode, statePartitions = drainStateParts)

  /** STREAM tier of the two-tier dedup (`s_two_tier_dedup`), exposed so
    * TwoTierDedupSpec can assert the residue is real (stream output
    * still holds the beyond-horizon duplicates the batch tier removes).
    * Stages the input once per (JVM, sf dir), THREE mod-time-ordered
    * micro-batches (maxFilesPerTrigger=1):
    *   1. the corpus (max event time T1);
    *   2. a watermark ADVANCER — one duplicate of the latest event,
    *      within horizon, so the stream drops it (output unaffected).
    *      Its real job is the batch boundary: the watermark computed
    *      from batch 1 (T1 − 2h) only takes effect — and only evicts
    *      expired keys — during THIS batch (watermark updates and
    *      state cleanup are end-of-batch; measured: with just two
    *      batches the re-arrivals still found their keys in state and
    *      residue was 0);
    *   3. 200 re-arrivals of the EARLIEST events (event time T1 + 1h,
    *      30-day corpus span ≫ the 4h eviction horizon) — their keys'
    *      state is gone, dedupStream lets them through. */
  private[graft] def twoTierStreamTier(s: SparkSession,
                                       dir: String): DataFrame = {
    val in = stagedTwoTierDir.getOrElseUpdate(dir, {
      val tmp = tempDir("graft_tt")
      val e = t(s, dir, "events")
      e.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      // ts may surface as java.sql.Timestamp (LTZ) or LocalDateTime
      // (NTZ) depending on the source parquet's isAdjustedToUTC flag —
      // the engine supports both, so the staging must too
      val maxMs = e.agg(max(col("ts"))).head().get(0) match {
        case ts: java.sql.Timestamp     => ts.getTime
        case dt: java.time.LocalDateTime =>
          java.sql.Timestamp.valueOf(dt).getTime
      }
      // cast shifted literals back to the SOURCE ts type so all three
      // staged files share one schema (identity values under UTC)
      val tsType = e.schema("ts").dataType
      e.orderBy(col("ts").desc, col("event_id")).limit(1)
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxMs + 1800L * 1000)).cast(tsType))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/adv")
      e.orderBy(col("ts"), col("event_id")).limit(200)
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxMs + 3600L * 1000)).cast(tsType))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/late")
      // merge into one source dir with CONTROLLED mod-time order:
      // originals oldest, advancer in between, re-arrivals newest
      val inDir = java.nio.file.Paths.get(tmp, "in")
      val now = System.currentTimeMillis()
      val listIn = java.nio.file.Files.list(inDir)
      try listIn.forEach(p =>
        p.toFile.setLastModified(now - 600000L))
      finally listIn.close()
      def mergeIn(sub: String, prefix: String, mtime: Long): Unit = {
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, sub))
        try ls.forEach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")) {
            val dst = inDir.resolve(s"$prefix-$n")
            java.nio.file.Files.copy(p, dst)
            dst.toFile.setLastModified(mtime); ()
          }
        } finally ls.close()
      }
      mergeIn("adv", "adv", now - 300000L)
      mergeIn("late", "late", now)
      inDir.toString
    })
    val ckpt = ckptDir("graft_tt_ck")
    val stream = graft.streaming.EventStreams.readStream(s, in,
      options = Map("maxFilesPerTrigger" -> "1"))
    runDrain(
      graft.streaming.EventStreams.dedupStream(stream, Seq("event_id"))
        .select("event_id", "user_id", "event_type"),
      queryName = s"tt_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
  }

  val queries: Seq[Query] = Seq(
    // ---- S7: CDC-style STREAMING upsert sink — two micro-batches
    // (originals, then revisions of every 50th event) merge into a
    // hive-partitioned table via foreachBatch + mergeUpsert; batch 1
    // creates the table, batch 2 rewrites only the touched partitions.
    // Oracle recomputes the final table state from the source. ----
    Query("s7_stream_upsert", "CDC-style STREAMING upsert sink",
      (s, dir) => {
        val (in, sink) = stagedUpsert.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_upsert")
          val e = t(s, dir, "events")
          e.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
          e.filter(col("event_id") % 50 === 0)
            .withColumn("value", col("value") + 1000.0)
            .coalesce(1).write.mode("overwrite").parquet(s"$tmp/rev")
          // one source dir, controlled mod-time order: originals oldest
          val inDir = java.nio.file.Paths.get(tmp, "in")
          val now = System.currentTimeMillis()
          val listIn = java.nio.file.Files.list(inDir)
          try listIn.forEach(p => p.toFile.setLastModified(now - 600000L))
          finally listIn.close()
          val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "rev"))
          try ls.forEach { p =>
            val n = p.getFileName.toString
            if (n.endsWith(".parquet") && !n.startsWith("_") &&
                !n.startsWith(".")) {
              val dst = inDir.resolve(s"rev-$n")
              java.nio.file.Files.copy(p, dst)
              dst.toFile.setLastModified(now); ()
            }
          } finally ls.close()
          (inDir.toString, s"$tmp/sink")
        })
        val ckpt = ckptDir("graft_upsert_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        graft.streaming.EventStreams.upsertStream(stream, sink,
          keys = Seq("event_id"), partCol = "event_type", orderCol = "ts",
          queryName = s"up_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
        s.read.parquet(sink).select("event_id", "event_type", "value")
      },
      // Recomputes the streamed-upsert final table state: revised events
      // carry the batch-2 value, everything else the original.
      """SELECT event_id, event_type,
        |  CASE WHEN event_id % 50 = 0 THEN value + 1000.0 ELSE value END
        |    AS value
        |FROM events""".stripMargin),

    // ---- S6: keyed MERGE (SCD1 upsert) into a hive-partitioned
    // parquet table — 50 revised docs (doc_id % 10) + 6 inserts under
    // a NEW partition value; only touched partitions are read and
    // rewritten (dynamic partition overwrite; MergeUpsertSpec pins
    // untouched partitions' files byte-identical). Oracle recomputes
    // the merged state from the source table. Idempotent, so repeat
    // runs in one JVM converge. ----
    Query("s6_merge_upsert", "keyed MERGE (SCD1 upsert) into a hive-partitioned",
      (s, dir) => {
        val base = stagedMergeBase.getOrElseUpdate(dir, {
          val p = tempDir("graft_merge") + "/base"
          t(s, dir, "documents").write.mode("overwrite")
            .partitionBy("lang").parquet(p)
          p
        })
        val docs = t(s, dir, "documents")
        val updates = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(lit("UPDATED:"), col("lang")))
          .unionByName(docs.filter(col("doc_id") % 97 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L)
            .withColumn("text", lit("INSERTED"))
            .withColumn("lang", lit("xx")))
        ops.Merge.mergeUpsert(s, base, updates, Seq("doc_id"), "lang")
        s.read.parquet(base)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), col("text"))
      },
      // Recomputes the post-merge table state from the source: updates
      // replace same-key rows, inserts add new keys.
      """WITH upd AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    'UPDATED:' || lang AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'xx', source, n_chars, 'INSERTED'
        |  FROM documents WHERE doc_id % 97 = 0)
        |SELECT doc_id, lang, source, n_chars, text FROM upd
        |UNION ALL
        |SELECT d.doc_id, d.lang, d.source, d.n_chars, d.text
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)""".stripMargin),

    // ---- S11: incrementally-maintained aggregate MV — the daily
    // (date, type) rollup folded in as THREE batch loads (thirds of
    // the fact by event_id), never rescanning prior data; partials
    // merge by their own merge fn (count by sum), decimal sums stay
    // exact, schema pinned to the delta's types. Final state must
    // equal the one-shot full aggregation (the oracle). ----
    Query("s11_incremental_agg", "incrementally-maintained aggregate MV",
      (s, dir) => {
        val mv = stagedAggMv.getOrElseUpdate(dir, {
          val p = tempDir("graft_mv") + "/mv"
          val ev = t(s, dir, "events")
            .withColumn("event_date",
              col("ts").cast("date").cast("string"))
            .withColumn("value_dec", col("value").cast("decimal(18,2)"))
          val aggs = Seq(
            Scale.SaltedAgg.count("event_id", "n"),
            Scale.SaltedAgg.sum("value_dec", "sum_value"),
            Scale.SaltedAgg.min("value", "min_value"),
            Scale.SaltedAgg.max("value", "max_value"))
          (0 to 2).foreach { i =>
            ops.Merge.incrementalAggMv(s, p,
              ev.filter(pmod(col("event_id"), lit(3)) === i),
              "event_date", Seq("event_type"), aggs)
          }
          p
        })
        s.read.parquet(mv).select(
          col("event_date").cast("string").as("event_date"),
          col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"),
          col("min_value"), col("max_value"))
      },
      // the MV's three incremental loads must land exactly on the
      // one-shot full aggregation
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
        |  event_type,
        |  COUNT(event_id) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- streaming: watermarked windowed agg, AvailableNow == batch.
    // The events parquet is re-staged (nanos ts -> micros) because the
    // file stream source has no post-read transform hook; staged ONCE
    // per (JVM, sf dir) so repeated runs measure the streaming query,
    // not the harness copy. ----
    // ---- streaming per-window top-k leaderboard — the custom heap
    // AGGREGATE inside a streaming aggregation: state per (window,
    // type) is k rows forever; a window-sort rank can't stream at
    // all. Oracle == the batch window+rank formulation. ----
    Query("s_stream_topk", "streaming per-window top-k leaderboard",
      (s, dir) => {
        val in = stagedEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sw")
          t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_stk_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in)
        runDrain(
          graft.streaming.EventStreams.windowedTopK(stream, "1 hour",
            k = 3, watermark = "2 hours"),
          queryName = s"stk_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
      },
      // the batch window+rank formulation the streaming heap agg must
      // reproduce
      """SELECT window_start, event_type, CAST(rn AS INT) AS rank,
        |  event_id, value
        |FROM (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    event_id, value,
        |    row_number() OVER (
        |      PARTITION BY date_trunc('hour', ts), event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rn <= 3""".stripMargin),

    // ---- streaming exact COUNT(DISTINCT) per hour window — two
    // chained stateful operators (dedup on (window, user) → windowed
    // count), Append mode, tail drained by the two-sentinel batches;
    // oracle is the batch distinct count per hour. ----
    Query("s_stream_distinct", "streaming exact COUNT(DISTINCT) per hour window",
      (s, dir) => {
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_sdc_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.windowedDistinctUsers(stream,
            "1 hour", "2 hours"),
          queryName = s"sdc_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
      },
      // streaming exact distinct == batch distinct per closed window
      """SELECT date_trunc('hour', ts) AS window_start,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
        |FROM events GROUP BY 1""".stripMargin),

    // ---- streaming per-window HLL distinct ESTIMATE — the sketch
    // twin of s_stream_distinct: 64 registers per live window forever
    // vs O(users) dedup state; chunked replay bit-equal to the batch
    // sketch per window. ----
    // ---- streaming: per-window Brier score — the live forecast-
    // quality monitor: one exact (count, pos, HUGEINT squared-error)
    // partial per window, bit-equal to the batch arithmetic. ----
    Query("s_stream_brier", "per-window Brier score",
      (s, dir) => {
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_sbr_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.brierStream(stream,
            least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)),
            col("event_type") === "purchase", "1 hour", "2 hours"),
          queryName = s"sbr_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
      },
      // per-window replay of the a65 micro arithmetic
      """WITH s AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    CAST(CAST(ROUND(LEAST(GREATEST(
        |        CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL)
        |SELECT ws AS window_start, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS base_rate,
        |  ROUND(CAST(SUM(CAST(mu - y * 1000000 AS HUGEINT)
        |      * (mu - y * 1000000)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e12, 6) AS brier
        |FROM s GROUP BY ws""".stripMargin),

    // ---- streaming: per-window dataset fingerprint — the live twin
    // of a60: one (count + two modular sums) partial per live window
    // forever; window fingerprints modular-ADD to the whole-corpus
    // fingerprint (the reconcile-without-rereading property). ----
    Query("s_stream_fingerprint", "per-window dataset fingerprint",
      (s, dir) => {
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_sfp_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.fingerprintStream(stream,
            Seq("event_id", "event_type"), "1 hour", "2 hours"),
          queryName = s"sfp_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
      },
      // per-window replay of the a60 fold over the identical canonical
      """WITH s AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    concat(COALESCE(CAST(event_id AS VARCHAR), chr(0)), chr(1),
        |      COALESCE(event_type, chr(0))) AS canon
        |  FROM events),
        |h AS (
        |  SELECT ws,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon || chr(2), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h2
        |  FROM s)
        |SELECT ws AS window_start, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(h1) % 2305843009213693951 AS BIGINT) AS hash_sum,
        |  CAST(SUM(h2) % 2305843009213693951 AS BIGINT) AS hash_sum_b
        |FROM h GROUP BY ws""".stripMargin),

    Query("s_stream_hll", "streaming sliding-window HyperLogLog distinct users",
      (s, dir) => {
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_shll_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.hllDistinctStream(stream,
            "1 hour", "2 hours"),
          queryName = s"shll_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
      },
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    (((user_id % 2147483648) + 2147483648) % 2147483648)
        |      * 2654435761 AS a
        |  FROM events WHERE user_id IS NOT NULL),
        |h2 AS (SELECT ws, xor(a, a >> 31) AS b FROM h),
        |h3 AS (SELECT ws, (b & 2147483647) * 2654435761 AS c FROM h2),
        |h4 AS (SELECT ws, xor(c, c >> 31) AS w FROM h3),
        |r AS (
        |  SELECT ws, w & 63 AS idx,
        |    CASE WHEN (w >> 6) = 0 THEN 57
        |         ELSE bit_count(((w >> 6) & -(w >> 6)) - 1) + 1
        |    END AS rho
        |  FROM h4),
        |regs AS (SELECT ws, idx, MAX(rho) AS rho FROM r GROUP BY 1, 2),
        |a AS (
        |  SELECT ws, CAST(COUNT(*) AS BIGINT) AS hit,
        |    SUM(CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS z
        |  FROM regs GROUP BY 1),
        |f AS (
        |  SELECT ws, hit,
        |    CAST(z + (64 - hit) * 144115188075855872 AS DOUBLE)
        |      / CAST(144115188075855872 AS DOUBLE) AS zz
        |  FROM a),
        |e AS (
        |  SELECT ws, hit,
        |    CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) / zz AS eraw
        |  FROM f)
        |SELECT ws AS window_start, hit AS registers_hit,
        |  ROUND(CASE WHEN eraw <= CAST(2.5 AS DOUBLE)
        |                  * CAST(64 AS DOUBLE) AND (64 - hit) > 0
        |             THEN CAST(64 AS DOUBLE)
        |                  * ROUND(ln(CAST(64 AS DOUBLE)
        |                      / CAST(64 - hit AS DOUBLE)), 6)
        |             ELSE eraw END, 6) AS estimate
        |FROM e""".stripMargin),

    // ---- streaming: per-window KMV distinct sketch — TRUE O(k)
    // sketch state per live window via flatMapGroupsWithState (an
    // agg-based distinct would key state by every hash); k-minimum
    // sets are order-independent, so the chunked replay is bit-equal
    // to the batch sketch per window, threshold included. ----
    Query("s_stream_kmv", "per-window KMV distinct sketch",
      (s, dir) => {
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_skmv_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.kmvDistinctStream(stream).toDF(),
          queryName = s"skmv_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
      },
      // the batch HLL replay per hour window (the a37 register
      // arithmetic grouped by window)
      // the batch KMV replay per hour window (the a51 mixer fold +
      // per-window k smallest distinct hashes)
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS ws, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |m AS (
        |  SELECT ws, (b & 2147483647) * 2654435761 AS c FROM (
        |    SELECT ws, xor(a, a >> 31) AS b FROM (
        |      SELECT ws, (((user_id % 2147483648) + 2147483648)
        |        % 2147483648) * 2654435761 AS a FROM e))),
        |hh AS (
        |  SELECT DISTINCT ws, (((xor(c, c >> 31) % 2147483648)
        |    + 2147483648) % 2147483648) + 1 AS h FROM m),
        |rk AS (
        |  SELECT ws, h,
        |    ROW_NUMBER() OVER (PARTITION BY ws ORDER BY h) AS r
        |  FROM hh),
        |sk AS (SELECT ws, h FROM rk WHERE r <= 256),
        |t AS (
        |  SELECT ws, COUNT(*) AS kept, MAX(h) AS thr
        |  FROM sk GROUP BY 1)
        |SELECT ws AS window_start, CAST(kept AS BIGINT) AS hashes_kept,
        |  thr AS threshold,
        |  CASE WHEN kept < 256 THEN CAST(kept AS DOUBLE)
        |    ELSE ROUND(255.0 * 2147483648.0 / CAST(thr AS DOUBLE), 6)
        |  END AS estimate
        |FROM t""".stripMargin),

    // ---- streaming: per-window calibration bins — the a41 monitor
    // live: bins×3 longs of state per window (psi/hll state family),
    // micro-unit arithmetic identical to the batch op, so the
    // chunked replay is bit-equal per window. ----
    Query("s_stream_calibration", "per-window calibration bins",
      (s, dir) => {
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_scal_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.calibrationStream(stream,
            least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)),
            col("event_type") === "purchase"),
          queryName = s"scal_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
      },
      // the a41 bin arithmetic per hour window; sentinel windows are
      // beyond the corpus end, so the plain-events replay matches
      """WITH s AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |      AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT ws, LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu, p
        |  FROM s)
        |SELECT ws AS window_start, bin, COUNT(*) AS n,
        |  CAST(SUM(mu) // COUNT(*) AS BIGINT) AS conf_micros,
        |  CAST((SUM(CASE WHEN p THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS acc_micros
        |FROM b GROUP BY 1, 2""".stripMargin),

    // ---- streaming: per-day PSI drift monitor — the a29 reference
    // profile (first-half-of-month deciles + Laplace-guarded shares)
    // frozen into the plan as literals, each day window scored the
    // moment the watermark closes it. One stateful op (bins
    // conditional sums per window); the PSI fold is a stateless
    // fixed-order projection, so the chunked replay is bit-equal to
    // the oracle's batch recomputation. Same staged input + sentinel
    // drain as s_stream_distinct. ----
    Query("s_stream_psi", "per-day PSI drift monitor",
      (s, dir) => {
        // profile cached per dir alongside the staged input (round-10
        // ADVICE: the two collects re-ran on every invocation)
        val (bounds, refShares) = stagedPsiProfile.getOrElseUpdate(dir, {
          val refV = t(s, dir, "events").filter(col("value").isNotNull &&
              dayofmonth(col("ts")) <= 15)
            .select(col("value").cast("double").as("v"))
          val qRow = refV.agg(
            call_function("percentile", col("v"), lit(0.1)).as("q1"),
            (2 to 9).map(i => call_function("percentile", col("v"),
              lit(i / 10.0)).as(s"q$i")): _*).head()
          val bs = (0 until 9).map(qRow.getDouble)
          val binOf = bs.foldLeft(lit(1)) { (acc, b) =>
            acc + when(col("v") > lit(b), 1).otherwise(0)
          }
          val refCounts = refV.select(binOf.as("bin")).groupBy(col("bin"))
            .agg(count(lit(1)).as("n")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          val refTot = refCounts.values.sum
          (bs, (1 to 10).map(i =>
            (refCounts.getOrElse(i, 0L) + 0.5) / (refTot + 5.0)))
        })
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_spsi_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.psiStream(stream, "value",
            bounds, refShares, "1 day", "2 days"),
          queryName = s"spsi_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
          .orderBy("window_start")
      },
      // batch recomputation of the streamed per-day PSI: same reference
      // profile (first-half deciles, Laplace-guarded shares), same
      // per-term round-6 + fixed left-assoc bin fold; unrolled over the
      // 10 bins programmatically for readability
      {
        val qs = (1 to 9).map(i =>
          s"quantile_cont(v, 0.$i) AS q$i").mkString(",\n  ")
        val binExpr = "1 " +
          (1 to 9).map(i => s"+ CAST(v > q$i AS INT)").mkString(" ")
        val ns = (1 to 10).map(i =>
          s"SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS n$i")
          .mkString(",\n  ")
        val rsp = (1 to 10).map(i =>
          s"MAX(CASE WHEN bin = $i THEN r END) AS r$i").mkString(",\n  ")
        def share(i: Int) =
          s"(n$i + CAST(0.5 AS DOUBLE)) / (tot + CAST(5.0 AS DOUBLE))"
        val terms = (1 to 10).map(i =>
          s"ROUND((${share(i)} - r$i) * ln((${share(i)}) / r$i), 6)")
          .mkString("\n  + ")
        s"""WITH r0 AS (
           |  SELECT CAST(value AS DOUBLE) AS v FROM events
           |  WHERE value IS NOT NULL AND day(ts) <= 15),
           |q AS (SELECT
           |  $qs
           |  FROM r0),
           |rb AS (SELECT $binExpr AS bin FROM r0, q),
           |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
           |tr AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS tr FROM r),
           |rs AS (SELECT i AS bin,
           |         (COALESCE(ref_n, 0) + CAST(0.5 AS DOUBLE)) /
           |           (tr + CAST(5.0 AS DOUBLE)) AS r
           |       FROM range(1, 11) t(i) LEFT JOIN r ON r.bin = i, tr),
           |rsp AS (SELECT
           |  $rsp
           |  FROM rs),
           |a0 AS (SELECT CAST(value AS DOUBLE) AS v,
           |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
           |       FROM events WHERE value IS NOT NULL),
           |ab AS (SELECT d, $binExpr AS bin FROM a0, q),
           |cnt AS (SELECT d,
           |  $ns,
           |  COUNT(*) AS tot FROM ab GROUP BY 1)
           |SELECT d AS window_start, CAST(tot AS BIGINT) AS n_events,
           |  ROUND($terms, 6) AS psi
           |FROM cnt, rsp""".stripMargin
      }),

    // ---- streaming Hellinger drift — the bounded per-window twin
    // of a68 beside s_stream_psi: same frozen reference profile
    // (plain shares, no Laplace — √ is zero-tolerant), per-window
    // state = bins longs forever, BC an exact decimal fold. ----
    Query("s_stream_hellinger", "streaming Hellinger drift",
      (s, dir) => {
        val (bounds, refShares) =
          stagedHellingerProfile.getOrElseUpdate(dir, {
            val refV = t(s, dir, "events")
              .filter(col("value").isNotNull &&
                dayofmonth(col("ts")) <= 15)
              .select(col("value").cast("double").as("v"))
            val qRow = refV.agg(
              call_function("percentile", col("v"), lit(0.1)).as("q1"),
              (2 to 9).map(i => call_function("percentile", col("v"),
                lit(i / 10.0)).as(s"q$i")): _*).head()
            val bs = (0 until 9).map(qRow.getDouble)
            val binOf = bs.foldLeft(lit(1)) { (acc, b) =>
              acc + when(col("v") > lit(b), 1).otherwise(0)
            }
            val refCounts = refV.select(binOf.as("bin"))
              .groupBy(col("bin")).agg(count(lit(1)).as("n")).collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap
            val refTot = refCounts.values.sum
            (bs, (1 to 10).map(i =>
              refCounts.getOrElse(i, 0L).toDouble / refTot))
          })
        val in = stageSentinelEvents(s, dir)
        val ckpt = ckptDir("graft_shel_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.hellingerStream(stream, "value",
            bounds, refShares, "1 day", "2 days"),
          queryName = s"shel_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        graft.streaming.EventStreams.drainTail(sink,
          col("window_start") >=
            lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
          .orderBy("window_start")
      },
      // the frozen reference (plain shares) + per-window bins replayed;
      // per-bin sqrt(q·r) rounded once, BC an exact decimal fold
      {
        val qs = (1 to 9).map(i =>
          s"quantile_cont(v, 0.$i) AS q$i").mkString(",\n  ")
        val binExpr = "1 " +
          (1 to 9).map(i => s"+ CAST(v > q$i AS INT)").mkString(" ")
        val ns = (1 to 10).map(i =>
          s"SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS n$i")
          .mkString(",\n  ")
        val rsp = (1 to 10).map(i =>
          s"MAX(CASE WHEN bin = $i THEN r END) AS r$i").mkString(",\n  ")
        val terms = (1 to 10).map(i =>
          s"""CAST(ROUND(sqrt(CAST(n$i AS DOUBLE) / CAST(tot AS DOUBLE)
             |    * r$i), 6) AS DECIMAL(18,6))""".stripMargin)
          .mkString("\n  + ")
        s"""WITH r0 AS (
           |  SELECT CAST(value AS DOUBLE) AS v FROM events
           |  WHERE value IS NOT NULL AND day(ts) <= 15),
           |q AS (SELECT
           |  $qs
           |  FROM r0),
           |rb AS (SELECT $binExpr AS bin FROM r0, q),
           |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
           |tr AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS tr FROM r),
           |rs AS (SELECT i AS bin,
           |         CAST(COALESCE(ref_n, 0) AS DOUBLE) /
           |           CAST(tr AS DOUBLE) AS r
           |       FROM range(1, 11) t(i) LEFT JOIN r ON r.bin = i, tr),
           |rsp AS (SELECT
           |  $rsp
           |  FROM rs),
           |a0 AS (SELECT CAST(value AS DOUBLE) AS v,
           |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
           |       FROM events WHERE value IS NOT NULL),
           |ab AS (SELECT d, $binExpr AS bin FROM a0, q),
           |cnt AS (SELECT d,
           |  $ns,
           |  COUNT(*) AS tot FROM ab GROUP BY 1),
           |fold AS (SELECT d, tot,
           |  CAST($terms AS DECIMAL(28,6)) AS bcd
           |  FROM cnt, rsp)
           |SELECT d AS window_start, CAST(tot AS BIGINT) AS n_events,
           |  CAST(bcd AS DOUBLE) AS bc,
           |  ROUND(sqrt(GREATEST(CAST(0.0 AS DOUBLE),
           |    CAST(1.0 AS DOUBLE) - CAST(bcd AS DOUBLE))), 6)
           |    AS hellinger
           |FROM fold""".stripMargin
      }),

    Query("s_stream_windowed", "streaming sliding-window event counts",
      (s, dir) => {
        val in = stagedEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sw")
          t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_sw_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in)
        runDrain(
          graft.streaming.EventStreams.windowedCounts(stream, "1 hour", "2 hours"),
          queryName = s"sw_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
      },
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- streaming: SLIDING windows (1h length / 30min slide) — each
    // event lands in 2 overlapping windows; same staged input and
    // AvailableNow == batch contract as s_stream_windowed ----
    Query("s_stream_sliding", "SLIDING windows (1h length / 30min slide)",
      (s, dir) => {
        val in = stagedEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sw")
          t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_ss_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in)
        runDrain(
          graft.streaming.EventStreams.windowedCounts(stream, "1 hour",
            "2 hours", slide = Some("30 minutes")),
          queryName = s"ssl_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
      },
      // every event lands in exactly windowLen/slide = 2 sliding windows:
      // its 30-min bucket's window and the one starting 30 min earlier
      """WITH off AS (SELECT unnest(range(0, 2)) AS k)
        |SELECT time_bucket(INTERVAL '30 minutes', ts)
        |    - k * INTERVAL '30 minutes' AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, off GROUP BY 1, 2""".stripMargin),

    // ---- streaming: key-only exact dedup (dropDuplicatesWithinWatermark),
    // AvailableNow == batch distinct. The staged input holds EVERY event
    // twice, so the oracle row is non-vacuous: the stream must undo a
    // real duplication (event_id is unique in the source, so the answer
    // is the original table). ----
    Query("s_stream_dedup", "key-only exact dedup (dropDuplicatesWithinWatermark),",
      (s, dir) => {
        val in = stagedDupEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sd")
          val e = t(s, dir, "events")
          e.union(e).write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_sd_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in)
        runDrain(
          graft.streaming.EventStreams.dedupStream(stream, Seq("event_id"))
            .select("event_id", "user_id", "event_type"),
          queryName = s"sd_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
      },
      "SELECT event_id, user_id, event_type FROM events"),

    // ---- streaming: INCREMENTAL near-dup detection — documents arrive
    // over several micro-batches (maxFilesPerTrigger=2 over a 6-file
    // staging), every LSH band-bucket accumulates members in state and
    // emits candidate pairs as later members arrive; candidates are
    // then batch-verified with exact jaccard (the shared stagedVerify).
    // A full replay must land exactly on the batch t_minhash_lsh
    // answer — same oracle. ----
    Query("s_stream_neardup", "INCREMENTAL near-dup detection",
      (s, dir) => {
        val in = stagedDocsStreamDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_snd")
          t(s, dir, "documents").repartition(6)
            .write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_snd_ck")
        val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
            "n_chars BIGINT")
        val stream = s.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", "2").parquet(in)
        val cands = graft.streaming.EventStreams.nearDupCandidatesStream(
          stream, "doc_id", "text", shingleN = 3, numHashes = 32, bands = 16)
        val out = runDrain(cands.toDF(),
          queryName = s"snd_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
        Dedup.verifyCandidatePairs(out.dropDuplicates("id1", "id2"),
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
          shingleN = 3)
      },
      // a full stream replay must reproduce the batch LSH+verify answer:
      // the brute-force exact-jaccard ground truth (same as t_minhash_lsh)
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin),

    // ---- streaming + batch: the TWO-TIER dedup composition (r3
    // verdict #6) — the end-to-end proof of the contract documented on
    // EventStreams.dedupStream: the stream tier drops duplicate keys
    // within the watermark horizon with BOUNDED state; a duplicate
    // arriving beyond the horizon (its key's state already evicted)
    // passes through and is the BATCH tier's job. Staged input: batch 1
    // = the full events corpus; batch 2 (later mod-time, forced into
    // its own micro-batch via maxFilesPerTrigger) = re-arrivals of the
    // 200 earliest events with a new event time 1h past the corpus max
    // — by then the watermark (max - 2h) has evicted their keys' state
    // (30-day corpus span >> 4h eviction horizon), so the stream
    // genuinely emits duplicates (TwoTierDedupSpec asserts residue > 0)
    // and the batch keep-first produces the exact answer. ----
    Query("s_two_tier_dedup", "streaming + batch: the TWO-TIER dedup composition (r3",
      (s, dir) =>
        // batch tier: exact keep-one on the key catches the beyond-horizon
        // residue (the re-arrival is content-identical in these columns,
        // so any representative is THE row)
        twoTierStreamTier(s, dir).dropDuplicates("event_id"),
      // the staged input holds every event once plus 200 beyond-horizon
      // re-arrivals (content-identical in these columns); stream tier +
      // batch keep-first must reduce it back to exactly the corpus
      "SELECT event_id, user_id, event_type FROM events"),

    // ---- streaming: STATEFUL sessionization (mapGroupsWithState) —
    // the streaming twin of w4_sessionize, previously pass-unit only.
    // Output = each user's LAST session (start, end, n_events) on
    // SECOND-truncated event time (the state fold works in epoch
    // seconds). The memory sink accumulates one update per (user,
    // trigger); updates are monotone in (end, n), so the keep-last
    // window reduces multi-trigger runs to the same final answer as
    // the single-trigger run — and the DuckDB oracle recomputes the
    // whole thing as a gaps-and-islands window query. ----
    Query("s_stream_sessionize", "STATEFUL sessionization (mapGroupsWithState) —",
      (s, dir) => {
        val in = stagedEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sw")
          t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_ss_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in)
        val updates = runDrain(
          graft.streaming.EventStreams.sessionize(stream, gapSeconds = 1800)
            .toDF(),
          queryName = s"ss_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("session_end").desc, col("n_events").desc,
            col("session_start").desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      },
      // gaps-and-islands on second-truncated event time; keep each
      // user's last session (the one the stream's final state holds)
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |d AS (
        |  SELECT user_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, sec,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |g AS (
        |  SELECT user_id, sid, MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        |    COUNT(*) AS n
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id,
        |  make_timestamp(start_sec * 1000000) AS session_start,
        |  make_timestamp(end_sec * 1000000) AS session_end,
        |  CAST(n AS INT) AS n_events
        |FROM g
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY sid DESC) = 1""".stripMargin),

    // ---- streaming: LATE-DATA sessionization — the whole events
    // corpus replayed through maxFilesPerTrigger=1 as day-range chunks
    // staged OUT of event-time order (batch 1 = days 22+, batch 2 =
    // days 1-7, ...), the arrival pattern of a backfill whose file
    // listing isn't time-sorted. sessionizeRetained buffers each
    // user's events inside the watermark horizon and appends each
    // session exactly once when the watermark seals it; a far-future
    // sentinel row (its own user) staged last flushes the tail. The
    // oracle recomputes ALL sessions as batch gaps-and-islands — every
    // session must come out exact despite the disorder. ----
    // ---- streaming EWMA — the stateful recurrence replayed as FOUR
    // in-order time-range micro-batches (maxFilesPerTrigger=1): state
    // is ONE scale-6 unscaled long per user, carried across triggers,
    // and the full replay reproduces the batch decimal recurrence
    // bit-for-bit (the oracle IS w16's recursive CTE). O(keys) state
    // forever — no watermark needed for boundedness. ----
    Query("s_stream_ewma", "streaming EWMA",
      (s, dir) => {
        val tmp = tempDir("graft_sewma")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        // IN event-time order — the recurrence's ordering contract
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_sewma_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.ewmaStream(stream, alpha = 0.3)
            .toDF(),
          queryName = s"sewma_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // the chunked streaming replay must reproduce the batch decimal
      // recurrence exactly — same recursive CTE as w16_ewma
      """WITH RECURSIVE v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, rn, v AS s FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.event_id, v.rn,
        |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * v.v +
        |               CAST(0.7 AS DECIMAL(10,8)) * e.s, 6)
        |         AS DECIMAL(18,6))
        |  FROM v JOIN e ON v.user_id = e.user_id AND v.rn = e.rn + 1)
        |SELECT user_id, event_id, CAST(s AS DOUBLE) AS ewma
        |FROM e""".stripMargin),

    // ---- streaming CUSUM — the online drift detector on the same
    // chassis: four in-order time-range micro-batches, ONE scale-6
    // long of state per user, alarm raised in the micro-batch where
    // the threshold is crossed; the full replay reproduces the batch
    // decimal recurrence bit-for-bit (the oracle IS w20's recursive
    // CTE). ----
    Query("s_stream_cusum", "streaming CUSUM",
      (s, dir) => {
        val tmp = tempDir("graft_scusum")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        // IN event-time order — the recurrence's ordering contract
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_scusum_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.cusumStream(stream,
            target = 50.0, slack = 10.0, threshold = 300.0).toDF(),
          queryName = s"scusum_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // the chunked streaming replay must reproduce the batch decimal
      // recurrence exactly — same recursive CTE as w20_cusum
      """WITH RECURSIVE v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,6)),
        |                  CAST(0 AS DECIMAL(18,6)) + v -
        |                  CAST(60.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      AS s
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.event_id, v.rn,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,6)),
        |                  e.s + v.v - CAST(60.0 AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6))
        |  FROM v JOIN e ON v.user_id = e.user_id AND v.rn = e.rn + 1)
        |SELECT user_id, event_id, CAST(s AS DOUBLE) AS cusum,
        |  s > CAST(300.0 AS DECIMAL(18,6)) AS alarm
        |FROM e""".stripMargin),

    // ---- streaming funnel — per-user stage reaches emitted the
    // moment they happen (the greedy cascade is naturally online);
    // O(stages) booleans of state per user; the sink aggregated to
    // w11's exact roll-up shape (oracle IS w11's). ----
    Query("s_stream_funnel", "streaming funnel",
      (s, dir) => {
        import s.implicits._
        val tmp = tempDir("graft_sfun")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_sfun_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        val sink = runDrain(
          graft.streaming.EventStreams.funnelStream(stream,
            Seq("view", "click", "purchase")).toDF(),
          queryName = s"sfun_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        val stagesDf = Seq((1, "view"), (2, "click"), (3, "purchase"))
          .toDF("stage_idx", "stage")
        val counts = sink.groupBy(col("stage_idx"))
          .agg(countDistinct(col("user_id")).as("__u"))
        val c1 = counts.filter(col("stage_idx") === 1)
          .select(col("__u").as("__c1"))
        stagesDf
          .join(counts, Seq("stage_idx"), "left")
          .crossJoin(broadcast(c1))
          .select(col("stage_idx").cast("int").as("stage_idx"),
            col("stage"),
            coalesce(col("__u"), lit(0L)).cast("long").as("users"),
            when(col("__c1") > 0,
              round(coalesce(col("__u"), lit(0L)).cast("double") /
                col("__c1"), 6)).as("conversion"))
      },
      // the streaming reach rows aggregated to the same funnel shape
      FunnelOracle),

    // ---- streaming rolling z-score — anomalies flagged in their own
    // micro-batch against a bounded per-key ring (lookback scale-6
    // longs + squares); chunked in-order replay bit-equal to the
    // batch op (oracle IS w28's SQL). ----
    Query("s_stream_zscore", "streaming rolling z-score",
      (s, dir) => {
        val tmp = tempDir("graft_szs")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        // IN event-time order — the recurrence's ordering contract
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_szs_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.zscoreStream(stream,
            lookback = 10, zThreshold = 3.0, minObs = 4).toDF(),
          queryName = s"szs_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // the chunked streaming replay must reproduce the batch rolling
      // z-score exactly — same SQL as w28_roll_zscore
      ZscoreOracle),

    // ---- streaming rolling median/MAD anomaly — frame ring of 25
    // scale-6 longs per user, INTEGER arithmetic end to end; chunked
    // in-order replay bit-equal to the batch window (oracle IS
    // w31's). ----
    Query("s_stream_mad", "streaming rolling median/MAD anomaly",
      (s, dir) => {
        val tmp = tempDir("graft_smad")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        // IN event-time order — the recurrence's ordering contract
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_smad_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.madStream(stream,
            lookback = 25, k = 3).toDF(),
          queryName = s"smad_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // the streaming twin replays the identical frames (integer
      // micro-unit arithmetic end to end): oracle IS w31's
      RollingMadOracle),

    // ---- streaming Holt trend — the live "expected next value" feed;
    // TWO scale-6 longs of state per user, chunked in-order replay
    // bit-equal to the batch recurrence (oracle IS w27's recursive
    // CTE). ----
    Query("s_stream_holt", "streaming Holt trend",
      (s, dir) => {
        val tmp = tempDir("graft_sholt")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        // IN event-time order — the recurrence's ordering contract
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_sholt_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.holtStream(stream,
            alpha = 0.5, beta = 0.3).toDF(),
          queryName = s"sholt_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // the chunked streaming replay must reproduce the batch Holt
      // recurrence exactly — same recursive CTE as w27_holt
      HoltOracle),

    // ---- streaming token-bucket rate limiter — the op that BELONGS
    // online: admit/shed decided in the event's own micro-batch, one
    // scale-6 long of state per user; chunked in-order replay is
    // bit-equal to the batch audit (oracle IS w26's recursive CTE). ----
    Query("s_stream_rate", "streaming token-bucket rate limiter",
      (s, dir) => {
        val tmp = tempDir("graft_srate")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        // IN event-time order — the recurrence's ordering contract
        Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        val ckpt = ckptDir("graft_srate_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.rateLimitStream(stream,
            capacity = 2, refillPerSec = 0.0001).toDF(),
          queryName = s"srate_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // the chunked streaming replay must reproduce the batch token
      // bucket exactly — same recursive CTE as w26_rate_limit
      RateLimitOracle),

    Query("s_stream_sessionize_ooo", "streaming sessionization of out-of-order input",
      (s, dir) => {
        val tmp = tempDir("graft_sso")
        val in = s"$tmp/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val ev = t(s, dir, "events")
        def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
          val chunk = s"$tmp/chunk$seq"
          df.coalesce(1).write.mode("overwrite").parquet(chunk)
          val part = new java.io.File(chunk).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
          java.nio.file.Files.copy(part.toPath, dest)
          // the file source processes oldest-mtime first: pin the order
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
              seq * 10000L))
          ()
        }
        Seq((22, 32), (1, 8), (15, 22), (8, 15)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            stage(ev.filter(dayofmonth(col("ts")) >= lo &&
              dayofmonth(col("ts")) < hi), i)
        }
        // ONE drain batch suffices here (timeout-based drain — the
        // trailing no-data batch fires the timeouts; stageDrainBatches
        // scaladoc): the sentinel flushes every real user's tail, while
        // its OWN never-sealed session stays in state and never emits,
        // so no sink-side filter is needed
        graft.streaming.EventStreams.stageDrainBatches(in,
          Seq(ev.sparkSession.range(1)
            .select(lit(-1L).as("event_id"),
              lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")).as("ts"),
              lit(-1L).as("user_id"), lit("flush").as("event_type"),
              lit(0.0).as("value"), lit("{}").as("props"))))
        val ckpt = ckptDir("graft_sso_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in,
          options = Map("maxFilesPerTrigger" -> "1"))
        runDrain(
          graft.streaming.EventStreams.sessionizeRetained(stream,
            gapSeconds = 1800, watermarkDelay = "40 days").toDF(),
          queryName = s"sso_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      },
      // ALL sessions (not just the last): the retained-events stream
      // must reproduce the complete batch gaps-and-islands answer even
      // though its input arrived out of event-time order
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |d AS (
        |  SELECT user_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, sec,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |g AS (
        |  SELECT user_id, sid, MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        |    COUNT(*) AS n
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id,
        |  make_timestamp(start_sec * 1000000) AS session_start,
        |  make_timestamp(end_sec * 1000000) AS session_end,
        |  CAST(n AS INT) AS n_events
        |FROM g""".stripMargin),

    // ---- streaming: stream–STATIC broadcast enrichment — each event
    // micro-batch joined to a batch dimension (stateless, no
    // watermark; the streaming analog of the j1 star join). The agg
    // over the enriched stream must equal the batch join+agg. ----
    Query("s_stream_enrich", "stream–STATIC broadcast enrichment",
      (s, dir) => {
        val in = stagedEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sw")
          t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_se_ck")
        val stream = graft.streaming.EventStreams.readStream(s, in)
          .withColumn("nk", pmod(col("user_id"), lit(25)).cast("int"))
        val dim = t(s, dir, "nation")
          .select(col("n_nationkey").as("nk"), col("n_name"))
        val enriched = graft.streaming.EventStreams
          .enrichStream(stream, dim, Seq("nk"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("sum_value"))
        runDrain(
          enriched, queryName = s"se_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
      },
      """SELECT n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN nation ON n_nationkey = user_id % 25
        |GROUP BY n_name""".stripMargin),

    // ---- streaming: watermarked STREAM-STREAM interval join — each
    // purchase joined to the same user's clicks in the preceding hour
    // (attribution). The range condition + watermarks bound both
    // sides' state; AvailableNow inner join == the batch interval
    // join, which is exactly what the oracle computes. ----
    Query("s_stream_join", "watermarked STREAM-STREAM interval join",
      (s, dir) => {
        val in = stagedEventsDir.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_sw")
          t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
          s"$tmp/in"
        })
        val ckpt = ckptDir("graft_sj_ck")
        val clicks = graft.streaming.EventStreams.readStream(s, in)
          .filter(col("event_type") === "click")
        val purchases = graft.streaming.EventStreams.readStream(s, in)
          .filter(col("event_type") === "purchase")
        val joined = graft.streaming.EventStreams
          .intervalJoinStreams(clicks, purchases, "user_id", "ts",
            within = "1 HOUR", watermark = "2 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"))
        runDrain(
          joined, queryName = s"sj_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt")
      },
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id AS user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin),

    // ---- streaming: LEFT OUTER stream-stream interval join — clicks
    // with their within-1h purchase, or null if none; unmatched lefts
    // emit only when the watermark proves no match can arrive, so the
    // staging appends a far-future sentinel pair (filtered from the
    // output) to flush the tail. Oracle == the batch LEFT JOIN. ----
    Query("s_stream_join_outer", "LEFT OUTER stream-stream interval join",
      (s, dir) => {
        val in = stageOuterEvents(s, dir)
        val ckpt = ckptDir("graft_sjo_ck")
        val opts = Map("maxFilesPerTrigger" -> "1")
        val clicks = graft.streaming.EventStreams
          .readStream(s, in, options = opts)
          .filter(col("event_type") === "click")
        val purchases = graft.streaming.EventStreams
          .readStream(s, in, options = opts)
          .filter(col("event_type") === "purchase")
        val joined = graft.streaming.EventStreams
          .intervalJoinStreamsOuter(clicks, purchases, "user_id", "ts",
            within = "1 HOUR", watermark = "2 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"))
        // drainTail = the batch-side sentinel filter (a plan-side filter
        // would freeze the watermark — the pin lives in its scaladoc)
        graft.streaming.EventStreams.drainTail(
          runDrain(
            joined, queryName = s"sjo_${System.nanoTime()}",
            checkpoint = s"$ckpt/ckpt"),
          col("click_id") < 0)
      },
      // batch LEFT JOIN ground truth: right-side conditions stay in ON,
      // the left-side type filter in WHERE (the outer-join discipline)
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id AS user_id
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click'""".stripMargin),

    // ---- streaming: FULL OUTER stream-stream interval join — the
    // join matrix's last cell (inner s_stream_join, left outer
    // s_stream_join_outer): clicks with their within-1h purchase,
    // PLUS unmatched rows from BOTH sides once the watermark proves
    // no partner can arrive. Same sentinel-pair staging (each batch
    // carries one click + one purchase, so both inputs' watermarks
    // advance together); the drain filter removes sentinel rows from
    // either side null-safely. Oracle == the batch FULL JOIN. ----
    Query("s_stream_join_full", "FULL OUTER stream-stream interval join",
      (s, dir) => {
        val in = stageOuterEvents(s, dir)
        val ckpt = ckptDir("graft_sjf_ck")
        val opts = Map("maxFilesPerTrigger" -> "1")
        val clicks = graft.streaming.EventStreams
          .readStream(s, in, options = opts)
          .filter(col("event_type") === "click")
        val purchases = graft.streaming.EventStreams
          .readStream(s, in, options = opts)
          .filter(col("event_type") === "purchase")
        val joined = graft.streaming.EventStreams
          .intervalJoinStreamsFull(clicks, purchases, "user_id", "ts",
            within = "1 HOUR", watermark = "2 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            coalesce(col("l.user_id"), col("r.user_id")).as("user_id"))
        // either side's sentinel id marks a drain row; the predicate is
        // null on half-open rows and drainTail keeps those (null-safe)
        graft.streaming.EventStreams.drainTail(
          runDrain(
            joined, queryName = s"sjf_${System.nanoTime()}",
            checkpoint = s"$ckpt/ckpt"),
          col("click_id") < 0 || col("purchase_id") < 0)
      },
      // batch FULL JOIN ground truth: both type filters must move into
      // the join INPUTS (a WHERE on either side would drop that side's
      // unmatched null rows — the full-outer discipline)
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  COALESCE(c.user_id, p.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin),

    // ---- §2.1 JSONL sink + scan roundtrip — one JSON object per line,
    // THE interchange format of LLM corpus pipelines; the read binds an
    // explicit schema (no inference scan) and the agg must reproduce
    // the source exactly, proving the sink/scan loses nothing. ----
    Query("s2_jsonl_roundtrip", "§2.1 JSONL sink + scan roundtrip",
      (s, dir) => {
        val tmp = tempDir("graft_jsonl") + "/out"
        t(s, dir, "documents").select("doc_id", "lang", "text")
          .write.mode("overwrite").json(tmp)
        s.read.schema("doc_id bigint, lang string, text string").json(tmp)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).cast("long").as("chars"))
      },
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ---- §2.1 XML sink + scan roundtrip (Spark 4's NATIVE xml
    // source — the remaining interchange format in the source matrix;
    // rowTag-scoped records, schema bound on read like the JSONL
    // twin, and the agg must reproduce the source exactly). ----
    Query("s12_xml_roundtrip", "§2.1 XML sink + scan roundtrip (Spark 4's NATIVE xml",
      (s, dir) => {
        val tmp = tempDir("graft_xml") + "/out"
        t(s, dir, "documents").select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").option("rowTag", "doc")
          .format("xml").save(tmp)
        s.read.schema("doc_id bigint, lang string, n_chars bigint")
          .option("rowTag", "doc").format("xml").load(tmp)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
      },
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ---- S13: keyed snapshot diff — classify every order key across
    // two deterministic table versions (v1 drops keys ≡3 mod 10, v2
    // drops ≡7, mutates totalprice on ≡0 mod 5 and status on ≡0 mod
    // 11) as added/removed/changed, with the differing columns and
    // both versions' values: the change-data-feed audit from plain
    // snapshots. ONE full-outer sort-merge join on the key. ----
    Query("s13_snapshot_diff", "keyed snapshot diff",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val v1 = o.filter(col("o_orderkey") % 10 =!= 3)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        val v2 = o.filter(col("o_orderkey") % 10 =!= 7)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 11 === 0, lit("X"))
              .otherwise(col("o_orderstatus")).as("o_orderstatus"),
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.5)
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        Merge.snapshotDiff(v1, v2, Seq("o_orderkey"),
            Seq("o_orderstatus", "o_totalprice"))
          .filter(col("change") =!= "unchanged")
      },
      // the identical diff replayed: IS DISTINCT FROM = Spark's <=>
      // negated; concat_ws skips NULL arms in both engines
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7),
        |j AS (
        |  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |    v1.o_orderkey IS NOT NULL AS in1,
        |    v2.o_orderkey IS NOT NULL AS in2,
        |    v1.o_orderstatus AS old_o_orderstatus,
        |    v2.o_orderstatus AS new_o_orderstatus,
        |    v1.o_totalprice AS old_o_totalprice,
        |    v2.o_totalprice AS new_o_totalprice
        |  FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey),
        |c AS (
        |  SELECT *,
        |    CASE WHEN NOT in1 THEN 'added'
        |         WHEN NOT in2 THEN 'removed'
        |         WHEN old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
        |           OR old_o_totalprice IS DISTINCT FROM new_o_totalprice
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM j)
        |SELECT o_orderkey, change,
        |  CASE WHEN change = 'changed' THEN concat_ws(',',
        |    CASE WHEN old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
        |         THEN 'o_orderstatus' END,
        |    CASE WHEN old_o_totalprice IS DISTINCT FROM new_o_totalprice
        |         THEN 'o_totalprice' END)
        |  ELSE '' END AS changed_cols,
        |  old_o_orderstatus, new_o_orderstatus,
        |  old_o_totalprice, new_o_totalprice
        |FROM c WHERE change <> 'unchanged'""".stripMargin),

    // ---- S14: SCD TYPE 2 upsert — history-keeping merge: changed
    // keys close their current version (valid_to stamped) and open a
    // new one; unchanged keys are no-ops; new keys insert open. Table
    // partitioned by stable key-hash buckets, so the batch touches
    // only its keys' buckets. Initial load at t0, one update batch at
    // t1 (same deterministic mutations as s13). ----
    Query("s14_scd2", "SCD TYPE 2 upsert",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val t0 = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        val t1 = lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
        val base = o.filter(col("o_orderkey") % 10 =!= 3)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), t0.as("ts"))
        val updates = o.select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.5)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          t1.as("ts"))
        val path = tempDir("graft_scd2") + "/t"
        Merge.scd2Upsert(s, path, base, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice"), "ts")
        Merge.scd2Upsert(s, path, updates, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice"), "ts")
        s.read.parquet(path).select("o_orderkey", "o_orderstatus",
          "o_totalprice", "valid_from", "valid_to", "is_current")
      },
      // the SCD2 state recomputed: carried rows (changed ones closed at
      // t1) + opened rows (changed replacements and brand-new keys)
      """WITH b AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |j AS (
        |  SELECT b.o_orderkey AS bk, u.o_orderkey AS uk,
        |    b.o_orderstatus AS bs, b.o_totalprice AS bp,
        |    u.o_orderstatus AS us, u.o_totalprice AS up
        |  FROM b FULL JOIN u ON b.o_orderkey = u.o_orderkey),
        |c AS (
        |  SELECT *,
        |    (bk IS NOT NULL AND uk IS NOT NULL AND
        |     (bs IS DISTINCT FROM us OR bp IS DISTINCT FROM up)) AS chg
        |  FROM j)
        |SELECT bk AS o_orderkey, bs AS o_orderstatus,
        |  bp AS o_totalprice,
        |  TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |  CASE WHEN chg THEN TIMESTAMP '2024-02-01 00:00:00' END
        |    AS valid_to,
        |  NOT chg AS is_current
        |FROM c WHERE bk IS NOT NULL
        |UNION ALL
        |SELECT uk, us, up, TIMESTAMP '2024-02-01 00:00:00', NULL, true
        |FROM c WHERE uk IS NOT NULL AND (bk IS NULL OR chg)""".stripMargin),

    // ---- §2.1 ORC sink + scan roundtrip (the columnar alternative —
    // same predicate-pushdown/pruning properties as parquet) ----
    Query("s3_orc_roundtrip", "§2.1 ORC sink + scan roundtrip (the columnar alternative —",
      (s, dir) => {
        val tmp = tempDir("graft_orc") + "/out"
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_extendedprice")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("l_extendedprice")).as("sum_price"))
      },
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- §2.1 schema-EVOLUTION scan: two parquet batches written
    // with different schemas (a column added mid-corpus — the normal
    // life of a long-lived 100 TB dataset), read back as ONE table via
    // mergeSchema; rows from the old batch surface the new column as
    // null. The agg proves both the union semantics and the null
    // backfill against the source-of-truth oracle. ----
    Query("s4_schema_evolution", "§2.1 schema-EVOLUTION scan: two parquet batches written",
      (s, dir) => {
        val tmp = tempDir("graft_schevo") + "/out"
        val docs = t(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
          .write.mode("overwrite").parquet(s"$tmp/b1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .write.mode("overwrite").parquet(s"$tmp/b2")
        s.read.option("mergeSchema", true).parquet(s"$tmp/b1", s"$tmp/b2")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            count(col("n_chars")).as("n_evolved"),
            coalesce(sum(col("n_chars")), lit(0L)).as("chars"))
      },
      """SELECT lang, COUNT(*) AS n,
        |  COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_evolved,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN length(text) END), 0) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ---- §2.1 malformed-input handling: PERMISSIVE JSONL scan with a
    // corrupt-record column. At corpus scale some fraction of any
    // JSONL feed is garbage; the engine must keep the good rows,
    // quarantine the bad lines VERBATIM for triage, and never abort
    // the scan. Every doc_id % 3 == 0 line is written truncated; the
    // agg proves corrupt lines land in _corrupt_record (null fields,
    // null group) and valid lines parse untouched. ----
    Query("s5_jsonl_corrupt", "§2.1 malformed-input handling: PERMISSIVE JSONL scan with a",
      (s, dir) => {
        val tmp = tempDir("graft_jsonl_bad") + "/out"
        t(s, dir, "documents")
          .select(when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": ")))
            .otherwise(to_json(struct(col("doc_id"), col("lang"))))
            .as("value"))
          .write.mode("overwrite").text(tmp)
        s.read
          .schema("doc_id bigint, lang string, _corrupt_record string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(tmp)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            count(col("_corrupt_record")).as("n_corrupt"),
            count(col("doc_id")).as("n_good"))
      },
      // corrupt lines parse to all-null fields + the raw line, so they
      // group under NULL lang; valid lines keep their lang
      """WITH j AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS corrupt
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
        |  CAST(COUNT(*) - SUM(corrupt) AS BIGINT) AS n_good
        |FROM j GROUP BY lang""".stripMargin),

    // ---- §2.1 S2 native xlsx scan: the nation dim rendered as a real
    // Excel workbook (XlsxSource.writeXlsx — ZIP+OOXML, the shape
    // read_excel consumes), then ingested back through the pure-JDK
    // reader and aggregated. Proves a user can point the engine at a
    // workbook with NO out-of-band conversion step — the reference's
    // vocab-sheet ingestion path (code/RCLIF_labs.Rmd:38), previously
    // pass-unit only. ----
    // ---- S15: fixed-width (mainframe-extract) scan — customer
    // rendered as a 59-byte fixed layout, read back via the pure
    // substring/trim/cast projection (one codegen'd pass, no UDF),
    // aggregated per segment with exact decimal sums. The oracle
    // aggregates the parquet originals: the roundtrip must be
    // value-lossless. ----
    Query("s15_fixed_width", "fixed-width (mainframe-extract) scan",
      (s, dir) => {
        import graft.sources.FixedWidth
        val path = stagedFixedWidth.getOrElseUpdate(dir, {
          val out = tempDir("graft_fw") + "/data"
          FixedWidth.write(
            t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
              col("c_nationkey"), col("c_acctbal").cast("double"),
              col("c_mktsegment")),
            Seq("%09d", "%-25s", "%03d", "%12.2f", "%-10s"), out)
          out
        })
        FixedWidth.read(s, path, Seq(
            FixedWidth.FwCol("c_custkey", 1, 9, "bigint"),
            FixedWidth.FwCol("c_name", 10, 25),
            FixedWidth.FwCol("c_nationkey", 35, 3, "int"),
            FixedWidth.FwCol("c_acctbal", 38, 12, "double"),
            FixedWidth.FwCol("c_mktsegment", 50, 10)))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
              .as("sum_bal"),
            min(col("c_custkey")).as("min_key"),
            max(col("c_custkey")).as("max_key"))
      },
      // the fixed-width roundtrip must be value-lossless: the oracle
      // aggregates the parquet originals the staged file was rendered
      // from
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_bal,
        |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
        |FROM customer GROUP BY 1""".stripMargin),

    // ---- §crawl S16: WARC/WET record scan — the Common Crawl
    // container ([[graft.sources.WarcSource]]): fixture staged from
    // documents (response + conversion records + a truncated tail),
    // read back through the streaming per-file parser; header fields,
    // payload bytes (md5), and the quarantine row all hash-oracled. ----
    Query("s16_warc_scan", "§crawl S16: WARC/WET record scan",
      (s, dir) =>
        graft.sources.WarcSource.readRecords(s, warcFixture(s, dir))
          .select(col("rec_index"), col("warc_type"), col("target_uri"),
            col("content_type"), col("content_length"),
            md5(col("payload")).as("payload_md5"),
            col("malformed"), col("error")),
      // WARC scan: the oracle reconstructs every staged record —
      // warcinfo, per-doc response (HTTP head + the shared WarcPage
      // template) / conversion payloads, and the truncated tail's
      // quarantine row — and hashes payload bytes independently (md5
      // over the identical string both sides)
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 0),
        |o AS (SELECT doc_id, text,
        |        row_number() OVER (ORDER BY doc_id) AS rn FROM d),
        |recs AS (
        |  SELECT CAST(0 AS BIGINT) AS rec_index,
        |    'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
        |    'application/warc-fields' AS content_type,
        |    'software: graft-fixture' AS payload,
        |    CAST(NULL AS BIGINT) AS forced_len, false AS malformed,
        |    CAST(NULL AS VARCHAR) AS error
        |  UNION ALL
        |  SELECT rn, CASE WHEN doc_id % 10 = 0 THEN 'response'
        |      ELSE 'conversion' END,
        |    'https://fixture.test/doc/' || doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'application/http; msgtype=response'
        |      ELSE 'text/plain' END,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN $WarcHttpHeadSql || ${warcPageSql("doc_id", "text")}
        |      ELSE text END,
        |    NULL, false, NULL
        |  FROM o
        |  UNION ALL
        |  SELECT (SELECT count(*) FROM o) + 1, 'conversion',
        |    'https://fixture.test/truncated', 'text/plain', NULL,
        |    1000, true, 'payload truncated at 15 of 1000 bytes')
        |SELECT rec_index, warc_type, target_uri, content_type,
        |  COALESCE(forced_len, strlen(payload)) AS content_length,
        |  md5(payload) AS payload_md5, malformed, error
        |FROM recs""".stripMargin),

    // ---- streaming: WARC drop-directory ingest — the production
    // crawl shape (waves land as files; the AvailableNow drain folds
    // each exactly once through the checkpoint file log). Two staged
    // waves: the s16 fixture (response/conversion/truncated) and a
    // second conversion shard; per-type record counts, byte totals
    // and the quarantine count all replayed by the oracle. ----
    Query("s_stream_warc", "WARC drop-directory ingest",
      (s, dir) => {
        import graft.sources.WarcSource
        val in = stagedWarcStream.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_swarc")
          val streamDir = s"$tmp/in"
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(streamDir))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(warcFixture(s, dir)),
            java.nio.file.Paths.get(streamDir, "wave1.warc"))
          val rows = t(s, dir, "documents")
            .filter(col("doc_id").isNotNull && col("text").isNotNull &&
              col("doc_id") % 5 === 1)
            .select(col("doc_id"), col("text"))
            .orderBy("doc_id").collect()
          val recs = rows.toSeq.zipWithIndex.map { case (r, j) =>
            WarcSource.record(Seq(
              "WARC-Type" -> "conversion",
              "WARC-Record-ID" -> s"<urn:graft:w2:$j>",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "WARC-Target-URI" ->
                s"https://fixture.test/doc/${r.getLong(0)}",
              "Content-Type" -> "text/plain"),
              r.getString(1).getBytes("UTF-8"))
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(streamDir, "wave2.warc"),
            WarcSource.writeWarc(recs))
          streamDir
        })
        val ckpt = ckptDir("graft_swarc_ck")
        val agg = WarcSource.readRecordsStream(s, in).toDF()
          .groupBy(col("warc_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("content_length")).as("sum_len"),
            sum(when(col("malformed"), 1L).otherwise(0L))
              .as("n_malformed"))
        runDrain(agg, queryName = s"swc_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
      },
      // streaming WARC ingest: both waves' record populations rebuilt
      // (warcinfo + response/conversion splits + the second shard +
      // the truncated quarantine row), then the same per-type agg
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |recs AS (
        |  SELECT 'warcinfo' AS warc_type,
        |    CAST(strlen('software: graft-fixture') AS BIGINT) AS len,
        |    0 AS mal
        |  UNION ALL
        |  SELECT CASE WHEN doc_id % 10 = 0 THEN 'response'
        |      ELSE 'conversion' END,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN strlen($WarcHttpHeadSql ||
        |        ${warcPageSql("doc_id", "text")})
        |      ELSE strlen(text) END, 0
        |  FROM d WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'conversion', strlen(text), 0
        |  FROM d WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT 'conversion', 1000, 1)
        |SELECT warc_type, COUNT(*) AS n,
        |  CAST(SUM(len) AS BIGINT) AS sum_len,
        |  CAST(SUM(mal) AS BIGINT) AS n_malformed
        |FROM recs GROUP BY 1""".stripMargin),

    // ---- streaming: the FULL curate mile over crawl waves — WARC
    // drop-directory stream → HTTP message decode (chunked/gzip/
    // deflate bodies + 3xx statuses, the SAME withHttpMessage
    // mapPartitions, narrow and streaming-safe) → stripHtml → per-
    // (status, content-encoding) corpus stats. Two staged waves: the
    // coded-bodies fixture and the redirect fixture. Proves the
    // production first mile runs INCREMENTALLY end-to-end, not just
    // record counting (s_stream_warc). ----
    Query("s_stream_warc_curate", "the FULL curate mile over crawl waves",
      (s, dir) => {
        import graft.sources.WarcSource
        import graft.text.HtmlOps
        val in = stagedWarcCurateStream.getOrElseUpdate(dir, {
          val tmp = tempDir("graft_swcu")
          val streamDir = s"$tmp/in"
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(streamDir))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(warcHttpFixture(s, dir)),
            java.nio.file.Paths.get(streamDir, "wave1.warc"))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(warcRedirFixture(s, dir)),
            java.nio.file.Paths.get(streamDir, "wave2.warc"))
          streamDir
        })
        val ckpt = ckptDir("graft_swcu_ck")
        val decoded = WarcSource.withHttpMessage(
          WarcSource.readRecordsStream(s, in).toDF()
            .filter(col("warc_type") === "response" &&
              !col("malformed")))
        val agg = decoded
          .select(col("http_status"),
            coalesce(col("http_content_encoding"), lit("identity"))
              .as("ce"),
            length(HtmlOps.stripHtml(
              WarcSource.payloadText(col("http_body"))))
              .cast("long").as("n_chars"))
          .groupBy(col("http_status"), col("ce"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        runDrain(agg, queryName = s"swcu_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
      },
      // streaming curate mile: both waves' decoded bodies rebuilt from
      // documents (the coding must INVERT — same independent
      // expectation as t_warc_http), stripped via the generated chain,
      // then the identical (status, coding) stats
      s"""WITH hd AS (
        |  SELECT doc_id, text, (doc_id // 5) % 5 AS v FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 2),
        |hp AS (
        |  SELECT CASE WHEN v IN (1, 3) THEN 'gzip'
        |      WHEN v = 4 THEN 'deflate' ELSE 'identity' END AS ce,
        |    ${warcPageSql("doc_id", "text")} AS html
        |  FROM hd),
        |hs AS (SELECT ce,
        |         length(${duckStripSql("html")}) AS n_chars
        |       FROM hp),
        |hg AS (
        |  SELECT CAST(200 AS INT) AS http_status, ce,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM hs GROUP BY 1, 2),
        |rd AS (
        |  SELECT (doc_id // 5) % 4 AS r FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 4),
        |rg AS (
        |  SELECT CAST(CASE r WHEN 0 THEN 301 WHEN 1 THEN 302
        |      WHEN 2 THEN 307 ELSE 308 END AS INT) AS http_status,
        |    'identity' AS ce,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) * 6 AS BIGINT) AS sum_chars
        |  FROM rd GROUP BY 1, 2)
        |SELECT * FROM hg UNION ALL SELECT * FROM rg""".stripMargin),

    // ---- §crawl S17: WET sink + scan roundtrip — the write half of
    // WarcSource: documents exported once per dir as gzip'd WET
    // conversion shards (one file per partition), read back through
    // the same parser. The sink must be LOSSLESS, so the oracle needs
    // no replay — the source table IS the expectation. ----
    Query("s17_wet_roundtrip", "§crawl S17: WET sink + scan roundtrip",
      (s, dir) => {
        import graft.sources.WarcSource
        val path = stagedWet.getOrElseUpdate(dir, {
          val out = tempDir("graft_wet_q")
          WarcSource.writeWet(
            t(s, dir, "documents")
              .filter(col("doc_id").isNotNull && col("text").isNotNull)
              .select(concat(lit("https://fixture.test/doc/"),
                col("doc_id")).as("uri"), col("text")),
            "uri", "text", out, warcDate = "2026-01-01T00:00:00Z",
            gzip = true)
          out
        })
        WarcSource.readRecords(s, path + "/*")
          .select(col("target_uri"),
            WarcSource.payloadText(col("payload")).as("text"),
            col("content_length"))
      },
      // WET sink roundtrip: lossless by contract, so the source table
      // is the expectation — no replay needed
      """SELECT 'https://fixture.test/doc/' || doc_id AS target_uri,
        |  text, CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL""".stripMargin),

    // ---- §crawl S18: CDX(J) crawl-index scan — the ~1%-sized
    // sorted index crawl consumers filter INSTEAD of scanning WARC
    // bytes (graft.sources.CdxSource.readCdxj): one bounded 3-way
    // split + ONE from_json per line (the house one-parse rule);
    // the staged junk line quarantines and is excluded here.
    // Offsets/lengths are gzip-byte facts DuckDB cannot re-derive —
    // t_cdx_fetch proves them by round-trip instead. ----
    Query("s18_cdx_scan", "§crawl S18: CDX(J) crawl-index scan",
      (s, dir) =>
        graft.sources.CdxSource.readCdxj(s, cdxFixture(s, dir))
          .filter(!col("malformed"))
          .select(col("surt_key"), col("fetch_ts"), col("url"),
            col("mime"), col("status"), col("digest")),
      // CDX index scan: every parsed field rebuilt from documents by
      // the staging formulas — direct expectation (the byte offsets/
      // lengths are gzip facts DuckDB cannot re-derive; t_cdx_fetch
      // proves those by round-trip)
      """SELECT 'com,example,h' || (doc_id % 3) || ')/d/' || doc_id
        |    AS surt_key,
        |  '20260101' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
        |    || '0000' AS fetch_ts,
        |  'https://www.h' || (doc_id % 3) || '.example.com/d/'
        |    || doc_id AS url,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/html'
        |    ELSE 'text/plain' END AS mime,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
        |    ELSE 301 END AS INT) AS status,
        |  'sha1:graft' || doc_id AS digest
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND doc_id % 5 = 1""".stripMargin),

    Query("s8_xlsx_scan", "XLSX sheet sink + scan roundtrip",
      (s, dir) => {
        val tmp = tempDir("graft_xlsx_q")
        val rows = t(s, dir, "nation")
          .select(col("n_nationkey").cast("string"), col("n_name"),
            col("n_regionkey").cast("string"))
          .orderBy(col("n_nationkey").cast("long")).collect() // 25-row dim
          .map(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
        val bytes = graft.sources.XlsxSource.writeXlsx(
          Seq("n_nationkey", "n_name", "n_regionkey") +: rows.toSeq, "nation")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "nation.xlsx"), bytes)
        graft.sources.XlsxSource.readSheet(s, s"$tmp/nation.xlsx")
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"),
            max(col("n_name")).as("max_name"),
            sum(col("n_nationkey").cast("long")).as("sum_key"))
      },
      // every xlsx cell surfaces as a STRING (the reader's contract), so
      // the oracle groups and aggregates over stringified nation columns
      """SELECT CAST(n_regionkey AS VARCHAR) AS n_regionkey,
        |  COUNT(*) AS n,
        |  MAX(n_name) AS max_name,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation GROUP BY 1""".stripMargin),

    // ---- §2.1 S3 remote scan over a LIVE http:// endpoint: the
    // supplier dim staged as a pipe-CSV object behind a loopback
    // HEAD/Range server (HttpStaticServer), read back through
    // HttpFs + UriSource — the object-store dispatch path with a real
    // network hop, previously file://-only pass-unit evidence. The
    // explicit schema skips the inference scan (the 100 TB contract);
    // the server is lazy-safe: it outlives the returned DataFrame and
    // is freed at JVM exit like the staged temp dirs. ----
    Query("s9_http_scan", "§2.1 S3 remote scan over a LIVE http:// endpoint: the",
      (s, dir) => {
        graft.sources.HttpFs.install(s)
        val rows = t(s, dir, "supplier")
          .select(col("s_suppkey").cast("long"), col("s_nationkey").cast("long"),
            col("s_acctbal").cast("string"))
          .orderBy(col("s_suppkey")).collect() // dim-scale (100 @ sf0.01)
          .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}")
        val body = ("s_suppkey|s_nationkey|s_acctbal\n" + rows.mkString("\n"))
          .getBytes("UTF-8")
        val handle = graft.sources.HttpStaticServer.serve("/supplier.csv", body)
        sys.addShutdownHook(handle.stop())
        graft.sources.UriSource.delimited(s, handle.uri,
            schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
              "s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE")))
          .groupBy(col("s_nationkey").cast("string").as("s_nationkey"))
          .agg(count(lit(1)).as("n"), moneySum(col("s_acctbal")).as("sum_bal"))
      },
      // The http:// scan must agree with the source table it staged.
      """SELECT CAST(s_nationkey AS VARCHAR) AS s_nationkey,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY 1""".stripMargin),

    // ---- S10: Z-order (Morton) key — the deterministic core of the
    // two-dimensional data layout (ops/Scale.zorderWrite; ScaleSpec
    // measures per-file span narrowing vs linear sorts). Pure Column
    // bit arithmetic, codegen'd, replayed bit-for-bit by the oracle. ----
    Query("s10_zorder_key", "Z-order (Morton) key",
      (s, dir) =>
        t(s, dir, "events").select(col("event_id"),
          graft.ops.Scale.mortonKey(
            pmod(col("user_id"), lit(65536L)),
            pmod(col("ts").cast("timestamp_ltz").cast("long"), lit(65536L)))
            .as("zkey")),
      // bit-for-bit Morton interleave replay: same mask-and-shift
      // spreading on BIGINT, bit i of x at 2i, bit i of y at 2i+1
      """WITH e AS (
        |  SELECT event_id, user_id % 65536 AS x,
        |    CAST(floor(epoch(ts)) AS BIGINT) % 65536 AS y
        |  FROM events),
        |a AS (SELECT event_id, (x | (x << 8)) & 16711935 AS x1,
        |             (y | (y << 8)) & 16711935 AS y1 FROM e),
        |b AS (SELECT event_id, (x1 | (x1 << 4)) & 252645135 AS x2,
        |             (y1 | (y1 << 4)) & 252645135 AS y2 FROM a),
        |c AS (SELECT event_id, (x2 | (x2 << 2)) & 858993459 AS x3,
        |             (y2 | (y2 << 2)) & 858993459 AS y3 FROM b),
        |d AS (SELECT event_id, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |             (y3 | (y3 << 1)) & 1431655765 AS y4 FROM c)
        |SELECT event_id, x4 | (y4 << 1) AS zkey FROM d""".stripMargin),

    Query("s1_csv_roundtrip", "§2.1 S1/S6 CSV sink + scan roundtrip",
      (s, dir) => {
        // unique per invocation (a fixed path corrupts concurrent runs),
        // registered for JVM-exit cleanup
        val tmp = tempDir("graft_csv_roundtrip") + "/out"
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
          .write.mode("overwrite").option("header", true).csv(tmp)
        s.read.option("header", true)
          .schema("l_orderkey bigint, l_linenumber int, l_returnflag string, l_quantity double")
          .csv(tmp)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
      },
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
  )
}
