package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Mutable-state record for [[EventStreams.sessionize]] — top-level so
  * the state Encoder codegen sees a public case class. */
case class SessionState(start: Long, last: Long, n: Int)

/** State record for [[EventStreams.sessionizeRetained]]: the event
  * seconds buffered inside the watermark horizon, not yet part of a
  * finalized session. Top-level for the state Encoder. */
case class SessionBuffer(pending: Array[Long])

/** State for [[EventStreams.nearDupCandidatesStream]]: the (id, minhash
  * signature) members accumulated in one LSH band-bucket. Top-level for
  * the state Encoder. */
case class BucketMembers(ids: Array[Long], sigs: Array[Array[Int]])

/** What the ordered per-key fold chassis ([[EventStreams]]'
  * `orderedFold`) reads from every fold state: the (event-time µs,
  * event_id) of the last event folded in, for the ordering guard. The
  * state's stored fields are its constructor's alone. */
trait FoldState { def lastTus: Long; def lastId: Long }

/** EWMA recurrence state (also CUSUM's and the rate limiter's): the
  * smoothed value as an EXACT scale-6 unscaled long (a double in state
  * would re-round every step and drift off the batch decimal
  * recurrence). */
case class EwmaState(lastTus: Long, lastId: Long, sMicros: Long)
  extends FoldState
case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)
case class CusumOut(user_id: Long, event_id: Long, cusum: Double,
                    alarm: Boolean)
case class RateOut(user_id: Long, event_id: Long, tokens: Double,
                   admitted: Boolean)
case class HoltState(lastTus: Long, lastId: Long, lMicros: Long,
                     bMicros: Long) extends FoldState
case class HoltOut(user_id: Long, event_id: Long, level: Double,
                   trend: Double, forecast: Double)
case class ZscoreState(lastTus: Long, lastId: Long, vs: Array[Long],
                       v2s: Array[Long]) extends FoldState
/** State for [[EventStreams.kmvDistinctStream]]: the ≤k smallest
  * distinct hashes of one live window, sorted ascending — the whole
  * KMV sketch, O(k) longs per window forever. Top-level for the state
  * Encoder. */
case class KmvState(hashes: Array[Long])
case class KmvWindow(window_start: java.sql.Timestamp,
                     hashes_kept: Long, threshold: Long,
                     estimate: Double)
case class FunnelState(lastTus: Long, lastId: Long,
                       reached: Array[Boolean]) extends FoldState
case class FunnelReach(user_id: Long, stage_idx: Int, stage: String)
case class ZscoreOut(user_id: Long, event_id: Long, n_window: Long,
                     roll_mean: Option[Double],
                     roll_std: Option[Double], zscore: Option[Double],
                     anomaly: Boolean)
case class MadState(lastTus: Long, lastId: Long, vs: Array[Long])
  extends FoldState
case class MadOut(user_id: Long, event_id: Long, value: Double,
                  med: Double, mad: Double, is_anomaly: Boolean)

/** One streamed near-duplicate candidate pair (id1 < id2; est_jaccard =
  * matching-minhash fraction, the batch lshCandidates estimate). */
case class NearDupCand(id1: Long, id2: Long, est_jaccard: Double)

/** Structured Streaming surface over the events table shape.
  *
  * The reference is batch-only (SURVEY.md §2.9), but the engine exposes
  * the streaming equivalents of its core patterns so the same longitudinal
  * logic runs incrementally: windowed aggregation with watermarked event
  * time, and stateful sessionization (the streaming twin of the dialysis
  * episode builder / WindowOps.sessionize).
  *
  * All transforms are sink-agnostic: callers pick
  * `Trigger.AvailableNow` for incremental batch over files or a
  * continuous trigger for live sources.
  */
object EventStreams {

  /** Event schema matching TESTDATA.md's events table. */
  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** File-based streaming read of event parquet/csv directories.
    * `options` passes source knobs through (e.g. maxFilesPerTrigger to
    * split an AvailableNow run into multiple micro-batches — the file
    * source picks up files oldest-modification-time first). */
  def readStream(spark: SparkSession, path: String,
                 format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(eventSchema).options(options)
      .format(format).load(path)

  /** Watermarked tumbling- or SLIDING-window counts per event type
    * (slide < windowLen ⇒ each event lands in windowLen/slide
    * overlapping windows — the moving-average shape). State is bounded
    * by the watermark: late rows beyond `watermark` are dropped, closed
    * windows are evicted — the property that lets this run forever. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours",
                     slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide.getOrElse(windowLen)),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming per-window dataset fingerprint — the live twin of
    * [[graft.ops.Quality.datasetFingerprint]]: each window's rows
    * fold into the pair of portable 31-poly hash sums mod 2⁶¹−1.
    * Modular sums are COMMUTATIVE and MERGEABLE, which is the whole
    * point of running them streaming: state per live window is ONE
    * partial (count + two sums) forever regardless of traffic, a
    * window's fingerprint is bit-equal to the batch op on the same
    * rows, and the modular ADD of all window fingerprints IS the
    * whole-corpus fingerprint (spec'd) — so a pipeline can certify a
    * day's ingest incrementally and reconcile against a batch
    * fingerprint of the landed table without re-reading anything.
    * Append mode; drain with the sentinel + [[drainTail]] chassis. */
  def fingerprintStream(events: DataFrame, cols: Seq[String],
                        windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val dec = "decimal(38,0)"
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    def h(c: Column): Column = element_at(
      graft.functions.NativeExpressions.poly_hash_set(array(c)), 1)
    events.withWatermark("ts", watermark)
      .select(window(col("ts"), windowLen).as("win"),
        h(canon).as("__h1"),
        h(concat(canon, lit("\u0002"))).as("__h2"))
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("__h1").cast(dec)) %
          lit(graft.ops.Quality.FpMod)).cast("long").as("hash_sum"),
        (sum(col("__h2").cast(dec)) %
          lit(graft.ops.Quality.FpMod)).cast("long").as("hash_sum_b"))
      .select(col("win.start").as("window_start"), col("n_rows"),
        col("hash_sum"), col("hash_sum_b"))
  }

  /** Streaming per-window Brier score — the live forecast-quality
    * monitor beside [[calibrationStream]]: each window's mean squared
    * probability error from ONE exact partial (count, positives,
    * Σ(p_mu−y·10⁶)² in decimal(38,0)) per live window forever. The
    * micro arithmetic is [[graft.ops.Quality.brierDecomposition]]'s
    * exactly, so a window's brier and base rate are bit-equal to the
    * batch op on the same rows. Append mode; drain with the sentinel
    * + [[drainTail]] chassis. */
  def brierStream(events: DataFrame, score: Column, isPos: Column,
                  windowLen: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame = {
    val dec = "decimal(38,0)"
    val s6 = round(score.cast("double"), 6)
    val src = events.withWatermark("ts", watermark)
      .filter(score.isNotNull && isPos.isNotNull)
      .select(window(col("ts"), windowLen).as("win"), s6.as("__s"),
        isPos.as("__p"))
      .filter(col("__s") >= 0 && col("__s") <= 1)
      .select(col("win"),
        (col("__s").cast("decimal(18,6)") * 1000000L)
          .cast(dec).cast("long").as("__mu"),
        when(col("__p"), 1L).otherwise(0L).as("__y"))
    src.groupBy(col("win"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__y")).as("__pos"),
        sum((col("__mu").cast(dec) - col("__y") * 1000000L) *
          (col("__mu").cast(dec) - col("__y") * 1000000L)).as("__sq"))
      .select(col("win.start").as("window_start"), col("n_rows"),
        round(col("__pos").cast("double") /
          col("n_rows").cast("double"), 6).as("base_rate"),
        round(col("__sq").cast("double") /
          col("n_rows").cast("double") / lit(1e12), 6).as("brier"))
  }

  /** Streaming per-window HLL distinct-user ESTIMATE — the sketch
    * twin of [[windowedDistinctUsers]], and the 100 TB contrast to
    * it: exact windowed distinct carries O(users-per-window) dedup
    * state, the sketch carries 64 registers per live window FOREVER
    * regardless of traffic. Two chained stateful aggs (register max
    * per (window, idx) → per-window fold), Append mode — the
    * s_stream_distinct chassis with registers instead of users. The
    * register/estimate arithmetic is
    * [[graft.ops.Sketches.hllDistinct]]'s exactly (shared column
    * helpers, exact scaled-integer Z), so the chunked replay is
    * bit-equal to the batch sketch per window. */
  def hllDistinctStream(events: DataFrame,
                        windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame = {
    val (idx, rho) = graft.ops.Sketches.hllIdxRho(col("user_id"))
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLen).as("win"), idx.as("__idx"),
        rho.as("__rho"))
      .groupBy(col("win"), col("__idx"))
      .agg(max(col("__rho")).as("__rho"))
      .groupBy(col("win"))
      .agg(count(lit(1)).as("hit"),
        sum(graft.ops.Sketches.hllZTerm(col("__rho"))).as("__z"))
      .select(col("win.start").as("window_start"),
        col("hit").as("registers_hit"),
        graft.ops.Sketches.hllEstimate(col("hit"), col("__z"))
          .as("estimate"))
  }

  /** Streaming per-window KMV distinct sketch — the
    * [[graft.ops.Sketches.kmvDistinct]] twin with TRUE sketch state:
    * `flatMapGroupsWithState` keyed by window start holds the ≤k
    * smallest distinct user hashes (O(k) longs per live window
    * forever — the state an agg-based distinct CANNOT give, since a
    * chained groupBy(win, hash) stage keys state by every distinct
    * hash). The k-minimum set is ORDER-INDEPENDENT — merging chunk
    * sketches and sketching the whole window give the same k smallest
    * distinct hashes — so the chunked replay is bit-equal to the
    * batch sketch per window, threshold and all. Windows emit once,
    * when the event-time timeout fires behind the watermark; the
    * estimate uses the batch arithmetic exactly (BigDecimal HALF_UP =
    * Spark's round-on-double). Beyond cardinality, retaining the
    * hashes means two WINDOWS' sketches union/intersect offline (the
    * kmvOverlap algebra) — the reason to prefer KMV state over HLL
    * registers when set ops matter downstream.
    *
    * Append mode; drain with the sentinel + [[drainTail]] chassis. */
  def kmvDistinctStream(events: DataFrame, k: Int = 256,
                        windowLenSec: Long = 3600,
                        watermark: String = "2 hours")
      : org.apache.spark.sql.Dataset[KmvWindow] = {
    require(k >= 2, "k must be >= 2")
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .filter(col("user_id").isNotNull)
      .select(col("ts"),
        graft.ops.Sketches.kmvHash(col("user_id")).as("__h"))
      .as[(java.sql.Timestamp, Long)]
      .groupByKey { case (ts, _) =>
        math.floorDiv(ts.getTime / 1000, windowLenSec) * windowLenSec
      }
      .flatMapGroupsWithState[KmvState, KmvWindow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (wsSec, rows, state: GroupState[KmvState]) =>
          if (state.hasTimedOut) {
            val hs = state.get.hashes
            state.remove()
            val kept = hs.length.toLong
            val thr = if (hs.nonEmpty) hs.last else 0L
            val est =
              if (kept < k) kept.toDouble
              else BigDecimal((k - 1).toDouble * 2147483648.0 /
                  thr.toDouble)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            Iterator.single(KmvWindow(
              new java.sql.Timestamp(wsSec * 1000), kept, thr, est))
          } else {
            val merged0 =
              (state.getOption.map(_.hashes).getOrElse(Array.empty[Long])
                ++ rows.map(_._2)).distinct.sorted
            val merged =
              if (merged0.length > k)
                java.util.Arrays.copyOfRange(merged0, 0, k)
              else merged0
            state.update(KmvState(merged))
            state.setTimeoutTimestamp(math.max(
              (wsSec + windowLenSec) * 1000,
              state.getCurrentWatermarkMs() + 1000))
            Iterator.empty
          }
      }
  }

  /** Streaming per-window calibration bins — the live reliability
    * monitor twin of [[graft.ops.Quality.calibrationBins]]: each hour
    * window's score histogram against outcomes, emitted when the
    * watermark closes the window. State is `bins` rows of three longs
    * per live window FOREVER regardless of traffic (the sketch-state
    * family: psi's bins, hll's registers). The micro-unit arithmetic
    * is the batch op's exactly — score joins the bin as its exact
    * decimal micro-value, truncating integer division — so the
    * chunked replay is bit-equal to the batch computation per window.
    * Append mode; drain with the sentinel + [[drainTail]] chassis. */
  def calibrationStream(events: DataFrame, score: Column,
                        isPos: Column, bins: Int = 10,
                        windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame = {
    val s6 = round(score.cast("double"), 6).cast("decimal(18,6)")
    events
      .withWatermark("ts", watermark)
      .filter(score.isNotNull && isPos.isNotNull)
      .select(window(col("ts"), windowLen).as("win"), s6.as("__s"),
        isPos.as("__p"))
      .filter(col("__s") >= 0 && col("__s") <= 1)
      .select(col("win"),
        least(floor(col("__s") * bins).cast("int"), lit(bins - 1))
          .as("bin"),
        (col("__s").cast("decimal(18,6)") * 1000000L)
          .cast("decimal(38,0)").cast("long").as("__mu"),
        col("__p"))
      .groupBy(col("win"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__mu")).as("__smu"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("__pos"))
      .select(col("win.start").as("window_start"), col("bin"), col("n"),
        expr("__smu div n").as("conf_micros"),
        expr("(__pos * 1000000) div n").as("acc_micros"))
  }

  /** Watermarked per-window exact DISTINCT-user count — the metric a
    * plain streaming aggregation cannot express (COUNT(DISTINCT) is
    * unsupported in streaming aggs): two CHAINED stateful operators
    * (Spark ≥ 3.4 multi-stateful support) — a streaming dedup on
    * (window, user) whose state is bounded by the live windows'
    * distinct keys, feeding a windowed count of the survivors. Both
    * states evict at the watermark. Append mode: a window's count
    * emits once, when the watermark closes it — drain the tail with
    * [[stageDrainBatches]] + [[drainTail]] like every stateful op. */
  def windowedDistinctUsers(events: DataFrame,
                            windowLen: String = "1 hour",
                            watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLen).as("win"), col("user_id"))
      .dropDuplicates("win", "user_id")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("distinct_users"))
      .select(col("win.start").as("window_start"), col("distinct_users"))

  /** Watermarked per-window TOP-K leaderboard — the custom
    * [[graft.functions.NativeExpressions.TopKByValue]] aggregate
    * running INSIDE a streaming aggregation: its serialized k-element
    * heap is the state-store value, partials from each micro-batch
    * merge by heap union, so per-(window, type) state is k rows
    * FOREVER regardless of event volume — a window's full event set
    * never exists anywhere. The leaderboard shape (top pages/products
    * per hour) that a naive window-sort formulation cannot stream at
    * all (rank over an unbounded window is unsupported on streams —
    * the mergeable aggregate is the only shape that works). */
  def windowedTopK(events: DataFrame, windowLen: String = "1 hour",
                   k: Int = 3,
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(graft.functions.NativeExpressions.top_k_by_value(
        col("event_id"), col("value"), k).as("top"))
      .select(col("window.start").as("window_start"), col("event_type"),
        posexplode(col("top")))
      .select(col("window_start"), col("event_type"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), col("col.value").as("value"))

  /** Watermarked per-window PSI drift monitor — the STREAMING twin of
    * [[graft.ops.Quality.psi]]: each event-time window's value
    * distribution is scored against a FROZEN reference (the training
    * snapshot), so distribution drift alarms in the window it happens
    * instead of at the next offline audit. The reference rides into
    * the plan as literals (bin boundaries = the reference's own
    * percentiles; per-bin Laplace-guarded shares), exactly how a
    * deployed monitor ships its training profile.
    *
    * ONE stateful operator: the per-window bin histogram is `bins`
    * conditional sums inside a single windowed agg (partials merge
    * per micro-batch — per-window state is `bins` longs forever, the
    * window's events never accumulate anywhere), and the PSI fold over
    * the bins is a stateless projection on the agg output: Σ_i
    * (q_i − r_i)·ln(q_i / r_i) with q_i = (n_i + 0.5)/(tot + 0.5·bins)
    * — per-term round-6 then a FIXED left-assoc fold i = 1..bins, so
    * the statistic is reduction-order-free and the chunked replay is
    * bit-equal to any batch recomputation. Append mode: a window's PSI
    * emits once, when the watermark closes it — drain with
    * [[stageDrainBatches]] + [[drainTail]] like every stateful op.
    * Empty bins alarm (the Laplace guard, [[graft.ops.Quality.psi]]'s
    * stated convention), never divide by zero. */
  def psiStream(events: DataFrame, valCol: String,
                boundaries: Seq[Double], refShares: Seq[Double],
                windowLen: String = "1 day",
                watermark: String = "2 days"): DataFrame = {
    require(boundaries.nonEmpty &&
      refShares.length == boundaries.length + 1,
      "refShares needs one entry per bin (|boundaries| + 1)")
    require(refShares.forall(_ > 0.0),
      "refShares must be Laplace-guarded (> 0)")
    val bins = refShares.length
    val v = col(valCol).cast("double")
    val bin = boundaries.foldLeft(lit(1)) { (acc, b) =>
      acc + when(v > lit(b), 1).otherwise(0)
    }
    val counted = events.filter(v.isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(sum(when(bin === 1, 1L).otherwise(0L)).as("__n1"),
        (2 to bins).map(i =>
          sum(when(bin === i, 1L).otherwise(0L)).as(s"__n$i")): _*)
    val tot = (1 to bins).map(i => col(s"__n$i")).reduce(_ + _)
    val denom = tot.cast("double") + lit(0.5 * bins)
    val terms = (1 to bins).map { i =>
      val q = (col(s"__n$i").cast("double") + lit(0.5)) / denom
      val r = lit(refShares(i - 1))
      round((q - r) * log(q / r), 6)
    }
    counted.select(col("window.start").as("window_start"),
      tot.as("n_events"), round(terms.reduce(_ + _), 6).as("psi"))
  }

  /** Watermarked per-window Hellinger drift monitor — the STREAMING
    * twin of [[graft.ops.Quality.hellingerDrift]] and [[psiStream]]'s
    * BOUNDED sibling: each window's distribution scores H ∈ [0, 1]
    * against the frozen reference, so one SLA threshold ("alert at
    * H > 0.2") works for every monitored feature where PSI's scale
    * depends on the bin count. Reference boundaries and shares ride
    * in as literals (the deployed-profile shape); zero reference
    * shares are ALLOWED (√ is zero-tolerant — no Laplace guard, the
    * batch op's stated convention).
    *
    * Same chassis as [[psiStream]]: ONE stateful windowed agg with
    * `bins` conditional sums (per-window state = `bins` longs
    * forever), then a stateless projection — per-bin √(q_i·r_i)
    * rounded to 6dp and folded through EXACT decimal addition
    * (order-free by construction, stronger than psi's fixed-order
    * double fold), H = √(1 − BC) clamped at 0 one double step.
    * Append mode; drain like every stateful op.
    *
    * @return (window_start, n_events, bc, hellinger) */
  def hellingerStream(events: DataFrame, valCol: String,
                      boundaries: Seq[Double], refShares: Seq[Double],
                      windowLen: String = "1 day",
                      watermark: String = "2 days"): DataFrame = {
    require(boundaries.nonEmpty &&
      refShares.length == boundaries.length + 1,
      "refShares needs one entry per bin (|boundaries| + 1)")
    require(refShares.forall(_ >= 0.0), "refShares must be >= 0")
    val bins = refShares.length
    val v = col(valCol).cast("double")
    val bin = boundaries.foldLeft(lit(1)) { (acc, b) =>
      acc + when(v > lit(b), 1).otherwise(0)
    }
    val counted = events.filter(v.isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(sum(when(bin === 1, 1L).otherwise(0L)).as("__n1"),
        (2 to bins).map(i =>
          sum(when(bin === i, 1L).otherwise(0L)).as(s"__n$i")): _*)
    val tot = (1 to bins).map(i => col(s"__n$i")).reduce(_ + _)
    val terms = (1 to bins).map { i =>
      round(sqrt(col(s"__n$i").cast("double") / tot.cast("double") *
        lit(refShares(i - 1))), 6).cast("decimal(18,6)")
    }
    val bc = terms.reduce(_ + _).cast("decimal(28,6)")
    counted.select(col("window.start").as("window_start"),
      tot.as("n_events"), bc.cast("double").as("bc"),
      round(sqrt(greatest(lit(0.0), lit(1.0) - bc.cast("double"))), 6)
        .as("hellinger"))
  }

  /** Stream–static broadcast enrichment: join each micro-batch to a
    * BATCH dimension — the most common streaming join (attach the
    * user/product/geo attributes to every event). Stateless: no
    * watermark, no state store — the dim is broadcast and probed per
    * batch, so a 100 TB/day stream enriches at scan speed as long as
    * the dim stays broadcast-sized; a growing dim belongs in a
    * stream–stream join ([[intervalJoinStreams]]) instead. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), keys)

  /** `user_id` is boxed: a null key is one session group, as in the
    * batch `PARTITION BY user_id`. */
  case class SessionUpdate(user_id: java.lang.Long,
                           session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Int)

  /** Stateful sessionization with mapGroupsWithState: a session closes
    * after `gapSeconds` of inactivity.
    *
    * `evictIdleAfterMs`: on a LIVE stream pass the idle horizon (usually
    * `gapSeconds * 1000`) — per-user state is flushed via a
    * processing-time timeout (final session emitted, state removed)
    * instead of accumulating forever. Leave `None` for
    * AvailableNow/batch runs: a registered processing-time timeout keeps
    * the query alive waiting for a timeout-firing batch, so AvailableNow
    * would never terminate (measured, not theorized).
    *
    * Ordering contract: rows are folded in event order WITHIN a trigger,
    * and state carries only the latest session across triggers — so a
    * row arriving in a LATER trigger with an EARLIER event time than
    * state's `last` (out-of-order across micro-batches, e.g.
    * maxFilesPerTrigger splitting files not in event-time order) cannot
    * be sessionized incrementally. The fold GUARDS this loudly
    * (IllegalStateException) instead of silently merging sessions via a
    * negative gap. Feed triggers in event-time order (the staged
    * AvailableNow inputs here arrive as one batch) or pre-sort the
    * source; for out-of-order arrivals use [[sessionizeRetained]], the
    * retained-events variant that buffers a watermark horizon.
    * Streaming twin of WindowOps.sessionize. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800,
                 evictIdleAfterMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (evictIdleAfterMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.selectExpr("user_id", "cast(ts as long) as ts_sec")
      .as[(java.lang.Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](timeoutConf) {
        case (uid, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle past the horizon: emit the closed session, evict state
            val st = state.get
            state.remove()
            SessionUpdate(uid,
              new java.sql.Timestamp(st.start * 1000),
              new java.sql.Timestamp(st.last * 1000), st.n)
          } else {
            // batch-incremental semantics: fold this trigger's rows in
            // event order, carrying session state across triggers
            val sorted = rows.map(_._2).toSeq.sorted
            var latest = state.getOption.getOrElse(
              SessionState(sorted.head, sorted.head, 0))
            sorted.foreach { t =>
              if (t < latest.last)
                outOfOrder("sessionize", s"event time $t for user $uid " +
                  s"precedes carried session end ${latest.last}")
              latest =
                if (t - latest.last > gapSeconds) SessionState(t, t, 1)
                else latest.copy(last = t, n = latest.n + 1)
            }
            state.update(latest)
            evictIdleAfterMs.foreach(state.setTimeoutDuration)
            SessionUpdate(uid,
              new java.sql.Timestamp(latest.start * 1000),
              new java.sql.Timestamp(latest.last * 1000), latest.n)
          }
      }
  }

  /** Late-data-tolerant sessionization: flatMapGroupsWithState buffering
    * each user's events inside the WATERMARK horizon, so rows may arrive
    * across micro-batches in ANY order (a 100 TB backfill through
    * maxFilesPerTrigger, a shuffled file listing, late mobile events) —
    * the design [[sessionize]]'s ordering guard points at.
    *
    * Mechanics: per user, buffer event seconds in state; on every
    * invocation, re-derive sessions (gaps-and-islands over the sorted
    * buffer) and EMIT the prefix of sessions that the watermark has made
    * immutable — a session whose `end + gap` is behind the watermark can
    * never gain an event, because the watermark operator has already
    * dropped anything older and every future row is newer. Buffered
    * events of emitted sessions are released; the rest stay in state
    * with an event-time timeout at `last + gap`, so a user who simply
    * goes quiet still flushes (the timeout fires once the watermark
    * passes — including in the trailing no-data batch an AvailableNow
    * run executes after its last file).
    *
    * Output is APPEND of final sessions only (each session exactly
    * once), unlike [[sessionize]]'s per-trigger updates. Sessions still
    * open within `gap + watermarkDelay` of the stream's max event time
    * when the query stops remain in state (checkpointed, emitted on a
    * later run) — to flush everything in a bounded backfill, feed one
    * far-future sentinel row last.
    *
    * State per user is O(events within watermarkDelay + gap of the max
    * event time), the horizon the correctness argument needs — the
    * bounded-state/late-tolerance trade is the watermark delay, not an
    * unbounded retained log. */
  def sessionizeRetained(events: DataFrame, gapSeconds: Long = 1800,
                         watermarkDelay: String = "2 hours")
      : org.apache.spark.sql.Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the watermark tag lives on the ts ATTRIBUTE's metadata — casting
    // it to long would strip the tag and fail the event-time-timeout
    // check, so ts stays a timestamp until inside the state function
    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"))
      .as[(java.lang.Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuffer, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionBuffer]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000
          val all = (state.getOption.map(_.pending).getOrElse(Array.empty)
            ++ rows.map(_._2.getTime / 1000)).sorted
          if (all.isEmpty) { state.remove(); Iterator.empty }
          else {
            // session start indices over the sorted buffer
            val starts = scala.collection.mutable.ArrayBuffer(0)
            var k = 1
            while (k < all.length) {
              if (all(k) - all(k - 1) > gapSeconds) starts += k
              k += 1
            }
            // finalizable sessions are a PREFIX (sessions are disjoint
            // ordered intervals, so ends increase monotonically)
            val out = Seq.newBuilder[SessionUpdate]
            var si = 0
            var retainFrom = all.length
            var done = false
            while (si < starts.length && !done) {
              val lo = starts(si)
              val hi = if (si + 1 < starts.length) starts(si + 1)
                       else all.length
              if (all(hi - 1) + gapSeconds < wmSec) {
                out += SessionUpdate(uid,
                  new java.sql.Timestamp(all(lo) * 1000),
                  new java.sql.Timestamp(all(hi - 1) * 1000), hi - lo)
                si += 1
              } else { retainFrom = lo; done = true }
            }
            if (retainFrom >= all.length) state.remove()
            else {
              val retained = java.util.Arrays
                .copyOfRange(all, retainFrom, all.length)
              state.update(SessionBuffer(retained))
              // fire when the OLDEST pending session becomes closable
              // (its end + gap behind the watermark) — keying on the
              // newest event would stall every earlier session behind
              // a far-future pending one. Re-registered per firing, so
              // sessions drain one watermark advance at a time. Must be
              // strictly ahead of the current watermark.
              var e = 0
              while (e + 1 < retained.length &&
                retained(e + 1) - retained(e) <= gapSeconds) e += 1
              state.setTimeoutTimestamp(math.max(
                (retained(e) + gapSeconds + 1) * 1000,
                wmSec * 1000 + 1000))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming exact dedup: keep the FIRST occurrence of each KEY within
    * the watermark horizon — the ingest-side twin of
    * Dedup.exactByContent for a continuously arriving corpus. Key-only
    * dedup (`dropDuplicatesWithinWatermark`): a duplicate key arriving
    * with a DIFFERENT event time — the normal case for content-hash
    * dedup of a stream — is still dropped, which plain
    * dropDuplicates(key, ts) would silently keep. State is bounded: a
    * key's entry is held at least `watermark` past its event time and
    * then evicted, so a duplicate arriving later than the horizon is
    * NOT caught (that residue is the batch dedup's job downstream —
    * the standard two-tier design). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts",
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The one ordering guard of the per-key stream folds: a row that
    * arrives in a later trigger but precedes the state carried from an
    * earlier one cannot be folded incrementally. */
  private def outOfOrder(op: String, detail: String): Nothing =
    throw new IllegalStateException(s"$op: $detail — " +
      "out-of-order arrival across triggers; feed micro-batches in " +
      "event-time order (see scaladoc)")

  /** The chassis of the seven ordered per-key folds ([[ewmaStream]],
    * [[cusumStream]], [[rateLimitStream]], [[holtStream]],
    * [[zscoreStream]], [[madStream]], [[funnelStream]]): ONE
    * flatMapGroupsWithState (Append, no timeout) keyed by user over
    * `(user_id, unix_micros(ts), event_id, payload)`. Per trigger, a
    * key's rows arrive sorted by (event-time µs, event_id) and `fold`
    * maps them and the carried state (None before the key's first
    * event) to the rows to emit and the state to carry on. State is
    * whatever the operator keeps per key — O(keys) or O(keys·lookback)
    * forever, no watermark needed for boundedness.
    *
    * Ordering contract: rows fold in (µs, id) order within a trigger,
    * and a trigger whose first row precedes the carried state's
    * (lastTus, lastId) throws an IllegalStateException naming `op`
    * (the [[sessionize]] convention) — a recurrence can't absorb a
    * late event without replaying everything after it; feed
    * micro-batches in event-time order or buffer upstream like
    * [[sessionizeRetained]]. */
  private def orderedFold[P: TypeTag, S <: FoldState with Product : TypeTag,
                          O <: Product : TypeTag](
      events: DataFrame, op: String, payload: Column)(
      fold: (Long, Option[S], Seq[(Long, Long, P)]) => (Seq[O], S))
      : Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp_ltz))").as("tus"),
        col("event_id"), payload)
      .as[(Long, Long, Long, P)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, P)],
         state: GroupState[S]) =>
          val sorted = rows.map(r => (r._2, r._3, r._4)).toVector
            .sortBy(r => (r._1, r._2))
          val carried = state.getOption
          carried.foreach { st =>
            val (tus, id, _) = sorted.head
            if (tus < st.lastTus || (tus == st.lastTus && id < st.lastId))
              outOfOrder(op, s"event $id for user $uid at $tus precedes " +
                s"carried state (${st.lastTus}, ${st.lastId})")
          }
          val (out, next) = fold(uid, carried, sorted)
          state.update(next)
          out.iterator
      }
  }

  /** An [[orderedFold]] `fold` that steps once per event: `step` maps
    * (user, state so far, event µs, event_id, payload) to the event's
    * output row and the state after it. */
  private def eachEvent[P, S, O](
      step: (Long, Option[S], Long, Long, P) => (O, S))
      : (Long, Option[S], Seq[(Long, Long, P)]) => (Seq[O], S) =
    (uid, carried, rows) => {
      var st = carried
      val out = rows.map { case (tus, id, p) =>
        val (o, next) = step(uid, st, tus, id, p)
        st = Some(next)
        o
      }
      (out, st.get)
    }

  private val HalfUp = java.math.RoundingMode.HALF_UP

  /** A double input rounded once to scale 6 — every fold's first step. */
  private def dec6(d: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(6, HalfUp)

  private def r6(d: Double): Double = dec6(d).doubleValue()

  /** A scale-6 value from its unscaled state long, and back. */
  private def ofMicros(l: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(l, 6)

  private def micros(b: java.math.BigDecimal): Long =
    b.movePointRight(6).longValueExact()

  /** Streaming per-key EWMA — the stateful twin of
    * [[graft.ops.WindowOps.ewma]] on the [[orderedFold]] chassis: the
    * state is exactly ONE smoothed value per key (not a window of
    * events) — the recurrence is the rare stateful op whose state does
    * NOT grow with the horizon. Each event emits its smoothed value
    * once (Append).
    *
    * Arithmetic contract: identical EXACT-decimal steps as the batch
    * op — input rounded once to scale 6, s' = round6(α·v + (1−α)·s)
    * with α and 1−α as exact BigDecimals, state carrying the scale-6
    * unscaled long — so a chunked replay reproduces the batch answer
    * BIT-for-bit (the s_stream_ewma oracle is w16's recursive CTE). */
  def ewmaStream(events: DataFrame, alpha: Double = 0.3)
      : Dataset[EwmaOut] = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val aBD = new java.math.BigDecimal(alpha.toString)
    val bBD = java.math.BigDecimal.ONE.subtract(aBD)
    orderedFold[Double, EwmaState, EwmaOut](events, "ewmaStream",
      col("value"))(eachEvent { (uid, st, tus, id, value) =>
      val v = dec6(value)
      val s2 = st.fold(v)(s => aBD.multiply(v)
        .add(bBD.multiply(ofMicros(s.sMicros))).setScale(6, HalfUp))
      (EwmaOut(uid, id, s2.doubleValue()), EwmaState(tus, id, micros(s2)))
    })
  }

  /** Streaming per-key one-sided CUSUM — the stateful twin of
    * [[graft.ops.WindowOps.cusum]] on the [[orderedFold]] chassis: ONE
    * scale-6 unscaled long per key (the CUSUM statistic) — the online
    * drift detector that raises the alarm IN the micro-batch where the
    * threshold is crossed, instead of a day later in batch.
    *
    * Arithmetic contract: identical EXACT-decimal steps as the batch
    * op — input rounded once to scale 6, s' = max(0, s + v − drift)
    * with drift = target + slack as an exact BigDecimal — so a chunked
    * in-event-time-order replay reproduces the batch answer
    * bit-for-bit (the s_stream_cusum oracle IS w20's recursive CTE). */
  def cusumStream(events: DataFrame, target: Double, slack: Double,
                  threshold: Double): Dataset[CusumOut] = {
    require(threshold > 0, "threshold must be > 0")
    val driftBD = new java.math.BigDecimal(target.toString)
      .add(new java.math.BigDecimal(slack.toString))
    val hBD = new java.math.BigDecimal(threshold.toString)
    val zero = java.math.BigDecimal.ZERO.setScale(6)
    orderedFold[Double, EwmaState, CusumOut](events, "cusumStream",
      col("value"))(eachEvent { (uid, st, tus, id, value) =>
      val prev = st.fold(zero)(s => ofMicros(s.sMicros))
      val s2 = prev.add(dec6(value)).subtract(driftBD)
        .max(zero).setScale(6, HalfUp)
      (CusumOut(uid, id, s2.doubleValue(), s2.compareTo(hBD) > 0),
        EwmaState(tus, id, micros(s2)))
    })
  }

  /** Streaming per-key token-bucket admission control — the online
    * twin of [[graft.ops.WindowOps.rateLimit]] on the [[orderedFold]]
    * chassis, and the op that actually BELONGS in the stream (a
    * limiter that answers a day later is an audit, not a limiter): one
    * scale-6 long of state per key (current tokens) plus the last
    * event time. Exact decimal refill arithmetic identical to the
    * batch op — (Δt µs)·ratePerµs rounded once per step — so a chunked
    * in-order replay is bit-equal to the batch answer (the
    * s_stream_rate oracle IS w26's recursive CTE). Bucket starts FULL.
    * The fold reads no payload column. */
  def rateLimitStream(events: DataFrame, capacity: Int,
                      refillPerSec: Double): Dataset[RateOut] = {
    require(capacity >= 1, "capacity must be >= 1")
    require(refillPerSec > 0, "refillPerSec must be > 0")
    val rBD = new java.math.BigDecimal(refillPerSec.toString)
      .movePointLeft(6)
    val capBD = java.math.BigDecimal.valueOf(capacity.toLong).setScale(6)
    val oneBD = java.math.BigDecimal.ONE.setScale(6)
    orderedFold[Int, EwmaState, RateOut](events, "rateLimitStream",
      lit(0))(eachEvent { (uid, st, tus, id, _) =>
      val avail = st.fold(capBD) { s =>
        val refill = java.math.BigDecimal.valueOf(tus - s.lastTus)
          .multiply(rBD).setScale(6, HalfUp)
        capBD.min(ofMicros(s.sMicros).add(refill))
      }
      val adm = avail.compareTo(oneBD) >= 0
      val tok = (if (adm) avail.subtract(oneBD) else avail)
        .setScale(6, HalfUp)
      (RateOut(uid, id, tok.doubleValue(), adm),
        EwmaState(tus, id, micros(tok)))
    })
  }

  /** Streaming Holt linear-trend smoothing — the stateful twin of
    * [[graft.ops.WindowOps.holt]] on the [[orderedFold]] chassis: TWO
    * scale-6 longs of state per key (level and trend), each event
    * emitting its one-step-ahead forecast in its own micro-batch —
    * the live "expected next value" feed. Identical exact-decimal
    * steps as the batch op (l = α·v + (1−α)(l₀+b₀), b = β(l−l₀) +
    * (1−β)b₀, init (v₁, 0), every assignment rounded once to 6), so a
    * chunked in-order replay is bit-equal (the s_stream_holt oracle
    * IS w27's recursive CTE). */
  def holtStream(events: DataFrame, alpha: Double, beta: Double)
      : Dataset[HoltOut] = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(beta > 0 && beta < 1, "beta in (0,1)")
    val aBD = new java.math.BigDecimal(alpha.toString)
    val iaBD = java.math.BigDecimal.ONE.subtract(aBD)
    val bBD = new java.math.BigDecimal(beta.toString)
    val ibBD = java.math.BigDecimal.ONE.subtract(bBD)
    orderedFold[Double, HoltState, HoltOut](events, "holtStream",
      col("value"))(eachEvent { (uid, st, tus, id, value) =>
      val v = dec6(value)
      val (l2, b2) = st.fold((v, java.math.BigDecimal.ZERO.setScale(6))) {
        s =>
          val l0 = ofMicros(s.lMicros); val b0 = ofMicros(s.bMicros)
          val nl = aBD.multiply(v).add(iaBD.multiply(l0.add(b0)))
            .setScale(6, HalfUp)
          val nb = bBD.multiply(nl.subtract(l0)).add(ibBD.multiply(b0))
            .setScale(6, HalfUp)
          (nl, nb)
      }
      (HoltOut(uid, id, l2.doubleValue(), b2.doubleValue(),
        l2.add(b2).doubleValue()),
        HoltState(tus, id, micros(l2), micros(b2)))
    })
  }

  /** Streaming rolling z-score anomaly detection — the online twin of
    * [[graft.ops.WindowOps.rollingZscore]] on the [[orderedFold]]
    * chassis: each event is scored against its key's TRAILING
    * `lookback` values (the frame excludes the event itself) and
    * flagged IN its own micro-batch. State is a bounded ring per key —
    * `lookback` scale-6 longs for the values and their squares.
    * Arithmetic is step-identical to the batch op (exact integer sums
    * over the ring, the same rounded-double mean/E[v²], clamped
    * variance, IEEE sqrt), so a chunked in-order replay is bit-equal
    * (the s_stream_zscore oracle IS w28's). */
  def zscoreStream(events: DataFrame, lookback: Int = 10,
                   zThreshold: Double = 3.0, minObs: Int = 4)
      : Dataset[ZscoreOut] = {
    require(lookback >= 2 && minObs >= 2 && minObs <= lookback,
      "need 2 <= minObs <= lookback")
    require(zThreshold > 0, "zThreshold must be > 0")
    orderedFold[Double, ZscoreState, ZscoreOut](events, "zscoreStream",
      col("value"))(eachEvent { (uid, st, tus, id, value) =>
      val vs = st.fold(Array.empty[Long])(_.vs)
      val v2s = st.fold(Array.empty[Long])(_.v2s)
      val n = vs.length
      val vBD = dec6(value)
      val (mean, std) =
        if (n == 0) (None: Option[Double], None: Option[Double])
        else {
          val m = r6(ofMicros(vs.sum).doubleValue() / n)
          val ev2 = r6(ofMicros(v2s.sum).doubleValue() / n)
          val variance = r6(math.max(0.0, ev2 - m * m))
          (Some(m), Some(math.sqrt(variance)))
        }
      val ok = n >= minObs
      val z = (mean, std) match {
        case (Some(m), Some(s)) if ok && s > 0 =>
          Some(r6((vBD.doubleValue() - m) / s))
        case _ => None
      }
      val v2m = micros(vBD.multiply(vBD).setScale(6, HalfUp))
      (ZscoreOut(uid, id, n.toLong, if (ok) mean else None,
        if (ok) std.map(r6) else None, z,
        z.exists(v => math.abs(v) > zThreshold)),
        ZscoreState(tus, id, (vs :+ micros(vBD)).takeRight(lookback),
          (v2s :+ v2m).takeRight(lookback)))
    })
  }

  /** Streaming rolling median/MAD anomaly — the online twin of
    * [[graft.ops.WindowOps.rollingMadAnomaly]] on the [[orderedFold]]
    * chassis: each event judged against the lower median and MAD of
    * its key's trailing `lookback`-row frame INCLUDING itself (the
    * batch frame contract). State is the frame ring — `lookback`
    * scale-6 longs per key — and every step is INTEGER arithmetic on
    * micro-units (sort, index, abs, k·mad compare): nothing to round
    * differently, so a chunked in-order replay is bit-equal to the
    * batch window and the s_stream_mad oracle IS w31's. */
  def madStream(events: DataFrame, lookback: Int = 25, k: Int = 3)
      : Dataset[MadOut] = {
    require(lookback >= 2, "lookback must be >= 2")
    require(k >= 1, "k must be >= 1")
    orderedFold[Double, MadState, MadOut](events, "madStream",
      col("value"))(eachEvent { (uid, st, tus, id, value) =>
      val vm = micros(dec6(value))
      val frame = (st.fold(Array.empty[Long])(_.vs) :+ vm)
        .takeRight(lookback)
      val sortedF = frame.sorted
      val med = sortedF((sortedF.length + 1) / 2 - 1)
      val devs = frame.map(x => math.abs(x - med)).sorted
      val mad = devs((devs.length + 1) / 2 - 1)
      (MadOut(uid, id, ofMicros(vm).doubleValue(),
        ofMicros(med).doubleValue(), ofMicros(mad).doubleValue(),
        math.abs(vm - med) > k.toLong * mad),
        MadState(tus, id, frame))
    })
  }

  /** Streaming funnel: each user's stage-reach events emitted the
    * moment they happen — the online twin of
    * [[graft.ops.Analytics.funnel]]'s greedy earliest-match cascade on
    * the [[orderedFold]] chassis, whose semantics are NATURALLY online
    * (stage i's time is the first s_i event at-or-after stage i−1's;
    * processing in event-time order, that is simply "the first
    * qualifying event seen"). State is `stages.length` booleans per
    * key.
    *
    * Equal-timestamp semantics: the batch cascade admits a stage-i
    * event AT stage i−1's exact time, regardless of intra-instant
    * order — so same-instant events are processed as a group to a
    * FIXPOINT (≤ |stages| passes), and a view+click+purchase all at
    * one instant cascades through all three. Contract: same-instant
    * ties must arrive in the SAME trigger (the day-chunked staging
    * guarantees it; a tie split across triggers has no correct online
    * resolution). Emits each (user, stage) at most once. */
  def funnelStream(events: DataFrame, stages: Seq[String])
      : Dataset[FunnelReach] = {
    require(stages.nonEmpty, "stages must be non-empty")
    val stageIdx = stages.zipWithIndex.toMap
    orderedFold[String, FunnelState, FunnelReach](events, "funnelStream",
      col("event_type")) { (uid, st, rows) =>
      val reached = st.fold(Array.fill(stages.length)(false))(
        _.reached.clone())
      val out = Seq.newBuilder[FunnelReach]
      rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, group) =>
        var changed = true
        while (changed) {
          changed = false
          group.foreach { case (_, _, tpe) =>
            stageIdx.get(tpe).foreach { i =>
              if (!reached(i) && (i == 0 || reached(i - 1))) {
                reached(i) = true
                changed = true
                out += FunnelReach(uid, i + 1, stages(i))
              }
            }
          }
        }
      }
      val (tus, id, _) = rows.last
      (out.result(), FunnelState(tus, id, reached))
    }
  }

  /** Watermarked stream-stream INNER interval join: right-side events
    * match left-side events of the same `key` whose event time falls in
    * [l.ts, l.ts + within] — the attribution pattern (purchase joined
    * to the clicks that preceded it). The time-range condition plus
    * BOTH watermarks let the engine derive state-eviction bounds for
    * each side (left rows older than watermark + within are dropped
    * from state; right rows older than watermark likewise), so state
    * is bounded on an unbounded stream — without the range condition
    * a stream-stream join must keep EVERYTHING forever. Output columns
    * stay alias-qualified (`l.*` / `r.*`): callers select explicitly. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
                          tsCol: String, within: String = "1 HOUR",
                          watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$tsCol >= l.$tsCol AND " +
        s"r.$tsCol <= l.$tsCol + INTERVAL $within"))
  }

  /** LEFT OUTER twin of [[intervalJoinStreams]]: left rows with no
    * right match inside the interval emit with null right columns —
    * but only once the WATERMARK proves no match can still arrive
    * (the engine holds an unmatched left row in state until
    * `watermark + within` passes its event time, then emits it in a
    * later batch; this is the part an inner join doesn't need). In a
    * bounded AvailableNow replay, rows near the stream's end never see
    * the watermark pass them — feed a far-future sentinel row per side
    * last (the [[sessionizeRetained]] flush convention) and filter it
    * from the output. Same bounded-state argument as the inner join:
    * the time-range condition plus both watermarks derive each side's
    * eviction bound. */
  def intervalJoinStreamsOuter(left: DataFrame, right: DataFrame,
                               key: String, tsCol: String,
                               within: String = "1 HOUR",
                               watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$tsCol >= l.$tsCol AND " +
        s"r.$tsCol <= l.$tsCol + INTERVAL $within"), "left_outer")
  }

  /** FULL OUTER stream-stream interval join — completes the streaming
    * join matrix (inner / left outer / full outer): matched pairs
    * emit immediately; UNMATCHED rows from EITHER side emit once the
    * watermark proves no partner can still arrive. The time bound
    * constrains both sides (r ∈ [l, l + within] ⇔ l ∈ [r − within,
    * r]), which is what lets the engine expire BOTH join states —
    * without a two-sided bound, one side's state grows forever.
    * State: O(rows inside the watermark window) per side, the
    * left-outer contract, plus the right side's unmatched buffer. */
  def intervalJoinStreamsFull(left: DataFrame, right: DataFrame,
                              key: String, tsCol: String,
                              within: String = "1 HOUR",
                              watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$tsCol >= l.$tsCol AND " +
        s"r.$tsCol <= l.$tsCol + INTERVAL $within"), "full_outer")
  }

  /** CDC-style streaming UPSERT sink: every micro-batch MERGES into the
    * hive-partitioned parquet table at `basePath` by `keys` — revisions
    * replace, new keys insert, only touched partitions are rewritten
    * (foreachBatch over [[graft.ops.Merge.mergeUpsert]]; the first
    * batch creates the table). Within a batch, duplicate keys keep the
    * highest-`orderCol` row (a batch is unordered — without the
    * in-batch dedup, duplicate update keys would all land).
    * Delivery: at-least-once into an idempotent merge — a replayed
    * batch (restart between sink write and checkpoint commit)
    * re-merges the same rows onto the same keys, so the final state is
    * exactly-once even though the write isn't. Per-batch cost is
    * O(touched partitions), which is what makes continuous upsert into
    * a 100 TB table viable — the stream never rewrites the table, only
    * the partitions its keys live in. `partCol` must be stable under
    * revisions (mergeUpsert's contract). */
  def upsertStream(events: DataFrame, basePath: String, keys: Seq[String],
                   partCol: String, orderCol: String, queryName: String,
                   checkpoint: String): Unit = {
    val q = events.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deduped = graft.ops.WindowOps.dedupKeepLast(batch, keys,
          Seq(col(orderCol)))
        graft.ops.Merge.mergeUpsert(batch.sparkSession, basePath, deduped,
          keys, partCol)
        ()
      }
      .start()
    Drain.availableNow(q, checkpoint)
  }

  /** STREAMING near-duplicate candidate pairs: the incremental twin of
    * [[graft.text.Dedup.lshCandidates]] — each arriving document is
    * minhash-signed and banded with the SAME expressions as the batch
    * path, and every LSH band-bucket accumulates its members in
    * flatMapGroupsWithState; a new member emits one candidate pair
    * against each member already seen, so a corpus replayed through the
    * stream yields exactly the batch candidate set (pair set is
    * arrival-order-invariant: unordered pairs, symmetric estimate;
    * cross-band duplicates are deduped by the caller like the batch
    * path's dropDuplicates). Downstream, verify exactly as in batch —
    * [[graft.text.Dedup.stagedVerify]] against the corpus shingles.
    *
    * State per bucket is ≤ `maxBucket` (id, signature) members — the
    * same degenerate-bucket cap as batch LSH, with the same contract: a
    * bucket at cap admits no further members and emits no further pairs
    * (boilerplate cliques belong to exact dedup, not the pair stream).
    * With `evictIdleAfterMs` set, buckets idle past the horizon are
    * dropped (processing-time timeout), bounding total state on an
    * unbounded stream at the cost of missing pairs that span the
    * eviction — the beyond-horizon tier is
    * [[graft.text.LshIndex]]'s persisted-index job, exactly the
    * two-tier split [[dedupStream]] documents for exact keys.
    *
    * CAUTION — eviction is for CONTINUOUS deployments: under an
    * AvailableNow replay a processing-time-timeout query never
    * self-terminates (measured: the engine keeps scheduling no-data
    * batches to fire future timeouts — hundreds of empty batches that
    * also flush the data batches out of the `recentProgress` ring) —
    * use [[runBoundedWithTimeouts]], which polls progress and stops the
    * query explicitly, instead of [[runAvailableNow]], whose
    * [[Drain.availableNow]] wait never ends: each no-data batch is
    * progress, not a stall. */
  def nearDupCandidatesStream(docs: DataFrame, idCol: String,
                              textCol: String, shingleN: Int = 3,
                              numHashes: Int = 32, bands: Int = 16,
                              maxBucket: Int = 1000,
                              evictIdleAfterMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[NearDupCand] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.text.Dedup
    val timeoutConf =
      if (evictIdleAfterMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val banded = docs.select(col(idCol).cast("long").as("id"),
        Dedup.minhashSignature(
          Dedup.shingles(col(textCol), shingleN), numHashes).as("sig"))
      .select(col("id"), col("sig"),
        explode(Dedup.lshBands(col("sig"), bands, numHashes / bands))
          .as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
      .as[(Long, Array[Int], Int, Int)]
    banded.groupByKey { case (_, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[BucketMembers, NearDupCand](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[BucketMembers]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption
              .getOrElse(BucketMembers(Array.empty, Array.empty))
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupCand]
            rows.foreach { case (id, sig, _, _) =>
              if (members.ids.length < maxBucket &&
                  !members.ids.contains(id)) {
                var i = 0
                while (i < members.ids.length) {
                  val other = members.ids(i)
                  val osig = members.sigs(i)
                  var eq = 0; var j = 0
                  while (j < sig.length) {
                    if (sig(j) == osig(j)) eq += 1; j += 1
                  }
                  val est = BigDecimal(eq.toDouble / numHashes)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  out += NearDupCand(math.min(id, other),
                    math.max(id, other), est)
                  i += 1
                }
                members = BucketMembers(members.ids :+ id,
                  members.sigs :+ sig.clone())
              }
            }
            state.update(members)
            evictIdleAfterMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** THE stager of every chunked file-stream replay: append each batch
    * to the stream input directory `inDir` (created if absent) as ONE
    * parquet file whose mtime is strictly newer than every file already
    * there (and than the previous batch), so the file source
    * (oldest-mtime-first) processes them in the order given, each as
    * its own micro-batch under `maxFilesPerTrigger=1`. Existing files
    * keep their mtimes: a staging that deliberately ordered its chunks
    * is not disturbed. The batches are written through one `graft_drain`
    * scratch dir, deleted before this returns.
    *
    * Uses: day-range chunks replayed in (or deliberately out of)
    * event-time order, the upsert stream's originals-then-revisions,
    * the two-tier dedup's corpus / watermark advancer / late
    * re-arrivals — and the watermark-drain sentinel batches below.
    *
    * Why stateful drains need TWO sentinel batches (the one-batch
    * watermark lag): the watermark computed from batch N's max event
    * time only takes effect in batch N+1. The first far-future sentinel
    * batch ADVANCES the watermark; the second runs the eviction/emit
    * pass under it — with a single batch the last `watermark + range`
    * of state never flushes. Operators that drain on event-time
    * TIMEOUTS ([[sessionizeRetained]]) need only one batch: AvailableNow
    * executes a trailing no-data batch after its last file, which fires
    * timeouts under the advanced watermark.
    *
    * The sentinel rows re-emerge from stateless/outer operators: remove
    * them with [[drainTail]] on the SINK table, never with a filter
    * inside the streaming plan — a plan-side predicate pushes BELOW the
    * watermark operator, hides the sentinel from that input's watermark,
    * and freezes the global (min) watermark at the real data's horizon,
    * so the tail never flushes. */
  def stageDrainBatches(inDir: String,
                        batches: Seq[DataFrame]): Unit = {
    val dir = new java.io.File(inDir)
    dir.mkdirs()
    val existing = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val base = if (existing.isEmpty) System.currentTimeMillis()
               else existing.map(_.lastModified()).max
    val scratch = java.nio.file.Files.createTempDirectory("graft_drain")
    try batches.zipWithIndex.foreach { case (b, i) =>
      val out = scratch.resolve(s"b$i").toFile
      b.coalesce(1).write.parquet(out.toString)
      val part = out.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = new java.io.File(dir, s"drain${i}_${part.getName}")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(base + (i + 1) * 10000L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
  }

  /** Batch-side sentinel removal after an AvailableNow drain: keeps
    * every sink row where `sentinel` is not true (null-safe — an outer
    * join's null right columns make a right-side sentinel predicate
    * null, which must KEEP the row). MUST run on the sink table, not in
    * the streaming plan — see [[stageDrainBatches]] for the
    * watermark-freeze pin this encodes. */
  def drainTail(sink: DataFrame, sentinel: Column): DataFrame =
    sink.filter(coalesce(!sentinel, lit(true)))

  /** Bounded run of a PROCESSING-TIME-TIMEOUT streaming transform over
    * a static directory (noop sink): such queries never self-terminate
    * under AvailableNow — the engine schedules no-data batches forever
    * to fire future timeouts (see [[nearDupCandidatesStream]]'s
    * caution) — so this polls progress until `expectDataBatches` input
    * batches plus at least one no-data batch (the post-input eviction
    * pass) have run, then STOPS the query. Progress is accumulated per
    * batchId during the poll because the no-data-batch flood evicts
    * early entries from the bounded `recentProgress` ring.
    *
    * A short drain fails loudly: if the query terminates on its own
    * before `expectDataBatches` data batches, or the poll outlives
    * [[BoundedDrainTimeoutMs]], this stops the query and throws an
    * IllegalStateException naming it and the batch counts it saw.
    *
    * Returns (numInputRows, stateRows) per observed batch in batchId
    * order — the state-growth measurement surface the eviction spec
    * reads. */
  def runBoundedWithTimeouts(transformed: DataFrame, checkpoint: String,
                             expectDataBatches: Int,
                             statePartitions: Option[Int] = None)
      : Seq[(Long, Long)] = {
    val byBatch = scala.collection.mutable.SortedMap.empty[Long, (Long, Long)]
    val q = withStatePartitions(transformed.sparkSession, statePartitions) {
      transformed.writeStream
        .format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    def snapshot(): Unit = q.recentProgress.foreach { p =>
      if (p.stateOperators.nonEmpty)
        byBatch(p.batchId) =
          (p.numInputRows, p.stateOperators(0).numRowsTotal)
    }
    def dataBatches = byBatch.valuesIterator.count(_._1 > 0)
    val deadline = System.currentTimeMillis() + BoundedDrainTimeoutMs
    var terminated = false
    var stopped = false
    while (!terminated && !stopped &&
           System.currentTimeMillis() < deadline) {
      terminated = q.awaitTermination(250)
      snapshot()
      if (!terminated && dataBatches >= expectDataBatches &&
          byBatch.valuesIterator.exists(_._1 == 0)) {
        q.stop(); q.awaitTermination(); snapshot(); stopped = true
      }
    }
    if (q.isActive) { q.stop(); q.awaitTermination() }
    if (!stopped && (!terminated || dataBatches < expectDataBatches)) {
      val why =
        if (terminated) "terminated before its expected data batches"
        else s"did not finish within $BoundedDrainTimeoutMs ms"
      throw new IllegalStateException(
        s"runBoundedWithTimeouts: query ${Option(q.name).getOrElse(q.id)} " +
          s"$why: saw $dataBatches of $expectDataBatches data batches " +
          s"(${byBatch.size} batches in all, checkpoint $checkpoint)")
    }
    byBatch.values.toSeq
  }

  /** How long [[runBoundedWithTimeouts]] polls before it fails. */
  private val BoundedDrainTimeoutMs = 180000L

  /** Run a streaming transform over a static directory incrementally and
    * collect the result into a memory table (AvailableNow: process what
    * exists, then stop — the reference's batch jobs become restartable
    * incremental jobs with checkpointed progress). */
  def runAvailableNow(transformed: DataFrame, queryName: String,
                      checkpoint: String,
                      outputMode: OutputMode = OutputMode.Append(),
                      statePartitions: Option[Int] = None): DataFrame = {
    val q = withStatePartitions(transformed.sparkSession, statePartitions) {
      transformed.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    Drain.availableNow(q, checkpoint)
    transformed.sparkSession.table(queryName)
  }

  /** Pin the streaming STATE partition count for one query start.
    *
    * A stateful streaming query fixes its state-store partition count
    * from `spark.sql.shuffle.partitions` at FIRST-batch time and keeps
    * it for the checkpoint's lifetime; every micro-batch then commits
    * one delta file per partition per state store (a stream-stream
    * join carries four stores per partition). For the bounded
    * staged-directory drains this harness runs, that per-partition
    * commit fan-out IS the wall clock — r15 measured
    * s_stream_join_outer at 9.3 s with 32 state partitions and 3.8 s
    * with 8, same plan, same results — so callers draining a
    * test-scale directory pass a small explicit count. `None` (the
    * default) inherits the session's shuffle partitions untouched:
    * a PRODUCTION stream on a cluster wants state sharded cluster-wide
    * (hundreds of partitions), and this helper must never silently
    * shrink it. The conf flip only covers `start()` — the stream
    * execution thread clones the session state at construction, so
    * restoring the session conf immediately afterwards cannot leak
    * into (or out of) the running query. The flip is serialized per
    * session (r15 ADVICE): `spark.sql.shuffle.partitions` is shared
    * session state, so without the lock a query planned/started
    * concurrently on the SAME session during the window would inherit
    * the pinned harness count (or clobber the restore). Concurrent
    * pinned starts on the same session are correct under the lock;
    * callers that also PLAN unrelated queries concurrently on that
    * session should pass a dedicated `spark.newSession()`, put through
    * [[graft.GraftSession.tune]]: a new session starts with Spark's
    * per-session artifact isolation on, so without tune it gets its own
    * class loader again, and every drain in it recompiles the generated
    * classes (see GraftSession). */
  private def withStatePartitions[T](spark: SparkSession,
                                     n: Option[Int])(start: => T): T =
    n match {
      case None => start
      case Some(parts) => spark.synchronized {
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, parts.toString)
        try start finally spark.conf.set(key, prev)
      }
    }
}
