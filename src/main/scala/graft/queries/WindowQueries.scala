package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

import Fixtures._

/** Window and sequence queries (prefix w): fills, ranks, rolling and
  * time-weighted measures, sessions, funnels, survival and change points. */
object WindowQueries {

  /** Shared w21/w33 survival subjects: per user, micro-epoch duration
    * from first event to first purchase (observed) or to the corpus
    * end (right-censored). */
  /** Competing-risks subjects for w35: each user's FIRST purchase
    * (cause 1) vs FIRST error (cause 2) compete; whichever strikes
    * first is the outcome (tie → purchase, deterministic), neither →
    * censored (cause 0) at corpus end. */
  private def competingSubjects(s: SparkSession,
                                dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def us(c: Column) = unix_micros(c.cast("timestamp_ltz"))
    val per = ev.groupBy(col("user_id")).agg(
      min(us(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", us(col("ts"))))
        .as("p_us"),
      min(when(col("event_type") === "error", us(col("ts"))))
        .as("e_us"))
    val cens = ev.agg(max(us(col("ts"))).as("end_us"))
    per.crossJoin(broadcast(cens))
      .select(
        when(col("p_us").isNotNull &&
            (col("e_us").isNull || col("p_us") <= col("e_us")),
          col("p_us") - col("first_us"))
          .when(col("e_us").isNotNull, col("e_us") - col("first_us"))
          .otherwise(col("end_us") - col("first_us")).as("dur"),
        when(col("p_us").isNotNull &&
            (col("e_us").isNull || col("p_us") <= col("e_us")), lit(1))
          .when(col("e_us").isNotNull, lit(2))
          .otherwise(lit(0)).as("cause"))
  }

  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def us(c: Column) = unix_micros(c.cast("timestamp_ltz"))
    val per = ev.groupBy(col("user_id")).agg(
      min(us(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", us(col("ts"))))
        .as("p_us"))
    val cens = ev.agg(max(us(col("ts"))).as("end_us"))
    per.crossJoin(broadcast(cens))
      .select(
        when(col("p_us").isNotNull, col("p_us") - col("first_us"))
          .otherwise(col("end_us") - col("first_us")).as("dur"),
        col("p_us").isNotNull.as("observed"),
        // even/odd user split — the w34 log-rank group label (extra
        // column is invisible to the w21/w33 estimators)
        (col("user_id") % 2 === 0).as("grp"))
  }

  /** Shared by w26_rate_limit and its streaming twin s_stream_rate —
    * the token bucket replayed step-exact: bucket starts FULL, refill
    * (Δt µs)·1e-10 exact decimal, capped at 2, debit 1 when ≥ 1. */
  private[queries] val RateLimitOracle: String =
    """WITH RECURSIVE v AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |e AS (
      |  SELECT user_id, event_id, rn, t,
      |    CAST(1 AS DECIMAL(18,6)) AS tok, TRUE AS adm
      |  FROM v WHERE rn = 1
      |  UNION ALL
      |  SELECT user_id, event_id, rn, t,
      |    CAST(CASE WHEN avail >= CAST(1 AS DECIMAL(18,6))
      |              THEN avail - CAST(1 AS DECIMAL(18,6))
      |              ELSE avail END AS DECIMAL(18,6)),
      |    avail >= CAST(1 AS DECIMAL(18,6))
      |  FROM (
      |    SELECT v.user_id, v.event_id, v.rn, v.t,
      |      least(CAST(2 AS DECIMAL(18,6)),
      |            e.tok + CAST(ROUND((v.t - e.t) *
      |              CAST(0.0000000001 AS DECIMAL(14,10)), 6)
      |              AS DECIMAL(18,6))) AS avail
      |    FROM v JOIN e ON v.user_id = e.user_id
      |      AND v.rn = e.rn + 1))
      |SELECT user_id, event_id, CAST(tok AS DOUBLE) AS tokens,
      |  adm AS admitted FROM e""".stripMargin

  /** w28's trailing-frame z-score replay (shared with its
    * streaming twin s_stream_zscore). */
  private[queries] val ZscoreOracle: String =
    """WITH v AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, v,
      |    COUNT(v) OVER fr AS n,
      |    SUM(v) OVER fr AS s1,
      |    SUM(CAST(ROUND(v * v, 6) AS DECIMAL(18,6))) OVER fr AS s2
      |  FROM v
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
      |m AS (
      |  SELECT user_id, event_id, v, n,
      |    ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean,
      |    ROUND(CAST(s2 AS DOUBLE) / n, 6) AS ev2
      |  FROM w),
      |s AS (
      |  SELECT *, sqrt(ROUND(greatest(CAST(0 AS DOUBLE),
      |    ev2 - mean * mean), 6)) AS std
      |  FROM m)
      |SELECT user_id, event_id, CAST(n AS BIGINT) AS n_window,
      |  CASE WHEN n >= 4 THEN mean END AS roll_mean,
      |  CASE WHEN n >= 4 THEN ROUND(std, 6) END AS roll_std,
      |  CASE WHEN n >= 4 AND std > 0
      |       THEN ROUND((CAST(v AS DOUBLE) - mean) / std, 6)
      |  END AS zscore,
      |  COALESCE(CASE WHEN n >= 4 AND std > 0
      |    THEN abs(ROUND((CAST(v AS DOUBLE) - mean) / std, 6))
      |         > CAST(3.0 AS DOUBLE) END, FALSE) AS anomaly
      |FROM s""".stripMargin

  /** w11's funnel roll-up replay (shared with the streaming twin
    * s_stream_funnel, whose post-stream aggregation produces the
    * identical shape). */
  private[queries] val FunnelOracle: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch(ts)) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t
      |  GROUP BY e.user_id),
      |c AS (SELECT (SELECT COUNT(*) FROM s1) AS c1,
      |             (SELECT COUNT(*) FROM s2) AS c2,
      |             (SELECT COUNT(*) FROM s3) AS c3)
      |SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage, c1 AS users,
      |  CASE WHEN c1 > 0 THEN ROUND(CAST(c1 AS DOUBLE) / c1, 6) END
      |    AS conversion FROM c
      |UNION ALL SELECT CAST(2 AS INT), 'click', c2,
      |  CASE WHEN c1 > 0 THEN ROUND(CAST(c2 AS DOUBLE) / c1, 6) END
      |  FROM c
      |UNION ALL SELECT CAST(3 AS INT), 'purchase', c3,
      |  CASE WHEN c1 > 0 THEN ROUND(CAST(c3 AS DOUBLE) / c1, 6) END
      |  FROM c""".stripMargin

  private[queries] val RollingMadOracle: String =
    """WITH v AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |fr AS (
        |  SELECT user_id, event_id, v,
        |    list_sort(list(v) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)) AS f
        |  FROM v),
        |md AS (
        |  SELECT user_id, event_id, v, f,
        |    f[(len(f) + 1) // 2] AS med
        |  FROM fr),
        |dv AS (
        |  SELECT user_id, event_id, v, med,
        |    list_sort(list_transform(f,
        |      x -> CAST(abs(x - med) AS DECIMAL(18,6)))) AS d
        |  FROM md)
        |SELECT user_id, event_id, CAST(v AS DOUBLE) AS value,
        |  CAST(med AS DOUBLE) AS med,
        |  CAST(d[(len(d) + 1) // 2] AS DOUBLE) AS mad,
        |  abs(v - med) > 3 * d[(len(d) + 1) // 2] AS is_anomaly
        |FROM dv""".stripMargin

  private[queries] val HoltOracle: String =
    """WITH RECURSIVE v AS (
      |  SELECT user_id, event_id,
      |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |e AS (
      |  SELECT user_id, event_id, rn, v AS l,
      |    CAST(0 AS DECIMAL(18,6)) AS b
      |  FROM v WHERE rn = 1
      |  UNION ALL
      |  SELECT user_id, event_id, rn, nl,
      |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * (nl - pl)
      |             + CAST(0.7 AS DECIMAL(10,8)) * pb, 6)
      |         AS DECIMAL(18,6))
      |  FROM (
      |    SELECT v.user_id, v.event_id, v.rn, e.l AS pl, e.b AS pb,
      |      CAST(ROUND(CAST(0.5 AS DECIMAL(10,8)) * v.v
      |               + CAST(0.5 AS DECIMAL(10,8)) * (e.l + e.b), 6)
      |           AS DECIMAL(18,6)) AS nl
      |    FROM v JOIN e ON v.user_id = e.user_id
      |      AND v.rn = e.rn + 1))
      |SELECT user_id, event_id, CAST(l AS DOUBLE) AS level,
      |  CAST(b AS DOUBLE) AS trend,
      |  CAST(l + b AS DOUBLE) AS forecast
      |FROM e""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- W8: ratio-to-report — each line's share of its group total
    // (decimal-exact denominator, one window over the group key) ----
    Query("w8_share", "ratio-to-report",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag"))
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"),
          round(col("l_extendedprice") /
            sum(col("l_extendedprice").cast("decimal(30,2)")).over(w)
              .cast("double"), 9).as("share"))
      },
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |  ROUND(l_extendedprice /
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)))
        |      OVER (PARTITION BY l_returnflag) AS DOUBLE), 9) AS share
        |FROM lineitem""".stripMargin),

    // ---- §2.5 rank family: rank/dense_rank/percent_rank over a real
    // tie-bearing ordering (users ranked by event count per type) plus
    // ntile over a unique ordering (ntile splits ties by row order, so
    // determinism requires the unique tiebreak) ----
    // ---- W6: hourly-grid resampling with LOCF — the reference's
    // "blocked dataset" goal (one row per patient-hour with the
    // latest observation carried forward), verified against DuckDB's
    // native ASOF LEFT JOIN over a generated grid. ----
    Query("w6_resample", "hourly-grid resampling with LOCF",
      (s, dir) => {
        val ev = WindowOps.dedupKeepLast(
          t(s, dir, "events").select(col("user_id"), col("ts"),
            col("value"), col("event_id")),
          keys = Seq("user_id", "ts"), orderBy = Seq(col("event_id")))
          .drop("event_id")
        WindowOps.resampleLocf(ev, Seq("user_id"), "ts", Seq("value"),
          stepSeconds = 3600)
      },
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND)) AS grid_ts
        |  FROM b)
        |SELECT g.user_id, g.grid_ts, e.value AS value
        |FROM grid g ASOF LEFT JOIN e
        |  ON g.user_id = e.user_id AND g.grid_ts >= e.ts""".stripMargin),

    Query("w5_rank", "rank, dense_rank, percent_rank and ntile per group",
      (s, dir) => {
        val counts = t(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val byN = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("n").desc)
        val uniq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("user_id"))
        counts.select(col("event_type"), col("user_id"), col("n"),
          rank().over(byN).cast("long").as("rnk"),
          dense_rank().over(byN).cast("long").as("drnk"),
          round(percent_rank().over(byN), 6).as("prnk"),
          ntile(4).over(uniq).cast("int").as("quartile"))
      },
      """SELECT event_type, user_id, n,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ROUND(percent_rank() OVER w, 6) AS prnk,
        |  CAST(ntile(4) OVER (PARTITION BY event_type
        |                      ORDER BY n DESC, user_id) AS INT) AS quartile
        |FROM (SELECT event_type, user_id, COUNT(*) AS n
        |      FROM events GROUP BY event_type, user_id)
        |WINDOW w AS (PARTITION BY event_type ORDER BY n DESC)""".stripMargin),

    // ---- W7: rolling features (trailing row-frame + trailing
    // time-range-frame means per user) — the per-hour/per-k-events
    // feature engineering of the reference's "blocked dataset" goal.
    // Both frames share one shuffle on the key. ----
    Query("w7_rolling", "rolling features (trailing row-frame + trailing",
      (s, dir) =>
        WindowOps.rollingMeans(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            col("ts"), col("value")),
          keys = Seq("user_id"), tsCol = "ts",
          tiebreak = Seq(col("event_id")), valueCol = "value",
          nRows = 4, rangeSeconds = 3600),
      """SELECT event_id, user_id, ts, value,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER wr AS DOUBLE)
        |        / COUNT(value) OVER wr, 6) AS roll_rows_avg,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER wt AS DOUBLE)
        |        / COUNT(value) OVER wt, 6) AS roll_time_avg
        |FROM events
        |WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |       wt AS (PARTITION BY user_id
        |              ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin),

    // ---- W9: time-weighted average per user — the clinically correct
    // mean for irregular sampling (LOCF step-function weighting);
    // lead window and final agg share one shuffle ----
    Query("w9_time_weighted", "time-weighted average per user",
      (s, dir) =>
        WindowOps.timeWeightedAvg(
          t(s, dir, "events").select(col("user_id"), col("ts"),
            col("event_id"), col("value")),
          keys = Seq("user_id"), tsCol = "ts",
          tiebreak = Seq(col("event_id")), valueCol = "value"),
      """WITH e AS (
        |  SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT user_id,
        |  CASE WHEN MAX(t) - MIN(t) > 0 THEN
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6)) * (nxt - t))
        |        AS DOUBLE) / (MAX(t) - MIN(t)), 6)
        |  ELSE NULL END AS twa,
        |  MAX(t) - MIN(t) AS span_seconds,
        |  COUNT(*) AS n_events
        |FROM e GROUP BY user_id""".stripMargin),

    Query("w1_fill_downup", "§2.5 W1 group-wise fill down-then-up (LOCF + backfill)",
      (s, dir) => {
        val e = t(s, dir, "events").withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        WindowOps.fillDownUp(e, Seq("user_id"), Seq(col("ts"), col("event_id")),
            Seq("v"))
          .select("event_id", "user_id", "v")
      },
      """WITH src AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |  COALESCE(
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v
        |FROM src""".stripMargin),

    Query("w2_lead_episodes", "§2.5 W2 group-wise lead (episode stop times)",
      (s, dir) =>
        WindowOps.leadEpisodes(t(s, dir, "events"), Seq("user_id"), "ts",
            "stop_ts", Seq(col("event_id")))
          .select("event_id", "user_id", "ts", "stop_ts"),
      """SELECT event_id, user_id, ts,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS stop_ts
        |FROM events""".stripMargin),

    Query("w3_interval_shift", "§2.5 W3 interval arithmetic",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            (col("ts") - expr("INTERVAL 1 HOUR")).as("ts_minus_1h")),
      "SELECT event_id, ts - INTERVAL 1 HOUR AS ts_minus_1h FROM events"),

    Query("w4_sessionize", "sessionization (gap-based episode grouping)",
      (s, dir) =>
        WindowOps.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
            gapSeconds = 1800, tiebreak = Seq(col("event_id")))
          .select(col("event_id"), col("user_id"),
            col("session_id").cast("long").as("session_id")),
      """SELECT event_id, user_id,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
        |       THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM (SELECT event_id, user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)""".stripMargin),

    // ---- W10: the BUILT-IN session_window next to the stateful
    // mapGroupsWithState sessionizer (s_stream_sessionize) — merge
    // semantics: an event merges iff it starts before the current
    // session's end (gap ≥ 30min splits); end = last event + gap ----
    Query("w10_session_window", "the BUILT-IN session_window next to the stateful",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("sw.start").as("session_start"),
            col("sw.end").as("session_end"), col("n_events")),
      // gaps-and-islands with the session_window merge rule: a gap of
      // EXACTLY the 1800s threshold splits (merge iff start < prev end);
      // session end = last event + gap
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '30 minutes' AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // ---- W11: ordered funnel conversion (view -> click -> purchase,
    // greedy earliest-match cascade per user) — ONE shuffle: per-user
    // sorted event arrays + codegen'd HOF cascade, not a join per
    // stage. ----
    Query("w11_funnel", "ordered funnel conversion (view -> click -> purchase,",
      (s, dir) =>
        Analytics.funnel(t(s, dir, "events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase")),
      // funnel: identical greedy cascade — stage i's time is the MIN
      // event time of that type at-or-after stage i-1's time; epoch()
      // keeps sub-second precision like Spark's double cast
      FunnelOracle),

    // ---- W12: cohort retention triangle — cohort = Monday week of the
    // user's first event, active_users per (cohort, week offset). The
    // cohort stamp rides a window over the user key (no join); one
    // final distinct-count agg. ----
    Query("w12_retention", "cohort retention triangle",
      (s, dir) =>
        Analytics.cohortRetention(t(s, dir, "events"), "user_id", "ts"),
      // retention: offsets are exact epoch multiples of 604800 (both
      // engines truncate weeks to Monday 00:00; UTC has no DST), so
      // DuckDB's rounding INT cast and Spark's truncating one agree
      """WITH c AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        |  FROM events GROUP BY user_id)
        |SELECT c.cohort AS cohort_week,
        |  CAST(datediff('day', c.cohort, date_trunc('week', e.ts))
        |       / 7 AS INT) AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS active_users
        |FROM events e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // ---- W16: EWMA per user over the event values — the per-key
    // recurrence no window frame expresses; one key exchange, sorted
    // collect_list + codegen'd HOF fold, every step rounded to 6 so a
    // recursive CTE replays the identical IEEE arithmetic. ----
    Query("w16_ewma", "EWMA per user over the event values",
      (s, dir) =>
        WindowOps.ewma(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", "value", alpha = 0.3),
      // the identical recurrence replayed sequentially: rn=1 seeds, each
      // next step joins the previous — EXACT decimal steps (one input
      // round on the double, then decimal state), engine-free
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

    // ---- W17: multi-touch attribution — every purchase credits its
    // same-user clicks in the 24h lookback: linear (1/n each) and
    // last-touch (latest click) in one result. COMPOSES the binned
    // rangeJoin (no all-pairs; per-user time-bin equi-join) with two
    // purchase-keyed windows sharing one exchange. ----
    Query("w17_attribution", "multi-touch attribution",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            (col("ts").cast("timestamp_ltz") -
              expr("INTERVAL 24 HOURS")).as("w_start"),
            col("ts").cast("timestamp_ltz").as("w_end"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        val j = Joins.rangeJoin(clicks, purchases, Seq("user_id"), "ts",
          "w_start", "w_end", binSeconds = 86400)
        val wP = org.apache.spark.sql.expressions.Window
          .partitionBy(col("purchase_id"))
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("purchase_id"))
          .orderBy(col("ts").desc, col("click_id").desc)
        j.withColumn("n", count(lit(1)).over(wP))
          .withColumn("rn", row_number().over(wOrd))
          .select(col("purchase_id"), col("click_id"),
            round(lit(1.0) / col("n"), 6).as("credit"),
            (col("rn") === 1).as("last_touch"))
      },
      // half-open lookback mirrors rangeJoin's [start, end) filter
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.purchase_id, c.click_id, c.ts
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts)
        |SELECT purchase_id, click_id,
        |  ROUND(CAST(1 AS DOUBLE) /
        |        COUNT(*) OVER (PARTITION BY purchase_id), 6) AS credit,
        |  (ROW_NUMBER() OVER (PARTITION BY purchase_id
        |     ORDER BY ts DESC, click_id DESC) = 1) AS last_touch
        |FROM j""".stripMargin),

    // ---- W37: restricted mean survival time — the single-number
    // KM summary on the w21 cohort: average event-free micros over
    // the first 7 days, exact decimal segment fold. ----
    Query("w37_rmst", "restricted mean survival time",
      (s, dir) =>
        Analytics.rmst(survivalSubjects(s, dir), "dur", "observed",
          tau = 604800000000L),
      // the w21 KM recursion + the τ-clipped segment fold: exact
      // decimal (1−S)·Δt products, rmst = τ − Σ, one frac division
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t, COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |steps AS (
        |  SELECT t, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, (SELECT nn FROM n) - before AS n_risk, d AS n_events,
        |    ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS factor,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM steps WHERE d > 0),
        |km AS (
        |  SELECT t, rn,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS s
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.t, e.rn,
        |    CAST(ROUND(km.s * CAST(e.factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6))
        |  FROM e JOIN km ON e.rn = km.rn + 1),
        |seg AS (
        |  SELECT s, t,
        |    LEAST(COALESCE(LEAD(t) OVER (ORDER BY t), 604800000000),
        |      604800000000) AS tn
        |  FROM km WHERE t <= 604800000000),
        |dd AS (SELECT COUNT(*) AS n_steps,
        |    CAST(COALESCE(SUM(
        |      (CAST(1 AS DECIMAL(18,6)) - s) * (tn - t)), 0)
        |      AS DECIMAL(38,6)) AS dropped
        |  FROM seg)
        |SELECT CAST(604800000000 AS BIGINT) AS tau, n_steps,
        |  CAST((CAST(604800000000 AS DECIMAL(38,6)) - dropped)
        |    * 1000000 AS BIGINT) AS rmst_micros,
        |  ROUND(CAST(CAST(604800000000 AS DECIMAL(38,6)) - dropped
        |      AS DOUBLE) / CAST(604800000000 AS DOUBLE), 6)
        |    AS rmst_frac
        |FROM dd""".stripMargin),

    // ---- W36: interval union — every event opens a 10-minute
    // activity interval; overlapping/touching intervals per user
    // flatten into maximal usage episodes (prefix-max, the
    // watertight form — lag(end) alone splits swallowed intervals).
    // ----
    Query("w36_interval_union", "interval union",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("ts").as("s0"),
            (col("ts") + expr("INTERVAL 10 MINUTES")).as("e0"))
        WindowOps.intervalUnion(ev, Seq("user_id"), "s0", "e0")
      },
      // prefix-max episode detection replayed on exact integer micros
      """WITH src AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS s,
        |    CAST(epoch_us(ts) AS BIGINT) + 600000000 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY user_id
        |        ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        IS NULL
        |      OR s > MAX(e) OVER (PARTITION BY user_id
        |        ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM src),
        |g AS (
        |  SELECT user_id, s, e,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS ep
        |  FROM f)
        |SELECT user_id, CAST(ep AS BIGINT) AS episode,
        |  MIN(s) AS episode_start,
        |  MAX(e) AS episode_end, COUNT(*) AS n_intervals
        |FROM g GROUP BY user_id, ep""".stripMargin),

    // ---- W23: hourly-grid resampling with LINEAR INTERPOLATION —
    // the smooth twin of w6's LOCF: each grid instant interpolates
    // between its bracketing observations (leading edge null,
    // trailing edge LOCF). The forward neighbor is asOfJoin on the
    // NEGATED µs axis — both directions reuse the single-exchange
    // union+LOCF plan. ----
    Query("w23_interp", "hourly-grid resampling with LINEAR INTERPOLATION —",
      (s, dir) => {
        val ev = WindowOps.dedupKeepLast(
          t(s, dir, "events").select(col("user_id"), col("ts"),
            col("value"), col("event_id")),
          keys = Seq("user_id", "ts"), orderBy = Seq(col("event_id")))
          .drop("event_id")
        WindowOps.resampleInterp(ev, Seq("user_id"), "ts", "value",
          stepSeconds = 3600)
      },
      // DuckDB's native ASOF in BOTH directions (>= backward, <= forward)
      // brackets each grid instant; identical interpolation expression
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b),
        |p AS (
        |  SELECT g.user_id, g.grid_ts, e.value AS pv,
        |    epoch_us(e.ts) AS pt
        |  FROM grid g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts >= e.ts),
        |nx AS (
        |  SELECT g.user_id, g.grid_ts, e.value AS nv,
        |    epoch_us(e.ts) AS nt
        |  FROM grid g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts <= e.ts)
        |SELECT p.user_id, p.grid_ts,
        |  CASE WHEN pt IS NULL THEN NULL
        |       WHEN nt IS NULL OR nt = pt THEN CAST(pv AS DOUBLE)
        |       ELSE ROUND(CAST(pv AS DOUBLE) +
        |         (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
        |         ((CAST(epoch_us(p.grid_ts) AS DOUBLE) -
        |           CAST(pt AS DOUBLE)) /
        |          (CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE))), 6)
        |  END AS interp_value
        |FROM p JOIN nx
        |  ON p.user_id = nx.user_id AND p.grid_ts = nx.grid_ts""".stripMargin),

    // ---- W22: RFM segmentation — per-user recency/frequency/
    // monetary scores 1-5 from exact percentile BOUNDARIES broadcast
    // back (a global ntile would be one all-users single-partition
    // sort — the scale bug this formulation avoids). ----
    Query("w22_rfm", "RFM segmentation",
      (s, dir) =>
        Analytics.rfmSegments(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase", "value"),
      // exact percentile bounds (quantile_cont) round-6 then compared —
      // the a8/a14 pairing; boundary ties take the lower score
      """WITH e AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |per AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_us,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p2 AS (
        |  SELECT user_id,
        |    CAST(floor((e.end_us - last_us) / 86400000000) AS BIGINT)
        |      AS recency_days,
        |    frequency, monetary
        |  FROM per, e),
        |b AS (
        |  SELECT
        |    ROUND(quantile_cont(recency_days, 0.2), 6) AS r20,
        |    ROUND(quantile_cont(recency_days, 0.4), 6) AS r40,
        |    ROUND(quantile_cont(recency_days, 0.6), 6) AS r60,
        |    ROUND(quantile_cont(recency_days, 0.8), 6) AS r80,
        |    ROUND(quantile_cont(frequency, 0.2), 6) AS f20,
        |    ROUND(quantile_cont(frequency, 0.4), 6) AS f40,
        |    ROUND(quantile_cont(frequency, 0.6), 6) AS f60,
        |    ROUND(quantile_cont(frequency, 0.8), 6) AS f80,
        |    ROUND(quantile_cont(monetary, 0.2), 6) AS m20,
        |    ROUND(quantile_cont(monetary, 0.4), 6) AS m40,
        |    ROUND(quantile_cont(monetary, 0.6), 6) AS m60,
        |    ROUND(quantile_cont(monetary, 0.8), 6) AS m80
        |  FROM p2),
        |s AS (
        |  SELECT user_id, recency_days, frequency, monetary,
        |    CAST(6 - (1 +
        |      CASE WHEN recency_days > r20 THEN 1 ELSE 0 END +
        |      CASE WHEN recency_days > r40 THEN 1 ELSE 0 END +
        |      CASE WHEN recency_days > r60 THEN 1 ELSE 0 END +
        |      CASE WHEN recency_days > r80 THEN 1 ELSE 0 END) AS INT)
        |      AS r_score,
        |    CAST(1 +
        |      CASE WHEN frequency > f20 THEN 1 ELSE 0 END +
        |      CASE WHEN frequency > f40 THEN 1 ELSE 0 END +
        |      CASE WHEN frequency > f60 THEN 1 ELSE 0 END +
        |      CASE WHEN frequency > f80 THEN 1 ELSE 0 END AS INT)
        |      AS f_score,
        |    CAST(1 +
        |      CASE WHEN monetary > m20 THEN 1 ELSE 0 END +
        |      CASE WHEN monetary > m40 THEN 1 ELSE 0 END +
        |      CASE WHEN monetary > m60 THEN 1 ELSE 0 END +
        |      CASE WHEN monetary > m80 THEN 1 ELSE 0 END AS INT)
        |      AS m_score
        |  FROM p2, b)
        |SELECT user_id, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM s""".stripMargin),

    // ---- W21: Kaplan–Meier survival — time from a user's first
    // event to first purchase, users who never purchase RIGHT-
    // CENSORED at corpus end (dropping them would bias survival
    // down). Product-limit recurrence in exact decimal (the ewma
    // discipline) over the curve-sized distinct-time table. ----
    Query("w21_survival", "Kaplan–Meier survival",
      (s, dir) =>
        Analytics.kaplanMeier(survivalSubjects(s, dir), "dur",
          "observed"),
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t, COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |steps AS (
        |  SELECT t, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, (SELECT nn FROM n) - before AS n_risk, d AS n_events,
        |    ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS factor,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM steps WHERE d > 0),
        |km AS (
        |  SELECT t, n_risk, n_events, rn,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS s
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.t, e.n_risk, e.n_events, e.rn,
        |    CAST(ROUND(km.s * CAST(e.factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6))
        |  FROM e JOIN km ON e.rn = km.rn + 1)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
        |  CAST(s AS DOUBLE) AS survival
        |FROM km""".stripMargin),

    // ---- W33: Nelson–Aalen cumulative hazard — K-M's additive
    // sibling over the SAME right-censored risk sets; increments sum
    // exactly (no fold recurrence), curve-sized windows. ----
    Query("w33_nelson_aalen", "Nelson–Aalen cumulative hazard",
      (s, dir) =>
        Analytics.nelsonAalen(survivalSubjects(s, dir), "dur",
          "observed"),
      // per-time risk sets from the cumulative window; the product-limit
      // curve replayed as a recursive decimal recurrence
      // same risk-set CTEs as w21 with a cumulative-sum hazard instead
      // of the recursive survival product
      """WITH per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t, COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |steps AS (
        |  SELECT t, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, CAST((SELECT nn FROM n) - before AS BIGINT)
        |    AS n_risk, d AS n_events
        |  FROM steps WHERE d > 0)
        |SELECT t, n_risk, n_events,
        |  CAST(SUM(CAST(ROUND(CAST(n_events AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE), 6) AS DECIMAL(18,6)))
        |    OVER (ORDER BY t) AS DOUBLE) AS hazard
        |FROM e""".stripMargin),

    // ---- W34: two-group log-rank test — even vs odd users on the
    // shared survival subjects; O exact, per-time E/V terms round-6
    // decimal-summed, one χ²(1) expression at the end. ----
    Query("w34_logrank", "two-group log-rank test",
      (s, dir) =>
        Analytics.logRankTest(survivalSubjects(s, dir), "dur",
          "observed", col("grp")),
      // hypergeometric E/V per event time from the two-group risk sets,
      // round-6 decimal term sums, one chi-square expression
      """WITH per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs,
        |    user_id % 2 = 0 AS grp
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t,
        |    COUNT(CASE WHEN obs AND grp THEN 1 END) AS d1,
        |    COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(CASE WHEN grp THEN 1 END) AS m1,
        |    COUNT(*) AS m
        |  FROM subj WHERE grp IS NOT NULL AND dur IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT SUM(m1) AS nn1, SUM(m) AS nn FROM perT),
        |steps AS (
        |  SELECT t, d1, d,
        |    CAST(tot.nn1 - COALESCE(SUM(m1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1,
        |    CAST(tot.nn - COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n,
        |    tot.nn1, tot.nn
        |  FROM perT, tot),
        |terms AS (
        |  SELECT nn1, nn, d1,
        |    CAST(ROUND(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS et,
        |    CAST(CASE WHEN n > 1 THEN ROUND(
        |      (CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ((CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
        |         / (CAST(n AS DOUBLE) - 1.0)), 6)
        |    ELSE 0 END AS DECIMAL(18,6)) AS vt
        |  FROM steps WHERE d > 0),
        |agg AS (
        |  SELECT CAST(MAX(nn1) AS BIGINT) AS n_a,
        |    CAST(MAX(nn) - MAX(nn1) AS BIGINT) AS n_b,
        |    CAST(SUM(d1) AS BIGINT) AS observed_a,
        |    CAST(SUM(et) AS DOUBLE) AS expected_a,
        |    CAST(SUM(vt) AS DOUBLE) AS variance
        |  FROM terms)
        |SELECT agg.*,
        |  CASE WHEN variance > 0 THEN
        |    ROUND((CAST(observed_a AS DOUBLE) - expected_a)
        |      * (CAST(observed_a AS DOUBLE) - expected_a)
        |      / variance, 6) END AS chi2
        |FROM agg""".stripMargin),

    // ---- W38: Cox proportional-hazards regression — the classic
    // clinical time-to-event model beside the logistic capstone,
    // trained IN-ENGINE by 3 unrolled partial-likelihood gradient
    // steps (Breslow ties). Subjects: time to first purchase (else
    // censor at the last event); covariates: centered mean value
    // (/100 keeps z bounded) and ln(1 + n_events). β ships as exact
    // micros; the WHOLE training walk replays in SQL (suffix-window
    // risk sets, half-away integer steps). ----
    Query("w38_cox", "Cox proportional-hazards regression",
      (s, dir) => {
        val ev = t(s, dir, "events")
        def us(c: Column) = unix_micros(c.cast("timestamp_ltz"))
        val per = ev.groupBy(col("user_id")).agg(
          min(us(col("ts"))).as("first_us"),
          min(when(col("event_type") === "purchase", us(col("ts"))))
            .as("p_us"),
          count(lit(1)).as("n_ev"),
          sum(col("value").cast("decimal(18,6)")).as("sv"))
        val cens = ev.agg(max(us(col("ts"))).as("end_us"))
        val subj = per.crossJoin(broadcast(cens)).select(
          when(col("p_us").isNotNull, col("p_us") - col("first_us"))
            .otherwise(col("end_us") - col("first_us")).as("dur"),
          col("p_us").isNotNull.as("observed"),
          round(col("sv").cast("double") / col("n_ev") / 100.0, 6)
            .as("val_c"),
          round(log(lit(1.0) + col("n_ev")), 6).as("log_n"))
        Analytics.coxPartialGd(subj, "dur", "observed",
          Seq("val_c", "log_n"), iters = 3)
      },
      // Cox partial-likelihood GD, all 3 steps + the final risk pass
      // unrolled and generated by the same loop shape the engine runs:
      // suffix-window risk-set sums (exact DECIMAL of round-6 terms),
      // one round-6 double division per event time, half-away HUGEINT
      // β steps with lr = 0.05/n_events
      {
        def zExpr(b: String) =
          s"ROUND(x0 * (CAST($b.bm0 AS DOUBLE) / 1000000.0) + " +
            s"x1 * (CAST($b.bm1 AS DOUBLE) / 1000000.0), 6)"
        def riskPass(k: Int, b: String) =
          s"""w$k AS MATERIALIZED (
             |  SELECT dur, e, x0, x1, ${zExpr(b)} AS z,
             |    ROUND(exp(${zExpr(b)}), 6) AS w
             |  FROM sub, $b),
             |per$k AS MATERIALIZED (
             |  SELECT dur,
             |    CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS dt,
             |    SUM(CAST(w AS DECIMAL(18,6))) AS sw,
             |    SUM(CAST(CASE WHEN e THEN z ELSE 0.0 END
             |      AS DECIMAL(28,6))) AS sz,
             |    SUM(CAST(CASE WHEN e THEN x0 ELSE 0.0 END
             |      AS DECIMAL(28,6))) AS sx0,
             |    SUM(CAST(ROUND(w * x0, 6) AS DECIMAL(28,6))) AS st0,
             |    SUM(CAST(CASE WHEN e THEN x1 ELSE 0.0 END
             |      AS DECIMAL(28,6))) AS sx1,
             |    SUM(CAST(ROUND(w * x1, 6) AS DECIMAL(28,6))) AS st1
             |  FROM w$k GROUP BY dur),
             |sfx$k AS MATERIALIZED (
             |  SELECT dur, dt, sz, sx0, sx1,
             |    SUM(sw)  OVER sfx AS s0,
             |    SUM(st0) OVER sfx AS s10,
             |    SUM(st1) OVER sfx AS s11
             |  FROM per$k
             |  WINDOW sfx AS (ORDER BY dur DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
            .stripMargin
        def ratioTerm(s1: String) =
          s"SUM(CAST(ROUND(CAST(dt AS DOUBLE) * ROUND(CAST($s1 AS " +
            s"DOUBLE) / CAST(s0 AS DOUBLE), 6), 6) AS DECIMAL(28,6)))"
        def step(g: String) = {
          val gu = s"CAST($g * 1000000 AS HUGEINT)"
          val d = "CAST(20 * ne AS HUGEINT)"
          s"CASE WHEN $gu >= 0 THEN (2 * $gu + $d) // (2 * $d) " +
            s"ELSE -((2 * (-$gu) + $d) // (2 * $d)) END"
        }
        def gdStep(k: Int) =
          s"""g$k AS (
             |  SELECT CAST(SUM(dt) AS BIGINT) AS ne,
             |    SUM(sx0) - ${ratioTerm("s10")} AS g0,
             |    SUM(sx1) - ${ratioTerm("s11")} AS g1
             |  FROM sfx$k WHERE dt > 0),
             |b$k AS (
             |  SELECT bm0 + ${step("g0")} AS bm0,
             |    bm1 + ${step("g1")} AS bm1
             |  FROM b${k - 1}, g$k)""".stripMargin
        val iters = (1 to 3).map(k =>
          riskPass(k, s"b${k - 1}") + ",\n" + gdStep(k)).mkString(",\n")
        s"""WITH per AS MATERIALIZED (
           |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
           |    MIN(CASE WHEN event_type = 'purchase'
           |             THEN epoch_us(ts) END) AS p_us,
           |    COUNT(*) AS n_ev,
           |    SUM(CAST(value AS DECIMAL(18,6))) AS sv
           |  FROM events GROUP BY 1),
           |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
           |sub AS MATERIALIZED (
           |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
           |              ELSE end_us - first_us END AS dur,
           |    p_us IS NOT NULL AS e,
           |    ROUND(CAST(sv AS DOUBLE) / n_ev / 100.0, 6) AS x0,
           |    ROUND(ln(1.0 + n_ev), 6) AS x1
           |  FROM per, cns),
           |b0 AS (SELECT CAST(0 AS HUGEINT) AS bm0,
           |  CAST(0 AS HUGEINT) AS bm1),
           |$iters,
           |${riskPass(4, "b3")},
           |ll AS (
           |  SELECT CAST(SUM(dt) AS BIGINT) AS n_events,
           |    SUM(sz) - SUM(CAST(ROUND(CAST(dt AS DOUBLE) *
           |      ROUND(ln(CAST(s0 AS DOUBLE)), 6), 6)
           |      AS DECIMAL(28,6))) AS llv
           |  FROM sfx4 WHERE dt > 0)
           |SELECT (SELECT COUNT(*) FROM sub) AS n_subjects, ll.n_events,
           |  CAST(b3.bm0 AS BIGINT) AS b_val_c_micros,
           |  CAST(b3.bm1 AS BIGINT) AS b_log_n_micros,
           |  ROUND(CAST(ll.llv AS DOUBLE), 6) AS loglik
           |FROM ll, b3""".stripMargin
      }),

    // ---- W35: Aalen–Johansen cumulative incidence under competing
    // risks — purchase (cause 1) vs error (cause 2) compete for each
    // user's first outcome; 1−KM on either alone would overstate it.
    // Both curves off one subjects frame; the recursion replayed
    // exactly by the oracle. ----
    Query("w35_cum_incidence", "Aalen–Johansen cumulative incidence under competing",
      (s, dir) => {
        val subj = competingSubjects(s, dir)
        Analytics.cumulativeIncidence(subj, "dur", "cause", 1)
          .withColumn("cause", lit(1))
          .unionByName(
            Analytics.cumulativeIncidence(subj, "dur", "cause", 2)
              .withColumn("cause", lit(2)))
      },
      // the Aalen–Johansen recursion replayed: all-cause KM state S
      // and both CIF prefix sums carried through one RECURSIVE walk of
      // the rn-ordered curve, every product/increment on the 6-dp grid
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us,
        |    MIN(CASE WHEN event_type = 'error'
        |             THEN epoch_us(ts) END) AS e_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE
        |      WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us)
        |        THEN p_us - first_us
        |      WHEN e_us IS NOT NULL THEN e_us - first_us
        |      ELSE end_us - first_us END AS dur,
        |    CASE
        |      WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us)
        |        THEN 1
        |      WHEN e_us IS NOT NULL THEN 2
        |      ELSE 0 END AS cause
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t,
        |    COUNT(CASE WHEN cause = 1 THEN 1 END) AS d1,
        |    COUNT(CASE WHEN cause = 2 THEN 1 END) AS d2,
        |    COUNT(CASE WHEN cause <> 0 THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |st AS (
        |  SELECT t, d1, d2, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, (SELECT nn FROM n) - before AS n_risk, d1, d2, d,
        |    ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS factor,
        |    ROUND(CAST(d1 AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS h1,
        |    ROUND(CAST(d2 AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS h2,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM st WHERE d > 0),
        |aj AS (
        |  SELECT t, n_risk, d1, d2, d, rn,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS s,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(h1 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS cif1,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(h2 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS cif2
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.t, e.n_risk, e.d1, e.d2, e.d, e.rn,
        |    CAST(ROUND(aj.s * CAST(e.factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)),
        |    CAST(aj.cif1 +
        |         ROUND(aj.s * CAST(e.h1 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)),
        |    CAST(aj.cif2 +
        |         ROUND(aj.s * CAST(e.h2 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6))
        |  FROM e JOIN aj ON e.rn = aj.rn + 1)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  d1 AS n_events_cause, d AS n_events_all,
        |  CAST(cif1 AS DOUBLE) AS cif, 1 AS cause
        |FROM aj
        |UNION ALL
        |SELECT t, CAST(n_risk AS BIGINT), d2, d,
        |  CAST(cif2 AS DOUBLE), 2
        |FROM aj""".stripMargin),

    // ---- W19: event debounce — drop events arriving within 10 min
    // of the PREVIOUS raw event of the same (user, type): the
    // double-fire/sensor-chatter filter. One lag window; the
    // gap-from-previous-KEPT variant is a recurrence (cusum/ewma
    // territory), this is the standard windowable form. Exact
    // integer µs comparison on both engines. ----
    Query("w19_debounce", "event debounce",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("__prev", lag(col("ts"), 1).over(w))
          .filter(col("__prev").isNull ||
            (unix_micros(col("ts").cast("timestamp_ltz")) -
              unix_micros(col("__prev").cast("timestamp_ltz"))) >=
              600000000L)
          .select("event_id", "user_id", "event_type", "ts")
      },
      """SELECT event_id, user_id, event_type, ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL
        |   OR epoch_us(ts) - epoch_us(prev) >= 600000000""".stripMargin),

    // ---- W20: one-sided CUSUM change detection per user — the
    // sequential drift detector (Page 1954): s = max(0, s + x − 60),
    // alarm above 300. Exact-decimal recurrence (the ewma pattern),
    // replayed bit-for-bit by a recursive CTE. ----
    Query("w20_cusum", "one-sided CUSUM change detection per user",
      (s, dir) =>
        WindowOps.cusum(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", "value", target = 50.0, slack = 10.0,
          threshold = 300.0),
      // seed s_1 = max(0, 0 + v - 60); each step joins the previous —
      // pure decimal arithmetic, engine-free
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

    // ---- W24: per-user value-sequence autocorrelation at lags 1..3 —
    // the persistence/seasonality screen; ONE key exchange (mean,
    // deviations and all three leads share a single window), exact
    // decimal accumulation so the sums are order-free. ----
    Query("w24_acf", "per-user value-sequence autocorrelation at lags 1..3 —",
      (s, dir) =>
        Analytics.acf(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", "value", maxLag = 3),
      // mean = double division of the exact decimal sum; products
      // rounded to 6 and decimal-accumulated — order-free both engines
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id, v,
        |    CAST(ROUND(CAST(SUM(v) OVER (PARTITION BY user_id)
        |                    AS DOUBLE) /
        |               COUNT(*) OVER (PARTITION BY user_id), 6)
        |         AS DECIMAL(18,6)) AS mean
        |  FROM v),
        |d AS (SELECT user_id, ts, event_id, v - mean AS d FROM m),
        |l AS (
        |  SELECT user_id, d,
        |    lead(d, 1) OVER w AS d1,
        |    lead(d, 2) OVER w AS d2,
        |    lead(d, 3) OVER w AS d3
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id,
        |    SUM(CAST(ROUND(d * d, 6) AS DECIMAL(18,6))) AS den,
        |    SUM(CAST(ROUND(d * d1, 6) AS DECIMAL(18,6))) AS n1,
        |    CAST(COUNT(d1) AS BIGINT) AS c1,
        |    SUM(CAST(ROUND(d * d2, 6) AS DECIMAL(18,6))) AS n2,
        |    CAST(COUNT(d2) AS BIGINT) AS c2,
        |    SUM(CAST(ROUND(d * d3, 6) AS DECIMAL(18,6))) AS n3,
        |    CAST(COUNT(d3) AS BIGINT) AS c3
        |  FROM l GROUP BY 1)
        |SELECT user_id, 1 AS lag, c1 AS n_pairs,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE ROUND(CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |  END AS acf FROM g
        |UNION ALL
        |SELECT user_id, 2, c2,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE ROUND(CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |  END FROM g
        |UNION ALL
        |SELECT user_id, 3, c3,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE ROUND(CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |  END FROM g""".stripMargin),

    // ---- W25: Markov stationary distribution of the event-type chain
    // — two rounds of power iteration from uniform over the w15
    // transition matrix; everything after the one ordered-window
    // exchange is state-cardinality-sized, π broadcast per round;
    // loop-carried state pinned the e_kmeans way (oracle unrolls both
    // rounds). ----
    Query("w25_markov", "Markov stationary distribution of the event-type chain",
      (s, dir) =>
        Analytics.markovStationary(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", iters = 2),
      // both power-iteration rounds unrolled; every π·p product rounded
      // to 6, decimal-accumulated, each round's π re-cast to (18,6)
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS dst
        |  FROM events),
        |tr AS (SELECT src, dst, COUNT(*) AS c FROM seq
        |       WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(c) AS n FROM tr GROUP BY 1),
        |p AS (
        |  SELECT tr.src, tr.dst,
        |    CAST(ROUND(CAST(tr.c AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS p
        |  FROM tr JOIN tot ON tot.src = tr.src),
        |states AS (SELECT DISTINCT src AS state FROM tr
        |           UNION SELECT DISTINCT dst FROM tr),
        |k AS (SELECT COUNT(*) AS k FROM states),
        |pi0 AS (
        |  SELECT state,
        |    CAST(ROUND(CAST(1 AS DOUBLE) / CAST(k AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS pi
        |  FROM states, k),
        |pi1 AS (
        |  SELECT p.dst AS state,
        |    CAST(SUM(CAST(ROUND(pi0.pi * p.p, 6) AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6)) AS pi
        |  FROM p JOIN pi0 ON p.src = pi0.state GROUP BY 1),
        |pi2 AS (
        |  SELECT p.dst AS state,
        |    CAST(SUM(CAST(ROUND(pi1.pi * p.p, 6) AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6)) AS pi
        |  FROM p JOIN pi1 ON p.src = pi1.state GROUP BY 1)
        |SELECT state, CAST(pi AS DOUBLE) AS pi FROM pi2""".stripMargin),

    // ---- W26: token-bucket rate limiting replayed over history —
    // capacity 2, refill 1/10000s: the admission-control audit as a
    // batch recurrence (ewma/cusum chassis), bit-replayable by a
    // recursive CTE and bit-equal to its streaming twin. ----
    Query("w26_rate_limit", "token-bucket rate limiting replayed over history —",
      (s, dir) =>
        WindowOps.rateLimit(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", capacity = 2, refillPerSec = 0.0001),
      // token bucket replayed: bucket starts FULL (first event admits,
      // cap-1 left); each step refills (Δt µs)·1e-10, capped at 2,
      // debits 1 when >= 1 — all exact decimal
      RateLimitOracle),

    // ---- W28: rolling z-score anomalies — each event scored against
    // its own trailing-10 window (frame excludes the current row);
    // count/Σv/Σv² share one key exchange; exact-decimal sums, clamped
    // variance, IEEE sqrt. ----
    Query("w28_roll_zscore", "rolling z-score anomalies",
      (s, dir) =>
        WindowOps.rollingZscore(t(s, dir, "events"), Seq("user_id"),
            "ts", "event_id", "value", lookback = 10, zThreshold = 3.0)
          .select(col("user_id"), col("event_id"), col("n_window"),
            col("roll_mean"), col("roll_std"), col("zscore"),
            col("anomaly")),
      // trailing-frame stats excluding the current row; clamped
      // variance, unrounded std inside z, rounded std in the output
      ZscoreOracle),

    // ---- W29: top session paths — the Sankey/user-journey table;
    // sessionize's one user exchange reused by the per-session path
    // agg, then a path-keyed count into TakeOrdered. ----
    Query("w29_top_paths", "top session paths",
      (s, dir) =>
        Analytics.topSessionPaths(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", gapSeconds = 1800, k = 20),
      // sessionize CTE (the w4 oracle) + ordered string_agg per
      // session + path count
      """WITH s AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR epoch(ts) - epoch(prev_ts) > 1800
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (SELECT event_id, user_id, ts, event_type,
        |          lag(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path
        |LIMIT 20""".stripMargin),

    // ---- W27: Holt linear-trend smoothing — level + trend carried
    // per user, one-step-ahead forecast per event; the two-variable
    // recurrence on the same one-exchange HOF chassis, bit-replayed
    // by a recursive CTE. ----
    Query("w27_holt", "Holt linear-trend smoothing",
      (s, dir) =>
        WindowOps.holt(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", "value", alpha = 0.5, beta = 0.3),
      // Holt recurrence: l=α·x+(1−α)(l₀+b₀), b=β(l−l₀)+(1−β)b₀, init
      // (x₁, 0); the new level is computed in the subquery so the
      // trend step reuses it — every assignment rounded once to 6
      HoltOracle),

    // ---- W32: best changepoint per user (one binary-segmentation
    // step): split minimizing two-segment SSE from prefix sums — one
    // pass, one key exchange, argmin rank on the same exchange. ----
    Query("w32_changepoint", "best changepoint per user (one binary-segmentation",
      (s, dir) =>
        WindowOps.bestChangepoint(t(s, dir, "events"), Seq("user_id"),
          "ts", "event_id", "value", minSeg = 5),
      // prefix-sum SSE replay, same fixed-order double cost formula
      """WITH v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |p AS (
        |  SELECT user_id, event_id, i,
        |    SUM(v) OVER (PARTITION BY user_id ORDER BY i) AS s,
        |    SUM(CAST(v * v AS DECIMAL(38,12)))
        |      OVER (PARTITION BY user_id ORDER BY i) AS q,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n,
        |    SUM(v) OVER (PARTITION BY user_id) AS st,
        |    SUM(CAST(v * v AS DECIMAL(38,12)))
        |      OVER (PARTITION BY user_id) AS qt
        |  FROM v),
        |c AS (
        |  SELECT user_id, event_id, i, n,
        |    ROUND((CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(i AS DOUBLE))
        |      + ((CAST(qt AS DOUBLE) - CAST(q AS DOUBLE))
        |        - (CAST(st AS DOUBLE) - CAST(s AS DOUBLE))
        |          * (CAST(st AS DOUBLE) - CAST(s AS DOUBLE))
        |          / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))), 6) AS cost,
        |    ROUND(CAST(qt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |        / CAST(n AS DOUBLE), 6) AS sse
        |  FROM p
        |  WHERE n >= 10 AND i >= 5 AND i <= n - 5),
        |r AS (
        |  SELECT user_id, i, event_id, cost, sse,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY cost, i) AS rn
        |  FROM c)
        |SELECT user_id, CAST(i AS BIGINT) AS split_idx,
        |  event_id AS split_id, ROUND(sse - cost, 6) AS gain
        |FROM r WHERE rn = 1""".stripMargin),

    // ---- W31: rolling robust anomaly — per user, each value judged
    // vs the LOWER median and MAD of its trailing 25-row frame (all-
    // decimal, no interpolation, nothing to round differently); one
    // key exchange, frame array bounded by construction. ----
    Query("w31_rolling_mad", "rolling robust anomaly",
      (s, dir) =>
        WindowOps.rollingMadAnomaly(t(s, dir, "events"), Seq("user_id"),
          "ts", "event_id", "value", lookback = 25, k = 3),
      // lower-median/MAD replay over the same sorted decimal frames
      RollingMadOracle),

    // ---- W30: seasonal-adjusted Holt — hour-of-day offsets (the
    // a27 statistic) subtracted before the w27 recurrence and added
    // back into the fitted value; the fold state stays two decimals
    // per key, no seasonal array in the recurrence. ----
    Query("w30_holt_seasonal", "seasonal-adjusted Holt",
      (s, dir) =>
        WindowOps.holtSeasonal(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", "value", alpha = 0.5, beta = 0.3),
      // w27's recursive replay with the hour-of-day offsets subtracted
      // first and re-attached at the end; same decimal chain
      """WITH RECURSIVE vh AS (
        |  SELECT user_id, event_id, EXTRACT(hour FROM ts) AS h,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |off AS (
        |  SELECT user_id, h,
        |    SUM(CAST(vd * 1000000 AS BIGINT)) AS sv6, COUNT(*) AS cv
        |  FROM vh GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, SUM(sv6) AS st6, SUM(cv) AS ct
        |  FROM off GROUP BY 1),
        |sx AS (
        |  SELECT user_id, h,
        |    CAST(ROUND(CAST(CASE WHEN n < 0
        |             THEN -((2 * (-n) + d) // (2 * d))
        |             ELSE (2 * n + d) // (2 * d) END AS DOUBLE)
        |           / 1000000.0, 6) AS DECIMAL(18,6)) AS s
        |  FROM (
        |    SELECT off.user_id, off.h,
        |      CAST(sv6 AS HUGEINT) * ct - CAST(tot.st6 AS HUGEINT) * cv
        |        AS n,
        |      CAST(cv AS HUGEINT) * ct AS d
        |    FROM off JOIN tot ON tot.user_id = off.user_id)),
        |v AS (
        |  SELECT vh.user_id, vh.event_id, vh.rn, sx.s,
        |    CAST(ROUND(CAST(vh.vd - sx.s AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS v
        |  FROM vh JOIN sx ON sx.user_id = vh.user_id AND sx.h = vh.h),
        |e AS (
        |  SELECT user_id, event_id, rn, s, v AS l,
        |    CAST(0 AS DECIMAL(18,6)) AS b
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT user_id, event_id, rn, s, nl,
        |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * (nl - pl)
        |             + CAST(0.7 AS DECIMAL(10,8)) * pb, 6)
        |         AS DECIMAL(18,6))
        |  FROM (
        |    SELECT v.user_id, v.event_id, v.rn, v.s, e.l AS pl,
        |      e.b AS pb,
        |      CAST(ROUND(CAST(0.5 AS DECIMAL(10,8)) * v.v
        |               + CAST(0.5 AS DECIMAL(10,8)) * (e.l + e.b), 6)
        |           AS DECIMAL(18,6)) AS nl
        |    FROM v JOIN e ON v.user_id = e.user_id
        |      AND v.rn = e.rn + 1))
        |SELECT user_id, event_id, CAST(l AS DOUBLE) AS level,
        |  CAST(b AS DOUBLE) AS trend, CAST(s AS DOUBLE) AS seasonal,
        |  ROUND(CAST(l + b AS DOUBLE) + CAST(s AS DOUBLE), 6) AS fitted
        |FROM e""".stripMargin),

    // ---- W18: market-basket association rules — pair
    // support/confidence/lift over order baskets (parts per order),
    // min-support cut BEFORE rule expansion; item supports and the
    // basket total broadcast into the rule join. ----
    Query("w18_assoc_rules", "market-basket association rules",
      (s, dir) =>
        Analytics.associationRules(t(s, dir, "lineitem"), "l_orderkey",
          "l_partkey", minPairSupport = 3),
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |supp AS (SELECT i, COUNT(*) AS s FROM it GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT b) AS nb FROM it),
        |p AS (
        |  SELECT a.i AS x, c.i AS y, COUNT(*) AS sxy
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |r AS (
        |  SELECT x AS ante, y AS cons, sxy FROM p
        |  UNION ALL
        |  SELECT y, x, sxy FROM p)
        |SELECT ante, cons, sxy AS supp_pair,
        |  ROUND(CAST(sxy AS DOUBLE) / CAST(sa.s AS DOUBLE), 6)
        |    AS confidence,
        |  ROUND(CAST(sxy AS DOUBLE) * CAST(nb AS DOUBLE) /
        |        (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)), 6) AS lift
        |FROM r
        |JOIN supp sa ON sa.i = r.ante
        |JOIN supp sc ON sc.i = r.cons, n""".stripMargin),

    // ---- W15: event-type transition matrix (first-order Markov) —
    // per ordered user stream, count prev→next transitions and their
    // per-source probabilities (the Sankey/flow analysis behind every
    // "where do users go next"); one lag window + one hash agg. ----
    Query("w15_transitions", "event-type transition matrix (first-order Markov) —",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val steps = t(s, dir, "events")
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
        val counts = steps.groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("n"))
        val tot = org.apache.spark.sql.expressions.Window
          .partitionBy(col("prev"))
        counts.withColumn("p",
            round(col("n").cast("double") / sum(col("n")).over(tot), 6))
          .select(col("prev"), col("next"), col("n"), col("p"))
      },
      // transition matrix: same lag-over-(ts, event_id) + per-source
      // share; window SUM cast BIGINT-safe in the probability
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS next, COUNT(*) AS n
        |      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  ROUND(CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT), 6) AS p
        |FROM c""".stripMargin),

    // ---- W14: funnel latency — time-to-stage percentiles over
    // CONVERTING users (exact interpolated percentile of the exact
    // double-epoch stage gaps; the "how long does conversion take"
    // companion to w11's "how many"). Same one-shuffle cascade, one
    // tiny global agg. ----
    Query("w14_funnel_latency", "funnel latency",
      (s, dir) => {
        val st = Analytics.funnelStageTimes(t(s, dir, "events"), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        st.filter(col("t3").isNotNull)
          .agg(count(lit(1)).as("n_converted"),
            round(expr("percentile(t2 - t1, 0.5)"), 6).as("p50_click_secs"),
            round(expr("percentile(t2 - t1, 0.9)"), 6).as("p90_click_secs"),
            round(expr("percentile(t3 - t1, 0.5)"), 6).as("p50_convert_secs"),
            round(expr("percentile(t3 - t1, 0.9)"), 6).as("p90_convert_secs"))
      },
      // funnel latency: the same cascade, quantile_cont over the exact
      // double-epoch gaps — Spark percentile's interpolation twin
      """WITH s1 AS (
        |  SELECT user_id, MIN(epoch(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t
        |  GROUP BY e.user_id),
        |conv AS (
        |  SELECT s3.user_id, s1.t AS t1, s2.t AS t2, s3.t AS t3
        |  FROM s3 JOIN s2 USING (user_id) JOIN s1 USING (user_id))
        |SELECT COUNT(*) AS n_converted,
        |  ROUND(quantile_cont(t2 - t1, 0.5), 6) AS p50_click_secs,
        |  ROUND(quantile_cont(t2 - t1, 0.9), 6) AS p90_click_secs,
        |  ROUND(quantile_cont(t3 - t1, 0.5), 6) AS p50_convert_secs,
        |  ROUND(quantile_cont(t3 - t1, 0.9), 6) AS p90_convert_secs
        |FROM conv""".stripMargin),

    // ---- W13: CONVERSION-WINDOW funnel — same cascade as w11 but
    // stages 2..n must land within 24h of the stage-1 anchor (the
    // "converted within N hours" product metric); same one-shuffle
    // plan, the window is a per-element filter bound. ----
    Query("w13_funnel_windowed", "CONVERSION-WINDOW funnel",
      (s, dir) =>
        Analytics.funnel(t(s, dir, "events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"),
          horizonSeconds = Some(86400L)),
      // windowed funnel: the cascade plus the stage-1 anchor bound —
      // double epoch arithmetic identical on both engines
      """WITH s1 AS (
        |  SELECT user_id, MIN(epoch(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t
        |    AND epoch(e.ts) <= s1.t + 86400
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t
        |    AND epoch(e.ts) <= s1.t + 86400
        |  GROUP BY e.user_id),
        |c AS (SELECT (SELECT COUNT(*) FROM s1) AS c1,
        |             (SELECT COUNT(*) FROM s2) AS c2,
        |             (SELECT COUNT(*) FROM s3) AS c3)
        |SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage, c1 AS users,
        |  CASE WHEN c1 > 0 THEN ROUND(CAST(c1 AS DOUBLE) / c1, 6) END
        |    AS conversion FROM c
        |UNION ALL SELECT CAST(2 AS INT), 'click', c2,
        |  CASE WHEN c1 > 0 THEN ROUND(CAST(c2 AS DOUBLE) / c1, 6) END
        |  FROM c
        |UNION ALL SELECT CAST(3 AS INT), 'purchase', c3,
        |  CASE WHEN c1 > 0 THEN ROUND(CAST(c3 AS DOUBLE) / c1, 6) END
        |  FROM c""".stripMargin)
  )
}
