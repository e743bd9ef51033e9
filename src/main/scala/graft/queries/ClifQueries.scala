package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clif.{BlockedDataset, BlockedDatasetIncremental}
import graft.ops._

import Fixtures._

/** CLIF queries (prefix clif): the paper's blocked dataset, its
  * incremental twin and the mortality model built on it. */
object ClifQueries {

  /** The capstone's `BlockedDataset` arguments over the events table:
    * only the channels and the outcome differ between queries. */
  private def capstone(channels: Seq[BlockedDataset.Channel],
                       outcome: Column): BlockedDatasetIncremental.Params =
    BlockedDatasetIncremental.Params(
      encCol = "user_id", tsCol = "ts", channelCol = "event_type",
      valueCol = "value", tiebreak = "event_id", channels = channels,
      stepSeconds = 3600L, outcome = outcome, rollRows = 4,
      trainPct = 80, valPct = 10)

  /** Vitals fresh for 2 h, labs for 24 h. */
  private val vitalAndLab = Seq(
    BlockedDataset.Channel("click", "vital_value", toleranceSeconds = 7200L),
    BlockedDataset.Channel("purchase", "lab_value",
      toleranceSeconds = 86400L))

  /** The batch blocked dataset over the events table. */
  private def blocked(s: SparkSession, dir: String,
                      p: BlockedDatasetIncremental.Params): DataFrame =
    BlockedDataset.build(t(s, dir, "events"), p.encCol,
      p.tsCol, p.channelCol, p.valueCol, p.tiebreak, p.channels,
      p.stepSeconds, p.outcome, p.rollRows, p.trainPct, p.valPct)

  /** The mortality model's per-encounter features: outcome, split,
    * vital and lab coverage, and normalized length of stay. */
  private def modelFeatures(bd: DataFrame): DataFrame =
    bd.groupBy(col("user_id")).agg(
      max(col("label")).as("y"),
      min(col("split")).as("split"), // constant per encounter
      avg(when(col("vital_value").isNotNull, 1.0).otherwise(0.0))
        .as("f_vital"),
      avg(when(col("lab_value").isNotNull, 1.0).otherwise(0.0))
        .as("f_lab"),
      (count(lit(1)).cast("double") /
        (count(lit(1)) + lit(24L)).cast("double")).as("f_len"))

  /** Oracle fragment: keep-last events per (encounter, ts), then each
    * encounter's hourly grid — the start of every capstone replay. */
  private val gridCtes: String =
    """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
        |    MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b)""".stripMargin

  /** Oracle fragment: CTE `name`, one channel's keep-last events per
    * (encounter, ts). */
  private def channelCte(name: String, eventType: String): String =
    s"""$name AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id, ts
      |                         ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = '$eventType') WHERE rn = 1)"""
      .stripMargin

  /** Oracle fragment: the encounter-level outcome label CTE `lab`. */
  private val labelCte: String =
    """lab AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS label
        |  FROM events GROUP BY user_id)""".stripMargin

  /** Oracle fragment: the t_hash_split portable-hash split of CTE
    * `cte`'s encounters, as output column `split`. */
  private def splitColumn(cte: String): String =
    s"""  CASE WHEN (((((($cte.user_id % 2147483647) * 2654435761)
        |         % 2147483647) + 2147483647) % 2147483647) % 100 + 100)
        |         % 100 < 80 THEN 'train'
        |       WHEN (((((($cte.user_id % 2147483647) * 2654435761)
        |         % 2147483647) + 2147483647) % 2147483647) % 100 + 100)
        |         % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split""".stripMargin

  /** Oracle fragment: CTE `g`, one gradient-ascent round's sums over
    * the train rows, scored by CTE `beta`'s coefficients. */
  private def gdSums(g: String, beta: String): String =
    s"""$g AS (
      |  SELECT b.n,
      |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
      |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
      |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
      |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
      |  FROM (
      |    SELECT t.y, t.xv, t.xl, t.xh, b.n, t.y * 1000000 -
      |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
      |        + EXP(-(CAST(b.bi*1000000 + b.bv*t.xv + b.bl*t.xl
      |          + b.bh*t.xh AS DOUBLE) / 1000000000000.0))), 6)
      |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
      |    FROM train t, $beta b) b
      |  GROUP BY b.n)""".stripMargin

  /** Oracle fragment: one round's four coefficient updates, each the
    * previous coefficient in `b` plus the gradient sum in `g` over
    * g.n micro-units (sign-explicit half-away integer division). */
  private val gdUpdates: String =
    """    b.bi + CASE WHEN s0 >= 0
      |      THEN (2*CAST(s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bi,
      |    b.bv + CASE WHEN s1 >= 0
      |      THEN (2*CAST(s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bv,
      |    b.bl + CASE WHEN s2 >= 0
      |      THEN (2*CAST(s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bl,
      |    b.bh + CASE WHEN s3 >= 0
      |      THEN (2*CAST(s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
      |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bh""".stripMargin

  /** The mortality model's training replay, shared by the model and
    * calibration oracles: the capstone grid and channels, micro-unit
    * features per encounter, then THREE unrolled gradient-ascent
    * rounds (sigma the only float, round-6; beta updates exact integer
    * adds) ending in CTE `b3`. */
  private val modelGdReplay: String =
    s"""$gridCtes,
      |${channelCte("vit", "click")},
      |v AS (
      |  SELECT g.user_id, g.grid_ts,
      |    CASE WHEN w.ts IS NULL OR
      |      floor(epoch(g.grid_ts)) - floor(epoch(w.ts)) > 7200
      |      THEN NULL ELSE w.value END AS vital_value
      |  FROM grid g ASOF LEFT JOIN vit w
      |    ON g.user_id = w.user_id AND g.grid_ts >= w.ts),
      |${channelCte("lb", "purchase")},
      |l AS (
      |  SELECT v.user_id, v.grid_ts, v.vital_value,
      |    CASE WHEN w.ts IS NULL OR
      |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
      |      THEN NULL ELSE w.value END AS lab_value
      |  FROM v ASOF LEFT JOIN lb w
      |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
      |lbl AS (
      |  SELECT user_id,
      |    CAST(MAX(CASE WHEN event_type = 'error' AND value > 150
      |      THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |feats AS MATERIALIZED (
      |  SELECT f.user_id, lbl.y,
      |    CASE WHEN ((f.user_id % 2147483647) * 2654435761)
      |           % 2147483647 % 100 < 80 THEN 'train'
      |         WHEN ((f.user_id % 2147483647) * 2654435761)
      |           % 2147483647 % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split,
      |    CAST(CAST(ROUND(AVG(CASE WHEN f.vital_value IS NOT NULL
      |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
      |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xv,
      |    CAST(CAST(ROUND(AVG(CASE WHEN f.lab_value IS NOT NULL
      |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
      |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xl,
      |    CAST(CAST(ROUND(CAST(COUNT(*) AS DOUBLE) /
      |        CAST(COUNT(*) + 24 AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xh
      |  FROM l f JOIN lbl USING (user_id)
      |  GROUP BY f.user_id, lbl.y),
      |train AS MATERIALIZED (
      |  SELECT * FROM feats WHERE split = 'train'),
      |g1 AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
      |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
      |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
      |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
      |  FROM (
      |    SELECT t.*, t.y * 1000000 -
      |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
      |        + EXP(-(CAST(0 AS DOUBLE) / 1000000000000.0))), 6)
      |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
      |    FROM train t) z),
      |b1 AS (
      |  SELECT n,
      |    CASE WHEN s0 >= 0
      |      THEN (2*CAST(s0 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bi,
      |    CASE WHEN s1 >= 0
      |      THEN (2*CAST(s1 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bv,
      |    CASE WHEN s2 >= 0
      |      THEN (2*CAST(s2 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bl,
      |    CASE WHEN s3 >= 0
      |      THEN (2*CAST(s3 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)
      |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
      |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bh
      |  FROM g1),
      |${gdSums("g2", "b1")},
      |b2 AS (
      |  SELECT g.n,
      |$gdUpdates
      |  FROM g2 g, b1 b),
      |${gdSums("g3", "b2")},
      |b3 AS (
      |  SELECT
      |$gdUpdates
      |  FROM g3 g, b2 b)""".stripMargin

  /** The blocked-dataset replay shared VERBATIM by the batch
    * capstone and its incremental materialization — the
    * incremental path's contract IS "equals the batch build on
    * the union of all arrival waves", so binding one string to
    * both keys makes drift impossible. */
  private val blockedDatasetReplay: String =
    s"""$gridCtes,
        |base AS (
        |  SELECT g.user_id, g.grid_ts, e.value AS last_value
        |  FROM grid g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts >= e.ts),
        |${channelCte("vit", "click")},
        |v AS (
        |  SELECT b.user_id, b.grid_ts, b.last_value,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(b.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS vital_value
        |  FROM base b ASOF LEFT JOIN vit w
        |    ON b.user_id = w.user_id AND b.grid_ts >= w.ts),
        |${channelCte("lb", "purchase")},
        |l AS (
        |  SELECT v.user_id, v.grid_ts, v.last_value, v.vital_value,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
        |      THEN NULL ELSE w.value END AS lab_value
        |  FROM v ASOF LEFT JOIN lb w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |r AS (
        |  SELECT user_id, grid_ts, last_value, vital_value, lab_value,
        |    ROUND(CAST(SUM(CAST(last_value AS DECIMAL(30,6))) OVER w
        |        AS DOUBLE) / COUNT(last_value) OVER w, 6) AS roll_avg
        |  FROM l
        |  WINDOW w AS (PARTITION BY user_id ORDER BY grid_ts
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
        |$labelCte
        |SELECT r.user_id, r.grid_ts, r.last_value, r.vital_value,
        |  r.lab_value, r.roll_avg, lab.label,
        |${splitColumn("r")}
        |FROM r JOIN lab USING (user_id)""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- CAPSTONE: the reference README's promised "blocked
    // dataset" (README.md:2) as ONE oracled artifact — hourly
    // encounter grid × whole-stream LOCF (w6) × two staleness-
    // bounded channel as-of joins (j10: vitals fresh ≤2h, labs ≤24h)
    // × trailing-4h rolling mean (w7) × encounter-level outcome
    // label × leakage-safe hash split (t_hash_split). Every stage
    // keys on the encounter, so the matrix assembles in one
    // exchange family. ----
    Query("clif_blocked_dataset", "the reference README's promised \"blocked",
      (s, dir) =>
        blocked(s, dir, capstone(vitalAndLab, col("event_type") === "error")),
      // the capstone replayed stage by stage: the w6 grid + ASOF LOCF,
      // two j10 staleness-bounded ASOF channel joins, the w7 rolling
      // numerics (decimal sum, one rounded double division), the
      // encounter label agg, and the t_hash_split portable-hash split
      blockedDatasetReplay),

    // ---- CAPSTONE, incrementally maintained: the same blocked
    // dataset built by TWO AvailableNow invocations over two arrival
    // waves of the same events (file-source checkpoint = each file
    // exactly once; idempotent dynamic-partition overwrites = crash-
    // replay safe; only buckets the new wave touches are recomputed).
    // Every build stage is encounter-local and an encounter lives in
    // one hash bucket, so the final grid equals the one-shot batch
    // build row for row — verified against the SAME DuckDB oracle as
    // clif_blocked_dataset. ----
    Query("clif_blocked_incremental", "CAPSTONE, incrementally maintained: the same blocked",
      (s, dir) => {
        val e = t(s, dir, "events")
        // throwaway harness materialization → RAM-backed scratch (the
        // ckptDir rationale); production stores live on durable DFS
        val tmp = ckptDir("graft_bdi")
        val in = s"$tmp/in"; val work = s"$tmp/work"
        val params = capstone(vitalAndLab, col("event_type") === "error")
        // wave 2 is a bucket-local late cohort (one shard's encounters
        // arriving after the rest — the open-encounter locality the
        // bucket layout exists for), so the second invocation PROVES
        // the pruning: it recomputes 1 of 8 buckets, not the corpus.
        // coalesce matches BlockedDatasetIncremental.bucketOf: a null
        // user_id hashes null → bucket 0, so the two waves PARTITION
        // all rows (a bare pmod===0 is null-rejecting and would drop
        // null-key events from both waves while the batch oracle
        // keeps them)
        val lateCohort = coalesce(
          pmod(graft.text.TextOps.portableHash(col("user_id")),
            lit(8L)), lit(0L)) === 0
        e.filter(!lateCohort).write.mode("overwrite").parquet(in)
        val schema = s.read.parquet(in).schema
        BlockedDatasetIncremental.runOnce(s, in, work,
          schema, params, buckets = 8)
        // fold wave 1's closed batch into the compacted layer BETWEEN
        // the waves: the oracle (the batch capstone's replay) then
        // proves at hash level that a recompute reading the compacted
        // base + a live batch equals the one-shot build
        BlockedDatasetIncremental.compactRaw(s, work, params)
        // the late cohort lands; invocation 2 processes ONLY its files
        e.filter(lateCohort).write.mode("append").parquet(in)
        BlockedDatasetIncremental.runOnce(s, in, work,
          schema, params, buckets = 8)
        BlockedDatasetIncremental.grid(s, work)
      },
      // the incrementally-maintained grid must equal the one-shot
      // batch build on the union of all arrival waves — the SAME
      // replay string bound to both keys, so they can never drift
      blockedDatasetReplay),

    // ---- CAPSTONE part 2: "…to develop a model to predict the
    // probability of death" (README.md:2) — logistic regression
    // trained ON the blocked dataset by exact micro-unit unrolled
    // gradient ascent (3 steps from zero, one scan per step; σ is
    // the only float touch, round-6). Features per encounter: vital
    // coverage, lab coverage, normalized length-of-stay; outcome =
    // any severe error (value > 150) — ~50% prevalence; split
    // leakage-safe by encounter hash. Accuracy at the 0.5 threshold
    // is the EXACT integer sign test on z_pico. ----
    Query("clif_mortality_model", "CAPSTONE part 2: \"…to develop a model to predict the",
      (s, dir) => {
        val bd = blocked(s, dir, capstone(vitalAndLab,
          col("event_type") === "error" && col("value") > 150))
        ops.Analytics.logisticModelReport(modelFeatures(bd),
          Seq("f_vital", "f_lab", "f_len"), "y", "split", iters = 3)
      },
      // the whole training loop replayed: the capstone grid + channel
      // CTEs, per-encounter micro-unit features, then THREE unrolled
      // gradient-ascent steps (sigma the only float, round-6; gradient
      // division by the sign-explicit half-away integer pattern; beta
      // updates exact integer adds) and the exact z>=0 sign-test
      // accuracies
      s"""$modelGdReplay,
        |ev AS (
        |  SELECT f.split,
        |    CASE WHEN (CASE WHEN b.bi*1000000 + b.bv*f.xv + b.bl*f.xl
        |        + b.bh*f.xh >= 0 THEN 1 ELSE 0 END) = f.y
        |      THEN 1 ELSE 0 END AS ok
        |  FROM feats f, b3 b)
        |SELECT
        |  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  CAST(b.bi AS BIGINT) AS b_intercept_micros,
        |  CAST(b.bv AS BIGINT) AS b_f_vital_micros,
        |  CAST(b.bl AS BIGINT) AS b_f_lab_micros,
        |  CAST(b.bh AS BIGINT) AS b_f_len_micros,
        |  ROUND(CAST(SUM(CASE WHEN split = 'train' AND ok = 1
        |      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |      AS DOUBLE), 6) AS train_acc,
        |  ROUND(CAST(SUM(CASE WHEN split = 'test' AND ok = 1
        |      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |      AS DOUBLE), 6) AS test_acc
        |FROM ev, b3 b
        |GROUP BY b.bi, b.bv, b.bl, b.bh""".stripMargin),

    // ---- CAPSTONE part 3: the PROBABILITY readout — the README
    // promises "the probability of death", not a hard label, so
    // risk-stratify the held-out encounters: train the same model,
    // split test encounters into predicted-risk QUARTILES (bucket
    // boundaries = percentile(pmu, .25/.5/.75) — Spark percentile ==
    // DuckDB quantile_cont EXACTLY, the a29/a68 precedent; the
    // boundary frame is one broadcast row, never a global sort), and
    // report each quartile's size, mean predicted risk, and OBSERVED
    // outcome rate — the clinician's risk-stratification table. σ is
    // the one float; counts and the observed numerator are exact
    // integers, each output ratio rounds once. ----
    Query("clif_model_calibration", "CAPSTONE part 3: the PROBABILITY readout",
      (s, dir) => {
        val bd = blocked(s, dir, capstone(vitalAndLab,
          col("event_type") === "error" && col("value") > 150))
        // built once: trainer + readout share it
        val feats = Iterate.pin(modelFeatures(bd))
        val fc = Seq("f_vital", "f_lab", "f_len")
        val beta = ops.Analytics.logisticGdMicros(
          feats.filter(col("split") === "train"), fc, "y", iters = 3)
        val micro = feats.select(col("split") +: col("y") +:
          fc.zipWithIndex.map { case (c, j) =>
            ops.Analytics.r6m(col(c)).as(s"__x$j")
          }: _*)
        val z = ops.Analytics.logisticScorePico(beta.toSeq,
          fc.indices.map(j => s"__x$j"))
        val sigmaMu = (round(lit(1.0) /
            (lit(1.0) + exp(-(z.cast("double") / lit(1e12)))), 6)
          .cast("decimal(18,6)") * lit(1000000L)).cast("long")
        val scored = micro.filter(col("split") === "test")
          .select(col("y"), sigmaMu.as("__pm"))
        val bounds = scored.agg(
          expr("percentile(__pm, 0.25)").as("__q1"),
          expr("percentile(__pm, 0.5)").as("__q2"),
          expr("percentile(__pm, 0.75)").as("__q3"))
        scored.crossJoin(broadcast(bounds))
          .withColumn("risk_quartile",
            when(col("__pm") <= col("__q1"), 1)
              .when(col("__pm") <= col("__q2"), 2)
              .when(col("__pm") <= col("__q3"), 3)
              .otherwise(4).cast("int"))
          .groupBy(col("risk_quartile"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("__pm")).cast("double") /
              (count(lit(1)).cast("double") * lit(1000000.0)), 6)
              .as("mean_pred"),
            round(sum(col("y")).cast("double") /
              count(lit(1)).cast("double"), 6).as("observed_rate"))
      },
      // capstone part 3 replayed: the same grid/feature/3-round GD
      // walk to b3, then the risk-quartile readout — sigma per test
      // encounter (the one float, round-6), quartile boundaries via
      // quantile_cont (== Spark percentile exactly), exact count/sum
      // ratios rounded once
      s"""$modelGdReplay,
        |pm AS MATERIALIZED (
        |  SELECT f.y,
        |    CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |      + EXP(-(CAST(b.bi*1000000 + b.bv*f.xv + b.bl*f.xl
        |        + b.bh*f.xh AS DOUBLE) / 1000000000000.0))), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pmu
        |  FROM feats f, b3 b WHERE f.split = 'test'),
        |bounds AS (
        |  SELECT quantile_cont(pmu, 0.25) AS q1,
        |    quantile_cont(pmu, 0.5) AS q2,
        |    quantile_cont(pmu, 0.75) AS q3
        |  FROM pm)
        |SELECT CAST(CASE WHEN pmu <= q1 THEN 1
        |    WHEN pmu <= q2 THEN 2
        |    WHEN pmu <= q3 THEN 3 ELSE 4 END AS INT) AS risk_quartile,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(pmu) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(1000000 AS DOUBLE)), 6)
        |    AS mean_pred,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS observed_rate
        |FROM pm, bounds GROUP BY 1""".stripMargin),

    // ---- CAPSTONE part 4: hourly SOFA over the blocked dataset —
    // the reference's scores pipeline promise (RCLIF_scores.Rmd:
    // 86-92) composed onto the per-(encounter, hour) grid: three
    // staleness-bounded organ channels (neuro ≤2h, resp ≤2h, renal
    // ≤24h) band 0–4 per hour — neuro via the EXACT reference GCS
    // case_when over a micro-exact GCS analog — and sofa_total sums
    // the PRESENT organs (stale = missing, never zero; n_organs
    // keeps the denominator honest). Banding is row-local: zero
    // shuffles beyond the capstone's one exchange family. ----
    Query("clif_sofa_hourly", "CAPSTONE part 4: hourly SOFA over the blocked dataset —",
      (s, dir) => {
        val bd = blocked(s, dir, capstone(Seq(
            BlockedDataset.Channel("click", "neuro_vital",
              toleranceSeconds = 7200L),
            BlockedDataset.Channel("view", "resp_vital",
              toleranceSeconds = 7200L),
            BlockedDataset.Channel("purchase", "renal_lab",
              toleranceSeconds = 86400L)),
          col("event_type") === "error"))
        graft.clif.Pipelines.sofaHourly(bd,
            "neuro_vital", "resp_vital", "renal_lab")
          .select("user_id", "grid_ts", "sofa_neuro", "sofa_resp",
            "sofa_renal", "n_organs", "sofa_total", "label", "split")
      },
      // the hourly-SOFA capstone replayed: the w6 grid, THREE j10
      // staleness-bounded ASOF organ channels, the exact reference GCS
      // case_when over the micro-exact analog (3 + micros mod 13 — the
      // DECIMAL(18,6)·10⁶ grid is engine-portable; the mod is written
      // sign-safe as ((x % 13) + 13) % 13 so it matches Spark's pmod
      // for ANY sign, not just the non-negative corpus), the declared
      // resp/renal bands with an explicit IS NULL arm (stale organ →
      // NULL, never 0), and the present-organs composite
      s"""$gridCtes,
        |${channelCte("c1", "click")},
        |${channelCte("c2", "view")},
        |${channelCte("c3", "purchase")},
        |v1 AS (
        |  SELECT g.user_id, g.grid_ts,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(g.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS neuro_vital
        |  FROM grid g ASOF LEFT JOIN c1 w
        |    ON g.user_id = w.user_id AND g.grid_ts >= w.ts),
        |v2 AS (
        |  SELECT v.user_id, v.grid_ts, v.neuro_vital,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS resp_vital
        |  FROM v1 v ASOF LEFT JOIN c2 w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |v3 AS (
        |  SELECT v.user_id, v.grid_ts, v.neuro_vital, v.resp_vital,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
        |      THEN NULL ELSE w.value END AS renal_lab
        |  FROM v2 v ASOF LEFT JOIN c3 w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |sc AS (
        |  SELECT user_id, grid_ts,
        |    CASE WHEN g < 6 THEN 4 WHEN g < 10 THEN 3
        |         WHEN g < 13 THEN 2 WHEN g < 15 THEN 1
        |         WHEN g = 15 THEN 0 END AS sofa_neuro,
        |    CASE WHEN resp_vital IS NULL THEN NULL
        |         WHEN resp_vital >= 400 THEN 4
        |         WHEN resp_vital >= 300 THEN 3
        |         WHEN resp_vital >= 200 THEN 2
        |         WHEN resp_vital >= 100 THEN 1 ELSE 0 END AS sofa_resp,
        |    CASE WHEN renal_lab IS NULL THEN NULL
        |         WHEN renal_lab >= 440 THEN 4
        |         WHEN renal_lab >= 350 THEN 3
        |         WHEN renal_lab >= 170 THEN 2
        |         WHEN renal_lab >= 110 THEN 1 ELSE 0 END AS sofa_renal
        |  FROM (
        |    SELECT user_id, grid_ts, resp_vital, renal_lab,
        |      3 + ((CAST(CAST(neuro_vital AS DECIMAL(18,6)) * 1000000
        |           AS BIGINT) % 13) + 13) % 13 AS g
        |    FROM v3)),
        |$labelCte
        |SELECT sc.user_id, sc.grid_ts, sc.sofa_neuro, sc.sofa_resp,
        |  sc.sofa_renal,
        |  CAST(sc.sofa_neuro IS NOT NULL AS INTEGER) +
        |  CAST(sc.sofa_resp IS NOT NULL AS INTEGER) +
        |  CAST(sc.sofa_renal IS NOT NULL AS INTEGER) AS n_organs,
        |  CASE WHEN CAST(sc.sofa_neuro IS NOT NULL AS INTEGER) +
        |            CAST(sc.sofa_resp IS NOT NULL AS INTEGER) +
        |            CAST(sc.sofa_renal IS NOT NULL AS INTEGER) > 0
        |    THEN COALESCE(sc.sofa_neuro, 0) +
        |         COALESCE(sc.sofa_resp, 0) +
        |         COALESCE(sc.sofa_renal, 0) END AS sofa_total,
        |  lab.label,
        |${splitColumn("sc")}
        |FROM sc JOIN lab USING (user_id)""".stripMargin)
  )
}
