package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the events fact: funnel conversion and
  * cohort retention — the two product-analytics queries every event
  * warehouse serves, and natural companions to the sessionizers in
  * [[WindowOps]] (reference event model: `code/RCLIF_dialysis.Rmd:90-99`
  * orders events per entity the same way).
  *
  * Both are expressed so a SQL engine can replay them exactly: funnel
  * stage times are earliest-match cascades (no RNG, no engine-specific
  * tiebreaks), retention buckets are Monday-aligned `date_trunc('week')`
  * in both Spark and DuckDB.
  */
object Analytics {

  /** Ordered funnel conversion: for each user, stage 1's time is the
    * earliest `stages(0)` event; stage i's time is the earliest
    * `stages(i)` event at-or-after stage i−1's time (the standard
    * greedy earliest-match cascade — equal timestamps count as
    * ordered-after, identically in the SQL replay). Once a stage is
    * unreached, all later stages are null by construction.
    *
    * Scale shape: ONE shuffle — events filtered to the stage types are
    * collected per user as a sorted (t, type) array (bounded by that
    * user's stage-event count, the same per-key bound every sessionizer
    * here carries), and the cascade is evaluated with codegen'd
    * higher-order functions over that array — no join per stage, no
    * repeated shuffles, no driver loop. A per-stage conditional-min
    * formulation would cost one shuffle per stage (each stage's
    * predicate references the previous stage's aggregate).
    *
    * Returns one row per stage: (stage_idx, stage, users, conversion)
    * where conversion = users / stage-1 users rounded to 6 (null when
    * stage 1 is empty). The final roll-up is a single global aggregate
    * over per-user stage flags.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, stages: Seq[String],
             horizonSeconds: Option[Long] = None,
             maxEventsPerUser: Option[Int] = None): DataFrame = {
    val flags = funnelStageTimes(events, userCol, typeCol, tsCol, stages,
        horizonSeconds, maxEventsPerUser)
      .select(stages.indices.map(i =>
        col(s"t${i + 1}").isNotNull.as(s"__r$i")): _*)
    val counts = flags.agg(
      sum(when(col("__r0"), 1L).otherwise(0L)).as("__c0"),
      stages.indices.drop(1).map(i =>
        sum(when(col(s"__r$i"), 1L).otherwise(0L)).as(s"__c$i")): _*)
    // reshape the single counts row to one row per stage; inline_outer
    // keeps the row even when the corpus is empty (counts are 0)
    counts.select(inline_outer(array(stages.zipWithIndex.map {
      case (st, i) => struct(
        lit(i + 1).as("stage_idx"), lit(st).as("stage"),
        coalesce(col(s"__c$i"), lit(0L)).as("users"),
        when(col("__c0") > 0,
          round(col(s"__c$i").cast("double") / col("__c0"), 6))
          .as("conversion"))
    }: _*)))
  }

  /** Per-user funnel stage times — the cascade [[funnel]] aggregates,
    * exposed for latency analysis: one row per user with any stage-1
    * event, columns `t1..tn` = double-epoch of each greedily-matched
    * stage (null once a stage is unreached; see [[funnel]] for the
    * cascade and conversion-window semantics and scale shape — ONE
    * user-keyed exchange, no join per stage).
    *
    * `maxEventsPerUser` bounds the per-user array against bot/script
    * keys (a single key with 10⁷ stage-typed events is otherwise one
    * task's in-memory array): when set, only each user's FIRST cap
    * stage-typed events by time enter the cascade — the earliest-match
    * semantics anchor on earliest events, so any user whose true stage
    * matches land inside the cap is unaffected — and the dropped-row
    * count is observable as the "funnel_dropped_events" Observation
    * (the maxBucket convention). The row_number rides the SAME
    * user-keyed exchange as the collect_list, so the cap adds a sort,
    * not a shuffle. Default None preserves exact semantics. */
  def funnelStageTimes(events: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, stages: Seq[String],
                       horizonSeconds: Option[Long] = None,
                       maxEventsPerUser: Option[Int] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(horizonSeconds.forall(_ > 0), "horizonSeconds must be positive")
    require(maxEventsPerUser.forall(_ > 0), "maxEventsPerUser must be > 0")
    val staged = events.filter(col(typeCol).isin(stages: _*))
    val bounded = maxEventsPerUser match {
      case None => staged
      case Some(cap) =>
        val w = Window.partitionBy(col(userCol))
          .orderBy(col(tsCol), col(typeCol))
        staged.withColumn("__rn", row_number().over(w))
          .observe("funnel_dropped_events",
            sum(when(col("__rn") > cap, 1L).otherwise(0L)).as("dropped"))
          .filter(col("__rn") <= cap).drop("__rn")
    }
    // double-epoch keeps sub-second precision and compares exactly in
    // both engines (same microsecond parquet values on both sides)
    val perUser = bounded
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(struct(
        col(tsCol).cast("timestamp_ltz").cast("double").as("t"),
        col(typeCol).as("et")))).as("__evs"))
    // cascade: __t0 = min t with et==stages(0); __ti = min t with
    // et==stages(i) and t >= __t(i-1); null propagates forward. With a
    // conversion window, stages 2..n must also land within
    // `horizonSeconds` of the stage-1 anchor (the standard "converted
    // within N hours" funnel semantics).
    val cascaded = stages.zipWithIndex.foldLeft(perUser) {
      case (d, (st, i)) =>
        val after: Column => Column =
          if (i == 0) _ => lit(true)
          else e => {
            val ordered = e.getField("t") >= col(s"__t${i - 1}")
            horizonSeconds.fold(ordered)(h =>
              ordered && e.getField("t") <= col("__t0") + h.toDouble)
          }
        d.withColumn(s"__t$i",
          array_min(transform(
            filter(col("__evs"),
              e => e.getField("et") === lit(st) && after(e)),
            e => e.getField("t"))))
    }
    cascaded.select(col(userCol) +:
      stages.indices.map(i => col(s"__t$i").as(s"t${i + 1}")): _*)
  }

  /** Cohort retention: cohort = Monday-truncated week of the user's
    * FIRST event (any type); a user is active in week w if they have
    * any event that week. Returns (cohort_week, week_offset,
    * active_users) — the retention triangle as data (the chart is a
    * pivot away; QC figures stay driver-bounded like
    * [[graft.ops.Figures]]).
    *
    * Scale shape: two exchanges, both necessary — a window-min over the
    * user key (shared with every other per-user op in the workload) to
    * stamp each event with its user's cohort, then the final hash
    * aggregate on (cohort, offset) with a distinct-user count. No join:
    * the cohort stamp rides the window, so the fact is scanned once.
    * Offsets use DATE arithmetic (datediff of the two Monday-truncated
    * weeks, divided by 7) — exact in ANY session timezone: two
    * week-truncated dates are always a whole multiple of 7 days apart,
    * where epoch-second division by 604800 truncates off-by-one across
    * DST's 601200/608400-second weeks.
    */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
    val stamped = events
      .withColumn("__cohort", date_trunc("week", min(col(tsCol)).over(w)))
      .withColumn("__week", date_trunc("week", col(tsCol)))
    stamped
      .withColumn("week_offset",
        (datediff(col("__week"), col("__cohort")) / 7).cast("int"))
      .groupBy(col("__cohort").as("cohort_week"), col("week_offset"))
      .agg(countDistinct(col(userCol)).as("active_users"))
  }

  /** RFM customer segmentation (recency / frequency / monetary) —
    * each user scored 1–5 on how recently, how often, and how much
    * they purchased, the classic marketing segmentation grid.
    *
    * Scores come from PERCENTILE BOUNDARIES (q20/q40/q60/q80 of each
    * measure, broadcast back) rather than a global ntile: an ntile
    * window is one all-users sort through a single partition — the
    * scale bug — while boundary scoring is a 12-scalar aggregate plus
    * a narrow per-row comparison, identical answer semantics up to
    * boundary-tie handling (documented: ties at a boundary take the
    * lower score, exact percentile bounds on the round-6 grid before
    * comparison — the robustOutliers convention). Recency scores
    * INVERT (smaller gap = higher score). */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  purchaseFilter: Column,
                  amountCol: String): DataFrame = {
    def us(c: Column): Column =
      unix_micros(c.cast("timestamp_ltz"))
    val endT = events.agg(max(us(col(tsCol))).as("__end"))
    val per = events.filter(purchaseFilter)
      .groupBy(col(userCol))
      .agg(max(us(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)")).cast("double")
          .as("monetary"))
      .crossJoin(broadcast(endT))
      .withColumn("recency_days",
        floor((col("__end") - col("__last")) / 86400000000L)
          .cast("long"))
      .drop("__last", "__end")
    def pct(c: String, p: Double): Column =
      round(call_function("percentile", col(c), lit(p)), 6)
    val bounds = per.agg(
      pct("recency_days", 0.2).as("r20"), pct("recency_days", 0.4).as("r40"),
      pct("recency_days", 0.6).as("r60"), pct("recency_days", 0.8).as("r80"),
      pct("frequency", 0.2).as("f20"), pct("frequency", 0.4).as("f40"),
      pct("frequency", 0.6).as("f60"), pct("frequency", 0.8).as("f80"),
      pct("monetary", 0.2).as("m20"), pct("monetary", 0.4).as("m40"),
      pct("monetary", 0.6).as("m60"), pct("monetary", 0.8).as("m80"))
    def up(c: String, q: String): Column = (lit(1) +
      when(col(c) > col(s"${q}20"), 1).otherwise(0) +
      when(col(c) > col(s"${q}40"), 1).otherwise(0) +
      when(col(c) > col(s"${q}60"), 1).otherwise(0) +
      when(col(c) > col(s"${q}80"), 1).otherwise(0)).cast("int")
    val scored = per.crossJoin(broadcast(bounds))
      .withColumn("r_score", (lit(6) - up("recency_days", "r")).cast("int"))
      .withColumn("f_score", up("frequency", "f"))
      .withColumn("m_score", up("monetary", "m"))
    scored.select(col(userCol), col("recency_days"), col("frequency"),
      col("monetary"), col("r_score"), col("f_score"), col("m_score"),
      concat(col("r_score"), col("f_score"), col("m_score"))
        .as("segment"))
  }

  /** Kaplan–Meier product-limit survival estimator (Kaplan & Meier
    * 1958) with right censoring — time-to-event analytics ("how long
    * until a user converts / a machine fails"), where subjects who
    * never experience the event are CENSORED at observation end
    * rather than dropped (dropping them biases survival downward —
    * the classic mistake this estimator exists to fix).
    *
    * At each distinct observed event time t_i: n_i = subjects still
    * at risk (observed time ≥ t_i — censored subjects count until
    * their censor time, the standard ties convention), d_i = events
    * at t_i, and S(t_i) = Π_{j≤i} (1 − d_j/n_j). Each factor is one
    * integer-valued-double divide on the round-6 grid and the running
    * product is an exact-decimal recurrence (round-6 per step) — the
    * ewma discipline, so a recursive CTE replays the curve
    * bit-for-bit.
    *
    * Scale: per-time d/m counts are one hash agg over subjects; the
    * at-risk counts and the product recurrence run on the DISTINCT-
    * event-time table — curve-sized (≤ subjects, usually far
    * smaller), which is the OUTPUT, so the single-partition window
    * and fold there cost what the answer costs. Subject derivation
    * (one row per user) is the caller's aggregation. */
  /** The (t, n_events, n_risk) risk-set frame shared by
    * [[kaplanMeier]] and [[nelsonAalen]]: event/censor counts per
    * distinct time, at-risk counts from a curve-frame prefix window
    * (curve-sized — the one-group contract both estimators state). */
  private def survivalSteps(subjects: DataFrame, durationCol: String,
                            observedCol: String): DataFrame = {
    val total = subjects.agg(count(lit(1)).as("__N"))
    val perT = subjects.groupBy(col(durationCol).as("t"))
      .agg(count(when(col(observedCol), lit(1))).as("n_events"),
        count(lit(1)).as("__m"))
    val wBefore = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perT
      .withColumn("__before", coalesce(sum(col("__m")).over(wBefore),
        lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("n_risk", col("__N") - col("__before"))
      .filter(col("n_events") > 0)
  }

  /** Nelson–Aalen cumulative-hazard estimator — [[kaplanMeier]]'s
    * additive sibling (Aalen 1978): H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ over the
    * same right-censored risk sets. Where K-M's survival multiplies
    * (1 − d/n) factors, the hazard SUMS d/n increments — so no
    * fold recurrence is needed at all: each increment rounds once to
    * 6 (decimal) and a curve-frame prefix window accumulates them
    * exactly. H ≈ −ln S on the same data (the standard diagnostic),
    * pinned loosely in the spec.
    *
    * Scale: identical to [[kaplanMeier]] — subject agg collapses to
    * distinct times, then curve-sized windows (one group, stated
    * contract).
    *
    * @return (t, n_risk, n_events, hazard) per event time */
  def nelsonAalen(subjects: DataFrame, durationCol: String,
                  observedCol: String): DataFrame = {
    val steps = survivalSteps(subjects, durationCol, observedCol)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    steps
      .withColumn("__h",
        round(col("n_events").cast("double") /
          col("n_risk").cast("double"), 6).cast("decimal(18,6)"))
      .withColumn("hazard",
        sum(col("__h")).over(wCum).cast("double"))
      .select(col("t"), col("n_risk"), col("n_events"), col("hazard"))
  }

  def kaplanMeier(subjects: DataFrame, durationCol: String,
                  observedCol: String): DataFrame = {
    val steps = survivalSteps(subjects, durationCol, observedCol)
      .withColumn("factor",
        round(lit(1.0) - col("n_events").cast("double") /
          col("n_risk").cast("double"), 6))
    // running product as an exact-decimal recurrence over the sorted
    // curve — one group, curve-sized
    steps
      .select(struct(col("t"), col("n_risk"), col("n_events"),
        col("factor")).as("__e"))
      .agg(sort_array(collect_list(col("__e"))).as("__evs"))
      .select(expr(
        """aggregate(__evs,
          |  struct(cast(array() as array<struct<
          |           t:bigint, n_risk:bigint, n_events:bigint,
          |           factor:double, s:decimal(18,6)>>) AS out,
          |         cast(1 as decimal(18,6)) AS last),
          |  (acc, e) -> struct(
          |    concat(acc.out, array(named_struct(
          |      't', e.t, 'n_risk', e.n_risk, 'n_events', e.n_events,
          |      'factor', e.factor,
          |      's', cast(round(acc.last *
          |             cast(e.factor as decimal(18,6)), 6)
          |           as decimal(18,6))))),
          |    cast(round(acc.last * cast(e.factor as decimal(18,6)), 6)
          |         as decimal(18,6))),
          |  acc -> acc.out)""".stripMargin).as("__arr"))
      .select(explode(col("__arr")).as("__o"))
      .select(col("__o.t").as("t"), col("__o.n_risk").as("n_risk"),
        col("__o.n_events").as("n_events"),
        col("__o.s").cast("double").as("survival"))
  }

  /** Restricted mean survival time — the single-number summary of a
    * [[kaplanMeier]] curve clinicians and growth teams actually
    * compare: RMST(τ) = ∫₀^τ S(t)dt, "average event-free time over
    * the first τ", valid even when the median is never reached and
    * robust where hazard ratios assume proportionality. Computed as
    * τ − Σ_steps (1−S_i)·(min(t_{i+1},τ) − t_i) — the complement
    * form needs no synthetic S=1 leading segment, and an event-free
    * cohort scores exactly τ.
    *
    * Numerics: S_i is the KM curve's round-6 decimal; each segment
    * contribution (1−S_i)·Δt is an EXACT decimal product of the 6-dp
    * survival complement and an exact integer duration, summed
    * exactly. The headline value ships as `rmst_micros` — the exact
    * 6-dp decimal scaled by 10⁶ into a BIGINT (τ·10⁶ fits a long for
    * any τ < 9.2e12 input units) — because an exact decimal that is
    * not representable in a double must never cross an engine gate
    * as a double: decimal→double casts legitimately differ by 1 ulp
    * between engines. `rmst_frac` is the ONE double in the output,
    * rounded once.
    *
    * Scale shape: the [[kaplanMeier]] contract — one subject hash
    * agg to the curve frame; the lead/clip window and the final fold
    * run on curve-sized data.
    *
    * @param tau restriction horizon in `durationCol`'s units (> 0)
    * @return one row: (tau, n_steps, rmst_micros, rmst_frac) —
    *         rmst_micros = RMST in MILLIONTHS of the input unit
    *         (exact); rmst_frac = RMST/τ ∈ (0, 1] */
  def rmst(subjects: DataFrame, durationCol: String,
           observedCol: String, tau: Long): DataFrame = {
    require(tau > 0, "tau must be > 0")
    val w = Window.orderBy(col("t")) // curve-sized frame only
    val seg = kaplanMeier(subjects, durationCol, observedCol)
      .filter(col("t") <= tau)
      .select(col("t"), col("survival").cast("decimal(18,6)")
        .as("__s"))
      .withColumn("__tn",
        least(coalesce(lead(col("t"), 1).over(w), lit(tau)),
          lit(tau)))
      .select(((lit(1).cast("decimal(18,6)") - col("__s")) *
        (col("__tn") - col("t")).cast("decimal(38,0)"))
        .cast("decimal(38,6)").as("__drop"))
    seg.agg(count(lit(1)).as("n_steps"),
      coalesce(sum(col("__drop")), lit(0).cast("decimal(38,6)"))
        .cast("decimal(38,6)").as("__dropped"))
      .select(lit(tau).as("tau"), col("n_steps"),
        ((lit(tau).cast("decimal(38,6)") - col("__dropped")) *
          lit(1000000L)).cast("decimal(38,0)").cast("long")
          .as("rmst_micros"),
        round((lit(tau).cast("decimal(38,6)") - col("__dropped"))
          .cast("double") / lit(tau).cast("double"), 6)
          .as("rmst_frac"))
  }

  /** Aalen–Johansen cumulative incidence under COMPETING RISKS — the
    * estimator [[kaplanMeier]] cannot give when more than one event
    * type removes a subject: 1−KM on a single cause (treating the
    * competitor as censoring) OVERSTATES its incidence, because a
    * subject taken by cause 2 can never experience cause 1. The CIF
    * weights each cause-k hazard increment by the probability of
    * still being event-FREE just before t:
    * CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s), with S the ALL-cause
    * Kaplan–Meier. (Churn-vs-conversion, failure-mode analysis — any
    * funnel where outcomes compete.)
    *
    * Determinism: the [[kaplanMeier]] recurrence discipline — factor
    * and per-cause hazard round once to 6, the S recurrence and each
    * increment stay on the 6-dp decimal grid, the CIF is an exact
    * decimal prefix sum; the oracle replays the identical recursion.
    * CIF_k(∞) over all causes + S(∞) = 1 up to grid rounding
    * (spec'd).
    *
    * Scale shape: one subject hash agg to the distinct-time curve
    * frame, then curve-sized windows and ONE fold over the sorted
    * curve (single group, the stated [[kaplanMeier]] contract).
    *
    * @param causeCol integer cause code: 0 = censored, else cause id
    * @param cause the cause whose incidence curve to emit
    * @return (t, n_risk, n_events_cause, n_events_all, cif) per
    *         any-cause event time */
  def cumulativeIncidence(subjects: DataFrame, durationCol: String,
                          causeCol: String, cause: Int): DataFrame = {
    require(cause != 0, "cause 0 is the censoring code")
    val total = subjects.agg(count(lit(1)).as("__N"))
    val perT = subjects
      .filter(col(durationCol).isNotNull && col(causeCol).isNotNull)
      .groupBy(col(durationCol).cast("long").as("t"))
      .agg(count(when(col(causeCol) === cause, lit(1))).as("n_cause"),
        count(when(col(causeCol) =!= 0, lit(1))).as("n_events"),
        count(lit(1)).as("__m"))
    val wBefore = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val steps = perT
      .withColumn("__before", coalesce(sum(col("__m")).over(wBefore),
        lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("n_risk", col("__N") - col("__before"))
      .filter(col("n_events") > 0)
    steps
      .select(struct(col("t"), col("n_risk"), col("n_cause"),
        col("n_events"),
        round(lit(1.0) - col("n_events").cast("double") /
          col("n_risk").cast("double"), 6).as("factor"),
        round(col("n_cause").cast("double") /
          col("n_risk").cast("double"), 6).as("hk")).as("__e"))
      .agg(sort_array(collect_list(col("__e"))).as("__evs"))
      .select(expr(
        """aggregate(__evs,
          |  struct(cast(array() as array<struct<
          |           t:bigint, n_risk:bigint, n_cause:bigint,
          |           n_events:bigint, cif:decimal(18,6)>>) AS out,
          |         cast(1 as decimal(18,6)) AS s,
          |         cast(0 as decimal(18,6)) AS cif),
          |  (acc, e) -> struct(
          |    concat(acc.out, array(named_struct(
          |      't', e.t, 'n_risk', e.n_risk, 'n_cause', e.n_cause,
          |      'n_events', e.n_events,
          |      'cif', cast(acc.cif +
          |        round(acc.s * cast(e.hk as decimal(18,6)), 6)
          |        as decimal(18,6))))),
          |    cast(round(acc.s * cast(e.factor as decimal(18,6)), 6)
          |         as decimal(18,6)),
          |    cast(acc.cif +
          |      round(acc.s * cast(e.hk as decimal(18,6)), 6)
          |      as decimal(18,6))),
          |  acc -> acc.out)""".stripMargin).as("__arr"))
      .select(explode(col("__arr")).as("__o"))
      .select(col("__o.t").as("t"), col("__o.n_risk").as("n_risk"),
        col("__o.n_cause").as("n_events_cause"),
        col("__o.n_events").as("n_events_all"),
        col("__o.cif").cast("double").as("cif"))
  }

  /** Market-basket association rules (Agrawal & Srikant's classic
    * support/confidence/lift surface, pair rules): for every ordered
    * item pair (ante → cons) co-occurring in ≥ `minPairSupport`
    * baskets, the rule's pair support, confidence
    * supp(a,b)/supp(a), and lift supp(a,b)·N/(supp(a)·supp(b)).
    * Both metrics are ONE integer-valued-double divide on the round-6
    * grid — engine-replayable with no accumulation order to pin.
    *
    * Scale: baskets are deduped to (basket, item) once; pair
    * enumeration is a self-equi-join on the basket key (cost
    * Σ C(k_b, 2) — quadratic per basket by problem definition, which
    * is why minPairSupport cuts BEFORE the rule expansion and why a
    * curated basket column, not raw events, is the intended input; a
    * pathological mega-basket is one skewed join key, spillable, and
    * should be capped upstream with capPerGroup). Item supports and
    * the basket total are item-sized/1-row frames — AQE broadcasts
    * them into the rule join. */
  /** Per-key sequence autocorrelation (ACF) at lags 1..`maxLag` — the
    * standard seasonality/persistence screen a time-series warehouse
    * runs before picking forecast features (companion to [[WindowOps.ewma]]
    * and `cusum`: those smooth/detect, this measures how much signal a
    * lagged feature carries). For the key's value sequence ordered by
    * (ts, id), r_L = Σ d_i·d_{i+L} / Σ d_i² with d_i = x_i − mean.
    *
    * Scale shape: ONE exchange on the key — the mean (exact decimal sum
    * over the unordered partition frame), the deviations, and all
    * `maxLag` leads share a single `partitionBy(key)` window (one sort;
    * lead frames hold ≤ maxLag rows, spillable — no per-key array).
    * Cross-engine determinism: inputs rounded once to decimal(18,6);
    * the mean is one decimal division rounded to 6; every product is
    * rounded to 6 and accumulated as exact decimal, so the sums are
    * order-free; a constant series (zero denominator) yields null via
    * explicit CASE, identically in the oracle's replay.
    *
    * Returns (key..., lag, n_pairs, acf) — one row per key and lag. */
  def acf(df: DataFrame, keys: Seq[String], tsCol: String, idCol: String,
          valCol: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val kcols = keys.map(col)
    val wAll = Window.partitionBy(kcols: _*)
    val wOrd = Window.partitionBy(kcols: _*).orderBy(col(tsCol), col(idCol))
    def dec(c: Column): Column = c.cast("decimal(18,6)")
    val v = dec(round(col(valCol).cast("double"), 6))
    // mean via DOUBLE division of the exact decimal sum: decimal
    // division scale/rounding rules differ across engines, double
    // division is IEEE-identical everywhere
    val mean = dec(round(sum(v).over(wAll).cast("double") /
      count(lit(1)).over(wAll), 6))
    val withDev = df
      .withColumn("__d", v - mean)
    val withLeads = (1 to maxLag).foldLeft(withDev) { (d, l) =>
      d.withColumn(s"__d$l", lead(col("__d"), l).over(wOrd))
    }
    val lagAggs = (1 to maxLag).flatMap { l =>
      Seq(
        sum(dec(round(col("__d") * col(s"__d$l"), 6))).as(s"__num$l"),
        count(col(s"__d$l")).as(s"__n$l"))
    }
    val allAggs =
      sum(dec(round(col("__d") * col("__d"), 6))).as("__den") +: lagAggs
    val grouped = withLeads.groupBy(kcols: _*)
      .agg(allAggs.head, allAggs.tail: _*)
    val lagRows = (1 to maxLag).map { l =>
      struct(lit(l).as("lag"), col(s"__n$l").cast("long").as("n_pairs"),
        when(col("__den") === lit(0), lit(null).cast("double"))
          .otherwise(round(col(s"__num$l").cast("double") /
            col("__den").cast("double"), 6)).as("acf"))
    }
    grouped
      .select(kcols :+ explode(array(lagRows: _*)).as("__o"): _*)
      .select(kcols :+ col("__o.lag") :+ col("__o.n_pairs") :+
        col("__o.acf"): _*)
  }

  /** DAU / rolling-WAU: per calendar day, the distinct active keys
    * that day AND over the trailing `windowDays` window — the
    * daily/weekly-active dashboard pair. A COUNT(DISTINCT) OVER a
    * RANGE frame doesn't exist in any engine; the scalable
    * formulation: reduce once to distinct (key, day) — map-side
    * combine collapses the shuffle to active-pairs — then explode
    * each pair to the `windowDays` day-buckets it keeps alive
    * (bounded fan-out, the j9 binning discipline) and distinct-count
    * per bucket. Days with no activity in the window emit nothing
    * (join a calendar downstream — [[graft.ops.Quality.missingDays]]'s
    * job). Output: (day ISO string, dau, wau). */
  def dauWau(events: DataFrame, keyCol: String, tsCol: String,
             windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val pairs = events
      .select(col(keyCol).as("__k"), to_date(col(tsCol)).as("__d"))
      .distinct()
    val dau = pairs.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).cast("long").as("dau"))
    val wau = pairs
      .select(col("__k"), explode(expr(
        s"sequence(__d, date_add(__d, ${windowDays - 1}))")).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("__k")).cast("long").as("wau"))
    // inner join: a day in wau-only range has dau 0 — report only
    // days with their OWN activity (dashboard convention; the LEFT
    // variant is one joinType away)
    dau.join(wau, Seq("day"))
      .select(col("day").cast("string").as("day"), col("dau"),
        col("wau"))
  }

  /** Top session paths: sessionize per key, render each session's
    * ordered event-type sequence as one `a->b->c` path string, count
    * paths corpus-wide, return the top `k` — the Sankey/user-journey
    * table every product-analytics surface draws, and the sequence
    * complement of the w15 transition matrix (transitions lose order
    * beyond one step; paths keep the whole walk).
    *
    * Scale shape: the sessionize window's ONE user exchange is reused
    * by both the per-session array agg and its internal ordering
    * (hash(user) co-locates (user, session); Spark adds a sort, not a
    * shuffle), then one path-keyed count and a TakeOrdered. Per-session
    * arrays are bounded by session length — the same bound sessionize
    * itself carries; a no-gap bot key is one task's array either way.
    * Ties at rank k break by path string. */
  def topSessionPaths(events: DataFrame, userCol: String, tsCol: String,
                      idCol: String, typeCol: String,
                      gapSeconds: Long = 1800, k: Int = 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sess = WindowOps.sessionize(events, Seq(userCol), tsCol,
      gapSeconds, tiebreak = Seq(col(idCol)))
    sess.groupBy(col(userCol), col("session_id"))
      .agg(sort_array(collect_list(struct(
        col(tsCol).cast("timestamp_ltz").cast("double").as("t"),
        col(idCol).cast("long").as("id"),
        col(typeCol).as("ty")))).as("__evs"))
      .select(concat_ws("->", expr("transform(__evs, e -> e.ty)"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Markov-chain stationary distribution of per-key state sequences,
    * by `iters` rounds of power iteration from uniform — where event
    * traffic concentrates in the long run, the roll-up of the w15
    * transition matrix into one importance score per state (TextRank's
    * PageRank is this plus damping; here the chain is the observed
    * event-type process itself).
    *
    * Pipeline: consecutive (src → dst) pairs per key (ONE ordered
    * window — the w15 exchange), transition counts, row-normalized
    * probabilities, then π ← πP `iters` times. P is at most |states|²
    * rows — after the one corpus-sized exchange everything is
    * state-cardinality-sized and the iteration joins broadcast the
    * π vector. States with no outgoing edges shed their mass (no
    * artificial self-loop is added) — the audit reads absolute mass,
    * and the oracle replays the same convention.
    *
    * Cross-engine determinism: probabilities and every π·p product are
    * rounded to 6 and accumulated in exact decimal; each round's π is
    * re-cast to decimal(18,6), so round N+1's inputs are bit-identical
    * in any engine — the loop-carried state is pinned the e_kmeans
    * way (the oracle unrolls all rounds in SQL). */
  def markovStationary(df: DataFrame, seqKeyCol: String, tsCol: String,
                       idCol: String, stateCol: String,
                       iters: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    def dec(c: Column): Column = c.cast("decimal(18,6)")
    val w = Window.partitionBy(col(seqKeyCol))
      .orderBy(col(tsCol), col(idCol))
    val seq = df.select(col(stateCol).as("__src"),
      lead(col(stateCol), 1).over(w).as("__dst"))
    val tr = seq.filter(col("__dst").isNotNull)
      .groupBy(col("__src"), col("__dst")).agg(count(lit(1)).as("__c"))
    val tot = tr.groupBy(col("__src")).agg(sum(col("__c")).as("__n"))
    val p = tr.join(tot, Seq("__src"))
      .select(col("__src"), col("__dst"),
        dec(round(col("__c").cast("double") /
          col("__n").cast("double"), 6)).as("__p"))
    val states = tr.select(col("__src").as("state"))
      .union(tr.select(col("__dst"))).distinct()
    val k = states.agg(count(lit(1)).as("__k"))
    val pi0 = states.crossJoin(broadcast(k))
      .select(col("state"),
        dec(round(lit(1.0) / col("__k").cast("double"), 6)).as("__pi"))
    val piN = (1 to iters).foldLeft(pi0) { (pi, _) =>
      p.join(broadcast(pi), p("__src") === pi("state"))
        .groupBy(col("__dst"))
        .agg(dec(sum(dec(round(col("__pi") * col("__p"), 6)))).as("__pi"))
        .select(col("__dst").as("state"), col("__pi"))
    }
    piN.select(col("state"), col("__pi").cast("double").as("pi"))
  }

  /** Market-basket pair rules (support / confidence / lift) from a
    * (basket, item) long table. The pair stage is a self equi-join on
    * basket id, so its cost is Σ C(|basket|, 2) — quadratic per basket
    * but linear in baskets.
    *
    * `maxBasketSize` bounds that quadratic term against bot/template
    * baskets (one 10⁵-item basket is otherwise a single ~5×10⁹-pair
    * task): when set, baskets with more than cap DISTINCT items are
    * dropped entirely — truncation would silently skew every surviving
    * pair's support, whereas a dropped outlier basket is an honest,
    * observable exclusion — and the dropped item-row count is readable
    * as the "assoc_dropped_items" Observation (the funnel/`maxBucket`
    * convention). Support, basket count, and pairs are all computed on
    * the bounded set, so the rule arithmetic stays self-consistent.
    * The size count rides a basket-keyed window — the SAME key the
    * pair join shuffles on. Default None preserves exact semantics. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minPairSupport: Long = 3,
                       maxBasketSize: Option[Int] = None): DataFrame = {
    require(minPairSupport >= 1, "minPairSupport must be >= 1")
    require(maxBasketSize.forall(_ > 0), "maxBasketSize must be > 0")
    val raw = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val items = maxBasketSize match {
      case None => raw
      case Some(cap) =>
        val w = Window.partitionBy(col("__b"))
        raw.withColumn("__bs", count(lit(1)).over(w))
          .observe("assoc_dropped_items",
            sum(when(col("__bs") > cap, 1L).otherwise(0L)).as("dropped"))
          .filter(col("__bs") <= cap).drop("__bs")
    }
    val supp = items.groupBy(col("__i")).agg(count(lit(1)).as("__s"))
    val tot = items.select(countDistinct(col("__b")).as("__nb"))
    val a = items.select(col("__b"), col("__i").as("__x"))
    val b = items.select(col("__b"), col("__i").as("__y"))
    val pairs = a.join(b, Seq("__b")).filter(col("__x") < col("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("supp_pair"))
      .filter(col("supp_pair") >= minPairSupport)
    val rules = pairs
      .select(col("__x").as("ante"), col("__y").as("cons"),
        col("supp_pair"))
      .unionByName(pairs.select(col("__y").as("ante"),
        col("__x").as("cons"), col("supp_pair")))
    val withSupp = rules
      .join(supp.select(col("__i").as("ante"), col("__s").as("__sa")),
        Seq("ante"))
      .join(supp.select(col("__i").as("cons"), col("__s").as("__sc")),
        Seq("cons"))
      .crossJoin(broadcast(tot))
    withSupp.select(col("ante"), col("cons"), col("supp_pair"),
      round(col("supp_pair").cast("double") / col("__sa").cast("double"),
        6).as("confidence"),
      round(col("supp_pair").cast("double") * col("__nb").cast("double") /
        (col("__sa").cast("double") * col("__sc").cast("double")), 6)
        .as("lift"))
  }

  /** Two-group log-rank test (Mantel 1966) — "do the two survival
    * curves differ?", the hypothesis test beside the [[kaplanMeier]] /
    * [[nelsonAalen]] estimators: at each event time the observed
    * group-A deaths compare against the hypergeometric expectation
    * E = d·n₁/n given the pooled risk set, with variance
    * V = (d·n₁/n)·(1 − n₁/n)·(n−d)/(n−1); the statistic
    * (O − E)²/V is χ² with 1 dof under the null.
    *
    * Determinism: O is an exact long; each time's E and V terms round
    * once to 6 and sum through decimal (order-free — a distributed
    * double sum over event times would be order-dependent); the final
    * χ² is one arithmetic expression over those rounded sums. Same
    * censoring convention as K-M (risk set = duration ≥ t; censored
    * subjects leave the risk set, never count as deaths).
    *
    * Scale: the subject agg collapses to distinct event times; the
    * cumulative windows run on that CURVE-sized frame (one group,
    * the stated K-M contract).
    *
    * @param inA boolean Column: group membership (null rows excluded)
    * @return one row: (n_a, n_b, observed_a, expected_a, variance,
    *         chi2) — chi2 null when V = 0 (no information) */
  def logRankTest(subjects: DataFrame, durationCol: String,
                  observedCol: String, inA: Column): DataFrame = {
    val src = subjects
      .filter(col(durationCol).isNotNull && inA.isNotNull)
      .select(col(durationCol).as("t"), col(observedCol).as("__e"),
        inA.as("__a"))
    val perT = src.groupBy(col("t")).agg(
      count(when(col("__e") && col("__a"), lit(1))).as("__d1"),
      count(when(col("__e"), lit(1))).as("__d"),
      count(when(col("__a"), lit(1))).as("__m1"),
      count(lit(1)).as("__m"))
    val tot = perT.agg(sum(col("__m1")).as("__N1"),
      sum(col("__m")).as("__N"))
    val wBefore = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val steps = perT
      .withColumn("__b1",
        coalesce(sum(col("__m1")).over(wBefore), lit(0L)))
      .withColumn("__b", coalesce(sum(col("__m")).over(wBefore), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__n1", col("__N1") - col("__b1"))
      .withColumn("__n", col("__N") - col("__b"))
      .filter(col("__d") > 0)
    val dD = col("__d").cast("double"); val nD = col("__n").cast("double")
    val n1D = col("__n1").cast("double")
    val eT = round(dD * n1D / nD, 6).cast("decimal(18,6)")
    val vT = when(col("__n") > 1,
        round((dD * n1D / nD) * (lit(1.0) - n1D / nD) *
          ((nD - dD) / (nD - lit(1.0))), 6))
      .otherwise(lit(0.0)).cast("decimal(18,6)")
    steps.agg(
        max(col("__N1")).as("n_a"),
        (max(col("__N")) - max(col("__N1"))).as("n_b"),
        sum(col("__d1")).as("observed_a"),
        sum(eT).cast("double").as("expected_a"),
        sum(vT).cast("double").as("variance"))
      .withColumn("chi2",
        when(col("variance") > 0,
          round((col("observed_a").cast("double") - col("expected_a")) *
            (col("observed_a").cast("double") - col("expected_a")) /
            col("variance"), 6)))
  }

  /** Temperature-scaled sampling mixture — the multilingual /
    * multi-domain data-mixture recipe (the mBERT/XLM-R exponential
    * smoothing): sampling share p_g ∝ n_g^α flattens the raw size
    * distribution toward uniform as α → 0, so low-resource groups
    * are up-sampled with a single knob. Per group the op reports the
    * raw share, the temperature share, and the up/down-sampling
    * multiplier p_temp/p_raw (the number a sampler actually applies
    * per group). n^α terms are one pow each, rounded once to 6 and
    * summed EXACTLY in decimal (order-free denominator); shares are
    * single double divisions rounded once.
    *
    * Scale shape: one hash agg to the groups frame; the two share
    * denominators attach as a 1-row broadcast.
    *
    * @param alphaMicros temperature exponent α in micro-units
    *        (300000 = the common α = 0.3)
    * @return one row per group: (groupCols*, n, p_raw, p_temp,
    *         weight_multiplier) */
  def temperatureMix(df: DataFrame, groupCols: Seq[String],
                     alphaMicros: Long = 300000L): DataFrame = {
    require(alphaMicros > 0, "alphaMicros must be > 0")
    val g = groupCols.map(col)
    val alpha = alphaMicros.toDouble / 1e6
    val grouped = df
      .filter(groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(g: _*).agg(count(lit(1)).as("n"))
      .withColumn("__t",
        round(pow(col("n").cast("double"), lit(alpha)), 6)
          .cast("decimal(18,6)"))
    val tot = grouped.agg(sum(col("n")).as("__nt"),
      sum(col("__t")).cast("decimal(28,6)").as("__tt"))
    grouped.crossJoin(broadcast(tot))
      .select((g :+ col("n") :+
        round(col("n").cast("double") / col("__nt").cast("double"), 6)
          .as("p_raw") :+
        round(col("__t").cast("double") / col("__tt").cast("double"), 6)
          .as("p_temp") :+
        round((col("__t").cast("double") / col("__tt").cast("double")) /
          (col("n").cast("double") / col("__nt").cast("double")), 6)
          .as("weight_multiplier")): _*)
  }

  /** Pettitt changepoint test — the nonparametric "WHEN did this
    * series shift?" companion to [[mannKendall]] (MK asks IF a
    * monotone trend exists; Pettitt locates a single abrupt
    * level-change and attaches a significance): U_k = 2·Σ_{i≤k}r̄_i −
    * k(n+1) over the series' average ranks (the rank form of
    * Σ_{i≤k}Σ_{j>k} sign(x_i − x_j)), K = max_k |U_k| over k < n,
    * changepoint = the index attaining K (smallest k on ties), and
    * the classic tail bound p ≈ 2·exp(−6K²/(n³+n²)) clamped at 1.
    * Ties carry EXACT integer doubled average ranks
    * (2r̄ = 2·below + t + 1), so every U_k is an exact integer in
    * decimal(38,0) — the statistic is reproducible bit-for-bit under
    * any partitioning; only the final p-value is one double exp,
    * rounded once.
    *
    * Scale contract: unlike [[mannKendall]]'s pair join, this is
    * prefix-sum shaped end-to-end — one distinct-value hash agg +
    * the bucketed [[Prefix.strictBelow]] hierarchy for ranks, a
    * rank-attach join, a second Prefix pass over the time index for
    * the running sums, and a TakeOrdered(1) for the arg-max: a
    * BILLION-point series works. One row per `idxCol` (the caller
    * owns the reduction to a series frame); n < 2 returns zero rows.
    *
    * @param idxCol long time index, one row per value
    * @return one row: (n, u_max, change_at, p_value) — change_at is
    *         the LAST index of the pre-change segment */
  def pettittTest(df: DataFrame, idxCol: String, valCol: String,
                  bucketSize: Long = 1048576L): DataFrame = {
    require(bucketSize >= 2, "bucketSize must be >= 2")
    val dec = "decimal(38,0)"
    val mu = (round(col(valCol).cast("double"), 6)
      .cast("decimal(18,6)") * 1000000L).cast(dec).cast("long")
    val src = df.filter(col(idxCol).isNotNull && col(valCol).isNotNull)
      .select(col(idxCol).cast("long").as("__i"), mu.as("__v"))
    val vals = src.groupBy(col("__v")).agg(count(lit(1)).as("__t"))
    val ranks = Prefix.strictBelow(vals, Nil, "__v", Seq("__t"),
        bucketSize)
      .select(col("__v"),
        (lit(2L) * col("__below___t") + col("__t") + 1L).as("__r2"))
    val seq0 = src.join(ranks, Seq("__v"))
      .select(col("__i"), col("__r2"), lit(1L).as("__one"))
    val cum = Prefix.strictBelow(seq0, Nil, "__i",
        Seq("__r2", "__one"), bucketSize)
      .select(col("__i"),
        (col("__below___r2") + col("__r2")).as("__w"),
        (col("__below___one") + lit(1L)).as("__k"))
    val n = src.agg(count(lit(1)).as("__n"))
    val u = cum.crossJoin(broadcast(n))
      .filter(col("__k") < col("__n"))
      .select(col("__i"), col("__k"), col("__n"),
        abs(col("__w").cast(dec) -
          col("__k").cast(dec) * (col("__n") + 1L).cast(dec))
          .as("__au"))
    u.orderBy(col("__au").desc, col("__k").asc).limit(1)
      .select(col("__n").as("n"),
        col("__au").cast("long").as("u_max"),
        col("__i").as("change_at"),
        round(least(lit(1.0), lit(2.0) * exp(
          lit(-6.0) * col("__au").cast("double") *
            col("__au").cast("double") /
          (col("__n").cast(dec) * col("__n") * col("__n") +
            col("__n").cast(dec) * col("__n")).cast("double"))), 6)
          .as("p_value"))
  }

  /** Mann–Kendall trend test + Sen's slope over an ordered series
    * frame — the nonparametric "is this KPI drifting?" pair every
    * monitoring stack wants: MK asks IF a monotone trend exists
    * (S = Σ_{i<j} sign(x_j − x_i), variance with the tie correction,
    * the ±1-continuity Z), Sen answers HOW STEEP (the lower median of
    * all pairwise slopes — the robust slope estimator). Everything
    * before the final Z division is exact: S is an integer sum over
    * the pair frame, 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) is
    * integer (so Var carries no division error), pairwise slopes
    * truncate to micro-units per unit index, and the median is the
    * LOWER order statistic (the MAD convention — no mean of two
    * middles). |S| ≤ 1 → z 0 by the continuity correction; Var 0
    * (all ties) → z null.
    *
    * Scale contract: the input is a SERIES FRAME (daily totals, a
    * per-key curve), not a corpus — the n(n−1)/2 pair join and the
    * single-partition median window are priced for thousands of
    * points, not billions; aggregate upstream (the caller owns the
    * reduction, as with [[funnel]]'s stage frame).
    *
    * @param idxCol integer/long time index (equally-spaced ranks —
    *        Sen's slope is per unit of THIS index)
    * @return one row: (n, s, var18, z, sen_slope_micros) */
  def mannKendall(df: DataFrame, idxCol: String,
                  valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val mu = (round(col(valCol).cast("double"), 6)
      .cast("decimal(18,6)") * 1000000L).cast(dec).cast("long")
    val src = df.filter(col(idxCol).isNotNull && col(valCol).isNotNull)
      .select(col(idxCol).cast("long").as("__i"), mu.as("__v"))
    val a = src.select(col("__i").as("__ia"), col("__v").as("__va"))
    val b = src.select(col("__i").as("__ib"), col("__v").as("__vb"))
    val pairs = a.join(b, col("__ia") < col("__ib"))
      .select(signum((col("__vb") - col("__va")).cast("double"))
          .cast("long").as("__sgn"),
        expr("(__vb - __va) div (__ib - __ia)").as("__sl"))
    val sAgg = pairs.agg(
      coalesce(sum(col("__sgn")), lit(0L)).as("__s"),
      count(lit(1)).as("__npairs"))
    val n = src.agg(count(lit(1)).as("__n"))
    val ties = src.groupBy(col("__v")).agg(count(lit(1)).as("__t"))
      .filter(col("__t") > 1)
      .agg(coalesce(sum(col("__t").cast(dec) * (col("__t") - 1) *
        (lit(2).cast(dec) * col("__t") + 5)), lit(0).cast(dec))
        .as("__tieterm"))
    val wM = Window.orderBy(col("__sl"))
    val med = pairs.withColumn("__r", row_number().over(wM))
      .crossJoin(broadcast(sAgg.select(col("__npairs"))))
      .filter(col("__r") === expr("(__npairs + 1) div 2"))
      .agg(min(col("__sl")).as("sen_slope_micros"))
    sAgg.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .crossJoin(broadcast(med))
      .select(col("__n").as("n"), col("__s").as("s"),
        (col("__n").cast(dec) * (col("__n") - 1) *
          (lit(2).cast(dec) * col("__n") + 5) - col("__tieterm"))
          .cast("long").as("var18"),
        col("sen_slope_micros"))
      .select(col("n"), col("s"),
        col("var18"),
        when(col("var18") > 0,
          round(when(abs(col("s")) <= 1, lit(0.0))
            .otherwise((col("s").cast("double") -
              signum(col("s").cast("double"))) /
              sqrt(col("var18").cast("double") / 18.0)), 6)).as("z"),
        col("sen_slope_micros"))
  }

  /** Time-decayed top-k (trending) — recency-weighted popularity,
    * the ranking every "trending now" surface uses: each event
    * contributes 2^(−age/halfLife) toward its key, so an event one
    * half-life old counts half as much as one at the reference
    * instant. The decay weight is computed per row as a round-6
    * decimal (ages are exact epoch-second integers; one pow per row,
    * rounded once), so the per-key sum is an EXACT decimal reduction
    * — order-free, engine-replayable — and the final ranking ties
    * break on the key. The reference time is an explicit parameter
    * (never now(): a deterministic op cannot read the clock).
    *
    * Scale shape: one narrow projection into a key-hash agg with
    * map-side combine, then TakeOrdered for the top k — no window, no
    * global sort. Mergeable across partitions/shards by construction
    * (decayed counts add).
    *
    * @return top-k rows: (keyCols*, n_events, decayed_score) ordered
    *         by (decayed_score desc, keys) */
  def decayedTopK(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  refTs: java.sql.Timestamp, halfLifeHours: Double,
                  k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(halfLifeHours > 0, "halfLifeHours must be > 0")
    val ageSec = lit(refTs.getTime / 1000) -
      unix_timestamp(col(tsCol))
    val wgt = round(pow(lit(0.5),
        ageSec.cast("double") / lit(halfLifeHours * 3600.0)), 6)
      .cast("decimal(18,6)")
    val g = keyCols.map(col)
    df.filter(col(tsCol).isNotNull &&
        keyCols.map(col(_).isNotNull).reduce(_ && _))
      .filter(unix_timestamp(col(tsCol)) <= refTs.getTime / 1000)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_events"),
        sum(wgt).cast("decimal(28,6)").as("__s"))
      .select((g :+ col("n_events") :+
        col("__s").cast("double").as("decayed_score")): _*)
      .orderBy((col("decayed_score").desc +: g): _*)
      .limit(k)
  }

  /** Gini coefficient of a non-negative quantity over units — the
    * concentration number for "is this corpus dominated by a few
    * domains / users / sources?" (data-mixture audits report exactly
    * this before setting sampling weights). With units sorted
    * ascending by total x (rank i = 1..n),
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n, algebraically collapsed to the
    * ONE rational (2S − (n+1)T) / (n·T) evaluated on exact integers
    * (S in decimal(38,0), T in micro-units), one double division. Tie
    * blocks contribute x·(c·below + c(c+1)/2) — the rank-sum of the
    * block in closed form, so no per-unit rank (and no tie-order
    * dependence) exists anywhere. Units whose total is negative are
    * excluded and counted (Gini is undefined below zero); n = 0 or
    * T = 0 → gini null.
    *
    * Scale shape: one hash agg to the units frame, a second to its
    * distinct-total frame, strict-below prefix counts via
    * [[Prefix.strictBelow]] (two-level bucketed hierarchy — no
    * single-partition window over units), 1-row reduce.
    *
    * @return one row: (n_units, n_negative_excluded, total_micros,
    *         gini) */
  def giniConcentration(df: DataFrame, unitCols: Seq[String],
                        weightCol: String,
                        bucketSize: Long = 1048576L): DataFrame = {
    val dec = "decimal(38,0)"
    val units = df.filter(col(weightCol).isNotNull)
      .groupBy(unitCols.map(col): _*)
      .agg((sum(round(col(weightCol).cast("double"), 6)
          .cast("decimal(28,6)")) * 1000000L)
        .cast(dec).cast("long").as("__x"))
    val negs = units.filter(col("__x") < 0)
      .agg(count(lit(1)).as("__nneg"))
    val dv = units.filter(col("__x") >= 0)
      .groupBy(col("__x")).agg(count(lit(1)).as("__c"))
    val below = Prefix.strictBelow(dv, Nil, "__x", Seq("__c"),
      bucketSize)
    val agg = below.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__n"),
      coalesce(sum(col("__c").cast(dec) * col("__x").cast(dec)),
        lit(0).cast(dec)).as("__t"),
      coalesce(sum(col("__x").cast(dec) *
        (col("__c").cast(dec) * col("__below___c").cast(dec) +
          (col("__c").cast(dec) * (col("__c").cast(dec) + 1))
            / lit(2).cast(dec))), lit(0).cast(dec)).as("__s"))
    agg.crossJoin(negs) // 1-row x 1-row scalar attach
      .select(col("__n").as("n_units"),
        col("__nneg").as("n_negative_excluded"),
        col("__t").cast("long").as("total_micros"),
        when(col("__n") > 0 && col("__t") > 0,
          round((lit(2).cast(dec) * col("__s") -
            (col("__n").cast(dec) + 1) * col("__t")).cast("double") /
            (col("__n").cast(dec) * col("__t")).cast("double"), 6))
          .as("gini"))
  }

  /** 2-D Pareto frontier (skyline): the points no other point
    * dominates, both dimensions maximized — the trade-off curve of
    * any two-metric selection (quality × length doc picks,
    * cost × accuracy model sweeps). p dominates q iff p ≥ q on both
    * and > on at least one; equal points don't dominate each other,
    * so a duplicated frontier point survives (emitted once — the
    * frontier is a SET of points).
    *
    * Scale shape: one hash agg collapses the corpus to the distinct-x
    * frame (x, max y) — anything below its x's max-y is dominated
    * there — then one ordered window over THAT frame (x-cardinality
    * rows, not corpus rows) keeps x's whose max-y strictly exceeds
    * every higher-x max-y. For a corpus whose x is continuous enough
    * that distinct-x ≈ corpus, quantize x upstream (the frontier of
    * rounded x is the honest resolution of the answer anyway).
    *
    * @return (xCol, yCol) — the frontier points, maximizing both */
  def paretoFrontier(df: DataFrame, xCol: String,
                     yCol: String): DataFrame = {
    val byX = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol)).agg(max(col(yCol)).as(yCol))
    val w = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byX.withColumn("__best", max(col(yCol)).over(w))
      .filter(col("__best").isNull || col(yCol) > col("__best"))
      .select(col(xCol), col(yCol))
  }

  /** Rank-biased overlap (Webber et al. 2010), truncated at `depth` —
    * the top-weighted agreement score between two per-query rankings,
    * THE metric for auditing an ANN shortlist against its brute-force
    * twin (or any two retrieval runs): unlike Jaccard@k it rewards
    * agreeing EARLY, with geometric patience p. Truncated base form:
    * RBO@k = (1−p)·Σ_{d=1..k} p^(d−1)·|A_d ∩ B_d|/d (the residual of
    * unseen tails is out of scope by contract — both inputs ARE the
    * full rankings to depth k).
    *
    * Relational shape: an item ranked ra in A and rb in B joins the
    * overlap set at every d ≥ max(ra, rb), so its total contribution
    * is W(m) = Σ_{d=m..k} p^(d−1)/d — `depth` DRIVER-SIDE constants
    * entering the plan as exact round-6 decimal literals (term-wise
    * round, the a58 POWER discipline, replayed identically by the
    * oracle); per query one (query,item) equi-join, one decimal sum,
    * one ×(1−p) exact product, one double cast rounded once. Queries
    * with NO common item score 0.0 (present, not dropped).
    *
    * Scale shape: both inputs are k-bounded per query by contract, so
    * the join and agg are O(queries·k) — never corpus-scale.
    *
    * @param a,b rankings: (queryCol, itemCol, rankCol), rank 1-based
    * @return (queryCol, n_common, rbo) per distinct query of a ∪ b */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, queryCol: String,
                        itemCol: String, rankCol: String, depth: Int,
                        pMicros: Long = 900000L): DataFrame = {
    require(depth >= 1, "depth must be >= 1")
    require(pMicros > 0 && pMicros < 1000000L,
      "pMicros must be in (0, 1e6)")
    val p = pMicros.toDouble / 1e6
    def d6(v: BigDecimal): Column =
      lit(v.setScale(6, BigDecimal.RoundingMode.HALF_UP).underlying())
        .cast("decimal(18,6)")
    val terms = (1 to depth).map(d =>
      BigDecimal(math.pow(p, d - 1) / d)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))
    def sel(df: DataFrame, r: String): DataFrame =
      df.filter(col(queryCol).isNotNull && col(itemCol).isNotNull &&
        col(rankCol).isNotNull && col(rankCol) <= depth)
        .select(col(queryCol).as("__q"), col(itemCol).as("__i"),
          col(rankCol).cast("int").as(r))
    val fa = sel(a, "__ra")
    val fb = sel(b, "__rb")
    val wOfM = (1 to depth).foldLeft(lit(null).cast("decimal(18,6)")) {
      case (acc, m) =>
        when(greatest(col("__ra"), col("__rb")) === m,
          d6(terms.drop(m - 1).sum)).otherwise(acc)
    }
    val perQ = fa.join(fb, Seq("__q", "__i"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("n_common"), sum(wOfM).as("__ws"))
    val oneMinusP = d6(BigDecimal(1000000L - pMicros) / 1000000L)
    fa.select(col("__q")).union(fb.select(col("__q"))).distinct()
      .join(perQ, Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round((coalesce(col("__ws"), lit(0).cast("decimal(18,6)")) *
          oneMinusP).cast("double"), 6).as("rbo"))
  }

  /** Entropy-regularized optimal-transport (Sinkhorn) distance
    * between two binned value distributions — the GEOMETRY-AWARE
    * drift metric the KS/PSI family can't give: KS and PSI score
    * "how much mass moved", Sinkhorn scores "how much mass moved
    * TIMES HOW FAR" (an EMD approximation, Cuturi 2013), which is
    * what a data-mixing audit actually wants when one source's
    * length/score distribution shifts by two buckets vs twenty.
    * Cost between bins is their INDEX distance |i−j| (one unit per
    * bucket step); kernel K = exp(−c/ε); `iters` Sinkhorn scalings
    * u ← p/(Kv), v ← q/(Kᵀu) from v₀ = 1, then
    * cost = Σᵢⱼ uᵢKᵢⱼvⱼ·cᵢⱼ and the transported-mass audit
    * Σᵢⱼ uᵢKᵢⱼvⱼ (≈1 at convergence — a visible convergence check).
    *
    * Determinism (engine-free): bin masses round once to 6; the
    * kernel rounds once to 6 AFTER the exp (irrational — no
    * structural midpoints); every iterate uᵢ/vⱼ is one double
    * division of exact integers rounded to the micro grid; ALL sums
    * (Kv, Kᵀu, the two final reductions) are exact decimal(38,0)
    * products of micro-unit longs — order-free, so any partitioning
    * gives the bit-identical answer and the oracle replays every
    * scaling on HUGEINT.
    *
    * Scale shape: ONE corpus hash agg to the bins frame (bin =
    * micro-value `div` binWidthMicros, truncation toward zero —
    * sign-explicit in the oracle); everything after lives on the
    * bins and bins² frames (the contingency-grid scale). Pick ε ≥
    * span/14 so the round-6 kernel keeps distant occupied bins
    * connected (exp(−14) rounds to zero); a disconnected row NULLs
    * its iterate rather than dividing by zero.
    *
    * @param inA boolean Column: true → distribution A, false → B
    * @param binWidthMicros bucket width in micro value-units
    * @param epsMicros regularization ε in micro bin-index units
    * @return one row: (n_a, n_b, n_bins, cost, transported_mass) */
  def sinkhornOt(df: DataFrame, valueCol: String, inA: Column,
                 binWidthMicros: Long, iters: Int = 5,
                 epsMicros: Long = 3000000L): DataFrame = {
    require(binWidthMicros > 0, "binWidthMicros must be > 0")
    require(iters >= 1, "iters must be >= 1")
    require(epsMicros > 0, "epsMicros must be > 0")
    val dec = "decimal(38,0)"
    val mu6 = (c: Column) => (round(c.cast("double"), 6)
      .cast("decimal(18,6)") * 1000000L).cast(dec).cast("long")
    val src = df.filter(col(valueCol).isNotNull && inA.isNotNull)
      .select(inA.as("__a"), mu6(col(valueCol)).as("__vm"))
      .withColumn("__bin", expr(s"__vm div ${binWidthMicros}L"))
    val counts = src.groupBy(col("__bin"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val tot = Iterate.pin(counts.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("__na"),
      coalesce(sum(col("__cb")), lit(0L)).as("__nb")))
    val mass = Iterate.pin(counts.crossJoin(broadcast(tot))
      .select(col("__bin"),
        when(col("__na") > 0, mu6(col("__ca").cast("double") /
          col("__na").cast("double"))).as("__pm"),
        when(col("__nb") > 0, mu6(col("__cb").cast("double") /
          col("__nb").cast("double"))).as("__qm")))
    val eps = epsMicros.toDouble / 1e6
    val kmat = Iterate.pin(mass.select(col("__bin").as("__i"))
      .crossJoin(mass.select(col("__bin").as("__j")))
      .select(col("__i"), col("__j"),
        abs(col("__i") - col("__j")).as("__c"))
      .withColumn("__km",
        mu6(exp(-col("__c").cast("double") / lit(eps)))))
    // micro-grid iterate from exact pico sums: one division, one round
    def scale(pm: Column, sumPico: Column): Column =
      when(sumPico > 0, (round((pm.cast("double") / lit(1e6)) /
        (sumPico.cast("double") / lit(1e12)), 6)
        .cast("decimal(18,6)") * 1000000L).cast(dec).cast("long"))
    var v = Iterate.pin(mass.select(col("__bin").as("__j"),
      when(col("__qm").isNotNull, lit(1000000L)).as("__vm")))
    var u = v.limit(0).select(col("__j").as("__i"),
      col("__vm").as("__um"))
    for (_ <- 1 to iters) {
      u = Iterate.pin(kmat.join(v, Seq("__j"))
        .groupBy(col("__i"))
        .agg(sum(col("__km").cast(dec) * col("__vm")).as("__kv"))
        .join(mass.select(col("__bin").as("__i"), col("__pm")),
          Seq("__i"))
        .select(col("__i"), scale(col("__pm"), col("__kv")).as("__um")))
      v = Iterate.pin(kmat.join(u, Seq("__i"))
        .groupBy(col("__j"))
        .agg(sum(col("__km").cast(dec) * col("__um")).as("__ku"))
        .join(mass.select(col("__bin").as("__j"), col("__qm")),
          Seq("__j"))
        .select(col("__j"), scale(col("__qm"), col("__ku")).as("__vm")))
    }
    val plan = kmat.join(u, Seq("__i")).join(v, Seq("__j"))
      .agg(sum(col("__um").cast(dec) * col("__km") * col("__vm") *
        col("__c")).as("__cost18"),
        sum(col("__um").cast(dec) * col("__km") * col("__vm"))
          .as("__mass18"),
        count(when(col("__um").isNull || col("__vm").isNull, 1L))
          .as("__nulls"))
    val nBins = mass.select(count(lit(1)).as("__bins"))
    tot.crossJoin(broadcast(nBins)).crossJoin(broadcast(plan))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        col("__bins").as("n_bins"),
        when(col("__na") > 0 && col("__nb") > 0 && col("__nulls") === 0,
          round(col("__cost18").cast("double") / lit(1e18), 6))
          .as("cost"),
        when(col("__na") > 0 && col("__nb") > 0 && col("__nulls") === 0,
          round(col("__mass18").cast("double") / lit(1e18), 6))
          .as("transported_mass"))
  }

  /** The micro-unit linear score of a logistic model: z in PICO units
    * (micro-β × micro-x) as an exact integer column — b₀·10⁶ +
    * Σ βμ_j·xμ_j over micro-unit feature columns. Classification at
    * the 0.5 probability threshold is the EXACT integer comparison
    * z_pico ≥ 0 (σ(z) ≥ ½ ⟺ z ≥ 0), so model evaluation never
    * touches a float. With |βμ| ≤ iters·10⁶ and |xμ| ≤ 10⁶, z_pico ≤
    * (d+1)·iters·10¹² — long-safe for any sane d·iters. */
  def logisticScorePico(betaMicros: Seq[Long],
                        microFeatCols: Seq[String]): Column = {
    require(betaMicros.length == microFeatCols.length + 1,
      "need one beta per feature plus the intercept (first)")
    microFeatCols.zip(betaMicros.tail)
      .map { case (c, b) => col(c) * lit(b) }
      .foldLeft(lit(betaMicros.head * 1000000L): Column)(_ + _)
  }

  /** Deterministic LOGISTIC-REGRESSION training by unrolled gradient
    * ascent in exact micro-unit integers — the model half of the
    * reference README's promise ("a blocked dataset to develop a
    * model to predict the probability of death",
    * `/root/reference/README.md:2`): [[graft.clif.BlockedDataset]]
    * builds the matrix, this fits the predictor, and the WHOLE
    * training loop is a replayable relational computation (the
    * unrolled-rounds PCA/Sinkhorn discipline), not a black-box
    * solver.
    *
    * One ascent step (learning rate 1, per-example-averaged): βμ_j ←
    * βμ_j + round_half_away(Σ_i xμ_ij·(yμ_i − σμ_i) / (n·10⁶)).
    * EVERY state is an exact integer: features enter as round-6
    * micro-units (decimal multiply, never a double×10⁶ truncation),
    * σμ_i = round-6(1/(1+e^(−z_pico/10¹²)))·10⁶ is the iteration's
    * ONLY float touch (z_pico < 2⁵³ so the int→double conversion is
    * exact; ln/exp libm parity is the board's a59-sinkhorn
    * precedent), residuals and gradient sums are exact
    * decimal(38,0), the gradient division uses the holtSeasonal
    * sign-explicit half-away integer division, and the β update is
    * an exact long add. Two engines replaying this walk agree
    * BIT-FOR-BIT — the property that lets `clif_mortality_model`
    * carry a full DuckDB oracle.
    *
    * Scale shape: per iteration ONE scan of the feature frame into a
    * (d+1)-sum hash agg (map-side combined); β rides back as
    * literals (d+1 scalars on the driver — the PCA basis-collect
    * pattern). iters × one pass, nothing quadratic, no shuffle
    * beyond the agg. Cache the feature frame upstream if it is
    * expensive to recompute.
    *
    * @param feats    one row per training example
    * @param featCols numeric feature columns, ideally bounded O(1)
    *                 magnitudes (ratios, normalized counts) — GD with
    *                 unit learning rate assumes feature scales near 1
    * @param labelCol 0/1 integer label
    * @param iters    unrolled ascent steps from β = 0
    * @return betaMicros, length featCols+1: intercept first, then one
    *         per feature in `featCols` order */
  def logisticGdMicros(feats: DataFrame, featCols: Seq[String],
                       labelCol: String, iters: Int): Array[Long] = {
    require(iters >= 1 && iters <= 64, "iters must be in [1, 64]")
    require(featCols.nonEmpty, "need at least one feature")
    // the micro frame is example-sized (tiny next to whatever built
    // the features) and is scanned once per iteration — pin it so the
    // upstream pipeline runs ONCE, not iters times
    val micro = Iterate.pin(feats.select(
      (col(labelCol).cast("long") * 1000000L).as("__ym") +:
        featCols.zipWithIndex.map { case (c, j) =>
          r6m(col(c)).as(s"__x$j")
        }: _*))
    gdLoop(micro, featCols.length, iters)
  }

  /** A value as round-6 micro-units (exact decimal multiply). */
  private[graft] def r6m(c: Column): Column =
    (round(c.cast("double"), 6).cast("decimal(18,6)") *
      lit(1000000L)).cast("long")

  /** The ascent loop over an already-micro frame (`__ym`, `__x0`…):
    * one (d+1)-sum hash-agg scan per iteration. */
  private def gdLoop(micro: DataFrame, nFeats: Int,
                     iters: Int): Array[Long] = {
    val dec38 = "decimal(38,0)"
    val xCols = "__one" +: (0 until nFeats).map(j => s"__x$j")
    val beta = Array.fill(nFeats + 1)(0L)
    for (_ <- 1 to iters) {
      val z = logisticScorePico(beta.toSeq,
        (0 until nFeats).map(j => s"__x$j"))
      val sigmaMu = (round(
        lit(1.0) / (lit(1.0) + exp(-(z.cast("double") / lit(1e12)))),
        6).cast("decimal(18,6)") * lit(1000000L)).cast("long")
      val withR = micro
        .withColumn("__one", lit(1000000L))
        .withColumn("__r", col("__ym") - sigmaMu)
      val sums = withR.agg(count(lit(1)).as("__n"),
        xCols.map(c =>
          sum(col(c).cast(dec38) * col("__r")).as(s"__s_$c")): _*)
        .collect().head
      val n = sums.getAs[Long]("__n")
      require(n > 0, "empty training frame")
      val d = java.math.BigDecimal.valueOf(n)
        .multiply(java.math.BigDecimal.valueOf(1000000L))
      xCols.zipWithIndex.foreach { case (c, j) =>
        val s = sums.getAs[java.math.BigDecimal](s"__s_$c")
          .toBigInteger
        // sign-explicit half-away integer division (the holtSeasonal
        // pattern): round(s/d) with both engines truncating alike
        val two = java.math.BigInteger.TWO
        val dd = d.toBigInteger
        val g = s.abs.multiply(two).add(dd)
          .divide(dd.multiply(two))
        beta(j) += (if (s.signum < 0) -g.longValueExact()
                    else g.longValueExact())
      }
    }
    beta
  }

  /** Train-and-report wrapper over [[logisticGdMicros]]: trains on
    * the `splitCol == 'train'` slice, reports the exact micro-unit
    * coefficients plus train/test accuracy at the 0.5 threshold —
    * which is the EXACT integer sign test on z_pico, so the two
    * accuracies are float-free (their final ratios round once).
    *
    * @return one row: n_train, n_test, b_intercept_micros,
    *         b_<feat>_micros per feature, train_acc, test_acc */
  def logisticModelReport(feats: DataFrame, featCols: Seq[String],
                          labelCol: String, splitCol: String,
                          iters: Int): DataFrame = {
    // build the micro features ONCE (pinned, example-sized); the
    // train slice feeds the ascent loop, the whole frame scores
    val micro = Iterate.pin(feats.select(
      col(splitCol).as("__split") +:
        col(labelCol).cast("long").as("__y") +:
        featCols.zipWithIndex.map { case (c, j) =>
          r6m(col(c)).as(s"__x$j")
        }: _*))
    val beta = gdLoop(
      micro.filter(col("__split") === "train")
        .withColumn("__ym", col("__y") * 1000000L),
      featCols.length, iters)
    val z = logisticScorePico(beta.toSeq,
      featCols.indices.map(j => s"__x$j"))
    val correct = ((z >= 0) === (col("__y") === 1L))
    def acc(split: String) = Seq(
      sum(when(col("__split") === split && correct, 1L)
        .otherwise(0L)).as(s"__c_$split"),
      sum(when(col("__split") === split, 1L).otherwise(0L))
        .as(s"__n_$split"))
    val accs = acc("train") ++ acc("test")
    val agg = micro.agg(accs.head, accs.tail: _*)
    val betaCols = ("intercept" +: featCols).zip(beta).map {
      case (name, b) => lit(b).as(s"b_${name}_micros")
    }
    agg.select(col("__n_train").as("n_train") +:
      col("__n_test").as("n_test") +: betaCols :+
      round(col("__c_train").cast("double") /
        col("__n_train").cast("double"), 6).as("train_acc") :+
      round(col("__c_test").cast("double") /
        col("__n_test").cast("double"), 6).as("test_acc"): _*)
  }
  /** Cox proportional-hazards model trained by unrolled partial-
    * likelihood gradient ascent (Cox 1972; Breslow tie handling) —
    * the classic clinical time-to-event model beside the logistic
    * capstone ([[logisticGdMicros]]): hazard_i(t) = h0(t)·exp(x_i·β),
    * fit by maximizing Σ_events [z_i − ln S0(t_i)] where
    * S0(t) = Σ_{j: dur_j ≥ t} exp(z_j) is the risk-set weight sum.
    * Gradient_k = Σ_events x_ik − Σ_t d_t·S1_k(t)/S0(t).
    *
    * Numerics (bit-replayable in SQL, the house training-loop
    * contract): β lives in exact MICRO-unit longs; z = Σ x_k·(β_k
    * micros / 10⁶) is a fixed left-fold chain of round-6 doubles,
    * rounded once; w = round6(exp(z)) is the only libm touch per
    * subject (ln/exp parity precedent); risk-set sums S0/S1_k are
    * EXACT decimal sums of round-6 terms (visit order cannot move
    * them) built as suffix-inclusive = total − [[Prefix.strictBelow]]
    * (the bucketed hierarchy — never a single-partition window over
    * the distinct-duration frame); each event-time ratio is ONE
    * double division of two in-range decimal casts, rounded; the β
    * step is the exact half-away integer division
    * Δ_micro = ±(2·|grad·10⁶| + 20·n_events) div (40·n_events)
    * — lr = 0.05/n_events, so the update is mean-scaled and z stays
    * bounded. Fixed `iters` budget: converged states are no-ops (the
    * unrolled-oracle contract).
    *
    * Scale shape: subjects scan ONCE per iteration into the
    * distinct-duration frame (hash agg, map-side combined), the
    * Prefix hierarchy runs there, and the gradient returns as ONE
    * 1-row aggregate (the logisticGdMicros bounded-collect pattern);
    * `subjects` is pinned once and re-scanned per round.
    *
    * @param subjects ONE row per subject
    * @param durationCol long duration (micro-units by convention)
    * @param observedCol boolean: event observed (true) vs censored
    * @param featCols numeric covariates (rounded to 6 dp on entry)
    * @return ONE row: n_subjects, n_events, b_<feat>_micros (exact
    *         longs), loglik (round-6 double, final-β Breslow partial
    *         log-likelihood) */
  def coxPartialGd(subjects: DataFrame, durationCol: String,
                   observedCol: String, featCols: Seq[String],
                   iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16]")
    require(featCols.nonEmpty, "need at least one covariate")
    def r6(c: Column) = round(c, 6)
    val idx = featCols.indices
    val base = Iterate.pin(subjects.select(
        col(durationCol).cast("long").as("__dur") +:
        col(observedCol).cast("boolean").as("__e") +:
        idx.map(j => r6(col(featCols(j)).cast("double")).as(s"__x$j")): _*)
      .filter(col("__dur").isNotNull && col("__e").isNotNull))

    /** Distinct-duration frame with suffix-inclusive risk-set sums
      * for the given β (micros): __dt, __sx_j (event-row covariate
      * sums), __S0, __S1j, plus __sz (event-row z sums, for loglik). */
    def riskFrame(betaMicros: Seq[Long]): DataFrame = {
      val z = r6(idx.map(j =>
        col(s"__x$j") * lit(betaMicros(j).toDouble / 1000000.0))
        .reduce(_ + _))
      val withW = base.withColumn("__z", z)
        .withColumn("__w", r6(exp(col("__z"))))
      val aggs =
        sum(when(col("__e"), 1L).otherwise(0L)).as("__dt") +:
        sum(col("__w").cast("decimal(18,6)")).as("__sw") +:
        sum(when(col("__e"), col("__z")).otherwise(lit(0.0))
          .cast("decimal(28,6)")).as("__sz") +:
        idx.flatMap(j => Seq(
          sum(when(col("__e"), col(s"__x$j")).otherwise(lit(0.0))
            .cast("decimal(28,6)")).as(s"__sx$j"),
          sum(r6(col("__w") * col(s"__x$j"))
            .cast("decimal(28,6)")).as(s"__st$j")))
      val per = withW.groupBy(col("__dur")).agg(aggs.head, aggs.tail: _*)
      val below = Prefix.strictBelow(per, Nil, "__dur",
        "__sw" +: idx.map(j => s"__st$j"))
      val totAggs = sum(col("__sw")).as("__tw") +:
        idx.map(j => sum(col(s"__st$j")).as(s"__tt$j"))
      val tot = per.agg(totAggs.head, totAggs.tail: _*)
      below.crossJoin(broadcast(tot))
        .withColumn("__S0", col("__tw") - col("__below___sw"))
        .select(col("__dur") +: col("__dt") +: col("__sz") +:
          col("__S0") +:
          idx.flatMap(j => Seq(col(s"__sx$j"),
            (col(s"__tt$j") - col(s"__below___st$j")).as(s"__S1$j"))): _*)
    }

    /** Exact half-away-from-zero integer division (the holtSeasonal /
      * gdLoop convention): sign·((2·|g| + d) div (2·d)). */
    def halfAway(g: java.math.BigInteger, d: java.math.BigInteger): Long = {
      val two = java.math.BigInteger.TWO
      val q = g.abs.multiply(two).add(d).divide(d.multiply(two))
      (if (g.signum() < 0) q.negate() else q).longValueExact()
    }

    val finalBeta = (1 to iters).foldLeft(idx.map(_ => 0L)) { (b, _) =>
      val ev = riskFrame(b).filter(col("__dt") > 0)
      val gradAggs =
        sum(col("__dt")).as("__ne") +:
        idx.map(j => (sum(col(s"__sx$j")) -
          sum(r6(col("__dt").cast("double") *
              r6(col(s"__S1$j").cast("double") /
                 col("__S0").cast("double")))
            .cast("decimal(28,6)"))).as(s"__g$j"))
      val row = ev.agg(gradAggs.head, gradAggs.tail: _*).head()
      val nEvents = row.getAs[Long]("__ne")
      if (nEvents == 0L) b
      else idx.map { j =>
        val g = row.getAs[java.math.BigDecimal](s"__g$j")
          .movePointRight(6).toBigIntegerExact()
        // lr = 0.05 / n_events: Δ_micro = halfAway(g·10⁶, 20·n)
        b(j) + halfAway(g,
          java.math.BigInteger.valueOf(20L * nEvents))
      }
    }

    val fin = riskFrame(finalBeta).filter(col("__dt") > 0)
    val llAggs = Seq(
      sum(col("__dt")).cast("long").as("n_events"),
      (sum(col("__sz")) -
        sum(r6(col("__dt").cast("double") *
            r6(log(col("__S0").cast("double"))))
          .cast("decimal(28,6)"))).as("__ll"))
    val n = base.count()
    fin.agg(llAggs.head, llAggs.tail: _*)
      .select(lit(n).as("n_subjects") +: col("n_events") +:
        idx.map(j =>
          lit(finalBeta(j)).as(s"b_${featCols(j)}_micros")) :+
        r6(col("__ll").cast("double")).as("loglik"): _*)
  }

  /** Bradley–Terry strengths from pairwise outcomes — the standard
    * aggregation of pairwise preference judgments (model A beat model
    * B) into a per-player strength ranking (Bradley & Terry 1952;
    * what LLM-eval arenas compute batch-side; Elo is its
    * order-DEPENDENT online cousin and has no deterministic batch
    * form, so the batch op is BT). `iters` rounds of the MM update
    * (Hunter 2004): p_i ← W_i / Σ_j n_ij/(p_i + p_j) from p = 1,
    * SYNCHRONOUS (every round reads the previous round's strengths),
    * fixed round budget — extra rounds on a converged state are
    * no-ops, the unrolled-oracle contract.
    *
    * Determinism/parity: each pair term n_ij/(p_i+p_j) is ONE double
    * division rounded to 6 dp, summed EXACTLY as decimal(28,6)
    * (shuffle/visit order cannot move the sum); the strength update
    * and the final share are each one rounded double division off
    * exact operands (denominator unscaled value stays far under 2⁵³,
    * the decimal→double boundary).
    *
    * Scale shape: the corpus of judgments collapses ONCE into the
    * (winner, loser) cells frame (one hash agg, map-side combined);
    * every MM round then runs on cells joined to the players-sized
    * strengths frame (broadcast both ways) — iters × cells-frame
    * work, the corpus is never rescanned.
    *
    * @param pairs one row per judgment: `winnerCol` beat `loserCol`
    * @return one row per player: wins, games, strength (round-6),
    *         share (strength / Σ strengths, round-6) */
  def bradleyTerry(pairs: DataFrame, winnerCol: String,
                   loserCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val w = pairs
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .groupBy(col(winnerCol).as("__a"), col(loserCol).as("__b"))
      .agg(count(lit(1)).as("__w"))
    // symmetric games frame: n_ij as (i, j) AND (j, i); per-player
    // wins/games ride along so no second corpus pass is ever needed
    // pin the cells frame and per-player totals once, and the
    // strengths every round (r20 opt, guide §1.2/§3.3): each MM round
    // broadcasts the strengths TWICE (p_i side, p_j side), two
    // projections the planner cannot dedupe, so an unpinned lineage
    // doubles per round (at iters=3 the optimizer alone cost ~8 s of
    // driver wall); pinned, every round plans cells ⋈ broadcast ⋈
    // broadcast
    val sym = Iterate.pin(
      w.select(col("__a").as("__i"), col("__b").as("__j"),
          col("__w").as("__wij"), lit(0L).as("__wji"))
        .unionByName(w.select(col("__b").as("__i"), col("__a").as("__j"),
          lit(0L).as("__wij"), col("__w").as("__wji")))
        .groupBy(col("__i"), col("__j"))
        .agg(sum(col("__wij")).as("__wij"),
          (sum(col("__wij")) + sum(col("__wji"))).as("__nij")))
    val totals = Iterate.pin(sym.groupBy(col("__i"))
      .agg(sum(col("__wij")).cast("long").as("wins"),
        sum(col("__nij")).cast("long").as("games")))
    val p0 = totals.select(col("__i"), lit(1.0).as("__p"))
    val (pFinal, _) = Iterate.loop(p0, iters) { (p, _) =>
      val term = sym
        .join(broadcast(p.select(col("__i"), col("__p").as("__pi"))),
          Seq("__i"))
        .join(broadcast(p.select(col("__i").as("__j"),
          col("__p").as("__pj"))), Seq("__j"))
        .select(col("__i"),
          round(col("__nij").cast("double") /
            (col("__pi") + col("__pj")), 6)
            .cast("decimal(28,6)").as("__t"))
        .groupBy(col("__i")).agg(sum(col("__t")).as("__den"))
      Iterate.Next(term
        .join(broadcast(totals.select(col("__i"), col("wins"))),
          Seq("__i"))
        .select(col("__i"),
          round(col("wins").cast("double") /
            col("__den").cast("double"), 6).as("__p")))
    }
    // share denominator: round-6 doubles cast to decimal(18,6) are
    // exact, so the players-frame sum is order-invariant
    val tot = pFinal.agg(
      sum(col("__p").cast("decimal(18,6)")).as("__sum"))
    pFinal.join(totals, Seq("__i"))
      .crossJoin(broadcast(tot))
      .select(col("__i").as("player"), col("wins"), col("games"),
        col("__p").as("strength"),
        round(col("__p") / col("__sum").cast("double"), 6).as("share"))
  }

  /** Dawid–Skene label aggregation (Dawid & Skene 1979) — EM over
    * noisy annotator labels, the batch op behind every multi-rater
    * eval/RLHF labeling pipeline: majority vote weighs a careless
    * rater the same as a careful one, while DS jointly estimates each
    * annotator's CONFUSION MATRIX and the posterior true label, so
    * reliable raters dominate. The eval-arena companion to
    * [[bradleyTerry]]: BT aggregates pairwise preferences, DS
    * aggregates categorical judgments.
    *
    * Fixed `rounds` of SYNCHRONOUS EM from majority-vote posteriors
    * (extra rounds on a converged state are no-ops — the
    * unrolled-oracle contract):
    *   M: confusion πₖ(c, l) = (Sₖ꜀ₗ + 1·10⁶) / (Sₖ꜀ + L·10⁶) over
    *      the FULL (k, c, l) grid (Laplace add-one in posterior
    *      units, so no cell is ever 0 and the E-step product never
    *      collapses); class priors get the same smoothing.
    *   E: posterior(i, c) ∝ prior(c) · Πₖ πₖ(c, lₖᵢ).
    *
    * Determinism/parity (the [[bradleyTerry]] discipline): posteriors
    * and π live as ROUND-6 MICRO-UNIT LONGS; all sums are exact
    * decimals (visit order cannot move them); the E-step product is
    * an exact decimal(38,0) integer product (one micro factor per
    * judgment on the item plus the prior). Items may carry up to 64
    * judgments (r18 verdict #5; the old cap was 5): past 5 factors
    * the product folds in SORTED factor order with a tracked
    * micro-unit exponent — whenever the mantissa crosses 10³¹ it
    * rescales by one micro unit (floor by 10⁶, exponent +1 — the a63
    * running-max discipline), so ≥ 25 significant digits survive any
    * depth; mixed-exponent likelihoods renormalize to the item's MAX
    * exponent before the posterior ratio (a term more than 5 micro
    * exponents below the max truncates to 0 — a < 10⁻³⁰ posterior
    * share, far beneath round-6 resolution). At ≤ 5 judgments the
    * plan stays the plain unstaged product (bit-identical by
    * construction — the stage cannot fire and multiplication
    * commutes; measured r19: the staged fold costs 2-4× interpreted
    * wall clock for nothing in that regime — and it is the regime
    * the oracle replays). Every division is ONE double ratio of
    * exact operands rounded once.
    *
    * Scale shape: the corpus-sized frames are the labels (N·A rows)
    * and posteriors (N·C rows); each round is one labels⋈posteriors
    * shuffle into the (k, c, l) confusion agg (a ≤ A·C·L-row frame,
    * broadcast back) and one labels⋈π-broadcast pass into the
    * (i, c) product agg — rounds × two exchanges, nothing
    * corpus-sized is ever collected or windowed in one partition.
    *
    * @param labels one row per judgment: (itemCol, annCol, labelCol)
    * @return one row per item: itemCol, ds_label (posterior argmax,
    *         ties to the lexicographically smallest label),
    *         ds_posterior (round-6) */
  def dawidSkene(labels: DataFrame, itemCol: String, annCol: String,
                 labelCol: String, rounds: Int = 2): DataFrame = {
    val (post, _, _) =
      dawidSkeneCore(labels, itemCol, annCol, labelCol, rounds)
    val wArg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__i"))
      .orderBy(col("__post").desc, col("__c"))
    post
      .withColumn("__rn", row_number().over(wArg))
      .filter(col("__rn") === 1)
      .select(col("__i").as(itemCol), col("__c").as("ds_label"),
        (col("__post").cast("double") / lit(1000000.0))
          .as("ds_posterior"))
  }

  /** The annotator-quality readout of the SAME EM run ([[dawidSkene]]
    * scaladoc): the last round's confusion DIAGONAL πₖ(c, c) — the
    * estimated rate annotator k reports class c correctly — plus the
    * smoothed class prior. A·C rows. */
  def dawidSkeneQuality(labels: DataFrame, itemCol: String,
                        annCol: String, labelCol: String,
                        rounds: Int = 2): DataFrame = {
    val (_, pi, priors) =
      dawidSkeneCore(labels, itemCol, annCol, labelCol, rounds)
    pi.filter(col("__c") === col("__l"))
      .join(priors, Seq("__c"))
      .select(col("__k").as("annotator"), col("__c").as("label"),
        (col("__pi").cast("double") / lit(1000000.0)).as("diag_rate"),
        (col("__prior").cast("double") / lit(1000000.0)).as("prior"))
  }

  /** Shared EM core: returns (final posteriors (i, c, post µ), last
    * M-step confusion (k, c, l, π µ), last priors (c, prior µ)) —
    * each pinned. */
  private def dawidSkeneCore(labels0: DataFrame, itemCol: String,
      annCol: String, labelCol: String, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 4, "rounds in [1,4]")
    def microR6(x: Column): Column =
      (round(x, 6).cast("decimal(18,6)") * lit(1000000L)).cast("long")
    // pin the judgments once: every round reads them twice (M-step
    // join, E-step fan-out) plus the dim/count probes — an unpinned
    // lineage re-derives the caller's construction ~10× per run
    val labels = Iterate.pin(labels0
      .filter(col(itemCol).isNotNull && col(annCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(itemCol).as("__i"), col(annCol).as("__k"),
        col(labelCol).as("__l")))
    val classDim = labels.select(col("__l").as("__c")).distinct()
    val annDim = labels.select(col("__k")).distinct()
    // dimension-scale scalar (class count) — the sanctioned driver
    // bound
    val lCount = classDim.count()
    require(lCount >= 2, s"need >= 2 classes, got $lCount")
    // init: majority-vote shares on the full (item, class) grid
    val votes = labels.groupBy(col("__i"), col("__l").as("__c"))
      .agg(count(lit(1)).as("__v"))
    val perItem = labels.groupBy(col("__i"))
      .agg(count(lit(1)).as("__a"))
    // the exact-arithmetic bound lives on the ACTUAL overflow driver:
    // the E-step product for item i has one π micro factor (≤ 10⁶)
    // per JUDGMENT ON i plus the prior. The staged fold below keeps
    // the mantissa inside decimal(38,0) at ANY depth, so the bound is
    // now about meaning, not overflow: 64 judgments/item covers every
    // real annotation pipeline (3–7 is typical) with a wide margin,
    // and a number past it is almost certainly a malformed key. One
    // dimension-scale agg over the already-needed per-item frame;
    // fails loudly past the bound.
    val maxJ = perItem.agg(max(col("__a")).as("m")).head.getLong(0)
    require(maxJ <= 64,
      s"an item carries $maxJ judgments: the staged exact E-step " +
        "product bounds judgments per item at 64")
    val post0 = perItem.crossJoin(broadcast(classDim))
      .join(votes, Seq("__i", "__c"), "left")
      .select(col("__i"), col("__c"),
        microR6(coalesce(col("__v"), lit(0L)).cast("double") /
          col("__a").cast("double")).as("__post"))
    def mStep(post: DataFrame): (DataFrame, DataFrame) = {
      // M-step on the full (k, c, l) grid: absent cells still get
      // their Laplace mass, so the π frame is always A·C·L rows
      // cast INSIDE the sum: a long sum wraps silently at corpus
      // scale where the replay's integer sum never does
      val sums = labels.join(post, Seq("__i"))
        .groupBy(col("__k"), col("__c"), col("__l"))
        .agg(sum(col("__post").cast("decimal(20,0)"))
          .cast("decimal(20,0)").as("__s"))
      val kclGrid = annDim.crossJoin(broadcast(classDim))
        .crossJoin(broadcast(classDim.select(col("__c").as("__l"))))
      // π and priors are A·C·L- and C-row frames — dimension-scale.
      // They stay LAZY during the rounds (r20 opt: each per-round pin
      // was an extra action + blocking driver round-trip; profiled at
      // 69 jobs/run for rounds=2 — the wall was orchestration, not
      // compute) and are each consumed exactly
      // once per round, by the E-step's broadcast, so laziness costs
      // no recompute. Only the FINAL round's π/priors are pinned
      // (after the loop below) — they are returned.
      // __st (the per-(k, c) row total) is a WINDOW sum over the
      // grid-joined frame instead of a second agg + join (r21 opt,
      // guide §2.4 — the M-step fusion): the grid carries EVERY
      // (k, c, l) cell, so summing the null-coalesced __s over the
      // (k, c) partition is exactly the old sTot — one exchange and
      // one join less per round, same exact decimal sum (integer
      // decimals are visit-order free)
      val wKC = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__k"), col("__c"))
      val pi = kclGrid
        .join(sums, Seq("__k", "__c", "__l"), "left")
        .withColumn("__st",
          sum(coalesce(col("__s"), lit(0).cast("decimal(20,0)")))
            .over(wKC).cast("decimal(20,0)"))
        .select(col("__k"), col("__c"), col("__l"),
          microR6(
            (coalesce(col("__s"), lit(0).cast("decimal(20,0)"))
              + lit(1000000L)).cast("double") /
            (col("__st")
              + lit(1000000L) * lit(lCount)).cast("double"))
            .as("__pi"))
      val pcls = post.groupBy(col("__c"))
        .agg(sum(col("__post").cast("decimal(20,0)"))
          .cast("decimal(20,0)").as("__pc"))
      val priors = pcls
        .crossJoin(broadcast(
          pcls.agg(sum(col("__pc")).cast("decimal(20,0)").as("__pt"))))
        .select(col("__c"),
          microR6(
            (col("__pc") + lit(1000000L)).cast("double") /
            (col("__pt") + lit(1000000L) * lit(lCount)).cast("double"))
            .as("__prior"))
      (pi, priors)
    }
    def eStep(pi: DataFrame, priors: DataFrame): DataFrame = {
      // E-step: every (i, k) judgment fans out to all C classes via
      // the broadcast π grid; the per-(i, c) likelihood is the exact
      // integer product of its ≤ maxJ π factors times the prior.
      // Two plans on one contract, gated driver-side on the ALREADY-
      // COMPUTED maxJ (measured r19: the staged fold + exponent
      // normalization cost a79/a80 ~2-4x wall clock at sf0.1 —
      // interpreted HOF per-element struct/compare work — for stages
      // that provably never fire at ≤ 5 factors):
      //   maxJ ≤ 5  — the UNSTAGED product (≤ 10³⁶ < decimal(38,0))
      //     and one plain window sum: the r17/r18 plan verbatim, and
      //     the regime the a79/a80 oracles replay.
      //   maxJ > 5  — the STAGED fold in SORTED factor order (order
      //     pins determinism now that staging points matter) with a
      //     tracked micro-unit exponent: the mantissa rescales by
      //     10⁶ whenever it crosses 10³⁰, so the next multiply stays
      //     under 10³⁶ and ≥ 24 significant digits survive any depth.
      //     The threshold is 10³⁰, not 10³¹ (r19 ADVICE): the per-
      //     item WINDOW SUM of per-class likelihoods is also
      //     decimal(38,0), so with C classes at the item's max
      //     exponent the post-multiply bound must satisfy
      //     C · bound < 10³⁸ — 10³⁶ keeps a 100-class sum inside the
      //     type where 10³⁷ overflowed it to a silent null (non-ANSI)
      //     posterior at ~10+ classes.
      // For ≤ 5 factors the two plans are BIT-IDENTICAL by
      // construction (the stage cannot fire; multiplication is
      // commutative so the sort is a no-op on the value).
      // repartition on __i ALONE before the (i, c) agg (r21 opt, guide
      // §2.4): hash(__i) satisfies both the agg's (i, c) clustering
      // (subset rule) and the normalization windows' (i) partitioning
      // below, so the agg and BOTH window passes share ONE exchange —
      // the old groupBy-planned hash(i, c) exchange forced a second,
      // (i)-keyed exchange for the windows every round
      val grouped = labels
        .join(broadcast(pi), Seq("__k", "__l"))
        .repartition(col("__i"))
        .groupBy(col("__i"), col("__c"))
        .agg(collect_list(col("__pi")).as("__ps"))
        .join(broadcast(priors), Seq("__c"))
      // normalization via windows over the SAME (i, c)-keyed frame
      // (an agg + self-join would recompute the E-step twice per
      // round); sums are exact decimals — visit order free
      val wDen = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__i"))
      val normalized =
        if (maxJ <= 5)
          grouped.select(col("__i"), col("__c"),
              aggregate(col("__ps"),
                col("__prior").cast("decimal(38,0)"),
                (acc, x) => acc * x.cast("decimal(38,0)")).as("__n"))
            .withColumn("__d",
              sum(col("__n")).over(wDen).cast("decimal(38,0)"))
        else {
          val ten30 = lit(new java.math.BigDecimal("1" + "0" * 30))
          val num = grouped.select(col("__i"), col("__c"),
            aggregate(sort_array(col("__ps")),
              struct(col("__prior").cast("decimal(38,0)").as("m"),
                lit(0).as("e")),
              (acc, x) => {
                val m0 = acc.getField("m")
                val over = m0 >= ten30
                val m1 = when(over,
                    floor(m0 / lit(1000000L)).cast("decimal(38,0)"))
                  .otherwise(m0)
                struct(
                  (m1 * x.cast("decimal(38,0)")).cast("decimal(38,0)")
                    .as("m"),
                  when(over, acc.getField("e") + 1)
                    .otherwise(acc.getField("e")).as("e"))
              }).as("__me"))
          // mixed-exponent likelihoods rescale to the item's MAX
          // exponent (floor division by the micro-unit gap; > 5
          // units below the max truncates to 0 — a < 10⁻³⁰
          // posterior share, far beneath round-6 resolution)
          val mCol = col("__me").getField("m")
          val eCol = col("__me").getField("e")
          def p10(d: Int) =
            lit(new java.math.BigDecimal("1" + "0" * d))
          val dEx = col("__emax") - eCol
          val nScaled = when(dEx === 0, mCol)
            .when(dEx === 1, floor(mCol / p10(6)).cast("decimal(38,0)"))
            .when(dEx === 2, floor(mCol / p10(12)).cast("decimal(38,0)"))
            .when(dEx === 3, floor(mCol / p10(18)).cast("decimal(38,0)"))
            .when(dEx === 4, floor(mCol / p10(24)).cast("decimal(38,0)"))
            .when(dEx === 5, floor(mCol / p10(30)).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))
          num
            .withColumn("__emax", max(eCol).over(wDen))
            .withColumn("__n", nScaled)
            .withColumn("__d",
              sum(col("__n")).over(wDen).cast("decimal(38,0)"))
        }
      normalized
        .select(col("__i"), col("__c"),
          microR6(col("__n").cast("double") / col("__d").cast("double"))
            .as("__post"))
    }
    // the posteriors are the iteration state, pinned every round (an
    // uncut multi-round plan stalls the analyzer before execution);
    // π and priors are pinned in the final round only
    val (postLast, _) = Iterate.loop(post0, rounds - 1) { (post, _) =>
      val (pi, priors) = mStep(post)
      Iterate.Next(eStep(pi, priors))
    }
    val (piLast, priorsLast) = mStep(postLast)
    val pi = Iterate.pin(piLast)
    val priors = Iterate.pin(priorsLast)
    (Iterate.pin(eStep(pi, priors)), pi, priors)
  }

  /** pass@k (Chen et al. 2021, "Evaluating Large Language Models
    * Trained on Code" §2.1) — THE code-model eval metric beside
    * BLEU/ROUGE/chrF: given n generated samples per task of which c
    * pass the task's unit tests, the unbiased estimator of the
    * probability that at least one of k drawn samples passes is
    *   pass@k = 1 − C(n−c, k)/C(n, k).
    * Computing the binomials directly overflows fast; the paper's
    * numerically-stable product form is equivalent to the falling-
    * factorial ratio ff(n−c, k)/ff(n, k), which this op computes
    * EXACTLY: both falling factorials are exact decimal(38,0)
    * integer products (k literal factors each — the a48/a79
    * discipline), and the division is ONE double ratio rounded to 6.
    * Per-column semantics for each k in `ks`:
    *   n < k      → null (too few samples for an unbiased estimate)
    *   n − c < k  → 1.0  (every size-k draw must contain a pass)
    *   otherwise  → round(1 − ff(n−c,k)/ff(n,k), 6).
    *
    * Scale shape: one hash agg over the (task, sample, pass) rows to
    * the per-task (n, c) frame (map-side partials, task-key
    * cardinality output), then k-literal row-local arithmetic — no
    * window, no second shuffle. The n ≤ 1000 require keeps the
    * largest k=1..10 product (n^k ≤ 10³⁰) inside decimal(38,0) and
    * fails loudly, not by silent decimal-overflow null.
    *
    * Null semantics (r18 ADVICE — stated, not silent): a NULL
    * `passCol` counts as a FAILURE — the row still counts into n but
    * never into c (`when(pass, 1).otherwise(0)`), matching the
    * conservative eval reading "no recorded pass is not a pass" and
    * the `graft_pass_at_k` SQL recipe. Callers who instead want
    * unknown outcomes EXCLUDED must filter `passCol.isNotNull`
    * upstream — dropping the row changes n, which is a sampling
    * decision this op must not make silently.
    *
    * @param samples one row per generated sample
    * @param passCol boolean: did this sample pass the task's tests;
    *                null counts as a failure (see above)
    * @param ks      the k values to report (each 1 ≤ k ≤ 10)
    * @return per task: taskCol, n_samples, n_correct, pass_at_<k>… */
  def passAtK(samples: DataFrame, taskCol: String, passCol: Column,
              ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 10),
      "each k must be in [1,10]")
    require(ks.distinct == ks, "ks must be distinct")
    val byTask = samples
      .filter(col(taskCol).isNotNull)
      .groupBy(col(taskCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(passCol, 1L).otherwise(0L)).as("n_correct"))
    // loud exact-arithmetic bound on the actual overflow driver
    // (samples per task), the dawidSkene maxJ discipline; the agg's
    // max is null on an EMPTY sample set (a plausible eval-pipeline
    // input), which trivially satisfies the bound and must return
    // the empty frame, not throw on the null read
    val maxN = Option(byTask.agg(max(col("n_samples")).as("m"))
      .head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(maxN <= 1000L,
      s"a task carries $maxN samples: the exact decimal(38,0) " +
        "falling factorial bounds samples per task at 1000")
    def ff(x: Column, k: Int): Column =
      (0 until k).foldLeft(lit(1L).cast("decimal(38,0)"))((acc, i) =>
        (acc * (x - lit(i.toLong)).cast("decimal(38,0)"))
          .cast("decimal(38,0)"))
    ks.foldLeft(byTask) { (d, k) =>
      val n = col("n_samples"); val miss = n - col("n_correct")
      d.withColumn(s"pass_at_$k",
        when(n < k, lit(null).cast("double"))
          .when(miss < k, lit(1.0))
          .otherwise(round(
            lit(1.0) - ff(miss, k).cast("double") /
              ff(n, k).cast("double"), 6)))
    }
  }
}
