package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling (SURVEY.md §2.4 A5/A6, §5.5).
  *
  * Mechanizes the reference's interactive QC blocks — missingness
  * (`code/RCLIF_vitals.Rmd:236-250`), duplicate counts
  * (`code/RCLIF_disposition.Rmd:103-106`), descriptive stats
  * (`code/RCLIF_vitals.Rmd:233`) — as plan-level aggregations: each profile
  * is ONE pass over the table (a single partial+final hash aggregate), never
  * a per-column loop of jobs.
  */
object Quality {

  /** A5: per-column null count and percentage, one row per column.
    * Single aggregate pass producing 2×N columns, then a narrow unpivot.
    */
  def missingness(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs = count(lit(1)).as("__n") +:
      cs.map(c => sum(col(c).isNull.cast("long")).as(c))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val long = wide.unpivot(Array(col("__n")), cs.map(col).toArray,
      "column_name", "n_null")
    long.select(
      col("column_name"),
      col("n_null").cast("long").as("n_null"),
      when(col("__n") === 0, lit(0.0))
        .otherwise(round(col("n_null") * 100.0 / col("__n"), 4))
        .as("pct_null"))
  }

  /** Per-column duplicate count: n - countDistinct, one pass. */
  def duplicates(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs = count(lit(1)).as("__n") +:
      cs.map(c => count_distinct(col(c)).as(c))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.unpivot(Array(col("__n")), cs.map(col).toArray,
        "column_name", "n_distinct")
      .select(col("column_name"),
        (col("__n") - col("n_distinct")).cast("long").as("n_dup"))
  }

  /** A6: exact descriptive stats per group (min/max/mean/count).
    * Exact (no approx_percentile) so results are engine-reproducible;
    * mean is computed as exact decimal sum / count to be deterministic
    * under parallel reduction.
    */
  def summaryStats(df: DataFrame, valueCol: String,
                   by: Seq[String]): DataFrame = {
    val v = col(valueCol)
    df.groupBy(by.map(col): _*).agg(
      count(v).cast("long").as("n"),
      min(v).as("min_v"),
      max(v).as("max_v"),
      (sum(v.cast("decimal(30,6)")).cast("double") / count(v)).as("mean_v"))
  }

  /** Range-plausibility flags (the reference's physiologic-bounds QC):
    * count of rows outside [lo, hi] per group. */
  def outOfRange(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                 by: Seq[String]): DataFrame = {
    val v = col(valueCol)
    df.groupBy(by.map(col): _*).agg(
      sum((v < lo || v > hi).cast("long")).as("n_out_of_range"),
      count(v).cast("long").as("n"))
  }

  /** Histogram-as-data: fixed-width bin counts per group — the QC
    * distribution plot of the reference's interactive blocks
    * (`code/RCLIF_vitals.Rmd:253-278`) reduced to its decision content.
    * One hash-agg pass; bins are `floor(v / binWidth)` so the same
    * arithmetic reproduces on any engine (no rendering, rows are the
    * chart). Null values are excluded (they are missingness's job). */
  def histogram(df: DataFrame, valueCol: String, binWidth: Double,
                by: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val v = col(valueCol)
    val bin = floor(v / binWidth).cast("long")
    df.filter(v.isNotNull)
      .groupBy((by.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("bin_lo", round(col("bin") * binWidth, 6))
      .withColumn("bin_hi", round((col("bin") + 1) * binWidth, 6))
  }

  /** Mergeable distinct-count sketches (DataSketches HLL built-ins):
    * one sketch row per group, persisted as BINARY next to the data —
    * the 100 TB pattern for "distinct users per day/week/month":
    * per-partition sketches are built ONCE at ingest and any coarser
    * rollup is a cheap [[unionSketchEstimate]] over sketch rows, never
    * a rescan of the corpus (exact distinct is a full shuffle of the
    * value column per question asked). Estimate error is the standard
    * HLL ~1.6% at lgConfigK=12; QualitySpec pins both the accuracy
    * band and merge associativity (sliced-and-unioned == whole). */
  def distinctSketches(df: DataFrame, by: Seq[String],
                       valueCol: String): DataFrame =
    df.groupBy(by.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"),
        count(col(valueCol)).cast("long").as("n_rows"))

  /** Roll sketch rows up to a coarser grouping and estimate: union is
    * associative and lossless w.r.t. the sketch state, so estimates at
    * any rollup level equal the estimate of a directly-built sketch. */
  def unionSketchEstimate(sketches: DataFrame,
                          by: Seq[String]): DataFrame = {
    val grouped =
      if (by.isEmpty) sketches.groupBy()
      else sketches.groupBy(by.map(col): _*)
    grouped
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("approx_distinct"),
        sum(col("n_rows")).cast("long").as("n_rows"))
  }

  /** Robust outlier profile per group: median, MAD (median absolute
    * deviation), and the count of modified-z-score outliers
    * (Iglewicz–Hoaglin rule: 0.6745·|x − med| > 3.5·MAD) — the
    * QC-distribution complement to [[boxStats]] when the data is
    * heavy-tailed (mean/stddev are themselves dragged by the outliers
    * they're supposed to flag; median/MAD are 50%-breakdown robust).
    * Zero-MAD groups (over half the values identical) report 0
    * outliers. Shape: two exact-percentile aggregates (groups-sized
    * outputs broadcast back) + one counting aggregate; med and MAD are
    * rounded to the 6-decimal cross-engine grid BEFORE the outlier
    * comparison so both engines test identical bounds. */
  def robustOutliers(df: DataFrame, valueCol: String,
                     by: Seq[String]): DataFrame = {
    val v = col(valueCol)
    def med50(c: Column): Column =
      round(call_function("percentile", c, lit(0.5)), 6)
    val med = df.groupBy(by.map(col): _*).agg(med50(v).as("med"))
    val dev = df.join(broadcast(med), by)
      .withColumn("__dev", abs(v - col("med")))
    val mad = dev.groupBy(by.map(col): _*)
      .agg(med50(col("__dev")).as("mad"))
    dev.join(broadcast(mad), by)
      .groupBy((by.map(col) :+ col("med") :+ col("mad")): _*)
      .agg(count(v).cast("long").as("n"),
        sum((col("mad") > 0 &&
          lit(0.6745) * col("__dev") > lit(3.5) * col("mad")).cast("long"))
          .as("n_outliers"))
  }

  /** Winsorization: clamp `valueCol` to its per-group exact percentile
    * bounds [loPct, hiPct] — the outlier-robust cleaning step before
    * feature extraction (the reference clamps by fixed physiologic
    * bounds, `code/RCLIF_vitals.Rmd:139-149`; this is the data-driven
    * generalization). One percentile aggregate produces a groups-sized
    * bounds table that broadcast-joins back onto the fact — the big
    * side is scanned once and NEVER shuffled (the agg's exchange
    * carries only the group key). Exact `percentile` keeps the oracle
    * engine-reproducible; at 100 TB swap in approx_percentile (rank
    * error n/accuracy) exactly like t_length_filter_approx. */
  def winsorize(df: DataFrame, valueCol: String, by: Seq[String],
                loPct: Double, hiPct: Double,
                outCol: String = "winsorized"): DataFrame = {
    require(loPct >= 0 && hiPct <= 1 && loPct <= hiPct,
      "need 0 <= loPct <= hiPct <= 1")
    val v = col(valueCol)
    def pct(p: Double): Column = call_function("percentile", v, lit(p))
    val bounds = df.groupBy(by.map(col): _*)
      .agg(pct(loPct).as("__lo"), pct(hiPct).as("__hi"))
    df.join(broadcast(bounds), by)
      .withColumn(outCol,
        round(least(greatest(v, col("__lo")), col("__hi")), 6))
      .drop("__lo", "__hi")
  }

  /** Box-plot statistics per group (exact quartiles + whiskers at
    * 1.5 IQR + outlier count) — the reference's QC boxplots as data.
    * Exact `percentile` keeps the oracle engine-reproducible; at
    * 100 TB swap the quartiles for approx_percentile (rank error
    * n/accuracy) like t_length_filter_approx does. */
  def boxStats(df: DataFrame, valueCol: String,
               by: Seq[String]): DataFrame = {
    val v = col(valueCol)
    // percentile has no typed functions._ wrapper; call it through the
    // registry with a COLUMN argument (not string interpolation) so a
    // name needing backticks — spaces, dots — can't break the parse
    def pct(p: Double): Column = call_function("percentile", v, lit(p))
    val q = df.groupBy(by.map(col): _*).agg(
      count(v).cast("long").as("n"),
      min(v).as("min_v"),
      pct(0.25).as("q1"),
      pct(0.5).as("median"),
      pct(0.75).as("q3"),
      max(v).as("max_v"))
    val iqr = col("q3") - col("q1")
    q.withColumn("lo_whisker", col("q1") - iqr * 1.5)
      .withColumn("hi_whisker", col("q3") + iqr * 1.5)
      .select((by.map(col) :+ col("n") :+ col("min_v") :+
        round(col("q1"), 6).as("q1") :+ round(col("median"), 6).as("median") :+
        round(col("q3"), 6).as("q3") :+ col("max_v") :+
        round(col("lo_whisker"), 6).as("lo_whisker") :+
        round(col("hi_whisker"), 6).as("hi_whisker")): _*)
  }

  // Inputs rounded ONCE to the round-6 grid on the double (the repo
  // convention), then EXACT decimal moment sums — Σx, Σy, Σxy, Σx²,
  // Σy² are reduction-order-free, so the statistic is identical under
  // any partitioning and replayable by any SQL engine. A naive
  // double-sum corr/slope is order-DEPENDENT: 600k additions of
  // ~1e10-magnitude products drift by ULPs between partition plans,
  // and builtin corr()/regr_slope() implementations (Welford vs
  // textbook) diverge between engines — exactly the hash-mismatch
  // class the decimal-sum discipline exists to kill.
  // decimal(18,6), NOT (20,6): the product of two (18,6)s is (37,12)
  // — exact and under the 38 cap in Spark AND DuckDB. At (20,6) the
  // 41-digit product trips Spark's allowPrecisionLoss scale reduction
  // (silent per-element HALF_UP at scale 10) while DuckDB keeps the
  // full 12-digit scale — an engine split on the "exact" path.
  private def r6d(c: Column): Column =
    round(c.cast("double"), 6).cast("decimal(18,6)")

  /** Pairwise Pearson correlation over `cols` — the QC correlation
    * matrix as data, one row per unordered column pair.
    *
    * ONE aggregate pass computes every pair's conditional moment sums
    * (pairwise-complete: a row enters pair (x,y) iff both are
    * non-null, so each pair carries its own n), then the textbook
    * formula r = (nΣxy − ΣxΣy) / √((nΣx²−(Σx)²)(nΣy²−(Σy)²)) runs on
    * the exact sums cast to double — a fixed, engine-identical IEEE
    * op sequence. Zero-variance pairs → null. Pair rows are emitted
    * by an in-plan `inline` over the single agg row — no driver
    * collect, no per-pair job loop.
    *
    * Scale: cost is one partial+final hash aggregate regardless of
    * pair count (k(k−1)/2 · 6 accumulators ride the same pass); the
    * 1×C agg row is trivially small. */
  def corrPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // round/cast each column ONCE per row in a projection below the
    // agg — referencing r6d(col) inside every pair's six accumulators
    // re-evaluates it per accumulator (no codegen CSE across agg
    // buffers; the bind-once discipline from Dedup's lambdas)
    val proj = df.select(cols.map(c => r6d(col(c)).as(s"__r_$c")): _*)
    val aggExprs = pairs.flatMap { case (x, y) =>
      val xr = col(s"__r_$x"); val yr = col(s"__r_$y")
      val ok = xr.isNotNull && yr.isNotNull
      val xv = when(ok, xr)
      val yv = when(ok, yr)
      val tag = s"${x}__${y}"
      Seq(
        count(when(ok, lit(1))).as(s"n_$tag"),
        sum(xv).as(s"sx_$tag"),
        sum(yv).as(s"sy_$tag"),
        sum(xv * yv).as(s"sxy_$tag"),
        sum(xv * xv).as(s"sxx_$tag"),
        sum(yv * yv).as(s"syy_$tag"))
    }
    val one = proj.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = pairs.map { case (x, y) =>
      val tag = s"${x}__${y}"
      val n = col(s"n_$tag").cast("double")
      val sx = col(s"sx_$tag").cast("double")
      val sy = col(s"sy_$tag").cast("double")
      val sxy = col(s"sxy_$tag").cast("double")
      val sxx = col(s"sxx_$tag").cast("double")
      val syy = col(s"syy_$tag").cast("double")
      val den = sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      struct(
        lit(x).as("col_x"), lit(y).as("col_y"),
        col(s"n_$tag").cast("long").as("n"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round((n * sxy - sx * sy) / den, 6)).as("corr"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Declarative data-quality expectations — the reference's ad-hoc
    * QC checks as a typed suite evaluated in ONE pass. */
  sealed trait Expectation
  /** ≥ minPct % of rows have a non-null `column`. */
  case class ExpectNotNull(column: String, minPct: Double) extends Expectation
  /** `columns` form a unique key (measured = duplicate row count). */
  case class ExpectUniqueKey(columns: Seq[String]) extends Expectation
  /** ≥ minPct % of rows have `column` in [lo, hi] (nulls count as out). */
  case class ExpectInRange(column: String, lo: Double, hi: Double,
                           minPct: Double) extends Expectation
  /** ≥ minPct % of rows have `column` in `values` (nulls count as out). */
  case class ExpectInSet(column: String, values: Seq[String],
                         minPct: Double) extends Expectation
  /** The table has at least `n` rows. */
  case class ExpectMinRows(n: Long) extends Expectation

  /** Evaluate an expectation suite in ONE aggregate pass — each
    * expectation becomes a row (expectation, target, measured,
    * threshold, pass), the contract-test report a pipeline gates a
    * load on. Percentages land on the round-6 grid from an exact
    * count ratio, so the report is engine-replayable.
    *
    * Scale: every check rides the same partial+final hash aggregate
    * over one table scan; the lone exception is [[ExpectUniqueKey]],
    * whose distinct count adds Spark's expand-based distinct
    * aggregation to the same pass (still one scan — the standard
    * price of an exact uniqueness check; swap for a sketch when an
    * approximate answer gates the load). Result rows are emitted by
    * an in-plan inline from the single agg row — no driver collect. */
  def expectations(df: DataFrame, specs: Seq[Expectation]): DataFrame = {
    require(specs.nonEmpty, "need at least one expectation")
    val n = count(lit(1))
    val aggExprs = specs.zipWithIndex.map {
      case (ExpectNotNull(c, _), i) => count(col(c)).as(s"__m_$i")
      case (ExpectUniqueKey(cs), i) =>
        count_distinct(struct(cs.map(col): _*)).as(s"__m_$i")
      case (ExpectInRange(c, lo, hi, _), i) =>
        count(when(col(c) >= lo && col(c) <= hi, lit(1))).as(s"__m_$i")
      case (ExpectInSet(c, vs, _), i) =>
        count(when(col(c).isin(vs: _*), lit(1))).as(s"__m_$i")
      case (ExpectMinRows(_), i) => count(lit(1)).as(s"__m_$i")
    } :+ n.as("__n")
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    def pct(m: Column): Column =
      round(m.cast("double") * 100.0 / col("__n").cast("double"), 6)
    val rows = specs.zipWithIndex.map { case (spec, i) =>
      val m = col(s"__m_$i")
      val (name, target, measured, threshold) = spec match {
        case ExpectNotNull(c, p) =>
          ("not_null_pct", c, pct(m), lit(p))
        case ExpectUniqueKey(cs) =>
          ("unique_key", cs.mkString(","),
            (col("__n") - m).cast("double"), lit(0.0))
        case ExpectInRange(c, lo, hi, p) =>
          ("in_range_pct", s"$c in [$lo,$hi]", pct(m), lit(p))
        case ExpectInSet(c, vs, p) =>
          ("in_set_pct", s"$c in {${vs.mkString(",")}}", pct(m), lit(p))
        case ExpectMinRows(k) =>
          ("min_rows", "", m.cast("double"), lit(k.toDouble))
      }
      val pass = spec match {
        case ExpectUniqueKey(_) => measured === threshold
        case _ => measured >= threshold
      }
      struct(lit(name).as("expectation"), lit(target).as("target"),
        measured.as("measured"), threshold.as("threshold"),
        pass.as("pass"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Per-group simple OLS fit y = slope·x + intercept — the "does
    * price scale with quantity per segment" profiling regression.
    * Same exact-decimal moment sums as [[corrPairs]], one grouped
    * aggregate; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept =
    * (Σy − slope·Σx)/n, r² = corr² — all from the one pass,
    * degenerate (zero-variance x) groups → null fit. */
  /** Calendar gap audit: for each key, the calendar DAYS inside its
    * own [first event, last event] span with NO events — the
    * data-completeness question every ingest pipeline answers daily
    * ("which feeds went dark, when?"), reported as the missing days
    * themselves rather than a count so the downstream backfill can
    * join on them (reference QC blocks tally per-day presence the
    * same way, `code/RCLIF_vitals.Rmd:253-278`).
    *
    * Scale shape: one key agg for the span, a calendar explode
    * bounded by each key's OWN span (days, not events — a year-long
    * key adds 365 rows regardless of its event count), one distinct
    * on (key, day) with map-side combine, one left_anti join. No
    * global calendar, no cross join. */
  def missingDays(df: DataFrame, keys: Seq[String],
                  tsCol: String): DataFrame = {
    val kcols = keys.map(col)
    val spans = df.groupBy(kcols: _*).agg(
      min(to_date(col(tsCol))).as("__d0"),
      max(to_date(col(tsCol))).as("__d1"))
    val expected = spans.select(kcols :+
      explode(expr("sequence(__d0, __d1, interval 1 day)")).as("day"): _*)
    val active = df.select(kcols :+ to_date(col(tsCol)).as("day"): _*)
      .distinct()
    expected.join(active, keys :+ "day", "left_anti")
      // ISO string for a stable cross-engine surface (parquet DATE
      // vs engine-native date bindings differ at the dtype level)
      .withColumn("day", col("day").cast("string"))
  }

  /** Weight-of-evidence binning — the credit-scoring/feature-audit
    * encoding: `valCol` is cut into `bins` equal-population bins by
    * its exact percentiles, and each bin reports its event rate, its
    * WOE = ln((bad_i+0.5)/badT ÷ (good_i+0.5)/goodT) (the +0.5 Laplace
    * guard keeps empty cells finite, stated convention), and its IV
    * term (bad_i/badT − good_i/goodT)·WOE — Σ IV is the standard
    * "does this feature separate the classes at all" screen run
    * before any model training.
    *
    * Scale shape: the boundary row is ONE tiny percentile aggregate
    * broadcast back (the [[winsorize]]/w22 discipline — no global
    * ntile sort of the fact); bin assignment is a narrow codegen'd
    * comparison chain; one hash agg on the bin id; the totals row is
    * bins-sized. Null values are excluded (stated).
    *
    * Determinism: boundaries are interpolated percentiles (identical
    * across engines, the a8 contract); `v > boundary` on doubles is
    * exact; counts are integers; ln/division rounded once to 6. */
  /** Leave-one-out target encoding — the high-cardinality-categorical
    * feature transform ([[woeBins]]'s regression-side sibling): each
    * row's category is replaced by the mean target of the OTHER rows
    * in its category, (Σ_cat − t) / (n_cat − 1), optionally shrunk
    * toward the global mean with pseudo-count `smoothing`
    * ((Σ_cat − t) + m·ḡ) / ((n_cat − 1) + m). Excluding the own row
    * is what prevents target leakage (plain mean encoding leaks the
    * label into its own feature and inflates validation).
    *
    * Scale shape: ONE category-keyed window pair (sum + count share
    * the exchange) + a broadcast global-mean scalar. Cross-engine
    * determinism: targets rounded once to 6 (decimal sums exact);
    * the global mean and the final division are fixed-order double
    * arithmetic rounded once; singleton categories with smoothing=0
    * yield null (0/0 — no peer evidence).
    *
    * @return input id/cat columns + (encoded) */
  def looTargetEncode(df: DataFrame, idCol: String, catCol: String,
                      targetCol: String,
                      smoothing: Double = 0.0): DataFrame = {
    require(smoothing >= 0, "smoothing must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val t6 = r6d(col(targetCol))
    val w = Window.partitionBy(col(catCol))
    val src = df.filter(col(targetCol).isNotNull)
      .select(col(idCol), col(catCol), t6.as("__t"))
    val gm = src.agg((sum(col("__t")).cast("double") /
      count(lit(1)).cast("double")).as("__g"))
    val num = (sum(col("__t")).over(w) - col("__t")).cast("double") +
      lit(smoothing) * col("__g")
    val den = (count(lit(1)).over(w) - lit(1)).cast("double") +
      lit(smoothing)
    src.crossJoin(broadcast(gm))
      .select(col(idCol), col(catCol),
        when(den > 0, round(num / den, 6)).as("encoded"))
  }

  def woeBins(df: DataFrame, valCol: String, badCol: Column,
              bins: Int = 5): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val v = col(valCol).cast("double")
    val src = df.filter(v.isNotNull)
      .select(v.as("__v"), badCol.cast("boolean").as("__bad"))
    val qs = src.agg(
      call_function("percentile", col("__v"),
        lit(1.0 / bins)).as("__q1"),
      (2 until bins).map(i => call_function("percentile", col("__v"),
        lit(i.toDouble / bins)).as(s"__q$i")): _*)
    val bin = (1 until bins).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("__v") > col(s"__q$i"), 1).otherwise(0)
    }
    val perBin = src.crossJoin(broadcast(qs))
      .select(bin.as("bin"), col("__bad"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__bad"), 1L).otherwise(0L)).as("n_bad"))
    val tot = perBin.agg(sum(col("n")).as("__tn"),
      sum(col("n_bad")).as("__tb"))
    perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_bad"),
        round(col("n_bad").cast("double") / col("n"), 6).as("bad_rate"),
        round(log(
          ((col("n_bad") + lit(0.5)) / col("__tb")) /
            ((col("n") - col("n_bad") + lit(0.5)) /
              (col("__tn") - col("__tb")))), 6).as("woe"),
        round((col("n_bad").cast("double") / col("__tb") -
          (col("n") - col("n_bad")).cast("double") /
            (col("__tn") - col("__tb"))) *
          round(log(
            ((col("n_bad") + lit(0.5)) / col("__tb")) /
              ((col("n") - col("n_bad") + lit(0.5)) /
                (col("__tn") - col("__tb")))), 6), 6).as("iv_term"))
  }

  /** Population stability index between a REFERENCE and a CURRENT
    * sample of the same numeric column — the standard drift alarm
    * ([[woeBins]]' companion: WOE asks "does the feature separate
    * classes", PSI asks "did the feature's distribution move since
    * training"): the reference is cut into `bins` equal-population
    * bins by its OWN percentiles, both samples are binned by those
    * same boundaries, and each bin contributes
    * (q_i − p_i)·ln(q_i / p_i) with p/q the Laplace-guarded shares
    * ((n + 0.5) / (N + 0.5·bins) — empty current bins must alarm,
    * not divide by zero; stated convention). Σ psi_term < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 act — the classic thresholds.
    *
    * Scale shape: one tiny percentile row from the reference
    * broadcast into BOTH binning passes (narrow comparison chains),
    * one bins-sized agg each, a bins-row join. Nulls excluded. */
  def psi(ref: DataFrame, cur: DataFrame, valCol: String,
          bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    def v = col(valCol).cast("double")
    val refV = ref.filter(v.isNotNull).select(v.as("__v"))
    val curV = cur.filter(v.isNotNull).select(v.as("__v"))
    val qs = refV.agg(
      call_function("percentile", col("__v"),
        lit(1.0 / bins)).as("__q1"),
      (2 until bins).map(i => call_function("percentile", col("__v"),
        lit(i.toDouble / bins)).as(s"__q$i")): _*)
    val bin = (1 until bins).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("__v") > col(s"__q$i"), 1).otherwise(0)
    }
    def binned(df: DataFrame, n: String) =
      df.crossJoin(broadcast(qs)).select(bin.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(n))
    val r = binned(refV, "ref_n")
    val c = binned(curV, "cur_n")
    val tot = r.agg(sum(col("ref_n")).as("__tr"))
      .crossJoin(c.agg(sum(col("cur_n")).as("__tc")))
    // full outer: a bin empty on either side still contributes
    r.join(c, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round((col("ref_n") + lit(0.5)) /
          (col("__tr") + lit(0.5 * bins)), 6).as("ref_share"),
        round((col("cur_n") + lit(0.5)) /
          (col("__tc") + lit(0.5 * bins)), 6).as("cur_share"),
        round(((col("cur_n") + lit(0.5)) /
            (col("__tc") + lit(0.5 * bins)) -
          (col("ref_n") + lit(0.5)) /
            (col("__tr") + lit(0.5 * bins))) *
          log(((col("cur_n") + lit(0.5)) /
              (col("__tc") + lit(0.5 * bins))) /
            ((col("ref_n") + lit(0.5)) /
              (col("__tr") + lit(0.5 * bins)))), 6).as("psi_term"))
  }

  /** Hellinger / Bhattacharyya drift distance between a REFERENCE
    * and a CURRENT sample — the BOUNDED, symmetric member of the
    * drift family ([[psi]] is unbounded and blows up on empty bins;
    * KS sees only the worst single gap; Sinkhorn is geometry-aware
    * but iterative): BC = Σ √(p_i·q_i) over the same
    * reference-percentile bins as PSI, H = √(1 − BC) ∈ [0, 1], and
    * the Bhattacharyya distance −ln BC (NULL when the binned
    * supports are disjoint, BC = 0). H is a proper metric — it can
    * gate a drift SLA ("alert at H > 0.2") where PSI's scale
    * depends on the bin count. No Laplace smoothing: √ is
    * zero-tolerant, so an empty bin contributes exactly 0 (stated —
    * PSI's guarded shares answer a different question).
    *
    * Numerics: each bin term is ONE double chain — exact
    * decimal(38,0) count products (two 10¹²-row samples multiplied
    * as int64 would overflow) cast to double, one √, rounded to
    * 6dp — then BC is the EXACT decimal(28,6) sum of the ≤`bins`
    * rounded terms (order-free, partition-invariant); H and −ln BC
    * each one more rounded double step. Rounded terms can push BC
    * an ulp past 1 when the samples agree exactly, so 1 − BC is
    * clamped at 0.
    *
    * Scale shape: the [[psi]] plan verbatim — one tiny percentile
    * row broadcast into both narrow binning passes, one bins-sized
    * hash agg each, a bins-row join, a single-row result. Nulls
    * excluded.
    *
    * @return one row: (n_ref, n_cur, bc, hellinger, b_distance) */
  def hellingerDrift(ref: DataFrame, cur: DataFrame, valCol: String,
                     bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val dec = "decimal(38,0)"
    def v = col(valCol).cast("double")
    val refV = ref.filter(v.isNotNull).select(v.as("__v"))
    val curV = cur.filter(v.isNotNull).select(v.as("__v"))
    val qs = refV.agg(
      call_function("percentile", col("__v"),
        lit(1.0 / bins)).as("__q1"),
      (2 until bins).map(i => call_function("percentile", col("__v"),
        lit(i.toDouble / bins)).as(s"__q$i")): _*)
    val bin = (1 until bins).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("__v") > col(s"__q$i"), 1).otherwise(0)
    }
    def binned(df: DataFrame, n: String) =
      df.crossJoin(broadcast(qs)).select(bin.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(n))
    val r = binned(refV, "ref_n")
    val c = binned(curV, "cur_n")
    val tot = r.agg(coalesce(sum(col("ref_n")), lit(0L)).as("__tr"))
      .crossJoin(c.agg(coalesce(sum(col("cur_n")), lit(0L))
        .as("__tc")))
    val terms = r.join(c, Seq("bin"), "full_outer")
      .select(coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      .crossJoin(broadcast(tot))
      .select(col("__tr"), col("__tc"),
        round(sqrt(
          (col("ref_n").cast(dec) * col("cur_n").cast(dec))
            .cast("double") /
          (col("__tr").cast(dec) * col("__tc").cast(dec))
            .cast("double")), 6).cast("decimal(18,6)").as("__bct"))
    terms
      .agg(max(col("__tr")).as("n_ref"), max(col("__tc")).as("n_cur"),
        sum(col("__bct")).cast("decimal(28,6)").as("__bc"))
      .select(col("n_ref"), col("n_cur"),
        col("__bc").cast("double").as("bc"),
        when(col("__bc").isNotNull,
          round(sqrt(greatest(lit(0.0),
            lit(1.0) - col("__bc").cast("double"))), 6))
          .as("hellinger"),
        when(col("__bc") > 0,
          // + 0.0 normalizes the −0.0 that −ln(1) produces
          round(-log(col("__bc").cast("double")), 6) + lit(0.0))
          .as("b_distance"))
  }

  def olsFit(df: DataFrame, by: Seq[String], xCol: String,
             yCol: String): DataFrame = {
    val ok = col(xCol).isNotNull && col(yCol).isNotNull
    val xv = when(ok, r6d(col(xCol)))
    val yv = when(ok, r6d(col(yCol)))
    val agg = df.groupBy(by.map(col): _*).agg(
      count(when(ok, lit(1))).cast("long").as("n"),
      sum(xv).as("__sx"), sum(yv).as("__sy"),
      sum(xv * yv).as("__sxy"),
      sum(xv * xv).as("__sxx"), sum(yv * yv).as("__syy"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxy = col("__sxy").cast("double")
    val sxx = col("__sxx").cast("double")
    val syy = col("__syy").cast("double")
    val varX = n * sxx - sx * sx
    val num = n * sxy - sx * sy
    val slope = num / varX
    val denR = sqrt(varX * (n * syy - sy * sy))
    agg.select((by.map(col) :+ col("n") :+
      when(varX === 0.0, lit(null).cast("double"))
        .otherwise(round(slope, 6)).as("slope") :+
      when(varX === 0.0, lit(null).cast("double"))
        .otherwise(round((sy - slope * sx) / n, 6)).as("intercept") :+
      when(denR === 0.0, lit(null).cast("double"))
        .otherwise(round((num / denR) * (num / denR), 6)).as("r2")): _*)
  }

  /** Pearson χ² test of independence between two categorical columns —
    * the QC companion to [[psi]] (PSI asks "did ONE feature drift",
    * this asks "are TWO features associated": a segment×status cell
    * far from rowTot·colTot/N is evidence the dimensions are not
    * independent). Emits one row PER CONTINGENCY CELL (observed,
    * expected, its χ² contribution — the actionable part: WHICH cell
    * drives the signal) with the suite-level statistic and degrees of
    * freedom repeated on every row, ratio-to-report style.
    *
    * Scale shape: one (a,b) hash agg collapses the fact to cell
    * cardinality |A|·|B| — everything after runs on that tiny frame
    * (marginals as window sums sharing its exchanges; the
    * distinct-count/grand-total frame is ONE row, broadcast).
    * Numerics: marginal products go through double BEFORE multiplying
    * (two 10¹²-row marginals overflow int64 multiplied as integers),
    * and the suite statistic sums per-cell contributions ROUNDED to 6
    * decimals through exact decimal(28,6) accumulation — immune to FP
    * reduction order, mirrored verbatim in the oracle. Null categories
    * are excluded (stated; a production run would bucket them as a
    * sentinel level first). No continuity correction (plain Pearson).
    *
    * @return (aCol, bCol, obs, expected, contrib, chi2, dof) */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val observed = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("obs"))
    // COMPLETE the contingency: an unobserved (a, b) level pair is a
    // ZERO cell whose (0 − expected)²/expected still contributes —
    // dropping it understates χ² exactly when association is
    // strongest (a perfect 2×2 association was measured at half its
    // true statistic). The level cross is cells-frame scale.
    val cells = observed.select(col(aCol)).distinct()
      .crossJoin(observed.select(col(bCol)).distinct())
      .join(observed, Seq(aCol, bCol), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
    val dims = cells.agg(
      countDistinct(col(aCol)).cast("int").as("__na"),
      countDistinct(col(bCol)).cast("int").as("__nb"),
      sum(col("obs")).cast("double").as("__tot"))
    val wA = Window.partitionBy(col(aCol))
    val wB = Window.partitionBy(col(bCol))
    val wAll = Window.partitionBy()
    val rt = sum(col("obs")).over(wA).cast("double")
    val ct = sum(col("obs")).over(wB).cast("double")
    val expd = rt * ct / col("__tot")
    val obsD = col("obs").cast("double")
    val contrib = (obsD - expd) * (obsD - expd) / expd
    cells.crossJoin(broadcast(dims))
      .select(col(aCol), col(bCol), col("obs"),
        round(expd, 6).as("expected"),
        round(contrib, 6).as("contrib"),
        round(contrib, 6).as("__c6"),
        ((col("__na") - 1) * (col("__nb") - 1)).cast("int").as("dof"))
      .withColumn("chi2", round(
        sum(col("__c6").cast("decimal(28,6)")).over(wAll)
          .cast("double"), 6))
      .select(col(aCol), col(bCol), col("obs"), col("expected"),
        col("contrib"), col("chi2"), col("dof"))
  }

  /** Cramér's V — the [0,1]-normalized association strength derived
    * from [[chiSquareIndependence]]'s statistic
    * (V = √(χ²/(n·min(r−1,c−1)))), comparable across tables the way
    * raw χ² is not; completes the association trio with χ² (is it
    * independent) and [[mutualInfo]] (how many nats). One row.
    *
    * Determinism: χ² is the chiSquare suite statistic (round-6
    * contributions, exact decimal sum); the V formula is fixed-order
    * double arithmetic rounded once. Same contingency scale contract. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = chiSquareIndependence(df, aCol, bCol)
    val one = cells.agg(
      max(col("chi2")).as("chi2"), max(col("dof")).as("__dof"),
      sum(col("obs")).as("n"),
      countDistinct(col(aCol)).cast("long").as("__ra"),
      countDistinct(col(bCol)).cast("long").as("__rb"))
    val minDim = least(col("__ra") - 1, col("__rb") - 1).cast("double")
    one.select(col("n"), col("chi2"), col("__dof").as("dof"),
      when(minDim > 0 && col("n") > 0,
        round(sqrt(col("chi2") /
          (col("n").cast("double") * minDim)), 6)).as("cramers_v"))
  }

  /** Mutual information between two categorical columns — the
    * feature-selection companion to [[chiSquareIndependence]] (χ²
    * asks "are these independent"; MI says HOW MANY NATS of one the
    * other carries, comparable across feature pairs — the ranking
    * statistic behind every filter-style feature selector).
    *
    * Math: MI = Σ_cells (n_ab/n)·ln(n·n_ab/(n_a·n_b)), entropies
    * H(A) = ln n − (1/n)·Σ n_a·ln n_a (same for B), and normalized
    * MI = MI / min(H(A), H(B)) (null when either entropy is 0 — a
    * constant column carries nothing and the ratio is undefined).
    *
    * Scale shape: ONE (a, b) hash agg collapses the corpus to
    * contingency cells; margins are windows OVER THE CELLS frame
    * (category-product-sized, the [[chiSquareIndependence]]
    * contract — low-cardinality categoricals only, the stated
    * contract of every contingency op here). Nothing corpus-sized
    * past the first agg.
    *
    * Cross-engine determinism: each ln is rounded once to 6 dp, the
    * per-cell/per-margin products are exact decimal, sums are
    * decimal (order-free), one double cast + round at the end.
    *
    * @return one row: (n, cells, mi, h_a, h_b, nmi) */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("__nab"))
    val wA = Window.partitionBy(col(aCol))
    val wB = Window.partitionBy(col(bCol))
    val na = sum(col("__nab")).over(wA)
    val nb = sum(col("__nab")).over(wB)
    val wAll = Window.partitionBy()
    val dec6 = (c: Column) => c.cast("decimal(28,6)")
    val withM = cells.select(col(aCol), col(bCol), col("__nab"),
      na.as("__na"), nb.as("__nb"),
      sum(col("__nab")).over(wAll).as("__n"))
    // per-cell MI contribution numerators (×n nats, divided once at
    // the end): n_ab · round(ln(n·n_ab/(n_a·n_b)), 6). The double
    // products stay exact (< 2^53 for any realistic contingency).
    val agg = withM.agg(
      sum(col("__nab")).as("n"),
      count(lit(1)).cast("long").as("cells"),
      sum(dec6(col("__nab") *
        round(log(col("__nab").cast("double") * col("__n").cast("double")
          / (col("__na").cast("double") * col("__nb").cast("double"))), 6)))
        .as("__miNum"))
    val margA = cells.groupBy(col(aCol))
      .agg(sum(col("__nab")).as("__na"))
      .agg(sum(dec6(col("__na") *
        round(log(col("__na").cast("double")), 6))).as("__sa"),
        sum(col("__na")).as("__n1"))
    val margB = cells.groupBy(col(bCol))
      .agg(sum(col("__nab")).as("__nb"))
      .agg(sum(dec6(col("__nb") *
        round(log(col("__nb").cast("double")), 6))).as("__sb"))
    val nD = col("n").cast("double")
    val mi = round(col("__miNum").cast("double") / nD, 6)
    val hA = round(log(nD) - col("__sa").cast("double") / nD, 6)
    val hB = round(log(nD) - col("__sb").cast("double") / nD, 6)
    agg.crossJoin(broadcast(margA.drop("__n1")))
      .crossJoin(broadcast(margB))
      .select(col("n"), col("cells"), mi.as("mi"), hA.as("h_a"),
        hB.as("h_b"),
        when(least(hA, hB) > 0, round(mi / least(hA, hB), 6))
          .as("nmi"))
  }

  /** Completeness audit over a supposedly-dense integer id sequence
    * (ingest offsets, auto-increment keys, log line numbers): every
    * hole of ≥ `minGap` consecutive missing ids, as (gap_start,
    * gap_end, missing) — the "did the loader drop a chunk" check the
    * reference runs as frequency sanity, made exact.
    *
    * Scale shape — the naive formulation is lag() over ONE global
    * ordering, a single-partition window over the whole key space.
    * Instead: ids bucket by `floor(id / bucketSize)` and intra-bucket
    * holes come from a lag over the (bucket, id) hash exchange —
    * fully parallel. Holes CROSSING bucket borders (including whole
    * missing buckets) come from a per-bucket (min, max) aggregate:
    * that frame is n/bucketSize rows, and only IT rides a one-
    * partition window — size the bucket so ids/bucketSize fits one
    * task (2²⁰ default → one window row per ~10⁶ ids; a 10¹² id
    * space is a 10⁶-row frame). Duplicate ids collapse first (one
    * distinct — gap math needs unique points). */
  def sequenceGaps(df: DataFrame, idCol: String, minGap: Long = 1L,
                   bucketSize: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minGap >= 1 && bucketSize >= 2, "minGap >= 1, bucketSize >= 2")
    val ids = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id")).distinct()
      .withColumn("__b", floor(col("__id") / bucketSize))
    val wIntra = Window.partitionBy(col("__b")).orderBy(col("__id"))
    val intra = ids.withColumn("__prev", lag(col("__id"), 1).over(wIntra))
      .filter(col("__prev").isNotNull &&
        col("__id") - col("__prev") > 1)
      .select((col("__prev") + 1).as("gap_start"),
        (col("__id") - 1).as("gap_end"),
        (col("__id") - col("__prev") - 1).as("missing"))
    val perBucket = ids.groupBy(col("__b"))
      .agg(min(col("__id")).as("__lo"), max(col("__id")).as("__hi"))
    val wCross = Window.orderBy(col("__b")) // n/bucketSize rows only
    val cross = perBucket
      .withColumn("__prevHi", lag(col("__hi"), 1).over(wCross))
      .filter(col("__prevHi").isNotNull &&
        col("__lo") - col("__prevHi") > 1)
      .select((col("__prevHi") + 1).as("gap_start"),
        (col("__lo") - 1).as("gap_end"),
        (col("__lo") - col("__prevHi") - 1).as("missing"))
    intra.unionByName(cross).filter(col("missing") >= minGap)
  }

  /** Two-sample Kolmogorov–Smirnov statistic — the distribution-drift
    * test beside [[psi]]: D = max over values of |F_A(v) − F_B(v)|,
    * sensitive anywhere in the distribution (PSI's fixed bins can
    * miss tail drift). Returns D, where it occurs, and the per-sample
    * sizes; the D ARGMAX is computed on EXACT INTEGERS
    * (|cumA·n_B − cumB·n_A|) so ties and the comparison itself are
    * engine-free, with one double division at the end.
    *
    * Scale shape (the sequenceGaps discipline): the naive CDF is one
    * global ordered window — single partition over all distinct
    * values. Instead values bucket by micro-unit range: intra-bucket
    * cumulative counts ride a (bucket, value) hash exchange in
    * parallel, and only the BUCKET-TOTALS frame (range/bucketSize
    * rows) crosses one partition for the running offsets. Final
    * argmax is a TakeOrdered.
    *
    * Determinism: values round once to 6 (ties collapse in the
    * count agg); the micro-unit key is computed in exact decimal
    * (a double product can land one ulp low and truncate two
    * distinct 6-dp values onto the same key), the intra-bucket
    * window orders by (key, value) so even a key collision cannot
    * produce an arbitrary frame order; integer numerators exact;
    * the reported d_stat is one rounded division.
    *
    * Overflow: the cross-multiply |cumA*n_B - cumB*n_A| runs in
    * decimal(38,0) - long arithmetic wraps silently once
    * n_A*n_B > 2^63 (~3e9 rows per side, a realistic drift input
    * at 100 TB) and the argmax then picks a garbage row. Decimal
    * holds exact to 10^38, far past any physical row count.
    *
    * @param inA boolean Column: true -> sample A, false -> sample B
    *        (null rows excluded)
    * @return one row: (n_a, n_b, d_stat, at_value) */
  def ksTwoSample(df: DataFrame, valCol: String, inA: Column,
                  bucketSize: Long = 1048576L): DataFrame = {
    val v6 = r6d(col(valCol))
    val src = df.filter(col(valCol).isNotNull && inA.isNotNull)
      .select(v6.as("__v"), inA.as("__a"))
    val counts = src.groupBy(col("__v")).agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    ksFromCounts(counts, bucketSize)
  }

  /** D-statistic from a pre-aggregated counts frame
    * (__v decimal(18,6), __ca, __cb) - the whole of [[ksTwoSample]]
    * after its one hash agg. Split out so the >2^63 numerator regime
    * is spec-testable with planted counts instead of billions of
    * materialized rows. */
  private[graft] def ksFromCounts(counts: DataFrame,
                                  bucketSize: Long = 1048576L): DataFrame = {
    require(bucketSize >= 2, "bucketSize must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val tot = counts.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    // micro-unit bucket: intra-bucket prefix parallel, bucket frame
    // (value-range/bucketSize rows) carries the cross-bucket offsets.
    // __mu in exact decimal: __v is decimal(18,6), so __v*1e6 is its
    // unscaled integer - never a double on the way to the long key.
    val withB = counts.withColumn("__mu",
        (col("__v").cast("decimal(18,6)") * lit(1000000L))
          .cast("decimal(38,0)").cast("long"))
      .withColumn("__b", expr(s"__mu div $bucketSize"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("__mu"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val intra = withB
      .withColumn("__pa", sum(col("__ca")).over(wIn))
      .withColumn("__pb", sum(col("__cb")).over(wIn))
    val perBucket = withB.groupBy(col("__b"))
      .agg(sum(col("__ca")).as("__ba"), sum(col("__cb")).as("__bb"))
    val wCross = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__oa", coalesce(sum(col("__ba")).over(wCross), lit(0L)))
      .withColumn("__ob", coalesce(sum(col("__bb")).over(wCross), lit(0L)))
      .select(col("__b"), col("__oa"), col("__ob"))
    val cum = intra.join(offsets, Seq("__b"))
      .crossJoin(broadcast(tot))
      .select(col("__v"),
        abs((col("__pa") + col("__oa")).cast(dec) * col("__nb").cast(dec) -
            (col("__pb") + col("__ob")).cast(dec) * col("__na").cast(dec))
          .as("__num"),
        col("__na"), col("__nb"))
    cum.orderBy(col("__num").desc, col("__v")).limit(1)
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        round(col("__num").cast("double") /
          (col("__na").cast(dec) * col("__nb").cast(dec)).cast("double"),
          6).as("d_stat"),
        col("__v").cast("double").as("at_value"))
  }

  /** k-anonymity audit over a quasi-identifier column set (Sweeney
    * 2002): the equivalence classes with FEWER than k rows — the
    * re-identifiable cells a release gate must generalize or suppress
    * before the table ships. Emits the violating classes themselves
    * (the actionable set), with their row counts; an empty result IS
    * the pass certificate. One hash agg on the quasi columns, a
    * class-cardinality frame after it — nothing row-scale survives
    * the agg. Null is a quasi VALUE here (an attacker sees null too),
    * so classes group it like any other level. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, "need quasi columns and k >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** Per-group chi-square goodness-of-fit — one χ² PER GROUP against
    * either the uniform distribution over the observed buckets or the
    * POOLED (all-groups) bucket distribution (the homogeneity screen:
    * "which segments' histograms deviate from the corpus's?"). The
    * many-hypotheses front end of [[bhFdr]].
    *
    * The grid is COMPLETED per group (distinct groups × distinct
    * buckets — a group's unobserved bucket is a zero cell whose
    * (0−E)²/E still counts; the chiSquareIndependence zero-cell
    * lesson). Determinism: contributions round once to 6 and sum
    * through decimal(28,6) per group — order-free. Cells-frame scale
    * throughout; dof = buckets − 1 (pooled expectations estimated
    * from the data cost nothing extra per group).
    *
    * @return (groupCol, n, dof, chi2) */
  def chiSquareGofByGroup(df: DataFrame, groupCol: String,
                          bucketCol: String,
                          pooled: Boolean = false): DataFrame = {
    val observed = df
      .filter(col(groupCol).isNotNull && col(bucketCol).isNotNull)
      .groupBy(col(groupCol), col(bucketCol))
      .agg(count(lit(1)).as("obs"))
    val cells = observed.select(col(groupCol)).distinct()
      .crossJoin(observed.select(col(bucketCol)).distinct())
      .join(observed, Seq(groupCol, bucketCol), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
    val pool = observed.groupBy(col(bucketCol))
      .agg(sum(col("obs")).as("__gb"))
    val tot = observed.agg(sum(col("obs")).as("__tn"),
      countDistinct(col(bucketCol)).cast("int").as("__k"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val n = sum(col("obs")).over(wG)
    val expd =
      if (pooled)
        n.cast("double") * col("__gb").cast("double") /
          col("__tn").cast("double")
      else n.cast("double") / col("__k").cast("double")
    val obsD = col("obs").cast("double")
    val contrib = (obsD - expd) * (obsD - expd) / expd
    cells.join(pool, Seq(bucketCol)).crossJoin(broadcast(tot))
      .select(col(groupCol), n.as("n"),
        (col("__k") - 1).cast("int").as("dof"),
        round(contrib, 6).cast("decimal(28,6)").as("__c6"))
      .groupBy(col(groupCol), col("n"), col("dof"))
      .agg(round(sum(col("__c6")).cast("double"), 6).as("chi2"))
  }

  /** Benjamini–Hochberg FDR gate over a hypothesis frame: sort the m
    * p-values ascending, find the largest rank k with
    * p₍k₎ ≤ k·q/m, and keep every hypothesis with p ≤ p₍k₎ — the
    * standard multiple-testing control (BH 1995) for screens that
    * fire one test per segment/feature/slice. Keeps the REJECTED
    * (significant) rows, all input columns intact; empty result = no
    * discovery survives the gate.
    *
    * Determinism: the decision is pure integer arithmetic —
    * p as exact round-6 micro-units, q as exact micro-units, the
    * step-up condition p_mu·m ≤ k·q_mu compared in longs. Tied
    * p-values share a decision by construction (the largest rank in
    * a tie block dominates), so rank-order among ties cannot matter.
    *
    * Scale shape: the hypothesis frame is GROUP-scale by nature (one
    * row per tested segment) — the ordered window runs on that frame,
    * not on corpus rows; the threshold is a 1-row broadcast. */
  def bhFdr(df: DataFrame, pCol: String, q: Double): DataFrame = {
    require(q > 0 && q < 1, "q in (0,1)")
    val qMu = (BigDecimal(q) * 1000000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    import org.apache.spark.sql.expressions.Window
    val src = df.filter(col(pCol).isNotNull)
      .withColumn("__pmu",
        (r6d(col(pCol)).cast("decimal(18,6)") * 1000000L)
          .cast("decimal(38,0)").cast("long"))
    val m = src.agg(count(lit(1)).as("__m"))
    val ranked = src.crossJoin(broadcast(m))
      .withColumn("__i", row_number().over(Window.orderBy(col("__pmu"))))
    val cut = ranked
      .filter(col("__pmu") * col("__m") <= col("__i") * lit(qMu))
      .agg(max(col("__pmu")).as("__cut"))
    src.crossJoin(broadcast(cut))
      .filter(col("__pmu") <= col("__cut"))
      .drop("__pmu", "__cut")
  }

  /** Calibration (reliability) bins of a probability score against a
    * boolean label — AUC ([[rocAuc]]) measures ranking, this measures
    * whether 0.8 MEANS 80%: scores in [0,1] bucket into `bins` equal
    * bins (the top edge folds into the last bin), each emitting its
    * count, confidence (mean score) and accuracy (positive fraction)
    * — both as EXACT truncating integer micro-units (score joins the
    * bin frame as its exact decimal(18,6) micro-value, so no double
    * mean exists anywhere; engines can't disagree). One hash agg on
    * the bin key; the output is bins-sized.
    *
    * @return (bin, n, conf_micros, acc_micros), bins observed only */
  def calibrationBins(df: DataFrame, scoreCol: String, isPos: Column,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val s6 = r6d(col(scoreCol))
    val src = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select(s6.as("__s"), isPos.as("__p"))
      .filter(col("__s") >= 0 && col("__s") <= 1)
      .select(least(floor(col("__s") * bins).cast("int"), lit(bins - 1))
          .as("bin"),
        (col("__s").cast("decimal(18,6)") * 1000000L)
          .cast("decimal(38,0)").cast("long").as("__mu"),
        col("__p"))
    src.groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        sum(col("__mu")).as("__smu"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("__pos"))
      .select(col("bin"), col("n"),
        expr("__smu div n").as("conf_micros"),
        expr("(__pos * 1000000) div n").as("acc_micros"))
  }

  /** Expected Calibration Error over [[calibrationBins]] — the one
    * headline number: Σ_b (n_b/N)·|acc_b − conf_b|. Folding the
    * weights in BEFORE dividing keeps it one EXACT integer:
    * Σ_b |pos_b·10⁶ − Σscore_mu_b| div N — no per-bin double means,
    * no order-dependent double sum. Bin-frame scale. */
  def expectedCalibrationError(df: DataFrame, scoreCol: String,
                               isPos: Column, bins: Int = 10): DataFrame = {
    val s6 = r6d(col(scoreCol))
    val src = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select(s6.as("__s"), isPos.as("__p"))
      .filter(col("__s") >= 0 && col("__s") <= 1)
      .select(least(floor(col("__s") * bins).cast("int"), lit(bins - 1))
          .as("bin"),
        (col("__s").cast("decimal(18,6)") * 1000000L)
          .cast("decimal(38,0)").cast("long").as("__mu"),
        col("__p"))
    src.groupBy(col("bin")).agg(
        count(lit(1)).as("__n"), sum(col("__mu")).as("__smu"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("__pos"))
      .agg(sum(col("__n")).as("n"),
        sum(abs(col("__pos") * 1000000L - col("__smu"))).as("__dev"))
      .select(col("n"), expr("__dev div n").as("ece_micros"))
  }

  /** Spearman rank correlation — the monotone-association number
    * (Pearson is elsewhere in this file; Spearman is what QC reports
    * when the relationship is nonlinear or heavy-tailed). Fractional
    * average ranks are avoided entirely: every tie block's average
    * rank is (2·below + c + 1)/2, so the op ranks on DOUBLED ranks
    * R2 = 2·below + c + 1 — whole longs — and computes Pearson on R2
    * (the ½ scale factor cancels in r). Moment sums run in EXACT
    * decimal(38,0) (order-free, engine-replayable; a decimal overflow
    * past n ≈ 1.5e9 rows nulls the answer rather than corrupting it —
    * Spark's non-ANSI decimal overflow yields null, never a wrapped
    * value), with one double sqrt/division at the end. Zero variance
    * on either axis (all ties) → rho null.
    *
    * Scale shape: per axis, one hash agg to the distinct-value frame
    * and a [[Prefix.strictBelow]] bucketed prefix (no single-partition
    * window); rank maps join back to the pair frame on the value key
    * (broadcastable when distinct values are few — AQE decides); one
    * 1-row reduce.
    *
    * @return one row: (n, rho) */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String,
                   bucketSize: Long = 1048576L): DataFrame = {
    val dec = "decimal(38,0)"
    val mu = (c: Column) => (r6d(c).cast("decimal(18,6)") * 1000000L)
      .cast(dec).cast("long")
    val src = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(mu(col(xCol)).as("__xm"), mu(col(yCol)).as("__ym"))
    def rankMap(key: String): DataFrame = {
      val counts = src.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      Prefix.strictBelow(counts, Nil, key, Seq("__c"), bucketSize)
        .select(col(key),
          (lit(2L) * col("__below___c") + col("__c") + 1L)
            .as(s"__r2$key"))
    }
    src.join(rankMap("__xm"), Seq("__xm"))
      .join(rankMap("__ym"), Seq("__ym"))
      .select(col("__r2__xm").cast(dec).as("__rx"),
        col("__r2__ym").cast(dec).as("__ry"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
        sum(col("__rx") * col("__ry")).as("__sxy"),
        sum(col("__rx") * col("__rx")).as("__sxx"),
        sum(col("__ry") * col("__ry")).as("__syy"))
      .select(col("__n").as("n"),
        when(col("__n").cast(dec) * col("__sxx") -
            col("__sx") * col("__sx") > 0 &&
          col("__n").cast(dec) * col("__syy") -
            col("__sy") * col("__sy") > 0,
          round((col("__n").cast(dec) * col("__sxy") -
            col("__sx") * col("__sy")).cast("double") /
            sqrt((col("__n").cast(dec) * col("__sxx") -
              col("__sx") * col("__sx")).cast("double") *
              (col("__n").cast(dec) * col("__syy") -
                col("__sy") * col("__sy")).cast("double")), 6))
          .as("rho"))
  }

  /** CUPED variance-reduced treatment effect (Deng et al. 2013) — the
    * experimentation-platform standard: regress the post-period
    * metric on its pre-period covariate (θ = cov/var over ALL units,
    * pooled), subtract θ·(pre − mean_pre) from every unit, and the
    * adjusted treatment effect has variance shrunk by exactly corr².
    * The op needs ONE exact moment aggregation: group-adjusted means
    * collapse to mean_post_g − θ·(mean_pre_g − mean_pre), and
    * var(adjusted) = var(post) − cov²/var(pre), so the variance-
    * reduction ratio IS corr(pre, post)² — no per-unit adjusted
    * column, no second pass. Moment sums are exact decimal(38,0)
    * (micro-unit inputs, the a16/a17 discipline); θ and every mean
    * are fixed-order double ratios rounded once at the end.
    * Zero pre-variance → θ undefined → adjusted outputs null (raw
    * diff still emitted); an empty arm nulls every diff.
    *
    * Scale shape: one hash agg over the unit frame with conditional
    * per-arm sums riding the same reduce — nothing else touches the
    * data.
    *
    * @param inTreatment boolean Column: true → treatment arm
    * @return one row: (n_t, n_c, theta, raw_diff, adjusted_diff,
    *         variance_reduction) */
  def cupedAdjustment(df: DataFrame, preCol: String, postCol: String,
                      inTreatment: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val mu = (c: Column) => (r6d(c).cast("decimal(18,6)") * 1000000L)
      .cast(dec).cast("long")
    val src = df.filter(col(preCol).isNotNull && col(postCol).isNotNull
        && inTreatment.isNotNull)
      .select(mu(col(preCol)).as("__x"), mu(col(postCol)).as("__y"),
        inTreatment.as("__t"))
    val agg = src.agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__sxy"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"),
      sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__syy"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
      sum(when(col("__t"), col("__x")).otherwise(0L)).as("__sxt"),
      sum(when(col("__t"), col("__y")).otherwise(0L)).as("__syt"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
      sum(when(!col("__t"), col("__x")).otherwise(0L)).as("__sxc"),
      sum(when(!col("__t"), col("__y")).otherwise(0L)).as("__syc"))
    val covN = (col("__n").cast(dec) * col("__sxy") -
      col("__sx") * col("__sy")).cast("double")
    val varXN = (col("__n").cast(dec) * col("__sxx") -
      col("__sx") * col("__sx")).cast("double")
    val varYN = (col("__n").cast(dec) * col("__syy") -
      col("__sy") * col("__sy")).cast("double")
    val theta = covN / varXN
    val meanD = (s: String, n: String) =>
      col(s).cast("double") / col(n).cast("double") / 1e6
    val rawDiff = meanD("__syt", "__nt") - meanD("__syc", "__nc")
    val preDiff = meanD("__sxt", "__nt") - meanD("__sxc", "__nc")
    val arms = col("__nt") > 0 && col("__nc") > 0
    agg.select(col("__nt").as("n_t"), col("__nc").as("n_c"),
      when(varXN > 0, round(theta, 6)).as("theta"),
      when(arms, round(rawDiff, 6)).as("raw_diff"),
      when(arms && varXN > 0, round(rawDiff - theta * preDiff, 6))
        .as("adjusted_diff"),
      when(varXN > 0 && varYN > 0,
        round(covN * covN / (varXN * varYN), 6))
        .as("variance_reduction"))
  }

  /** Deterministic randomization test for a two-group mean difference
    * — the assumption-free significance test (no normality, no equal
    * variances: the t-test's a20 companion for ugly distributions).
    * Monte-Carlo null: `replicas` pseudo-assignments re-label every
    * row by PORTABLE salted hash (Bernoulli p = n_A/n — the
    * unconditional randomization variant; exchangeability under H₀ is
    * all it needs), p = (1 + #extreme) / (replicas + 1), the
    * add-one-smoothed Monte-Carlo estimator. NO RNG state anywhere:
    * the same rows give the same p on any engine, run, or layout.
    *
    * "Extreme" compares EXACT rationals by cross-multiplication in
    * decimal(38,0): |S'_A·n'_B − S'_B·n'_A|·n_A·n_B ≥
    * |S_A·n_B − S_B·n_A|·n'_A·n'_B — no double ever orders the
    * comparison. The 38-digit cap makes this exact to ~10⁷ rows per
    * side at value≈100; beyond, Spark's non-ANSI decimal overflow
    * NULLS the verdict rather than corrupting it (pre-aggregate
    * first at that scale). A replica that lands a side empty has an
    * undefined mean and counts as extreme (conservative, p can only
    * grow; vanishing probability at any real n).
    *
    * Scale shape: the honest cost is `replicas` hash re-labelings of
    * the corpus — a single explode into a (replica)-keyed hash agg
    * with map-side combine (2·replicas partial rows per partition,
    * never replicas× the shuffle); the observed stats and the
    * per-replica frame are 1-row / replicas-row broadcasts.
    *
    * @param inA boolean Column: true → group A (null rows excluded)
    * @return one row: (n_a, n_b, obs_diff, replicas, n_extreme,
    *         p_value) */
  def randomizationTest(df: DataFrame, valueCol: String, inA: Column,
                        idCol: String,
                        replicas: Int = 199): DataFrame = {
    require(replicas >= 1, "replicas must be >= 1")
    val dec = "decimal(38,0)"
    val src = df.filter(col(valueCol).isNotNull && inA.isNotNull &&
        col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        (r6d(col(valueCol)).cast("decimal(18,6)") * 1000000L)
          .cast(dec).cast("long").as("__v"),
        inA.as("__a"))
    val obs = src.agg(
      coalesce(sum(when(col("__a"), col("__v"))), lit(0L)).as("__sa"),
      coalesce(sum(when(col("__a"), 1L).otherwise(0L)), lit(0L))
        .as("__na"),
      coalesce(sum(when(!col("__a"), col("__v"))), lit(0L)).as("__sb"),
      coalesce(sum(when(!col("__a"), 1L).otherwise(0L)), lit(0L))
        .as("__nb"))
    val reps = src
      .select(col("__id"), col("__v"),
        explode(sequence(lit(1), lit(replicas))).as("__b"))
      .crossJoin(broadcast(obs.select(col("__na"), col("__nb"))))
      .withColumn("__h",
        pmod(graft.text.TextOps.portableHash(col("__id")) +
          col("__b").cast("long") * 2654435761L, lit(2147483647L)))
      .withColumn("__pa",
        pmod(col("__h"), col("__na") + col("__nb")) < col("__na"))
      .groupBy(col("__b")).agg(
        coalesce(sum(when(col("__pa"), col("__v"))), lit(0L))
          .as("__rsa"),
        coalesce(sum(when(col("__pa"), 1L).otherwise(0L)), lit(0L))
          .as("__rna"),
        coalesce(sum(when(!col("__pa"), col("__v"))), lit(0L))
          .as("__rsb"),
        coalesce(sum(when(!col("__pa"), 1L).otherwise(0L)), lit(0L))
          .as("__rnb"))
    val extreme = reps.crossJoin(broadcast(obs))
      .select(
        (col("__rna") === 0 || col("__rnb") === 0 ||
          abs(col("__rsa").cast(dec) * col("__rnb").cast(dec) -
            col("__rsb").cast(dec) * col("__rna").cast(dec)) *
            col("__na").cast(dec) * col("__nb").cast(dec) >=
          abs(col("__sa").cast(dec) * col("__nb").cast(dec) -
            col("__sb").cast(dec) * col("__na").cast(dec)) *
            col("__rna").cast(dec) * col("__rnb").cast(dec))
          .as("__x"))
      .agg(coalesce(sum(when(col("__x"), 1L).otherwise(0L)), lit(0L))
        .as("n_extreme"))
    obs.crossJoin(broadcast(extreme))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        when(col("__na") > 0 && col("__nb") > 0,
          round(abs(col("__sa").cast(dec) * col("__nb").cast(dec) -
            col("__sb").cast(dec) * col("__na").cast(dec))
            .cast("double") /
            (col("__na").cast(dec) * col("__nb").cast(dec))
              .cast("double") / 1e6, 6)).as("obs_diff"),
        lit(replicas.toLong).as("replicas"), col("n_extreme"),
        round((lit(1L) + col("n_extreme")).cast("double") /
          lit((replicas + 1).toDouble), 6).as("p_value"))
  }

  /** Poisson-bootstrap cutoffs: h < CUT(k) ⟺ weight k, where CUT(k) =
    * ⌊CDF_Poisson(1)(k)·(2³¹−1)⌋ — fixed integer literals so both
    * engines draw the identical weight from the identical hash.
    * Weights truncate at 8 (tail mass ~7e-6, absorbed into w=8). */
  private val PoissonCuts = Array(790015083L, 1580030167L, 1975037709L,
    2106706890L, 2139624185L, 2146207644L, 2147304887L, 2147461637L)

  /** Poisson-bootstrap confidence interval for a mean — THE bootstrap
    * that works distributed (Chamandy et al.'s "Estimating uncertainty
    * for massive data streams" recipe): instead of resampling n rows
    * WITH replacement (which needs global coordination), every row
    * gets an independent Poisson(1) replication weight per replica —
    * the multinomial's limit — drawn here DETERMINISTICALLY from the
    * salted portable hash by inverse CDF over fixed integer cutoffs.
    * No RNG state; the same rows give the same interval on any
    * engine, run, or partitioning. Replica means are truncating
    * micro-unit integers; the CI bounds are order statistics of the
    * B-replica mean frame (k = ⌈B·α/2⌉ smallest / ⌈B·(1−α/2)⌉
    * smallest — the conformal convention). A replica whose total
    * weight is 0 is dropped and counted (vanishing probability past
    * tiny n).
    *
    * Scale shape: one explode into a replica-keyed hash agg with
    * map-side combine (the randomizationTest shuffle shape); the
    * replica-mean frame is B rows — its window is B-sized by
    * contract.
    *
    * @param alphaMicros the PER-TAIL mass in micro-units (default
    *        25000 = 2.5% per tail → a 95% interval)
    * @return one row: (n, mean_micros, replicas, replicas_used,
    *         ci_lo_micros, ci_hi_micros) */
  def bootstrapMeanCi(df: DataFrame, valueCol: String, idCol: String,
                      replicas: Int = 200,
                      alphaMicros: Long = 25000L): DataFrame = {
    require(replicas >= 4, "replicas must be >= 4")
    require(alphaMicros > 0 && alphaMicros < 1000000L,
      "alphaMicros must be in (0, 1e6)")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val src = df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        (r6d(col(valueCol)).cast("decimal(18,6)") * 1000000L)
          .cast(dec).cast("long").as("__v"))
    val obs = src.agg(count(lit(1)).as("__n"),
      coalesce(sum(col("__v")), lit(0L)).as("__s"))
    val h = pmod(graft.text.TextOps.portableHash(col("__id")) +
      col("__b").cast("long") * 2654435761L, lit(2147483647L))
    val w = PoissonCuts.zipWithIndex.foldRight(lit(8)) {
      case ((cut, k), rest) => when(col("__h") < cut, lit(k)).otherwise(rest)
    }
    val reps = src
      .select(col("__id"), col("__v"),
        explode(sequence(lit(1), lit(replicas))).as("__b"))
      .withColumn("__h", h)
      .withColumn("__w", w.cast("long"))
      .groupBy(col("__b")).agg(
        coalesce(sum(col("__w") * col("__v")), lit(0L)).as("__ws"),
        coalesce(sum(col("__w")), lit(0L)).as("__wn"))
      .filter(col("__wn") > 0)
      .select(expr("__ws div __wn").as("__m"))
    val bUsed = reps.agg(count(lit(1)).as("__bu"))
    val wOrd = Window.orderBy(col("__m"))
    val ranked = reps.withColumn("__r", row_number().over(wOrd))
    val bounds = ranked.crossJoin(broadcast(bUsed))
      .select(col("__m"), col("__r"),
        expr(s"(__bu * $alphaMicros + 999999) div 1000000").as("__klo"),
        expr(s"(__bu * ${1000000L - alphaMicros} + 999999) div 1000000")
          .as("__khi"))
    val lo = bounds.filter(col("__r") === greatest(col("__klo"), lit(1L)))
      .agg(min(col("__m")).as("ci_lo_micros"))
    val hi = bounds.filter(col("__r") === col("__khi"))
      .agg(min(col("__m")).as("ci_hi_micros"))
    obs.crossJoin(broadcast(bUsed)).crossJoin(broadcast(lo))
      .crossJoin(broadcast(hi))
      .select(col("__n").as("n"),
        when(col("__n") > 0, expr("__s div __n")).as("mean_micros"),
        lit(replicas.toLong).as("replicas"),
        col("__bu").as("replicas_used"),
        col("ci_lo_micros"), col("ci_hi_micros"))
  }

  /** Per-group classification fairness audit — confusion counts and
    * the standard group-fairness rates for a binary prediction
    * against a binary label, per sensitive group: selection rate
    * (demographic-parity lens), TPR (equal-opportunity lens), FPR and
    * PPV (equalized-odds / calibration lenses), plus each group's
    * selection-rate gap against the overall rate. Rates are round-6
    * doubles over exact long counts (one division each — no
    * accumulation anywhere); any rate with a zero denominator is
    * null, never 0 (a group with no positives has UNDEFINED TPR — a
    * 0 would read as a fairness violation).
    *
    * Scale shape: one hash agg to the groups frame; the overall rate
    * attaches as a 1-row broadcast. Rows with a null group, label, or
    * prediction are excluded (audit the missingness separately —
    * [[missingness]] exists for that).
    *
    * @return one row per group: (group, n, tp, fp, fn, tn,
    *         selection_rate, tpr, fpr, ppv, dp_gap) */
  def groupFairness(df: DataFrame, groupCol: String, label: Column,
                    pred: Column): DataFrame = {
    val src = df.filter(col(groupCol).isNotNull &&
        label.isNotNull && pred.isNotNull)
      .select(col(groupCol).as("__g"), label.as("__y"), pred.as("__h"))
    val grouped = src.groupBy(col("__g")).agg(
      count(lit(1)).as("n"),
      sum(when(col("__y") && col("__h"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("__y") && col("__h"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("__y") && !col("__h"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("__y") && !col("__h"), 1L).otherwise(0L)).as("tn"))
    val overall = grouped.agg(
      sum(col("tp") + col("fp")).as("__selAll"),
      sum(col("n")).as("__nAll"))
    def rate(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
    grouped.crossJoin(broadcast(overall)) // 1-row overall attach
      .select(col("__g").as(groupCol), col("n"), col("tp"),
        col("fp"), col("fn"), col("tn"),
        rate(col("tp") + col("fp"), col("n")).as("selection_rate"),
        rate(col("tp"), col("tp") + col("fn")).as("tpr"),
        rate(col("fp"), col("fp") + col("tn")).as("fpr"),
        rate(col("tp"), col("tp") + col("fp")).as("ppv"),
        when(col("n") > 0 && col("__nAll") > 0,
          round((col("tp") + col("fp")).cast("double") /
              col("n").cast("double") -
            col("__selAll").cast("double") /
              col("__nAll").cast("double"), 6)).as("dp_gap"))
  }

  /** Average precision (area under the precision–recall curve, the
    * step-wise estimator) — the ranking metric that matters when
    * positives are rare and ROC-AUC flatters. Thresholds are the
    * distinct scores descending; AP = Σ_v ΔR_v·P_v =
    * Σ_v pos_v·cumPos_v / (n_pos·cumTot_v), a sum of per-threshold
    * RATIONALS (unlike [[rocAuc]] there is no single-rational
    * collapse — denominators differ per term), so each term is pinned
    * to the pico grid by TRUNCATING integer division,
    * (pos_v·cumPos_v·10¹²) div (n_pos·cumTot_v) in decimal(38,0), and
    * the pico sum is exact and engine-replayable (DuckDB `//` on
    * HUGEINT truncates identically for non-negatives). Truncation
    * understates each term by < 10⁻¹² — under the round-6 output grid
    * until ~10⁶ distinct thresholds, the honest resolution of a
    * 6-dp-rounded score anyway. No positives → ap null.
    *
    * Scale shape: one hash agg to the distinct-score frame,
    * [[Prefix.strictBelow]] ascending prefix; "cumulative from the
    * top" is totals − strict-below (totals attach as a 1-row
    * broadcast), 1-row reduce.
    *
    * @return one row: (n_pos, n_neg, ap) */
  def averagePrecision(df: DataFrame, scoreCol: String, isPos: Column,
                       bucketSize: Long = 1048576L): DataFrame = {
    val dec = "decimal(38,0)"
    val src = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select((r6d(col(scoreCol)).cast("decimal(18,6)") * 1000000L)
        .cast(dec).cast("long").as("__mu"), isPos.as("__p"))
    val counts = src.groupBy(col("__mu")).agg(
      sum(when(col("__p"), 1L).otherwise(0L)).as("__cp"),
      sum(when(!col("__p"), 1L).otherwise(0L)).as("__ct"))
      .withColumn("__ct", col("__ct") + col("__cp"))
    val below = Prefix.strictBelow(counts, Nil, "__mu",
      Seq("__cp", "__ct"), bucketSize)
    val totals = counts.agg(
      coalesce(sum(col("__cp")), lit(0L)).as("__np"),
      coalesce(sum(col("__ct")), lit(0L)).as("__nt"))
    below.crossJoin(broadcast(totals)) // 1-row totals attach
      .select(col("__np"), col("__nt"), col("__cp"),
        (col("__np") - col("__below___cp")).as("__cumPos"),
        (col("__nt") - col("__below___ct")).as("__cumTot"))
      .agg(first(col("__np")).as("__np2"),
        first(col("__nt")).as("__nt2"),
        coalesce(sum(when(col("__np") > 0,
          expr(s"""(cast(__cp as $dec) * cast(__cumPos as $dec)
            * cast(1000000000000 as $dec))
            div (cast(__np as $dec) * cast(__cumTot as $dec))""")
          ).otherwise(lit(0L))), lit(0L)).as("__picos"))
      .select(coalesce(col("__np2"), lit(0L)).as("n_pos"),
        (coalesce(col("__nt2"), lit(0L)) -
          coalesce(col("__np2"), lit(0L))).as("n_neg"),
        when(col("__np2") > 0,
          round(col("__picos").cast("double") / 1e12, 6)).as("ap"))
  }

  /** Split-conformal prediction threshold — per group, the
    * finite-sample-corrected (1−α) quantile of a calibration
    * nonconformity score: q̂ = the k-th smallest score with
    * k = ⌈(n+1)(1−α)⌉, the value that guarantees ≥ 1−α marginal
    * coverage for exchangeable data. α enters as EXACT micro-units
    * (k = ((n+1)·(10⁶−α_μ) + 10⁶−1) div 10⁶ — no double ever touches
    * the order statistic), and q̂ is "the smallest score whose
    * ≤-cumulative count reaches k" — an order statistic found by
    * prefix counts, never a per-group sort. k > n (too little
    * calibration data for this α) → q̂ null, k still reported.
    *
    * Scale shape: one hash agg to the per-(group, distinct-score)
    * frame, [[Prefix.strictBelow]] per group, a group-keyed min-agg
    * over qualifying rows, left-joined back to the per-group counts
    * frame (groups with k > n survive with null q̂).
    *
    * @return one row per group: (groupCols*, n, k, qhat_micros) */
  def conformalThreshold(df: DataFrame, scoreCol: String,
                         groupCols: Seq[String], alphaMicros: Long,
                         bucketSize: Long = 1048576L): DataFrame = {
    require(alphaMicros > 0 && alphaMicros < 1000000L,
      "alphaMicros must be in (0, 1e6)")
    val g = groupCols.map(col)
    val src = df.filter(col(scoreCol).isNotNull)
      .select((groupCols.map(col) :+
        (r6d(col(scoreCol)).cast("decimal(18,6)") * 1000000L)
          .cast("decimal(38,0)").cast("long").as("__mu")): _*)
    val counts = src.groupBy((g :+ col("__mu")): _*)
      .agg(count(lit(1)).as("__c"))
    val below = Prefix.strictBelow(counts, groupCols, "__mu",
      Seq("__c"), bucketSize)
      .withColumn("__cum", col("__below___c") + col("__c"))
    val perGroup = counts.groupBy(g: _*).agg(sum(col("__c")).as("n"))
      .withColumn("k", expr(
        s"((n + 1) * ${1000000L - alphaMicros} + 999999) div 1000000"))
    val qhat = below.join(perGroup, groupCols)
      .filter(col("__cum") >= col("k"))
      .groupBy(g: _*).agg(min(col("__mu")).as("qhat_micros"))
    perGroup.join(qhat, groupCols, "left")
      .select((g :+ col("n") :+ col("k") :+ col("qhat_micros")): _*)
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical "raters" over the same rows (the inter-annotator /
    * model-vs-gold agreement statistic every labeling pipeline
    * reports). Entirely EXACT integer arithmetic until one double
    * division: with N rows, A = diagonal (agree) count and
    * S = Σ_k rowTot_k·colTot_k over shared labels,
    * κ = (A·N − S) / (N² − S) — the textbook (p_o−p_e)/(1−p_e) with
    * both sides multiplied through by N², so no per-cell double
    * shares anywhere. Products run in decimal(38,0) (the [[rocAuc]]
    * overflow discipline). Degenerate p_e = 1 (both raters constant
    * and equal) → kappa null; counts still emitted.
    *
    * Scale shape: one contingency hash agg (cells frame), marginals
    * re-aggregated FROM the cells frame (never a second corpus scan),
    * label-keyed inner join of the two marginal frames (labels
    * missing on either side contribute 0 to S), 1-row reduce.
    *
    * @return one row: (n, agree, kappa) */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
    val rowTot = cells.groupBy(col("__a").as("__k"))
      .agg(sum(col("__c")).as("__r"))
    val colTot = cells.groupBy(col("__b").as("__k"))
      .agg(sum(col("__c")).as("__ct"))
    val s = rowTot.join(colTot, Seq("__k"))
      .agg(coalesce(sum(col("__r").cast(dec) * col("__ct").cast(dec)),
        lit(0).cast(dec)).as("__s"))
    val base = cells.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__c"))
        .otherwise(0L)), lit(0L)).as("__agree"))
    base.crossJoin(s) // 1-row x 1-row scalar attach
      .select(col("__n").as("n"), col("__agree").as("agree"),
        when(col("__n").cast(dec) * col("__n").cast(dec) =!= col("__s"),
          round((col("__agree").cast(dec) * col("__n").cast(dec) -
            col("__s")).cast("double") /
            (col("__n").cast(dec) * col("__n").cast(dec) -
              col("__s")).cast("double"), 6)).as("kappa"))
  }

  /** Isotonic calibration over score bins — the monotone recalibration
    * map (pool-adjacent-violators) every probability-emitting gate
    * wants after [[calibrationBins]] shows miscalibration. PAV is
    * sequential, but its CLOSED FORM is not: the isotonic fit at bin i
    * is max_{j≤i} min_{k≥i} mean(pos/count over bins j..k) — a
    * min-max over contiguous bin RANGES, which is a relational
    * statement over the bins·(bins+1)/2 range frame. Range means are
    * truncating integer micro-units ((ΔP·10⁶) div Δn — the a41 grid;
    * determinism beats the sub-micro bias), so every min/max compares
    * plain longs and any engine replays it bit-for-bit. The result is
    * monotone non-decreasing by construction.
    *
    * Scale shape: the corpus collapses to the bins frame in one hash
    * agg (the calibrationBins shuffle); everything after — prefix
    * sums, the j≤k range frame, the (i, j, k) min-max — lives on
    * bins²/bins³ rows, a few thousand cells at any corpus size. The
    * bins-frame windows are single-partition BY CONTRACT (bins ≤
    * ~100); corpus rows never see a window.
    *
    * @return one row per non-empty bin: (bin, n, pos, raw_micros,
    *         iso_micros) — raw = pos/n on the micro grid, iso = the
    *         monotone fit */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
                          isPos: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1024, "bins must be in [2, 1024]")
    import org.apache.spark.sql.expressions.Window
    val s6 = r6d(col(scoreCol))
    val binned = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select(s6.as("__s"), isPos.as("__p"))
      .filter(col("__s") >= 0 && col("__s") <= 1)
      .select(least(floor(col("__s") * bins).cast("int"),
        lit(bins - 1)).as("bin"), col("__p"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pfx = binned
      .withColumn("__cp", sum(col("pos")).over(w))
      .withColumn("__cn", sum(col("n")).over(w))
    // contiguous non-empty-bin ranges j..k with their pooled means
    val lo = pfx.select(col("bin").as("__j"),
      (col("__cp") - col("pos")).as("__pj"),
      (col("__cn") - col("n")).as("__nj"))
    val hi = pfx.select(col("bin").as("__k"), col("__cp").as("__pk"),
      col("__cn").as("__nk"))
    val ranges = lo.join(hi, col("__j") <= col("__k"))
      .select(col("__j"), col("__k"),
        expr("((__pk - __pj) * 1000000) div (__nk - __nj)")
          .as("__m"))
    // fitted_i = max over j<=i of (min over k>=i of mean(j..k))
    val byI = binned.select(col("bin").as("__i"))
      .join(ranges, col("__j") <= col("__i") && col("__k") >= col("__i"))
      .groupBy(col("__i"), col("__j")).agg(min(col("__m")).as("__mn"))
      .groupBy(col("__i")).agg(max(col("__mn")).as("iso_micros"))
    binned.join(byI, col("bin") === col("__i"))
      .select(col("bin"), col("n"), col("pos"),
        expr("(pos * 1000000) div n").as("raw_micros"),
        col("iso_micros"))
  }

  /** ROC-AUC of a score against a boolean label — the
    * threshold-free ranking metric every quality-classifier gate
    * reports. Computed as the Mann–Whitney U statistic on EXACT
    * integers: scores round once to 6 and collapse to per-value
    * (pos, neg) counts; ascending over values,
    * 2U = Σ_v pos_v · (2·cumNegBelow_v + neg_v) — each tie block
    * contributes its ½ fractional ranks as whole integers in the
    * DOUBLED statistic, so the sum is exact and engine-free, with one
    * double division (AUC = 2U / 2·n_pos·n_neg) at the end. Products
    * run in decimal(38,0) (the [[ksTwoSample]] overflow discipline —
    * long wraps past ~3e9 rows per class). Degenerate single-class
    * input → auc null (no ranking is defined), counts still emitted.
    *
    * Scale shape: one hash agg to the distinct-score frame, then the
    * bucketed hierarchical prefix sums ([[sequenceGaps]]/[[ksTwoSample]]
    * discipline): intra-bucket cumulatives ride a parallel
    * (bucket, value) exchange; only the bucket-totals frame
    * (value-range/bucketSize rows) crosses one partition; the final
    * reduce is a 1-row agg.
    *
    * @param isPos boolean Column: true → positive class (null rows
    *        excluded)
    * @return one row: (n_pos, n_neg, auc) */
  /** Cliff's delta — the nonparametric effect size completing the
    * a20 t-test / a52 randomization family: δ = P(X > Y) − P(X < Y)
    * over all cross-group pairs (ties contribute zero), the ordinal
    * "how often does a group-A draw beat a group-B draw" number that
    * is meaningful when means aren't (heavy tails, ordinal scales).
    * Equivalent to 2·AUC − 1 and computed from the SAME machinery:
    * concordant = Σ_v cp(v)·negBelow(v), discordant =
    * Σ_v cp(v)·negAbove(v), δ = (conc − disc)/(n₁·n₂) — EXACT
    * decimal(38,0) integers into one rounded double division.
    * |δ| ≥ 0.474 is Romano's "large" convention (caller's rubric).
    *
    * Scale shape: the [[rocAuc]] plan verbatim — distinct-score
    * frame + the bucketed Prefix hierarchy; nothing per-row.
    *
    * @return one row: (n_pos, n_neg, delta) */
  /** Two-proportion power analysis — "how long must the A/B run?":
    * per-arm sample size to detect an absolute `mde` lift over the
    * OBSERVED baseline conversion at the given z-quantiles,
    * n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/mde² (the classic normal-
    * approximation formula, sized BEFORE the experiment — the
    * planning twin of a20's after-the-fact test and a63's always-
    * valid monitor). The baseline p₁ comes from the data (one
    * conditional agg); p₂ = p₁ + mde; a target outside (0, 1), an
    * empty input, or mde = 0 → NULL size with counts reported.
    *
    * z defaults are the two-sided α = 0.05 / power = 0.80 quantiles
    * as round-6 literals (1.959964, 0.841621) — parameters, not an
    * inverse-Φ dependency, so the whole chain is engine-exact.
    *
    * Numerics: exact integer counts; ONE double chain into ceil
    * (exact on both engines), the rates rounded once for display.
    *
    * Scale shape: one conditional global agg, scalars after.
    *
    * @return one row: (n_obs, p_baseline, p_target, n_per_arm,
    *         total_n) */
  def powerSampleSize(df: DataFrame, isPos: Column, mde: Double,
                      zAlpha: Double = 1.959964,
                      zPower: Double = 0.841621): DataFrame = {
    require(mde != 0.0, "mde must be non-zero")
    val p1 = col("__cp").cast("double") / col("n_obs").cast("double")
    val p2 = p1 + lit(mde)
    val z2 = (lit(zAlpha) + lit(zPower)) * (lit(zAlpha) + lit(zPower))
    val nArm = ceil(z2 *
      (p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2)) /
      (lit(mde) * lit(mde))).cast("long")
    df.filter(isPos.isNotNull)
      .select(when(isPos, 1L).otherwise(0L).as("__c"))
      .agg(count(lit(1)).as("n_obs"),
        coalesce(sum(col("__c")), lit(0L)).as("__cp"))
      .select(col("n_obs"),
        when(col("n_obs") > 0, round(p1, 6)).as("p_baseline"),
        when(col("n_obs") > 0, round(p2, 6)).as("p_target"),
        when(col("n_obs") > 0 && p2 > 0.0 && p2 < 1.0, nArm)
          .as("n_per_arm"),
        when(col("n_obs") > 0 && p2 > 0.0 && p2 < 1.0,
          nArm * 2).as("total_n"))
  }

  /** IPS / SNIPS off-policy evaluation — "how would a NEW policy
    * have scored on the traffic the OLD policy logged?" without an
    * experiment (Li et al. 2011 replay; the counterfactual sibling
    * of a20's on-policy A/B): rows where the logged action matches
    * the target policy's choice are re-weighted by 1/propensity,
    * IPS = Σ(r/p·match)/n (unbiased, high variance), SNIPS =
    * Σ(r/p·match)/Σ(1/p·match) (self-normalized, the practical
    * default), plus the effective sample size (Σw)²/Σw² — the
    * honesty dial that says how much logged data actually supports
    * the estimate. Propensities are the CALLER's logging-policy
    * record (or an empirical share for a stationary logger — the
    * a75 demo); p ≤ 0 rows are excluded.
    *
    * Numerics: per-row w, w·r and w² are ONE double chain each
    * rounded to 6dp and summed EXACTLY in decimal(38,6); each
    * estimate is one more rounded division.
    *
    * Scale shape: one narrow projection into a single conditional
    * agg with map-side partials.
    *
    * @param targetAction the action the NEW policy would take on
    *        this row (a Column over the row's context)
    * @return one row: (n, n_matched, match_rate, ips_value,
    *         snips_value, ess) */
  def offPolicyValue(df: DataFrame, actionCol: String,
                     rewardCol: String, propensityCol: String,
                     targetAction: Column): DataFrame = {
    val src = df.filter(col(actionCol).isNotNull &&
        col(rewardCol).isNotNull && col(propensityCol).isNotNull &&
        col(propensityCol) > 0 && targetAction.isNotNull)
      .select(col(actionCol).as("__a"),
        col(rewardCol).cast("double").as("__r"),
        col(propensityCol).cast("double").as("__p"),
        targetAction.as("__t"))
    val w = when(col("__a") === col("__t"),
      lit(1.0) / col("__p")).otherwise(lit(0.0))
    src.select(
        when(col("__a") === col("__t"), 1L).otherwise(0L).as("__m"),
        round(w, 6).cast("decimal(18,6)").as("__w"),
        round(w * col("__r"), 6).cast("decimal(18,6)").as("__wr"),
        round(w * w, 6).cast("decimal(18,6)").as("__w2"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("__m")), lit(0L)).as("n_matched"),
        coalesce(sum(col("__w")), lit(0).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("__sw"),
        coalesce(sum(col("__wr")), lit(0).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("__swr"),
        coalesce(sum(col("__w2")), lit(0).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("__sw2"))
      .select(col("n"), col("n_matched"),
        when(col("n") > 0,
          round(col("n_matched").cast("double") /
            col("n").cast("double"), 6)).as("match_rate"),
        when(col("n") > 0,
          round(col("__swr").cast("double") /
            col("n").cast("double"), 6)).as("ips_value"),
        when(col("__sw") > 0,
          round(col("__swr").cast("double") /
            col("__sw").cast("double"), 6)).as("snips_value"),
        when(col("__sw2") > 0,
          round(col("__sw").cast("double") *
            col("__sw").cast("double") /
            col("__sw2").cast("double"), 6)).as("ess"))
  }

  /** nDCG@k — normalized discounted cumulative gain per ranked list,
    * the position-weighted retrieval metric completing the eval
    * family ([[averagePrecision]] is corpus-level and binary; RBO
    * compares two rankings; this scores ONE ranking against graded
    * relevance): DCG = Σ_{rank≤k} rel·(ln 2/ln(rank+1)), IDCG the
    * same sum over the query's OWN relevances ideally re-ranked
    * (rel desc, original rank as the deterministic tiebreak),
    * nDCG = DCG/IDCG ∈ [0, 1], NULL when the list holds no relevant
    * item. The per-query recall dial for the ANN stack: feed it a
    * brute or IVF shortlist with label relevance and read where the
    * ranking loses its gain.
    *
    * Numerics: each gain term is ONE double chain rounded to 6dp
    * (ln 2/ln(rank+1) — rank 1 scores exactly 1.0), both sums EXACT
    * decimal; nDCG one rounded division.
    *
    * Scale shape: the input is k-bounded per query by contract (a
    * top-k shortlist); the ideal re-rank window partitions by query
    * over ≤ k rows; one (query) hash agg after.
    *
    * @param ranked ONE row per (query, rank), rank 1-based; rows
    *        with rank > k are ignored
    * @return per query: (query, n_ranked, n_rel, dcg, idcg, ndcg) */
  def ndcgAtK(ranked: DataFrame, queryCol: String, rankCol: String,
              relCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val src = ranked.filter(col(queryCol).isNotNull &&
        col(rankCol).isNotNull && col(relCol).isNotNull)
      .select(col(queryCol).as("__q"),
        col(rankCol).cast("long").as("__r"),
        col(relCol).cast("long").as("__rel"))
      .filter(col("__r") >= 1 && col("__r") <= k)
    def gain(rank: Column, rel: Column): Column =
      round(rel.cast("double") *
        (log(lit(2.0)) / log(rank.cast("double") + lit(1.0))), 6)
        .cast("decimal(18,6)")
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__rel").desc, col("__r").asc)
    src.withColumn("__ir", row_number().over(w).cast("long"))
      .select(col("__q"), gain(col("__r"), col("__rel")).as("__g"),
        gain(col("__ir"), col("__rel")).as("__ig"),
        when(col("__rel") > 0, 1L).otherwise(0L).as("__isrel"))
      .groupBy(col("__q").as("query"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("__isrel")).as("n_rel"),
        sum(col("__g")).cast("decimal(28,6)").as("__dcg"),
        sum(col("__ig")).cast("decimal(28,6)").as("__idcg"))
      .select(col("query"), col("n_ranked"), col("n_rel"),
        col("__dcg").cast("double").as("dcg"),
        col("__idcg").cast("double").as("idcg"),
        when(col("__idcg") > 0,
          round(col("__dcg").cast("double") /
            col("__idcg").cast("double"), 6)).as("ndcg"))
  }

  /** Fleiss' kappa — chance-corrected agreement for m ≥ 2 raters
    * (the multi-rater generalization of [[cohenKappa]], which stops
    * at two): with per-item category counts n_ij (Σ_j n_ij = m),
    * P̄ = mean_i (Σ_j n_ij² − m)/(m(m−1)) is observed agreement,
    * P̄_e = Σ_j p_j² the chance agreement from the pooled category
    * shares, κ = (P̄ − P̄_e)/(1 − P̄_e). The inter-annotator QC gate
    * for label-collection pipelines ("are the three labeling rules /
    * vendors even measuring the same thing").
    *
    * Numerics: Σ n_ij² and Σ c_j² are EXACT decimal(38,0) integers
    * off two hash aggs; P̄, P̄_e and κ are one fixed-order double
    * chain each, rounded once at output. Fleiss assumes EQUAL m per
    * item: unequal rating counts (or m < 2, or P̄_e = 1 — a single
    * category ever used) → κ NULL, with the counts still reported.
    *
    * Scale shape: one (item, category) hash agg, two re-aggregations
    * of that frame (per-item, per-category), scalars after.
    *
    * @param df ONE row per (item, rating)
    * @return one row: (n_items, m_raters, p_bar, p_e, kappa) */
  def fleissKappa(df: DataFrame, itemCol: String,
                  categoryCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val src = df.filter(col(itemCol).isNotNull &&
        col(categoryCol).isNotNull)
      .select(col(itemCol).as("__i"), col(categoryCol).as("__c"))
    val cells = src.groupBy(col("__i"), col("__c"))
      .agg(count(lit(1)).as("__n"))
    val items = cells.groupBy(col("__i")).agg(
      sum(col("__n")).as("__m"),
      sum(col("__n").cast(dec) * col("__n")).as("__s2i"))
      .agg(count(lit(1)).as("n_items"),
        min(col("__m")).as("__mmin"), max(col("__m")).as("__mmax"),
        sum(col("__s2i")).cast(dec).as("__s2"))
    val cats = cells.groupBy(col("__c"))
      .agg(sum(col("__n")).as("__cj"))
      .agg(coalesce(sum(col("__cj").cast(dec) * col("__cj")),
        lit(0).cast(dec)).as("__cj2"))
    items.crossJoin(broadcast(cats))
      .select(col("n_items"), col("__mmin"),
        col("__mmax").as("m_raters"),
        (col("n_items").cast(dec) * col("__mmax")).as("__nm"),
        col("__s2"), col("__cj2"))
      .select(col("n_items"), col("__mmin"), col("m_raters"),
        ((col("__s2").cast("double") - col("__nm").cast("double")) /
          (col("__nm").cast("double") *
            (col("m_raters") - 1).cast("double"))).as("__pbar"),
        (col("__cj2").cast("double") /
          (col("__nm") * col("__nm")).cast("double")).as("__pe"))
      .select(col("n_items"), col("__mmin"), col("m_raters"),
        round(col("__pbar"), 6).as("p_bar"),
        round(col("__pe"), 6).as("p_e"),
        when(col("__mmin") === col("m_raters") &&
            col("m_raters") >= 2 && col("__pe") =!= 1.0,
          round((col("__pbar") - col("__pe")) /
            (lit(1.0) - col("__pe")), 6)).as("kappa"))
      .drop("__mmin")
  }

  /** Krippendorff's alpha (nominal) — the agreement coefficient that
    * survives MISSING ratings: [[fleissKappa]] requires the same m
    * raters on every item and NULLs out otherwise; α is defined on
    * whatever pairable ratings exist (the real shape of vendor label
    * collection — raters skip items). α = 1 − D_o/D_e with observed
    * disagreement D_o = (1/n)·Σ_i (m_i² − Σ_c n_ic²)/(m_i − 1) over
    * units with m_i ≥ 2 (singletons are unpairable and DROPPED, the
    * canonical convention) and expected D_e = (n² − Σ_c n_c²)/
    * (n(n−1)) from the pooled pairable ratings. α = 1 perfect,
    * 0 chance-level, negative = systematic disagreement.
    *
    * Numerics: per-unit disagreement is ONE double chain rounded to
    * 6dp summed exactly in decimal (Σn_ic² exact decimal(38,0));
    * D_o/D_e/α are one fixed chain each rounded at output. D_e = 0
    * (a single category ever used) → α NULL.
    *
    * Scale shape: one (item, category) hash agg + two
    * re-aggregations of that frame, scalars after (the fleissKappa
    * plan with a pairability filter).
    *
    * @param df ONE row per (item, rating)
    * @return one row: (n_units, n_ratings, d_o, d_e, alpha) */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        categoryCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val src = df.filter(col(itemCol).isNotNull &&
        col(categoryCol).isNotNull)
      .select(col(itemCol).as("__i"), col(categoryCol).as("__c"))
    val cells = src.groupBy(col("__i"), col("__c"))
      .agg(count(lit(1)).as("__n"))
    val items = cells.groupBy(col("__i")).agg(
      sum(col("__n")).as("__m"),
      sum(col("__n").cast(dec) * col("__n")).as("__s2"))
      .filter(col("__m") >= 2)
    val top = items
      .select(col("__m"),
        round((col("__m").cast(dec) * col("__m") - col("__s2"))
          .cast("double") / (col("__m") - 1).cast("double"), 6)
          .cast("decimal(18,6)").as("__t"))
      .agg(count(lit(1)).as("n_units"),
        coalesce(sum(col("__m")), lit(0L)).as("n_ratings"),
        coalesce(sum(col("__t")), lit(0).cast("decimal(18,6)"))
          .cast("decimal(28,6)").as("__ts"))
    val catTot = cells.join(items.select(col("__i")), Seq("__i"))
      .groupBy(col("__c")).agg(sum(col("__n")).as("__cn"))
      .agg(coalesce(sum(col("__cn").cast(dec) * col("__cn")),
        lit(0).cast(dec)).as("__c2"))
    val dO = col("__ts").cast("double") /
      col("n_ratings").cast("double")
    val dE = (col("n_ratings").cast(dec) * col("n_ratings") -
      col("__c2")).cast("double") /
      (col("n_ratings").cast(dec) * (col("n_ratings") - 1))
        .cast("double")
    top.crossJoin(broadcast(catTot))
      .select(col("n_units"), col("n_ratings"),
        when(col("n_ratings") > 0, round(dO, 6)).as("d_o"),
        when(col("n_ratings") > 1, round(dE, 6)).as("d_e"),
        when(col("n_ratings") > 1 && dE > 0.0,
          round(lit(1.0) - dO / dE, 6)).as("alpha"))
  }

  /** Chapman capture–recapture — "how big is the TRUE population two
    * overlapping samples were drawn from?": two crawls / two vendor
    * feeds / two dedup passes that share m ids estimate total corpus
    * size N̂ = (n_A+1)(n_B+1)/(m+1) − 1 (Chapman's bias-corrected
    * Lincoln–Petersen, finite even at m = 0). The coverage audit
    * beside [[graft.text.TextOps.vocabCoverage]]: Chao1 bounds the
    * unseen VOCABULARY, this bounds the unseen DOCUMENTS — and
    * n_A/N̂ says what fraction one source alone captured.
    *
    * Numerics: the three counts are exact; the (n+1)(n+1) product is
    * decimal(38,0) (two 10¹²-id samples overflow int64 multiplied
    * raw); each estimate is ONE double chain rounded once. The
    * classical Lincoln–Petersen n_A·n_B/m is also reported (NULL at
    * m = 0). Assumes closed population + independent samples (the
    * caller's design, stated).
    *
    * Scale shape: two distinct-id projections into one full-outer
    * join on id (one shuffle each) and a single conditional agg.
    *
    * @return one row: (n_a, n_b, m_overlap, chapman_n, lincoln_n,
    *         coverage_a, coverage_b) */
  def captureRecapture(a: DataFrame, b: DataFrame,
                       idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val av = a.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id")).distinct()
      .select(col("__id"), lit(1L).as("__a"))
    val bv = b.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id")).distinct()
      .select(col("__id"), lit(1L).as("__b"))
    val chap = ((col("n_a") + 1).cast(dec) * (col("n_b") + 1))
      .cast("double") / (col("m_overlap") + 1).cast("double") -
      lit(1.0)
    av.join(bv, Seq("__id"), "full_outer")
      .agg(coalesce(sum(col("__a")), lit(0L)).as("n_a"),
        coalesce(sum(col("__b")), lit(0L)).as("n_b"),
        coalesce(sum(when(col("__a").isNotNull &&
          col("__b").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("m_overlap"))
      .select(col("n_a"), col("n_b"), col("m_overlap"),
        round(chap, 6).as("chapman_n"),
        when(col("m_overlap") > 0,
          round((col("n_a").cast(dec) * col("n_b")).cast("double") /
            col("m_overlap").cast("double"), 6)).as("lincoln_n"),
        when(chap > 0, round(col("n_a").cast("double") / chap, 6))
          .as("coverage_a"),
        when(chap > 0, round(col("n_b").cast("double") / chap, 6))
          .as("coverage_b"))
  }

  /** McNemar's test — PAIRED binary comparison of two classifiers /
    * rules scored on the SAME items (the model-eval question a20's
    * unpaired z gets wrong: shared items correlate the errors; only
    * the DISCORDANT pairs carry information). With b = items only A
    * got right and c = items only B got right, χ² =
    * (max(|b−c|−1, 0))²/(b+c) — Edwards' continuity correction,
    * clamped so b = c scores exactly 0 (stated convention; 1 df).
    * b + c = 0 (never-discordant) → χ² NULL.
    *
    * Numerics: b, c and the squared numerator are exact integers
    * (decimal(38,0) for the square); χ² is ONE double division
    * rounded once.
    *
    * Scale shape: one conditional global agg with map-side partials —
    * nothing survives the agg.
    *
    * @param aCorrect,bCorrect boolean Columns: did each model get
    *        THIS row right (null rows excluded)
    * @return one row: (n, a_only, b_only, chi2) */
  def mcnemarTest(df: DataFrame, aCorrect: Column,
                  bCorrect: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val src = df.filter(aCorrect.isNotNull && bCorrect.isNotNull)
      .select(aCorrect.as("__a"), bCorrect.as("__b"))
    src.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("__a") && !col("__b"), 1L)
        .otherwise(0L)), lit(0L)).as("a_only"),
      coalesce(sum(when(!col("__a") && col("__b"), 1L)
        .otherwise(0L)), lit(0L)).as("b_only"))
      .select(col("n"), col("a_only"), col("b_only"),
        when(col("a_only") + col("b_only") > 0,
          round((greatest(abs(col("a_only") - col("b_only")) - 1,
              lit(0L)).cast(dec) *
            greatest(abs(col("a_only") - col("b_only")) - 1,
              lit(0L))).cast("double") /
            (col("a_only") + col("b_only")).cast("double"), 6))
          .as("chi2"))
  }

  /** Cochran–Armitage trend test — is a binary outcome's rate
    * MONOTONE in an ordered exposure (the dose–response question χ²
    * ignores: independence tests treat "1-URGENT … 5-LOW" as
    * unordered labels and throw the ordering away): T = Σ w_i·r_i −
    * (R/N)·Σ w_i·n_i over dose scores w, per-dose positives r and
    * totals n, Var = (R/N)(1−R/N)(Σw²n − (Σwn)²/N), z = T/√Var.
    *
    * Numerics: all five moments (R, N, Σwr, Σwn, Σw²n) are EXACT
    * decimal(38,0) integers off one hash agg; T, Var and z are ONE
    * fixed-order double chain rounded once. Var ≤ 0 (constant
    * outcome or single dose) → z NULL.
    *
    * Scale shape: one corpus conditional agg (map-side combined) to
    * five scalars — the dose frame never materializes.
    *
    * @param doseCol integer-valued ordered exposure score
    * @param isPos boolean outcome Column
    * @return one row: (k_doses, n, n_pos, t_stat, z) */
  def cochranArmitage(df: DataFrame, doseCol: String,
                      isPos: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val src = df.filter(col(doseCol).isNotNull && isPos.isNotNull)
      .select(col(doseCol).cast("long").as("__w"),
        when(isPos, 1L).otherwise(0L).as("__r"))
    src.agg(
      countDistinct(col("__w")).as("k_doses"),
      count(lit(1)).as("n"),
      coalesce(sum(col("__r")), lit(0L)).as("n_pos"),
      coalesce(sum(col("__w").cast(dec) * col("__r")),
        lit(0).cast(dec)).as("__wr"),
      coalesce(sum(col("__w").cast(dec)), lit(0).cast(dec))
        .as("__wn"),
      coalesce(sum(col("__w").cast(dec) * col("__w")),
        lit(0).cast(dec)).as("__w2n"))
      .select(col("k_doses"), col("n"), col("n_pos"),
        (col("__wr").cast("double") -
          col("n_pos").cast("double") / col("n").cast("double") *
            col("__wn").cast("double")).as("__t"),
        (col("n_pos").cast("double") / col("n").cast("double") *
          (lit(1.0) - col("n_pos").cast("double") /
            col("n").cast("double")) *
          (col("__w2n").cast("double") -
            col("__wn").cast("double") * col("__wn").cast("double") /
              col("n").cast("double"))).as("__var"))
      .select(col("k_doses"), col("n"), col("n_pos"),
        round(col("__t"), 6).as("t_stat"),
        when(col("__var") > 0,
          round(col("__t") / sqrt(col("__var")), 6)).as("z"))
  }

  /** One-way ANOVA F — does a numeric metric DIFFER across k groups
    * (the k-group generalization of a20's two-sample test): F =
    * (SSB/(k−1)) / (SSW/(n−k)) with SSB/SSW off per-group exact
    * moments, plus η² = SSB/SST (the variance-explained effect size
    * — F says "significant", η² says "matters"). No p-value: the
    * F-distribution CDF needs the incomplete beta; the caller owns
    * the lookup (stated — F and the two dof ARE the test).
    *
    * Numerics: values to micro longs (round-6), per-group n/Σv/Σv²
    * EXACT (Σv² in decimal(38,0)); each group's S²/n and Q are ONE
    * double chain each rounded to 6dp in natural units, then summed
    * EXACTLY in decimal — partitioning-invariant (the brier per-bin
    * discipline); SSB/SSW are exact decimal differences of those
    * sums, and F/η² one rounded double step each. A zero-variance
    * group can make its rounded SSW term −1e-6: SSW ≤ 0 → F NULL.
    *
    * Scale shape: one corpus hash agg to the k-group frame
    * (map-side combined), scalars after — nothing per-row survives
    * the agg.
    *
    * @return one row: (k, n, ss_between, ss_within, f_stat, eta_sq) */
  def anovaF(df: DataFrame, groupCol: String,
             valCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val mu = (round(col(valCol).cast("double"), 6)
      .cast("decimal(18,6)") * 1000000L).cast(dec).cast("long")
    val src = df.filter(col(groupCol).isNotNull &&
        col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), mu.as("__v"))
    val groups = src.groupBy(col("__g")).agg(
      count(lit(1)).as("__n"),
      sum(col("__v").cast(dec)).as("__s"),
      sum(col("__v").cast(dec) * col("__v")).as("__q"))
    val termed = groups.select(col("__n"), col("__s"),
      round(col("__s").cast("double") * col("__s").cast("double") /
        (col("__n").cast("double") * lit(1e12)), 6)
        .cast("decimal(28,6)").as("__t"),
      round(col("__q").cast("double") / lit(1e12), 6)
        .cast("decimal(28,6)").as("__qn"))
    val agg = termed.agg(
      count(lit(1)).as("k"), sum(col("__n")).as("n"),
      sum(col("__s")).cast(dec).as("__stot"),
      sum(col("__t")).cast("decimal(38,6)").as("__tsum"),
      sum(col("__qn")).cast("decimal(38,6)").as("__qsum"))
    agg
      .select(col("k"), col("n"), col("__tsum"), col("__qsum"),
        round(col("__stot").cast("double") *
          col("__stot").cast("double") /
          (col("n").cast("double") * lit(1e12)), 6)
          .cast("decimal(38,6)").as("__g2n"))
      .select(col("k"), col("n"),
        (col("__tsum") - col("__g2n")).as("__ssb"),
        (col("__qsum") - col("__tsum")).as("__ssw"))
      .select(col("k"), col("n"),
        col("__ssb").cast("double").as("ss_between"),
        col("__ssw").cast("double").as("ss_within"),
        when(col("k") >= 2 && col("n") > col("k") && col("__ssw") > 0,
          round((col("__ssb").cast("double") /
              (col("k") - 1).cast("double")) /
            (col("__ssw").cast("double") /
              (col("n") - col("k")).cast("double")), 6))
          .as("f_stat"),
        when(col("__ssb") + col("__ssw") > 0,
          round(col("__ssb").cast("double") /
            (col("__ssb") + col("__ssw")).cast("double"), 6))
          .as("eta_sq"))
  }

  /** Mutual information + Theil's uncertainty coefficient between
    * two categorical columns — the DIRECTED association pair beside
    * [[chiSquareIndependence]] (χ² says "associated"; U(X|Y) =
    * I(X;Y)/H(X) says "what FRACTION of X's uncertainty does knowing
    * Y remove", asymmetric by design — a many-to-one mapping scores
    * 1 one way and <1 the other). Entropies in nats over the
    * observed cells (an absent cell contributes exactly 0 — no grid
    * completion needed, unlike χ²'s (0−E)² terms).
    *
    * Numerics: each cell/level term is ONE double chain
    * (c/n)·ln(n/c) rounded to 6dp (the positive form — ln(n/c) ≥ 0,
    * no −0.0), summed EXACTLY in decimal; MI = H(X)+H(Y)−H(X,Y) in
    * exact decimal on the rounded sums, clamped at 0 (rounding can
    * push an independent pair to −1e-6); U = one rounded division,
    * NULL when the marginal entropy is 0 (constant column).
    *
    * Scale shape: one (a,b) hash agg collapses the corpus to the
    * |A|·|B| cells frame; both marginals and all three entropies are
    * re-aggregations of that frame — never a second corpus scan.
    *
    * @return one row: (n, h_x, h_y, h_xy, mi, theil_xy, theil_yx) */
  def mutualInformation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val n = cells.agg(sum(col("__c")).as("__n"))
    def entropy(grp: DataFrame, out: String) = grp
      .crossJoin(broadcast(n))
      .select(round((col("__c").cast("double") /
          col("__n").cast("double")) *
        log(col("__n").cast("double") / col("__c").cast("double")), 6)
        .cast("decimal(18,6)").as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0).cast("decimal(18,6)"))
        .cast("decimal(28,6)").as(out))
    val hx = entropy(cells.groupBy(col("__a"))
      .agg(sum(col("__c")).as("__c")), "__hx")
    val hy = entropy(cells.groupBy(col("__b"))
      .agg(sum(col("__c")).as("__c")), "__hy")
    val hxy = entropy(cells, "__hxy")
    n.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .crossJoin(broadcast(hxy))
      .select(col("__n").as("n"), col("__hx"), col("__hy"),
        col("__hxy"),
        greatest(lit(0).cast("decimal(28,6)"),
          col("__hx") + col("__hy") - col("__hxy")).as("__mi"))
      .select(col("n"),
        col("__hx").cast("double").as("h_x"),
        col("__hy").cast("double").as("h_y"),
        col("__hxy").cast("double").as("h_xy"),
        col("__mi").cast("double").as("mi"),
        when(col("__hx") > 0,
          round(col("__mi").cast("double") /
            col("__hx").cast("double"), 6)).as("theil_xy"),
        when(col("__hy") > 0,
          round(col("__mi").cast("double") /
            col("__hy").cast("double"), 6)).as("theil_yx"))
  }

  def cliffsDelta(df: DataFrame, scoreCol: String, isPos: Column,
                  bucketSize: Long = 1048576L): DataFrame = {
    require(bucketSize >= 2, "bucketSize must be >= 2")
    val dec = "decimal(38,0)"
    val src = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select(r6d(col(scoreCol)).as("__v"), isPos.as("__p"))
    val counts = src.groupBy(col("__v")).agg(
      sum(when(col("__p"), 1L).otherwise(0L)).as("__cp"),
      sum(when(!col("__p"), 1L).otherwise(0L)).as("__cn"))
      .withColumn("__mu",
        (col("__v").cast("decimal(18,6)") * lit(1000000L))
          .cast(dec).cast("long"))
    val below = Prefix.strictBelow(counts, Nil, "__mu", Seq("__cn"),
        bucketSize)
      .select(col("__cp"), col("__cn"),
        col("__below___cn").as("__negBelow"))
    below
      .agg(sum(col("__cp")).as("__np"), sum(col("__cn")).as("__nn"),
        coalesce(sum(col("__cp").cast(dec) * col("__negBelow")),
          lit(0).cast(dec)).as("__conc"))
      .select(col("__np").as("n_pos"), col("__nn").as("n_neg"),
        col("__conc"),
        // discordant = total pairs - concordant - tied
        (col("__np").cast(dec) * col("__nn")).as("__tot"))
      .crossJoin(broadcast(
        below.agg(coalesce(sum(col("__cp").cast(dec) * col("__cn")),
          lit(0).cast(dec)).as("__tied"))))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((lit(2).cast(dec) * col("__conc") + col("__tied") -
            col("__tot")).cast("double") /
            col("__tot").cast("double"), 6)).as("delta"))
  }

  def rocAuc(df: DataFrame, scoreCol: String, isPos: Column,
             bucketSize: Long = 1048576L): DataFrame = {
    require(bucketSize >= 2, "bucketSize must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val src = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select(r6d(col(scoreCol)).as("__v"), isPos.as("__p"))
    val counts = src.groupBy(col("__v")).agg(
      sum(when(col("__p"), 1L).otherwise(0L)).as("__cp"),
      sum(when(!col("__p"), 1L).otherwise(0L)).as("__cn"))
    val withB = counts.withColumn("__mu",
        (col("__v").cast("decimal(18,6)") * lit(1000000L))
          .cast("decimal(38,0)").cast("long"))
      .withColumn("__b", expr(s"__mu div $bucketSize"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("__mu"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val intra = withB.withColumn("__pn", sum(col("__cn")).over(wIn))
    val perBucket = withB.groupBy(col("__b"))
      .agg(sum(col("__cn")).as("__bn"))
    val wCross = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__on", coalesce(sum(col("__bn")).over(wCross), lit(0L)))
      .select(col("__b"), col("__on"))
    // cumNegBelow = cumulative negatives strictly below this value
    val terms = intra.join(offsets, Seq("__b"))
      .select(col("__cp"), col("__cn"),
        (col("__pn") + col("__on") - col("__cn")).as("__negBelow"))
    terms.agg(
        sum(col("__cp")).as("__np"), sum(col("__cn")).as("__nn"),
        sum(col("__cp").cast(dec) *
          (lit(2).cast(dec) * col("__negBelow").cast(dec) +
            col("__cn").cast(dec))).as("__u2"))
      .select(col("__np").as("n_pos"), col("__nn").as("n_neg"),
        when(col("__np") > 0 && col("__nn") > 0,
          round(col("__u2").cast("double") /
            (lit(2).cast(dec) * col("__np").cast(dec) *
              col("__nn").cast(dec)).cast("double"), 6))
          .as("auc"))
  }

  /** Brier score + Murphy decomposition — the probabilistic-forecast
    * audit completing the calibration family ([[calibrationBins]],
    * [[expectedCalibrationError]], isotonic): Brier = mean (p−y)²,
    * decomposed (Murphy 1973, binned) into RELIABILITY (calibration
    * error, lower better), RESOLUTION (how far bin outcomes spread
    * from the base rate, higher better) and UNCERTAINTY ȳ(1−ȳ) —
    * brier ≈ rel − res + unc, exact when forecasts are constant per
    * bin (spec'd).
    *
    * Determinism: the [[calibrationBins]] micro/bin discipline —
    * per-row (p_mu − y·10⁶)² sums EXACT in decimal(38,0); each
    * per-bin rel/res term is ONE fixed-order double chain rounded to
    * 6 and the cross-bin sums are exact decimal (order-free — a
    * plain double Σ over bins would be partitioning-dependent);
    * final scalars round once.
    *
    * Scale shape: one corpus hash agg to ≤bins rows + one exact
    * global agg; scalars after.
    *
    * @return one row: (n, base_rate, brier, reliability, resolution,
    *         uncertainty) */
  def brierDecomposition(df: DataFrame, scoreCol: String, isPos: Column,
                         bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val dec = "decimal(38,0)"
    val s6 = r6d(col(scoreCol))
    val src = df.filter(col(scoreCol).isNotNull && isPos.isNotNull)
      .select(s6.as("__s"), isPos.as("__p"))
      .filter(col("__s") >= 0 && col("__s") <= 1)
      .select(least(floor(col("__s") * bins).cast("int"), lit(bins - 1))
          .as("bin"),
        (col("__s").cast("decimal(18,6)") * 1000000L)
          .cast(dec).cast("long").as("__mu"),
        when(col("__p"), 1L).otherwise(0L).as("__y"))
    val glob = Iterate.pin(src.agg(count(lit(1)).as("__n"),
        coalesce(sum(col("__y")), lit(0L)).as("__pos"),
        coalesce(sum((col("__mu").cast(dec) - col("__y") * 1000000L) *
          (col("__mu").cast(dec) - col("__y") * 1000000L)),
          lit(0).cast(dec)).as("__sq")))
    val perBin = src.groupBy(col("bin")).agg(
      count(lit(1)).as("__nk"), sum(col("__mu")).as("__sk"),
      sum(col("__y")).as("__pk"))
    def d(c: Column): Column = c.cast("double")
    val terms = perBin.crossJoin(broadcast(glob))
      .select(
        round(d((col("__sk").cast(dec) - col("__pk").cast(dec) *
            1000000L) * (col("__sk").cast(dec) -
            col("__pk").cast(dec) * 1000000L)) /
          d(col("__nk")) / d(col("__n")) / lit(1e12), 6)
          .cast("decimal(18,6)").as("__rel"),
        round(d(col("__nk")) *
          (d(col("__pk")) / d(col("__nk")) -
            d(col("__pos")) / d(col("__n"))) *
          (d(col("__pk")) / d(col("__nk")) -
            d(col("__pos")) / d(col("__n"))) / d(col("__n")), 6)
          .cast("decimal(18,6)").as("__res"))
      .agg(sum(col("__rel")).as("__relS"), sum(col("__res")).as("__resS"))
    glob.crossJoin(broadcast(terms))
      .select(col("__n").as("n"),
        when(col("__n") > 0,
          round(d(col("__pos")) / d(col("__n")), 6)).as("base_rate"),
        when(col("__n") > 0,
          round(d(col("__sq")) / d(col("__n")) / lit(1e12), 6))
          .as("brier"),
        col("__relS").cast("double").as("reliability"),
        col("__resS").cast("double").as("resolution"),
        when(col("__n") > 0,
          round((d(col("__pos")) / d(col("__n"))) *
            (lit(1.0) - d(col("__pos")) / d(col("__n"))), 6))
          .as("uncertainty"))
  }

  /** Difference-in-differences — the quasi-experimental workhorse
    * when treatment wasn't randomized but a pre-period exists:
    * ATT = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), the control
    * group's trend differencing out the common time shock (parallel
    * trends assumption — the caller's to defend). The SE is the
    * classical four-cell pooled form: s²·Σ_cells 1/n_cell with s²
    * the within-cell pooled variance (n − 4 df).
    *
    * Determinism: per-cell moments are EXACT (micro-unit sums,
    * micro² in decimal(38,0)) from ONE hash agg with conditional
    * sums; every derived statistic is one fixed-order double chain
    * rounded to 6. Any empty cell → NULL estimate (a 2×2 with a
    * hole identifies nothing); zero pooled variance → NULL se/t.
    *
    * Scale shape: one corpus hash agg to FOUR cells; scalars after.
    *
    * @return one row: (n_t_pre, n_t_post, n_c_pre, n_c_post,
    *         mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
    *         did, se, t_stat) */
  def diffInDiff(df: DataFrame, valueCol: String, inTreatment: Column,
                 inPost: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val vmu = (r6d(col(valueCol)).cast("decimal(18,6)") * 1000000L)
      .cast(dec).cast("long")
    val src = df.filter(col(valueCol).isNotNull &&
        inTreatment.isNotNull && inPost.isNotNull)
      .select(inTreatment.as("__t"), inPost.as("__p"), vmu.as("__v"))
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(col("__t") === t && col("__p") === p, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      sum(when(col("__t") === t && col("__p") === p, col("__v"))
        .otherwise(0L)).as(s"s_$suffix"),
      sum(when(col("__t") === t && col("__p") === p,
          col("__v").cast(dec) * col("__v"))
        .otherwise(lit(0).cast(dec))).as(s"q_$suffix"))
    val aggExprs = cell(true, false, "tpre") ++
      cell(true, true, "tpost") ++ cell(false, false, "cpre") ++
      cell(false, true, "cpost")
    val cells = src.agg(aggExprs.head, aggExprs.tail: _*)
    def d(c: Column): Column = c.cast("double")
    def mean(sfx: String): Column =
      when(col(s"n_$sfx") > 0,
        round(d(col(s"s_$sfx")) / d(col(s"n_$sfx")) / lit(1e6), 6))
    def ss(sfx: String): Column =
      d(col(s"q_$sfx")) - d(col(s"s_$sfx")) * d(col(s"s_$sfx")) /
        d(col(s"n_$sfx"))
    val allCells = Seq("tpre", "tpost", "cpre", "cpost")
    val anyEmpty = allCells.map(sfx => col(s"n_$sfx") === 0)
      .reduce(_ || _)
    val nTot = allCells.map(sfx => col(s"n_$sfx")).reduce(_ + _)
    val did = round(
      (d(col("s_tpost")) / d(col("n_tpost")) -
        d(col("s_tpre")) / d(col("n_tpre")) -
        (d(col("s_cpost")) / d(col("n_cpost")) -
          d(col("s_cpre")) / d(col("n_cpre")))) / lit(1e6), 6)
    val s2 = round((ss("tpre") + ss("tpost") + ss("cpre") +
      ss("cpost")) / (d(nTot) - lit(4.0)) / lit(1e12), 6)
    val invN = allCells.map(sfx => lit(1.0) / d(col(s"n_$sfx")))
      .reduce(_ + _)
    cells.select(
      col("n_tpre").as("n_t_pre"), col("n_tpost").as("n_t_post"),
      col("n_cpre").as("n_c_pre"), col("n_cpost").as("n_c_post"),
      mean("tpre").as("mean_t_pre"), mean("tpost").as("mean_t_post"),
      mean("cpre").as("mean_c_pre"), mean("cpost").as("mean_c_post"),
      when(!anyEmpty, did).as("did"),
      when(!anyEmpty && nTot > 4, round(sqrt(s2 * invN), 6)).as("se"))
      .withColumn("t_stat",
        when(col("se") > 0 && col("did").isNotNull,
          round(col("did") / col("se"), 6)))
  }

  /** Always-valid sequential A/B test — the mixture SPRT (Johari,
    * Koomen, Pekelis, Walsh: "Peeking at A/B tests"): the
    * experimentation-platform answer to continuous monitoring, where
    * a fixed-horizon t-test's α is destroyed by checking daily. Per
    * period the CUMULATIVE two-sample state gives
    * θ̂ = x̄_t − x̄_c, V = σ̂²_pooled·(n_t+n_c)/(n_t·n_c), and the
    * normal-mixture likelihood ratio
    * ln Λ = ½·ln(V/(V+τ²)) + τ²·θ̂²/(2·V·(V+τ²));
    * the ALWAYS-VALID p is exp(−max_{s≤t} ln Λ_s) capped at 1 —
    * monotone non-increasing by construction, so rejecting the first
    * time p ≤ α is valid at any stopping rule.
    *
    * Determinism: cumulative counts/sums/squares are EXACT
    * (micro-unit longs, micro² in decimal(38,0)) off one period-frame
    * prefix window; θ̂, σ̂², V, ln Λ are each ONE fixed-order double
    * chain rounded to 6 (ln and exp are irrational — no structural
    * midpoints, the sinkhorn/DSIR precedent); the running max runs
    * on the rounded grid. Degenerate states (an empty arm, zero
    * variance) yield NULL ln Λ and p = 1 for that period.
    *
    * Scale shape: ONE corpus hash agg to the period frame;
    * everything after is period-frame windows (a ~31-row curve by
    * the mannKendall series contract).
    *
    * @param tauMicros mixture prior τ in micro value-units
    * @return per period: (period, n_t, n_c, theta, log_lambda,
    *         always_valid_p) */
  def msprtCurve(df: DataFrame, valueCol: String, inTreatment: Column,
                 periodCol: Column,
                 tauMicros: Long = 1000000L): DataFrame = {
    require(tauMicros > 0, "tauMicros must be > 0")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val vmu = (r6d(col(valueCol)).cast("decimal(18,6)") * 1000000L)
      .cast(dec).cast("long")
    val src = df.filter(col(valueCol).isNotNull && inTreatment.isNotNull
        && periodCol.isNotNull)
      .select(periodCol.cast("long").as("__p"), inTreatment.as("__t"),
        vmu.as("__v"))
    val perP = src.groupBy(col("__p")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__t"), col("__v")).otherwise(0L)).as("__st"),
      sum(when(col("__t"), col("__v").cast(dec) * col("__v"))
        .otherwise(lit(0).cast(dec))).as("__qt"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__cc"),
      sum(when(!col("__t"), col("__v")).otherwise(0L)).as("__sc"),
      sum(when(!col("__t"), col("__v").cast(dec) * col("__v"))
        .otherwise(lit(0).cast(dec))).as("__qc"))
    val wCum = Window.orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perP.select(col("__p"),
      sum(col("__ct")).over(wCum).as("nt"),
      sum(col("__st")).over(wCum).as("st"),
      sum(col("__qt")).over(wCum).as("qt"),
      sum(col("__cc")).over(wCum).as("nc"),
      sum(col("__sc")).over(wCum).as("sc"),
      sum(col("__qc")).over(wCum).as("qc"))
    val tau = tauMicros.toDouble / 1e6
    val tau2 = tau * tau
    def d(c: Column): Column = c.cast("double")
    val theta = round((d(col("st")) / d(col("nt")) -
      d(col("sc")) / d(col("nc"))) / lit(1e6), 6)
    // pooled variance from exact cumulative moments (value units)
    val ssT = d(col("qt")) - d(col("st")) * d(col("st")) / d(col("nt"))
    val ssC = d(col("qc")) - d(col("sc")) * d(col("sc")) / d(col("nc"))
    val sig2 = round((ssT + ssC) /
      (d(col("nt")) + d(col("nc")) - lit(2.0)) / lit(1e12), 6)
    val stats = cum.select(col("__p"), col("nt"), col("nc"),
        when(col("nt") > 0 && col("nc") > 0, theta).as("__th"),
        when(col("nt") + col("nc") > 2, sig2).as("__s2"))
      .withColumn("__V",
        when(col("__s2") > 0,
          round(col("__s2") * (d(col("nt")) + d(col("nc"))) /
            (d(col("nt")) * d(col("nc"))), 6)))
      .withColumn("log_lambda",
        when(col("__V") > 0 && col("__th").isNotNull,
          round(lit(0.5) * log(col("__V") / (col("__V") + lit(tau2))) +
            lit(tau2) * col("__th") * col("__th") /
              (lit(2.0) * col("__V") * (col("__V") + lit(tau2))), 6)))
    val wMax = Window.orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, 0)
    stats
      .withColumn("__mx", max(col("log_lambda")).over(wMax))
      .select(col("__p").as("period"), col("nt").as("n_t"),
        col("nc").as("n_c"), col("__th").as("theta"),
        col("log_lambda"),
        when(col("__mx") > 0, round(exp(-col("__mx")), 6))
          .otherwise(lit(1.0)).as("always_valid_p"))
  }

  /** Uplift / Qini curve — the evaluation surface for targeting
    * models (Radcliffe 2007): at every score threshold t, take the
    * population scored ≥ t and compare treated vs control response:
    * uplift(t) = pos_t/n_t − pos_c/n_c (the incremental response
    * rate) and qini(t) = pos_t − pos_c·n_t/n_c (incremental
    * conversions, the curve whose area ranks targeting models).
    * Random targeting's qini is ~0 at every depth; a model that
    * concentrates persuadables up-front pushes the curve above it.
    *
    * Determinism: the curve lives on the DESCENDING distinct-score
    * frame with cumulative counts from [[Prefix.strictBelow]]
    * (above = total − below − at, all exact longs); uplift is two
    * exact-integer ratios in one fixed-order double chain rounded
    * once; qini's control scaling is one double product rounded
    * once. Undefined sides (empty treated or control at a depth)
    * emit NULL, never 0.
    *
    * Scale shape: ONE corpus hash agg to the distinct-score frame,
    * the Prefix hierarchy over it — never a global sort, never a
    * per-row window.
    *
    * @param inTreatment boolean: true → treated arm
    * @param outcome boolean: true → converted
    * @return per distinct score (threshold = "score ≥ this"):
    *         (score, n_t, n_c, pos_t, pos_c, uplift, qini) */
  def upliftCurve(df: DataFrame, scoreCol: String,
                  inTreatment: Column, outcome: Column,
                  bucketSize: Long = 1048576L): DataFrame = {
    val src = df.filter(col(scoreCol).isNotNull &&
        inTreatment.isNotNull && outcome.isNotNull)
      .select((r6d(col(scoreCol)).cast("decimal(18,6)") * 1000000L)
          .cast("decimal(38,0)").cast("long").as("__s"),
        inTreatment.as("__t"), outcome.as("__y"))
    val perS = src.groupBy(col("__s")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__cc"),
      sum(when(col("__t") && col("__y"), 1L).otherwise(0L)).as("__pt"),
      sum(when(!col("__t") && col("__y"), 1L).otherwise(0L)).as("__pc"))
    val tot = perS.agg(sum(col("__ct")).as("__tot_ct"),
      sum(col("__cc")).as("__tot_cc"), sum(col("__pt")).as("__tot_pt"),
      sum(col("__pc")).as("__tot_pc"))
    val cum = Prefix.strictBelow(perS, Nil, "__s",
        Seq("__ct", "__cc", "__pt", "__pc"), bucketSize)
      .crossJoin(broadcast(tot))
      .select(col("__s"),
        (col("__tot_ct") - col("__below___ct")).as("n_t"),
        (col("__tot_cc") - col("__below___cc")).as("n_c"),
        (col("__tot_pt") - col("__below___pt")).as("pos_t"),
        (col("__tot_pc") - col("__below___pc")).as("pos_c"))
    cum.select(
      (col("__s").cast("double") / lit(1e6)).as("score"),
      col("n_t"), col("n_c"), col("pos_t"), col("pos_c"),
      when(col("n_t") > 0 && col("n_c") > 0,
        round(col("pos_t").cast("double") / col("n_t").cast("double") -
          col("pos_c").cast("double") / col("n_c").cast("double"), 6))
        .as("uplift"),
      when(col("n_c") > 0,
        round(col("pos_t").cast("double") -
          col("pos_c").cast("double") * col("n_t").cast("double") /
            col("n_c").cast("double"), 6)).as("qini"))
  }

  /** Cross-group quantile normalization — the microarray-classic
    * recipe applied to corpus curation: per-source score/length
    * distributions differ by construction (different crawlers,
    * different languages), so a single global threshold over- or
    * under-selects per source; mapping each value to the GLOBAL
    * value at its within-group quantile makes every group's
    * distribution identical to the pooled one, after which one
    * threshold means one thing. No interpolation anywhere — the
    * order-statistic form stays exact: within-group quantile uses
    * the engine's doubled average rank r2 = 2·below + c + 1 (whole
    * integers, tie-stable), the target index is the exact ceil
    * k = ⌈r2·(N+1) / (2·(nᵍ+1))⌉ (integer ceil-division on
    * decimal(38,0) — never a double), and the normalized value is
    * the global k-th order statistic read off cumulative counts
    * (the conformal "first cumulative ≥ k" recipe — never a sort).
    *
    * Scale shape: everything runs on DISTINCT-VALUE frames — one
    * (group, value) hash agg + [[Prefix.strictBelow]] per-group and
    * global hierarchies; the k → order-statistic lookup is a
    * BUCKETED interval join ((k−1) div bucketSize vs the intervals'
    * covered buckets — each k hits exactly one interval, each
    * interval spans ~1 bucket), so no |K|·|V| theta join ever forms.
    *
    * @return one row per distinct (group, value):
    *         (groupCol, value, n, k, normalized) */
  def quantileNormalize(df: DataFrame, groupCol: String,
                        valueCol: String,
                        bucketSize: Long = 1048576L): DataFrame = {
    val dec = "decimal(38,0)"
    val mu = (c: Column) => (r6d(c).cast("decimal(18,6)") * 1000000L)
      .cast(dec).cast("long")
    val src = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), mu(col(valueCol)).as("__v"))
    val cg = src.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val rg = Prefix.strictBelow(cg, Seq("__g"), "__v", Seq("__c"),
        bucketSize)
      .select(col("__g"), col("__v"), col("__c"),
        (lit(2L) * col("__below___c") + col("__c") + 1L).as("__r2"))
    val ng = cg.groupBy(col("__g")).agg(sum(col("__c")).as("__ng"))
    val cAll = src.groupBy(col("__v")).agg(count(lit(1)).as("__ca"))
    val nAll = cAll.agg(coalesce(sum(col("__ca")), lit(0L)).as("__N"))
    val gAll = Prefix.strictBelow(cAll, Nil, "__v", Seq("__ca"),
        bucketSize)
      .select(col("__v").as("__nv"), col("__below___ca").as("__lo"),
        (col("__below___ca") + col("__ca")).as("__hi"))
    val withK = rg.join(ng, Seq("__g")).crossJoin(broadcast(nAll))
      .select(col("__g"), col("__v"), col("__c"),
        expr(s"""(cast(__r2 as decimal(38,0)) *
                 (cast(__N as decimal(38,0)) + 1) +
                 2 * (cast(__ng as decimal(38,0)) + 1) - 1) div
                (2 * (cast(__ng as decimal(38,0)) + 1))""").as("__k"))
    val kb = withK.withColumn("__kb",
      expr(s"(__k - 1) div ${bucketSize}L"))
    val iv = gAll.withColumn("__b", explode(sequence(
      expr(s"__lo div ${bucketSize}L"),
      expr(s"(__hi - 1) div ${bucketSize}L"))))
    kb.join(iv, col("__kb") === col("__b") &&
        col("__k") > col("__lo") && col("__k") <= col("__hi"))
      .select(col("__g").as(groupCol),
        (col("__v").cast("double") / lit(1e6)).as("value"),
        col("__c").as("n"), col("__k").as("k"),
        (col("__nv").cast("double") / lit(1e6)).as("normalized"))
  }

  /** Order-free dataset fingerprint — the integrity check a 100 TB
    * copy/migration/append needs: did the rows that left arrive,
    * regardless of partitioning, file layout, or row order? Each row
    * canonicalizes to `col1\\u0001col2\\u0001…` (NULL → \\u0000 so null
    * and empty differ), hashes with the engine's PORTABLE 31-poly
    * char fold ([[graft.functions.NativeExpressions.poly_hash_set]]
    * — replayable in any SQL engine as a list_reduce, unlike
    * murmur3/xxhash), and the fingerprint is the pair of hash sums
    * mod 2⁶¹−1 (the second over a \\u0002-salted canonical — one
    * sum can cancel a structured corruption with probability ~2⁻³¹,
    * two independent folds push that to ~2⁻⁶²; the mod keeps the
    * value BIGINT-exact in every engine). Sums are COMMUTATIVE and
    * MERGEABLE: shard fingerprints add (mod p), appends add
    * incrementally, two datasets compare by two numbers.
    *
    * Contract: pass CAST-STABLE columns (strings, integers, dates) —
    * float-to-string formatting differs across engines; quantize
    * floats to micro-longs upstream.
    *
    * Scale shape: one narrow projection + one global agg with
    * map-side partials — nothing else. No shuffle wider than the
    * partial rows.
    *
    * @return one row: (n_rows, hash_sum, hash_sum_b) */
  def datasetFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val dec = "decimal(38,0)"
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    def h(c: Column): Column = element_at(
      graft.functions.NativeExpressions.poly_hash_set(array(c)), 1)
    df.select(h(canon).as("__h1"),
        h(concat(canon, lit("\u0002"))).as("__h2"))
      .agg(count(lit(1)).as("n_rows"),
        (coalesce(sum(col("__h1").cast(dec)), lit(0).cast(dec)) %
          lit(FpMod)).cast("long").as("hash_sum"),
        (coalesce(sum(col("__h2").cast(dec)), lit(0).cast(dec)) %
          lit(FpMod)).cast("long").as("hash_sum_b"))
  }

  /** [[datasetFingerprint]] modulus: 2⁶¹−1 (prime, BIGINT-exact in
    * every SQL engine; shard fingerprints merge by modular add). */
  val FpMod: Long = 2305843009213693951L
}
