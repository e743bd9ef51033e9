package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.text.TextOps
import graft.functions.NativeExpressions

import Fixtures._

/** Aggregate analytics and statistical audits (prefix a): grouping sets,
  * profiles, sketches, tests, calibration, agreement and drift measures. */
object AnalyticsQueries {

  /** Shared a79/a80 annotation construction: three synthetic
    * annotators of each document's lang. Annotator k mislabels at
    * rate (2k+1)/10 (portable-hash coin on (doc_id, k)), and a wrong
    * label is a hash-picked OTHER class via the lexicographic class
    * ranking — rank (r + 1 + h mod (L−1)) mod L — so the whole
    * corpus of judgments replays bit-identically in SQL. */
  private def dsAnnotations(s: SparkSession,
                            dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .select(col("doc_id"), col("lang"))
    // class ranking: a dim-scale window (5 langs), broadcast back
    val rk = d.select(col("lang")).distinct()
      .withColumn("__r",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("lang"))) - 1).cast("long"))
    val L = rk.count()
    def ph(c: Column): Column = graft.text.TextOps.portableHash(c)
    val lab = d.join(broadcast(rk), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("__r"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("annotator"))
      .withColumn("__flip",
        pmod(ph(col("doc_id") * 3 + col("annotator")), lit(10L)) <
          col("annotator") * 2 + 1)
      .withColumn("__fr",
        pmod(col("__r") + 1 +
          pmod(ph(col("doc_id") * 7 + col("annotator") * 11),
            lit(L - 1)), lit(L)))
    lab.join(broadcast(rk.select(col("__r").as("__fr"),
        col("lang").as("__flang"))), Seq("__fr"))
      .select(col("doc_id"), col("annotator"),
        when(col("__flip"), col("__flang")).otherwise(col("lang"))
          .as("label"))
  }

  /** Dawid–Skene replay builder shared by a79/a80: the three-
    * annotator construction (portable-hash flip coin, hash-picked
    * wrong class over the lexicographic ranking), majority-vote init,
    * then TWO unrolled EM rounds — M-step smoothing and priors as
    * round-6 micro longs, E-step likelihood as an EXACT HUGEINT
    * product (Spark's decimal(38,0) fold lands on the same
    * integers), one rounded double division per posterior cell.
    * `finalSelect` consumes p2 (posteriors), pi2 (confusion), pr2
    * (priors). */
  private def dsOracle(finalSelect: String): String = {
    def round(x: Int) = {
      val p = s"p${x - 1}"
      s"""s$x AS MATERIALIZED (
         |  SELECT lab.k, p.c, lab.l, SUM(p.post) AS s
         |  FROM lab JOIN $p p ON p.i = lab.i GROUP BY 1, 2, 3),
         |st$x AS (SELECT k, c, SUM(s) AS st FROM s$x GROUP BY 1, 2),
         |pi$x AS MATERIALIZED (
         |  SELECT g.k, g.c, g.l,
         |    CAST(CAST(round((COALESCE(s$x.s, 0) + 1000000) * 1.0 /
         |      (COALESCE(st$x.st, 0) + 1000000 * lc.L), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pi
         |  FROM g CROSS JOIN lc
         |  LEFT JOIN s$x ON s$x.k = g.k AND s$x.c = g.c
         |    AND s$x.l = g.l
         |  LEFT JOIN st$x ON st$x.k = g.k AND st$x.c = g.c),
         |pc$x AS (SELECT c, SUM(post) AS pc FROM $p GROUP BY 1),
         |pr$x AS MATERIALIZED (
         |  SELECT pc$x.c,
         |    CAST(CAST(round((pc$x.pc + 1000000) * 1.0 /
         |      (t.pt + 1000000 * lc.L), 6) AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS prior
         |  FROM pc$x CROSS JOIN
         |    (SELECT SUM(pc) AS pt FROM pc$x) t CROSS JOIN lc),
         |e$x AS (
         |  SELECT w.i, rk.lang AS c,
         |    CAST(pr$x.prior AS HUGEINT) * pa.pi * pb.pi * pq.pi AS n
         |  FROM w CROSS JOIN rk
         |  JOIN pr$x ON pr$x.c = rk.lang
         |  JOIN pi$x pa ON pa.k = 0 AND pa.c = rk.lang AND pa.l = w.l0
         |  JOIN pi$x pb ON pb.k = 1 AND pb.c = rk.lang AND pb.l = w.l1
         |  JOIN pi$x pq ON pq.k = 2 AND pq.c = rk.lang
         |    AND pq.l = w.l2),
         |p$x AS MATERIALIZED (
         |  SELECT e.i, e.c,
         |    CAST(CAST(round(CAST(e.n AS DOUBLE) /
         |      CAST(dn.dn AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS post
         |  FROM e$x e JOIN
         |    (SELECT i, SUM(n) AS dn FROM e$x GROUP BY 1) dn
         |    USING (i))""".stripMargin
    }
    s"""WITH rk AS MATERIALIZED (
       |  SELECT lang,
       |    CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS r
       |  FROM (SELECT DISTINCT lang FROM documents
       |        WHERE lang IS NOT NULL)),
       |lc AS (SELECT COUNT(*) AS L FROM rk),
       |d AS (
       |  SELECT doc_id, lang FROM documents
       |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
       |lab0 AS (
       |  SELECT d.doc_id AS i, k.k AS k, d.lang, rk.r,
       |    ((((d.doc_id * 3 + k.k) % 2147483647) * 2654435761)
       |      % 2147483647) % 10 < 2 * k.k + 1 AS flip,
       |    (rk.r + 1 + ((((d.doc_id * 7 + 11 * k.k) % 2147483647)
       |      * 2654435761) % 2147483647) % (lc.L - 1)) % lc.L AS fr
       |  FROM d JOIN rk USING (lang)
       |  CROSS JOIN range(3) k(k) CROSS JOIN lc),
       |lab AS MATERIALIZED (
       |  SELECT i, k, CASE WHEN flip THEN r2.lang ELSE lab0.lang END
       |    AS l
       |  FROM lab0 JOIN rk r2 ON lab0.fr = r2.r),
       |ac AS (SELECT i, COUNT(*) AS a FROM lab GROUP BY 1),
       |v AS (SELECT i, l AS c, COUNT(*) AS v FROM lab GROUP BY 1, 2),
       |p0 AS MATERIALIZED (
       |  SELECT ac.i, rk.lang AS c,
       |    CAST(CAST(round(COALESCE(v.v, 0) * 1.0 / ac.a, 6)
       |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS post
       |  FROM ac CROSS JOIN rk
       |  LEFT JOIN v ON v.i = ac.i AND v.c = rk.lang),
       |kd AS (SELECT DISTINCT k FROM lab),
       |g AS (SELECT kd.k, c1.lang AS c, c2.lang AS l
       |      FROM kd CROSS JOIN rk c1 CROSS JOIN rk c2),
       |w AS MATERIALIZED (
       |  SELECT i,
       |    MAX(CASE WHEN k = 0 THEN l END) AS l0,
       |    MAX(CASE WHEN k = 1 THEN l END) AS l1,
       |    MAX(CASE WHEN k = 2 THEN l END) AS l2
       |  FROM lab GROUP BY 1),
       |${round(1)},
       |${round(2)}
       |$finalSelect""".stripMargin
  }

  /** The drift oracles' shared binning (a29 PSI, a68 Hellinger): event
    * values of days <= 15 (reference, CTE `r0`) and > 15 (current, `c0`),
    * binned by the reference deciles into per-bin counts `r` (ref_n) and
    * `c` (cur_n). */
  private val DriftBinCtes: String =
    """r0 AS (
      |  SELECT CAST(value AS DOUBLE) AS v FROM events
      |  WHERE value IS NOT NULL AND day(ts) <= 15),
      |c0 AS (
      |  SELECT CAST(value AS DOUBLE) AS v FROM events
      |  WHERE value IS NOT NULL AND day(ts) > 15),
      |q AS (SELECT quantile_cont(v, 0.1) AS q1,
      |  quantile_cont(v, 0.2) AS q2, quantile_cont(v, 0.3) AS q3,
      |  quantile_cont(v, 0.4) AS q4, quantile_cont(v, 0.5) AS q5,
      |  quantile_cont(v, 0.6) AS q6, quantile_cont(v, 0.7) AS q7,
      |  quantile_cont(v, 0.8) AS q8, quantile_cont(v, 0.9) AS q9
      |  FROM r0),
      |rb AS (SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
      |  + CAST(v > q3 AS INT) + CAST(v > q4 AS INT)
      |  + CAST(v > q5 AS INT) + CAST(v > q6 AS INT)
      |  + CAST(v > q7 AS INT) + CAST(v > q8 AS INT)
      |  + CAST(v > q9 AS INT) AS bin FROM r0, q),
      |cb AS (SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
      |  + CAST(v > q3 AS INT) + CAST(v > q4 AS INT)
      |  + CAST(v > q5 AS INT) + CAST(v > q6 AS INT)
      |  + CAST(v > q7 AS INT) + CAST(v > q8 AS INT)
      |  + CAST(v > q9 AS INT) AS bin FROM c0, q),
      |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
      |c AS (SELECT bin, COUNT(*) AS cur_n FROM cb GROUP BY 1)""".stripMargin

  /** The agreement oracles' rater frame (a77 Krippendorff, a73
    * Fleiss): three length "raters" (chars, non-space chars, tokens)
    * rate each doc short/mid/long, stacked as CTE `r` (doc_id,
    * rating). Ends inside `r`, so a caller may still filter the third
    * rater before closing it. */
  private val RaterStackCtes: String =
    """d AS (
      |  SELECT doc_id, n_chars,
      |    length(replace(text, ' ', '')) AS ns,
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> '')) AS tc
      |  FROM documents
      |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |r AS (
      |  SELECT doc_id, CASE WHEN n_chars < 300 THEN 'short'
      |    WHEN n_chars < 500 THEN 'mid' ELSE 'long' END AS rating
      |  FROM d
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN ns < 250 THEN 'short'
      |    WHEN ns < 420 THEN 'mid' ELSE 'long' END FROM d
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN tc < 50 THEN 'short'
      |    WHEN tc < 80 THEN 'mid' ELSE 'long' END FROM d""".stripMargin

  /** The a30 contingency over orders (priority × status): observed counts,
    * then CTE `cells`, the full grid with empty cells as 0. */
  private val ContingencyCells: String =
    """observed AS (
      |  SELECT o_orderpriority, o_orderstatus, count(*) AS obs
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
      |  GROUP BY 1, 2),
      |cells AS (
      |  SELECT g.o_orderpriority, g.o_orderstatus,
      |    COALESCE(o.obs, 0) AS obs
      |  FROM (SELECT a.o_orderpriority, b.o_orderstatus
      |        FROM (SELECT DISTINCT o_orderpriority FROM observed) a,
      |             (SELECT DISTINCT o_orderstatus FROM observed) b) g
      |  LEFT JOIN observed o
      |    ON o.o_orderpriority = g.o_orderpriority
      |   AND o.o_orderstatus = g.o_orderstatus)""".stripMargin

  /** Mutual-information fragment over contingency CTE `c` (columns
    * `a`, `b`, count nab): exact-decimal MI numerator, both marginal
    * entropy sums, and CTE `f` with mi, h_a and h_b (round-6). */
  private[queries] def mutualInfoCtes(a: String, b: String): String =
    s"""w AS (
      |  SELECT nab,
      |    SUM(nab) OVER (PARTITION BY $a) AS na,
      |    SUM(nab) OVER (PARTITION BY $b) AS nb,
      |    SUM(nab) OVER () AS n
      |  FROM c),
      |agg AS (
      |  SELECT CAST(SUM(nab) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS cells,
      |    SUM(CAST(nab * ROUND(ln(CAST(nab AS DOUBLE) * CAST(n AS DOUBLE)
      |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
      |      AS DECIMAL(28,6))) AS minum
      |  FROM w),
      |ma AS (
      |  SELECT SUM(CAST(na * ROUND(ln(CAST(na AS DOUBLE)), 6)
      |    AS DECIMAL(28,6))) AS sa
      |  FROM (SELECT $a, SUM(nab) AS na FROM c GROUP BY $a)),
      |mb AS (
      |  SELECT SUM(CAST(nb * ROUND(ln(CAST(nb AS DOUBLE)), 6)
      |    AS DECIMAL(28,6))) AS sb
      |  FROM (SELECT $b, SUM(nab) AS nb FROM c GROUP BY $b)),
      |f AS (
      |  SELECT n, cells,
      |    ROUND(CAST(minum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mi,
      |    ROUND(ln(CAST(n AS DOUBLE))
      |      - CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_a,
      |    ROUND(ln(CAST(n AS DOUBLE))
      |      - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_b
      |  FROM agg, ma, mb)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("a1_group_count", "§2.4 A1 group count",
      (s, dir) =>
        t(s, dir, "events").groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"),

    Query("a2_distinct", "§2.4 A2/A3 distinct / dedup full row",
      (s, dir) =>
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    Query("a4_dedup_keep_last", "§2.4 A4 dedup by key keep-LAST",
      (s, dir) =>
        WindowOps.dedupKeepLast(t(s, dir, "events"), Seq("user_id"),
            Seq(col("ts"), col("event_id")))
          .select("user_id", "event_id", "event_type"),
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    Query("a5_missingness", "§2.4 A5 missingness profile",
      (s, dir) => {
        val e = t(s, dir, "events").select(
          when(col("event_type") === "error", lit(null)).otherwise(col("event_type"))
            .as("et"),
          when(col("value") < 5, lit(null)).otherwise(col("value")).as("v"))
        Quality.missingness(e, Seq("et", "v"))
      },
      """WITH src AS (
        |  SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et,
        |         CASE WHEN value < 5 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT 'et' AS column_name,
        |  CAST(SUM(CASE WHEN et IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  ROUND(CAST(SUM(CASE WHEN et IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*), 4) AS pct_null
        |FROM src
        |UNION ALL
        |SELECT 'v',
        |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  ROUND(CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*), 4)
        |FROM src""".stripMargin),

    Query("a6_summary", "§2.4 A6 summary stats (exact)",
      (s, dir) =>
        Quality.summaryStats(t(s, dir, "lineitem"), "l_quantity",
          Seq("l_returnflag")),
      """SELECT l_returnflag, COUNT(l_quantity) AS n,
        |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS mean_v
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("a7_distinct_proj", "§2.4 A7 distinct projection",
      (s, dir) =>
        t(s, dir, "orders").select("o_orderpriority").distinct(),
      "SELECT DISTINCT o_orderpriority FROM orders"),

    // ---- exact percentiles (training-data quality cutoffs lean on
    // these; Spark `percentile` is exact with linear interpolation,
    // matching DuckDB's quantile_cont) ----
    Query("a8_percentile", "exact percentiles (training-data quality cutoffs lean on",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
            round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
            round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95_price")),
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- QC surface: the reference's interactive histogram/boxplot/
    // bounds blocks (RCLIF_vitals.Rmd:253-278) as DATA — rows are the
    // chart; one hash-agg pass each ----
    Query("a9_histogram", "QC surface: the reference's interactive histogram/boxplot/",
      (s, dir) =>
        Quality.histogram(t(s, dir, "lineitem"), "l_extendedprice", 1000.0,
          Seq("l_returnflag")),
      """SELECT l_returnflag,
        |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n,
        |  ROUND(CAST(floor(l_extendedprice / 1000.0) AS BIGINT) * 1000.0, 6) AS bin_lo,
        |  ROUND((CAST(floor(l_extendedprice / 1000.0) AS BIGINT) + 1) * 1000.0, 6) AS bin_hi
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    Query("a10_boxstats", "box-plot statistics (quartiles, whiskers) per group",
      (s, dir) =>
        Quality.boxStats(t(s, dir, "lineitem"), "l_quantity",
          Seq("l_returnflag")),
      """SELECT l_returnflag, COUNT(l_quantity) AS n,
        |  MIN(l_quantity) AS min_v,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS median,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS q3,
        |  MAX(l_quantity) AS max_v,
        |  ROUND(quantile_cont(l_quantity, 0.25)
        |    - (quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25)) * 1.5, 6) AS lo_whisker,
        |  ROUND(quantile_cont(l_quantity, 0.75)
        |    + (quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25)) * 1.5, 6) AS hi_whisker
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("a11_out_of_range", "out-of-range bounds audit per group",
      (s, dir) =>
        Quality.outOfRange(t(s, dir, "lineitem"), "l_quantity", 5.0, 45.0,
          Seq("l_returnflag")),
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity < 5 OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out_of_range,
        |  COUNT(l_quantity) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- A13: per-group winsorization — clamp to the exact per-group
    // [p05, p95] band. Bounds table is groups-sized and broadcast back;
    // the fact side is scanned once with zero shuffle. ----
    Query("a13_winsorize", "per-group winsorization",
      (s, dir) =>
        Quality.winsorize(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_extendedprice")),
          "l_extendedprice", Seq("l_returnflag"), 0.05, 0.95),
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  l.l_extendedprice,
        |  ROUND(LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi), 6)
        |    AS winsorized
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin),

    // ---- A14: robust outlier profile (median/MAD, modified z-score)
    // — heavy-tail-safe QC next to a10_boxstats; 392 real outliers in
    // events.value at sf0.01 (non-vacuous) ----
    Query("a14_robust_outliers", "robust outlier profile (median/MAD, modified z-score)",
      (s, dir) =>
        Quality.robustOutliers(t(s, dir, "events"), "value",
          Seq("event_type")),
      """WITH med AS (
        |  SELECT event_type AS g, ROUND(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT m.g, e.value, abs(e.value - m.med) AS dev
        |  FROM events e JOIN med m ON e.event_type = m.g),
        |mad AS (
        |  SELECT g, ROUND(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM dev GROUP BY g)
        |SELECT d.g AS event_type, med.med, mad.mad, COUNT(d.value) AS n,
        |  CAST(SUM(CASE WHEN mad.mad > 0 AND 0.6745 * d.dev > 3.5 * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN med ON d.g = med.g JOIN mad ON d.g = mad.g
        |GROUP BY d.g, med.med, mad.mad""".stripMargin),

    // ---- §2.4 grouping sets: one pass producing per-(region, nation)
    // revenue PLUS per-region and grand-total rollup rows — the
    // reporting shape that otherwise costs three scans + a union.
    // Spark expands the rollup inside a single Expand + hash agg.
    // `customer` is deliberately UNHINTED: it grows with the fact
    // (~SF × 15k rows), so a static broadcast hint would OOM the
    // build side at large SF. AQE still picks a broadcast join while
    // customer's post-scan size is under the threshold, and falls
    // back to shuffle join beyond it. nation/region are true
    // constant-cardinality dims (25/5 rows) and keep their hints. ----
    Query("a12_rollup", "§2.4 grouping sets: one pass producing per-(region, nation)",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(moneySum(col("o_totalprice")).as("revenue"),
            count(lit(1)).as("n_orders"))
      },
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),

    // ---- A15: CUBE + GROUPING flags — all four (returnflag,
    // linestatus) grouping sets in ONE Expand+hash-agg pass, with
    // grouping() disambiguating real nulls from subtotal rows ----
    Query("a15_cube", "CUBE + GROUPING flags",
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(moneySum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n"),
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // ---- A16: Pearson correlation matrix over the lineitem measures
    // — ONE aggregate pass computes every pair's EXACT-decimal moment
    // sums (order-free under any partitioning), the textbook formula
    // runs on the sums as a fixed IEEE op sequence, and pair rows are
    // emitted by an in-plan inline (no driver collect, no per-pair
    // jobs). Builtin corr() would be partition-order-dependent AND
    // engine-divergent (Welford vs textbook). ----
    Query("a16_corr", "Pearson correlation matrix over the lineitem measures",
      (s, dir) =>
        Quality.corrPairs(tf(s, dir, "lineitem", "l_orderkey"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // same exact-decimal moment sums, same fixed IEEE formula sequence
      """WITH p AS (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)) AS y
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_discount',
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_discount AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax',
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_tax AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_discount',
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_discount AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_tax',
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_tax AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', 'l_tax',
        |    CAST(ROUND(CAST(l_discount AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_tax AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem),
        |a AS (
        |  SELECT col_x, col_y, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM p WHERE x IS NOT NULL AND y IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT col_x, col_y, n,
        |  CASE WHEN sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) *
        |                 (CAST(n AS DOUBLE)*syy - sy*sy)) = 0 THEN NULL
        |       ELSE ROUND((CAST(n AS DOUBLE)*sxy - sx*sy) /
        |                  sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) *
        |                       (CAST(n AS DOUBLE)*syy - sy*sy)), 6)
        |  END AS corr
        |FROM a""".stripMargin),

    // ---- A17: per-group OLS fit (extendedprice ~ quantity per
    // returnflag) — slope/intercept/r² from the same one-pass
    // exact-decimal moment sums. ----
    Query("a17_regression", "per-group OLS fit (extendedprice ~ quantity per",
      (s, dir) =>
        Quality.olsFit(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice"),
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM s WHERE x IS NOT NULL AND y IS NOT NULL
        |  GROUP BY 1),
        |f AS (
        |  SELECT l_returnflag, n, sx, sy, syy,
        |    CAST(n AS DOUBLE)*sxy - sx*sy AS num,
        |    CAST(n AS DOUBLE)*sxx - sx*sx AS varx
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND(num/varx, 6) END AS slope,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND((sy - (num/varx)*sx)/CAST(n AS DOUBLE), 6)
        |  END AS intercept,
        |  CASE WHEN sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy)) = 0 THEN NULL
        |       ELSE ROUND((num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))) *
        |                  (num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))), 6)
        |  END AS r2
        |FROM f""".stripMargin),

    // ---- A18: declarative expectation suite — the QC contract tests
    // a pipeline gates a load on, evaluated in ONE aggregate pass
    // (not-null %, unique key, range %, set-membership %, min rows);
    // the in-set check genuinely FAILS on this corpus (5 event types
    // vs the expected 3), so pass=false rows are exercised. ----
    Query("a18_expectations", "declarative expectation suite",
      (s, dir) =>
        Quality.expectations(t(s, dir, "events"), Seq(
          Quality.ExpectNotNull("value", 99.0),
          Quality.ExpectUniqueKey(Seq("event_id")),
          Quality.ExpectInRange("value", 0.0, 100.0, 99.0),
          Quality.ExpectInSet("event_type",
            Seq("view", "click", "purchase"), 100.0),
          Quality.ExpectMinRows(1000L))),
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |    COUNT(value) AS m0,
        |    COUNT(DISTINCT event_id) AS m1,
        |    COUNT(CASE WHEN value >= 0.0 AND value <= 100.0
        |               THEN 1 END) AS m2,
        |    COUNT(CASE WHEN event_type IN ('view', 'click', 'purchase')
        |               THEN 1 END) AS m3
        |  FROM events)
        |SELECT 'not_null_pct' AS expectation, 'value' AS target,
        |  ROUND(CAST(m0 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6)
        |    AS measured,
        |  99.0 AS threshold,
        |  ROUND(CAST(m0 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6) >= 99.0
        |    AS pass
        |FROM a
        |UNION ALL
        |SELECT 'unique_key', 'event_id', CAST(n - m1 AS DOUBLE), 0.0,
        |  CAST(n - m1 AS DOUBLE) = 0.0
        |FROM a
        |UNION ALL
        |SELECT 'in_range_pct', 'value in [0.0,100.0]',
        |  ROUND(CAST(m2 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6), 99.0,
        |  ROUND(CAST(m2 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6) >= 99.0
        |FROM a
        |UNION ALL
        |SELECT 'in_set_pct', 'event_type in {view,click,purchase}',
        |  ROUND(CAST(m3 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6), 100.0,
        |  ROUND(CAST(m3 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6) >= 100.0
        |FROM a
        |UNION ALL
        |SELECT 'min_rows', '', CAST(n AS DOUBLE), 1000.0,
        |  CAST(n AS DOUBLE) >= 1000.0
        |FROM a""".stripMargin),

    // ---- A21: Benford first-digit screening — the fraud/synthetic-
    // data QC test: observed first-significant-digit shares of order
    // totals vs Benford's log10(1+1/d), with per-digit chi-square
    // contributions. Digit extraction via decimal-string (engine-
    // exact, no log-boundary risk); one hash agg + a 1-row total. ----
    Query("a21_benford", "Benford first-digit screening",
      (s, dir) => {
        val digits = t(s, dir, "orders")
          .filter(col("o_totalprice") > 0)
          .select(substring(col("o_totalprice").cast("decimal(18,2)")
            .cast("string"), 1, 1).cast("int").as("digit"))
        val g = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = g.agg(sum(col("n")).cast("long").as("__nn"))
        val nn = col("__nn").cast("double")
        val p = round(log10(lit(1.0) +
          lit(1.0) / col("digit").cast("double")), 6)
        val diff = col("n").cast("double") - nn * p
        g.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            round(col("n").cast("double") / nn, 6).as("obs_share"),
            p.as("benford_p"),
            round(diff * diff / (nn * p), 6).as("chi2_term"))
      },
      // identical digit-from-decimal-string extraction and IEEE term
      // sequence; p on the round-6 grid before the chi-square arithmetic
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM g)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS obs_share,
        |  ROUND(log10(CAST(1 AS DOUBLE) +
        |              CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)
        |    AS benford_p,
        |  ROUND((CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) *
        |           ROUND(log10(CAST(1 AS DOUBLE) +
        |             CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)) *
        |        (CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) *
        |           ROUND(log10(CAST(1 AS DOUBLE) +
        |             CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)) /
        |        (CAST(nn AS DOUBLE) *
        |           ROUND(log10(CAST(1 AS DOUBLE) +
        |             CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)), 6)
        |    AS chi2_term
        |FROM g, t""".stripMargin),

    // ---- A22: count-min sketch heavy hitters — the fixed-size
    // MERGEABLE frequency sketch (Cormode & Muthukrishnan 2005) with
    // a published 2-universal hash family any SQL engine replays;
    // top-20 keys by estimate with the exact count and the sketch's
    // one-sided error beside them. The ≤ depth×width sketch
    // broadcasts into the estimation probe. ----
    Query("a22_cms_topk", "count-min sketch heavy hitters",
      (s, dir) =>
        Sketches.countMinTopK(t(s, dir, "lineitem"), "l_partkey",
          k = 20, depth = 4, width = 1024),
      // the CM sketch replayed with its published hash constants; each
      // key's exact count lands in 4 cells, estimate = min over rows
      """WITH c AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS k, COUNT(*) AS exact
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |cells AS (
        |  SELECT c.k, c.exact, h.i,
        |    ((h.a * c.k + h.b) % 2147483647) % 1024 AS bucket
        |  FROM c, (VALUES (0, 1103515245, 12345),
        |                  (1, 69069, 362437),
        |                  (2, 1664525, 1013904223),
        |                  (3, 22695477, 1)) AS h(i, a, b)),
        |sketch AS (
        |  SELECT i, bucket, CAST(SUM(exact) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |est AS (
        |  SELECT ce.k, MIN(s.cnt) AS cms_est, MAX(ce.exact) AS exact
        |  FROM cells ce JOIN sketch s
        |    ON s.i = ce.i AND s.bucket = ce.bucket
        |  GROUP BY 1)
        |SELECT k AS l_partkey, cms_est, exact,
        |  cms_est - exact AS overcount
        |FROM est ORDER BY cms_est DESC, l_partkey LIMIT 20""".stripMargin),

    // ---- A23: pre-flight key-skew audit — key cardinality, max/p50/
    // p99 key sizes, heaviest-key share and the exact Gini of the
    // per-key count distribution, computed over the COUNT-OF-COUNTS
    // frame (closed-form rank-run sums) so the window never ranks
    // key-cardinality rows. The measurement behind every salting /
    // bucketing decision in ops.Scale. ----
    Query("a23_skew_report", "pre-flight key-skew audit",
      (s, dir) =>
        Scale.skewReport(t(s, dir, "events"), "user_id"),
      // Gini over the count-of-counts closed form: keys sharing count c
      // occupy a contiguous rank run starting at r0 = cum − f + 1
      """WITH kc AS (
        |  SELECT CAST(user_id AS BIGINT) AS k, COUNT(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |f AS (SELECT cnt, COUNT(*) AS fr FROM kc GROUP BY 1),
        |w AS (SELECT cnt, fr, SUM(fr) OVER (ORDER BY cnt) AS cum FROM f),
        |g AS (SELECT CAST(SUM(fr) AS BIGINT) AS n_keys,
        |        CAST(SUM(cnt * fr) AS BIGINT) AS n_rows,
        |        CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
        |        SUM(cnt * (2 * fr * (cum - fr + 1) + fr * (fr - 1)))
        |          AS ga
        |      FROM w),
        |p AS (SELECT ROUND(quantile_cont(cnt, 0.5), 6) AS p50_key_rows,
        |        ROUND(quantile_cont(cnt, 0.99), 6) AS p99_key_rows
        |      FROM kc)
        |SELECT n_keys, n_rows, max_key_rows, p50_key_rows, p99_key_rows,
        |  ROUND(CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS top_key_share,
        |  ROUND((CAST(ga AS DOUBLE) -
        |         CAST(n_keys + 1 AS DOUBLE) * CAST(n_rows AS DOUBLE)) /
        |        (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6)
        |    AS gini
        |FROM g, p""".stripMargin),

    // ---- A28: DAU / rolling 7-day WAU — the daily/weekly-active
    // pair; distinct (user, day) once, then a bounded 7-day explode
    // instead of the COUNT(DISTINCT)-over-RANGE no engine has. ----
    Query("a28_dau_wau", "DAU / rolling 7-day WAU",
      (s, dir) =>
        Analytics.dauWau(t(s, dir, "events"), "user_id", "ts",
          windowDays = 7),
      // distinct (user, day) + 7-day explode; inner join keeps days
      // with their own activity
      """WITH pairs AS (
        |  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d
        |  FROM events),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM pairs GROUP BY 1),
        |wau AS (
        |  SELECT day, CAST(COUNT(DISTINCT k) AS BIGINT) AS wau
        |  FROM (SELECT k,
        |          CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
        |            CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
        |            INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM pairs)
        |  GROUP BY 1)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau, wau
        |FROM dau JOIN wau USING (day)""".stripMargin),

    // ---- A29: population stability index — value distribution of
    // the month's first half (reference) vs second half (current),
    // decile boundaries from the reference broadcast into both
    // binning passes; Laplace-guarded shares. ----
    Query("a29_psi", "population stability index",
      (s, dir) => {
        val ev = t(s, dir, "events")
        Quality.psi(
          ev.filter(dayofmonth(col("ts")) <= 15).select(col("value")),
          ev.filter(dayofmonth(col("ts")) > 15).select(col("value")),
          "value", bins = 10)
      },
      // reference deciles bin both halves; Laplace-guarded shares;
      // full outer keeps bins empty on either side
      s"""WITH $DriftBinCtes,
        |t AS (SELECT (SELECT CAST(SUM(ref_n) AS BIGINT) FROM r) AS tr,
        |             (SELECT CAST(SUM(cur_n) AS BIGINT) FROM c) AS tc),
        |f AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |        CAST(COALESCE(ref_n, 0) AS BIGINT) AS ref_n,
        |        CAST(COALESCE(cur_n, 0) AS BIGINT) AS cur_n
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT bin, ref_n, cur_n,
        |  ROUND((ref_n + CAST(0.5 AS DOUBLE)) /
        |        (tr + CAST(5.0 AS DOUBLE)), 6) AS ref_share,
        |  ROUND((cur_n + CAST(0.5 AS DOUBLE)) /
        |        (tc + CAST(5.0 AS DOUBLE)), 6) AS cur_share,
        |  ROUND(((cur_n + CAST(0.5 AS DOUBLE)) /
        |           (tc + CAST(5.0 AS DOUBLE)) -
        |         (ref_n + CAST(0.5 AS DOUBLE)) /
        |           (tr + CAST(5.0 AS DOUBLE))) *
        |        ln(((cur_n + CAST(0.5 AS DOUBLE)) /
        |             (tc + CAST(5.0 AS DOUBLE))) /
        |           ((ref_n + CAST(0.5 AS DOUBLE)) /
        |             (tr + CAST(5.0 AS DOUBLE)))), 6) AS psi_term
        |FROM f, t""".stripMargin),

    // ---- A30: Pearson χ² independence — order priority × status
    // contingency; per-cell contributions beside the suite statistic.
    // One (a,b) hash agg collapses the fact; marginals are window
    // sums on the cell-sized frame; χ² sums decimal-exact. ----
    Query("a30_chisq", "Pearson χ² independence",
      (s, dir) =>
        Quality.chiSquareIndependence(t(s, dir, "orders"),
          "o_orderpriority", "o_orderstatus")
          .orderBy("o_orderpriority", "o_orderstatus"),
      // same accumulation discipline as the Spark side: marginal
      // products through double BEFORE multiplying, per-cell
      // contributions rounded to 6 then summed exact-decimal
      s"""WITH $ContingencyCells,
        |dims AS (
        |  SELECT CAST(count(DISTINCT o_orderpriority) AS INT) AS na,
        |         CAST(count(DISTINCT o_orderstatus) AS INT) AS nb,
        |         CAST(sum(obs) AS DOUBLE) AS tot
        |  FROM cells),
        |m AS (
        |  SELECT o_orderpriority, o_orderstatus, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
        |      AS rt,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
        |      AS ct
        |  FROM cells),
        |e AS (
        |  SELECT o_orderpriority, o_orderstatus, obs,
        |    rt * ct / tot AS expd,
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) *
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) /
        |      (rt * ct / tot) AS contrib,
        |    na, nb
        |  FROM m, dims)
        |SELECT o_orderpriority, o_orderstatus,
        |  CAST(obs AS BIGINT) AS obs,
        |  ROUND(expd, 6) AS expected,
        |  ROUND(contrib, 6) AS contrib,
        |  ROUND(CAST(SUM(CAST(ROUND(contrib, 6) AS DECIMAL(28,6)))
        |    OVER () AS DOUBLE), 6) AS chi2,
        |  CAST((na - 1) * (nb - 1) AS INT) AS dof
        |FROM e""".stripMargin),

    // ---- A31: id-sequence gap audit — holes of ≥ 20 missing ids in
    // the click stream's event_id sequence; bucketed lag (parallel)
    // + a bucket-frame window for border/whole-bucket holes. Small
    // bucketSize (4096) on purpose: the sf0.01 run exercises ~70
    // buckets so the cross-border path is genuinely covered. ----
    Query("a31_seq_gaps", "id-sequence gap audit",
      (s, dir) =>
        Quality.sequenceGaps(
          t(s, dir, "events").filter(col("event_type") === "click"),
          "event_id", minGap = 20L, bucketSize = 4096L)
          .orderBy("gap_start"),
      // one global lag is the whole oracle; the Spark side must produce
      // the identical hole set from its bucketed two-path formulation
      """WITH ids AS (
        |  SELECT DISTINCT event_id AS id FROM events
        |  WHERE event_type = 'click'),
        |g AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids)
        |SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
        |  CAST(id - 1 AS BIGINT) AS gap_end,
        |  CAST(id - prev - 1 AS BIGINT) AS missing
        |FROM g WHERE prev IS NOT NULL AND id - prev - 1 >= 20""".stripMargin),

    // ---- A32: k-anonymity audit — equivalence classes of the
    // (priority, status, order year, order month) quasi-identifier
    // with fewer than k=5 orders: the re-identifiable cells a
    // release gate must suppress. ----
    Query("a32_k_anon", "k-anonymity audit",
      (s, dir) =>
        Quality.kAnonymity(
          t(s, dir, "orders").select(col("o_orderpriority"),
            col("o_orderstatus"),
            year(col("o_orderdate")).cast("long").as("o_year"),
            month(col("o_orderdate")).cast("long").as("o_month")),
          Seq("o_orderpriority", "o_orderstatus", "o_year", "o_month"),
          k = 5L)
          .orderBy("o_orderpriority", "o_orderstatus", "o_year",
            "o_month"),
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  count(*) AS n
        |FROM orders
        |GROUP BY 1, 2, 3, 4
        |HAVING count(*) < 5""".stripMargin),

    // ---- A39: Cramér's V — the normalized association strength over
    // the a30 contingency (priority × status), one comparable [0,1]
    // number where raw χ² is table-scale-bound. ----
    Query("a39_cramers_v", "Cramér's V",
      (s, dir) =>
        Quality.cramersV(t(s, dir, "orders"), "o_orderpriority",
          "o_orderstatus"),
      // the a30 chi2 suite statistic folded into V; same round-6
      // contribution sum, one fixed-order sqrt at the end
      s"""WITH $ContingencyCells,
        |m AS (
        |  SELECT o_orderpriority, o_orderstatus, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
        |      AS rt,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
        |      AS ct,
        |    CAST(SUM(obs) OVER () AS DOUBLE) AS tot
        |  FROM cells),
        |e AS (
        |  SELECT obs,
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) *
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) /
        |      (rt * ct / tot) AS contrib
        |  FROM m),
        |agg AS (
        |  SELECT CAST(SUM(obs) AS BIGINT) AS n,
        |    ROUND(CAST(SUM(CAST(ROUND(contrib, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS chi2
        |  FROM e),
        |dims AS (
        |  SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ra,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS rb
        |  FROM cells)
        |SELECT n, chi2,
        |  CAST((ra - 1) * (rb - 1) AS INT) AS dof,
        |  CASE WHEN LEAST(ra - 1, rb - 1) > 0 AND n > 0
        |       THEN ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
        |         * CAST(LEAST(ra - 1, rb - 1) AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM agg, dims""".stripMargin),

    // ---- A38: two-sample Kolmogorov–Smirnov drift test —
    // first-half-of-month values vs second half; D argmax on exact
    // integers, CDF via bucketed hierarchical prefix sums (only the
    // bucket-totals frame crosses one partition — the a31 shape). ----
    Query("a38_ks_drift", "two-sample Kolmogorov–Smirnov drift test —",
      (s, dir) =>
        Quality.ksTwoSample(t(s, dir, "events"), "value",
          dayofmonth(col("ts")) <= 15),
      // flat-window CDF replay (the bucketed hierarchy is a pure
      // refactoring of the same cumulative sums); exact-integer argmax
      """WITH s AS (
        |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    EXTRACT(day FROM ts) <= 15 AS a
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |c AS (
        |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY v),
        |t AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb
        |  FROM c),
        |cum AS (
        |  SELECT v,
        |    SUM(ca) OVER (ORDER BY v) AS pa,
        |    SUM(cb) OVER (ORDER BY v) AS pb
        |  FROM c)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(CAST(abs(pa * nb - pb * na) AS DOUBLE)
        |    / CAST(na * nb AS DOUBLE), 6) AS d_stat,
        |  CAST(v AS DOUBLE) AS at_value
        |FROM cum, t
        |ORDER BY abs(pa * nb - pb * na) DESC, v LIMIT 1""".stripMargin),

    // ---- A40: ROC-AUC of value as a purchase-classifier score —
    // Mann–Whitney U on exact integers (doubled statistic so tie
    // blocks contribute whole numbers), decimal(38,0) products, one
    // double division; CDF work rides the a38 bucketed hierarchy. ----
    Query("a40_roc_auc", "ROC-AUC of value as a purchase-classifier score —",
      (s, dir) =>
        Quality.rocAuc(t(s, dir, "events"), "value",
          col("event_type") === "purchase"),
      // doubled Mann-Whitney U replayed on exact integers (DuckDB sums
      // promote through HUGEINT); flat window = the bucketed hierarchy
      """WITH s AS (
        |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT v, SUM(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS cn
        |  FROM s GROUP BY v),
        |cum AS (
        |  SELECT cp, cn,
        |    SUM(cn) OVER (ORDER BY v) - cn AS neg_below
        |  FROM c)
        |SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
        |  CAST(SUM(cn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(cp) > 0 AND SUM(cn) > 0 THEN
        |    ROUND(CAST(SUM(cp * (2 * neg_below + cn)) AS DOUBLE)
        |      / CAST(2 * SUM(cp) * SUM(cn) AS DOUBLE), 6) END AS auc
        |FROM cum""".stripMargin),

    // ---- A41/A42: calibration bins + ECE of the clamped value/100
    // pseudo-probability vs purchase — per-bin confidence/accuracy
    // and the headline ECE, all in exact truncating integer
    // micro-units (no double mean anywhere). ----
    // ---- A66: Cliff's delta — the nonparametric effect size of
    // purchase vs non-purchase event values (P(X>Y) − P(X<Y), ties
    // zero): exact pair counts off the rocAuc Prefix machinery. ----
    Query("a66_cliffs_delta", "Cliff's delta",
      (s, dir) =>
        Quality.cliffsDelta(t(s, dir, "events"), "value",
          col("event_type") === "purchase"),
      // per-bin confidence/accuracy replayed in the same exact integer
      // micro-units (truncating //, both engines floor non-negatives)
      // concordant/tied pair counts on HUGEINT off the distinct-value
      // cumulative; delta = (2*conc + tied - tot)/tot, one division
      """WITH s AS (
        |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT v, SUM(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS cn
        |  FROM s GROUP BY v),
        |cum AS (
        |  SELECT cp, cn,
        |    SUM(cn) OVER (ORDER BY v) - cn AS negBelow
        |  FROM c)
        |SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
        |  CAST(SUM(cn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(cp) > 0 AND SUM(cn) > 0 THEN
        |    ROUND(CAST(2 * SUM(CAST(cp AS HUGEINT) * negBelow)
        |        + SUM(CAST(cp AS HUGEINT) * cn)
        |        - CAST(SUM(cp) AS HUGEINT) * CAST(SUM(cn) AS HUGEINT)
        |      AS DOUBLE)
        |      / CAST(CAST(SUM(cp) AS HUGEINT)
        |        * CAST(SUM(cn) AS HUGEINT) AS DOUBLE), 6)
        |  END AS delta
        |FROM cum""".stripMargin),

    // ---- A67: Pettitt changepoint — WHEN did the daily event-value
    // total shift? Exact integer rank statistic U_k off two Prefix
    // passes (no pair join), one exp for the p-value. The series is
    // the per-day exact decimal(18,6) total. ----
    Query("a67_pettitt", "Pettitt changepoint",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val daily = ev.filter(col("ts").isNotNull &&
            col("value").isNotNull)
          .groupBy(to_date(col("ts")).as("__d"))
          .agg(sum(col("value").cast("decimal(18,6)")).as("__tot"))
          .select(datediff(col("__d"),
            lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
            .as("day_idx"), col("__tot"))
        Analytics.pettittTest(daily, "day_idx", "__tot")
      },
      // exact doubled average ranks + HUGEINT U_k off window prefix
      // sums; one exp double chain for the p-value, rounded once
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS i,
        |    CAST(CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |        AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
        |      AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |vals AS (SELECT v, COUNT(*) AS t FROM daily GROUP BY v),
        |ranks AS (SELECT v,
        |    2*(SUM(t) OVER (ORDER BY v) - t) + t + 1 AS r2
        |  FROM vals),
        |sq AS (SELECT i, r2 FROM daily JOIN ranks USING (v)),
        |cum AS (SELECT i,
        |    SUM(r2) OVER (ORDER BY i) AS w,
        |    ROW_NUMBER() OVER (ORDER BY i) AS k
        |  FROM sq),
        |nn AS (SELECT COUNT(*) AS n FROM daily),
        |u AS (SELECT i, k, nn.n,
        |    abs(CAST(w AS HUGEINT) - CAST(k AS HUGEINT) * (nn.n + 1))
        |      AS au
        |  FROM cum, nn WHERE k < nn.n),
        |b AS (SELECT * FROM u ORDER BY au DESC, k ASC LIMIT 1)
        |SELECT CAST(n AS BIGINT) AS n, CAST(au AS BIGINT) AS u_max,
        |  CAST(i AS BIGINT) AS change_at,
        |  ROUND(LEAST(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE) * exp(
        |    CAST(-6.0 AS DOUBLE) * CAST(au AS DOUBLE) * CAST(au AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT)*n*n + CAST(n AS HUGEINT)*n
        |        AS DOUBLE))), 6) AS p_value
        |FROM b""".stripMargin),

    // ---- A68: Hellinger / Bhattacharyya drift — the bounded,
    // symmetric drift metric beside a29's PSI on the same
    // first-half/second-half event-value split and the same
    // reference-percentile bins; empty bins contribute exactly 0
    // (no smoothing — √ is zero-tolerant). ----
    Query("a68_hellinger", "Hellinger / Bhattacharyya drift",
      (s, dir) => {
        val ev = t(s, dir, "events")
        Quality.hellingerDrift(
          ev.filter(dayofmonth(col("ts")) <= 15).select(col("value")),
          ev.filter(dayofmonth(col("ts")) > 15).select(col("value")),
          "value", bins = 10)
      },
      // a29's reference-percentile bins; per-bin √(p·q) rounded once,
      // BC an exact decimal sum, H and −ln BC one double step each
      s"""WITH $DriftBinCtes,
        |t AS (SELECT (SELECT CAST(COALESCE(SUM(ref_n), 0) AS BIGINT)
        |                FROM r) AS tr,
        |             (SELECT CAST(COALESCE(SUM(cur_n), 0) AS BIGINT)
        |                FROM c) AS tc),
        |f AS (SELECT CAST(COALESCE(ref_n, 0) AS BIGINT) AS ref_n,
        |        CAST(COALESCE(cur_n, 0) AS BIGINT) AS cur_n
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |terms AS (SELECT tr, tc,
        |    CAST(ROUND(sqrt(
        |      CAST(CAST(ref_n AS HUGEINT) * cur_n AS DOUBLE) /
        |      CAST(CAST(tr AS HUGEINT) * tc AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS bct
        |  FROM f, t),
        |agg AS (SELECT MAX(tr) AS n_ref, MAX(tc) AS n_cur,
        |    CAST(SUM(bct) AS DOUBLE) AS bc
        |  FROM terms)
        |SELECT n_ref, n_cur, bc,
        |  CASE WHEN bc IS NOT NULL THEN
        |    ROUND(sqrt(GREATEST(CAST(0.0 AS DOUBLE),
        |      CAST(1.0 AS DOUBLE) - bc)), 6) END AS hellinger,
        |  CASE WHEN bc > 0 THEN ROUND(-ln(bc), 6) + CAST(0.0 AS DOUBLE)
        |  END AS b_distance
        |FROM agg""".stripMargin),

    // ---- A69: one-way ANOVA F — does event value differ across the
    // five event types? Exact per-group moments into one rounded
    // chain per group term; F and η² scalars after. ----
    Query("a69_anova", "one-way ANOVA F",
      (s, dir) =>
        Quality.anovaF(t(s, dir, "events"), "event_type", "value"),
      // exact HUGEINT per-group moments; each S²/n and Q term one
      // rounded double chain summed exactly; F/η² one step each
      """WITH src AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |grp AS (
        |  SELECT g, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS q
        |  FROM src GROUP BY g),
        |termed AS (
        |  SELECT n, s,
        |    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 1e12), 6) AS DECIMAL(28,6)) AS t,
        |    CAST(ROUND(CAST(q AS DOUBLE) / 1e12, 6)
        |      AS DECIMAL(28,6)) AS qn
        |  FROM grp),
        |agg AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(s) AS stot,
        |    CAST(SUM(t) AS DECIMAL(38,6)) AS tsum,
        |    CAST(SUM(qn) AS DECIMAL(38,6)) AS qsum
        |  FROM termed),
        |g2 AS (
        |  SELECT k, n, tsum, qsum,
        |    CAST(ROUND(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 1e12), 6) AS DECIMAL(38,6)) AS g2n
        |  FROM agg),
        |ss AS (SELECT k, n, tsum - g2n AS ssb, qsum - tsum AS ssw
        |  FROM g2)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  CAST(ssb AS DOUBLE) AS ss_between,
        |  CAST(ssw AS DOUBLE) AS ss_within,
        |  CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        |    ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
        |          (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE)), 6)
        |  END AS f_stat,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    ROUND(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE), 6)
        |  END AS eta_sq
        |FROM ss""".stripMargin),

    // ---- A70: mutual information + Theil's U — the directed
    // association pair on a30's priority × status contingency;
    // entropies as exact decimal sums of rounded cell terms. ----
    Query("a70_theil", "mutual information + Theil's U",
      (s, dir) =>
        Quality.mutualInformation(t(s, dir, "orders"),
          "o_orderpriority", "o_orderstatus"),
      // entropies as exact decimal sums of rounded (c/n)ln(n/c) terms;
      // MI exact decimal on the sums, clamped at 0; U one division
      """WITH cells AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    COUNT(*) AS c
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        |hx AS (SELECT CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS h
        |  FROM (SELECT CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS t
        |    FROM (SELECT a, SUM(c) AS c FROM cells GROUP BY a), nn)),
        |hy AS (SELECT CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS h
        |  FROM (SELECT CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS t
        |    FROM (SELECT b, SUM(c) AS c FROM cells GROUP BY b), nn)),
        |hxy AS (SELECT CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS h
        |  FROM (SELECT CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS t
        |    FROM cells, nn)),
        |mi AS (SELECT GREATEST(CAST(0 AS DECIMAL(28,6)),
        |    hx.h + hy.h - hxy.h) AS m
        |  FROM hx, hy, hxy)
        |SELECT n, CAST(hx.h AS DOUBLE) AS h_x,
        |  CAST(hy.h AS DOUBLE) AS h_y,
        |  CAST(hxy.h AS DOUBLE) AS h_xy,
        |  CAST(m AS DOUBLE) AS mi,
        |  CASE WHEN hx.h > 0 THEN
        |    ROUND(CAST(m AS DOUBLE) / CAST(hx.h AS DOUBLE), 6)
        |  END AS theil_xy,
        |  CASE WHEN hy.h > 0 THEN
        |    ROUND(CAST(m AS DOUBLE) / CAST(hy.h AS DOUBLE), 6)
        |  END AS theil_yx
        |FROM nn, hx, hy, hxy, mi""".stripMargin),

    // ---- A71: McNemar's paired test — two purchase-prediction
    // rules (total value > 50 vs event count > 10) scored on the
    // SAME users; only the discordant users carry information. ----
    Query("a71_mcnemar", "McNemar's paired test",
      (s, dir) => {
        val per = t(s, dir, "events").groupBy(col("user_id")).agg(
          (max(when(col("event_type") === "purchase", 1).otherwise(0))
            === 1).as("__actual"),
          sum(col("value").cast("decimal(18,6)")).as("__sv"),
          count(lit(1)).as("__ne"))
        Quality.mcnemarTest(per,
          (col("__sv") > lit(50.0)) === col("__actual"),
          (col("__ne") > lit(10L)) === col("__actual"))
      },
      // exact discordant counts; Edwards-corrected chi2 one division
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      = 1 AS actual,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sv,
        |    COUNT(*) AS ne
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT (sv > 50.0) = actual AS a, (ne > 10) = actual AS b
        |  FROM per
        |  WHERE (sv > 50.0) IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_only,
        |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_only
        |  FROM p)
        |SELECT n, a_only, b_only,
        |  CASE WHEN a_only + b_only > 0 THEN
        |    ROUND(CAST(CAST(GREATEST(abs(a_only - b_only) - 1, 0)
        |        AS HUGEINT) *
        |      GREATEST(abs(a_only - b_only) - 1, 0) AS DOUBLE) /
        |      CAST(a_only + b_only AS DOUBLE), 6)
        |  END AS chi2
        |FROM m""".stripMargin),

    // ---- A72: Cochran–Armitage trend — is the fulfilled rate
    // monotone in order priority (the ordering χ² throws away)?
    // Five exact moments off one conditional agg, one z chain. ----
    Query("a72_trend", "Cochran–Armitage trend",
      (s, dir) =>
        Quality.cochranArmitage(
          t(s, dir, "orders").withColumn("__dose",
            substring(col("o_orderpriority"), 1, 1).cast("long")),
          "__dose", col("o_orderstatus") === "F"),
      // five exact HUGEINT moments; T/Var/z one fixed double chain
      """WITH src AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
        |      AS w,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS r
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS k_doses,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r) AS BIGINT) AS n_pos,
        |    SUM(CAST(w AS HUGEINT) * r) AS wr,
        |    SUM(CAST(w AS HUGEINT)) AS wn,
        |    SUM(CAST(w AS HUGEINT) * w) AS w2n
        |  FROM src),
        |c AS (
        |  SELECT k_doses, n, n_pos,
        |    CAST(wr AS DOUBLE) - CAST(n_pos AS DOUBLE) /
        |      CAST(n AS DOUBLE) * CAST(wn AS DOUBLE) AS t,
        |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) *
        |      (CAST(1.0 AS DOUBLE) - CAST(n_pos AS DOUBLE) /
        |        CAST(n AS DOUBLE)) *
        |      (CAST(w2n AS DOUBLE) - CAST(wn AS DOUBLE) *
        |        CAST(wn AS DOUBLE) / CAST(n AS DOUBLE)) AS v
        |  FROM m)
        |SELECT k_doses, n, n_pos, ROUND(t, 6) AS t_stat,
        |  CASE WHEN v > 0 THEN ROUND(t / sqrt(v), 6) END AS z
        |FROM c""".stripMargin),

    // ---- A78: Bradley–Terry strengths from pairwise judgments — the
    // batch aggregation of "A beat B" preferences into a per-player
    // ranking (what LLM-eval arenas compute; Elo is the
    // order-dependent online cousin with no deterministic batch
    // form). Judgments constructed deterministically: doc i vs docs
    // i+1 and i+3, longer n_chars wins (ties to the lower id);
    // players are the 20 sources. 3 synchronous MM rounds, exact
    // decimal term sums — the whole walk replays in SQL. ----
    Query("a78_bradley_terry", "Bradley–Terry strengths from pairwise judgments",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("doc_id").isNotNull)
          .select(col("doc_id"), col("source"), col("n_chars"))
        def fam(off: Int) = {
          val a = d.select(col("doc_id").as("a_id"),
            col("source").as("a_src"), col("n_chars").as("a_n"))
          val b = d.select(col("doc_id").as("b_id"),
            col("source").as("b_src"), col("n_chars").as("b_n"))
          a.join(b, col("b_id") === col("a_id") + off)
            .select(
              when(col("a_n") >= col("b_n"), col("a_src"))
                .otherwise(col("b_src")).as("winner"),
              when(col("a_n") >= col("b_n"), col("b_src"))
                .otherwise(col("a_src")).as("loser"))
        }
        Analytics.bradleyTerry(fam(1).unionByName(fam(3)),
          "winner", "loser", iters = 3)
      },
      // Bradley–Terry MM, all 3 rounds unrolled (MATERIALIZED — every
      // round reads sym + the previous strengths twice); each pair term
      // is ONE round-6 double division summed exactly as DECIMAL(28,6)
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id IS NOT NULL),
        |pr AS (
        |  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
        |           ELSE b.source END AS w,
        |         CASE WHEN a.n_chars >= b.n_chars THEN b.source
        |           ELSE a.source END AS l
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  UNION ALL
        |  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
        |           ELSE b.source END AS w,
        |         CASE WHEN a.n_chars >= b.n_chars THEN b.source
        |           ELSE a.source END AS l
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 3),
        |cells AS MATERIALIZED (
        |  SELECT w, l, COUNT(*) AS wn FROM pr WHERE w <> l
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT i, j, CAST(SUM(wij) AS BIGINT) AS wij,
        |    CAST(SUM(wij) + SUM(wji) AS BIGINT) AS nij
        |  FROM (
        |    SELECT w AS i, l AS j, wn AS wij, 0 AS wji FROM cells
        |    UNION ALL
        |    SELECT l AS i, w AS j, 0 AS wij, wn AS wji FROM cells)
        |  GROUP BY 1, 2),
        |tot AS MATERIALIZED (
        |  SELECT i, CAST(SUM(wij) AS BIGINT) AS wins,
        |    CAST(SUM(nij) AS BIGINT) AS games
        |  FROM sym GROUP BY 1),
        |p0 AS MATERIALIZED (
        |  SELECT i, CAST(1.0 AS DOUBLE) AS p FROM tot),
        |t1 AS (
        |  SELECT s.i, SUM(CAST(ROUND(
        |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
        |    AS DECIMAL(28,6))) AS den
        |  FROM sym s JOIN p0 pi ON pi.i = s.i
        |    JOIN p0 pj ON pj.i = s.j
        |  GROUP BY 1),
        |p1 AS MATERIALIZED (
        |  SELECT t1.i, ROUND(CAST(tot.wins AS DOUBLE)
        |    / CAST(t1.den AS DOUBLE), 6) AS p
        |  FROM t1 JOIN tot USING (i)),
        |t2 AS (
        |  SELECT s.i, SUM(CAST(ROUND(
        |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
        |    AS DECIMAL(28,6))) AS den
        |  FROM sym s JOIN p1 pi ON pi.i = s.i
        |    JOIN p1 pj ON pj.i = s.j
        |  GROUP BY 1),
        |p2 AS MATERIALIZED (
        |  SELECT t2.i, ROUND(CAST(tot.wins AS DOUBLE)
        |    / CAST(t2.den AS DOUBLE), 6) AS p
        |  FROM t2 JOIN tot USING (i)),
        |t3 AS (
        |  SELECT s.i, SUM(CAST(ROUND(
        |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
        |    AS DECIMAL(28,6))) AS den
        |  FROM sym s JOIN p2 pi ON pi.i = s.i
        |    JOIN p2 pj ON pj.i = s.j
        |  GROUP BY 1),
        |p3 AS MATERIALIZED (
        |  SELECT t3.i, ROUND(CAST(tot.wins AS DOUBLE)
        |    / CAST(t3.den AS DOUBLE), 6) AS p
        |  FROM t3 JOIN tot USING (i)),
        |sumr AS (
        |  SELECT SUM(CAST(p AS DECIMAL(18,6))) AS sp FROM p3)
        |SELECT p3.i AS player, tot.wins, tot.games, p3.p AS strength,
        |  ROUND(p3.p / CAST(sumr.sp AS DOUBLE), 6) AS share
        |FROM p3 JOIN tot USING (i), sumr""".stripMargin),

    // ---- A79: Dawid–Skene label aggregation — EM over three noisy
    // annotators of the documents' lang (annotator k flips to a
    // hash-picked other class at rate (2k+1)/10 — the j16
    // deterministic-dirtying discipline), jointly estimating each
    // annotator's confusion matrix and the posterior true label.
    // The multi-rater eval/RLHF companion to a78's pairwise BT. ----
    Query("a79_dawid_skene", "Dawid–Skene label aggregation",
      (s, dir) =>
        Analytics.dawidSkene(dsAnnotations(s, dir), "doc_id",
          "annotator", "label", rounds = 2),
      // Dawid–Skene items: the shared 2-round EM replay, then the
      // posterior argmax (ties to the lexicographically smallest class)
      dsOracle(
        """SELECT i AS doc_id, c AS ds_label,
          |  CAST(post AS DOUBLE) / 1000000 AS ds_posterior
          |FROM (SELECT i, c, post, row_number() OVER
          |        (PARTITION BY i ORDER BY post DESC, c) AS rn
          |      FROM p2)
          |WHERE rn = 1""".stripMargin)),

    // ---- A80: the SAME Dawid–Skene run's annotator-quality
    // readout: last-round confusion diagonal (rate annotator k
    // reports class c correctly) + smoothed class priors — the
    // rater audit that decides who keeps labeling. ----
    Query("a80_annotator_quality", "the SAME Dawid–Skene run's annotator-quality",
      (s, dir) =>
        Analytics.dawidSkeneQuality(dsAnnotations(s, dir), "doc_id",
          "annotator", "label", rounds = 2),
      // Dawid–Skene quality: the same run's last-round confusion
      // diagonal + smoothed priors
      dsOracle(
        """SELECT pi2.k AS annotator, pi2.c AS label,
          |  CAST(pi2.pi AS DOUBLE) / 1000000 AS diag_rate,
          |  CAST(pr2.prior AS DOUBLE) / 1000000 AS prior
          |FROM pi2 JOIN pr2 ON pr2.c = pi2.c
          |WHERE pi2.c = pi2.l""".stripMargin)),

    // ---- A81: pass@k (Chen et al. 2021) — the code-model eval
    // metric: 10 generated samples per task (task = doc block of
    // 10), each sample "passes its unit tests" on a portable-hash
    // coin whose rate varies by task (task t passes at
    // (t mod 9 + 1)/10 — tasks cover the whole 0.1..0.9 range, so
    // c = 0, c = n and the generic branch all occur in-corpus).
    // Exact falling-factorial arithmetic; the whole walk replays
    // in SQL. ----
    Query("a81_pass_at_k", "pass@k (Chen et al. 2021)",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("doc_id") >= 0)
        val samples = d.select(col("doc_id"),
            floor(col("doc_id") / 10).cast("long").as("task_id"))
          .withColumn("passed",
            pmod(graft.text.TextOps.portableHash(col("doc_id")),
              lit(10L)) < pmod(col("task_id"), lit(9L)) + 1)
        Analytics.passAtK(samples, "task_id", col("passed"),
          ks = Seq(1, 5, 10))
      },
      // pass@k: the same per-task (n, c) agg, then the falling-
      // factorial ratio written out with k literal factors — exact
      // integer products, one double ratio rounded 6 (n = 10 per task,
      // so every product sits far inside BIGINT)
      """WITH s AS (
        |  SELECT doc_id // 10 AS task_id,
        |    ((doc_id % 2147483647) * 2654435761) % 2147483647 % 10
        |      < (doc_id // 10) % 9 + 1 AS passed
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
        |t AS (
        |  SELECT task_id, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM s GROUP BY 1),
        |u AS (SELECT task_id, n, c, n - c AS m FROM t)
        |SELECT task_id, n AS n_samples, c AS n_correct,
        |  CASE WHEN n < 1 THEN NULL WHEN m < 1 THEN CAST(1.0 AS DOUBLE)
        |    ELSE ROUND(1 - CAST(m AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |  END AS pass_at_1,
        |  CASE WHEN n < 5 THEN NULL WHEN m < 5 THEN CAST(1.0 AS DOUBLE)
        |    ELSE ROUND(1 -
        |      CAST(m*(m-1)*(m-2)*(m-3)*(m-4) AS DOUBLE) /
        |      CAST(n*(n-1)*(n-2)*(n-3)*(n-4) AS DOUBLE), 6)
        |  END AS pass_at_5,
        |  CASE WHEN n < 10 THEN NULL WHEN m < 10 THEN CAST(1.0 AS DOUBLE)
        |    ELSE ROUND(1 -
        |      CAST(m*(m-1)*(m-2)*(m-3)*(m-4)*(m-5)*(m-6)*(m-7)*(m-8)*(m-9)
        |        AS DOUBLE) /
        |      CAST(n*(n-1)*(n-2)*(n-3)*(n-4)*(n-5)*(n-6)*(n-7)*(n-8)*(n-9)
        |        AS DOUBLE), 6)
        |  END AS pass_at_10
        |FROM u""".stripMargin),

    // ---- A77: Krippendorff's alpha — the a73 rater panel with
    // rater 3 skipping two docs in three (doc_id % 3 != 0): unequal
    // m per item, the case Fleiss NULLs and alpha is built for. ----
    Query("a77_krippendorff", "Krippendorff's alpha",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("n_chars").isNotNull)
        val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
        val tc = size(TextOps.tokens(col("text")))
        val long = d.select(col("doc_id"),
          when(col("n_chars") < 300, "short")
            .when(col("n_chars") < 500, "mid").otherwise("long")
            .as("r1"),
          when(ns < 250, "short").when(ns < 420, "mid")
            .otherwise("long").as("r2"),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            when(tc < 50, "short").when(tc < 80, "mid")
              .otherwise("long")).as("r3"))
          .selectExpr("doc_id", "stack(3, r1, r2, r3) AS rating")
        Quality.krippendorffAlpha(long, "doc_id", "rating")
      },
      // pairable units only (m ≥ 2); per-unit disagreement one rounded
      // chain summed exactly; D_o/D_e/α one fixed chain each
      s"""WITH $RaterStackCtes
        |  WHERE doc_id % 3 = 0),
        |cells AS (
        |  SELECT doc_id, rating, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |items AS (
        |  SELECT doc_id, SUM(n) AS m,
        |    SUM(CAST(n AS HUGEINT) * n) AS s2
        |  FROM cells GROUP BY 1 HAVING SUM(n) >= 2),
        |top AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_ratings,
        |    CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS ts
        |  FROM (SELECT m,
        |      CAST(ROUND(CAST(CAST(m AS HUGEINT) * m - s2 AS DOUBLE)
        |        / CAST(m - 1 AS DOUBLE), 6) AS DECIMAL(18,6)) AS t
        |    FROM items)),
        |ct AS (SELECT COALESCE(SUM(CAST(cn AS HUGEINT) * cn), 0)
        |    AS c2
        |  FROM (SELECT rating, SUM(n) AS cn
        |    FROM cells JOIN items USING (doc_id) GROUP BY rating)),
        |f AS (SELECT n_units, n_ratings,
        |    CAST(ts AS DOUBLE) / CAST(n_ratings AS DOUBLE) AS do_,
        |    CAST(CAST(n_ratings AS HUGEINT) * n_ratings - c2
        |      AS DOUBLE) /
        |    CAST(CAST(n_ratings AS HUGEINT) * (n_ratings - 1)
        |      AS DOUBLE) AS de_
        |  FROM top, ct)
        |SELECT n_units, n_ratings,
        |  CASE WHEN n_ratings > 0 THEN ROUND(do_, 6) END AS d_o,
        |  CASE WHEN n_ratings > 1 THEN ROUND(de_, 6) END AS d_e,
        |  CASE WHEN n_ratings > 1 AND de_ > 0.0 THEN
        |    ROUND(CAST(1.0 AS DOUBLE) - do_ / de_, 6)
        |  END AS alpha
        |FROM f""".stripMargin),

    // ---- A76: two-proportion power analysis — per-arm sample size
    // to detect a +2pp lift over the observed per-user purchase
    // rate; the planning twin of a20/a63. One conditional agg, one
    // ceil chain. ----
    Query("a76_power", "two-proportion power analysis",
      (s, dir) => {
        val per = t(s, dir, "events").groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1)
            .otherwise(0)).as("__conv"))
        Quality.powerSampleSize(per, col("__conv") === 1, mde = 0.02)
      },
      // exact counts; one double chain into ceil (engine-exact), the
      // z quantiles entering as the documented round-6 literals
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(COALESCE(SUM(conv), 0) AS BIGINT) AS cp
        |  FROM per),
        |c AS (
        |  SELECT n_obs,
        |    CAST(cp AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p1
        |  FROM m),
        |f AS (
        |  SELECT n_obs, p1, p1 + CAST(0.02 AS DOUBLE) AS p2,
        |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) *
        |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
        |      AS z2
        |  FROM c)
        |SELECT n_obs,
        |  CASE WHEN n_obs > 0 THEN ROUND(p1, 6) END AS p_baseline,
        |  CASE WHEN n_obs > 0 THEN ROUND(p2, 6) END AS p_target,
        |  CASE WHEN n_obs > 0 AND p2 > 0.0 AND p2 < 1.0 THEN
        |    CAST(ceil(z2 * (p1 * (CAST(1.0 AS DOUBLE) - p1)
        |      + p2 * (CAST(1.0 AS DOUBLE) - p2)) /
        |      (CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)))
        |      AS BIGINT)
        |  END AS n_per_arm,
        |  CASE WHEN n_obs > 0 AND p2 > 0.0 AND p2 < 1.0 THEN
        |    CAST(ceil(z2 * (p1 * (CAST(1.0 AS DOUBLE) - p1)
        |      + p2 * (CAST(1.0 AS DOUBLE) - p2)) /
        |      (CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)))
        |      AS BIGINT) * 2
        |  END AS total_n
        |FROM f""".stripMargin),

    // ---- A75: IPS/SNIPS off-policy replay — "what would the
    // even-users-get-purchase policy have scored on the logged
    // traffic?": empirical event-type shares as the stationary
    // logging propensities, matched rows reweighted 1/p, ESS
    // honesty dial beside both estimates. ----
    Query("a75_offpolicy", "IPS/SNIPS off-policy replay",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("value").isNotNull)
        val shares = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("__c"))
        val tot = shares.agg(sum(col("__c")).as("__n"))
        val withP = ev.join(broadcast(shares), Seq("event_type"))
          .crossJoin(broadcast(tot))
          .withColumn("__prop",
            col("__c").cast("double") / col("__n").cast("double"))
        Quality.offPolicyValue(withP, "event_type", "value", "__prop",
          when(pmod(col("user_id"), lit(2L)) === 0, "purchase")
            .otherwise("view"))
      },
      // empirical shares as propensities; per-row w/wr/w² one rounded
      // chain each, exact decimal sums, one division per estimate
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS r, user_id
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |sh AS (SELECT event_type, COUNT(*) AS c FROM ev GROUP BY 1),
        |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sh),
        |src AS (
        |  SELECT ev.event_type AS a, ev.r,
        |    CAST(sh.c AS DOUBLE) / CAST(tt.n AS DOUBLE) AS p,
        |    CASE WHEN ev.user_id % 2 = 0 THEN 'purchase'
        |         ELSE 'view' END AS t
        |  FROM ev JOIN sh USING (event_type), tt),
        |terms AS (
        |  SELECT CASE WHEN a = t THEN 1 ELSE 0 END AS m,
        |    CAST(ROUND(CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END, 6) AS DECIMAL(18,6)) AS w,
        |    CAST(ROUND((CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END) * r, 6) AS DECIMAL(18,6)) AS wr,
        |    CAST(ROUND((CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END) * (CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END), 6) AS DECIMAL(18,6)) AS w2
        |  FROM src),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_matched,
        |    CAST(COALESCE(SUM(w), 0) AS DECIMAL(38,6)) AS sw,
        |    CAST(COALESCE(SUM(wr), 0) AS DECIMAL(38,6)) AS swr,
        |    CAST(COALESCE(SUM(w2), 0) AS DECIMAL(38,6)) AS sw2
        |  FROM terms)
        |SELECT n, n_matched,
        |  CASE WHEN n > 0 THEN ROUND(CAST(n_matched AS DOUBLE) /
        |    CAST(n AS DOUBLE), 6) END AS match_rate,
        |  CASE WHEN n > 0 THEN ROUND(CAST(swr AS DOUBLE) /
        |    CAST(n AS DOUBLE), 6) END AS ips_value,
        |  CASE WHEN sw > 0 THEN ROUND(CAST(swr AS DOUBLE) /
        |    CAST(sw AS DOUBLE), 6) END AS snips_value,
        |  CASE WHEN sw2 > 0 THEN ROUND(CAST(sw AS DOUBLE) *
        |    CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6) END AS ess
        |FROM agg""".stripMargin),

    // ---- A73: Fleiss' kappa — three deterministic length-band
    // "raters" (n_chars, space-stripped chars, token count) on every
    // document: the multi-rater agreement gate beside a45's two-
    // rater Cohen. Exact Σn² / Σc² moments, one chain each. ----
    Query("a73_fleiss", "Fleiss' kappa",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("n_chars").isNotNull)
        val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
        val tc = size(TextOps.tokens(col("text")))
        val long = d.select(col("doc_id"),
          when(col("n_chars") < 300, "short")
            .when(col("n_chars") < 500, "mid").otherwise("long")
            .as("r1"),
          when(ns < 250, "short").when(ns < 420, "mid")
            .otherwise("long").as("r2"),
          when(tc < 50, "short").when(tc < 80, "mid")
            .otherwise("long").as("r3"))
          .selectExpr("doc_id", "stack(3, r1, r2, r3) AS rating")
        Quality.fleissKappa(long, "doc_id", "rating")
      },
      // exact HUGEINT Σn²/Σc² moments off the stacked rater frame;
      // P̄/P̄e/κ one fixed double chain each
      s"""WITH $RaterStackCtes),
        |cells AS (
        |  SELECT doc_id, rating, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |it AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    MIN(m) AS mmin, MAX(m) AS mmax, SUM(s2i) AS s2
        |  FROM (SELECT doc_id, SUM(n) AS m,
        |      SUM(CAST(n AS HUGEINT) * n) AS s2i
        |    FROM cells GROUP BY 1)),
        |ct AS (SELECT SUM(CAST(cj AS HUGEINT) * cj) AS cj2
        |  FROM (SELECT rating, SUM(n) AS cj FROM cells GROUP BY 1)),
        |f AS (SELECT n_items, mmin, CAST(mmax AS BIGINT) AS m_raters,
        |    CAST(n_items AS HUGEINT) * mmax AS nm, s2, cj2
        |  FROM it, ct),
        |c AS (SELECT n_items, m_raters, mmin,
        |    (CAST(s2 AS DOUBLE) - CAST(nm AS DOUBLE)) /
        |      (CAST(nm AS DOUBLE) * CAST(m_raters - 1 AS DOUBLE))
        |      AS pbar,
        |    CAST(cj2 AS DOUBLE) / CAST(nm * nm AS DOUBLE) AS pe
        |  FROM f)
        |SELECT n_items, m_raters,
        |  ROUND(pbar, 6) AS p_bar, ROUND(pe, 6) AS p_e,
        |  CASE WHEN mmin = m_raters AND m_raters >= 2 AND pe <> 1.0
        |    THEN ROUND((pbar - pe) / (CAST(1.0 AS DOUBLE) - pe), 6)
        |  END AS kappa
        |FROM c""".stripMargin),

    // ---- A74: Chapman capture–recapture — two overlapping "crawls"
    // (doc_id mod-10 slices sharing 2/10) estimate the TRUE corpus
    // size and each crawl's coverage; the unseen-DOCUMENTS audit
    // beside t_vocab_coverage's unseen-vocabulary one. ----
    Query("a74_capture", "Chapman capture–recapture",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Quality.captureRecapture(
          d.filter(pmod(col("doc_id"), lit(10L)) < 6),
          d.filter(pmod(col("doc_id"), lit(10L)) >= 4), "doc_id")
      },
      // exact counts; Chapman/Lincoln/coverage one chain each
      """WITH a AS (SELECT DISTINCT doc_id FROM documents
        |  WHERE doc_id % 10 < 6),
        |b AS (SELECT DISTINCT doc_id FROM documents
        |  WHERE doc_id % 10 >= 4),
        |m AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |     FROM a JOIN b USING (doc_id)) AS m_overlap),
        |c AS (SELECT n_a, n_b, m_overlap,
        |  CAST(CAST(n_a + 1 AS HUGEINT) * (n_b + 1) AS DOUBLE) /
        |    CAST(m_overlap + 1 AS DOUBLE) - CAST(1.0 AS DOUBLE)
        |    AS chap
        |  FROM m)
        |SELECT n_a, n_b, m_overlap, ROUND(chap, 6) AS chapman_n,
        |  CASE WHEN m_overlap > 0 THEN
        |    ROUND(CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) /
        |      CAST(m_overlap AS DOUBLE), 6) END AS lincoln_n,
        |  CASE WHEN chap > 0 THEN
        |    ROUND(CAST(n_a AS DOUBLE) / chap, 6) END AS coverage_a,
        |  CASE WHEN chap > 0 THEN
        |    ROUND(CAST(n_b AS DOUBLE) / chap, 6) END AS coverage_b
        |FROM c""".stripMargin),

    // ---- A65: Brier score + Murphy decomposition — the headline
    // probabilistic-forecast number beside a41/a42's calibration
    // surface: reliability − resolution + uncertainty on the same
    // score frame. ----
    Query("a65_brier", "Brier score + Murphy decomposition",
      (s, dir) =>
        Quality.brierDecomposition(
          t(s, dir, "events").withColumn("score",
            least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
          "score", col("event_type") === "purchase"),
      // exact HUGEINT (p_mu - y*1e6)^2 global sum; per-bin rel/res
      // terms rounded once then summed exactly in decimal
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu,
        |    CASE WHEN p THEN 1 ELSE 0 END AS y
        |  FROM s),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS pos,
        |    SUM(CAST(mu - y * 1000000 AS HUGEINT)
        |      * (mu - y * 1000000)) AS sq
        |  FROM b),
        |pb AS (
        |  SELECT bin, COUNT(*) AS nk, SUM(mu) AS sk, SUM(y) AS pk
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT
        |    SUM(CAST(ROUND(
        |      CAST(CAST(sk - pk * 1000000 AS HUGEINT)
        |        * (sk - pk * 1000000) AS DOUBLE)
        |      / CAST(nk AS DOUBLE) / CAST(g.n AS DOUBLE) / 1e12, 6)
        |      AS DECIMAL(18,6))) AS rels,
        |    SUM(CAST(ROUND(CAST(nk AS DOUBLE) *
        |      (CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
        |        - CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE)) *
        |      (CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
        |        - CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE))
        |      / CAST(g.n AS DOUBLE), 6) AS DECIMAL(18,6))) AS ress
        |  FROM pb, g)
        |SELECT g.n,
        |  ROUND(CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE), 6)
        |    AS base_rate,
        |  ROUND(CAST(g.sq AS DOUBLE) / CAST(g.n AS DOUBLE) / 1e12, 6)
        |    AS brier,
        |  CAST(t.rels AS DOUBLE) AS reliability,
        |  CAST(t.ress AS DOUBLE) AS resolution,
        |  ROUND((CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE))
        |    * (1.0 - CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE)), 6)
        |    AS uncertainty
        |FROM g, t""".stripMargin),

    Query("a41_calibration", "reliability (calibration) bins of a score",
      (s, dir) =>
        Quality.calibrationBins(
          t(s, dir, "events").withColumn("score",
            least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
          "score", col("event_type") === "purchase"),
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu, p
        |  FROM s)
        |SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(mu) // COUNT(*) AS BIGINT) AS conf_micros,
        |  CAST((SUM(CASE WHEN p THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS acc_micros
        |FROM b GROUP BY bin""".stripMargin),

    Query("a42_ece", "expected calibration error of a score",
      (s, dir) =>
        Quality.expectedCalibrationError(
          t(s, dir, "events").withColumn("score",
            least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
          "score", col("event_type") === "purchase"),
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu, p
        |  FROM s),
        |g AS (
        |  SELECT bin, COUNT(*) AS n, SUM(mu) AS smu,
        |    SUM(CASE WHEN p THEN 1 ELSE 0 END) AS pos
        |  FROM b GROUP BY bin)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(abs(pos * 1000000 - smu)) // SUM(n) AS BIGINT)
        |    AS ece_micros
        |FROM g""".stripMargin),

    // ---- A43: Benjamini–Hochberg FDR gate over a mixed hypothesis
    // frame — two real screens unioned: per-event-type value-tercile
    // uniformity (strong effect: values are nowhere near uniform on
    // [0,100] cuts) and per-lang doc-length homogeneity vs the pooled
    // corpus (null true: langs share the length distribution). BH
    // must keep exactly the first family. p = exp(−χ²/2) is the EXACT
    // df=2 survival function; the decision is pure integer micro-unit
    // arithmetic. ----
    Query("a43_bh_fdr", "Benjamini–Hochberg FDR gate over a mixed hypothesis",
      (s, dir) => {
        val h1 = Quality.chiSquareGofByGroup(
          t(s, dir, "events")
            .filter(col("value").isNotNull && col("event_type").isNotNull)
            .select(concat(lit("type:"), col("event_type")).as("hyp"),
              when(col("value") < 33.333333, 0)
                .when(col("value") < 66.666667, 1).otherwise(2).as("bk")),
          "hyp", "bk")
        val h2 = Quality.chiSquareGofByGroup(
          t(s, dir, "documents")
            .filter(col("n_chars").isNotNull && col("lang").isNotNull)
            .select(concat(lit("lang:"), col("lang")).as("hyp"),
              when(col("n_chars") < 300, 0)
                .when(col("n_chars") < 500, 1).otherwise(2).as("bk")),
          "hyp", "bk", pooled = true)
        Quality.bhFdr(
          h1.unionByName(h2).withColumn("p",
            round(exp(-col("chi2") / 2), 6)),
          "p", q = 0.05)
      },
      // both chi2 screens replayed with round-6 decimal contribution
      // sums; p = exp(-chi2/2) (exact df=2 survival); BH step-up on
      // exact micro-unit integers
      """WITH e1 AS (
        |  SELECT 'type:' || event_type AS hyp,
        |    CASE WHEN CAST(value AS DOUBLE) < 33.333333 THEN 0
        |         WHEN CAST(value AS DOUBLE) < 66.666667 THEN 1
        |         ELSE 2 END AS bk
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |o1 AS (SELECT hyp, bk, count(*) AS o FROM e1 GROUP BY 1, 2),
        |c1 AS (
        |  SELECT g.hyp, b.bk, coalesce(o1.o, 0) AS o
        |  FROM (SELECT DISTINCT hyp FROM o1) g
        |  CROSS JOIN (SELECT DISTINCT bk FROM o1) b
        |  LEFT JOIN o1 ON o1.hyp = g.hyp AND o1.bk = b.bk),
        |k1 AS (SELECT CAST(count(DISTINCT bk) AS INT) AS k FROM o1),
        |n1 AS (SELECT hyp, SUM(o) AS n FROM c1 GROUP BY 1),
        |h1 AS (
        |  SELECT c1.hyp, n1.n, k1.k - 1 AS dof,
        |    ROUND(CAST(SUM(CAST(ROUND(
        |      (CAST(o AS DOUBLE) - CAST(n1.n AS DOUBLE)/k1.k)
        |      * (CAST(o AS DOUBLE) - CAST(n1.n AS DOUBLE)/k1.k)
        |        / (CAST(n1.n AS DOUBLE)/k1.k), 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS chi2
        |  FROM c1, k1, n1 WHERE n1.hyp = c1.hyp
        |  GROUP BY c1.hyp, n1.n, k1.k),
        |e2 AS (
        |  SELECT 'lang:' || lang AS hyp,
        |    CASE WHEN n_chars < 300 THEN 0
        |         WHEN n_chars < 500 THEN 1 ELSE 2 END AS bk
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |o2 AS (SELECT hyp, bk, count(*) AS o FROM e2 GROUP BY 1, 2),
        |c2 AS (
        |  SELECT g.hyp, b.bk, coalesce(o2.o, 0) AS o
        |  FROM (SELECT DISTINCT hyp FROM o2) g
        |  CROSS JOIN (SELECT DISTINCT bk FROM o2) b
        |  LEFT JOIN o2 ON o2.hyp = g.hyp AND o2.bk = b.bk),
        |k2 AS (SELECT CAST(count(DISTINCT bk) AS INT) AS k FROM o2),
        |g2 AS (SELECT bk, SUM(o) AS gb FROM o2 GROUP BY 1),
        |t2 AS (SELECT SUM(o) AS tn FROM o2),
        |n2 AS (SELECT hyp, SUM(o) AS n FROM c2 GROUP BY 1),
        |h2 AS (
        |  SELECT c2.hyp, n2.n, k2.k - 1 AS dof,
        |    ROUND(CAST(SUM(CAST(ROUND(
        |      (CAST(o AS DOUBLE) - CAST(n2.n AS DOUBLE)*g2.gb/t2.tn)
        |      * (CAST(o AS DOUBLE) - CAST(n2.n AS DOUBLE)*g2.gb/t2.tn)
        |        / (CAST(n2.n AS DOUBLE)*g2.gb/t2.tn), 6)
        |      AS DECIMAL(28,6))) AS DOUBLE), 6) AS chi2
        |  FROM c2, k2, t2, n2, g2
        |  WHERE n2.hyp = c2.hyp AND g2.bk = c2.bk
        |  GROUP BY c2.hyp, n2.n, k2.k),
        |hyps AS (
        |  SELECT hyp, CAST(n AS BIGINT) AS n, CAST(dof AS INT) AS dof,
        |    chi2, ROUND(exp(-chi2/2), 6) AS p
        |  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)),
        |pm AS (
        |  SELECT hyps.*,
        |    CAST(CAST(ROUND(p, 6) AS DECIMAL(18,6)) * 1000000
        |      AS BIGINT) AS pmu
        |  FROM hyps),
        |rk AS (
        |  SELECT pm.*, row_number() OVER (ORDER BY pmu) AS i,
        |    count(*) OVER () AS m
        |  FROM pm),
        |cut AS (
        |  SELECT MAX(pmu) AS c FROM rk WHERE pmu * m <= i * 50000)
        |SELECT hyp, n, dof, chi2, p FROM pm, cut
        |WHERE pm.pmu <= cut.c""".stripMargin),

    // ---- A44: 2-D Pareto frontier (skyline) of parts — the
    // size × retailprice trade-off curve; distinct-x agg then one
    // window over the distinct-x frame, never corpus-row windows. ----
    Query("a44_pareto", "2-D Pareto frontier (skyline) of parts",
      (s, dir) =>
        ops.Analytics.paretoFrontier(
          t(s, dir, "part").select(col("p_size"),
            col("p_retailprice").cast("double").as("price")),
          "p_size", "price"),
      // frontier = distinct-x max-y rows not dominated by any
      // strictly-larger-x row (the NOT EXISTS definition, verbatim)
      """WITH pts AS (
        |  SELECT p_size, CAST(p_retailprice AS DOUBLE) AS price
        |  FROM part
        |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL),
        |m AS (SELECT p_size, MAX(price) AS price FROM pts GROUP BY 1)
        |SELECT p_size, price FROM m a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m b
        |  WHERE b.p_size > a.p_size AND b.price >= a.price)""".stripMargin),

    // ---- A45: Cohen's kappa — chance-corrected agreement between
    // the declared length tercile (n_chars) and a whitespace-free
    // length tercile re-derived from the text; exact integer
    // (A·N − S)/(N² − S), one double division. ----
    Query("a45_kappa", "Cohen's kappa",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("n_chars").isNotNull && col("text").isNotNull)
        val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
        Quality.cohenKappa(
          d.select(
            when(col("n_chars") < 300, "short")
              .when(col("n_chars") < 500, "mid").otherwise("long")
              .as("r1"),
            when(ns < 250, "short").when(ns < 420, "mid")
              .otherwise("long").as("r2")),
          "r1", "r2")
      },
      // the exact-integer kappa: S from cells-frame marginals joined on
      // the shared label, one double division at the end
      """WITH r AS (
        |  SELECT
        |    CASE WHEN n_chars < 300 THEN 'short'
        |         WHEN n_chars < 500 THEN 'mid' ELSE 'long' END AS a,
        |    CASE WHEN length(regexp_replace(text, ' ', '', 'g')) < 250
        |           THEN 'short'
        |         WHEN length(regexp_replace(text, ' ', '', 'g')) < 420
        |           THEN 'mid' ELSE 'long' END AS b
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT a, b, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |rt AS (SELECT a AS k, SUM(c) AS r FROM c GROUP BY 1),
        |ct AS (SELECT b AS k, SUM(c) AS ct FROM c GROUP BY 1),
        |s AS (
        |  SELECT COALESCE(SUM(rt.r * ct.ct), 0) AS s
        |  FROM rt JOIN ct ON rt.k = ct.k),
        |t AS (
        |  SELECT SUM(c) AS n,
        |    SUM(CASE WHEN a = b THEN c ELSE 0 END) AS agree
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
        |  CASE WHEN n * n <> s THEN
        |    ROUND(CAST(agree * n - s AS DOUBLE)
        |      / CAST(n * n - s AS DOUBLE), 6) END AS kappa
        |FROM t, s""".stripMargin),

    // ---- A46: Gini concentration of corpus mass over sources — the
    // data-mixture audit number; tie blocks contribute their rank-sum
    // in closed form over the distinct-total frame, strict-below
    // prefix via the bucketed hierarchy, one double division. ----
    Query("a46_gini", "Gini concentration of corpus mass over sources",
      (s, dir) =>
        ops.Analytics.giniConcentration(t(s, dir, "documents"),
          Seq("source"), "n_chars"),
      // rank-based replay: ROW_NUMBER ties order arbitrarily but the
      // rank-sum over a tie block is order-invariant, so SUM(i*x)
      // equals the closed-form tie-block arithmetic exactly
      """WITH u AS (
        |  SELECT source,
        |    CAST(SUM(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
        |      AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS x
        |  FROM documents WHERE n_chars IS NOT NULL
        |  GROUP BY source),
        |nn AS (SELECT COUNT(*) AS nneg FROM u WHERE x < 0),
        |p AS (
        |  SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS i
        |  FROM u WHERE x >= 0),
        |t AS (
        |  SELECT COUNT(*) AS n, COALESCE(SUM(x), 0) AS tt,
        |    COALESCE(SUM(i * x), 0) AS s
        |  FROM p)
        |SELECT CAST(n AS BIGINT) AS n_units,
        |  CAST(nneg AS BIGINT) AS n_negative_excluded,
        |  CAST(tt AS BIGINT) AS total_micros,
        |  CASE WHEN n > 0 AND tt > 0 THEN
        |    ROUND(CAST(2 * s - (n + 1) * tt AS DOUBLE)
        |      / CAST(n * tt AS DOUBLE), 6) END AS gini
        |FROM t, nn""".stripMargin),

    // ---- A47: Spearman rank correlation between declared length and
    // whitespace mass — monotone association on DOUBLED average ranks
    // (whole longs), exact decimal moment sums, one double
    // sqrt/division. ----
    Query("a47_spearman", "Spearman rank correlation between declared length and",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("n_chars").isNotNull)
        Quality.spearmanCorr(
          d.select(col("n_chars").cast("double").as("x"),
            (length(col("text")) -
              length(regexp_replace(col("text"), lit(" "), lit(""))))
              .cast("double").as("y")),
          "x", "y")
      },
      // doubled average ranks via RANK + tie-block count (2·below+c+1);
      // HUGEINT moment sums, one double sqrt/division
      """WITH s AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x,
        |    CAST(length(text) -
        |      length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) AS y
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (
        |  SELECT 2 * RANK() OVER (ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
        |    2 * RANK() OVER (ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
        |  FROM s),
        |t AS (
        |  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
        |    SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx,
        |    SUM(ry * ry) AS syy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx > 0
        |        AND n * syy - sy * sy > 0 THEN
        |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS rho
        |FROM t""".stripMargin),

    // ---- A48: average precision (PR-AUC, step estimator) of value
    // as a purchase ranker — per-threshold rationals pinned to the
    // pico grid by truncating integer division (no double sums); the
    // rare-positive companion to a40's ROC-AUC. ----
    Query("a48_avg_precision", "average precision (PR-AUC, step estimator) of value",
      (s, dir) =>
        Quality.averagePrecision(t(s, dir, "events"), "value",
          col("event_type") === "purchase"),
      // pico-grid truncating terms over the descending-threshold
      // cumulatives; HUGEINT // replays Spark's decimal div exactly
      """WITH s AS (
        |  SELECT CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT mu, SUM(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |    COUNT(*) AS ct
        |  FROM s GROUP BY mu),
        |cum AS (
        |  SELECT cp,
        |    SUM(cp) OVER (ORDER BY mu DESC) AS cumpos,
        |    SUM(ct) OVER (ORDER BY mu DESC) AS cumtot
        |  FROM c),
        |t AS (SELECT COALESCE(SUM(cp), 0) AS np,
        |  COALESCE(SUM(ct), 0) AS nt FROM c),
        |term AS (
        |  SELECT (cp * cumpos * CAST(1000000000000 AS HUGEINT))
        |    // (t.np * cumtot) AS pico
        |  FROM cum, t WHERE t.np > 0 AND cp > 0)
        |SELECT CAST(t.np AS BIGINT) AS n_pos,
        |  CAST(t.nt - t.np AS BIGINT) AS n_neg,
        |  CASE WHEN t.np > 0 THEN
        |    ROUND(CAST((SELECT COALESCE(SUM(pico), 0) FROM term)
        |      AS DOUBLE) / 1e12, 6) END AS ap
        |FROM t""".stripMargin),

    // ---- A49: split-conformal (1−α) threshold per event_type —
    // k = ceil((n+1)(1−α)) in exact micro-unit integers, q̂ found by
    // prefix counts (never a per-group sort); α = 0.1. ----
    Query("a49_conformal", "split-conformal (1−α) threshold per event_type —",
      (s, dir) =>
        Quality.conformalThreshold(
          t(s, dir, "events").filter(col("event_type").isNotNull),
          "value", Seq("event_type"), alphaMicros = 100000L),
      // the k-th order statistic as "first cumulative >= k"; k in exact
      // micro-unit integers, groups too small for alpha keep k, null qhat
      """WITH s AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT g, mu, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, mu,
        |    SUM(c) OVER (PARTITION BY g ORDER BY mu) AS cum
        |  FROM c),
        |n AS (
        |  SELECT g, SUM(c) AS n,
        |    ((SUM(c) + 1) * 900000 + 999999) // 1000000 AS k
        |  FROM c GROUP BY 1),
        |q AS (
        |  SELECT cum.g, MIN(mu) AS qhat_micros
        |  FROM cum JOIN n ON n.g = cum.g
        |  WHERE cum.cum >= n.k GROUP BY 1)
        |SELECT n.g AS event_type, CAST(n.n AS BIGINT) AS n,
        |  CAST(n.k AS BIGINT) AS k, q.qhat_micros
        |FROM n LEFT JOIN q ON q.g = n.g""".stripMargin),

    // ---- A50: per-lang fairness audit of a length-based keep gate —
    // does "whitespace-free length ≥ 330" select different langs at
    // different rates vs the declared n_chars ≥ 400 label? Confusion
    // counts + selection/TPR/FPR/PPV and the demographic-parity gap,
    // nulls (never 0) for undefined rates. ----
    Query("a50_fairness", "per-lang fairness audit of a length-based keep gate —",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Quality.groupFairness(
          d.filter(col("n_chars").isNotNull && col("text").isNotNull),
          "lang", col("n_chars") >= 400,
          length(regexp_replace(col("text"), lit(" "), lit(""))) >= 330)
      },
      // confusion counts per lang; each rate one round-6 double
      // division over exact longs; zero denominators stay NULL
      """WITH s AS (
        |  SELECT lang, n_chars >= 400 AS y,
        |    length(regexp_replace(text, ' ', '', 'g')) >= 330 AS h
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |    AND text IS NOT NULL),
        |c AS (
        |  SELECT lang, COUNT(*) AS n,
        |    SUM(CASE WHEN y AND h THEN 1 ELSE 0 END) AS tp,
        |    SUM(CASE WHEN NOT y AND h THEN 1 ELSE 0 END) AS fp,
        |    SUM(CASE WHEN y AND NOT h THEN 1 ELSE 0 END) AS fn,
        |    SUM(CASE WHEN NOT y AND NOT h THEN 1 ELSE 0 END) AS tn
        |  FROM s GROUP BY 1),
        |o AS (SELECT SUM(tp + fp) AS selall, SUM(n) AS nall FROM c)
        |SELECT lang, CAST(n AS BIGINT) AS n, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |  CAST(tn AS BIGINT) AS tn,
        |  CASE WHEN n > 0 THEN ROUND(CAST(tp + fp AS DOUBLE)
        |    / CAST(n AS DOUBLE), 6) END AS selection_rate,
        |  CASE WHEN tp + fn > 0 THEN ROUND(CAST(tp AS DOUBLE)
        |    / CAST(tp + fn AS DOUBLE), 6) END AS tpr,
        |  CASE WHEN fp + tn > 0 THEN ROUND(CAST(fp AS DOUBLE)
        |    / CAST(fp + tn AS DOUBLE), 6) END AS fpr,
        |  CASE WHEN tp + fp > 0 THEN ROUND(CAST(tp AS DOUBLE)
        |    / CAST(tp + fp AS DOUBLE), 6) END AS ppv,
        |  CASE WHEN n > 0 AND o.nall > 0 THEN
        |    ROUND(CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(o.selall AS DOUBLE) / CAST(o.nall AS DOUBLE), 6)
        |  END AS dp_gap
        |FROM c, o""".stripMargin),

    // ---- A51: KMV set-operation sketch — month-half user overlap
    // estimated from two 256-hash sketches alone (union, Jaccard,
    // intersection — the set algebra HLL cannot do), exact
    // intersection riding along as the audit. ----
    Query("a51_kmv", "KMV set-operation sketch",
      (s, dir) => {
        val e = t(s, dir, "events")
        ops.Sketches.kmvOverlap(
          e.filter(dayofmonth(col("ts")) <= 15),
          e.filter(dayofmonth(col("ts")) > 15),
          "user_id", k = 256)
      },
      // both 256-hash sketches, the union sketch, and every estimate
      // replayed hash-for-hash (the a37 mixer fold + ORDER BY/LIMIT)
      """WITH ea AS (
        |  SELECT user_id FROM events
        |  WHERE user_id IS NOT NULL AND EXTRACT(day FROM ts) <= 15),
        |eb AS (
        |  SELECT user_id FROM events
        |  WHERE user_id IS NOT NULL AND EXTRACT(day FROM ts) > 15),
        |ma AS (
        |  SELECT (b & 2147483647) * 2654435761 AS c FROM (
        |    SELECT xor(a, a >> 31) AS b FROM (
        |      SELECT (((user_id % 2147483648) + 2147483648)
        |        % 2147483648) * 2654435761 AS a FROM ea))),
        |hha AS (
        |  SELECT DISTINCT (((xor(c, c >> 31) % 2147483648)
        |    + 2147483648) % 2147483648) + 1 AS h FROM ma),
        |mb AS (
        |  SELECT (b & 2147483647) * 2654435761 AS c FROM (
        |    SELECT xor(a, a >> 31) AS b FROM (
        |      SELECT (((user_id % 2147483648) + 2147483648)
        |        % 2147483648) * 2654435761 AS a FROM eb))),
        |hhb AS (
        |  SELECT DISTINCT (((xor(c, c >> 31) % 2147483648)
        |    + 2147483648) % 2147483648) + 1 AS h FROM mb),
        |ska AS (SELECT h FROM hha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hhb ORDER BY h LIMIT 256),
        |sku AS (
        |  SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
        |  ORDER BY h LIMIT 256),
        |ta AS (SELECT COUNT(*) AS ka, MAX(h) AS thra FROM ska),
        |tb AS (SELECT COUNT(*) AS kb, MAX(h) AS thrb FROM skb),
        |tu AS (SELECT COUNT(*) AS ku, MAX(h) AS thru FROM sku),
        |ti AS (
        |  SELECT COUNT(*) AS i
        |  FROM ska JOIN skb USING (h) CROSS JOIN tu
        |  WHERE ska.h <= tu.thru),
        |xi AS (
        |  SELECT COUNT(*) AS exact_intersection FROM
        |    (SELECT DISTINCT user_id FROM ea) da
        |    JOIN (SELECT DISTINCT user_id FROM eb) db
        |    USING (user_id)),
        |est AS (
        |  SELECT
        |    CASE WHEN ka < 256 THEN CAST(ka AS DOUBLE)
        |      ELSE ROUND(255.0 * 2147483648.0
        |        / CAST(thra AS DOUBLE), 6) END AS est_a,
        |    CASE WHEN kb < 256 THEN CAST(kb AS DOUBLE)
        |      ELSE ROUND(255.0 * 2147483648.0
        |        / CAST(thrb AS DOUBLE), 6) END AS est_b,
        |    CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
        |      ELSE ROUND(255.0 * 2147483648.0
        |        / CAST(thru AS DOUBLE), 6) END AS est_union,
        |    CASE WHEN ku > 0 THEN
        |      ROUND(CAST(i AS DOUBLE) / CAST(ku AS DOUBLE), 6)
        |    END AS jaccard_est, ku, i
        |  FROM ta, tb, tu, ti)
        |SELECT CAST(256 AS BIGINT) AS k, est_a, est_b, est_union,
        |  jaccard_est,
        |  CASE WHEN ku > 0 THEN
        |    ROUND(ROUND(CAST(i AS DOUBLE) / CAST(ku AS DOUBLE), 6)
        |      * est_union, 6) END AS est_intersection,
        |  CAST(exact_intersection AS BIGINT) AS exact_intersection
        |FROM est, xi""".stripMargin),

    // ---- A53: isotonic (PAV) recalibration of the a41 surface —
    // the sequential pool-adjacent-violators fit computed by its
    // relational closed form max_{j≤i} min_{k≥i} mean(j..k) over the
    // bins-range frame, truncating micro-unit range means. ----
    Query("a53_isotonic", "isotonic (PAV) recalibration of the a41 surface —",
      (s, dir) =>
        Quality.isotonicCalibration(
          t(s, dir, "events").withColumn("score",
            least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
          "score", col("event_type") === "purchase"),
      // the PAV closed form on the bins-range frame; truncating //
      // range means mirror Spark's decimal div on the micro grid
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin, p
        |  FROM s),
        |g AS (
        |  SELECT bin, COUNT(*) AS n,
        |    SUM(CASE WHEN p THEN 1 ELSE 0 END) AS pos
        |  FROM b GROUP BY 1),
        |pfx AS (
        |  SELECT bin, n, pos, SUM(pos) OVER (ORDER BY bin) AS cp,
        |    SUM(n) OVER (ORDER BY bin) AS cn
        |  FROM g),
        |lo AS (SELECT bin AS j, cp - pos AS pj, cn - n AS nj FROM pfx),
        |hi AS (SELECT bin AS k, cp AS pk, cn AS nk FROM pfx),
        |r AS (
        |  SELECT j, k, ((pk - pj) * 1000000) // (nk - nj) AS m
        |  FROM lo JOIN hi ON j <= k),
        |mi AS (
        |  SELECT g.bin AS i, r.j, MIN(r.m) AS mn
        |  FROM g JOIN r ON r.j <= g.bin AND r.k >= g.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT i AS bin, MAX(mn) AS iso_micros FROM mi
        |  GROUP BY 1)
        |SELECT g.bin, CAST(g.n AS BIGINT) AS n,
        |  CAST(g.pos AS BIGINT) AS pos,
        |  CAST((g.pos * 1000000) // g.n AS BIGINT) AS raw_micros,
        |  CAST(iso.iso_micros AS BIGINT) AS iso_micros
        |FROM g JOIN iso ON iso.bin = g.bin""".stripMargin),

    // ---- A58: temperature-scaled sampling mixture over document
    // sources — the multilingual up-sampling recipe (α = 0.3):
    // round-6 n^α terms into an exact decimal denominator, per-source
    // raw/temperature shares and the sampler's multiplier. ----
    Query("a58_temperature_mix", "temperature-scaled sampling mixture over document",
      (s, dir) =>
        ops.Analytics.temperatureMix(t(s, dir, "documents"),
          Seq("source"), alphaMicros = 300000L),
      // round-6 POWER terms into an exact decimal denominator; every
      // share a single double division rounded once
      """WITH g AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(ROUND(POWER(CAST(COUNT(*) AS DOUBLE), 0.3), 6)
        |      AS DECIMAL(18,6)) AS t
        |  FROM documents WHERE source IS NOT NULL
        |  GROUP BY source),
        |o AS (
        |  SELECT SUM(n) AS nt,
        |    CAST(SUM(t) AS DECIMAL(28,6)) AS tt
        |  FROM g)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS p_raw,
        |  ROUND(CAST(t AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS p_temp,
        |  ROUND((CAST(t AS DOUBLE) / CAST(tt AS DOUBLE))
        |    / (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
        |    AS weight_multiplier
        |FROM g, o""".stripMargin),

    // ---- A64: difference-in-differences — even/odd users as
    // treatment/control arms, first-half vs second-half month as
    // pre/post: the control trend differences out the common time
    // shock. Four exact-moment cells, rounded double chains. ----
    Query("a64_did", "difference-in-differences",
      (s, dir) =>
        ops.Quality.diffInDiff(t(s, dir, "events"), "value",
          col("user_id") % 2 === 0, dayofmonth(col("ts")) > 15),
      // four exact-moment cells in one conditional agg; every derived
      // statistic one fixed-order rounded chain
      """WITH s AS (
        |  SELECT user_id % 2 = 0 AS t, day(ts) > 15 AS p,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
        |    SUM(CASE WHEN t AND NOT p THEN v ELSE 0 END) AS s_tpre,
        |    SUM(CASE WHEN t AND NOT p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_tpre,
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
        |    SUM(CASE WHEN t AND p THEN v ELSE 0 END) AS s_tpost,
        |    SUM(CASE WHEN t AND p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_tpost,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
        |    SUM(CASE WHEN NOT t AND NOT p THEN v ELSE 0 END) AS s_cpre,
        |    SUM(CASE WHEN NOT t AND NOT p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_cpre,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
        |    SUM(CASE WHEN NOT t AND p THEN v ELSE 0 END) AS s_cpost,
        |    SUM(CASE WHEN NOT t AND p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_cpost
        |  FROM s),
        |m AS (
        |  SELECT *,
        |    n_tpre = 0 OR n_tpost = 0 OR n_cpre = 0 OR n_cpost = 0
        |      AS hole,
        |    n_tpre + n_tpost + n_cpre + n_cpost AS ntot
        |  FROM c),
        |o AS (
        |  SELECT n_tpre AS n_t_pre, n_tpost AS n_t_post,
        |    n_cpre AS n_c_pre, n_cpost AS n_c_post,
        |    CASE WHEN n_tpre > 0 THEN ROUND(CAST(s_tpre AS DOUBLE)
        |      / CAST(n_tpre AS DOUBLE) / 1000000.0, 6) END AS mean_t_pre,
        |    CASE WHEN n_tpost > 0 THEN ROUND(CAST(s_tpost AS DOUBLE)
        |      / CAST(n_tpost AS DOUBLE) / 1000000.0, 6) END AS mean_t_post,
        |    CASE WHEN n_cpre > 0 THEN ROUND(CAST(s_cpre AS DOUBLE)
        |      / CAST(n_cpre AS DOUBLE) / 1000000.0, 6) END AS mean_c_pre,
        |    CASE WHEN n_cpost > 0 THEN ROUND(CAST(s_cpost AS DOUBLE)
        |      / CAST(n_cpost AS DOUBLE) / 1000000.0, 6) END AS mean_c_post,
        |    CASE WHEN NOT hole THEN
        |      ROUND((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
        |        - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE)
        |        - (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
        |          - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)))
        |        / 1000000.0, 6) END AS did,
        |    CASE WHEN NOT hole AND ntot > 4 THEN
        |      ROUND(sqrt(
        |        ROUND(((CAST(q_tpre AS DOUBLE) - CAST(s_tpre AS DOUBLE)
        |            * CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
        |          + (CAST(q_tpost AS DOUBLE) - CAST(s_tpost AS DOUBLE)
        |            * CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE))
        |          + (CAST(q_cpre AS DOUBLE) - CAST(s_cpre AS DOUBLE)
        |            * CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE))
        |          + (CAST(q_cpost AS DOUBLE) - CAST(s_cpost AS DOUBLE)
        |            * CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)))
        |          / (CAST(ntot AS DOUBLE) - 4.0) / 1000000000000.0, 6)
        |        * (1.0 / CAST(n_tpre AS DOUBLE)
        |          + 1.0 / CAST(n_tpost AS DOUBLE)
        |          + 1.0 / CAST(n_cpre AS DOUBLE)
        |          + 1.0 / CAST(n_cpost AS DOUBLE))), 6) END AS se
        |  FROM m)
        |SELECT *,
        |  CASE WHEN se > 0 AND did IS NOT NULL THEN
        |    ROUND(did / se, 6) END AS t_stat
        |FROM o""".stripMargin),

    // ---- A63: always-valid sequential test (mSPRT) — the daily
    // monitoring curve for the even/odd-user value experiment: the
    // always-valid p at each day is exp(-running-max log-mixture-LR),
    // monotone by construction, valid under any peeking rule. ----
    Query("a63_msprt", "always-valid sequential test (mSPRT)",
      (s, dir) =>
        ops.Quality.msprtCurve(t(s, dir, "events"), "value",
          col("user_id") % 2 === 0, dayofmonth(col("ts")),
          tauMicros = 1000000L),
      // exact cumulative moments (HUGEINT squares) on the day frame,
      // one rounded double chain per statistic, running max on the
      // rounded grid, exp for the always-valid p
      """WITH s AS (
        |  SELECT CAST(day(ts) AS BIGINT) AS p,
        |    user_id % 2 = 0 AS t,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |g AS (
        |  SELECT p,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN t THEN v ELSE 0 END) AS st,
        |    SUM(CASE WHEN t THEN CAST(v AS HUGEINT) * v
        |        ELSE CAST(0 AS HUGEINT) END) AS qt,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cc,
        |    SUM(CASE WHEN NOT t THEN v ELSE 0 END) AS sc,
        |    SUM(CASE WHEN NOT t THEN CAST(v AS HUGEINT) * v
        |        ELSE CAST(0 AS HUGEINT) END) AS qc
        |  FROM s GROUP BY 1),
        |cum AS (
        |  SELECT p,
        |    CAST(SUM(ct) OVER (ORDER BY p) AS BIGINT) AS nt,
        |    SUM(st) OVER (ORDER BY p) AS stc,
        |    SUM(qt) OVER (ORDER BY p) AS qtc,
        |    CAST(SUM(cc) OVER (ORDER BY p) AS BIGINT) AS nc,
        |    SUM(sc) OVER (ORDER BY p) AS scc,
        |    SUM(qc) OVER (ORDER BY p) AS qcc
        |  FROM g),
        |st1 AS (
        |  SELECT p, nt, nc,
        |    CASE WHEN nt > 0 AND nc > 0 THEN
        |      ROUND((CAST(stc AS DOUBLE) / CAST(nt AS DOUBLE)
        |        - CAST(scc AS DOUBLE) / CAST(nc AS DOUBLE))
        |        / 1000000.0, 6) END AS th,
        |    CASE WHEN nt + nc > 2 THEN
        |      ROUND(((CAST(qtc AS DOUBLE)
        |          - CAST(stc AS DOUBLE) * CAST(stc AS DOUBLE)
        |            / CAST(nt AS DOUBLE))
        |        + (CAST(qcc AS DOUBLE)
        |          - CAST(scc AS DOUBLE) * CAST(scc AS DOUBLE)
        |            / CAST(nc AS DOUBLE)))
        |        / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2.0)
        |        / 1000000000000.0, 6) END AS s2
        |  FROM cum),
        |st2 AS (
        |  SELECT p, nt, nc, th,
        |    CASE WHEN s2 > 0 THEN
        |      ROUND(s2 * (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE))
        |        / (CAST(nt AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
        |    END AS vv
        |  FROM st1),
        |st3 AS (
        |  SELECT p, nt, nc, th,
        |    CASE WHEN vv > 0 AND th IS NOT NULL THEN
        |      ROUND(0.5 * ln(vv / (vv + 1.0))
        |        + 1.0 * th * th / (2.0 * vv * (vv + 1.0)), 6)
        |    END AS log_lambda
        |  FROM st2),
        |st4 AS (
        |  SELECT p, nt, nc, th, log_lambda,
        |    MAX(log_lambda) OVER (ORDER BY p) AS mx
        |  FROM st3)
        |SELECT p AS period, nt AS n_t, nc AS n_c, th AS theta,
        |  log_lambda,
        |  CASE WHEN mx > 0 THEN ROUND(exp(-mx), 6)
        |       ELSE 1.0 END AS always_valid_p
        |FROM st4""".stripMargin),

    // ---- A62: uplift / Qini curve — value as a targeting score,
    // even/odd user split as treated/control, purchase as outcome:
    // at every distinct score threshold, incremental response rate
    // and incremental conversions (Radcliffe's Qini). Descending
    // distinct-score frame off the Prefix hierarchy; NULL on an
    // empty arm. ----
    Query("a62_uplift", "uplift / Qini curve",
      (s, dir) =>
        ops.Quality.upliftCurve(t(s, dir, "events"), "value",
          col("user_id") % 2 === 0, col("event_type") === "purchase"),
      // descending cumulatives as total - strictly-below on the
      // distinct-score frame; two exact ratios, one rounded chain each
      """WITH s AS (
        |  SELECT CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS sc,
        |    user_id % 2 = 0 AS t,
        |    event_type = 'purchase' AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (
        |  SELECT sc,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cc,
        |    SUM(CASE WHEN t AND y THEN 1 ELSE 0 END) AS pt,
        |    SUM(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS pc
        |  FROM s GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(ct) AS BIGINT) AS tct,
        |    CAST(SUM(cc) AS BIGINT) AS tcc,
        |    CAST(SUM(pt) AS BIGINT) AS tpt,
        |    CAST(SUM(pc) AS BIGINT) AS tpc
        |  FROM g),
        |cum AS (
        |  SELECT sc,
        |    tct - (SUM(ct) OVER (ORDER BY sc) - ct) AS n_t,
        |    tcc - (SUM(cc) OVER (ORDER BY sc) - cc) AS n_c,
        |    tpt - (SUM(pt) OVER (ORDER BY sc) - pt) AS pos_t,
        |    tpc - (SUM(pc) OVER (ORDER BY sc) - pc) AS pos_c
        |  FROM g, tot)
        |SELECT CAST(sc AS DOUBLE) / 1000000.0 AS score,
        |  CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
        |  CAST(pos_t AS BIGINT) AS pos_t,
        |  CAST(pos_c AS BIGINT) AS pos_c,
        |  CASE WHEN n_t > 0 AND n_c > 0 THEN
        |    ROUND(CAST(pos_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
        |  END AS uplift,
        |  CASE WHEN n_c > 0 THEN
        |    ROUND(CAST(pos_t AS DOUBLE)
        |      - CAST(pos_c AS DOUBLE) * CAST(n_t AS DOUBLE)
        |        / CAST(n_c AS DOUBLE), 6)
        |  END AS qini
        |FROM cum""".stripMargin),

    // ---- A61: cross-language quantile normalization of doc lengths
    // — each (lang, n_chars) maps to the global length at its
    // within-language quantile (exact order statistics: doubled
    // average ranks, integer ceil-k, bucketed interval lookup — no
    // interpolation, no sort), making every language's distribution
    // identical to the pooled one. ----
    Query("a61_quantile_norm", "cross-language quantile normalization of doc lengths",
      (s, dir) =>
        ops.Quality.quantileNormalize(t(s, dir, "documents"), "lang",
          "n_chars"),
      // distinct-value frames end to end: doubled ranks off per-group
      // cumulatives, HUGEINT ceil-k, the k -> order-statistic interval
      // join; positive ints so // == div
      """WITH s AS (
        |  SELECT lang AS g,
        |    CAST(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |cg AS (SELECT g, v, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |rg AS (
        |  SELECT g, v, c,
        |    2 * (SUM(c) OVER (PARTITION BY g ORDER BY v) - c) + c + 1
        |      AS r2
        |  FROM cg),
        |ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cg
        |  GROUP BY 1),
        |ca AS (SELECT v, COUNT(*) AS ca FROM s GROUP BY 1),
        |nn AS (SELECT CAST(SUM(ca) AS BIGINT) AS nt FROM ca),
        |ga AS (
        |  SELECT v AS nv, SUM(ca) OVER (ORDER BY v) - ca AS lo,
        |    SUM(ca) OVER (ORDER BY v) AS hi
        |  FROM ca),
        |kf AS (
        |  SELECT rg.g, rg.v, rg.c,
        |    CAST((CAST(r2 AS HUGEINT) * (nt + 1) + 2 * (n + 1) - 1)
        |      // (2 * (n + 1)) AS BIGINT) AS k
        |  FROM rg JOIN ng USING (g), nn)
        |SELECT kf.g AS lang, CAST(kf.v AS DOUBLE) / 1000000.0 AS value,
        |  kf.c AS n, kf.k,
        |  CAST(ga.nv AS DOUBLE) / 1000000.0 AS normalized
        |FROM kf JOIN ga ON kf.k > ga.lo AND kf.k <= ga.hi""".stripMargin),

    // ---- A60: order-free dataset fingerprint of the customer table
    // — the 100 TB copy/migration integrity check: two exact decimal
    // hash sums (portable 31-poly fold, salted twin) that are
    // invariant to row order/partitioning and ADD across shards. ----
    Query("a60_dataset_fp", "order-free dataset fingerprint of the customer table",
      (s, dir) =>
        ops.Quality.datasetFingerprint(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_mktsegment")),
      // the portable 31-poly char fold replayed as a list_reduce over
      // the identical canonical string (chr(1) separators, chr(0) null
      // sentinel, chr(2) salt); sums exact DECIMAL(38,0)
      """WITH s AS (
        |  SELECT concat(
        |    COALESCE(CAST(c_custkey AS VARCHAR), chr(0)), chr(1),
        |    COALESCE(c_name, chr(0)), chr(1),
        |    COALESCE(c_mktsegment, chr(0))) AS canon
        |  FROM customer),
        |h AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon || chr(2), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h2
        |  FROM s)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(SUM(h1), 0) % 2305843009213693951
        |    AS BIGINT) AS hash_sum,
        |  CAST(COALESCE(SUM(h2), 0) % 2305843009213693951
        |    AS BIGINT) AS hash_sum_b
        |FROM h""".stripMargin),

    // ---- A59: Sinkhorn optimal-transport distance between the
    // English and non-English doc-length distributions (50-char
    // buckets, eps=3 bin units, 5 scalings) — the geometry-aware
    // drift metric beside a29's PSI and a38's KS: mass moved TIMES
    // buckets moved. All sums exact decimal; the oracle replays
    // every scaling on HUGEINT. ----
    Query("a59_sinkhorn", "Sinkhorn optimal-transport distance between the",
      (s, dir) =>
        ops.Analytics.sinkhornOt(
          t(s, dir, "documents").filter(col("lang").isNotNull),
          "n_chars", col("lang") === "en",
          binWidthMicros = 50000000L, iters = 5,
          epsMicros = 3000000L),
      // every Sinkhorn scaling replayed on HUGEINT: round-6 masses and
      // kernel, micro-grid iterates (one double division each), exact
      // pico/1e18 sums; bin = truncating div (sign-explicit for //)
      {
        val base =
          """WITH s AS MATERIALIZED (
            |  SELECT lang = 'en' AS a,
            |    CAST(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
            |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
            |  FROM documents
            |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
            |b AS MATERIALIZED (
            |  SELECT CASE WHEN vm >= 0 THEN vm // 50000000
            |    ELSE -((-vm) // 50000000) END AS bin,
            |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
            |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
            |  FROM s GROUP BY 1),
            |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
            |  CAST(SUM(cb) AS BIGINT) AS nb FROM b),
            |mass AS MATERIALIZED (
            |  SELECT bin,
            |    CAST(CAST(ROUND(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE),
            |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pm,
            |    CAST(CAST(ROUND(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE),
            |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qm
            |  FROM b, t),
            |k AS MATERIALIZED (
            |  SELECT i.bin AS i, j.bin AS j, abs(i.bin - j.bin) AS c,
            |    CAST(CAST(ROUND(exp(-CAST(abs(i.bin - j.bin) AS DOUBLE)
            |      / CAST(3.0 AS DOUBLE)), 6) AS DECIMAL(18,6))
            |      * 1000000 AS BIGINT) AS km
            |  FROM mass i, mass j),
            |v0 AS (SELECT bin AS j, CAST(1000000 AS BIGINT) AS vm
            |  FROM mass)""".stripMargin
        val rounds = (1 to 5).map { r =>
          s"""u$r AS MATERIALIZED (
  SELECT k.i, CASE WHEN SUM(CAST(k.km AS HUGEINT) * v.vm) > 0 THEN
    CAST(CAST(ROUND((CAST(m.pm AS DOUBLE) / 1000000.0)
      / (CAST(SUM(CAST(k.km AS HUGEINT) * v.vm) AS DOUBLE)
         / 1000000000000.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
    END AS um
  FROM k JOIN v${r - 1} v ON v.j = k.j
    JOIN mass m ON m.bin = k.i
  GROUP BY k.i, m.pm),
v$r AS MATERIALIZED (
  SELECT k.j, CASE WHEN SUM(CAST(k.km AS HUGEINT) * u.um) > 0 THEN
    CAST(CAST(ROUND((CAST(m.qm AS DOUBLE) / 1000000.0)
      / (CAST(SUM(CAST(k.km AS HUGEINT) * u.um) AS DOUBLE)
         / 1000000000000.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
    END AS vm
  FROM k JOIN u$r u ON u.i = k.i
    JOIN mass m ON m.bin = k.j
  GROUP BY k.j, m.qm)"""
        }.mkString(",\n")
        val tail =
          """pl AS (
            |  SELECT SUM(CAST(u.um AS HUGEINT) * k.km * v.vm * k.c)
            |      AS cost18,
            |    SUM(CAST(u.um AS HUGEINT) * k.km * v.vm) AS mass18
            |  FROM k JOIN u5 u ON u.i = k.i JOIN v5 v ON v.j = k.j),
            |bc AS (SELECT COUNT(*) AS bins FROM mass)
            |SELECT t.na AS n_a, t.nb AS n_b, bc.bins AS n_bins,
            |  ROUND(CAST(pl.cost18 AS DOUBLE) / 1e18, 6) AS cost,
            |  ROUND(CAST(pl.mass18 AS DOUBLE) / 1e18, 6)
            |    AS transported_mass
            |FROM t, bc, pl""".stripMargin
        s"$base,\n$rounds,\n$tail"
      }),

    // ---- A57: CUPED variance-reduced treatment effect — per-user
    // pre/post value sums, even/odd user split as arms; one exact
    // moment agg (variance reduction IS corr²), fixed-order double
    // ratios rounded once. ----
    Query("a57_cuped", "CUPED variance-reduced treatment effect",
      (s, dir) => {
        val units = t(s, dir, "events")
          .filter(col("value").isNotNull && col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            coalesce(sum(when(dayofmonth(col("ts")) <= 15,
              col("value").cast("decimal(18,6)"))),
              lit(0).cast("decimal(18,6)")).as("pre"),
            coalesce(sum(when(dayofmonth(col("ts")) > 15,
              col("value").cast("decimal(18,6)"))),
              lit(0).cast("decimal(18,6)")).as("post"))
        Quality.cupedAdjustment(units, "pre", "post",
          col("user_id") % 2 === 0)
      },
      // one HUGEINT moment agg; unrounded theta inside the adjusted
      // diff exactly as the engine computes it; reduction = corr^2
      """WITH u AS (
        |  SELECT user_id,
        |    COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) <= 15
        |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS pre,
        |    COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) > 15
        |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS post
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(CAST(ROUND(CAST(pre AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x,
        |    CAST(CAST(ROUND(CAST(post AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y,
        |    user_id % 2 = 0 AS t
        |  FROM u),
        |a AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
        |    SUM(CASE WHEN t THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxt,
        |    SUM(CASE WHEN t THEN CAST(y AS HUGEINT) ELSE 0 END) AS syt,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nc,
        |    SUM(CASE WHEN NOT t THEN CAST(x AS HUGEINT) ELSE 0 END)
        |      AS sxc,
        |    SUM(CASE WHEN NOT t THEN CAST(y AS HUGEINT) ELSE 0 END)
        |      AS syc
        |  FROM s)
        |SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
        |  CASE WHEN nt > 0 AND nc > 0 THEN
        |    ROUND(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6
        |      - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6, 6)
        |  END AS raw_diff,
        |  CASE WHEN nt > 0 AND nc > 0 AND n * sxx - sx * sx > 0 THEN
        |    ROUND(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6
        |      - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6
        |      - (CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE))
        |        * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6
        |           - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6),
        |      6) END AS adjusted_diff,
        |  CASE WHEN n * sxx - sx * sx > 0
        |        AND n * syy - sy * sy > 0 THEN
        |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |        * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS variance_reduction
        |FROM a""".stripMargin),

    // ---- A56: Mann–Kendall trend + Sen's slope over the daily
    // value-total series — nonparametric KPI-drift detection; S and
    // the tie-corrected 18·Var are exact integers, slopes truncate
    // to micro-units, Sen is the lower-median order statistic. ----
    Query("a56_mann_kendall", "Mann–Kendall trend + Sen's slope over the daily",
      (s, dir) => {
        val daily = t(s, dir, "events").filter(col("value").isNotNull)
          .groupBy(dayofmonth(col("ts")).as("d"))
          .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
        ops.Analytics.mannKendall(daily, "d", "v")
      },
      // exact integer S and tie-corrected 18-Var; sign-explicit
      // truncating pairwise slopes; lower-median Sen order statistic
      """WITH d AS (
        |  SELECT EXTRACT(day FROM ts) AS i,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT CAST(i AS BIGINT) AS i,
        |    CAST(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS v
        |  FROM d),
        |p AS (
        |  SELECT CASE WHEN b.v > a.v THEN 1
        |              WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
        |    CASE WHEN b.v - a.v >= 0
        |      THEN (b.v - a.v) // (b.i - a.i)
        |      ELSE -((a.v - b.v) // (b.i - a.i)) END AS sl
        |  FROM s a JOIN s b ON a.i < b.i),
        |t AS (SELECT COALESCE(SUM(sgn), 0) AS s, COUNT(*) AS np
        |      FROM p),
        |n AS (SELECT COUNT(*) AS n FROM s),
        |tt AS (
        |  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
        |    AS tieterm
        |  FROM (SELECT COUNT(*) AS t FROM s GROUP BY v
        |        HAVING COUNT(*) > 1)),
        |v AS (
        |  SELECT n.n * (n.n - 1) * (2 * n.n + 5) - tt.tieterm
        |    AS var18
        |  FROM n, tt),
        |md AS (
        |  SELECT sl FROM
        |    (SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) AS r FROM p),
        |    t
        |  WHERE r = (t.np + 1) // 2)
        |SELECT CAST(n.n AS BIGINT) AS n, CAST(t.s AS BIGINT) AS s,
        |  CAST(v.var18 AS BIGINT) AS var18,
        |  CASE WHEN v.var18 > 0 THEN
        |    CASE WHEN abs(t.s) <= 1 THEN CAST(0 AS DOUBLE)
        |      ELSE ROUND((CAST(t.s AS DOUBLE)
        |          - CASE WHEN t.s > 0 THEN 1 ELSE -1 END)
        |        / SQRT(CAST(v.var18 AS DOUBLE) / 18.0), 6) END
        |  END AS z,
        |  (SELECT CAST(sl AS BIGINT) FROM md) AS sen_slope_micros
        |FROM n, t, v""".stripMargin),

    // ---- A55: time-decayed trending top-5 event types — recency-
    // weighted popularity (half-life one week, reference instant
    // explicit — never the clock); round-6 decay weights into an
    // exact decimal sum, TakeOrdered tail. ----
    Query("a55_decayed_topk", "time-decayed trending top-5 event types",
      (s, dir) =>
        ops.Analytics.decayedTopK(t(s, dir, "events"),
          Seq("event_type"), "ts",
          java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
          halfLifeHours = 168.0, k = 5),
      // round-6 decay weights from floor-truncated epoch ages (the
      // unix_timestamp convention), exact decimal sum, (score desc,
      // key) tiebreak
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(ROUND(POWER(0.5,
        |    CAST(1706745600 - CAST(floor(epoch(ts)) AS BIGINT)
        |      AS DOUBLE) / 604800.0), 6) AS DECIMAL(18,6)))
        |    AS DECIMAL(28,6)) AS DOUBLE) AS decayed_score
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  AND CAST(floor(epoch(ts)) AS BIGINT) <= 1706745600
        |GROUP BY event_type
        |ORDER BY decayed_score DESC, event_type
        |LIMIT 5""".stripMargin),

    // ---- A54: Poisson-bootstrap 95% CI for the mean event value —
    // the distributed bootstrap (per-row Poisson(1) weights from
    // salted portable hashes, no RNG state, no global resample);
    // replica means truncate on the micro grid, CI bounds are
    // ceil-k order statistics of the 100-replica frame. ----
    Query("a54_bootstrap", "Poisson-bootstrap 95% CI for the mean event value —",
      (s, dir) =>
        Quality.bootstrapMeanCi(t(s, dir, "events"), "value",
          "event_id", replicas = 100),
      // every Poisson weight replayed from the identical hash cutoffs;
      // sign-explicit truncating means; ceil-k order statistics
      """WITH s AS (
        |  SELECT event_id AS id,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |o AS (SELECT COUNT(*) AS n, COALESCE(SUM(v), 0) AS sv FROM s),
        |reps AS (
        |  SELECT b.b, s.v,
        |    (((((s.id % 2147483647) * 2654435761) % 2147483647)
        |      + b.b * 2654435761) % 2147483647) AS h
        |  FROM s CROSS JOIN (SELECT unnest(range(1, 101)) AS b) b),
        |w AS (
        |  SELECT b, v,
        |    CASE WHEN h < 790015083 THEN 0
        |         WHEN h < 1580030167 THEN 1
        |         WHEN h < 1975037709 THEN 2
        |         WHEN h < 2106706890 THEN 3
        |         WHEN h < 2139624185 THEN 4
        |         WHEN h < 2146207644 THEN 5
        |         WHEN h < 2147304887 THEN 6
        |         WHEN h < 2147461637 THEN 7
        |         ELSE 8 END AS w
        |  FROM reps),
        |r AS (SELECT b, SUM(w * v) AS ws, SUM(w) AS wn
        |      FROM w GROUP BY b),
        |m AS (
        |  SELECT CASE WHEN ws >= 0 THEN ws // wn
        |    ELSE -((-ws) // wn) END AS m
        |  FROM r WHERE wn > 0),
        |bu AS (SELECT COUNT(*) AS bu FROM m),
        |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM m),
        |k AS (
        |  SELECT GREATEST((bu * 25000 + 999999) // 1000000, 1) AS klo,
        |    (bu * 975000 + 999999) // 1000000 AS khi, bu
        |  FROM bu)
        |SELECT CAST(o.n AS BIGINT) AS n,
        |  CASE WHEN o.n > 0 THEN
        |    CAST(CASE WHEN o.sv >= 0 THEN o.sv // o.n
        |      ELSE -((-o.sv) // o.n) END AS BIGINT) END AS mean_micros,
        |  CAST(100 AS BIGINT) AS replicas,
        |  CAST(k.bu AS BIGINT) AS replicas_used,
        |  (SELECT CAST(m AS BIGINT) FROM rk, k WHERE rk.r = k.klo)
        |    AS ci_lo_micros,
        |  (SELECT CAST(m AS BIGINT) FROM rk, k WHERE rk.r = k.khi)
        |    AS ci_hi_micros
        |FROM o, k""".stripMargin),

    // ---- A52: deterministic randomization test — is the purchase /
    // non-purchase value gap significant under 99 salted-hash
    // re-labelings? No RNG state; extreme-ness compared on exact
    // cross-multiplied rationals in decimal(38,0). ----
    Query("a52_randomization", "deterministic randomization test",
      (s, dir) =>
        Quality.randomizationTest(t(s, dir, "events"), "value",
          col("event_type") === "purchase", "event_id", replicas = 99),
      // every salted re-labeling replayed (the portable-hash chain);
      // HUGEINT cross-multiplies mirror the decimal(38,0) comparison
      """WITH s AS (
        |  SELECT event_id AS id,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
        |    event_type = 'purchase' AS a
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id IS NOT NULL),
        |o AS (
        |  SELECT SUM(CASE WHEN a THEN v ELSE 0 END) AS sa,
        |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN NOT a THEN v ELSE 0 END) AS sb,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb
        |  FROM s),
        |reps AS (
        |  SELECT b.b, s.v,
        |    (((((s.id % 2147483647) * 2654435761) % 2147483647)
        |      + b.b * 2654435761) % 2147483647) % (o.na + o.nb)
        |      < o.na AS pa
        |  FROM s CROSS JOIN (SELECT unnest(range(1, 100)) AS b) b
        |  CROSS JOIN o),
        |r AS (
        |  SELECT b,
        |    SUM(CASE WHEN pa THEN v ELSE 0 END) AS rsa,
        |    SUM(CASE WHEN pa THEN 1 ELSE 0 END) AS rna,
        |    SUM(CASE WHEN NOT pa THEN v ELSE 0 END) AS rsb,
        |    SUM(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS rnb
        |  FROM reps GROUP BY b),
        |x AS (
        |  SELECT SUM(CASE WHEN rna = 0 OR rnb = 0 OR
        |      abs(CAST(rsa AS HUGEINT) * rnb
        |        - CAST(rsb AS HUGEINT) * rna)
        |        * CAST(o.na AS HUGEINT) * o.nb >=
        |      abs(CAST(o.sa AS HUGEINT) * o.nb
        |        - CAST(o.sb AS HUGEINT) * o.na)
        |        * CAST(rna AS HUGEINT) * rnb
        |    THEN 1 ELSE 0 END) AS n_extreme
        |  FROM r CROSS JOIN o)
        |SELECT CAST(o.na AS BIGINT) AS n_a, CAST(o.nb AS BIGINT) AS n_b,
        |  CASE WHEN o.na > 0 AND o.nb > 0 THEN
        |    ROUND(CAST(abs(CAST(o.sa AS HUGEINT) * o.nb
        |        - CAST(o.sb AS HUGEINT) * o.na) AS DOUBLE)
        |      / CAST(CAST(o.na AS HUGEINT) * o.nb AS DOUBLE)
        |      / 1e6, 6) END AS obs_diff,
        |  CAST(99 AS BIGINT) AS replicas,
        |  CAST(x.n_extreme AS BIGINT) AS n_extreme,
        |  ROUND(CAST(1 + x.n_extreme AS DOUBLE) / 100.0, 6) AS p_value
        |FROM o, x""".stripMargin),

    // ---- A37: portable HyperLogLog distinct-user estimate — the
    // mergeable cardinality sketch from the portable hash family
    // (every register bit SQL-replayable); 64-key agg, exact-integer
    // Z sum (a distributed double sum would be order-dependent),
    // audited against a real countDistinct. ----
    Query("a37_hll_distinct", "portable HyperLogLog distinct-user estimate",
      (s, dir) =>
        graft.ops.Sketches.hllDistinct(t(s, dir, "events"), "user_id"),
      // every HLL register replayed: same multiply-xorshift-fold mixer,
      // bit-op idx/rest, isolate-lowest-bit rho, exact scaled-integer Z
      """WITH h0 AS (
        |  SELECT (((user_id % 2147483648) + 2147483648) % 2147483648)
        |    * 2654435761 AS a
        |  FROM events WHERE user_id IS NOT NULL),
        |h1 AS (SELECT xor(a, a >> 31) AS b FROM h0),
        |h2 AS (SELECT (b & 2147483647) * 2654435761 AS c FROM h1),
        |h AS (SELECT xor(c, c >> 31) AS w FROM h2),
        |r2 AS (
        |  SELECT w & 63 AS idx,
        |    CASE WHEN (w >> 6) = 0 THEN 57
        |         ELSE bit_count(((w >> 6) & -(w >> 6)) - 1) + 1
        |    END AS rho
        |  FROM h),
        |regs AS (SELECT idx, MAX(rho) AS rho FROM r2 GROUP BY idx),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS hit,
        |    SUM(CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS z
        |  FROM regs),
        |x AS (
        |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (
        |  SELECT hit, exact,
        |    CAST(z + (64 - hit) * 144115188075855872 AS DOUBLE)
        |      / CAST(144115188075855872 AS DOUBLE) AS zz
        |  FROM a, x),
        |e AS (
        |  SELECT hit, exact,
        |    CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) / zz AS eraw
        |  FROM f),
        |g AS (
        |  SELECT hit, exact,
        |    CASE WHEN eraw <= CAST(2.5 AS DOUBLE) * CAST(64 AS DOUBLE)
        |              AND (64 - hit) > 0
        |         THEN CAST(64 AS DOUBLE)
        |              * ROUND(ln(CAST(64 AS DOUBLE)
        |                  / CAST(64 - hit AS DOUBLE)), 6)
        |         ELSE eraw END AS est
        |  FROM e)
        |SELECT CAST(64 AS BIGINT) AS m, hit AS registers_hit,
        |  ROUND(est, 6) AS estimate, exact,
        |  ROUND(abs(ROUND(est, 6) - CAST(exact AS DOUBLE))
        |    / CAST(exact AS DOUBLE), 6) AS rel_error
        |FROM g""".stripMargin),

    // ---- A33: mutual information between event type and hour of
    // day — the filter-feature-selection statistic (nats of hour the
    // type carries), with both entropies and normalized MI. One
    // contingency agg; margins are windows over the cells frame
    // (category-product-sized, the a30_chisq contract). ----
    Query("a33_mutual_info", "mutual information between event type and hour of",
      (s, dir) =>
        Quality.mutualInfo(
          t(s, dir, "events").select(col("event_type"),
            hour(col("ts")).as("hr")),
          "event_type", "hr"),
      // contingency MI: each ln rounded once to 6, per-cell/margin
      // products exact decimal, one double cast + round at the end;
      // nmi uses the ROUNDED mi/h values (the Spark column exprs)
      s"""WITH c AS (
        |  SELECT event_type AS a, EXTRACT(hour FROM ts) AS b,
        |    COUNT(*) AS nab
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |${mutualInfoCtes("a", "b")}
        |SELECT n, cells, mi, h_a, h_b,
        |  CASE WHEN LEAST(h_a, h_b) > 0
        |       THEN ROUND(mi / LEAST(h_a, h_b), 6) END AS nmi
        |FROM f""".stripMargin),

    // ---- A26: calendar gap audit — per user, the days inside their
    // own [first, last] event span with no events; calendar explode
    // bounded by the span, one distinct, one left_anti join. ----
    Query("a26_gap_days", "calendar gap audit",
      (s, dir) =>
        Quality.missingDays(t(s, dir, "events"), Seq("user_id"), "ts"),
      // expected calendar per user minus observed days (NOT EXISTS ==
      // the left_anti)
      """WITH s AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0,
        |    MAX(CAST(ts AS DATE)) AS d1
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM s),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |      FROM events)
        |SELECT e.user_id, CAST(e.day AS VARCHAR) AS day FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM a
        |  WHERE a.user_id = e.user_id AND a.day = e.day)""".stripMargin),

    // ---- A24: histogram-sketch quantiles — p50/p90/p99 of
    // l_extendedprice from a width-100 mergeable histogram with the
    // honest |est−true| ≤ width bound beside each estimate; the
    // sketch path next to a8's exact percentiles. ----
    Query("a24_hist_quantile", "histogram-sketch quantiles",
      (s, dir) =>
        Sketches.histQuantile(t(s, dir, "lineitem"), "l_extendedprice",
          width = 100.0, probs = Seq(0.5, 0.9, 0.99)),
      // histogram-sketch quantiles: least bucket with cum >= p·N,
      // linear interpolation inside it — all double arithmetic forced
      """WITH h AS (
        |  SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) /
        |    CAST(100.0 AS DOUBLE)) AS BIGINT) AS bucket,
        |    COUNT(*) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        SUM(cnt) OVER (ORDER BY bucket) AS cum FROM h),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
        |p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                     CAST(0.99 AS DOUBLE)]) AS p),
        |sel AS (
        |  SELECT p.p, c.bucket, c.cum - c.cnt AS cum_prev, c.cnt, n.n,
        |    ROW_NUMBER() OVER (PARTITION BY p.p ORDER BY c.bucket) AS rn
        |  FROM p, c, n WHERE CAST(c.cum AS DOUBLE) >= p.p * n.n)
        |SELECT p,
        |  ROUND(bucket * CAST(100.0 AS DOUBLE) + CAST(100.0 AS DOUBLE) *
        |        (p * n - CAST(cum_prev AS DOUBLE)) / cnt, 6) AS est,
        |  CAST(100.0 AS DOUBLE) AS err_bound
        |FROM sel WHERE rn = 1""".stripMargin),

    // ---- A25: weight-of-evidence binning — o_totalprice in
    // population quintiles vs the order-status event, WOE and IV per
    // bin; boundary row broadcast (no global ntile sort). ----
    Query("a25_woe", "weight-of-evidence binning",
      (s, dir) =>
        Quality.woeBins(t(s, dir, "orders"), "o_totalprice",
          col("o_orderstatus") === "F", bins = 5),
      // WOE bins: percentile boundaries, Laplace +0.5 cells, IV from
      // the ROUNDED woe — double arithmetic forced throughout
      """WITH src AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    o_orderstatus = 'F' AS bad
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |q AS (SELECT quantile_cont(v, 0.2) AS q1,
        |        quantile_cont(v, 0.4) AS q2,
        |        quantile_cont(v, 0.6) AS q3,
        |        quantile_cont(v, 0.8) AS q4 FROM src),
        |b AS (
        |  SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
        |       + CAST(v > q3 AS INT) + CAST(v > q4 AS INT) AS bin, bad
        |  FROM src, q),
        |g AS (SELECT bin, COUNT(*) AS n,
        |        CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_bad
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |        CAST(SUM(n_bad) AS BIGINT) AS tb FROM g)
        |SELECT bin, n, n_bad,
        |  ROUND(CAST(n_bad AS DOUBLE) / n, 6) AS bad_rate,
        |  ROUND(ln(((n_bad + CAST(0.5 AS DOUBLE)) / tb) /
        |           ((n - n_bad + CAST(0.5 AS DOUBLE)) / (tn - tb))), 6)
        |    AS woe,
        |  ROUND((CAST(n_bad AS DOUBLE) / tb -
        |         CAST(n - n_bad AS DOUBLE) / (tn - tb)) *
        |        ROUND(ln(((n_bad + CAST(0.5 AS DOUBLE)) / tb) /
        |          ((n - n_bad + CAST(0.5 AS DOUBLE)) / (tn - tb))), 6), 6)
        |    AS iv_term
        |FROM g, t""".stripMargin),

    // ---- A20: two-proportion A/B conversion z-test — variant by
    // user-id parity, conversion = ever purchased; pooled-variance
    // z from EXACT counts (every input to the IEEE formula sequence
    // is an integer-valued double, so both engines compute identical
    // rates and statistic; significance compared on the round-6
    // grid). One user agg + one 1-row conditional agg. ----
    Query("a20_ab_test", "two-proportion A/B conversion z-test",
      (s, dir) => {
        val per = t(s, dir, "events").groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("conv"))
          .withColumn("variant", pmod(col("user_id"), lit(2)))
        val agg = per.agg(
          count(when(col("variant") === 0, lit(1))).as("n_a"),
          sum(when(col("variant") === 0, col("conv"))).cast("long")
            .as("c_a"),
          count(when(col("variant") === 1, lit(1))).as("n_b"),
          sum(when(col("variant") === 1, col("conv"))).cast("long")
            .as("c_b"))
        val na = col("n_a").cast("double")
        val nb = col("n_b").cast("double")
        val pa = col("c_a").cast("double") / na
        val pb = col("c_b").cast("double") / nb
        val pp = (col("c_a") + col("c_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double")
        val z = (pa - pb) /
          sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
        agg.select(col("n_a"), col("c_a"), round(pa, 6).as("rate_a"),
          col("n_b"), col("c_b"), round(pb, 6).as("rate_b"),
          round(z, 6).as("z"),
          (abs(round(z, 6)) > 1.96).as("significant"))
      },
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT
        |    COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN conv END) AS BIGINT)
        |      AS c_a,
        |    COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN conv END) AS BIGINT)
        |      AS c_b
        |  FROM per)
        |SELECT n_a, c_a,
        |  ROUND(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  n_b, c_b,
        |  ROUND(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  ROUND((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |         CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) -
        |          CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |          CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))), 6) AS z,
        |  abs(ROUND((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |         CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) -
        |          CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |          CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))), 6)) > 1.96
        |    AS significant
        |FROM a""".stripMargin),

    // ---- A19: grouped top-k via the native MERGEABLE heap aggregate
    // (TypedImperativeAggregate) — top-3 events by value per type with
    // map-side combine: each partition ships ≤ k rows per group, vs a
    // window's full-group sort through the exchange. Best-first array
    // exploded to ranked rows; (value desc, id) total order. ----
    Query("a19_topk_agg", "grouped top-k via the native MERGEABLE heap aggregate",
      (s, dir) =>
        t(s, dir, "events").groupBy(col("event_type"))
          .agg(NativeExpressions.top_k_by_value(col("event_id"),
            col("value"), 3).as("top"))
          .select(col("event_type"), posexplode(col("top")))
          .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
            col("col.id").as("event_id"), col("col.value").as("value")),
      // the window formulation IS the oracle — the aggregate must equal
      // what a full sort-and-rank computes
      """SELECT event_type, CAST(rn AS INT) AS rank, event_id, value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rn <= 3""".stripMargin),

    // ---- A27: seasonal profile — (iso weekday, hour) grid of event
    // count and exact-decimal mean value: the seasonality heatmap as
    // data; one hash agg. ----
    Query("a27_seasonal", "seasonal profile",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(weekday(col("ts")).cast("int").as("dow"),
            hour(col("ts")).cast("int").as("hod"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("value").cast("double"), 6)
                .cast("decimal(18,6)")).cast("double") /
              count(lit(1)), 6).as("mean_value")),
      // Spark weekday() is 0=Monday; isodow−1 matches
      """SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hod, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- A35: leave-one-out target encoding — event_type encoded by
    // the mean value of the OTHER rows in its type (smoothing 10
    // toward the global mean); one category-keyed window pair. ----
    Query("a35_loo_encode", "leave-one-out target encoding",
      (s, dir) =>
        Quality.looTargetEncode(t(s, dir, "events"), "event_id",
          "event_type", "value", smoothing = 10.0),
      // one category window pair + broadcast global mean; fixed-order
      // double arithmetic rounded once
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS t
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT CAST(SUM(t) AS DOUBLE) / COUNT(*) AS gm FROM s),
        |w AS (
        |  SELECT event_id, event_type, t,
        |    SUM(t) OVER (PARTITION BY event_type) AS st,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ct
        |  FROM s)
        |SELECT event_id, event_type,
        |  CASE WHEN CAST(ct - 1 AS DOUBLE) + 10.0 > 0
        |       THEN ROUND((CAST(st - t AS DOUBLE) + 10.0 * gm)
        |                  / (CAST(ct - 1 AS DOUBLE) + 10.0), 6)
        |  END AS encoded
        |FROM w, g""".stripMargin)
  )
}
