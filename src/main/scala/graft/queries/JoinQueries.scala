package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.functions.NativeExpressions

import Fixtures._

/** Join queries (prefix j): star, composite-key, outer, semi/anti,
  * as-of, interval, bucketed and record-linkage joins. */
object JoinQueries {

  /** Per-JVM cache of the bucketed-table suffix per sf dir (tables are
    * session-catalog objects; one publish per (JVM, sf dir)). */
  private val stagedBucketedTables =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** Collision-free suffix source for catalog table names (round-5
    * ADVICE: two sf dirs with colliding 32-bit hashCodes would silently
    * overwrite each other's bucketed tables). */
  private val tableNameSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Shared j16/j17 linkage construction: the clean customer file
    * scored against its deterministically DIRTIED copy (middle-char
    * name typo every 7th key, reformatted name every 13th, segment
    * wiped every 11th, balance shifted by a key-derived offset) via
    * blocked Fellegi–Sunter — last-3-digit name blocks, four field
    * weights as round-6 decimal literals, lower=0 / upper=6. */
  private[graft] def linkageScored(s: SparkSession, dir: String,
                                   blockLen: Int = 3): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment"))
    val dirty = cust.select(
      col("c_custkey"),
      when(col("c_custkey") % 13 === 0,
          concat(lit("Cust-"),
            lpad(col("c_custkey").cast("string"), 9, "0")))
        .when(col("c_custkey") % 7 === 0,
          concat(substring(col("c_name"), 1, 9), lit("X"),
            substring(col("c_name"), 11, 100)))
        .otherwise(col("c_name")).as("c_name"),
      col("c_nationkey"),
      (col("c_acctbal") + (col("c_custkey") % 9) * 20.0 - 80.0)
        .as("c_acctbal"),
      when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val pairs = ops.Linkage.blockedPairs(cust, dirty,
      substring(col("a_c_name"), -blockLen, blockLen),
      substring(col("b_c_name"), -blockLen, blockLen),
      maxBucket = Some(10000L))
    ops.Linkage.fellegiSunter(pairs, Seq(
        ops.Linkage.LinkField("name",
          round(NativeExpressions.jaro_winkler_sim(col("a_c_name"),
            col("b_c_name")), 6) >= 0.95, m = 0.95, u = 0.01),
        ops.Linkage.LinkField("nation",
          col("a_c_nationkey") === col("b_c_nationkey"),
          m = 0.98, u = 0.04),
        ops.Linkage.LinkField("segment",
          col("a_c_mktsegment") === col("b_c_mktsegment"),
          m = 0.9, u = 0.2),
        ops.Linkage.LinkField("balance",
          abs(col("a_c_acctbal") - col("b_c_acctbal")) <= 50.0,
          m = 0.9, u = 0.05)),
      lower = 0.0, upper = 6.0)
  }

  /** Shared by w27_holt and its streaming twin s_stream_holt. */
  /** Shared j16/j17 oracle CTE block: the dirty-copy construction,
    * last-3 blocking, field agreements and Fellegi-Sunter scores
    * (see [[linkageScored]]). Ends with the `sc` CTE. */
  private val LinkageOracleCtes: String =
    """WITH a AS (
      |  SELECT c_custkey AS ak, c_name AS an, c_nationkey AS anat,
      |    c_acctbal AS abal, c_mktsegment AS aseg
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey AS bk,
      |    CASE WHEN c_custkey % 13 = 0
      |         THEN 'Cust-' || lpad(CAST(c_custkey AS VARCHAR), 9, '0')
      |         WHEN c_custkey % 7 = 0
      |         THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
      |         ELSE c_name END AS bn,
      |    c_nationkey AS bnat,
      |    c_acctbal + (c_custkey % 9) * 20.0 - 80.0 AS bbal,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
      |         ELSE c_mktsegment END AS bseg
      |  FROM customer),
      |p AS (
      |  SELECT * FROM a JOIN b ON right(an, 3) = right(bn, 3)),
      |f AS (
      |  SELECT ak, bk,
      |    ROUND(jaro_winkler_similarity(an, bn), 6) >= 0.95
      |      AS name_agree,
      |    anat = bnat AS nation_agree,
      |    aseg = bseg AS segment_agree,
      |    abs(abal - bbal) <= 50.0 AS balance_agree
      |  FROM p),
      |sc AS (
      |  SELECT ak, bk, name_agree, nation_agree, segment_agree,
      |    balance_agree,
      |    CAST(
      |      CAST(CASE WHEN name_agree THEN ROUND(ln(0.95/0.01), 6)
      |                ELSE ROUND(ln(0.05/0.99), 6) END
      |        AS DECIMAL(18,6)) +
      |      CAST(CASE WHEN nation_agree THEN ROUND(ln(0.98/0.04), 6)
      |                ELSE ROUND(ln(0.02/0.96), 6) END
      |        AS DECIMAL(18,6)) +
      |      CAST(CASE WHEN segment_agree THEN ROUND(ln(0.9/0.2), 6)
      |                ELSE ROUND(ln(0.1/0.8), 6) END
      |        AS DECIMAL(18,6)) +
      |      CAST(CASE WHEN balance_agree THEN ROUND(ln(0.9/0.05), 6)
      |                ELSE ROUND(ln(0.1/0.95), 6) END
      |        AS DECIMAL(18,6))
      |    AS DOUBLE) AS score
      |  FROM f)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("j1_join_dims", "§2.3 J1 broadcast dim joins (star join)",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        // customer is fact-growing: unhinted (AQE decides); n/r are dims
        o.join(c, o("o_custkey") === c("c_custkey"), "left")
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
          .groupBy(col("r_name"), col("n_name"))
          .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
      },
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    Query("j2_join_composite", "§2.3 J2 composite-key equi-join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val grp = li.groupBy(col("l_orderkey"), col("l_partkey"))
          .agg(moneySum(col("l_quantity")).as("grp_qty"))
        li.join(grp, Seq("l_orderkey", "l_partkey"))
          .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
            col("grp_qty"))
      },
      """WITH grp AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS grp_qty
        |  FROM lineitem GROUP BY l_orderkey, l_partkey)
        |SELECT li.l_orderkey, li.l_partkey, li.l_linenumber, grp.grp_qty
        |FROM lineitem li
        |JOIN grp ON li.l_orderkey = grp.l_orderkey AND li.l_partkey = grp.l_partkey""".stripMargin),

    Query("j4_full_outer", "§2.3 J4 full outer join",
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_cust"))
        val su = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_supp"))
        Joins.fullOuter(c, su, Seq("nationkey"))
          .select(col("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      },
      """WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |           FROM customer GROUP BY c_nationkey),
        |     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |           FROM supplier GROUP BY s_nationkey)
        |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""".stripMargin),

    Query("j5_semi", "§2.3 J5 left semi",
      (s, dir) => {
        val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("o_custkey"))
        Joins.semi(t(s, dir, "orders"), rich, Seq("o_custkey"))
          .select("o_orderkey", "o_custkey")
      },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin),

    // ---- as-of (point-in-time) join: for each event, the customer's
    // latest order at-or-before the event. union+LOCF shape — one
    // shuffle, no range explosion (Joins.asOfJoin) ----
    Query("j8_asof", "as-of (point-in-time) join: for each event, the customer's",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id").as("ckey"))
        val ord = WindowOps.dedupKeepLast(t(s, dir, "orders"),
            keys = Seq("o_custkey", "o_orderdate"), orderBy = Seq(col("o_orderkey")))
          .select(col("o_custkey").as("ckey"), col("o_orderdate"),
            col("o_orderkey").as("asof_orderkey"))
        Joins.asOfJoin(ev, ord, Seq("ckey"), "ts", "o_orderdate",
            Seq("asof_orderkey"))
          .select(col("event_id"), col("ckey").as("user_id"),
            col("asof_orderkey"))
      },
      """WITH ord AS (
        |  SELECT o_custkey AS ckey, o_orderdate, o_orderkey AS asof_orderkey
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |          ORDER BY o_orderkey DESC) AS rn FROM orders)
        |  WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.asof_orderkey
        |FROM events e
        |ASOF LEFT JOIN ord o
        |  ON e.user_id = o.ckey AND e.ts >= o.o_orderdate""".stripMargin),

    // ---- as-of join with a STALENESS BOUND: like j8_asof, but a
    // match older than the tolerance attaches null (the "latest lab
    // within N hours, else missing" rule). The 725Ms tolerance sits at
    // the fixture's median match age, so BOTH outcomes occur. ----
    Query("j10_asof_tolerance", "as-of join with a STALENESS BOUND: like j8_asof, but a",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id").as("ckey"))
        val ord = WindowOps.dedupKeepLast(t(s, dir, "orders"),
            keys = Seq("o_custkey", "o_orderdate"),
            orderBy = Seq(col("o_orderkey")))
          .select(col("o_custkey").as("ckey"), col("o_orderdate"),
            col("o_orderkey").as("asof_orderkey"))
        Joins.asOfJoinTolerance(ev, ord, Seq("ckey"), "ts", "o_orderdate",
            Seq("asof_orderkey"), toleranceSeconds = 725000000L,
            matchedTimeCol = "matched_date")
          .select(col("event_id"), col("ckey").as("user_id"),
            col("asof_orderkey"), col("matched_date"))
      },
      """WITH ord AS (
        |  SELECT o_custkey AS ckey, o_orderdate, o_orderkey AS asof_orderkey
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |          ORDER BY o_orderkey DESC) AS rn FROM orders)
        |  WHERE rn = 1),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts, o.asof_orderkey, o.o_orderdate
        |  FROM events e
        |  ASOF LEFT JOIN ord o
        |    ON e.user_id = o.ckey AND e.ts >= o.o_orderdate)
        |SELECT event_id, user_id,
        |  CASE WHEN o_orderdate IS NULL OR
        |    floor(epoch(ts)) - floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
        |      > 725000000
        |    THEN NULL ELSE asof_orderkey END AS asof_orderkey,
        |  CASE WHEN o_orderdate IS NULL OR
        |    floor(epoch(ts)) - floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
        |      > 725000000
        |    THEN NULL ELSE o_orderdate END AS matched_date
        |FROM j""".stripMargin),

    // ---- J11: edit-distance similarity self-join (PassJoin segment
    // blocking, COMPLETE — no recall loss) over a 3-nation customer
    // slice; the uniform "Customer#…" prefix exercises the documented
    // dense-bucket degradation while the digit segments stay
    // selective. Candidates are segment equi-joins + one distinct;
    // verify is one codegen'd levenshtein per pair. ----
    Query("j11_edit_join", "edit-distance similarity self-join (PassJoin segment",
      (s, dir) =>
        Joins.editDistanceJoin(
          t(s, dir, "customer")
            .filter(col("c_nationkey").isin(1, 2, 3))
            .select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", k = 1)
          .orderBy("id1", "id2"),
      // brute-force quadratic levenshtein join — the completeness bar the
      // segment-blocked plan must match exactly
      """WITH c AS (
        |  SELECT c_custkey, c_name FROM customer
        |  WHERE c_nationkey IN (1, 2, 3))
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin),

    // ---- J14: blocked Jaro–Winkler fuzzy self-match over the
    // DISTINCT part-name vocabulary (block = trailing token; the
    // adjective varies, the noun anchors the block). DISTINCT-first
    // collapses the massive name duplication before any pair is
    // scored; the comparator is the native byte-loop expression whose
    // semantics are pinned to DuckDB's jaro_winkler_similarity — the
    // oracle is a true cross-implementation check. ----
    Query("j14_fuzzy_match", "blocked Jaro–Winkler fuzzy self-match over the",
      (s, dir) =>
        Joins.fuzzyMatchJoin(
          t(s, dir, "part").select(col("p_name")),
          "p_name",
          n => element_at(split(n, " "), -1),
          threshold = 0.88)
          .orderBy("name1", "name2"),
      // same blocking, DuckDB's own jaro_winkler_similarity — a genuine
      // cross-implementation comparator check, not a replay
      """WITH v AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name,
        |        regexp_extract(p_name, '([^ ]+)$', 1) AS blk FROM v)
        |SELECT a.p_name AS name1, b2.p_name AS name2,
        |  ROUND(jaro_winkler_similarity(a.p_name, b2.p_name), 6) AS jw
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name
        |WHERE ROUND(jaro_winkler_similarity(a.p_name, b2.p_name), 6)
        |  >= 0.88""".stripMargin),

    // ---- interval (range) join: shipments inside each order's 90-day
    // window, via the time-binned equi-join (Joins.rangeJoin) ----
    Query("j9_range", "interval (range) join: shipments inside each order's 90-day",
      (s, dir) => {
        val iv = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate").as("w_start"),
          (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("w_end"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
            col("l_shipdate"))
        Joins.rangeJoin(li, iv, Seq("o_orderkey"), "l_shipdate",
            "w_start", "w_end", binSeconds = 30L * 86400)
          .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"))
      },
      """SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY""".stripMargin),

    // ---- J12: interval-OVERLAP join — per-user view windows [ts,
    // ts+2h) against click windows [ts, ts+1h) that intersect, with
    // the overlap span. The interval-interval sibling of j9's
    // point-in-interval: both sides binned, (user, bin) equi-join,
    // each pair kept only in its canonical overlap-start bin (no
    // corpus-wide DISTINCT). ----
    Query("j12_interval_overlap", "interval-OVERLAP join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts").cast("timestamp_ltz").as("v_start"),
            (col("ts").cast("timestamp_ltz") +
              expr("INTERVAL 2 HOURS")).as("v_end"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").cast("timestamp_ltz").as("c_start"),
            (col("ts").cast("timestamp_ltz") +
              expr("INTERVAL 1 HOUR")).as("c_end"))
        Joins.intervalOverlapJoin(views, clicks, Seq("user_id"),
            "v_start", "v_end", "c_start", "c_end", binSeconds = 3600)
          .select(col("user_id"), col("view_id"), col("click_id"),
            greatest(col("v_start"), col("c_start")).as("o_start"),
            least(col("v_end"), col("c_end")).as("o_end"))
      },
      // nonempty-overlap join: max(start) < min(end), half-open
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS v_start,
        |    ts + INTERVAL 2 HOUR AS v_end
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_start,
        |    ts + INTERVAL 1 HOUR AS c_end
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  greatest(v_start, c_start) AS o_start,
        |  least(v_end, c_end) AS o_end
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND greatest(v_start, c_start) < least(v_end, c_end)""".stripMargin),

    // ---- J13: grid-blocked ε-distance spatial join — customers vs
    // suppliers on deterministic synthetic planar coordinates (modular
    // arithmetic on the keys, exactly replayable in SQL); cell-binned
    // equi-join with a 3×3 neighborhood explode on the supplier side
    // only, no cross product, no trig (squared-distance predicate is
    // exact IEEE). ----
    Query("j13_eps_join", "grid-blocked ε-distance spatial join",
      (s, dir) => {
        def coord(k: Column, m: Long): Column =
          (pmod(k.cast("long") * lit(m), lit(1000L)).cast("double") /
            lit(10.0))
        val cust = t(s, dir, "customer").select(
          col("c_custkey"),
          coord(col("c_custkey"), 7919L).as("cx"),
          coord(col("c_custkey"), 104729L).as("cy"))
        val supp = t(s, dir, "supplier").select(
          col("s_suppkey"),
          coord(col("s_suppkey"), 7919L).as("sx"),
          coord(col("s_suppkey"), 104729L).as("sy"))
        Joins.epsilonDistanceJoin(cust, supp, "cx", "cy", "sx", "sy",
            eps = 1.5)
          .select(col("c_custkey"), col("s_suppkey"), col("dist2"))
      },
      // brute-force ε-join on the same deterministic synthetic coords;
      // squared-distance predicate — no trig, exact IEEE both engines
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 10.0 AS cx,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 10.0 AS cy
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 10.0 AS sx,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 10.0 AS sy
        |  FROM supplier)
        |SELECT c_custkey, s_suppkey,
        |  ROUND((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy), 6)
        |    AS dist2
        |FROM c, s
        |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
        |      <= 1.5 * 1.5""".stripMargin),

    // ---- J15: point-in-time (SCD2 temporal) join — each order picks
    // the customer-segment VERSION valid at its order date from a
    // two-version synthesized history; rides the as-of join's
    // single-exchange union+LOCF plan instead of a quadratic BETWEEN
    // range join. ----
    Query("j15_scd2_asof", "point-in-time (SCD2 temporal) join",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val t0 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
        val t1 = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
        val moved = pmod(col("c_custkey"), lit(7)) === 0
        val v1 = cust.select(col("c_custkey"),
          col("c_mktsegment").as("segment"), t0.as("valid_from"),
          when(moved, t1).otherwise(lit(null).cast("timestamp"))
            .as("valid_to"))
        val v2 = cust.filter(moved).select(col("c_custkey"),
          lit("MOVED").as("segment"), t1.as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
        val history = v1.unionByName(v2)
        Joins.pointInTimeJoin(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey").as("c_custkey"), col("o_orderdate")),
          history, Seq("c_custkey"), "o_orderdate",
          "valid_from", "valid_to", Seq("segment"))
      },
      // the BETWEEN formulation is the oracle; the engine's as-of plan
      // must pick the identical covering version
      """WITH h AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |    TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
        |    CASE WHEN c_custkey % 7 = 0
        |         THEN TIMESTAMP '1998-01-01 00:00:00' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED',
        |    TIMESTAMP '1998-01-01 00:00:00', NULL
        |  FROM customer WHERE c_custkey % 7 = 0)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate,
        |  h.segment
        |FROM orders o
        |LEFT JOIN h ON h.c_custkey = o.o_custkey
        |  AND o.o_orderdate >= h.valid_from
        |  AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)""".stripMargin),

    // ---- J18: NEAREST as-of join — each error matched to the
    // closest view (before OR after) of the same user within 2h,
    // ties backward; two window passes on ONE exchange+sort. ----
    Query("j18_asof_nearest", "NEAREST as-of join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("ts"))
        val views = ops.WindowOps.dedupKeepLast(
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"),
              col("event_id").as("view_event_id")),
          Seq("user_id", "ts"), Seq(col("view_event_id")))
        ops.Joins.asOfJoinNearest(errors, views, Seq("user_id"),
            "ts", "ts", Seq("view_event_id"), toleranceSeconds = 7200)
          .select(col("user_id"), col("event_id"),
            col("ts").cast("timestamp_ltz").cast("double").as("ts_epoch"),
            col("view_event_id"),
            col("matched_time").cast("timestamp_ltz").cast("double")
              .as("matched_epoch"),
            col("direction"))
      },
      // brute nearest: per error the min-|delta| view within tolerance,
      // ties to the backward side; right deduped keep-last per (user,ts)
      """WITH l AS (
        |  SELECT user_id, event_id, epoch(ts) AS lt
        |  FROM events WHERE event_type = 'error'),
        |r AS (
        |  SELECT user_id, epoch(ts) AS rt, view_event_id
        |  FROM (
        |    SELECT user_id, ts, event_id AS view_event_id,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT l.user_id, l.event_id, l.lt, r.rt, r.view_event_id,
        |    row_number() OVER (PARTITION BY l.user_id, l.event_id
        |      ORDER BY abs(l.lt - r.rt),
        |        CASE WHEN r.rt <= l.lt THEN 0 ELSE 1 END) AS rn
        |  FROM l JOIN r ON r.user_id = l.user_id
        |  WHERE abs(l.lt - r.rt) <= 7200.0)
        |SELECT l.user_id, l.event_id, l.lt AS ts_epoch,
        |  c.view_event_id, c.rt AS matched_epoch,
        |  CASE WHEN c.rt IS NULL THEN NULL
        |       WHEN c.rt <= l.lt THEN 'backward'
        |       ELSE 'forward' END AS direction
        |FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
        |  ON c.user_id = l.user_id AND c.event_id = l.event_id"""
        .stripMargin),

    // ---- J16: Fellegi–Sunter probabilistic record linkage — the
    // clean customer file linked against a deterministically DIRTIED
    // copy (middle-char name typo every 7th key, reformatted name
    // every 13th, segment wiped every 11th, balance shifted by a
    // key-derived offset). Blocking on the name's last-3 digits keeps
    // the pair stage Σ|block|² (never all-pairs); four field weights
    // (JW-name, exact nation/segment, balance-within-50) enter the
    // plan as round-6 decimal literals; decisions at lower=0/upper=6.
    // maxBucket=10000 is the degenerate-block guard (unexercised on
    // this corpus — blocks are ~key-collision sized — so the oracle
    // replays uncapped). ----
    Query("j16_linkage", "Fellegi–Sunter probabilistic record linkage",
      (s, dir) =>
        linkageScored(s, dir)
          .filter(col("decision") =!= "non_match")
          .select(col("a_c_custkey").as("a_key"),
            col("b_c_custkey").as("b_key"), col("name_agree"),
            col("nation_agree"), col("segment_agree"),
            col("balance_agree"), col("score"), col("decision")),
      // Fellegi–Sunter replay: same dirty copy, same last-3 blocking,
      // DuckDB's own jaro_winkler_similarity (cross-implementation),
      // weights as ROUND(ln(m/u), 6) decimals summed exactly; cap
      // unexercised on this corpus so the oracle joins uncapped
      (LinkageOracleCtes +
        """
          |SELECT ak AS a_key, bk AS b_key, name_agree, nation_agree,
          |  segment_agree, balance_agree, score,
          |  CASE WHEN score >= 6.0 THEN 'match'
          |       WHEN score <= 0.0 THEN 'non_match'
          |       ELSE 'review' END AS decision
          |FROM sc
          |WHERE NOT (score <= 0.0)""".stripMargin)),

    // ---- J17: entity-resolution clustering — the full ER pipeline:
    // j16's blocked Fellegi–Sunter matches become edges (clean record
    // = 2·key, dirty = 2·key+1 — numeric, collision-free), pointer-
    // jumping connected components assign each matched record its
    // entity id (the min node id of its component). Records with no
    // match edge are absent (stated contract — singletons are their
    // own entity). ----
    Query("j17_entity_clusters", "entity-resolution clustering",
      (s, dir) =>
        ops.Linkage.entityClusters(
          linkageScored(s, dir).filter(col("decision") === "match"),
          "a_c_custkey", "b_c_custkey", "clean", "dirty"),
      // j16's matches as edges -> recursive min-label connected
      // components (the t_dedup_clusters CC pattern), node ids 2k/2k+1
      (LinkageOracleCtes.replace("WITH a AS (",
        "WITH RECURSIVE a AS (") +
        """,
          |m AS (SELECT ak * 2 AS id1, bk * 2 + 1 AS id2 FROM sc
          |      WHERE score >= 6.0),
          |edges AS (SELECT id1, id2 FROM m
          |          UNION ALL SELECT id2, id1 FROM m),
          |reach(id, r) AS (
          |  SELECT DISTINCT id1, id1 FROM edges
          |  UNION
          |  SELECT e.id1, reach.r FROM edges e JOIN reach ON e.id2 = reach.id),
          |cl AS (SELECT id, MIN(r) AS entity_id FROM reach GROUP BY id)
          |SELECT CASE WHEN id % 2 = 0 THEN 'clean' ELSE 'dirty' END AS file,
          |  id // 2 AS record_key, entity_id
          |FROM cl""".stripMargin)),

    // every customer has orders in the synthetic tables, so the orders
    // side drops custkeys divisible by 10: those customers survive
    Query("j_anti", "anti join (§2.3 note: QC parity)",
      (s, dir) => {
        val withOrders = t(s, dir, "orders")
          .filter(col("o_custkey") % 10 =!= 0)
          .select(col("o_custkey").as("c_custkey"))
        Joins.anti(t(s, dir, "customer"), withOrders, Seq("c_custkey"))
          .select("c_custkey", "c_name")
      },
      // NOT EXISTS is left_anti's semantics; NOT IN would return no row
      // once the subquery yields a NULL
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_custkey % 10 <> 0)"""
        .stripMargin),

    Query("j6_regex_vocab", "§2.3 J6 regex theta-join (vocab word-boundary match)",
      (s, dir) => {
        val vocab = t(s, dir, "part")
          .select(split(col("p_name"), " ").getItem(0).as("term")).distinct()
        Joins.regexVocabJoin(t(s, dir, "documents"), vocab, "text", "term")
          .select("doc_id", "term")
      },
      """SELECT d.doc_id, t.term
        |FROM documents d
        |CROSS JOIN (SELECT DISTINCT split_part(p_name, ' ', 1) AS term FROM part) t
        |WHERE regexp_matches(d.text, '(?i)\b' || t.term || '\b')""".stripMargin),

    // ---- J19: blocked edit-distance self-join — typo-class fuzzy
    // matching of customer names within nation blocks; banded
    // levenshtein (threshold sentinel −1) behind a necessary length
    // filter; a<b orders the pair once. ----
    // blk4 key (nation + leading name digits): the measured
    // scale-safe block — flat 1.19x at 30x where nation-only grew
    // candidates ~900x (BENCH_SF1.md j19 sweep). The recall trade
    // (a typo INSIDE the 4 leading digits separates the pair) is the
    // stated single-pass contract; j20_multipass is the recovery.
    Query("j19_edit_join", "blocked edit-distance self-join",
      (s, dir) => {
        // project to the join's working set BEFORE pair expansion: the
        // candidate pairs are the cost center (4.9M rows), and every
        // unprojected column (c_comment is ~70 chars, c_address ~25)
        // rides the block join TWICE (a_/b_ prefixed) — ~10× the bytes
        // through the shuffle for columns the query never returns
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        ops.Linkage.editDistanceJoin(c, c,
            concat(col("a_c_nationkey"), lit(":"),
              substring(col("a_c_name"), 10, 4)),
            concat(col("b_c_nationkey"), lit(":"),
              substring(col("b_c_name"), 10, 4)),
            "c_name", "c_name", maxDist = 2)
          .filter(col("a_c_custkey") < col("b_c_custkey"))
          .select(col("a_c_custkey"), col("b_c_custkey"),
            col("edit_dist"))
      },
      // DuckDB's own levenshtein as the cross-impl distance oracle;
      // the blk4 block equality (nation + leading 4 name digits) and
      // the length filter are restated so the candidate set matches
      """SELECT a.c_custkey AS a_c_custkey,
        |  b.c_custkey AS b_c_custkey,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND substring(a.c_name, 10, 4) = substring(b.c_name, 10, 4)
        |  AND a.c_custkey < b.c_custkey
        |WHERE a.c_name IS NOT NULL AND b.c_name IS NOT NULL
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 2
        |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin),

    // ---- J: multi-pass blocked edit-distance join — the recall
    // recovery for j19's fine block: TWO complementary fine keys
    // (nation + LEADING 4 name digits, nation + TRAILING 4), pairs
    // unioned + deduped, then the same banded-levenshtein tail. A
    // pair typo'd inside one key's digit window survives via the
    // other pass. ----
    Query("j20_multipass", "multi-pass blocked edit-distance join",
      (s, dir) => {
        // same pre-pair projection as j19 — doubly load-bearing here:
        // the cross-pass distinct's pair identity is the full prefixed
        // row, so slim rows cut both the union shuffle AND the dedup
        // (custkey is a key — the dedup grain is unchanged)
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        ops.Linkage.blockedPairsMultiPass(c, c, Seq(
            (concat(col("a_c_nationkey"), lit(":"),
               substring(col("a_c_name"), 10, 4)),
             concat(col("b_c_nationkey"), lit(":"),
               substring(col("b_c_name"), 10, 4))),
            (concat(col("a_c_nationkey"), lit(":"),
               substring(col("a_c_name"), 15, 4)),
             concat(col("b_c_nationkey"), lit(":"),
               substring(col("b_c_name"), 15, 4)))))
          .filter(col("a_c_custkey") < col("b_c_custkey"))
          .filter(abs(length(col("a_c_name")) -
            length(col("b_c_name"))) <= 2)
          .withColumn("edit_dist",
            levenshtein(col("a_c_name"), col("b_c_name"), 2)
              .cast("long"))
          .filter(col("edit_dist") >= 0 && col("edit_dist") <= 2)
          .select(col("a_c_custkey"), col("b_c_custkey"),
            col("edit_dist"))
      },
      // both blocking passes replayed (leading-4 and trailing-4 digit
      // windows), pair-union dedup'd, then the identical distance tail
      """WITH u AS (
        |  SELECT DISTINCT a_c_custkey, b_c_custkey, an, bn FROM (
        |    SELECT a.c_custkey AS a_c_custkey,
        |      b.c_custkey AS b_c_custkey,
        |      a.c_name AS an, b.c_name AS bn
        |    FROM customer a JOIN customer b
        |      ON a.c_nationkey = b.c_nationkey
        |      AND substring(a.c_name, 10, 4) = substring(b.c_name, 10, 4)
        |    UNION ALL
        |    SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        |    FROM customer a JOIN customer b
        |      ON a.c_nationkey = b.c_nationkey
        |      AND substring(a.c_name, 15, 4) = substring(b.c_name, 15, 4)))
        |SELECT a_c_custkey, b_c_custkey,
        |  CAST(levenshtein(an, bn) AS BIGINT) AS edit_dist
        |FROM u
        |WHERE a_c_custkey < b_c_custkey
        |  AND an IS NOT NULL AND bn IS NOT NULL
        |  AND abs(length(an) - length(bn)) <= 2
        |  AND levenshtein(an, bn) <= 2""".stripMargin),

    // ---- §2.3/§4 bucketed 3-table ZERO-EXCHANGE assembly (r3 verdict
    // #4): the reference's daily longitudinal join spine — every
    // pipeline equi-joins on the encounter key
    // (/root/reference/code/RCLIF_demographics.Rmd:154,
    // code/RCLIF_medications.Rmd:62-63) — re-expressed on the events
    // table with user_id as the entity key. Co-location is paid ONCE at
    // write time (user_id-bucketed + sorted catalog tables, staged per
    // (JVM, sf dir)); the 3-way join AND the per-user rollup then reuse
    // the bucketing — no shuffle of the fact side, ever
    // (BucketedAssemblySpec pins zero Exchange with broadcast off). ----
    Query("j_bucketed_3way", "§2.3/§4 bucketed 3-table ZERO-EXCHANGE assembly (r3 verdict",
      (s, dir) => {
        val names = stagedBucketedTables.getOrElseUpdate(dir, {
          val sfx = s"s${tableNameSeq.incrementAndGet()}"
          val base = tempDir("graft_bucketed")
          val ev = t(s, dir, "events")
          val parts: Seq[(String, DataFrame)] = Seq(
            s"graft_ev_fact_$sfx" ->
              ev.select("user_id", "event_id", "value"),
            s"graft_ev_clicks_$sfx" ->
              ev.filter(col("event_type") === "click").groupBy("user_id")
                .agg(count(lit(1)).cast("long").as("n_click")),
            s"graft_ev_views_$sfx" ->
              ev.filter(col("event_type") === "view").groupBy("user_id")
                .agg(moneySum(col("value")).as("view_value")))
          parts.foreach { case (name, df) =>
            Scale.writeBucketed(df, name, Seq("user_id"), buckets = 8,
              sortCols = Seq("user_id"), path = Some(s"$base/$name"))
          }
          parts.map(_._1)
        })
        val Seq(factT, clickT, viewT) = names
        s.table(factT)
          .join(s.table(clickT), Seq("user_id"))
          .join(s.table(viewT), Seq("user_id"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            max(col("n_click")).cast("long").as("n_click"),
            max(col("view_value")).as("view_value"))
      },
      """WITH clicks AS (
        |  SELECT user_id, COUNT(*) AS n_click FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |views AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id)
        |SELECT e.user_id, COUNT(*) AS n_events,
        |  MAX(c.n_click) AS n_click, MAX(v.view_value) AS view_value
        |FROM events e
        |JOIN clicks c ON e.user_id = c.user_id
        |JOIN views v ON e.user_id = v.user_id
        |GROUP BY e.user_id""".stripMargin)
  )
}
