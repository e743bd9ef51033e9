package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.text.TextOps
import graft.functions.NativeExpressions

import Fixtures._

/** Relational core of the board (key prefixes q, p, f, o, r, u): the
  * flagship aggregate, projection and filters, scalar functions, sort,
  * reshape and set operations. */
object RelationalQueries {
  val queries: Seq[Query] = Seq(
    Query("q1_agg", "§2.4 A1 + flagship agg (q1): group agg with exact sums",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            moneySum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_price"),
            (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("n"))
      },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Query("p1_project", "§2.2 P1 projection",
      (s, dir) =>
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem"),

    Query("p2_drop", "§2.2 P2 negative projection (drop)",
      (s, dir) => t(s, dir, "events").drop("props", "value"),
      "SELECT event_id, ts, user_id, event_type FROM events"),

    Query("p3_rename", "§2.2 P3 rename",
      (s, dir) =>
        t(s, dir, "customer")
          .withColumnRenamed("c_name", "customer_name")
          .withColumnRenamed("c_acctbal", "account_balance")
          .select("c_custkey", "customer_name", "account_balance"),
      """SELECT c_custkey, c_name AS customer_name, c_acctbal AS account_balance
        |FROM customer""".stripMargin),

    // every customer has orders in the synthetic tables, so the orders
    // side drops custkeys divisible by 10: those customers get a null side
    Query("p4_filter_null", "§2.2 P4 null-predicate filter (over a left join's null side)",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_custkey") % 10 =!= 0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .filter(col("o_orderkey").isNull)
          .select("c_custkey", "c_name")
      },
      """SELECT c_custkey, c_name FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_custkey % 10 <> 0) o
        |  ON c_custkey = o.o_custkey
        |WHERE o.o_orderkey IS NULL""".stripMargin),

    Query("p5_filter_in", "§2.2 P5 IN-list filter",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_returnflag").isin("A", "R"))
          .select("l_orderkey", "l_linenumber", "l_returnflag"),
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_returnflag IN ('A','R')""".stripMargin),

    Query("p6_filter_cmp", "§2.2 P6 comparison filter",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_quantity > 45 AND l_discount < 0.05""".stripMargin),

    Query("p7_filter_pattern", "§2.2 P7 pattern filter (contains + anchored regex)",
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_name").contains("widget") && col("p_type").rlike("^ECO"))
          .select("p_partkey", "p_name", "p_type"),
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%widget%' AND regexp_matches(p_type, '^ECO')""".stripMargin),

    Query("p8_filter_ts_range", "§2.2 P8 timestamp-range filter (partition-prunable)",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select("l_orderkey", "l_linenumber", "l_shipdate"),
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'""".stripMargin),

    Query("p9_cast_filter", "§2.2 P9 castability filter + §2.8 F-extract",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k",
            Scalars.toNumeric(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1))
              .cast("int"))
          .filter(Scalars.isNumeric(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)))
          .select("event_id", "k"),
      """SELECT event_id,
        |  CAST(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE) AS INT) AS k
        |FROM events
        |WHERE TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE) IS NOT NULL""".stripMargin),

    // ---- F: Jaro / Jaro–Winkler scalar surface — four string-pair
    // shapes per part row (reversal = transposition stress, brand =
    // cross-format, plural = prefix boost, case flip = byte
    // inequality), each oracled against DuckDB's independent
    // implementation. ----
    Query("f_jaro_winkler", "Jaro / Jaro–Winkler scalar surface",
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          round(NativeExpressions.jaro_sim(
            col("p_name"), reverse(col("p_name"))), 6).as("j_rev"),
          round(NativeExpressions.jaro_winkler_sim(
            col("p_name"), col("p_brand")), 6).as("jw_brand"),
          round(NativeExpressions.jaro_winkler_sim(
            col("p_name"), concat(col("p_name"), lit("s"))), 6)
            .as("jw_plural"),
          round(NativeExpressions.jaro_winkler_sim(
            upper(col("p_name")), col("p_name")), 6).as("jw_case"))
          .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  ROUND(jaro_similarity(p_name, reverse(p_name)), 6) AS j_rev,
        |  ROUND(jaro_winkler_similarity(p_name, p_brand), 6) AS jw_brand,
        |  ROUND(jaro_winkler_similarity(p_name, p_name || 's'), 6)
        |    AS jw_plural,
        |  ROUND(jaro_winkler_similarity(upper(p_name), p_name), 6)
        |    AS jw_case
        |FROM part""".stripMargin),

    Query("o1_sort_limit", "§2.6 O1/O2/O3 sort + limit (deterministic top-k)",
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select("o_orderkey", "o_totalprice")
          .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    Query("u1_union", "§2.7 U1 union same-schema",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val y95 = li.filter(year(col("l_shipdate")) === 1995)
        val y97 = li.filter(year(col("l_shipdate")) === 1997)
        y95.union(y97).select("l_orderkey", "l_linenumber", "l_shipdate")
      },
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE year(l_shipdate) = 1995
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE year(l_shipdate) = 1997""".stripMargin),

    Query("u2_union_by_name", "§2.7 U2 union by name with missing columns",
      (s, dir) => {
        val c = t(s, dir, "customer").select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), lit("customer").as("src"))
        val su = t(s, dir, "supplier").select(
          col("s_suppkey").as("id"), col("s_name").as("name"),
          col("s_nationkey").cast("int").as("nationkey"), lit("supplier").as("src"))
        c.unionByName(su, allowMissingColumns = true)
      },
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |  'customer' AS src, CAST(NULL AS INT) AS nationkey
        |FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE), 'supplier', CAST(s_nationkey AS INT)
        |FROM supplier""".stripMargin),

    Query("u3_intersect", "§2.7 U3/U4 intersect / except (distinct set semantics)",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
          .intersect(
            o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
      },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin),

    Query("u4_except", "§2.7 U4 except (distinct set semantics)",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
          .except(
            o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
      },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin),

    Query("r1_unpivot", "§2.7 R1 unpivot (wide -> long)",
      (s, dir) =>
        Reshape.unpivot(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
          ids = Seq("l_orderkey", "l_linenumber"),
          values = Seq("l_quantity", "l_discount"),
          nameCol = "measure", valueCol = "value"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin),

    Query("r2_pivot", "§2.7 R2 pivot (long -> wide, declared names)",
      (s, dir) =>
        Reshape.pivotWider(t(s, dir, "lineitem"),
          ids = Seq("l_returnflag"), nameCol = "l_linestatus",
          valueCol = "l_quantity", names = Seq("F", "O"),
          agg = c => moneySum(c)),
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("r3_separate", "§2.7 R3 separate one column -> two",
      (s, dir) =>
        Reshape.separate(t(s, dir, "orders"), "o_orderpriority", "-",
            Seq("prio_code", "prio_label"))
          .select("o_orderkey", "prio_code", "prio_label"),
      """SELECT o_orderkey, split_part(o_orderpriority, '-', 1) AS prio_code,
        |  split_part(o_orderpriority, '-', 2) AS prio_label
        |FROM orders""".stripMargin),

    Query("r4_explode", "§2.7 R4 explode / unnest",
      (s, dir) =>
        Reshape.unnest(t(s, dir, "part"), split(col("p_name"), " "), "word",
          Seq("p_partkey")),
      "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part"),

    Query("f_string", "§2.8 string functions (F1-F7 family)",
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_type")).as("type_u"),
          substring(col("p_name"), 1, 3).as("name3"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
          Scalars.firstWords(col("p_name"), 1).as("first_word"),
          length(col("p_name")).cast("bigint").as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type")),
      """SELECT p_partkey, UPPER(p_type) AS type_u, substr(p_name, 1, 3) AS name3,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part""".stripMargin),

    Query("f_parse_number", "§2.8 dose parsing (F4/F5/F6 family) over synthetic strings",
      (s, dir) =>
        t(s, dir, "events").select(
          col("event_id"),
          Scalars.extractNumber(col("props")).as("num_in_props"),
          Scalars.stripNumber(regexp_replace(col("props"), "[{}\":]", ""))
            .as("unit_in_props")),
      """SELECT event_id,
        |  TRY_CAST(array_to_string(regexp_extract_all(props, '[0-9.]+'), '') AS DOUBLE)
        |    AS num_in_props,
        |  trim(regexp_replace(regexp_replace(props, '[{}":]', '', 'g'), '[0-9.]+', '', 'g'))
        |    AS unit_in_props
        |FROM events""".stripMargin),

    Query("f_datetime", "§2.8 datetime functions (F14-F19 family)",
      (s, dir) =>
        t(s, dir, "events").select(
          col("event_id"),
          year(col("ts")).cast("int").as("y"),
          month(col("ts")).cast("int").as("m"),
          dayofmonth(col("ts")).cast("int").as("d"),
          hour(col("ts")).cast("int").as("h"),
          date_trunc("day", col("ts")).as("day_ts"),
          to_date(col("ts")).cast("string").as("day_date"),
          date_format(col("ts"), "yyyy-MM").as("ym")),
      """SELECT event_id,
        |  CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |  CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
        |  date_trunc('day', ts) AS day_ts,
        |  CAST(CAST(ts AS DATE) AS VARCHAR) AS day_date,
        |  strftime(ts, '%Y-%m') AS ym
        |FROM events""".stripMargin),

    Query("f_conditional", "§2.8 conditional / clamp / coalesce (F9-F13 family)",
      (s, dir) =>
        t(s, dir, "customer").select(
          col("c_custkey"),
          Scalars.caseWhen(Seq(
            (col("c_acctbal") < 0, lit("debt")),
            (col("c_acctbal") < 1000, lit("low")),
            (col("c_acctbal") < 5000, lit("mid"))), lit("high")).as("band"),
          Scalars.clamp(col("c_acctbal"), 0, 5000).as("clamped"),
          Scalars.fallbackIfBlank(col("c_mktsegment"), lit("UNKNOWN")).as("seg")),
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 1000 THEN 'low'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        |  LEAST(GREATEST(c_acctbal, 0), 5000) AS clamped,
        |  CASE WHEN c_mktsegment IS NULL OR c_mktsegment = '' THEN 'UNKNOWN'
        |       ELSE c_mktsegment END AS seg
        |FROM customer""".stripMargin),

    Query("f_hash_id", "§2.8 F8 hash pseudonymization",
      (s, dir) =>
        t(s, dir, "customer").select(
          col("c_custkey"), Scalars.hashId(col("c_name")).as("id_hash")),
      "SELECT c_custkey, sha256(c_name) AS id_hash FROM customer"),

    // ---- §2.8 JSON extraction (semi-structured props column — the
    // log-pipeline staple; get_json_object is codegen'd pathing, no
    // UDF) ----
    Query("f_json_extract", "§2.8 JSON extraction (semi-structured props column",
      (s, dir) =>
        t(s, dir, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          get_json_object(col("props"), "$.missing").as("m")),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.missing') AS m
        |FROM events""".stripMargin),

    // ---- §2.8 MULTI-field JSON extraction (r3 verdict #8): when a
    // query pulls ≥3 fields from one JSON column, parse ONCE with
    // from_json + a schema (one JsonToStructs node — PlanSpec pins it)
    // instead of re-parsing the string per path with get_json_object.
    // The 1-key props column is first enriched into a realistic
    // multi-field payload (to_json over typed columns), so the parse
    // has real work: 4 typed fields out of one document. ----
    Query("f_json_multi", "§2.8 MULTI-field JSON extraction (r3 verdict #8): when a",
      (s, dir) => {
        val payload = to_json(struct(
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("event_type").as("ty"),
          col("user_id").as("uid"),
          col("value").as("v")))
        val parsed = from_json(payload,
          org.apache.spark.sql.types.StructType.fromDDL(
            "k BIGINT, ty STRING, uid BIGINT, v DOUBLE"))
        t(s, dir, "events")
          .select(col("event_id"), parsed.as("doc"))
          .select(col("event_id"), col("doc.k").as("k"),
            col("doc.ty").as("ty"), col("doc.uid").as("uid"),
            col("doc.v").as("v"))
      },
      // the JSON payload is built from typed columns and parsed back, so
      // the oracle recomputes the fields directly (double roundtrip via
      // to_json/from_json is bit-exact: shortest-roundtrip printing)
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  event_type AS ty, user_id AS uid, value AS v
        |FROM events""".stripMargin),

    // ---- F-array: collection-function surface (distinct/sort/slice/
    // contains/reverse over a derived token array) — narrow, each
    // output column an independent cheap projection ----
    Query("f_array_ops", "F-array: collection-function surface (distinct/sort/slice/",
      (s, dir) => {
        def tk = TextOps.tokens(lower(col("text")))
        t(s, dir, "documents").select(col("doc_id"),
          size(tk).cast("long").as("n_tokens"),
          array_join(slice(array_sort(array_distinct(tk)), 1, 5), " ")
            .as("first5"),
          array_contains(tk, "the").as("has_the"),
          array_join(reverse(slice(tk, 1, 3)), " ").as("rev3"))
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  array_to_string(list_sort(list_distinct(tk))[1:5], ' ') AS first5,
        |  list_contains(tk, 'the') AS has_the,
        |  array_to_string(list_reverse(tk[1:3]), ' ') AS rev3
        |FROM t""".stripMargin)
  )
}
