package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.text.TextOps

import Fixtures._

/** Graph queries (prefix g): PageRank, personalized PageRank, triangles,
  * k-core and label propagation. */
object GraphQueries {

  /** The damped-PageRank 2-round replay over an arbitrary edges CTE
    * `e(src, dst, w)`: round-6 transition probs, dangling mass,
    * IEEE-pinned teleport constant, final (node, pagerank) select —
    * ONE copy shared by the g_pagerank and t_link_graph oracles so
    * the two replays cannot drift (the scattered-copies lesson of
    * the hostOf trailing-dot patch). */
  private[queries] val PageRankReplayChassis: String =
    """p AS (
      |  SELECT src, dst,
      |    CAST(ROUND(CAST(w AS DOUBLE) /
      |      CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS p
      |  FROM e),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |srcs AS (SELECT DISTINCT src AS node FROM e),
      |r0 AS (
      |  SELECT node,
      |    CAST(ROUND(CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS r
      |  FROM nodes, nn),
      |d1 AS (
      |  SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(18,6)) AS dang
      |  FROM r0 WHERE node NOT IN (SELECT node FROM srcs)),
      |c1 AS (
      |  SELECT p.dst AS node,
      |    CAST(SUM(CAST(ROUND(r0.r * p.p, 6) AS DECIMAL(18,6)))
      |      AS DECIMAL(18,6)) AS c
      |  FROM p JOIN r0 ON p.src = r0.node GROUP BY 1),
      |r1 AS (
      |  SELECT nodes.node,
      |    CAST(ROUND(
      |      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
      |        / CAST(nn.n AS DOUBLE)
      |      + CAST(0.85 AS DOUBLE) *
      |        (CAST(COALESCE(c1.c, CAST(0 AS DECIMAL(18,6)))
      |           AS DOUBLE)
      |         + CAST(d1.dang AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS r
      |  FROM nodes LEFT JOIN c1 ON c1.node = nodes.node, nn, d1),
      |d2 AS (
      |  SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(18,6)) AS dang
      |  FROM r1 WHERE node NOT IN (SELECT node FROM srcs)),
      |c2 AS (
      |  SELECT p.dst AS node,
      |    CAST(SUM(CAST(ROUND(r1.r * p.p, 6) AS DECIMAL(18,6)))
      |      AS DECIMAL(18,6)) AS c
      |  FROM p JOIN r1 ON p.src = r1.node GROUP BY 1),
      |r2 AS (
      |  SELECT nodes.node,
      |    CAST(ROUND(
      |      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
      |        / CAST(nn.n AS DOUBLE)
      |      + CAST(0.85 AS DOUBLE) *
      |        (CAST(COALESCE(c2.c, CAST(0 AS DECIMAL(18,6)))
      |           AS DOUBLE)
      |         + CAST(d2.dang AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS r
      |  FROM nodes LEFT JOIN c2 ON c2.node = nodes.node, nn, d2)
      |SELECT node, CAST(r AS DOUBLE) AS pagerank FROM r2""".stripMargin

  /** The term co-occurrence edges every graph oracle starts from: lower-cased
    * tokens per doc, then CTE `cooc`, token pairs (t1 <= t2) within a
    * 2-token window seen at least 5 times. */
  private val CooccurCtes: String =
    """tk AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |t0 AS (
      |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
      |  FROM tk),
      |cooc AS (
      |  SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2
      |  FROM t0 a JOIN t0 b
      |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- G1: per-node triangle counts over the term co-occurrence
    // graph — node-iterator with DEGREE ORIENTATION (edges directed
    // low→high degree), so every triangle is enumerated exactly once
    // and wedge work is bounded by Σ outdeg² with out-degrees capped
    // O(√m) — hub terms cost the answer, not hub-degree². Oracle
    // counts the same triangles by canonical vertex order (an
    // INDEPENDENT enumeration strategy). ----
    Query("g_triangles", "per-node triangle counts over the term co-occurrence",
      (s, dir) =>
        Graphs.triangleCounts(
          TextOps.gloveCooccur(t(s, dir, "documents"), "text",
            window = 2, minCount = 5),
          "t1", "t2"),
      // independent enumeration: canonical-order (x<y<z) triangle join,
      // not the engine's degree orientation — same triangles exactly once
      s"""WITH $CooccurCtes,
        |ed AS (SELECT DISTINCT t1 AS u, t2 AS v FROM cooc WHERE t1 <> t2),
        |tri AS (
        |  SELECT a.u AS x, a.v AS y, b.v AS z
        |  FROM ed a
        |  JOIN ed b ON a.v = b.u
        |  JOIN ed c ON c.u = a.u AND c.v = b.v),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, COUNT(*) AS n_triangles
        |FROM corners GROUP BY 1""".stripMargin),

    // ---- G3: k-core decomposition (k=4) of the term co-occurrence
    // graph — iterative peel, ≤ 8 rounds, early stop the round
    // nothing peels; early stop == full replay (a converged graph
    // peels nothing), so the oracle unrolls exactly 8 rounds. ----
    Query("g_kcore", "k-core decomposition (k=4) of the term co-occurrence",
      (s, dir) =>
        Graphs.kCore(
          TextOps.gloveCooccur(t(s, dir, "documents"), "text",
            window = 2, minCount = 5),
          "t1", "t2", k = 4, rounds = 8),
      // all 8 peel rounds unrolled (early stop == full replay: a
      // converged graph peels nothing) over the g_triangles edge CTE
      {
        val base =
          s"""WITH $CooccurCtes,
            |e0 AS MATERIALIZED (SELECT DISTINCT t1 AS u, t2 AS v
            |       FROM cooc WHERE t1 <> t2)""".stripMargin
        // MATERIALIZED: each round references the previous edge CTE
        // three times — default inlining would expand the base scan 3^8
        // times (measured: "Too many open files")
        val roundsSql = (1 to 8).map { i =>
          s"""b$i AS MATERIALIZED (
             |  SELECT n FROM (SELECT u AS n FROM e${i - 1}
             |                 UNION ALL SELECT v FROM e${i - 1})
             |  GROUP BY n HAVING COUNT(*) < 4),
             |e$i AS MATERIALIZED (
             |  SELECT u, v FROM e${i - 1}
             |  WHERE u NOT IN (SELECT n FROM b$i)
             |    AND v NOT IN (SELECT n FROM b$i))""".stripMargin
        }.mkString(",\n")
        s"""$base,
           |$roundsSql
           |SELECT node, COUNT(*) AS core_degree FROM (
           |  SELECT u AS node FROM e8 UNION ALL SELECT v FROM e8)
           |GROUP BY node""".stripMargin
      }),

    // ---- G4: label-propagation communities (3 rounds) on the term
    // co-occurrence graph — deterministic LPA (most frequent neighbor
    // label, ties to the smallest); early stop only at a fixpoint,
    // which is invariant under replaying the full budget. ----
    Query("g_labelprop", "label-propagation communities (3 rounds) on the term",
      (s, dir) =>
        Graphs.labelPropagation(
          TextOps.gloveCooccur(t(s, dir, "documents"), "text",
            window = 2, minCount = 5),
          "t1", "t2", rounds = 3),
      // all 3 LPA rounds unrolled; argmax = ROW_NUMBER (count desc,
      // label) — the same deterministic tiebreak as the Spark window
      {
        val base =
          s"""WITH $CooccurCtes,
            |e0 AS MATERIALIZED (SELECT DISTINCT t1 AS u, t2 AS v
            |       FROM cooc WHERE t1 <> t2),
            |adj AS MATERIALIZED (
            |  SELECT u AS n, v AS m FROM e0
            |  UNION ALL SELECT v AS n, u AS m FROM e0),
            |l0 AS MATERIALIZED (
            |  SELECT node, node AS label FROM
            |    (SELECT u AS node FROM e0 UNION SELECT v FROM e0))"""
            .stripMargin
        val roundsSql = (1 to 3).map { i =>
          s"""c$i AS (
             |  SELECT a.n, l.label, COUNT(*) AS c
             |  FROM adj a JOIN l${i - 1} l ON l.node = a.m
             |  GROUP BY 1, 2),
             |l$i AS MATERIALIZED (
             |  SELECT n AS node, label FROM (
             |    SELECT n, label, ROW_NUMBER() OVER (
             |      PARTITION BY n ORDER BY c DESC, label) AS r
             |    FROM c$i) WHERE r = 1)""".stripMargin
        }.mkString(",\n")
        s"""$base,
           |$roundsSql
           |SELECT node, label AS community FROM l3""".stripMargin
      }),

    // ---- G2: damped PageRank over the customer→supplier purchase
    // graph (edge weight = lineitem count) — TWO unrolled iterations
    // with teleport AND dangling-mass redistribution genuinely
    // exercised (every supplier is a sink in this bipartite
    // direction). Node ids prefixed c/s so the two key spaces never
    // collide. Ranks stay distributed; the dangling sum and N are
    // the only scalars. Oracle replays both rounds in SQL. ----
    // ---- G: personalized PageRank — restart mass on the nation-1
    // customer cohort; rank flows to the suppliers that cohort
    // actually reaches ("suppliers of customers like these"), with
    // dangling mass teleporting back to the seeds (the PPR
    // convention). Same bipartite graph as g_pagerank. ----
    Query("g_ppr", "personalized PageRank",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val edges = li
          .join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("w"))
        val seeds = t(s, dir, "customer")
          .filter(col("c_nationkey") === 1)
          .select(concat(lit("c"), col("c_custkey")).as("id"))
        Graphs.personalizedPageRank(edges, "src", "dst", col("w"),
          seeds, "id", damping = 0.85, iters = 2)
      },
      // both PageRank rounds replayed: exact long/long out-probs
      // rounded once, decimal rank·p sums, dangling mass redistributed;
      // every double literal forced to DOUBLE so the teleport constant
      // folds to the same IEEE value as Spark's lit(1.0) - lit(0.85)
      // both PPR rounds replayed: seed restart vector s (uniform over
      // the in-graph cohort), dangling mass times s, round-6 iterates
      {
        val base =
          """WITH e AS (
            |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
            |    's' || CAST(l_suppkey AS VARCHAR) AS dst,
            |    COUNT(*) AS w
            |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |  GROUP BY 1, 2),
            |p AS (
            |  SELECT src, dst,
            |    CAST(ROUND(CAST(w AS DOUBLE) /
            |      CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE), 6)
            |      AS DECIMAL(18,6)) AS p
            |  FROM e),
            |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            |srcs AS (SELECT DISTINCT src AS node FROM e),
            |sd AS (
            |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
            |  FROM customer WHERE c_nationkey = 1),
            |sdg AS (SELECT node FROM sd WHERE node IN
            |  (SELECT node FROM nodes)),
            |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sdg),
            |sv AS (
            |  SELECT nodes.node,
            |    CASE WHEN sdg.node IS NOT NULL THEN
            |      CAST(ROUND(CAST(1.0 AS DOUBLE) / CAST(ns.ns AS DOUBLE),
            |        6) AS DECIMAL(18,6))
            |    ELSE CAST(0 AS DECIMAL(18,6)) END AS s
            |  FROM nodes LEFT JOIN sdg ON sdg.node = nodes.node, ns),
            |r0 AS (SELECT node, s AS r FROM sv)""".stripMargin
        val rounds = (1 to 2).map { k =>
          s"""d$k AS (
  SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(18,6)) AS dang
  FROM r${k - 1} WHERE node NOT IN (SELECT node FROM srcs)),
c$k AS (
  SELECT p.dst AS node,
    CAST(SUM(CAST(ROUND(r${k - 1}.r * p.p, 6) AS DECIMAL(18,6)))
      AS DECIMAL(18,6)) AS c
  FROM p JOIN r${k - 1} ON p.src = r${k - 1}.node GROUP BY 1),
r$k AS (
  SELECT sv.node,
    CAST(ROUND(
      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
        * CAST(sv.s AS DOUBLE)
      + CAST(0.85 AS DOUBLE) *
        (CAST(COALESCE(c$k.c, CAST(0 AS DECIMAL(18,6))) AS DOUBLE)
         + CAST(d$k.dang AS DOUBLE) * CAST(sv.s AS DOUBLE)), 6)
      AS DECIMAL(18,6)) AS r
  FROM sv LEFT JOIN c$k ON c$k.node = sv.node, d$k)"""
        }.mkString(",\n")
        s"$base,\n$rounds\nSELECT node, CAST(r AS DOUBLE) AS ppr FROM r2"
      }),

    Query("g_pagerank", "damped PageRank over the customer-to-supplier graph",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val edges = li
          .join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("w"))
        Graphs.pageRank(edges, "src", "dst", col("w"),
          damping = 0.85, iters = 2)
      },
      (s"""WITH e AS (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst,
        |    COUNT(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),""".stripMargin + "\n" +
        PageRankReplayChassis))
  )
}
