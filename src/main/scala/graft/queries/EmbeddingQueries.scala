package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.sim.Similarity

import Fixtures._

/** Embedding queries (prefix e): exact and approximate nearest neighbours
  * (IVF, PQ, binary), clustering, PCA and retrieval-quality measures. */
object EmbeddingQueries {

  /** Per-JVM cache of the persisted IVF index (path, centroids). */
  private val stagedIvfIndex = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[Seq[Float]])]

  /** Per-JVM cache of the persisted PQ index path. */
  private val stagedPqIndex =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** IVF oracle fragment: portable-hash centroid init (CTE `ic`,
    * nlist 16), query 17 (`qv`) and every vector's round-6 cosine
    * argmax cell (`cells`). */
  private val IvfCellCtes: String =
    s"""ic AS (
      |  SELECT row_number() OVER (
      |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
      |        vec_id) - 1 AS cell,
      |    embedding AS ce
      |  FROM embeddings
      |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
      |  LIMIT 16),
      |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
      |cells AS (
      |  SELECT e.vec_id,
      |    ${nearestCell("ic", "e.embedding")} AS cell
      |  FROM embeddings e)""".stripMargin

  /** IVF oracle fragment: CTE `probed`, the nprobe = 4 cells nearest
    * query 17. */
  private val IvfProbedCte: String =
    s"""probed AS (
      |  SELECT ic.cell FROM ic, qv
      |  ORDER BY ${cos("ic.ce", "qv.qe")}
      |    DESC, ic.cell
      |  LIMIT 4)""".stripMargin

  /** The PQ codebook training replay over the vectors `vec` of
    * `relation` (read as `alias` where a CTE joins it): portable-hash
    * init slices, one Lloyd round (round-6 L2 argmin, lowest code ties;
    * exact-decimal per-dim means narrowed to REAL), then CTE `a2`, every
    * vector's codes against the trained books `cb1`. */
  private def pqTrainCtes(relation: String, alias: String,
                          vec: String): String = {
    val from = if (alias == relation) relation else s"$relation $alias"
    s"""init AS (
      |  SELECT row_number() OVER (
      |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
      |        vec_id) - 1 AS code,
      |    $vec AS e
      |  FROM $relation
      |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
      |  LIMIT 8),
      |subs AS (SELECT unnest(range(4)) AS sub),
      |cb0 AS (
      |  SELECT subs.sub, init.code,
      |    init.e[subs.sub*16 + 1 : subs.sub*16 + 16] AS ce
      |  FROM init, subs),
      |a1 AS (
      |  SELECT $alias.vec_id, s.sub,
      |    (SELECT code FROM cb0 WHERE cb0.sub = s.sub
      |     ORDER BY ROUND(list_sum(list_transform(
      |         list_zip(cb0.ce, $alias.$vec[s.sub*16+1 : s.sub*16+16]),
      |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
      |       code
      |     LIMIT 1) AS code
      |  FROM $from, subs s),
      |m1 AS (
      |  SELECT a.sub, a.code, d.sd,
      |    CAST(CAST(SUM(CAST(ROUND(
      |        CAST($alias.$vec[a.sub*16 + d.sd + 1] AS DOUBLE), 6)
      |        AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS mn
      |  FROM a1 a JOIN $from USING (vec_id),
      |    (SELECT unnest(range(16)) AS sd) d
      |  GROUP BY 1, 2, 3),
      |cb1 AS (
      |  SELECT cb0.sub, cb0.code, COALESCE(l.ml, cb0.ce) AS ce
      |  FROM cb0 LEFT JOIN (
      |    SELECT sub, code, list(mn ORDER BY sd) AS ml
      |    FROM m1 GROUP BY 1, 2) l
      |  USING (sub, code)),
      |a2 AS (
      |  SELECT $alias.vec_id, s.sub,
      |    (SELECT code FROM cb1 WHERE cb1.sub = s.sub
      |     ORDER BY ROUND(list_sum(list_transform(
      |         list_zip(cb1.ce, $alias.$vec[s.sub*16+1 : s.sub*16+16]),
      |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
      |       code
      |     LIMIT 1) AS code
      |  FROM $from, subs s)""".stripMargin
  }

  /** [[pqTrainCtes]] over the raw `embeddings` table, shared by every
    * non-residual PQ oracle. */
  private val PqTrainCtes: String =
    pqTrainCtes("embeddings", "e", "embedding")

  /** The full PQ train+encode+ADC replay (shared by e_pq_topk,
    * e_pq_indexed and the e_pq_recall audit, which embeds it as a
    * subquery). */
  private val PqTopKOracle: String =
    s"""WITH $PqTrainCtes,
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
      |tbl AS (
      |  SELECT cb1.sub, cb1.code,
      |    ROUND(list_sum(list_transform(
      |      list_zip(cb1.ce,
      |        (SELECT qe FROM q)[cb1.sub*16+1 : cb1.sub*16+16]),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
      |  FROM cb1)
      |SELECT a.vec_id,
      |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
      |FROM a2 a JOIN tbl t ON t.sub = a.sub AND t.code = a.code
      |GROUP BY a.vec_id
      |ORDER BY adc_dist, a.vec_id
      |LIMIT 10""".stripMargin

  /** The full two-round Lloyd replay ending in per-vector cluster
    * assignment — shared by e_kmeans and e_cluster_purity. */
  private val KmeansAssignOracle: String =
    s"""WITH c0 AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 8),
        |a1 AS (
        |  SELECT e.vec_id, e.embedding,
        |    ${nearestCell("c0", "e.embedding")} AS cell
        |  FROM embeddings e),
        |dims AS (SELECT unnest(range(0, (SELECT MAX(len(embedding))
        |                                 FROM embeddings))) AS dim),
        |m1 AS (
        |  SELECT a.cell, d.dim,
        |    CAST(CAST(SUM(CAST(ROUND(CAST(a.embedding[d.dim + 1] AS DOUBLE),
        |        6) AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS m
        |  FROM a1 a JOIN dims d ON d.dim < len(a.embedding)
        |  GROUP BY a.cell, d.dim),
        |c1 AS (
        |  SELECT c0.cell, COALESCE(l.ml, c0.ce) AS ce
        |  FROM c0 LEFT JOIN (
        |    SELECT cell, list(m ORDER BY dim) AS ml FROM m1 GROUP BY cell) l
        |  USING (cell)),
        |a2 AS (
        |  SELECT e.vec_id, e.embedding,
        |    ${nearestCell("c1", "e.embedding")} AS cell
        |  FROM embeddings e),
        |m2 AS (
        |  SELECT a.cell, d.dim,
        |    CAST(CAST(SUM(CAST(ROUND(CAST(a.embedding[d.dim + 1] AS DOUBLE),
        |        6) AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS m
        |  FROM a2 a JOIN dims d ON d.dim < len(a.embedding)
        |  GROUP BY a.cell, d.dim),
        |c2 AS (
        |  SELECT c1.cell, COALESCE(l.ml, c1.ce) AS ce
        |  FROM c1 LEFT JOIN (
        |    SELECT cell, list(m ORDER BY dim) AS ml FROM m2 GROUP BY cell) l
        |  USING (cell))
        |SELECT e.vec_id,
        |  CAST(${nearestCell("c2", "e.embedding")} AS INT) AS cluster
        |  FROM embeddings e""".stripMargin

  /** Shared CTE prefix for the PCA oracles: covariance base + k
    * components of 6 power-iteration rounds each, HUGEINT micro-unit
    * discipline, sign-explicit Hotelling deflation between components
    * (Spark `div` truncates toward zero; DuckDB `//` floors, hence
    * the CASE). Returns everything from `WITH` through the last
    * component's `c<k>lam` CTE (no trailing comma). */
  private def pcaOracleCtes(k: Int): String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT embedding AS e FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |n AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
        |sums AS MATERIALIZED (
        |  SELECT u['i'] AS i,
        |    SUM(CAST(ROUND(CAST(u['x'] AS DOUBLE), 6)
        |      AS DECIMAL(18,6))) AS sx
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(e) + 1),
        |      k -> {'i': k - 1, 'x': e[CAST(k AS INT)]})) AS u
        |    FROM e)
        |  GROUP BY 1),
        |cells AS MATERIALIZED (
        |  SELECT u['i'] AS i, u['j'] AS j,
        |    SUM(u['p']) AS sp
        |  FROM (
        |    SELECT unnest(flatten(list_transform(range(1, len(e) + 1),
        |      a -> list_transform(range(1, len(e) + 1),
        |        b -> {'i': a - 1, 'j': b - 1,
        |              'p': CAST(ROUND(
        |                CAST(e[CAST(a AS INT)] AS DOUBLE)
        |                * CAST(e[CAST(b AS INT)] AS DOUBLE), 6)
        |                AS DECIMAL(18,6))})))) AS u
        |    FROM e)
        |  GROUP BY 1, 2),
        |cov1 AS MATERIALIZED (
        |  SELECT cells.i, cells.j,
        |    CAST(CAST(ROUND((CAST(sp AS DOUBLE)
        |        - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE)
        |          / CAST(n.n AS DOUBLE))
        |        / (CAST(n.n AS DOUBLE) - 1.0), 6) AS DECIMAL(18,6))
        |      * 1000000 AS HUGEINT) AS cmu
        |  FROM cells, n, sums si, sums sj
        |  WHERE si.i = cells.i AND sj.i = cells.j)""".stripMargin
    def comp(c: Int): String = {
      val v0 = s"""c${c}v0 AS MATERIALIZED (
  SELECT i AS j, CAST(125000 AS HUGEINT) AS vmu FROM sums)"""
      val rounds = (1 to 6).map { r =>
        s"""c${c}w$r AS MATERIALIZED (
  SELECT cov.i, SUM(cov.cmu * p.vmu) AS wp
  FROM cov$c cov JOIN c${c}v${r - 1} p ON p.j = cov.j
  GROUP BY cov.i),
c${c}m$r AS MATERIALIZED (
  SELECT SUM(wp * wp) AS m2 FROM c${c}w$r),
c${c}v$r AS MATERIALIZED (
  SELECT i AS j,
    CAST(CAST(ROUND(CAST(wp AS DOUBLE)
        / sqrt(CAST(m2 AS DOUBLE)), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS vmu
  FROM c${c}w$r, c${c}m$r)"""
      }.mkString(",\n")
      val lam = s"""c${c}wf AS MATERIALIZED (
  SELECT cov.i, SUM(cov.cmu * v.vmu) AS wp
  FROM cov$c cov JOIN c${c}v6 v ON v.j = cov.j GROUP BY cov.i),
c${c}lam AS MATERIALIZED (
  SELECT CAST(CAST(ROUND(CAST(SUM(v.vmu * wf.wp) AS DOUBLE)
      / CAST(SUM(v.vmu * v.vmu) AS DOUBLE)
      / 1000000.0, 6) AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS lmu
  FROM c${c}wf wf JOIN c${c}v6 v ON v.j = wf.i)"""
      val deflate =
        if (c >= k) ""
        else s""",
cov${c + 1} AS MATERIALIZED (
  SELECT cov.i, cov.j,
    cov.cmu - (CASE WHEN l.lmu * vi.vmu * vj.vmu >= 0
      THEN (l.lmu * vi.vmu * vj.vmu) // 1000000000000
      ELSE -((-(l.lmu * vi.vmu * vj.vmu)) // 1000000000000)
      END) AS cmu
  FROM cov$c cov, c${c}lam l, c${c}v6 vi, c${c}v6 vj
  WHERE vi.j = cov.i AND vj.j = cov.j)"""
      s"$v0,\n$rounds,\n$lam$deflate"
    }
    s"$base,\n${(1 to k).map(comp).mkString(",\n")}"
  }

  /** The margin-mining tail shared by e_mutual_margin and its IVF twin:
    * id-tiebreak ranks in both directions, TRUNCATING (sign-explicit)
    * micro neighborhood means, and the mutual top-1 pairs over candidate
    * pair CTE `p`. */
  private val MarginTail: String =
    """r AS (
      |  SELECT a_id, b_id, cos,
      |    CAST(cos * 1000000 AS BIGINT) AS mu,
      |    ROW_NUMBER() OVER (PARTITION BY a_id
      |      ORDER BY cos DESC, b_id) AS ra,
      |    ROW_NUMBER() OVER (PARTITION BY b_id
      |      ORDER BY cos DESC, a_id) AS rb
      |  FROM p),
      |ma AS (
      |  SELECT a_id, CASE WHEN SUM(mu) >= 0
      |    THEN SUM(mu) // COUNT(*)
      |    ELSE -((-SUM(mu)) // COUNT(*)) END AS ma
      |  FROM r WHERE ra <= 4 GROUP BY 1),
      |mb AS (
      |  SELECT b_id, CASE WHEN SUM(mu) >= 0
      |    THEN SUM(mu) // COUNT(*)
      |    ELSE -((-SUM(mu)) // COUNT(*)) END AS mb
      |  FROM r WHERE rb <= 4 GROUP BY 1)
      |SELECT r.a_id, r.b_id, CAST(r.cos AS DOUBLE) AS cosine,
      |  CASE WHEN ma.ma + mb.mb > 0 THEN
      |    ROUND(2.0 * CAST(r.mu AS DOUBLE)
      |      / CAST(ma.ma + mb.mb AS DOUBLE), 6) END AS margin
      |FROM r JOIN ma ON ma.a_id = r.a_id
      |  JOIN mb ON mb.b_id = r.b_id
      |WHERE r.ra = 1 AND r.rb = 1""".stripMargin

  /** The batch IVF k-NN join replay (nlist 64, every 100th vector a
    * query probing its top-8 cells, top-5 neighbours), over the
    * centroid source `centsFrom` and the assigned corpus `assignFrom`.
    */
  private def ivfKnnJoinOracle(centsFrom: String, assignFrom: String)
      : String =
    s"""WITH cents AS (
      |  SELECT row_number() OVER (
      |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
      |    embedding AS ce
      |  FROM $centsFrom
      |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
      |  LIMIT 64),
      |q AS (SELECT vec_id AS query_id, embedding AS qe
      |      FROM embeddings WHERE vec_id % 100 = 0),
      |probed AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.query_id, cents.cell,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ${cos("ce", "qe")}
      |        DESC, cents.cell) AS pr
      |    FROM cents, q)
      |  WHERE pr <= 8),
      |assign AS (
      |  SELECT e.vec_id, e.embedding,
      |    ${nearestCell("cents", "e.embedding")} AS cell
      |  FROM $assignFrom),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ${cos("a.embedding", "q.qe")}
      |      AS cos_sim
      |  FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, cos_sim,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |       ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
      |FROM scored QUALIFY rnk <= 5""".stripMargin

  /** The nDCG@10 tail shared by e_ndcg and e_ndcg_ivf over relevance
    * CTE `rel` (query_id, rank r, 0/1 rel): gain terms one rounded chain
    * each, DCG and IDCG exact decimal sums. */
  private val NdcgTail: String =
    """ir AS (SELECT query_id, r, rel,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rel DESC, r ASC) AS irk
      |  FROM rel),
      |t AS (SELECT query_id,
      |    CAST(ROUND(CAST(rel AS DOUBLE) *
      |      (ln(2) / ln(CAST(r AS DOUBLE) + 1.0)), 6)
      |      AS DECIMAL(18,6)) AS g,
      |    CAST(ROUND(CAST(rel AS DOUBLE) *
      |      (ln(2) / ln(CAST(irk AS DOUBLE) + 1.0)), 6)
      |      AS DECIMAL(18,6)) AS ig,
      |    CASE WHEN rel > 0 THEN 1 ELSE 0 END AS isrel
      |  FROM ir),
      |agg AS (SELECT query_id AS query,
      |    CAST(COUNT(*) AS BIGINT) AS n_ranked,
      |    CAST(SUM(isrel) AS BIGINT) AS n_rel,
      |    CAST(SUM(g) AS DECIMAL(28,6)) AS dcg,
      |    CAST(SUM(ig) AS DECIMAL(28,6)) AS idcg
      |  FROM t GROUP BY 1)
      |SELECT query, n_ranked, n_rel,
      |  CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
      |  CASE WHEN idcg > 0 THEN
      |    ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
      |  END AS ndcg
      |FROM agg""".stripMargin

  /** The IVF top-10 replay for query vector 0 over the corpus without
    * it: `nlist` portable-hash centroids drawn from `centsFrom`, the
    * query's `nprobe` nearest cells, round-6 cosine argmax cells. */
  private def ivfTopKOracle(centsFrom: String, nlist: Int, nprobe: Int)
      : String =
    s"""WITH cents AS (
      |  SELECT row_number() OVER (
      |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
      |    embedding AS ce
      |  FROM $centsFrom
      |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
      |  LIMIT $nlist),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |probed AS (
      |  SELECT cell FROM cents, q
      |  ORDER BY ${cos("ce", "qe")}
      |    DESC, cell
      |  LIMIT $nprobe),
      |assign AS (
      |  SELECT e.vec_id, e.embedding,
      |    ${nearestCell("cents", "e.embedding")} AS cell
      |  FROM embeddings e WHERE e.vec_id <> 0)
      |SELECT a.vec_id AS neighbor_id,
      |  ${cos("a.embedding", "q.qe")}
      |    AS cos_sim
      |FROM assign a, q
      |WHERE a.cell IN (SELECT cell FROM probed)
      |ORDER BY cos_sim DESC, neighbor_id LIMIT 10""".stripMargin

  /** The 1-bit sign index replayed for the binary oracles: 32 MSB-first
    * sign bits per word via 1::BIGINT << (31 - offset) (bit 63 never set,
    * so no engine sign wrap), packed into CTE `codes` (vec_id, w, word). */
  private val BinaryCodeCtes: String =
    """bits AS (
      |  SELECT vec_id, CAST(u['i'] AS INT) // 32 AS w,
      |    CASE WHEN CAST(u['x'] AS DOUBLE) > 0
      |      THEN CAST(1 AS BIGINT) << (31 - (CAST(u['i'] AS INT) % 32))
      |      ELSE CAST(0 AS BIGINT) END AS b
      |  FROM (
      |    SELECT vec_id,
      |      unnest(list_transform(range(1, len(embedding) + 1),
      |        k -> {'i': k - 1, 'x': embedding[CAST(k AS INT)]})) AS u
      |    FROM embeddings
      |    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)),
      |codes AS (
      |  SELECT vec_id, w, CAST(SUM(b) AS BIGINT) AS word
      |  FROM bits GROUP BY vec_id, w)""".stripMargin

  /** CTE `ham`: every vector's Hamming distance to query 17, the sum of
    * bit_count(xor) over the word-aligned join of `codes`. */
  private val HammingCte: String =
    """ham AS (
      |  SELECT c.vec_id,
      |    CAST(SUM(bit_count(xor(c.word, q.word))) AS BIGINT)
      |      AS hamming
      |  FROM codes c JOIN codes q ON q.vec_id = 17 AND q.w = c.w
      |  WHERE c.vec_id <> 17
      |  GROUP BY c.vec_id)""".stripMargin

  /** The brute-force k-NN side of the IVF audits: every 100th non-null
    * vector a query (CTE `q`), its exact round-6 cosine top-10 with id
    * tiebreak in CTE `brute` (query_id, neighbor_id, rank ra). */
  private val BruteKnnCtes: String =
    s"""src AS MATERIALIZED (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      |q AS MATERIALIZED (
      |  SELECT vec_id AS query_id, embedding AS qe
      |  FROM src WHERE vec_id % 100 = 0),
      |brute AS MATERIALIZED (
      |  SELECT query_id, neighbor_id, ra FROM (
      |    SELECT q.query_id, e.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ${cos("e.embedding", "q.qe")}
      |        DESC, e.vec_id) AS ra
      |    FROM q, src e WHERE e.vec_id <> q.query_id)
      |  WHERE ra <= 10)""".stripMargin

  /** The two-level IVF corpus assignment (the hierAssign deployment
    * contract) over centroid CTE `cents` and corpus CTE `src`:
    * ceil(sqrt(nlist)) supers, each cell pinned to its nearest super,
    * each vector to its nearest super then to its nearest cell in
    * that super's group. CTE `assign` carries vec_id, embedding,
    * column `carry` and cell. */
  private def ivfTwoLevelAssign(carry: String): String =
    s"""nsup AS (
      |  SELECT CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
      |    AS ns FROM cents),
      |sup AS MATERIALIZED (
      |  SELECT cell, ce FROM cents
      |  WHERE cell < (SELECT ns FROM nsup)),
      |so0 AS (
      |  SELECT c.cell, s.cell AS sup,
      |    row_number() OVER (PARTITION BY c.cell
      |      ORDER BY ${cos("c.ce", "s.ce")}
      |      DESC, s.cell) AS pr
      |  FROM cents c, sup s),
      |superof AS MATERIALIZED (
      |  SELECT cell, CASE WHEN cell < (SELECT ns FROM nsup)
      |    THEN cell ELSE sup END AS sup
      |  FROM so0 WHERE pr = 1),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id, embedding, $carry, sup FROM (
      |    SELECT e.vec_id, e.embedding, e.$carry, s.cell AS sup,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${cos("s.ce", "e.embedding")}
      |        DESC, s.cell) AS pr
      |    FROM src e, sup s)
      |  WHERE pr = 1),
      |assign AS MATERIALIZED (
      |  SELECT vec_id, embedding, $carry, cell FROM (
      |    SELECT a.vec_id, a.embedding, a.$carry, so.cell,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${cos("c.ce", "a.embedding")}
      |        DESC, so.cell) AS rn
      |    FROM a1 a JOIN superof so ON so.sup = a.sup
      |      JOIN cents c ON c.cell = so.cell)
      |  WHERE rn = 1)""".stripMargin

  /** Oracle fragment: round-6 cosine between list expressions `a`
    * and `b`. */
  private def cos(a: String, b: String): String =
    s"""ROUND(list_sum(list_transform(list_zip($a, $b),
       |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a,
       |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b,
       |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"""
      .stripMargin

  /** Oracle fragment: scalar subquery for the cell of relation `cents`
    * (columns `cell`, `ce`) nearest to list expression `vec` by
    * [[cos]], ties to the lowest cell — `IvfCell`'s argmax. */
  private def nearestCell(cents: String, vec: String): String =
    s"""(SELECT cell FROM $cents
       |  ORDER BY ${cos(s"$cents.ce", vec)} DESC, cell
       |  LIMIT 1)""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- E: margin-scored mutual k-NN matching across labels 0/1 —
    // the bitext-mining criterion: mutual top-1 pairs only, margin =
    // cos over the mean of both sides' k-NN neighborhoods
    // (truncating micro means); brute pair frame by the e_sim_pairs
    // contract, IVF shortlists at serving scale. ----
    Query("e_mutual_margin", "margin-scored mutual k-NN matching across labels 0/1 —",
      (s, dir) =>
        sim.Similarity.marginMutualKnn(
          t(s, dir, "embeddings").filter(col("label").isin(0, 1)),
          "vec_id", "embedding", col("label") === 0, k = 4),
      // the full mining pipeline replayed: round-6 cosines, id-tiebreak
      // ranks, TRUNCATING (sign-explicit) micro neighborhood means
      s"""WITH a AS (
        |  SELECT vec_id AS a_id, embedding AS va FROM embeddings
        |  WHERE label = 0 AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |b AS (
        |  SELECT vec_id AS b_id, embedding AS vb FROM embeddings
        |  WHERE label = 1 AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |p AS (
        |  SELECT a_id, b_id,
        |    CAST(${cos("va", "vb")}
        |      AS DECIMAL(18,6)) AS cos
        |  FROM a, b),
        |$MarginTail""".stripMargin),

    // ---- E: SHORTLIST-FED margin mining — the serving-scale twin of
    // e_mutual_margin: candidate pairs are the union of two directed
    // IVF k-NN shortlists (nlist = nlistFor(n) — the deployment
    // contract, cells bounded at 64; nprobe=4, shortlistK=8) instead
    // of the |A|·|B| product, then the identical mutual/margin tail.
    // No crossJoin anywhere; the oracle replays the whole IVF
    // structure (derived nlist, centroid pick, cell argmax, probe
    // ranks, per-query shortlist) and the tail in SQL. ----
    Query("e_mutual_margin_ivf", "SHORTLIST-FED margin mining",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").filter(col("label").isin(0, 1)
          && col("vec_id").isNotNull && col("embedding").isNotNull)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
          Similarity.nlistFor(emb.count()))
        // hierAssign: the deployment-contract corpus assignment (r14
        // ADVICE — exact argmax over a derived nlist is O(n²/cellTarget);
        // the two-level walk is O(n·√nlist) and the oracle replays it)
        Similarity.marginMutualKnnIvf(emb, "vec_id", "embedding",
          col("label") === 0, k = 4, centroids = cents, nprobe = 4,
          shortlistK = 8, hierAssign = true)
      },
      // The IVF shortlist replayed end to end (DERIVED nlist =
      // GREATEST(16, CEIL(n/64.0)) — the deployment contract, exact in
      // both engines because 64 is a power of two; centroid pick by
      // the portable hash, argmax cell assignment, top-4 probe ranks,
      // per-query top-8 shortlist, union-distinct across the two
      // directions), then the identical margin tail over the shortlist
      // pair frame instead of the |A|·|B| product.
      s"""WITH src AS MATERIALIZED (
        |  SELECT vec_id, embedding, label = 0 AS ina
        |  FROM embeddings
        |  WHERE label IN (0, 1) AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |cents AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |      vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM src
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |    vec_id
        |  LIMIT (SELECT GREATEST(16,
        |    CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) FROM src)),
        |${ivfTwoLevelAssign("ina")},
        |probed AS MATERIALIZED (
        |  SELECT vec_id, ina, qe, cell FROM (
        |    SELECT s.vec_id, s.ina, s.embedding AS qe, c.cell,
        |      row_number() OVER (PARTITION BY s.vec_id
        |        ORDER BY ${cos("c.ce", "s.embedding")}
        |        DESC, c.cell) AS pr
        |    FROM src s, cents c)
        |  WHERE pr <= 4),
        |sl AS MATERIALIZED (
        |  SELECT qid, nid, ina, cos FROM (
        |    SELECT qid, nid, ina, cos,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY cos DESC, nid) AS rk
        |    FROM (
        |      SELECT p.vec_id AS qid, a.vec_id AS nid, p.ina,
        |        CAST(${cos("a.embedding", "p.qe")}
        |          AS DECIMAL(18,6)) AS cos
        |      FROM probed p JOIN assign a USING (cell)
        |      WHERE a.ina <> p.ina))
        |  WHERE rk <= 8),
        |p AS MATERIALIZED (
        |  SELECT DISTINCT
        |    CASE WHEN ina THEN qid ELSE nid END AS a_id,
        |    CASE WHEN ina THEN nid ELSE qid END AS b_id,
        |    cos
        |  FROM sl),
        |$MarginTail""".stripMargin),

    // ---- E: embedding centroid drift — per-label cosine between the
    // even-id and odd-id slice centroids; compares exact micro-unit
    // SUM vectors (cosine is scale-invariant, so no mean is ever
    // taken), one double sqrt/division per label. ----
    Query("e_centroid_drift", "embedding centroid drift",
      (s, dir) =>
        sim.Similarity.centroidDrift(t(s, dir, "embeddings"), "label",
          "embedding", col("vec_id") % 2 === 0),
      // exact micro-unit sum vectors per (label, dim, slice); HUGEINT
      // dot/norm reductions, one double sqrt/division
      """WITH e AS (
        |  SELECT label, vec_id % 2 = 0 AS a, embedding
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |    AND vec_id IS NOT NULL),
        |c AS (
        |  SELECT label, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS n_b
        |  FROM e GROUP BY 1),
        |x AS (
        |  SELECT e.label, e.a, d.dim,
        |    CAST(CAST(ROUND(CAST(e.embedding[d.dim + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM e, (SELECT unnest(range(0, 64)) AS dim) d),
        |m AS (
        |  SELECT label, dim,
        |    SUM(CASE WHEN a THEN v ELSE 0 END) AS sa,
        |    SUM(CASE WHEN NOT a THEN v ELSE 0 END) AS sb
        |  FROM x GROUP BY 1, 2),
        |r AS (
        |  SELECT label, SUM(sa * sb) AS dot, SUM(sa * sa) AS na2,
        |    SUM(sb * sb) AS nb2
        |  FROM m GROUP BY 1)
        |SELECT c.label, CAST(c.n_a AS BIGINT) AS n_a,
        |  CAST(c.n_b AS BIGINT) AS n_b,
        |  CASE WHEN r.na2 > 0 AND r.nb2 > 0 THEN
        |    ROUND(CAST(r.dot AS DOUBLE) / SQRT(CAST(r.na2 AS DOUBLE)
        |      * CAST(r.nb2 AS DOUBLE)), 6) END AS cosine
        |FROM c LEFT JOIN r ON r.label = c.label""".stripMargin),

    // ---- similarity: SemDeDup (Abbas et al. 2023) — semantic dedup
    // via IVF clustering; within each cell a vector is dropped iff an
    // earlier cell-mate is round(cos,6)-similar at ≥ 0.8. Reuses
    // e_semantic_neardup's injected near-dup cluster so the dropped
    // set is non-vacuous; the oracle recomputes centroids, cells, and
    // the exists-earlier test from scratch. ----
    Query("e_semdedup", "SemDeDup (Abbas et al. 2023)",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val inj = s.range(0, 5).select(
          (col("id") + 1000000L).as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            ((pmod(d * 7, lit(16)) - lit(8)).cast("double") / 16.0 +
              when(d === col("id").cast("int"), lit(0.0625)).otherwise(lit(0.0)))
              .cast("float")).as("embedding"))
        Similarity.semDedup(emb.unionByName(inj), "vec_id", "embedding",
          threshold = 0.8, nlist = 64)
      },
      // SemDeDup from scratch: centroids = first-64 in portable-hash
      // order over the SAME union, cells = round(cos,6) argmax with
      // ties to the lowest cell, kept = no earlier cell-mate at >= 0.8.
      s"""WITH inj AS (
        |  SELECT CAST(1000000 + i AS BIGINT) AS vec_id,
        |    list_transform(range(0, 64), d ->
        |      CAST(CAST((d*7) % 16 - 8 AS DOUBLE)/16.0
        |        + CASE WHEN d = i THEN 0.0625 ELSE 0.0 END AS FLOAT)) AS embedding
        |  FROM range(0, 5) t(i)),
        |allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM inj),
        |cents AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM allv
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |assign AS (
        |  SELECT v.vec_id, v.embedding,
        |    ${nearestCell("cents", "v.embedding")} AS cell
        |  FROM allv v)
        |SELECT b.vec_id AS id, CAST(b.cell AS BIGINT) AS cell,
        |  NOT EXISTS (SELECT 1 FROM assign a
        |    WHERE a.cell = b.cell AND a.vec_id < b.vec_id
        |      AND ${cos("a.embedding", "b.embedding")}
        |        >= 0.8) AS kept
        |FROM assign b""".stripMargin),

    Query("e_ann_topk", "brute-force cosine top-k for one query vector",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
        Similarity.topKForVector(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, 10)
      },
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS ne,
        |    sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nq
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |SELECT neighbor_id, ROUND(dot/(ne*nq), 6) AS cos_sim FROM d
        |ORDER BY cos_sim DESC, neighbor_id LIMIT 10""".stripMargin),

    // ---- similarity: per-dimension embedding QC — mean/variance/
    // range/zeros per dim (dead dims waste bytes, runaway dims
    // dominate distances); one posexplode into a dim-keyed agg. ----
    Query("e_embed_qc", "per-dimension embedding QC",
      (s, dir) =>
        Similarity.embeddingQc(t(s, dir, "embeddings"), "vec_id",
          "embedding"),
      // per-dim moment replay (the a16/a17 conventions) over the
      // position-exploded vector stream
      """WITH ex AS (
        |  SELECT d.dim,
        |    CAST(ROUND(CAST(e.embedding[d.dim + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS v
        |  FROM embeddings e, (SELECT unnest(range(0, 64)) AS dim) d),
        |a AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v) AS s,
        |    SUM(CAST(v * v AS DECIMAL(38,12))) AS q,
        |    MIN(v) AS mn, MAX(v) AS mx,
        |    CAST(COUNT(CASE WHEN v = 0 THEN 1 END) AS BIGINT) AS n_zero
        |  FROM ex GROUP BY dim)
        |SELECT CAST(dim AS INT) AS dim, n,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  ROUND(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS variance,
        |  CAST(mn AS DOUBLE) AS vmin, CAST(mx AS DOUBLE) AS vmax,
        |  n_zero
        |FROM a""".stripMargin),

    // ---- similarity: Matryoshka prefix-dim recall — top-10 overlap
    // between full-64-dim and first-8/16/32-dim cosine: the audit
    // that licenses serving at d ≪ D. One narrow scan per prefix. ----
    Query("e_prefix_recall", "Matryoshka prefix-dim recall",
      (s, dir) =>
        Similarity.prefixDimRecall(t(s, dir, "embeddings"), "vec_id",
          "embedding", queryId = 17L, topK = 10, dims = Seq(8, 16, 32)),
      // per-prefix cosine top-10 vs the full-dim top-10, same rounded
      // ordering and id tiebreaks
      {
        val pres = Seq(8, 16, 32).map { d =>
          s"""p$d AS MATERIALIZED (
             |  SELECT e.vec_id AS id
             |  FROM embeddings e, q
             |  WHERE e.vec_id <> 17
             |  ORDER BY ${cos(s"e.embedding[1:$d]", s"q.qe[1:$d]")} DESC,
             |    e.vec_id
             |  LIMIT 10),
             |r$d AS (
             |  SELECT $d AS prefix_dim, CAST(10 AS BIGINT) AS k,
             |    CAST(COUNT(*) AS BIGINT) AS hits
             |  FROM p$d WHERE id IN (SELECT id FROM ft))""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS MATERIALIZED (
           |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
           |ft AS MATERIALIZED (
           |  SELECT e.vec_id AS id
           |  FROM embeddings e, q
           |  WHERE e.vec_id <> 17
           |  ORDER BY ${cos("e.embedding", "q.qe")} DESC, e.vec_id
           |  LIMIT 10),
           |$pres
           |SELECT prefix_dim, k, hits,
           |  ROUND(CAST(hits AS DOUBLE) / 10, 6) AS recall
           |FROM (SELECT * FROM r8 UNION ALL SELECT * FROM r16
           |      UNION ALL SELECT * FROM r32)""".stripMargin
      }),

    // ---- similarity: k-center greedy coreset — 6 exemplars, each
    // round one corpus scan against the ≤k broadcast centers (never
    // point×point); the labeling-budget picker. Oracle unrolls all
    // rounds. ----
    Query("e_kcenter", "k-center greedy coreset",
      (s, dir) =>
        Similarity.kCenterGreedy(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 6),
      // all k-center rounds unrolled; MATERIALIZED (each round
      // references the cumulative selection twice)
      {
        def cosDist(a: String, b: String): String =
          s"""ROUND(1.0 - list_sum(list_transform(list_zip($a, $b),
             |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             |  / (sqrt(list_sum(list_transform($a,
             |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
             |   * sqrt(list_sum(list_transform($b,
             |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"""
            .stripMargin
        val base =
          """WITH s1 AS MATERIALIZED (
            |  SELECT 1 AS rank, vec_id AS id,
            |    CAST(NULL AS DOUBLE) AS maximin
            |  FROM embeddings ORDER BY vec_id LIMIT 1),
            |sel1 AS MATERIALIZED (SELECT * FROM s1)""".stripMargin
        val steps = (2 to 6).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT e.vec_id AS id,
             |    MIN(${cosDist("e.embedding", "c.embedding")}) AS dm
             |  FROM embeddings e, embeddings c
             |  WHERE c.vec_id IN (SELECT id FROM sel${i - 1})
             |    AND e.vec_id NOT IN (SELECT id FROM sel${i - 1})
             |  GROUP BY e.vec_id),
             |s$i AS MATERIALIZED (
             |  SELECT $i AS rank, id, dm AS maximin FROM d$i
             |  ORDER BY dm DESC, id LIMIT 1),
             |sel$i AS MATERIALIZED (
             |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
            .stripMargin
        }.mkString(",\n")
        s"""$base,
           |$steps
           |SELECT rank, id AS vec_id, maximin FROM sel6""".stripMargin
      }),

    // ---- similarity: MMR diversified re-rank — the serving layer
    // between top-k and the consumer: 20 candidates (one corpus
    // TakeOrdered pass), then 10 greedy rounds of λ·rel − (1−λ)·max
    // sim-to-picked on candidate-sized frames, every argmax
    // tie-broken by id. Oracle unrolls all 10 rounds. ----
    Query("e_mmr_rerank", "MMR diversified re-rank",
      (s, dir) =>
        Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id",
          "embedding", queryId = 17L, candidates = 20, k = 10,
          lambda = 0.7),
      {
        val base =
          s"""WITH qv AS MATERIALIZED (
             |  SELECT embedding AS q FROM embeddings WHERE vec_id = 17),
             |rel0 AS MATERIALIZED (
             |  SELECT e.vec_id AS id, ${cos("e.embedding", "qv.q")} AS rel
             |  FROM embeddings e, qv WHERE e.vec_id <> 17
             |  ORDER BY rel DESC, id LIMIT 20),
             |cv AS MATERIALIZED (
             |  SELECT e.vec_id AS id, e.embedding AS v
             |  FROM embeddings e JOIN rel0 ON rel0.id = e.vec_id),
             |pr AS MATERIALIZED (
             |  SELECT a.id AS ia, b.id AS ib, ${cos("a.v", "b.v")} AS sim
             |  FROM cv a, cv b WHERE a.id <> b.id),
             |s1 AS MATERIALIZED (
             |  SELECT 1 AS rank, id, rel,
             |    ROUND(CAST(0.7 AS DOUBLE) * rel, 6) AS score
             |  FROM rel0 ORDER BY rel DESC, id LIMIT 1),
             |sel1 AS MATERIALIZED (SELECT * FROM s1)""".stripMargin
        val steps = (2 to 10).map { i =>
          s"""s$i AS MATERIALIZED (
             |  SELECT $i AS rank, r.id, r.rel,
             |    ROUND(CAST(0.7 AS DOUBLE) * r.rel
             |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
             |        * red.red, 6) AS score
             |  FROM rel0 r JOIN (
             |    SELECT ia AS id, MAX(sim) AS red FROM pr
             |    WHERE ib IN (SELECT id FROM sel${i - 1}) GROUP BY ia) red
             |    ON red.id = r.id
             |  WHERE r.id NOT IN (SELECT id FROM sel${i - 1})
             |  ORDER BY score DESC, r.id LIMIT 1),
             |sel$i AS MATERIALIZED (
             |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
            .stripMargin
        }.mkString(",\n")
        s"""$base,
           |$steps
           |SELECT rank, id AS vec_id, rel AS relevance,
           |  score AS mmr_score
           |FROM sel10""".stripMargin
      }),

    // ---- similarity: top-3 principal components by power iteration
    // + Hotelling deflation — the corpus is touched once (the n·d²
    // product pass); all 3×6 rounds and both rank-one deflations run
    // on the d²-cell frame in exact integers. The usable k-dim
    // projection basis plus the PC-1 anisotropy number (subsumes the
    // retired r12 e_pca_top, which was this at k=1 — r14 verdict #2:
    // 14.5 s of redundant bench wall). ----
    Query("e_pca_topk", "top-3 principal components by power iteration",
      (s, dir) =>
        Similarity.powerIterationPcaK(tf(s, dir, "embeddings", "vec_id"), "vec_id",
          "embedding", k = 3, iters = 6),
      // all 10 MMR rounds unrolled; MATERIALIZED CTEs (each round
      // references the cumulative selection twice)

      // the power-iteration structure replayed PER COMPONENT (cov1..cov3
      // via sign-explicit HUGEINT Hotelling deflation — Spark `div`
      // truncates toward zero, DuckDB `//` floors, hence the CASE),
      // covariance quantized once to micro-units, all 3x6 rounds
      // unrolled on EXACT INTEGERS (HUGEINT = the engine's
      // decimal(38,0)), v0 = round(1/sqrt(64), 6) micro; generated by
      // the same Scala loop shape the engine runs (pcaOracleCtes)
      {
        val outs = (1 to 3).map { c =>
          s"""SELECT $c AS component, CAST(v.j AS INT) AS dim,
  CAST(v.vmu AS DOUBLE) / 1000000.0 AS loading,
  ROUND(CAST(l.lmu AS DOUBLE) / 1000000.0, 6) AS eigenvalue
FROM c${c}v6 v, c${c}lam l"""
        }.mkString("\nUNION ALL\n")
        s"${pcaOracleCtes(3)}\n$outs"
      }),

    // ---- similarity: whitened top-2 PCA projection — every
    // embedding's decorrelated 2-D coordinates (the usable dimension
    // reduction off e_pca_topk's basis): exact pico-unit (x−μ)·v
    // sums, one double chain /1e12 /sqrt(λ) rounded once. ----
    Query("e_pca_project", "whitened top-2 PCA projection",
      (s, dir) => {
        val emb = tf(s, dir, "embeddings", "vec_id")
        val basis = Similarity.powerIterationPcaK(emb, "vec_id",
          "embedding", k = 2, iters = 6)
        Similarity.pcaProject(emb, "vec_id", "embedding", basis,
          whiten = true)
      },
      // the k=2 basis replayed via the same generator, then the
      // whitened projection: exact pico-unit (x−μ)·v sums per
      // (vec_id, component), ONE double chain /1e12 /sqrt(λ), round 6
      {
        val basis = (1 to 2).map { c =>
          s"""SELECT $c AS component, v.j AS dim, v.vmu,
  ROUND(CAST(l.lmu AS DOUBLE) / 1000000.0, 6) AS eigenvalue
FROM c${c}v6 v, c${c}lam l"""
        }.mkString("\nUNION ALL\n")
        s"""${pcaOracleCtes(2)},
pb AS MATERIALIZED (
$basis),
pe AS MATERIALIZED (
  SELECT vec_id, u['i'] AS dim,
    CAST(CAST(ROUND(CAST(u['x'] AS DOUBLE), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS xmu
  FROM (
    SELECT vec_id,
      unnest(list_transform(range(1, len(embedding) + 1),
        k -> {'i': k - 1, 'x': embedding[CAST(k AS INT)]})) AS u
    FROM embeddings
    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)),
pn AS (SELECT COUNT(*) AS n FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
pm AS MATERIALIZED (
  SELECT dim,
    CAST(CAST(ROUND(CAST(SUM(xmu) AS DOUBLE) / 1000000.0
      / CAST(pn.n AS DOUBLE), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS mmu
  FROM pe, pn GROUP BY dim, pn.n),
proj AS (
  SELECT pe.vec_id, pb.component, pb.eigenvalue,
    SUM((pe.xmu - pm.mmu) * pb.vmu) AS p
  FROM pe JOIN pm ON pm.dim = pe.dim
    JOIN pb ON pb.dim = pe.dim
  GROUP BY 1, 2, 3)
SELECT vec_id, component,
  CASE WHEN eigenvalue > 0 THEN
    ROUND((CAST(p AS DOUBLE) / 1000000000000.0)
      / sqrt(eigenvalue), 6) END AS coord
FROM proj"""
      }),

    // ---- similarity: IVF coarse-quantizer ANN — the nprobe/nlist
    // scale path next to brute force (e_ann_topk). Deterministic
    // portable-hash centroid sample + round-6 cell argmax make the
    // whole index SQL-reproducible, so the oracle recomputes it.
    // nlist=256 (r3 verdict: the literal when-chain died here; cell
    // assignment is now the native broadcast argmax, so a realistic
    // nlist is just a bigger executor-side loop). ----
    Query("e_ivf_topk", "IVF coarse-quantizer ANN",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 256)
        Similarity.ivfTopKForVector(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, 10, cents, nprobe = 16)
      },
      ivfTopKOracle("embeddings", nlist = 256, nprobe = 16)),

    // ---- similarity: PERSISTED IVF index (build once, query many) —
    // the repeated-query ANN path. The index is (id, vec) hive-
    // partitioned by cell; the query's probed-cell filter prunes
    // PARTITIONS at file-listing time (PlanSpec pins the shape), so
    // per-query I/O is ~nprobe/nlist of the corpus and zero
    // re-assignment work. Index staged once per (JVM, sf dir). ----
    Query("e_ivf_indexed", "PERSISTED IVF index (build once, query many) —",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
        val (path, cents) = stagedIvfIndex.getOrElseUpdate(dir, {
          val p = tempDir("graft_ivf") + "/idx"
          val c = Similarity.buildIvfIndex(emb.filter(col("vec_id") =!= 0),
            "vec_id", "embedding", nlist = 64, path = p)
          (p, c)
        })
        Similarity.ivfTopKIndexed(s, path, q, 10, nprobe = 8,
          centroids = cents)
      },
      // Same index arithmetic as e_ivf_topk, but over the PERSISTED-index
      // corpus (vec_id <> 0 — the query vector is not indexed) at the
      // indexed query's knobs (nlist=64, nprobe=8). Bucketing by cell is
      // layout, not semantics, so the SQL recomputes assignment directly.
      ivfTopKOracle("embeddings WHERE vec_id <> 0", nlist = 64,
        nprobe = 8)),

    // ---- similarity: deterministic spherical k-means (TWO Lloyd
    // rounds from the portable-hash init): native broadcast-argmax
    // assignment, exact-decimal per-dim means, final re-assignment.
    // The oracle recomputes init, both assignment+means rounds, and
    // the final argmax entirely in SQL — two rounds pin the
    // loop-carried state (centroid -> reassignment) a one-round
    // oracle can't distinguish from a single pass. ----
    Query("e_kmeans", "deterministic spherical k-means (TWO Lloyd",
      (s, dir) =>
        Similarity.kmeansLloyd(tf(s, dir, "embeddings", "vec_id"), "vec_id",
          "embedding", k = 8, iters = 2),
      // whole-algorithm replay: init sample, round-6 cosine argmax
      // (ties lowest cell), exact-decimal per-dim means narrowed to
      // REAL, empty clusters keep the init centroid, final argmax
      KmeansAssignOracle),

    // ---- similarity: label-free clustering QC — simplified
    // silhouette of the e_kmeans assignment; cosine distances to
    // exact micro-unit cluster SUM vectors (no mean-of-doubles),
    // per-cluster truncating micro means. ----
    Query("e_silhouette", "label-free clustering QC",
      (s, dir) => {
        val emb = tf(s, dir, "embeddings", "vec_id")
        val asg = Similarity.kmeansLloyd(emb, "vec_id", "embedding",
          k = 8, iters = 2)
        Similarity.simplifiedSilhouette(emb, "vec_id", "embedding", asg)
      },
      // assignment replay + micro SUM-vector centroids + the same
      // round-6 cosine/silhouette arithmetic, sign-explicit means
      (
        s"""WITH asg AS MATERIALIZED (
           |$KmeansAssignOracle),
           |pts AS MATERIALIZED (
           |  SELECT e.vec_id, e.embedding, a.cluster AS own
           |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
           |dims AS (SELECT unnest(range(0, 64)) AS dim),
           |sums AS (
           |  SELECT own, d.dim,
           |    SUM(CAST(CAST(ROUND(CAST(embedding[d.dim + 1] AS DOUBLE),
           |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS s
           |  FROM pts, dims d GROUP BY own, d.dim),
           |cv AS (
           |  SELECT own AS c, list(CAST(s AS DOUBLE) ORDER BY dim) AS cv
           |  FROM sums GROUP BY own),
           |dd AS (
           |  SELECT p.vec_id, p.own, c.c,
           |    ${cos("c.cv", "p.embedding")}
           |      AS cos
           |  FROM pts p CROSS JOIN cv c),
           |pp AS (
           |  SELECT vec_id, own,
           |    MAX(CASE WHEN own = c THEN cos END) AS co,
           |    MAX(CASE WHEN own <> c THEN cos END) AS cb
           |  FROM dd GROUP BY vec_id, own),
           |si AS (
           |  SELECT own,
           |    CASE WHEN GREATEST(CAST(1 AS DOUBLE) - co,
           |        CAST(1 AS DOUBLE) - cb) > 0 THEN
           |      CAST(CAST(ROUND(((CAST(1 AS DOUBLE) - cb)
           |          - (CAST(1 AS DOUBLE) - co))
           |        / GREATEST(CAST(1 AS DOUBLE) - co,
           |            CAST(1 AS DOUBLE) - cb), 6) AS DECIMAL(18,6))
           |        * 1000000 AS BIGINT)
           |    ELSE 0 END AS sm
           |  FROM pp),
           |ag AS (
           |  SELECT own, COUNT(*) AS n, SUM(sm) AS ssum
           |  FROM si GROUP BY own)
           |SELECT CAST(own AS INT) AS cluster, CAST(n AS BIGINT) AS n,
           |  ROUND(CAST(CASE WHEN ssum >= 0 THEN ssum // n
           |    ELSE -((-ssum) // n) END AS DOUBLE) / 1e6, 6)
           |  AS mean_silhouette
           |FROM ag""".stripMargin)),

    // ---- similarity: clustering-quality evaluation — the e_kmeans
    // assignment scored against the ground-truth labels: purity
    // (Σ_c max_l n_cl / n) and NMI via the a33 mutual-information
    // machinery on (cluster, label). Everything past the assignment
    // runs on contingency-cell frames. ----
    Query("e_cluster_purity", "clustering-quality evaluation",
      (s, dir) => {
        val emb = tf(s, dir, "embeddings", "vec_id")
        val asg = Similarity.kmeansLloyd(emb, "vec_id", "embedding",
          k = 8, iters = 2)
        val j = asg.join(emb.select(col("vec_id"), col("label")),
          Seq("vec_id"))
        val pc = j.groupBy(col("cluster"), col("label"))
          .agg(count(lit(1)).as("__n"))
        val tots = pc.agg(sum(col("__n")).as("__nt"))
        val purity = pc.groupBy(col("cluster"))
          .agg(max(col("__n")).as("__mx"))
          .agg(sum(col("__mx")).as("__sm"))
          .crossJoin(broadcast(tots))
          .select(round(col("__sm").cast("double") /
            col("__nt").cast("double"), 6).as("purity"))
        Quality.mutualInfo(j, "cluster", "label")
          .crossJoin(broadcast(purity))
          .select(col("n"), col("cells"), col("purity"), col("mi"),
            col("h_a"), col("h_b"), col("nmi"))
      },
      // assignment replay + purity + the a33 MI arithmetic on
      // (cluster, label)
      (
        s"""WITH asg AS MATERIALIZED (
           |$KmeansAssignOracle),
           |j AS (
           |  SELECT a.cluster AS ca, e.label AS lb
           |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id),
           |c AS (SELECT ca, lb, COUNT(*) AS nab FROM j GROUP BY 1, 2),
           |tots AS (SELECT CAST(SUM(nab) AS BIGINT) AS nt FROM c),
           |pur AS (
           |  SELECT ROUND(CAST((SELECT SUM(mx) FROM (
           |      SELECT ca, MAX(nab) AS mx FROM c GROUP BY ca)) AS DOUBLE)
           |    / CAST(nt AS DOUBLE), 6) AS purity
           |  FROM tots),
           |${AnalyticsQueries.mutualInfoCtes("ca", "lb")}
           |SELECT n, cells, purity, mi, h_a, h_b,
           |  CASE WHEN LEAST(h_a, h_b) > 0
           |       THEN ROUND(mi / LEAST(h_a, h_b), 6) END AS nmi
           |FROM f, pur""".stripMargin)),

    // ---- similarity: PRODUCT QUANTIZATION encode — 4 subspaces × 8
    // codes trained with one deterministic Lloyd round (portable-hash
    // init, round-6 L2 assignment, exact-decimal means); every
    // 64-float vector compresses to 4 small ints. The oracle
    // recomputes the ENTIRE training run + encode in SQL (the
    // e_kmeans bar, per subspace). ----
    Query("e_pq_encode", "PRODUCT QUANTIZATION encode",
      (s, dir) => {
        val emb = tf(s, dir, "embeddings", "vec_id")
        Similarity.pqEncode(emb, "vec_id", "embedding",
            Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 8,
              iters = 1))
          // f_array_ops convention: flatten the array for the harness's
          // pandas sort (ndarray columns are unhashable there)
          .select(col("vec_id"), array_join(col("codes"), ",").as("codes"))
      },
      // the whole PQ training run replayed per subspace: portable-hash
      // init slices, round-6 L2 argmin (lowest code ties), exact-decimal
      // per-dim means narrowed to REAL, final encode vs the trained books
      s"""WITH $PqTrainCtes
        |SELECT vec_id,
        |  array_to_string(list(CAST(code AS INT) ORDER BY sub), ',')
        |    AS codes
        |FROM a2 GROUP BY vec_id""".stripMargin),

    // ---- similarity: IVF-PQ composed query — coarse cells prune the
    // corpus to nprobe/nlist, PQ codes answer distances inside the
    // probed cells: rows AND bytes both cut multiplicatively (the
    // FAISS serving architecture, non-residual codebooks). One fused
    // pass computes cell + codes; the vector is read once. ----
    Query("e_ivfpq_topk", "IVF-PQ composed query",
      (s, dir) =>
        Similarity.ivfPqTopK(tf(s, dir, "embeddings", "vec_id"), "vec_id",
          "embedding", queryId = 17L, topK = 10, nlist = 16, nprobe = 4,
          m = 4, k = 8, iters = 1),
      // IVF replay (portable-hash centroid init, round-6 cosine argmax
      // cells, top-nprobe probe) composed with the full PQ replay; the
      // probed-cell filter gates the ADC scoring exactly as the engine's
      // isin does
      s"""WITH $IvfCellCtes,
        |$IvfProbedCte,
        |$PqTrainCtes,
        |tbl AS (
        |  SELECT cb1.sub, cb1.code,
        |    ROUND(list_sum(list_transform(
        |      list_zip(cb1.ce,
        |        (SELECT qe FROM qv)[cb1.sub*16+1 : cb1.sub*16+16]),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM cb1)
        |SELECT a.vec_id,
        |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        |FROM a2 a
        |JOIN tbl t ON t.sub = a.sub AND t.code = a.code
        |JOIN cells c ON c.vec_id = a.vec_id
        |WHERE c.cell IN (SELECT cell FROM probed)
        |GROUP BY a.vec_id
        |ORDER BY adc_dist, a.vec_id
        |LIMIT 10""".stripMargin),

    // ---- similarity: RESIDUAL IVF-PQ (the full IVFADC) — codebooks
    // trained on x − centroid(cell) displacements, per-probed-cell
    // query-residual ADC tables: tighter error at equal bits than the
    // non-residual compose, the real FAISS serving algorithm. Oracle
    // replays coarse cells, exact-float residuals, the whole codebook
    // run, and per-cell ADC. ----
    Query("e_ivfpq_residual", "RESIDUAL IVF-PQ (the full IVFADC)",
      (s, dir) =>
        Similarity.ivfPqResidualTopK(tf(s, dir, "embeddings", "vec_id"), "vec_id",
          "embedding", queryId = 17L, topK = 10, nlist = 16, nprobe = 4,
          m = 4, k = 8, iters = 1),
      // the full IVFADC replay: coarse cells, EXACT-FLOAT residuals
      // (x[1]-x[2] on FLOAT lists = Spark's float zip_with), codebooks
      // trained on residuals, per-probed-cell query-residual tables
      s"""WITH $IvfCellCtes,
        |r AS (
        |  SELECT e.vec_id,
        |    list_transform(list_zip(e.embedding, ic.ce),
        |      x -> x[1] - x[2]) AS res
        |  FROM embeddings e
        |  JOIN cells c ON c.vec_id = e.vec_id
        |  JOIN ic ON ic.cell = c.cell),
        |${pqTrainCtes("r", "r", "res")},
        |$IvfProbedCte,
        |qres AS (
        |  SELECT ic.cell,
        |    list_transform(list_zip(qv.qe, ic.ce), x -> x[1] - x[2]) AS qr
        |  FROM ic, qv
        |  WHERE ic.cell IN (SELECT cell FROM probed)),
        |tbl AS (
        |  SELECT q2.cell, cb1.sub, cb1.code,
        |    ROUND(list_sum(list_transform(
        |      list_zip(cb1.ce, q2.qr[cb1.sub*16+1 : cb1.sub*16+16]),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM cb1, qres q2)
        |SELECT a.vec_id,
        |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        |FROM a2 a
        |JOIN cells c ON c.vec_id = a.vec_id
        |JOIN tbl t ON t.cell = c.cell AND t.sub = a.sub AND t.code = a.code
        |WHERE c.cell IN (SELECT cell FROM probed)
        |GROUP BY a.vec_id
        |ORDER BY adc_dist, a.vec_id
        |LIMIT 10""".stripMargin),

    // ---- similarity: PERSISTED PQ index — books + codes written
    // once (build-once/serve-many), query served from the codes scan
    // alone. Must equal the end-to-end e_pq_topk exactly (same oracle
    // SQL): persistence is not allowed to change the answer. ----
    Query("e_pq_indexed", "PERSISTED PQ index",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 17L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val path = stagedPqIndex.getOrElseUpdate(dir, {
          val p = tempDir("graft_pq") + "/idx"
          Similarity.buildPqIndex(emb, "vec_id", "embedding", m = 4,
            k = 8, path = p, iters = 1)
          p
        })
        Similarity.pqTopKIndexed(s, path, "vec_id", q, topK = 10)
      },
      // the persisted-index query must equal the end-to-end run: the
      // SAME SQL as e_pq_topk is the contract that persistence never
      // changes the answer
      PqTopKOracle),

    // ---- similarity: PQ top-k by asymmetric distance — query 17's
    // per-subspace distance table (4×8, driver-side) + m table
    // lookups per corpus row over the CODES ONLY: the vector column
    // is never read at query time. The memory-compression ANN play:
    // corpus-side query cost is m ints/row. ----
    Query("e_pq_topk", "PQ top-k by asymmetric distance",
      (s, dir) =>
        Similarity.pqTopK(tf(s, dir, "embeddings", "vec_id"), "vec_id", "embedding",
          queryId = 17L, topK = 10, m = 4, k = 8, iters = 1),
      // same trained books; ADC = exact-decimal sum of the round-6
      // per-subspace query-to-code distances
      PqTopKOracle),

    // ---- similarity: recall@10 audit of the PQ arm vs exact L2 —
    // the ANN quality gate as a query (an index with silently decayed
    // recall is a correctness bug in a performance costume); one
    // narrow exact scan into TakeOrdered + the normal PQ serve. ----
    Query("e_pq_recall", "recall@10 audit of the PQ arm vs exact L2 —",
      (s, dir) =>
        Similarity.pqRecall(tf(s, dir, "embeddings", "vec_id"), "vec_id",
          "embedding", queryId = 17L, topK = 10, m = 4, k = 8,
          iters = 1),
      // the PQ replay embedded as a subquery, overlapped with the exact
      // L2 top-10 (ties broken by id in both arms)
      (
        s"""WITH approx AS (SELECT * FROM (
           |$PqTopKOracle
           |) pq),
           |q AS (SELECT embedding AS qe FROM embeddings
           |      WHERE vec_id = 17),
           |exact AS (
           |  SELECT vec_id,
           |    ROUND(list_sum(list_transform(list_zip(embedding, qe),
           |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
           |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6)
           |      AS d
           |  FROM embeddings, q
           |  ORDER BY d, vec_id LIMIT 10)
           |SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS hits,
           |  ROUND(COUNT(*) / CAST(10 AS DOUBLE), 6) AS recall
           |FROM approx JOIN exact USING (vec_id)""".stripMargin)),

    // ---- similarity: 1-bit sign quantization + Hamming top-k — the
    // last rung of the serving ladder (float → int8 → PQ → binary):
    // 64 dims pack to TWO non-negative long words (32 sign bits
    // each, MSB-first, bit 63 never used — engine-portable), query
    // cost = 2 xor+popcount ops/row on a corpus the vector column
    // never touches. Exact integer distances, id tiebreak. ----
    Query("e_binary_topk", "1-bit sign quantization + Hamming top-k",
      (s, dir) =>
        Similarity.binaryTopK(t(s, dir, "embeddings"), "vec_id",
          "embedding", queryId = 17L, topK = 10, d = 64),
      // the sign-bit index recomputed in SQL: 32 MSB-first sign bits
      // per word via 1::BIGINT << (31 - offset) — bit 63 never set, so
      // no engine sign wrap — then Hamming = SUM bit_count(xor) over
      // the word-aligned join
      s"""WITH $BinaryCodeCtes,
        |$HammingCte,
        |top AS (
        |  SELECT vec_id, hamming FROM ham
        |  ORDER BY hamming, vec_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY hamming, vec_id)
        |    AS INT) AS rank,
        |  vec_id, hamming
        |FROM top""".stripMargin),

    // ---- similarity: recall@10 audit of the binary arm vs exact
    // round-6 cosine — the e_pq_recall discipline applied to the
    // 1-bit tier: the number that says what the 32× byte cut costs
    // in shortlist quality. ----
    Query("e_binary_recall", "recall@10 audit of the binary arm vs exact",
      (s, dir) =>
        Similarity.binaryRecall(t(s, dir, "embeddings"), "vec_id",
          "embedding", queryId = 17L, topK = 10, d = 64),
      // the binary serve + the exact round-6 cosine top-10, hits via
      // the k-row join (the e_pq_recall audit shape)
      s"""WITH $BinaryCodeCtes,
        |approx AS (
        |  SELECT c.vec_id,
        |    CAST(SUM(bit_count(xor(c.word, q.word))) AS BIGINT)
        |      AS hamming
        |  FROM codes c JOIN codes q ON q.vec_id = 17 AND q.w = c.w
        |  WHERE c.vec_id <> 17
        |  GROUP BY c.vec_id
        |  ORDER BY hamming, c.vec_id LIMIT 10),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
        |exact AS (
        |  SELECT e.vec_id,
        |    ${cos("e.embedding", "q.qe")}
        |      AS c
        |  FROM embeddings e, q WHERE e.vec_id <> 17
        |  ORDER BY c DESC, e.vec_id LIMIT 10)
        |SELECT CAST(10 AS INTEGER) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS hits,
        |  ROUND(COUNT(*) / CAST(10 AS DOUBLE), 6) AS recall
        |FROM approx JOIN exact USING (vec_id)""".stripMargin),

    // ---- similarity: two-stage binary serving — Hamming shortlist
    // of 50 over the packed sign bits, exact round-6 cosine rerank
    // to top-10: the coarse-filter/exact-rerank pattern that buys
    // back the 1-bit tier's recall at 50 exact evaluations per
    // query. The rerank join reads the vector column ONLY for the
    // shortlist rows. ----
    Query("e_binary_rerank", "two-stage binary serving",
      (s, dir) =>
        Similarity.binaryRerank(t(s, dir, "embeddings"), "vec_id",
          "embedding", queryId = 17L, topK = 10, shortlist = 50,
          d = 64),
      // stage 1 = the e_binary_topk replay at shortlist width; stage 2
      // = exact round-6 cosine over ONLY the shortlist, id tiebreak in
      // both stages
      s"""WITH $BinaryCodeCtes,
        |$HammingCte,
        |short AS (
        |  SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 50),
        |q AS (SELECT embedding AS qe FROM embeddings
        |      WHERE vec_id = 17),
        |rr AS (
        |  SELECT e.vec_id,
        |    ${cos("e.embedding", "q.qe")}
        |      AS cos_sim
        |  FROM embeddings e JOIN short USING (vec_id), q),
        |top AS (
        |  SELECT vec_id, cos_sim FROM rr
        |  ORDER BY cos_sim DESC, vec_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
        |    AS INT) AS rank,
        |  vec_id, cos_sim
        |FROM top""".stripMargin),

    // ---- similarity: BATCH IVF k-NN join — every 100th vector is a
    // query; each probes its nprobe=8 nearest of nlist=64 cells and
    // scores only those cells' members (native IvfProbe explode + one
    // cell-keyed equi-join + per-query top-k). Work ~ |Q| × nprobe/
    // nlist × |corpus| vs brute's |Q| × |corpus|; oracle recomputes
    // the WHOLE index in SQL like e_ivf_topk. ----
    Query("e_ivf_knn_join", "BATCH IVF k-NN join",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64)
        Similarity.ivfKnnJoin(emb.filter(col("vec_id") % 100 === 0), emb,
            "vec_id", "embedding", k = 5, centroids = cents, nprobe = 8)
          .withColumnRenamed("rank", "rnk")
      },
      // Same index arithmetic as e_ivf_topk generalized to a BATCH of
      // queries (every 100th vector), each probing its own top-8 cells.
      ivfKnnJoinOracle("embeddings", "embeddings e")),

    // ---- similarity: linear CKA between the full 64-d embedding and
    // its 16-d Matryoshka prefix — the representation-agreement audit
    // (orthogonal- and scale-invariant, unlike per-dim correlation):
    // how much of the corpus geometry survives truncation. ----
    Query("e_cka", "linear CKA between the full 64-d embedding and",
      (s, dir) =>
        Similarity.linearCka(
          tf(s, dir, "embeddings", "vec_id")
            .filter(col("embedding").isNotNull)
            .select(col("embedding").as("x"),
              slice(col("embedding"), 1, 16).as("y")),
          "x", "y"),
      // three covariance families (xy, xx, yy) through the e_pca_topk
      // cell discipline, Frobenius sums on HUGEINT, one double chain
      {
        def fam(name: String, la: String, lb: String, sa: String,
                sb: String) =
          s"""c$name AS MATERIALIZED (
  SELECT u['i'] AS i, u['j'] AS j, SUM(u['p']) AS sp
  FROM (
    SELECT unnest(flatten(list_transform(range(1, len($la) + 1),
      a -> list_transform(range(1, len($lb) + 1),
        b -> {'i': a - 1, 'j': b - 1,
              'p': CAST(ROUND(CAST($la[CAST(a AS INT)] AS DOUBLE)
                * CAST($lb[CAST(b AS INT)] AS DOUBLE), 6)
                AS DECIMAL(18,6))})))) AS u
    FROM e)
  GROUP BY 1, 2),
v$name AS MATERIALIZED (
  SELECT CAST(SUM(cmu * cmu) AS HUGEINT) AS f FROM (
    SELECT CAST(CAST(ROUND((CAST(sp AS DOUBLE)
        - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)
          / CAST(n.n AS DOUBLE))
        / (CAST(n.n AS DOUBLE) - 1.0), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS cmu
    FROM c$name, n, $sa si, $sb sj
    WHERE si.i = c$name.i AND sj.i = c$name.j))"""
        s"""WITH e AS MATERIALIZED (
  SELECT embedding AS x, embedding[1:16] AS y FROM embeddings
  WHERE embedding IS NOT NULL),
n AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
sx AS MATERIALIZED (
  SELECT u['i'] AS i,
    SUM(CAST(ROUND(CAST(u['v'] AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
  FROM (
    SELECT unnest(list_transform(range(1, len(x) + 1),
      k -> {'i': k - 1, 'v': x[CAST(k AS INT)]})) AS u
    FROM e)
  GROUP BY 1),
sy AS MATERIALIZED (
  SELECT u['i'] AS i,
    SUM(CAST(ROUND(CAST(u['v'] AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
  FROM (
    SELECT unnest(list_transform(range(1, len(y) + 1),
      k -> {'i': k - 1, 'v': y[CAST(k AS INT)]})) AS u
    FROM e)
  GROUP BY 1),
${fam("xy", "x", "y", "sx", "sy")},
${fam("xx", "x", "x", "sx", "sx")},
${fam("yy", "y", "y", "sy", "sy")}
SELECT n.n AS n, 64 AS d_x, 16 AS d_y,
  CASE WHEN vxx.f > 0 AND vyy.f > 0 THEN
    ROUND(CAST(vxy.f AS DOUBLE) / (sqrt(CAST(vxx.f AS DOUBLE))
      * sqrt(CAST(vyy.f AS DOUBLE))), 6) END AS cka
FROM n, vxy, vxx, vyy"""
      }),

    // ---- similarity: rank-biased overlap audit of the IVF shortlist
    // against its brute-force twin — the top-weighted agreement
    // metric (Webber 2010) per query, p=0.9, depth 10: the number
    // that says how much recall the nprobe knob is actually buying,
    // weighted toward the ranks that matter. ----
    Query("e_rbo", "rank-biased overlap audit of the IVF shortlist",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val q = emb.filter(col("vec_id") % 100 === 0)
        val brute = Similarity.bruteKnnJoin(q, emb, "vec_id",
          "embedding", 10)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64)
        val approx = Similarity.ivfKnnJoin(q, emb, "vec_id", "embedding",
          k = 10, centroids = cents, nprobe = 8)
        ops.Analytics.rankBiasedOverlap(brute, approx, "query_id",
          "neighbor_id", "rank", depth = 10)
      },
      // brute top-10 + the e_ivf_knn_join IVF replay (nlist=64,
      // nprobe=8) + the RBO tail: per-item W(max(ra,rb)) weights as
      // term-wise round-6 decimals (the a58 POWER discipline), exact
      // decimal sum, one x0.1 product, one double round
      s"""WITH $BruteKnnCtes,
        |cents AS MATERIALIZED (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM src
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |probed AS MATERIALIZED (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cents.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cos("ce", "qe")}
        |        DESC, cents.cell) AS pr
        |    FROM cents, q)
        |  WHERE pr <= 8),
        |assign AS MATERIALIZED (
        |  SELECT e.vec_id, e.embedding,
        |    ${nearestCell("cents", "e.embedding")} AS cell
        |  FROM src e),
        |ivf AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, rb FROM (
        |    SELECT p.query_id, a.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY p.query_id
        |        ORDER BY ${cos("a.embedding", "q.qe")}
        |        DESC, a.vec_id) AS rb
        |    FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
        |    WHERE a.vec_id <> p.query_id)
        |  WHERE rb <= 10),
        |wt AS (
        |  SELECT m, SUM(CAST(ROUND(POWER(CAST(0.9 AS DOUBLE), d - 1)
        |    / d, 6) AS DECIMAL(18,6))) AS w
        |  FROM range(1, 11) tm(m), range(1, 11) td(d)
        |  WHERE d >= m GROUP BY m),
        |com AS (
        |  SELECT b.query_id, greatest(b.ra, v.rb) AS m
        |  FROM brute b JOIN ivf v ON v.query_id = b.query_id
        |    AND v.neighbor_id = b.neighbor_id),
        |perq AS (
        |  SELECT query_id, COUNT(*) AS n_common, SUM(w.w) AS ws
        |  FROM com JOIN wt w ON w.m = com.m GROUP BY query_id),
        |allq AS (
        |  SELECT query_id FROM brute UNION SELECT query_id FROM ivf)
        |SELECT a.query_id,
        |  CAST(COALESCE(p.n_common, 0) AS BIGINT) AS n_common,
        |  ROUND(CAST(COALESCE(p.ws, CAST(0 AS DECIMAL(18,6)))
        |    * CAST(0.1 AS DECIMAL(18,6)) AS DOUBLE), 6) AS rbo
        |FROM allq a LEFT JOIN perq p USING (query_id)""".stripMargin),

    // ---- similarity eval: nDCG@10 per query — brute top-10 lists
    // with same-label binary relevance; position-weighted gain in
    // exact decimal, the per-query recall dial for the ANN stack. ----
    Query("e_ndcg", "nDCG@10 per query",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val q = emb.filter(col("vec_id") % 100 === 0)
        val ranked = Similarity.bruteKnnJoin(q, emb, "vec_id",
          "embedding", 10)
        val ql = emb.select(col("vec_id").as("query_id"),
          col("label").as("__ql"))
        val nl = emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl"))
        val withRel = ranked.join(ql, Seq("query_id"))
          .join(nl, Seq("neighbor_id"))
          .select(col("query_id"), col("rank"),
            when(col("__ql") === col("__nl"), 1L).otherwise(0L)
              .as("rel"))
        Quality.ndcgAtK(withRel, "query_id", "rank", "rel", k = 10)
      },
      // the e_rbo brute top-10 replay + same-label relevance; gain
      // terms one rounded chain each, DCG/IDCG exact decimal sums
      s"""WITH $BruteKnnCtes,
        |rel AS (
        |  SELECT b.query_id, b.ra AS r,
        |    CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
        |  FROM brute b
        |  JOIN embeddings ql ON ql.vec_id = b.query_id
        |  JOIN embeddings nl ON nl.vec_id = b.neighbor_id),
        |$NdcgTail""".stripMargin),

    // ---- similarity eval: nDCG@10 over the IVF shortlist — the
    // SAME k-bounded tail fed by ivfKnnJoin (nlist = nlistFor(n) —
    // the deployment contract, cells bounded at 64; nprobe=8; corpus
    // assignment two-level O(√nlist) per row — exact argmax over a
    // derived nlist is O(n²/cellTarget) across the corpus): the
    // deployment-shape twin of e_ndcg, correctness-gated like the
    // margin-mining pair. ----
    Query("e_ndcg_ivf", "nDCG@10 over the IVF shortlist",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val q = emb.filter(col("vec_id") % 100 === 0)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
          Similarity.nlistFor(emb.count()))
        val ranked = Similarity.ivfKnnJoin(q, emb, "vec_id",
          "embedding", k = 10, centroids = cents, nprobe = 8,
          hierAssign = true)
        val ql = emb.select(col("vec_id").as("query_id"),
          col("label").as("__ql"))
        val nl = emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl"))
        val withRel = ranked.join(ql, Seq("query_id"))
          .join(nl, Seq("neighbor_id"))
          .select(col("query_id"), col("rank"),
            when(col("__ql") === col("__nl"), 1L).otherwise(0L)
              .as("rel"))
        Quality.ndcgAtK(withRel, "query_id", "rank", "rel", k = 10)
      },
      // the WHOLE IVF structure (derived nlist, centroid pick, probe
      // ranks, TWO-LEVEL cell assignment: ⌈√nlist⌉ supers → member→
      // super groups with supers self-pinned → per-vector super argmax
      // then within-group argmax, per-query top-10) + same-label
      // relevance + the nDCG tail — the e_rbo replay feeding the
      // e_ndcg chains
      s"""WITH src AS MATERIALIZED (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |q AS MATERIALIZED (
        |  SELECT vec_id AS query_id, embedding AS qe, label AS ql
        |  FROM src WHERE vec_id % 100 = 0),
        |cents AS MATERIALIZED (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM src
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT (SELECT GREATEST(16,
        |    CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) FROM src)),
        |probed AS MATERIALIZED (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cents.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cos("ce", "qe")}
        |        DESC, cents.cell) AS pr
        |    FROM cents, q)
        |  WHERE pr <= 8),
        |${ivfTwoLevelAssign("label")},
        |ivf AS MATERIALIZED (
        |  SELECT query_id, ql, nl, rb FROM (
        |    SELECT p.query_id, q.ql, a.label AS nl,
        |      row_number() OVER (PARTITION BY p.query_id
        |        ORDER BY ${cos("a.embedding", "q.qe")}
        |        DESC, a.vec_id) AS rb
        |    FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
        |    WHERE a.vec_id <> p.query_id)
        |  WHERE rb <= 10),
        |rel AS (
        |  SELECT query_id, rb AS r,
        |    CASE WHEN ql = nl THEN 1 ELSE 0 END AS rel
        |  FROM ivf),
        |$NdcgTail""".stripMargin),

    // ---- similarity: per-label embedding centroids as MERGEABLE
    // PARTIALS (label, dim, exact sum, n) — posexplode to (label, dim),
    // one hash agg; per-element round-6 THEN exact decimal sum makes
    // the parallel-reduction sum engine-deterministic, and the 6-dp
    // decimal sum casts to double EXACTLY (scaled integer < 2^53).
    // Deliberately NOT the rounded mean: a 6-dp sum divided by a small
    // count can land exactly on a round-6 midpoint, where Spark's
    // BigDecimal HALF_UP and DuckDB's multiply-then-round disagree by
    // 1 ulp (observed at sf0.1: label 9 dim 6, sum/192). Partials are
    // also the better scale shape — shards/days merge by addition,
    // consumers divide once at use. ----
    Query("e_label_centroid", "per-label embedding centroids as MERGEABLE",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("label"), col("dim").cast("long").as("dim"))
          .agg(
            sum(round(col("x").cast("double"), 6).cast("decimal(20,6)"))
              .cast("double").as("sum_x"),
            count(lit(1)).as("n")),
      """WITH dims AS (
        |  SELECT unnest(range(0, (SELECT MAX(len(embedding))
        |                          FROM embeddings))) AS dim)
        |SELECT e.label, d.dim,
        |  CAST(SUM(CAST(ROUND(CAST(embedding[d.dim + 1] AS DOUBLE), 6)
        |      AS DECIMAL(20,6))) AS DOUBLE) AS sum_x,
        |  COUNT(*) AS n
        |FROM embeddings e JOIN dims d ON d.dim < len(e.embedding)
        |GROUP BY e.label, d.dim""".stripMargin),

    // ---- similarity: int8 scalar quantization of the embedding
    // column + reconstruction error — the compression step before ANN
    // serving (codes + 2 floats per vector instead of dim floats).
    // Narrow, shuffle-free; explicit floor(x+0.5) rounding so the
    // DuckDB oracle shares the rule. ----
    Query("e_quantize_int8", "int8 scalar quantization of the embedding",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            Similarity.quantizeInt8(col("embedding")).as("q"))
          .select(col("vec_id"), col("q.codes"), col("q.mean_abs_err"),
            col("q.max_abs_err")),
      """WITH p AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS lo,
        |    CAST(list_max(embedding) AS DOUBLE) AS hi,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |     - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sc
        |  FROM embeddings)
        |SELECT vec_id,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(CASE WHEN hi = lo THEN 0 ELSE
        |      LEAST(255, GREATEST(0,
        |        CAST(floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) AS INT)))
        |    END AS VARCHAR)), ',') AS codes,
        |  ROUND(list_sum(list_transform(embedding, x ->
        |    abs(CAST(x AS DOUBLE) - (lo + CAST(CASE WHEN hi = lo THEN 0 ELSE
        |      LEAST(255, GREATEST(0,
        |        CAST(floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) AS INT)))
        |    END AS DOUBLE) * sc)))) / len(embedding), 6) AS mean_abs_err,
        |  ROUND(list_max(list_transform(embedding, x ->
        |    abs(CAST(x AS DOUBLE) - (lo + CAST(CASE WHEN hi = lo THEN 0 ELSE
        |      LEAST(255, GREATEST(0,
        |        CAST(floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) AS INT)))
        |    END AS DOUBLE) * sc)))), 6) AS max_abs_err
        |FROM p""".stripMargin),

    // ---- similarity: batch IVF k-NN join against the PERSISTED index
    // — corpus arrives pre-assigned and cell-partitioned, so the whole
    // assignment pass disappears; shares the staged nlist=64 index
    // with e_ivf_indexed ----
    Query("e_ivf_knn_indexed", "batch IVF k-NN join against the PERSISTED index",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val (path, cents) = stagedIvfIndex.getOrElseUpdate(dir, {
          val p = tempDir("graft_ivf") + "/idx"
          val c = Similarity.buildIvfIndex(emb.filter(col("vec_id") =!= 0),
            "vec_id", "embedding", nlist = 64, path = p)
          (p, c)
        })
        Similarity.ivfKnnJoinIndexed(s, path,
            emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
            k = 5, nprobe = 8, centroids = cents)
          .withColumnRenamed("rank", "rnk")
      },
      // The e_ivf_knn_join arithmetic over the PERSISTED-index corpus
      // (vec_id <> 0, nlist=64 — e_ivf_indexed's staging knobs).
      ivfKnnJoinOracle("embeddings WHERE vec_id <> 0",
        "embeddings e WHERE e.vec_id <> 0")),

    Query("e_sim_pairs", "threshold pairs blocked by label",
      (s, dir) =>
        Similarity.thresholdPairsByLabel(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", threshold = 0.3),
      s"""SELECT a.label AS lbl, a.vec_id AS id1, b.vec_id AS id2,
        |  ${cos("a.embedding", "b.embedding")}
        |    AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ${cos("a.embedding", "b.embedding")} >= 0.3""".stripMargin),

    // ---- similarity: embedding-cosine near-dup (multi-table SRP
    // candidates + exact verify). The synthetic corpus's max pairwise
    // cosine is ~0.51 at sf0.01 / 0.6009 at sf0.1 — the threshold sits
    // at 0.8, safely above the corpus at every SF, because the oracle
    // is exact brute force and LSH recall near the threshold is the
    // weak part of the S-curve (measured: a 0.6009 corpus pair at a
    // 0.6 threshold was missed; ~6% single-pair recall there at these
    // knobs). A deterministic seeded near-dup cluster (5 vectors =
    // base pattern + a 1/16 bump on dim i; all values exact float
    // multiples of 1/16, reproducible in SQL) is unioned in — the
    // oracle row is NON-vacuous: the corpus contributes the
    // no-false-positive evidence, the injected cluster (cos ~0.9993,
    // deep in the S-curve's reliable region) the recall evidence. ----
    Query("e_semantic_neardup", "embedding-cosine near-dup (multi-table SRP",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val inj = s.range(0, 5).select(
          (col("id") + 1000000L).as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            ((pmod(d * 7, lit(16)) - lit(8)).cast("double") / 16.0 +
              when(d === col("id").cast("int"), lit(0.0625)).otherwise(lit(0.0)))
              .cast("float")).as("embedding"))
        Similarity.semanticNearDup(emb.unionByName(inj),
          "vec_id", "embedding", threshold = 0.8, nPlanes = 12, tables = 4)
      },
      s"""WITH inj AS (
        |  SELECT CAST(1000000 + i AS BIGINT) AS vec_id,
        |    list_transform(range(0, 64), d ->
        |      CAST(CAST((d*7) % 16 - 8 AS DOUBLE)/16.0
        |        + CASE WHEN d = i THEN 0.0625 ELSE 0.0 END AS FLOAT)) AS embedding
        |  FROM range(0, 5) t(i)),
        |allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM inj)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ${cos("a.embedding", "b.embedding")}
        |    AS cos_sim
        |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |WHERE ${cos("a.embedding", "b.embedding")} >= 0.8""".stripMargin)
  )
}
