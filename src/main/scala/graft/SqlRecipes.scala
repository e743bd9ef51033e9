package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Fixtures.WarcPage

/** SQL-surface parity for the flagship operator library (round-10
  * verdict #6): the 16 native functions already reach every Thrift
  * session via GraftExtensions, but the operator LIBRARY (sessionize,
  * funnel, as-of join, dedup, resample, near-dup) was DSL-only — a
  * JDBC/BI analyst could not call it. These are the flagship
  * operators (32 as of r15: + HLL, phash/simhash near-dup, KS drift,
  * blocked Fellegi–Sunter linkage, MMR re-rank, the r13 stats wave,
  * the r14 capstone blocked dataset, and the r15 ROUGE /
  * Bradley–Terry eval pair)
  * re-expressed as Spark 4 SQL TABLE FUNCTIONS
  * (`CREATE FUNCTION ... RETURNS TABLE ... RETURN <query>`): pure SQL
  * text an analyst can paste into ANY connection (beeline, hive-jdbc,
  * a BI tool) and then call like a table — no Scala, no jar.
  *
  * Each body is the SAME plan shape as its DSL twin — one key-hash
  * exchange for the window ops, the union+LOCF single-exchange design
  * for as-of/resample, banded self-join (never all-pairs) for
  * near-dup — so the 100 TB contracts carry over verbatim. Parity
  * with the DSL operators is spec'd row-for-row (SqlRecipesSpec) and
  * one recipe is proven over the wire on a FRESH Thrift connection
  * (JdbcServerSpec): the fresh session runs the DDL itself, exactly
  * as a cookbook user would.
  *
  * `prefix` qualifies the table views: "" for a session with plain
  * temp views (SqlRunner), "global_temp." for a derived JDBC session
  * (each Thrift connection sees only the global views — see
  * [[JdbcServer.start]]).
  */
object SqlRecipes {

  /** ts (TIMESTAMP_NTZ in the synthetic tables) -> fractional-second
    * epoch: NTZ refuses a direct numeric cast, the LTZ hop is identity
    * under the pinned UTC session (the sessionize convention). */
  private val T = "CAST(CAST(ts AS TIMESTAMP_LTZ) AS DOUBLE)"

  /** The [[graft.text.HtmlOps]] strip chain rendered as SPARK SQL
    * over an expression — generated from the engine's own
    * TagChain/Entities constants (no drift). Backslashes double for
    * the default-escaping SQL parser; the newline replacement rides
    * as a raw newline inside the literal. */
  private def sparkStripSql(expr: String): String = {
    def q(s: String) =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val tagless = graft.text.HtmlOps.TagChain.foldLeft(expr) {
      case (e, (re, sub)) =>
        // '\n' (parser-unescaped to the real character) rather than a
        // raw newline embedded in the literal
        val rep = if (sub == "\n") "'\\n'" else q(sub)
        s"regexp_replace($e, ${q(re)}, $rep)"
    }
    val decoded = graft.text.HtmlOps.Entities.foldLeft(tagless) {
      case (e, (ent, ch)) => s"replace($e, ${q(ent)}, ${q(ch)})"
    }
    // replacement newline must reach Java's Matcher as the REAL
    // character ('\n' SQL literal -> one newline): a backslash-n
    // replacement is appendReplacement's escaped LITERAL 'n'
    "trim(regexp_replace(regexp_replace(regexp_replace(" + decoded +
      ", '[ \\\\t\\\\r\\\\f]+', ' '), ' ?\\\\n[ \\\\n]*', '\\n'), " +
      "'^\\\\n+|\\\\n+$', ''))"
  }

  /** name -> CREATE OR REPLACE TEMPORARY FUNCTION statement. */
  def ddl(prefix: String): Seq[(String, String)] = Seq(

    // -- sessionize: gap > gap_sec starts a new session (strict, the
    // DSL contract); ONE user-keyed exchange, both windows share it.
    "graft_sessionize" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_sessionize(gap_sec BIGINT)
         |RETURNS TABLE (user_id BIGINT, event_id BIGINT, ts_epoch DOUBLE,
         |               session_id BIGINT)
         |RETURN
         |WITH e AS (
         |  SELECT user_id, event_id, $T AS t FROM ${prefix}events),
         |g AS (
         |  SELECT user_id, event_id, t,
         |    CASE WHEN t - LAG(t) OVER
         |           (PARTITION BY user_id ORDER BY t, event_id)
         |           > graft_sessionize.gap_sec
         |         OR LAG(t) OVER
         |           (PARTITION BY user_id ORDER BY t, event_id) IS NULL
         |         THEN 1L ELSE 0L END AS new_s
         |  FROM e)
         |SELECT user_id, event_id, t AS ts_epoch,
         |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |FROM g""".stripMargin,

    // -- 3-stage funnel: greedy min-time cascade with null propagation
    // (the DSL semantics); one user-keyed agg carries the per-user
    // array, the roll-up is a tiny global aggregate.
    "graft_funnel" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_funnel(
         |  s1 STRING, s2 STRING, s3 STRING)
         |RETURNS TABLE (stage_idx INT, stage STRING, users BIGINT,
         |               conversion DOUBLE)
         |RETURN
         |WITH pu AS (
         |  SELECT user_id, collect_list(struct($T AS t, event_type AS et)) AS evs
         |  FROM ${prefix}events
         |  WHERE event_type IN (graft_funnel.s1, graft_funnel.s2, graft_funnel.s3)
         |  GROUP BY user_id),
         |c1 AS (
         |  SELECT evs, array_min(transform(
         |    filter(evs, x -> x.et = graft_funnel.s1), x -> x.t)) AS t1
         |  FROM pu),
         |c2 AS (
         |  SELECT evs, t1, array_min(transform(
         |    filter(evs, x -> x.et = graft_funnel.s2 AND x.t >= t1),
         |    x -> x.t)) AS t2
         |  FROM c1),
         |c3 AS (
         |  SELECT t1, t2, array_min(transform(
         |    filter(evs, x -> x.et = graft_funnel.s3 AND x.t >= t2),
         |    x -> x.t)) AS t3
         |  FROM c2),
         |s AS (
         |  SELECT 1 AS stage_idx, graft_funnel.s1 AS stage,
         |         count(t1) AS users FROM c3
         |  UNION ALL SELECT 2, graft_funnel.s2, count(t2) FROM c3
         |  UNION ALL SELECT 3, graft_funnel.s3, count(t3) FROM c3)
         |SELECT stage_idx, stage, users,
         |  CASE WHEN first_users > 0
         |       THEN round(users / first_users, 6) END AS conversion
         |FROM (SELECT s.*, max(CASE WHEN stage_idx = 1 THEN users END)
         |        OVER () AS first_users FROM s)""".stripMargin,

    // -- as-of join (self, typed): each `anchor` event matched to the
    // latest at-or-before `ref` event of the same user — the
    // union+LOCF single-exchange design (refs sort before anchors at
    // equal ts, so "at" is inclusive; no join, no range scan).
    "graft_asof_prior" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_asof_prior(
         |  anchor STRING, ref STRING)
         |RETURNS TABLE (user_id BIGINT, event_id BIGINT, ts_epoch DOUBLE,
         |               ref_ts_epoch DOUBLE)
         |RETURN
         |WITH u AS (
         |  SELECT user_id, event_id, $T AS t, event_type,
         |    CASE WHEN event_type = graft_asof_prior.ref THEN $T END AS rt
         |  FROM ${prefix}events
         |  WHERE event_type IN (graft_asof_prior.anchor, graft_asof_prior.ref))
         |SELECT user_id, event_id, ts_epoch, ref_ts_epoch FROM (
         |  SELECT user_id, event_id, t AS ts_epoch, event_type,
         |    last(rt, true) OVER (PARTITION BY user_id
         |      ORDER BY t,
         |        CASE WHEN event_type = graft_asof_prior.ref THEN 0 ELSE 1 END,
         |        event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS ref_ts_epoch
         |  FROM u)
         |WHERE event_type = graft_asof_prior.anchor""".stripMargin,

    // -- exact dedup, keep-LAST by doc_id (the explicit-tiebreak DSL
    // contract): one content-hash exchange, rank-1 filter.
    "graft_dedup_docs" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_dedup_docs()
         |RETURNS TABLE (doc_id BIGINT, lang STRING, source STRING,
         |               text STRING)
         |RETURN
         |SELECT doc_id, lang, source, text FROM (
         |  SELECT doc_id, lang, source, text,
         |    ROW_NUMBER() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id DESC) AS rn
         |  FROM ${prefix}documents)
         |WHERE rn = 1""".stripMargin,

    // -- resample + LOCF: per-user regular grid from first to last
    // observation, carrying the latest at-or-before value — the
    // union+LOCF single-exchange design (grid rows union with
    // observations; obs sort before grid instants they equal, so "at"
    // is inclusive). Duplicate (user, t) observations collapse to the
    // highest event_id first (asOfJoin's right-unique contract).
    "graft_resample" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_resample(step_sec BIGINT)
         |RETURNS TABLE (user_id BIGINT, grid_epoch DOUBLE, value DOUBLE)
         |RETURN
         |WITH o AS (
         |  SELECT user_id, t, value FROM (
         |    SELECT user_id, $T AS t, value,
         |      ROW_NUMBER() OVER (PARTITION BY user_id, $T
         |        ORDER BY event_id DESC) AS rn
         |    FROM ${prefix}events) WHERE rn = 1),
         |b AS (
         |  SELECT user_id,
         |    CAST(floor(min(t) / graft_resample.step_sec)
         |      * graft_resample.step_sec AS BIGINT) AS lo,
         |    CAST(floor(max(t) / graft_resample.step_sec)
         |      * graft_resample.step_sec AS BIGINT) AS hi
         |  FROM o GROUP BY user_id),
         |grid AS (
         |  SELECT user_id, explode(sequence(lo, hi, graft_resample.step_sec)) AS g
         |  FROM b),
         |u AS (
         |  SELECT user_id, t AS x, value, 1 AS is_obs FROM o
         |  UNION ALL
         |  SELECT user_id, CAST(g AS DOUBLE), CAST(NULL AS DOUBLE), 0
         |  FROM grid)
         |SELECT user_id, x AS grid_epoch, locf AS value FROM (
         |  SELECT user_id, x, is_obs,
         |    last(CASE WHEN is_obs = 1 THEN value END, true) OVER (
         |      PARTITION BY user_id ORDER BY x, is_obs DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
         |  FROM u)
         |WHERE is_obs = 0""".stripMargin,

    // -- portable HLL distinct estimate: the a37 sketch in pure SQL —
    // multiply-xorshift-fold mixer, bit-op registers, exact
    // scaled-integer Z; one 64-key agg.
    "graft_hll_distinct" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_hll_distinct()
         |RETURNS TABLE (m BIGINT, registers_hit BIGINT, estimate DOUBLE)
         |RETURN
         |WITH h0 AS (
         |  SELECT (((user_id % 2147483648L) + 2147483648L) % 2147483648L)
         |    * 2654435761L AS a
         |  FROM ${prefix}events WHERE user_id IS NOT NULL),
         |h1 AS (SELECT a ^ shiftright(a, 31) AS b FROM h0),
         |h2 AS (SELECT (b & 2147483647L) * 2654435761L AS c FROM h1),
         |h AS (SELECT c ^ shiftright(c, 31) AS w FROM h2),
         |r AS (
         |  SELECT w & 63L AS idx,
         |    CASE WHEN shiftright(w, 6) = 0 THEN 57
         |         ELSE bit_count((shiftright(w, 6)
         |                & -shiftright(w, 6)) - 1) + 1
         |    END AS rho
         |  FROM h),
         |regs AS (SELECT idx, MAX(rho) AS rho FROM r GROUP BY idx),
         |a2 AS (
         |  SELECT COUNT(*) AS hit,
         |    SUM(shiftleft(1L, CAST(57 - rho AS INT))) AS z
         |  FROM regs),
         |f AS (
         |  SELECT hit,
         |    CAST(z + (64L - hit) * 144115188075855872L AS DOUBLE)
         |      / 144115188075855872D AS zz
         |  FROM a2)
         |SELECT 64L AS m, hit AS registers_hit,
         |  ROUND(CASE WHEN 0.709D * 64D * 64D / zz <= 2.5D * 64D
         |                  AND (64L - hit) > 0
         |             THEN 64D * ROUND(ln(64D
         |                    / CAST(64L - hit AS DOUBLE)), 6)
         |             ELSE 0.709D * 64D * 64D / zz END, 6) AS estimate
         |FROM f""".stripMargin,

    // -- perceptual-hash media near-dup over the native ahash62:
    // 16-bit band buckets + bit_count hamming verify, never all-pairs.
    "graft_phash_neardup" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_phash_neardup(
         |  max_hamming INT)
         |RETURNS TABLE (id_a BIGINT, id_b BIGINT, hamming INT)
         |RETURN
         |WITH h AS (
         |  SELECT doc_id, ahash62(CAST(text AS BINARY)) AS ah
         |  FROM ${prefix}documents),
         |b AS (
         |  SELECT doc_id, ah, band,
         |    CAST(shiftright(ah, CAST(band * 16 AS INT)) & 65535L
         |      AS INT) AS bk
         |  FROM h LATERAL VIEW explode(sequence(0, 3)) AS band)
         |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         |  CAST(bit_count(a.ah ^ b2.ah) AS INT) AS hamming
         |FROM b a JOIN b b2
         |  ON a.band = b2.band AND a.bk = b2.bk
         |  AND a.doc_id < b2.doc_id
         |WHERE bit_count(a.ah ^ b2.ah)
         |  <= graft_phash_neardup.max_hamming""".stripMargin,

    // -- SimHash near-dup pairs: banded self-join over the native
    // portable_simhash — 62 bits in 4 contiguous blocks, pigeonhole
    // guarantees every pair within hamming <= 3 shares a block, so
    // candidates come from band-key buckets, NEVER an all-pairs join.
    "graft_neardup" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_neardup(max_hamming INT)
         |RETURNS TABLE (doc_a BIGINT, doc_b BIGINT, hamming INT)
         |RETURN
         |WITH h AS (
         |  SELECT doc_id,
         |    portable_simhash(filter(split(trim(text), '\\\\s+'),
         |      t -> t != '')) AS sh
         |  FROM ${prefix}documents),
         |b AS (
         |  SELECT doc_id, sh, band,
         |    CAST(shiftright(sh, band * 16) & 65535 AS INT) AS k
         |  FROM h LATERAL VIEW explode(sequence(0, 3)) AS band)
         |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(a.sh ^ b2.sh) AS INT) AS hamming
         |FROM b a JOIN b b2
         |  ON a.band = b2.band AND a.k = b2.k AND a.doc_id < b2.doc_id
         |WHERE bit_count(a.sh ^ b2.sh) <= graft_neardup.max_hamming"""
        .stripMargin,

    // -- two-sample KS drift (r12): the a38 statistic in pure SQL —
    // exact-integer D argmax (|cumA·nB − cumB·nA| through
    // DECIMAL(38,0), the engine's >2^63-safe discipline), values
    // rounded once to 6. The flat window is the same cumulative sums
    // the engine's bucketed hierarchy refactors.
    "graft_ks_drift" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_ks_drift(split_day INT)
         |RETURNS TABLE (n_a BIGINT, n_b BIGINT, d_stat DOUBLE,
         |               at_value DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS v,
         |    day(ts) <= graft_ks_drift.split_day AS a
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND ts IS NOT NULL),
         |c AS (
         |  SELECT v, SUM(CASE WHEN a THEN 1L ELSE 0L END) AS ca,
         |    SUM(CASE WHEN NOT a THEN 1L ELSE 0L END) AS cb
         |  FROM s GROUP BY v),
         |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
         |cum AS (
         |  SELECT v, SUM(ca) OVER (ORDER BY v) AS pa,
         |    SUM(cb) OVER (ORDER BY v) AS pb
         |  FROM c),
         |n AS (
         |  SELECT v, na, nb,
         |    abs(CAST(pa AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
         |      - CAST(pb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0)))
         |      AS num
         |  FROM cum, t)
         |SELECT na AS n_a, nb AS n_b,
         |  ROUND(CAST(num AS DOUBLE)
         |    / CAST(CAST(na AS DECIMAL(38,0))
         |           * CAST(nb AS DECIMAL(38,0)) AS DOUBLE), 6) AS d_stat,
         |  CAST(v AS DOUBLE) AS at_value
         |FROM n ORDER BY num DESC, v LIMIT 1""".stripMargin,

    // -- blocked Fellegi–Sunter record linkage (r12): the j16
    // pipeline in pure SQL — clean customers vs the deterministic
    // dirty twin, last-3-chars-of-name blocking with the 10k
    // pairs-per-block cap (oversize blocks dropped WHOLE, the
    // truncation-bias contract), native jaro_winkler_sim agreement,
    // and the engine's EXACT decimal log-likelihood literals
    // (round(ln(m/u), 6) half-up) summed in decimal.
    "graft_linkage" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_linkage(
         |  lo DOUBLE, hi DOUBLE)
         |RETURNS TABLE (a_key BIGINT, b_key BIGINT, name_agree BOOLEAN,
         |  nation_agree BOOLEAN, segment_agree BOOLEAN,
         |  balance_agree BOOLEAN, score DOUBLE, decision STRING)
         |RETURN
         |WITH a0 AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         |    c_mktsegment, substring(c_name, -3, 3) AS blk
         |  FROM ${prefix}customer WHERE substring(c_name, -3, 3) IS NOT NULL),
         |b0 AS (
         |  SELECT c_custkey,
         |    CASE WHEN c_custkey % 13 = 0
         |           THEN concat('Cust-', lpad(CAST(c_custkey AS STRING), 9, '0'))
         |         WHEN c_custkey % 7 = 0
         |           THEN concat(substring(c_name, 1, 9), 'X',
         |                       substring(c_name, 11, 100))
         |         ELSE c_name END AS c_name,
         |    c_nationkey,
         |    c_acctbal + (c_custkey % 9) * 20.0D - 80.0D AS c_acctbal,
         |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
         |         ELSE c_mktsegment END AS c_mktsegment
         |  FROM ${prefix}customer),
         |b1 AS (
         |  SELECT *, substring(c_name, -3, 3) AS blk FROM b0
         |  WHERE substring(c_name, -3, 3) IS NOT NULL),
         |keep AS (
         |  SELECT na.blk FROM
         |    (SELECT blk, count(*) AS n FROM a0 GROUP BY blk) na
         |    JOIN (SELECT blk, count(*) AS n FROM b1 GROUP BY blk) nb
         |    ON na.blk = nb.blk
         |  WHERE na.n * nb.n <= 10000),
         |p AS (
         |  SELECT a0.c_custkey AS a_key, b1.c_custkey AS b_key,
         |    coalesce(round(jaro_winkler_sim(a0.c_name, b1.c_name), 6)
         |      >= 0.95D, false) AS name_agree,
         |    coalesce(a0.c_nationkey = b1.c_nationkey, false)
         |      AS nation_agree,
         |    coalesce(a0.c_mktsegment = b1.c_mktsegment, false)
         |      AS segment_agree,
         |    coalesce(abs(a0.c_acctbal - b1.c_acctbal) <= 50.0D, false)
         |      AS balance_agree
         |  FROM a0 JOIN keep ON a0.blk = keep.blk
         |    JOIN b1 ON a0.blk = b1.blk),
         |sc AS (
         |  SELECT p.*, CAST(
         |      (CASE WHEN name_agree THEN CAST(4.553877 AS DECIMAL(18,6))
         |            ELSE CAST(-2.985682 AS DECIMAL(18,6)) END)
         |    + (CASE WHEN nation_agree THEN CAST(3.198673 AS DECIMAL(18,6))
         |            ELSE CAST(-3.871201 AS DECIMAL(18,6)) END)
         |    + (CASE WHEN segment_agree THEN CAST(1.504077 AS DECIMAL(18,6))
         |            ELSE CAST(-2.079442 AS DECIMAL(18,6)) END)
         |    + (CASE WHEN balance_agree THEN CAST(2.890372 AS DECIMAL(18,6))
         |            ELSE CAST(-2.251292 AS DECIMAL(18,6)) END)
         |    AS DOUBLE) AS score
         |  FROM p)
         |SELECT sc.*,
         |  CASE WHEN score >= graft_linkage.hi THEN 'match'
         |       WHEN score <= graft_linkage.lo THEN 'non_match'
         |       ELSE 'review' END AS decision
         |FROM sc""".stripMargin,

    // -- MMR diversified re-rank (r12): the e_mmr_rerank serving
    // layer in pure SQL — 20 candidates off one corpus TakeOrdered,
    // the 20×20 round-6 sim matrix pre-joined per candidate, then the
    // 10 greedy rounds (λ·rel − (1−λ)·max-sim-to-picked, every argmax
    // id-tiebroken) run as ONE `aggregate` higher-order fold over a
    // single collected row — candidate-sized arrays, so the whole
    // greedy costs microseconds and the plan stays linear (a chained-
    // CTE unroll re-inlines the corpus scan 3^k times inside a SQL
    // table function — measured pathological). Native cosine_sim
    // keeps the arithmetic bit-identical to the DSL.
    "graft_mmr_rerank" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_mmr_rerank(
         |  query_id BIGINT, lam DOUBLE)
         |RETURNS TABLE (rank INT, vec_id BIGINT, relevance DOUBLE,
         |               mmr_score DOUBLE)
         |RETURN
         |WITH cand AS (
         |  SELECT e.vec_id AS id,
         |    round(cosine_sim(e.embedding, q.embedding), 6) AS rel,
         |    e.embedding AS v
         |  FROM ${prefix}embeddings e
         |    JOIN ${prefix}embeddings q
         |      ON q.vec_id = graft_mmr_rerank.query_id
         |  WHERE e.vec_id <> graft_mmr_rerank.query_id
         |  ORDER BY rel DESC, id LIMIT 20),
         |cs AS (
         |  SELECT a.id,
         |    collect_list(named_struct('oid', b.id,
         |      'sim', round(cosine_sim(a.v, b.v), 6))) AS sims
         |  FROM cand a JOIN cand b ON a.id <> b.id
         |  GROUP BY a.id),
         |one AS (
         |  SELECT collect_list(named_struct(
         |      'id', c.id, 'rel', c.rel, 'sims', cs.sims)) AS cands
         |  FROM cand c JOIN cs ON cs.id = c.id),
         |res AS (
         |  SELECT aggregate(
         |    sequence(2, 10),
         |    transform(
         |      slice(array_sort(transform(cands,
         |        c -> named_struct('neg', -c.rel, 'id', c.id,
         |                          'rel', c.rel))), 1, 1),
         |      b -> named_struct('rank', 1, 'id', b.id, 'rel', b.rel,
         |        'score', round(graft_mmr_rerank.lam * b.rel, 6))),
         |    (acc, i) -> acc || transform(
         |      slice(array_sort(transform(
         |        filter(cands, c -> NOT array_contains(
         |          transform(acc, p -> p.id), c.id)),
         |        c -> named_struct(
         |          'neg', -round(graft_mmr_rerank.lam * c.rel
         |            - (1.0D - graft_mmr_rerank.lam)
         |              * array_max(transform(
         |                  filter(c.sims, s2 -> array_contains(
         |                    transform(acc, p -> p.id), s2.oid)),
         |                  s2 -> s2.sim)), 6),
         |          'id', c.id, 'rel', c.rel))), 1, 1),
         |      b -> named_struct('rank', CAST(i AS INT), 'id', b.id,
         |        'rel', b.rel, 'score', -b.neg))) AS picked
         |  FROM one)
         |SELECT p.rank, p.id AS vec_id, p.rel AS relevance,
         |  p.score AS mmr_score
         |FROM res LATERAL VIEW inline(res.picked) p""".stripMargin,

    // -- ROC-AUC (r12): Mann–Whitney on exact integers — the doubled
    // statistic makes tie blocks whole numbers; decimal(38,0)
    // products (the a40 arithmetic, single-window form for SQL
    // readability)
    "graft_roc_auc" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_roc_auc(
         |  pos_type STRING)
         |RETURNS TABLE (n_pos BIGINT, n_neg BIGINT, auc DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS v,
         |    event_type = graft_roc_auc.pos_type AS p
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |c AS (
         |  SELECT v, SUM(CASE WHEN p THEN 1L ELSE 0L END) AS cp,
         |    SUM(CASE WHEN NOT p THEN 1L ELSE 0L END) AS cn
         |  FROM s GROUP BY v),
         |cum AS (
         |  SELECT cp, cn, SUM(cn) OVER (ORDER BY v) - cn AS below
         |  FROM c)
         |SELECT SUM(cp) AS n_pos, SUM(cn) AS n_neg,
         |  CASE WHEN SUM(cp) > 0 AND SUM(cn) > 0 THEN
         |    ROUND(CAST(SUM(CAST(cp AS DECIMAL(38,0))
         |        * (2 * CAST(below AS DECIMAL(38,0))
         |           + CAST(cn AS DECIMAL(38,0)))) AS DOUBLE)
         |      / CAST(2 * CAST(SUM(cp) AS DECIMAL(38,0))
         |        * CAST(SUM(cn) AS DECIMAL(38,0)) AS DOUBLE), 6)
         |  END AS auc
         |FROM cum""".stripMargin,

    // -- split-conformal threshold (r12): k = ceil((n+1)(1-alpha)) in
    // exact micro-unit integers; q-hat = the first cumulative >= k,
    // never a per-group sort; under-sized groups keep k, null q-hat
    "graft_conformal" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_conformal(
         |  alpha_micros BIGINT)
         |RETURNS TABLE (event_type STRING, n BIGINT, k BIGINT,
         |               qhat_micros BIGINT)
         |RETURN
         |WITH s AS (
         |  SELECT event_type AS g,
         |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT g, mu, COUNT(*) AS c FROM s GROUP BY g, mu),
         |cum AS (
         |  SELECT g, mu,
         |    SUM(c) OVER (PARTITION BY g ORDER BY mu) AS cum
         |  FROM c),
         |n AS (
         |  SELECT g, SUM(c) AS n,
         |    ((SUM(c) + 1) * (1000000 - graft_conformal.alpha_micros)
         |      + 999999) div 1000000 AS k
         |  FROM c GROUP BY g),
         |q AS (
         |  SELECT cum.g, MIN(mu) AS qhat_micros
         |  FROM cum JOIN n ON n.g = cum.g
         |  WHERE cum.cum >= n.k GROUP BY cum.g)
         |SELECT n.g AS event_type, n.n, n.k, q.qhat_micros
         |FROM n LEFT JOIN q ON q.g = n.g""".stripMargin,

    // -- Gini concentration (r12): corpus-mass concentration over
    // sources; ROW_NUMBER rank-sum replay (tie-order invariant), one
    // exact rational, one double division
    "graft_gini" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_gini()
         |RETURNS TABLE (n_units BIGINT, total_micros BIGINT,
         |               gini DOUBLE)
         |RETURN
         |WITH u AS (
         |  SELECT source,
         |    CAST(SUM(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
         |      AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS x
         |  FROM ${prefix}documents WHERE n_chars IS NOT NULL
         |  GROUP BY source),
         |p AS (
         |  SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS i
         |  FROM u WHERE x >= 0),
         |t AS (
         |  SELECT COUNT(*) AS n, COALESCE(SUM(x), 0L) AS tt,
         |    COALESCE(SUM(i * x), 0L) AS s
         |  FROM p)
         |SELECT n AS n_units, tt AS total_micros,
         |  CASE WHEN n > 0 AND tt > 0 THEN
         |    ROUND(CAST(2 * s - (n + 1) * tt AS DOUBLE)
         |      / CAST(n * tt AS DOUBLE), 6) END AS gini
         |FROM t""".stripMargin,

    // -- Cohen's kappa (r12): chance-corrected agreement between two
    // derived raters as one exact-integer rational
    "graft_kappa" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_kappa(
         |  cut1 INT, cut2 INT, cut1b INT, cut2b INT)
         |RETURNS TABLE (n BIGINT, agree BIGINT, kappa DOUBLE)
         |RETURN
         |WITH r AS (
         |  SELECT
         |    CASE WHEN n_chars < graft_kappa.cut1 THEN 'short'
         |         WHEN n_chars < graft_kappa.cut2 THEN 'mid'
         |         ELSE 'long' END AS a,
         |    CASE WHEN length(regexp_replace(text, ' ', ''))
         |           < graft_kappa.cut1b THEN 'short'
         |         WHEN length(regexp_replace(text, ' ', ''))
         |           < graft_kappa.cut2b THEN 'mid' ELSE 'long' END AS b
         |  FROM ${prefix}documents
         |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |c AS (SELECT a, b, COUNT(*) AS c FROM r GROUP BY a, b),
         |rt AS (SELECT a AS k, SUM(c) AS r FROM c GROUP BY a),
         |ct AS (SELECT b AS k, SUM(c) AS ct FROM c GROUP BY b),
         |s AS (
         |  SELECT COALESCE(SUM(CAST(rt.r AS DECIMAL(38,0))
         |    * CAST(ct.ct AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)))
         |    AS s
         |  FROM rt JOIN ct ON rt.k = ct.k),
         |t AS (
         |  SELECT SUM(c) AS n,
         |    SUM(CASE WHEN a = b THEN c ELSE 0L END) AS agree
         |  FROM c)
         |SELECT n, agree,
         |  CASE WHEN CAST(n AS DECIMAL(38,0)) * n <> s THEN
         |    ROUND(CAST(CAST(agree AS DECIMAL(38,0)) * n - s AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n - s AS DOUBLE), 6)
         |  END AS kappa
         |FROM t, s""".stripMargin,

    // -- group-fairness audit (r12): per-lang confusion counts for a
    // length-gate prediction vs the declared-length label; every rate
    // one round-6 double division, zero denominators stay NULL
    "graft_fairness" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_fairness(
         |  label_chars INT, pred_chars INT)
         |RETURNS TABLE (lang STRING, n BIGINT, tp BIGINT, fp BIGINT,
         |  fn BIGINT, tn BIGINT, selection_rate DOUBLE, tpr DOUBLE,
         |  fpr DOUBLE, ppv DOUBLE, dp_gap DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT lang,
         |    n_chars >= graft_fairness.label_chars AS y,
         |    length(regexp_replace(text, ' ', ''))
         |      >= graft_fairness.pred_chars AS h
         |  FROM ${prefix}documents
         |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
         |    AND text IS NOT NULL),
         |c AS (
         |  SELECT lang, COUNT(*) AS n,
         |    SUM(CASE WHEN y AND h THEN 1L ELSE 0L END) AS tp,
         |    SUM(CASE WHEN NOT y AND h THEN 1L ELSE 0L END) AS fp,
         |    SUM(CASE WHEN y AND NOT h THEN 1L ELSE 0L END) AS fn,
         |    SUM(CASE WHEN NOT y AND NOT h THEN 1L ELSE 0L END) AS tn
         |  FROM s GROUP BY lang),
         |o AS (SELECT SUM(tp + fp) AS selall, SUM(n) AS nall FROM c)
         |SELECT lang, n, tp, fp, fn, tn,
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
         |FROM c, o""".stripMargin,

    // -- Sinkhorn OT drift (r13): the a59 geometry-aware drift metric
    // in pure SQL — all 5 scalings unrolled as CTEs on the bins²
    // frame, micro-grid iterates, exact pico/1e18 sums (the same
    // integer discipline as the DSL op, so parity is bit-exact)
    "graft_sinkhorn" -> {
      val rounds = (1 to 5).map { r =>
        s"""u$r AS (
  SELECT k.i, CASE WHEN SUM(CAST(k.km AS DECIMAL(38,0)) * v.vm) > 0
    THEN CAST(CAST(ROUND((CAST(m.pm AS DOUBLE) / 1000000.0D)
      / (CAST(SUM(CAST(k.km AS DECIMAL(38,0)) * v.vm) AS DOUBLE)
         / 1000000000000.0D), 6) AS DECIMAL(18,6)) * 1000000
      AS BIGINT) END AS um
  FROM k JOIN v${r - 1} v ON v.j = k.j
    JOIN mass m ON m.bin = k.i
  GROUP BY k.i, m.pm),
v$r AS (
  SELECT k.j, CASE WHEN SUM(CAST(k.km AS DECIMAL(38,0)) * u.um) > 0
    THEN CAST(CAST(ROUND((CAST(m.qm AS DOUBLE) / 1000000.0D)
      / (CAST(SUM(CAST(k.km AS DECIMAL(38,0)) * u.um) AS DOUBLE)
         / 1000000000000.0D), 6) AS DECIMAL(18,6)) * 1000000
      AS BIGINT) END AS vm
  FROM k JOIN u$r u ON u.i = k.i
    JOIN mass m ON m.bin = k.j
  GROUP BY k.j, m.qm)"""
      }.mkString(",\n")
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_sinkhorn(
         |  split_day INT, bin_width_micros BIGINT, eps DOUBLE)
         |RETURNS TABLE (n_a BIGINT, n_b BIGINT, n_bins BIGINT,
         |  cost DOUBLE, transported_mass DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT day(ts) <= graft_sinkhorn.split_day AS a,
         |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND ts IS NOT NULL),
         |b AS (
         |  SELECT vm div graft_sinkhorn.bin_width_micros AS bin,
         |    SUM(CASE WHEN a THEN 1L ELSE 0L END) AS ca,
         |    SUM(CASE WHEN NOT a THEN 1L ELSE 0L END) AS cb
         |  FROM s GROUP BY 1),
         |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM b),
         |mass AS (
         |  SELECT bin,
         |    CASE WHEN na > 0 THEN CAST(CAST(ROUND(
         |      CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) END AS pm,
         |    CASE WHEN nb > 0 THEN CAST(CAST(ROUND(
         |      CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) END AS qm
         |  FROM b, t),
         |k AS (
         |  SELECT i.bin AS i, j.bin AS j, abs(i.bin - j.bin) AS c,
         |    CAST(CAST(ROUND(exp(-CAST(abs(i.bin - j.bin) AS DOUBLE)
         |      / graft_sinkhorn.eps), 6) AS DECIMAL(18,6))
         |      * 1000000 AS BIGINT) AS km
         |  FROM mass i, mass j),
         |v0 AS (SELECT bin AS j,
         |  CASE WHEN qm IS NOT NULL THEN 1000000L END AS vm
         |  FROM mass),
         |$rounds,
         |pl AS (
         |  SELECT SUM(CAST(u.um AS DECIMAL(38,0)) * k.km * v.vm * k.c)
         |      AS cost18,
         |    SUM(CAST(u.um AS DECIMAL(38,0)) * k.km * v.vm) AS mass18,
         |    SUM(CASE WHEN u.um IS NULL OR v.vm IS NULL
         |        THEN 1 ELSE 0 END) AS nulls
         |  FROM k JOIN u5 u ON u.i = k.i JOIN v5 v ON v.j = k.j),
         |bc AS (SELECT COUNT(*) AS bins FROM mass)
         |SELECT t.na AS n_a, t.nb AS n_b, bc.bins AS n_bins,
         |  CASE WHEN t.na > 0 AND t.nb > 0 AND pl.nulls = 0 THEN
         |    ROUND(CAST(pl.cost18 AS DOUBLE) / 1e18, 6) END AS cost,
         |  CASE WHEN t.na > 0 AND t.nb > 0 AND pl.nulls = 0 THEN
         |    ROUND(CAST(pl.mass18 AS DOUBLE) / 1e18, 6)
         |  END AS transported_mass
         |FROM t, bc, pl""".stripMargin
    },

    // -- difference-in-differences (r13): the a64 quasi-experimental
    // 2x2 from any JDBC client — four exact-moment cells, fixed-order
    // rounded chains, NULL on an empty cell
    "graft_did" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_did(cut_day INT)
         |RETURNS TABLE (n_t_pre BIGINT, n_t_post BIGINT,
         |  n_c_pre BIGINT, n_c_post BIGINT, did DOUBLE, se DOUBLE,
         |  t_stat DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT user_id % 2 = 0 AS t,
         |    day(ts) > graft_did.cut_day AS p,
         |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND user_id IS NOT NULL
         |    AND ts IS NOT NULL),
         |c AS (
         |  SELECT
         |    SUM(CASE WHEN t AND NOT p THEN 1L ELSE 0L END) AS n_tpre,
         |    SUM(CASE WHEN t AND NOT p THEN v ELSE 0L END) AS s_tpre,
         |    SUM(CASE WHEN t AND NOT p THEN CAST(v AS DECIMAL(38,0)) * v
         |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_tpre,
         |    SUM(CASE WHEN t AND p THEN 1L ELSE 0L END) AS n_tpost,
         |    SUM(CASE WHEN t AND p THEN v ELSE 0L END) AS s_tpost,
         |    SUM(CASE WHEN t AND p THEN CAST(v AS DECIMAL(38,0)) * v
         |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_tpost,
         |    SUM(CASE WHEN NOT t AND NOT p THEN 1L ELSE 0L END) AS n_cpre,
         |    SUM(CASE WHEN NOT t AND NOT p THEN v ELSE 0L END) AS s_cpre,
         |    SUM(CASE WHEN NOT t AND NOT p
         |        THEN CAST(v AS DECIMAL(38,0)) * v
         |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_cpre,
         |    SUM(CASE WHEN NOT t AND p THEN 1L ELSE 0L END) AS n_cpost,
         |    SUM(CASE WHEN NOT t AND p THEN v ELSE 0L END) AS s_cpost,
         |    SUM(CASE WHEN NOT t AND p
         |        THEN CAST(v AS DECIMAL(38,0)) * v
         |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_cpost
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
         |    CASE WHEN NOT hole THEN
         |      ROUND((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
         |        - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE)
         |        - (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
         |          - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)))
         |        / 1000000.0D, 6) END AS did,
         |    CASE WHEN NOT hole AND ntot > 4 THEN
         |      ROUND(sqrt(
         |        ROUND(((CAST(q_tpre AS DOUBLE) - CAST(s_tpre AS DOUBLE)
         |            * CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
         |          + (CAST(q_tpost AS DOUBLE) - CAST(s_tpost AS DOUBLE)
         |            * CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE))
         |          + (CAST(q_cpre AS DOUBLE) - CAST(s_cpre AS DOUBLE)
         |            * CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE))
         |          + (CAST(q_cpost AS DOUBLE) - CAST(s_cpost AS DOUBLE)
         |            * CAST(s_cpost AS DOUBLE)
         |            / CAST(n_cpost AS DOUBLE)))
         |          / (CAST(ntot AS DOUBLE) - 4.0D)
         |          / 1000000000000.0D, 6)
         |        * (1.0D / CAST(n_tpre AS DOUBLE)
         |          + 1.0D / CAST(n_tpost AS DOUBLE)
         |          + 1.0D / CAST(n_cpre AS DOUBLE)
         |          + 1.0D / CAST(n_cpost AS DOUBLE))), 6) END AS se
         |  FROM m)
         |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post, did, se,
         |  CASE WHEN se > 0 AND did IS NOT NULL THEN
         |    ROUND(did / se, 6) END AS t_stat
         |FROM o""".stripMargin,

    // -- uplift / Qini curve (r13): the a62 targeting evaluation —
    // descending cumulatives on the distinct-score frame
    "graft_uplift" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_uplift(
         |  pos_type STRING)
         |RETURNS TABLE (score DOUBLE, n_t BIGINT, n_c BIGINT,
         |  pos_t BIGINT, pos_c BIGINT, uplift DOUBLE, qini DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS sc,
         |    user_id % 2 = 0 AS t,
         |    event_type = graft_uplift.pos_type AS y
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND user_id IS NOT NULL
         |    AND event_type IS NOT NULL),
         |g AS (
         |  SELECT sc,
         |    SUM(CASE WHEN t THEN 1L ELSE 0L END) AS ct,
         |    SUM(CASE WHEN NOT t THEN 1L ELSE 0L END) AS cc,
         |    SUM(CASE WHEN t AND y THEN 1L ELSE 0L END) AS pt,
         |    SUM(CASE WHEN NOT t AND y THEN 1L ELSE 0L END) AS pc
         |  FROM s GROUP BY sc),
         |tot AS (
         |  SELECT SUM(ct) AS tct, SUM(cc) AS tcc, SUM(pt) AS tpt,
         |    SUM(pc) AS tpc
         |  FROM g),
         |cum AS (
         |  SELECT sc,
         |    tct - (SUM(ct) OVER (ORDER BY sc) - ct) AS n_t,
         |    tcc - (SUM(cc) OVER (ORDER BY sc) - cc) AS n_c,
         |    tpt - (SUM(pt) OVER (ORDER BY sc) - pt) AS pos_t,
         |    tpc - (SUM(pc) OVER (ORDER BY sc) - pc) AS pos_c
         |  FROM g, tot)
         |SELECT CAST(sc AS DOUBLE) / 1000000.0D AS score,
         |  n_t, n_c, pos_t, pos_c,
         |  CASE WHEN n_t > 0 AND n_c > 0 THEN
         |    ROUND(CAST(pos_t AS DOUBLE) / CAST(n_t AS DOUBLE)
         |      - CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
         |  END AS uplift,
         |  CASE WHEN n_c > 0 THEN
         |    ROUND(CAST(pos_t AS DOUBLE)
         |      - CAST(pos_c AS DOUBLE) * CAST(n_t AS DOUBLE)
         |        / CAST(n_c AS DOUBLE), 6)
         |  END AS qini
         |FROM cum""".stripMargin,

    // -- order-free dataset fingerprint (r13): the a60 integrity
    // check from any JDBC client — the SAME native poly_hash_set the
    // DSL uses (injected into every session by GraftExtensions), so
    // recipe and DSL are plan-identical; two modular sums, mergeable
    // across shards by modular add
    "graft_fingerprint" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_fingerprint()
         |RETURNS TABLE (n_rows BIGINT, hash_sum BIGINT,
         |               hash_sum_b BIGINT)
         |RETURN
         |WITH s AS (
         |  SELECT concat_ws(chr(1),
         |    coalesce(CAST(event_id AS STRING), chr(0)),
         |    coalesce(event_type, chr(0))) AS canon
         |  FROM ${prefix}events),
         |h AS (
         |  SELECT element_at(poly_hash_set(array(canon)), 1) AS h1,
         |    element_at(poly_hash_set(array(canon || chr(2))), 1) AS h2
         |  FROM s)
         |SELECT COUNT(*) AS n_rows,
         |  CAST(COALESCE(SUM(CAST(h1 AS DECIMAL(38,0))), 0)
         |    % 2305843009213693951 AS BIGINT) AS hash_sum,
         |  CAST(COALESCE(SUM(CAST(h2 AS DECIMAL(38,0))), 0)
         |    % 2305843009213693951 AS BIGINT) AS hash_sum_b
         |FROM h""".stripMargin,

    // -- Spearman rank correlation (r13): the a47 frame (n_chars vs
    // whitespace count) with the engine's doubled-average-rank
    // discipline — r2 = 2·below + c + 1 off the distinct-value
    // cumulative (whole integers, no half ranks), decimal(38,0)
    // moments, one double division rounded once
    "graft_spearman" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_spearman()
         |RETURNS TABLE (n BIGINT, rho DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT CAST(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xm,
         |    CAST(CAST(ROUND(CAST(length(text)
         |        - length(replace(text, ' ', '')) AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS ym
         |  FROM ${prefix}documents
         |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |cx AS (SELECT xm, COUNT(*) AS c FROM s GROUP BY xm),
         |rx AS (
         |  SELECT xm, 2L * (SUM(c) OVER (ORDER BY xm) - c) + c + 1L
         |    AS r2
         |  FROM cx),
         |cy AS (SELECT ym, COUNT(*) AS c FROM s GROUP BY ym),
         |ry AS (
         |  SELECT ym, 2L * (SUM(c) OVER (ORDER BY ym) - c) + c + 1L
         |    AS r2
         |  FROM cy),
         |j AS (
         |  SELECT CAST(rx.r2 AS DECIMAL(38,0)) AS rxv,
         |    CAST(ry.r2 AS DECIMAL(38,0)) AS ryv
         |  FROM s JOIN rx ON rx.xm = s.xm JOIN ry ON ry.ym = s.ym),
         |m AS (
         |  SELECT COUNT(*) AS n, SUM(rxv) AS sx, SUM(ryv) AS sy,
         |    SUM(rxv * ryv) AS sxy, SUM(rxv * rxv) AS sxx,
         |    SUM(ryv * ryv) AS syy
         |  FROM j)
         |SELECT n,
         |  CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx - sx * sx > 0
         |        AND CAST(n AS DECIMAL(38,0)) * syy - sy * sy > 0
         |    THEN ROUND(
         |      CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
         |      / sqrt(
         |        CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
         |          AS DOUBLE)
         |        * CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
         |          AS DOUBLE)), 6)
         |  END AS rho
         |FROM m""".stripMargin,

    // -- Mann–Kendall trend + Sen's slope (r13): the a56 series frame
    // (daily value totals), exact integer S, tie-corrected 18·Var as
    // ONE integer, truncating pairwise micro-slopes (`div`), Sen =
    // the lower-median order statistic, ±1 continuity on z
    "graft_mann_kendall" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_mann_kendall()
         |RETURNS TABLE (n BIGINT, s BIGINT, var18 BIGINT, z DOUBLE,
         |               sen_slope_micros BIGINT)
         |RETURN
         |WITH d AS (
         |  SELECT CAST(day(ts) AS BIGINT) AS i,
         |    CAST(CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)))
         |        AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |      AS v
         |  FROM ${prefix}events WHERE value IS NOT NULL
         |  GROUP BY day(ts)),
         |p AS (
         |  SELECT a.i AS ia, a.v AS va, b.i AS ib, b.v AS vb
         |  FROM d a JOIN d b ON a.i < b.i),
         |sg AS (
         |  SELECT COALESCE(SUM(CAST(SIGN(CAST(vb - va AS DOUBLE))
         |    AS BIGINT)), 0L) AS s, COUNT(*) AS np
         |  FROM p),
         |nn AS (SELECT COUNT(*) AS n FROM d),
         |t AS (
         |  SELECT COALESCE(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)
         |    * (2 * CAST(c AS DECIMAL(38,0)) + 5)),
         |    CAST(0 AS DECIMAL(38,0))) AS tieterm
         |  FROM (SELECT v, COUNT(*) AS c FROM d GROUP BY v)
         |  WHERE c > 1),
         |med AS (
         |  SELECT MIN(sl) AS sen_slope_micros
         |  FROM (SELECT (vb - va) div (ib - ia) AS sl,
         |          ROW_NUMBER() OVER (ORDER BY (vb - va) div (ib - ia))
         |            AS r
         |        FROM p), sg
         |  WHERE r = (np + 1) div 2),
         |v AS (
         |  SELECT nn.n, sg.s,
         |    CAST(CAST(nn.n AS DECIMAL(38,0)) * (nn.n - 1)
         |      * (2 * CAST(nn.n AS DECIMAL(38,0)) + 5) - t.tieterm
         |      AS BIGINT) AS var18,
         |    med.sen_slope_micros
         |  FROM nn, sg, t, med)
         |SELECT n, s, var18,
         |  CASE WHEN var18 > 0 THEN
         |    ROUND(CASE WHEN abs(s) <= 1 THEN 0.0D
         |      ELSE (CAST(s AS DOUBLE) - SIGN(CAST(s AS DOUBLE)))
         |        / sqrt(CAST(var18 AS DOUBLE) / 18.0D) END, 6)
         |  END AS z,
         |  sen_slope_micros
         |FROM v""".stripMargin,

    // -- Poisson-bootstrap mean CI (r13): the distributed bootstrap —
    // per-row Poisson(1) weights drawn DETERMINISTICALLY from the
    // salted portable hash over the fixed integer CDF cutoffs, replica
    // means truncating on the micro grid, ceil-k order-statistic
    // bounds; no RNG state anywhere
    "graft_bootstrap_ci" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_bootstrap_ci(
         |  replicas INT, alpha_micros BIGINT)
         |RETURNS TABLE (n BIGINT, mean_micros BIGINT, replicas BIGINT,
         |  replicas_used BIGINT, ci_lo_micros BIGINT,
         |  ci_hi_micros BIGINT)
         |RETURN
         |WITH s AS (
         |  SELECT event_id AS id,
         |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
         |  FROM ${prefix}events
         |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
         |o AS (SELECT COUNT(*) AS n, COALESCE(SUM(v), 0L) AS sv FROM s),
         |r AS (
         |  SELECT id, v, explode(sequence(1,
         |    graft_bootstrap_ci.replicas)) AS b
         |  FROM s),
         |h AS (
         |  SELECT v, b,
         |    pmod(pmod(pmod(CAST(id AS BIGINT), 2147483647L)
         |        * 2654435761L, 2147483647L)
         |      + CAST(b AS BIGINT) * 2654435761L, 2147483647L) AS hh
         |  FROM r),
         |w AS (
         |  SELECT v, b,
         |    CAST(CASE WHEN hh < 790015083L THEN 0
         |      WHEN hh < 1580030167L THEN 1
         |      WHEN hh < 1975037709L THEN 2
         |      WHEN hh < 2106706890L THEN 3
         |      WHEN hh < 2139624185L THEN 4
         |      WHEN hh < 2146207644L THEN 5
         |      WHEN hh < 2147304887L THEN 6
         |      WHEN hh < 2147461637L THEN 7
         |      ELSE 8 END AS BIGINT) AS w
         |  FROM h),
         |reps AS (
         |  SELECT COALESCE(SUM(w * v), 0L) AS ws,
         |    COALESCE(SUM(w), 0L) AS wn
         |  FROM w GROUP BY b),
         |m AS (SELECT ws div wn AS m FROM reps WHERE wn > 0),
         |bu AS (SELECT COUNT(*) AS bu FROM m),
         |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM m),
         |k AS (
         |  SELECT bu,
         |    (bu * graft_bootstrap_ci.alpha_micros + 999999L)
         |      div 1000000L AS klo,
         |    (bu * (1000000L - graft_bootstrap_ci.alpha_micros)
         |      + 999999L) div 1000000L AS khi
         |  FROM bu),
         |lo AS (
         |  SELECT MIN(m) AS ci_lo_micros FROM rk, k
         |  WHERE rk.r = GREATEST(k.klo, 1L)),
         |hi AS (
         |  SELECT MIN(m) AS ci_hi_micros FROM rk, k
         |  WHERE rk.r = k.khi)
         |SELECT o.n,
         |  CASE WHEN o.n > 0 THEN o.sv div o.n END AS mean_micros,
         |  CAST(graft_bootstrap_ci.replicas AS BIGINT) AS replicas,
         |  k.bu AS replicas_used, lo.ci_lo_micros, hi.ci_hi_micros
         |FROM o, k, lo, hi""".stripMargin,

    // -- Hellinger / Bhattacharyya drift (r13): the a68 plan in pure
    // SQL — reference-percentile 10-bin split at split_day, per-bin
    // √(p·q) rounded once, BC an exact decimal sum, −0.0 normalized.
    "graft_hellinger" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_hellinger(split_day INT)
         |RETURNS TABLE (n_ref BIGINT, n_cur BIGINT, bc DOUBLE,
         |               hellinger DOUBLE, b_distance DOUBLE)
         |RETURN
         |WITH r0 AS (
         |  SELECT CAST(value AS DOUBLE) AS v FROM ${prefix}events
         |  WHERE value IS NOT NULL
         |    AND day(ts) <= graft_hellinger.split_day),
         |c0 AS (
         |  SELECT CAST(value AS DOUBLE) AS v FROM ${prefix}events
         |  WHERE value IS NOT NULL
         |    AND day(ts) > graft_hellinger.split_day),
         |q AS (SELECT percentile(v, 0.1) AS q1,
         |  percentile(v, 0.2) AS q2, percentile(v, 0.3) AS q3,
         |  percentile(v, 0.4) AS q4, percentile(v, 0.5) AS q5,
         |  percentile(v, 0.6) AS q6, percentile(v, 0.7) AS q7,
         |  percentile(v, 0.8) AS q8, percentile(v, 0.9) AS q9
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
         |c AS (SELECT bin, COUNT(*) AS cur_n FROM cb GROUP BY 1),
         |t AS (SELECT (SELECT COALESCE(SUM(ref_n), 0L) FROM r) AS tr,
         |             (SELECT COALESCE(SUM(cur_n), 0L) FROM c) AS tc),
         |f AS (SELECT COALESCE(ref_n, 0L) AS ref_n,
         |        COALESCE(cur_n, 0L) AS cur_n
         |      FROM r FULL OUTER JOIN c ON r.bin = c.bin),
         |terms AS (SELECT tr, tc,
         |    CAST(ROUND(sqrt(
         |      CAST(CAST(ref_n AS DECIMAL(38,0)) * cur_n AS DOUBLE) /
         |      CAST(CAST(tr AS DECIMAL(38,0)) * tc AS DOUBLE)), 6)
         |      AS DECIMAL(18,6)) AS bct
         |  FROM f, t),
         |agg AS (SELECT MAX(tr) AS n_ref, MAX(tc) AS n_cur,
         |    CAST(CAST(SUM(bct) AS DECIMAL(28,6)) AS DOUBLE) AS bc
         |  FROM terms)
         |SELECT n_ref, n_cur, bc,
         |  CASE WHEN bc IS NOT NULL THEN
         |    ROUND(sqrt(GREATEST(CAST(0.0 AS DOUBLE),
         |      CAST(1.0 AS DOUBLE) - bc)), 6) END AS hellinger,
         |  CASE WHEN bc > 0 THEN
         |    ROUND(-ln(bc), 6) + CAST(0.0 AS DOUBLE)
         |  END AS b_distance
         |FROM agg""".stripMargin,

    // -- one-way ANOVA F (r13): the a69 plan in pure SQL — exact
    // per-group micro moments, each S²/n and Q term one rounded
    // chain summed exactly, F/η² one step each.
    "graft_anova" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_anova()
         |RETURNS TABLE (k BIGINT, n BIGINT, ss_between DOUBLE,
         |               ss_within DOUBLE, f_stat DOUBLE,
         |               eta_sq DOUBLE)
         |RETURN
         |WITH src AS (
         |  SELECT event_type AS g,
         |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
         |  FROM ${prefix}events
         |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
         |grp AS (
         |  SELECT g, COUNT(*) AS n,
         |    SUM(CAST(v AS DECIMAL(38,0))) AS s,
         |    SUM(CAST(v AS DECIMAL(38,0)) * v) AS q
         |  FROM src GROUP BY g),
         |termed AS (
         |  SELECT n, s,
         |    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * 1e12), 6) AS DECIMAL(28,6)) AS t,
         |    CAST(ROUND(CAST(q AS DOUBLE) / 1e12, 6)
         |      AS DECIMAL(28,6)) AS qn
         |  FROM grp),
         |agg AS (
         |  SELECT COUNT(*) AS k, SUM(n) AS n, SUM(s) AS stot,
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
         |SELECT k, n,
         |  CAST(ssb AS DOUBLE) AS ss_between,
         |  CAST(ssw AS DOUBLE) AS ss_within,
         |  CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
         |    ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
         |          (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE)), 6)
         |  END AS f_stat,
         |  CASE WHEN ssb + ssw > 0 THEN
         |    ROUND(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE), 6)
         |  END AS eta_sq
         |FROM ss""".stripMargin,

    // -- McNemar's paired test (r13): the a71 plan in pure SQL —
    // two purchase-prediction rules (value > thr, count > thr) on
    // the SAME users; Edwards-corrected chi2 on exact counts.
    "graft_mcnemar" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_mcnemar(
         |    value_thr DOUBLE, count_thr BIGINT)
         |RETURNS TABLE (n BIGINT, a_only BIGINT, b_only BIGINT,
         |               chi2 DOUBLE)
         |RETURN
         |WITH per AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      = 1 AS actual,
         |    SUM(CAST(value AS DECIMAL(18,6))) AS sv,
         |    COUNT(*) AS ne
         |  FROM ${prefix}events GROUP BY user_id),
         |p AS (
         |  SELECT (sv > graft_mcnemar.value_thr) = actual AS a,
         |    (ne > graft_mcnemar.count_thr) = actual AS b
         |  FROM per WHERE (sv > graft_mcnemar.value_thr) IS NOT NULL),
         |m AS (
         |  SELECT COUNT(*) AS n,
         |    COALESCE(SUM(CASE WHEN a AND NOT b THEN 1L ELSE 0L END),
         |      0L) AS a_only,
         |    COALESCE(SUM(CASE WHEN NOT a AND b THEN 1L ELSE 0L END),
         |      0L) AS b_only
         |  FROM p)
         |SELECT n, a_only, b_only,
         |  CASE WHEN a_only + b_only > 0 THEN
         |    ROUND(CAST(CAST(GREATEST(abs(a_only - b_only) - 1, 0L)
         |        AS DECIMAL(38,0)) *
         |      GREATEST(abs(a_only - b_only) - 1, 0L) AS DOUBLE) /
         |      CAST(a_only + b_only AS DOUBLE), 6)
         |  END AS chi2
         |FROM m""".stripMargin,

    // -- Chapman capture–recapture (r13): the a74 plan in pure SQL —
    // two mod-10 doc_id "crawls" estimate true corpus size and
    // per-crawl coverage; exact counts, one chain per estimate.
    "graft_capture" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_capture(
         |    a_lt BIGINT, b_ge BIGINT)
         |RETURNS TABLE (n_a BIGINT, n_b BIGINT, m_overlap BIGINT,
         |               chapman_n DOUBLE, lincoln_n DOUBLE,
         |               coverage_a DOUBLE, coverage_b DOUBLE)
         |RETURN
         |WITH a AS (SELECT DISTINCT doc_id FROM ${prefix}documents
         |  WHERE doc_id % 10 < graft_capture.a_lt),
         |b AS (SELECT DISTINCT doc_id FROM ${prefix}documents
         |  WHERE doc_id % 10 >= graft_capture.b_ge),
         |m AS (SELECT
         |  (SELECT COUNT(*) FROM a) AS n_a,
         |  (SELECT COUNT(*) FROM b) AS n_b,
         |  (SELECT COUNT(*) FROM a JOIN b USING (doc_id))
         |    AS m_overlap),
         |c AS (SELECT n_a, n_b, m_overlap,
         |  CAST(CAST(n_a + 1 AS DECIMAL(38,0)) * (n_b + 1) AS DOUBLE)
         |    / CAST(m_overlap + 1 AS DOUBLE) - CAST(1.0 AS DOUBLE)
         |    AS chap
         |  FROM m)
         |SELECT n_a, n_b, m_overlap, ROUND(chap, 6) AS chapman_n,
         |  CASE WHEN m_overlap > 0 THEN
         |    ROUND(CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE) /
         |      CAST(m_overlap AS DOUBLE), 6) END AS lincoln_n,
         |  CASE WHEN chap > 0 THEN
         |    ROUND(CAST(n_a AS DOUBLE) / chap, 6) END AS coverage_a,
         |  CASE WHEN chap > 0 THEN
         |    ROUND(CAST(n_b AS DOUBLE) / chap, 6) END AS coverage_b
         |FROM c""".stripMargin,

    // -- nDCG@k (r13): the e_ndcg plan in pure SQL — brute top-k
    // lists via the native cosine_sim (GraftExtensions ships it to
    // every session), same-label relevance, exact decimal gain sums.
    "graft_ndcg" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_ndcg(k INT)
         |RETURNS TABLE (query BIGINT, n_ranked BIGINT, n_rel BIGINT,
         |               dcg DOUBLE, idcg DOUBLE, ndcg DOUBLE)
         |RETURN
         |WITH src AS (
         |  SELECT vec_id, embedding, label FROM ${prefix}embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |  FROM src WHERE vec_id % 100 = 0),
         |ranked AS (
         |  SELECT query_id, ql, nl, rk FROM (
         |    SELECT q.query_id, q.ql, e.label AS nl,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ROUND(cosine_sim(e.embedding, q.qe), 6)
         |          DESC, e.vec_id) AS rk
         |    FROM q JOIN src e ON e.vec_id <> q.query_id)
         |  WHERE rk <= graft_ndcg.k),
         |rel AS (SELECT query_id, rk AS r,
         |    CASE WHEN ql = nl THEN 1L ELSE 0L END AS rel
         |  FROM ranked),
         |ir AS (SELECT query_id, r, rel,
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
         |    CASE WHEN rel > 0 THEN 1L ELSE 0L END AS isrel
         |  FROM ir),
         |agg AS (SELECT query_id AS query, COUNT(*) AS n_ranked,
         |    SUM(isrel) AS n_rel,
         |    CAST(SUM(g) AS DECIMAL(28,6)) AS dcg,
         |    CAST(SUM(ig) AS DECIMAL(28,6)) AS idcg
         |  FROM t GROUP BY query_id)
         |SELECT query, n_ranked, n_rel,
         |  CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
         |  CASE WHEN idcg > 0 THEN
         |    ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
         |  END AS ndcg
         |FROM agg""".stripMargin,

    // -- vocabulary coverage (r13): the t_vocab_coverage plan in
    // pure SQL — Good–Turing unseen mass, Chao1, hapax ratio off one
    // term agg + one single-row conditional agg.
    "graft_vocab_coverage" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_vocab_coverage()
         |RETURNS TABLE (total_tokens BIGINT, vocab BIGINT,
         |               hapax BIGINT, dis_legomena BIGINT,
         |               unseen_mass DOUBLE, chao1 DOUBLE,
         |               hapax_ratio DOUBLE)
         |RETURN
         |WITH f AS (
         |  SELECT term, COUNT(*) AS freq FROM (
         |    SELECT explode(filter(
         |      split(trim(lower(text)), '\\\\s+'),
         |      x -> x != '')) AS term
         |    FROM ${prefix}documents WHERE text IS NOT NULL)
         |  GROUP BY term),
         |c AS (
         |  SELECT CAST(COALESCE(SUM(freq), 0L) AS BIGINT)
         |      AS total_tokens,
         |    COUNT(*) AS vocab,
         |    COALESCE(SUM(CASE WHEN freq = 1 THEN 1L ELSE 0L END), 0L)
         |      AS hapax,
         |    COALESCE(SUM(CASE WHEN freq = 2 THEN 1L ELSE 0L END), 0L)
         |      AS dis_legomena
         |  FROM f)
         |SELECT total_tokens, vocab, hapax, dis_legomena,
         |  CASE WHEN total_tokens > 0 THEN
         |    ROUND(CAST(hapax AS DOUBLE) /
         |          CAST(total_tokens AS DOUBLE), 6)
         |  END AS unseen_mass,
         |  ROUND(CAST(vocab AS DOUBLE) +
         |    CAST(CAST(hapax AS DECIMAL(38,0)) * (hapax - 1)
         |      AS DOUBLE) /
         |    (2.0 * CAST(dis_legomena + 1 AS DOUBLE)), 6) AS chao1,
         |  CASE WHEN vocab > 0 THEN
         |    ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
         |  END AS hapax_ratio
         |FROM c""".stripMargin,

    // -- the capstone blocked dataset (clif/BlockedDataset): hourly
    // encounter grid, whole-stream LOCF plus two staleness-bounded
    // channels carried in the SAME single encounter-keyed window pass
    // (the multi-channel as-of union — last(x, true) running LOCF per
    // channel), trailing-4 rolling mean off the same exchange+sort,
    // encounter outcome label, leakage-safe portable-hash split.
    // Channels pinned to the demo's click (vitals) / purchase (labs);
    // the tolerances and grid step are the knobs an analyst tunes.
    "graft_blocked_dataset" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_blocked_dataset(
         |  step_sec BIGINT, vital_tol BIGINT, lab_tol BIGINT)
         |RETURNS TABLE (user_id BIGINT, grid_ts TIMESTAMP,
         |               last_value DOUBLE, vital_value DOUBLE,
         |               lab_value DOUBLE, roll_avg DOUBLE,
         |               label BIGINT, split STRING)
         |RETURN
         |WITH base AS (
         |  SELECT user_id, ts, value FROM (
         |    SELECT user_id, ts, value,
         |      ROW_NUMBER() OVER (PARTITION BY user_id, ts
         |                         ORDER BY event_id DESC) AS rn
         |    FROM ${prefix}events) WHERE rn = 1),
         |vit AS (
         |  SELECT user_id, ts, value FROM (
         |    SELECT user_id, ts, value,
         |      ROW_NUMBER() OVER (PARTITION BY user_id, ts
         |                         ORDER BY event_id DESC) AS rn
         |    FROM ${prefix}events WHERE event_type = 'click')
         |  WHERE rn = 1),
         |lab AS (
         |  SELECT user_id, ts, value FROM (
         |    SELECT user_id, ts, value,
         |      ROW_NUMBER() OVER (PARTITION BY user_id, ts
         |                         ORDER BY event_id DESC) AS rn
         |    FROM ${prefix}events WHERE event_type = 'purchase')
         |  WHERE rn = 1),
         |grid AS (
         |  SELECT user_id,
         |    explode(sequence(date_trunc('HOUR', t0), t1,
         |      make_dt_interval(0, 0, 0,
         |        CAST(graft_blocked_dataset.step_sec AS DOUBLE))))
         |      AS t
         |  FROM (SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1
         |        FROM base GROUP BY user_id)),
         |u AS (
         |  SELECT user_id, t, 1 AS tag,
         |    CAST(NULL AS STRUCT<v: DOUBLE, mt: TIMESTAMP>) AS pb,
         |    CAST(NULL AS STRUCT<v: DOUBLE, mt: TIMESTAMP>) AS pv,
         |    CAST(NULL AS STRUCT<v: DOUBLE, mt: TIMESTAMP>) AS pl
         |  FROM grid
         |  UNION ALL
         |  SELECT user_id, ts, 0, named_struct('v', value, 'mt', ts),
         |    NULL, NULL FROM base
         |  UNION ALL
         |  SELECT user_id, ts, 0, NULL,
         |    named_struct('v', value, 'mt', ts), NULL FROM vit
         |  UNION ALL
         |  SELECT user_id, ts, 0, NULL, NULL,
         |    named_struct('v', value, 'mt', ts) FROM lab),
         |l AS (
         |  SELECT user_id, t AS grid_ts, tag,
         |    last(pb, true) OVER w AS lb,
         |    last(pv, true) OVER w AS lv,
         |    last(pl, true) OVER w AS ll
         |  FROM u
         |  WINDOW w AS (PARTITION BY user_id ORDER BY t, tag
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |f AS (
         |  SELECT user_id, grid_ts, lb.v AS last_value,
         |    CASE WHEN lv IS NULL OR
         |      CAST(CAST(grid_ts AS TIMESTAMP_LTZ) AS BIGINT) -
         |      CAST(CAST(lv.mt AS TIMESTAMP_LTZ) AS BIGINT)
         |        > graft_blocked_dataset.vital_tol
         |      THEN NULL ELSE lv.v END AS vital_value,
         |    CASE WHEN ll IS NULL OR
         |      CAST(CAST(grid_ts AS TIMESTAMP_LTZ) AS BIGINT) -
         |      CAST(CAST(ll.mt AS TIMESTAMP_LTZ) AS BIGINT)
         |        > graft_blocked_dataset.lab_tol
         |      THEN NULL ELSE ll.v END AS lab_value
         |  FROM l WHERE tag = 1),
         |r AS (
         |  SELECT user_id, grid_ts, last_value, vital_value, lab_value,
         |    ROUND(CAST(SUM(CAST(last_value AS DECIMAL(30,6))) OVER wr
         |        AS DOUBLE) / COUNT(last_value) OVER wr, 6) AS roll_avg
         |  FROM f
         |  WINDOW wr AS (PARTITION BY user_id ORDER BY grid_ts
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
         |lbl AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'error' THEN 1L ELSE 0L END)
         |      AS label
         |  FROM ${prefix}events GROUP BY user_id)
         |SELECT r.user_id, r.grid_ts, r.last_value, r.vital_value,
         |  r.lab_value, r.roll_avg, lbl.label,
         |  CASE WHEN pmod(pmod(pmod(r.user_id, 2147483647L)
         |      * 2654435761L, 2147483647L), 100) < 80 THEN 'train'
         |    WHEN pmod(pmod(pmod(r.user_id, 2147483647L)
         |      * 2654435761L, 2147483647L), 100) < 90 THEN 'val'
         |    ELSE 'test' END AS split
         |FROM r JOIN lbl USING (user_id)""".stripMargin,

    // -- per-doc ROUGE-1/2 (r15): candidate = documents.text with
    // every drop_every-th token removed (the library demo's
    // construction, knob exposed); clipped n-gram overlap off ONE
    // (doc, ord, gram) agg per side + one gram-keyed join; F1 is the
    // exact fraction 2m/(ct+rt), one rounding — TextOps.rougeN's plan
    // shape verbatim.
    "graft_rouge" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_rouge(drop_every BIGINT)
         |RETURNS TABLE (doc_id BIGINT, ord BIGINT, n_match BIGINT,
         |               n_cand BIGINT, n_ref BIGINT, precision DOUBLE,
         |               recall DOUBLE, f1 DOUBLE)
         |RETURN
         |WITH d AS (
         |  SELECT doc_id,
         |    filter(split(trim(text), '\\\\s+'), x -> x <> '') AS ra
         |  FROM ${prefix}documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |dc AS (
         |  SELECT doc_id, ra,
         |    filter(ra, (x, i) ->
         |      (i + 1L) % graft_rouge.drop_every <> 0L) AS ca
         |  FROM d),
         |cg AS (
         |  SELECT doc_id, ord, gram, COUNT(*) AS cc FROM (
         |    SELECT doc_id, ord, explode(if(size(ca) >= ord,
         |      transform(sequence(1, size(ca) - ord + 1),
         |        i -> array_join(slice(ca, i, ord), ' ')),
         |      array())) AS gram
         |    FROM (SELECT doc_id, ca, explode(array(1, 2)) AS ord
         |          FROM dc))
         |  GROUP BY 1, 2, 3),
         |rg AS (
         |  SELECT doc_id, ord, gram, COUNT(*) AS rc FROM (
         |    SELECT doc_id, ord, explode(if(size(ra) >= ord,
         |      transform(sequence(1, size(ra) - ord + 1),
         |        i -> array_join(slice(ra, i, ord), ' ')),
         |      array())) AS gram
         |    FROM (SELECT doc_id, ra, explode(array(1, 2)) AS ord
         |          FROM d))
         |  GROUP BY 1, 2, 3),
         |rt AS (
         |  SELECT doc_id, ord, CAST(SUM(rc) AS BIGINT) AS n_ref
         |  FROM rg GROUP BY 1, 2),
         |pm AS (
         |  SELECT cg.doc_id, cg.ord,
         |    CAST(SUM(LEAST(cg.cc, COALESCE(rg.rc, 0L))) AS BIGINT)
         |      AS n_match,
         |    CAST(SUM(cg.cc) AS BIGINT) AS n_cand
         |  FROM cg LEFT JOIN rg ON rg.doc_id = cg.doc_id
         |    AND rg.ord = cg.ord AND rg.gram = cg.gram
         |  GROUP BY 1, 2)
         |SELECT pm.doc_id, CAST(pm.ord AS BIGINT) AS ord, pm.n_match,
         |  pm.n_cand, COALESCE(rt.n_ref, 0L) AS n_ref,
         |  ROUND(CAST(pm.n_match AS DOUBLE)
         |    / CAST(pm.n_cand AS DOUBLE), 6) AS precision,
         |  CASE WHEN COALESCE(rt.n_ref, 0L) = 0L THEN 0.0D
         |    ELSE ROUND(CAST(pm.n_match AS DOUBLE)
         |      / CAST(rt.n_ref AS DOUBLE), 6) END AS recall,
         |  ROUND(2.0D * CAST(pm.n_match AS DOUBLE)
         |    / CAST(pm.n_cand + COALESCE(rt.n_ref, 0L) AS DOUBLE), 6)
         |    AS f1
         |FROM pm LEFT JOIN rt ON rt.doc_id = pm.doc_id
         |  AND rt.ord = pm.ord""".stripMargin,

    // -- Bradley–Terry strengths (r15): pairwise judgments (doc i vs
    // docs i+off1 and i+off2, longer n_chars wins) -> per-source
    // strengths via 3 synchronous MM rounds on the cells frame;
    // round-6 terms summed exactly as DECIMAL(28,6) —
    // Analytics.bradleyTerry's numerics verbatim.
    "graft_bradley_terry" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_bradley_terry(
         |  off1 BIGINT, off2 BIGINT)
         |RETURNS TABLE (player STRING, wins BIGINT, games BIGINT,
         |               strength DOUBLE, share DOUBLE)
         |RETURN
         |WITH d AS (
         |  SELECT doc_id, source, n_chars FROM ${prefix}documents
         |  WHERE doc_id IS NOT NULL),
         |pr AS (
         |  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
         |           ELSE b.source END AS w,
         |         CASE WHEN a.n_chars >= b.n_chars THEN b.source
         |           ELSE a.source END AS l
         |  FROM d a JOIN d b
         |    ON b.doc_id = a.doc_id + graft_bradley_terry.off1
         |  UNION ALL
         |  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
         |           ELSE b.source END AS w,
         |         CASE WHEN a.n_chars >= b.n_chars THEN b.source
         |           ELSE a.source END AS l
         |  FROM d a JOIN d b
         |    ON b.doc_id = a.doc_id + graft_bradley_terry.off2),
         |cells AS (
         |  SELECT w, l, COUNT(*) AS wn FROM pr WHERE w <> l
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT i, j, CAST(SUM(wij) AS BIGINT) AS wij,
         |    CAST(SUM(wij) + SUM(wji) AS BIGINT) AS nij
         |  FROM (
         |    SELECT w AS i, l AS j, wn AS wij, 0L AS wji FROM cells
         |    UNION ALL
         |    SELECT l AS i, w AS j, 0L AS wij, wn AS wji FROM cells)
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT i, CAST(SUM(wij) AS BIGINT) AS wins,
         |    CAST(SUM(nij) AS BIGINT) AS games
         |  FROM sym GROUP BY 1),
         |p0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM tot),
         |t1 AS (
         |  SELECT s.i, SUM(CAST(ROUND(
         |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
         |    AS DECIMAL(28,6))) AS den
         |  FROM sym s JOIN p0 pi ON pi.i = s.i
         |    JOIN p0 pj ON pj.i = s.j
         |  GROUP BY 1),
         |p1 AS (
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
         |p2 AS (
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
         |p3 AS (
         |  SELECT t3.i, ROUND(CAST(tot.wins AS DOUBLE)
         |    / CAST(t3.den AS DOUBLE), 6) AS p
         |  FROM t3 JOIN tot USING (i)),
         |sumr AS (
         |  SELECT SUM(CAST(p AS DECIMAL(18,6))) AS sp FROM p3)
         |SELECT p3.i AS player, tot.wins, tot.games, p3.p AS strength,
         |  ROUND(p3.p / CAST(sumr.sp AS DOUBLE), 6) AS share
         |FROM p3 JOIN tot USING (i), sumr""".stripMargin,

    // -- URL-canonicalization dedup (r17): the same dirty-URL
    // construction as t_url_dedup, then the declared canonicalization
    // contract step for step (TextOps.canonicalizeUrl verbatim:
    // lowercased scheme/host, www. off, default port off, fragment
    // off, tracking params off, surviving params sorted, trailing
    // slash off) — all row-local, dedup one canonical-key hash agg.
    "graft_url_dedup" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_url_dedup(
         |  keep_min BIGINT)
         |RETURNS TABLE (url STRING, n_dups BIGINT, keep_id BIGINT)
         |RETURN
         |WITH d AS (
         |  SELECT doc_id,
         |    'https://www.example.com/docs/page' ||
         |      CAST(doc_id div 7 AS STRING) AS b,
         |    doc_id % 7 AS m
         |  FROM ${prefix}documents
         |  WHERE doc_id IS NOT NULL AND doc_id >= 0),
         |u AS (
         |  SELECT doc_id, CASE
         |    WHEN m = 0 THEN b
         |    WHEN m = 1 THEN upper(substring(b, 1, 12)) || substring(b, 13)
         |    WHEN m = 2 THEN replace(b, '.example.com/', '.example.com:443/')
         |    WHEN m = 3 THEN b || '?utm_source=x&b=2&a=1'
         |    WHEN m = 4 THEN b || '#sec-2'
         |    WHEN m = 5 THEN b || '/'
         |    ELSE b || '?a=1&b=2&utm_campaign=y' END AS url
         |  FROM d),
         |lo AS (
         |  SELECT doc_id,
         |    CASE WHEN regexp_extract(trim(url),
         |        '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\\\\.)?([^/?#]*)', 1) = ''
         |      THEN trim(url)
         |      ELSE lower(regexp_extract(trim(url),
         |          '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\\\\.)?([^/?#]*)', 1))
         |        || '://' ||
         |        lower(regexp_extract(trim(url),
         |          '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\\\\.)?([^/?#]*)', 2))
         |        || regexp_replace(trim(url),
         |          '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\\\\.)?([^/?#]*)', '')
         |    END AS s
         |  FROM u),
         |nf AS (
         |  SELECT doc_id,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(s,
         |          '^(https://[^/?#:]*):443([/?#].*)?$$', '$$1$$2'),
         |        '^(http://[^/?#:]*):80([/?#].*)?$$', '$$1$$2'),
         |      '#.*$$', '') AS s
         |  FROM lo),
         |parts AS (
         |  SELECT doc_id, instr(s, '?') AS q,
         |    regexp_replace(CASE WHEN instr(s, '?') > 0
         |      THEN substring_index(s, '?', 1) ELSE s END,
         |      '/$$', '') AS base,
         |    array_join(array_sort(filter(
         |      split(substring(s, instr(s, '?') + 1), '&'),
         |      p -> p <> '' AND NOT p RLIKE
         |        '^(utm_[^=]*|gclid|fbclid)(=|$$)')), '&') AS sq
         |  FROM nf)
         |SELECT url, n_dups, keep_id FROM (
         |  SELECT CASE WHEN q > 0 AND sq <> '' THEN base || '?' || sq
         |           ELSE base END AS url,
         |    COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
         |  FROM parts GROUP BY 1)
         |WHERE n_dups >= graft_url_dedup.keep_min""".stripMargin,

    // -- pass@k (r18): the unbiased Chen et al. 2021 code-eval
    // estimator 1 − C(n−c,k)/C(n,k) per task, written as the exact
    // falling-factorial ratio with k literal factors (the
    // a81_pass_at_k fixture: 10 samples per doc-block task, pass on
    // a portable-hash coin at rate (task mod 9 + 1)/10). Returns
    // tasks with at least `min_samples` samples.
    "graft_pass_at_k" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_pass_at_k(
         |  min_samples BIGINT)
         |RETURNS TABLE (task_id BIGINT, n_samples BIGINT,
         |  n_correct BIGINT, pass_at_1 DOUBLE, pass_at_5 DOUBLE,
         |  pass_at_10 DOUBLE)
         |RETURN
         |WITH s AS (
         |  SELECT doc_id div 10 AS task_id,
         |    pmod(pmod(doc_id, 2147483647L) * 2654435761L,
         |      2147483647L) % 10 < pmod(doc_id div 10, 9) + 1
         |      AS passed
         |  FROM ${prefix}documents
         |  WHERE doc_id IS NOT NULL AND doc_id >= 0),
         |t AS (
         |  SELECT task_id, COUNT(*) AS n,
         |    SUM(CASE WHEN passed THEN 1L ELSE 0L END) AS c
         |  FROM s GROUP BY task_id),
         |u AS (SELECT task_id, n, c, n - c AS m FROM t)
         |SELECT task_id, n AS n_samples, c AS n_correct,
         |  CASE WHEN n < 1 THEN NULL
         |    WHEN m < 1 THEN CAST(1.0 AS DOUBLE)
         |    ELSE ROUND(1 - CAST(m AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |  END AS pass_at_1,
         |  CASE WHEN n < 5 THEN NULL
         |    WHEN m < 5 THEN CAST(1.0 AS DOUBLE)
         |    ELSE ROUND(1 -
         |      CAST(m*(m-1)*(m-2)*(m-3)*(m-4) AS DOUBLE) /
         |      CAST(n*(n-1)*(n-2)*(n-3)*(n-4) AS DOUBLE), 6)
         |  END AS pass_at_5,
         |  CASE WHEN n < 10 THEN NULL
         |    WHEN m < 10 THEN CAST(1.0 AS DOUBLE)
         |    ELSE ROUND(1 -
         |      CAST(m*(m-1)*(m-2)*(m-3)*(m-4)
         |        *(m-5)*(m-6)*(m-7)*(m-8)*(m-9) AS DOUBLE) /
         |      CAST(n*(n-1)*(n-2)*(n-3)*(n-4)
         |        *(n-5)*(n-6)*(n-7)*(n-8)*(n-9) AS DOUBLE), 6)
         |  END AS pass_at_10
         |FROM u
         |WHERE n >= graft_pass_at_k.min_samples""".stripMargin,

    // -- HTML -> main text (r19): HtmlOps.stripHtml + the block
    // text-density filter as one SQL table function, over the
    // t_html_extract variant-0 page built per doc (Fixtures.WarcPage
    // — the same template everywhere). The regex chain is
    // GENERATED from HtmlOps' own TagChain/Entities constants so
    // cookbook and engine cannot drift.
    "graft_html_main_text" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_html_main_text(
         |  min_tokens INT)
         |RETURNS TABLE (doc_id BIGINT, stripped STRING,
         |  main_text STRING)
         |RETURN
         |WITH h AS (
         |  SELECT doc_id,
         |    '${WarcPage._1}' || CAST(doc_id AS STRING) ||
         |    '${WarcPage._2}' || text ||
         |    '${WarcPage._3}' AS html
         |  FROM ${prefix}documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |s AS (SELECT doc_id, ${sparkStripSql("html")} AS stripped
         |      FROM h)
         |SELECT doc_id, stripped,
         |  array_join(filter(split(stripped, '\\n'), b ->
         |    size(split(b, ' ')) >= graft_html_main_text.min_tokens
         |    OR b RLIKE '[.!?]$$'), '\\n') AS main_text
         |FROM s""".stripMargin,

    // -- per-domain quota view (r18): registrable-domain (eTLD+1)
    // counts over the t_registrable_domain fixture — the grouping
    // key every crawl quota/mixing/blocklist policy uses. Replays
    // the publicsuffix.org prevailing-rule walk in Spark SQL with
    // the rules table rendered from the engine's own checked-in
    // snapshot (DomainOps.rulesValuesSql), exactly like the DuckDB
    // oracle. Returns domains with at least `min_docs` docs.
    "graft_domain_quota" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_domain_quota(
         |  min_docs BIGINT)
         |RETURNS TABLE (registrable_domain STRING, n_docs BIGINT,
         |  first_id BIGINT)
         |RETURN
         |WITH d AS (
         |  SELECT doc_id, CAST(doc_id div 8 AS STRING) AS b,
         |    pmod(doc_id, 8) AS m
         |  FROM ${prefix}documents
         |  WHERE doc_id IS NOT NULL AND doc_id >= 0),
         |c AS (
         |  SELECT doc_id, CASE
         |    WHEN m = 0 THEN 'https://a' || b || '.example.com/pg'
         |    WHEN m = 1 THEN 'http://news' || b || '.co.uk/story'
         |    WHEN m = 2 THEN 'https://deep.sub.site' || b || '.org/x?z=1'
         |    WHEN m = 3 THEN 'https://foo.bar' || b || '.ck/x'
         |    WHEN m = 4 THEN 'https://a' || b || '.www.ck/x'
         |    WHEN m = 5 THEN 'https://x.y.site' || b || '.ac.uk/x'
         |    WHEN m = 6 THEN 'https://host' || b || '.unknowntld/x'
         |    ELSE 'https://192.168.0.1/x' || b END AS url
         |  FROM d),
         |h AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
         |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
         |      '^[^/?#]*@', ''), ':[0-9]*$$', ''), '\\\\.+$$', '') AS h0
         |  FROM c),
         |hosts AS (
         |  SELECT doc_id,
         |    CASE WHEN h0 = '' OR h0 RLIKE '^[0-9.]+$$'
         |      OR contains(h0, '[') THEN NULL ELSE h0 END AS host
         |  FROM h),
         |lab AS (
         |  SELECT doc_id, host, split(host, '\\\\.') AS ls,
         |    size(split(host, '\\\\.')) AS n
         |  FROM hosts WHERE host IS NOT NULL),
         |sfx AS (
         |  SELECT doc_id, host, n, i,
         |    array_join(slice(ls, i, n - i + 1), '.') AS sf,
         |    n - i AS slen
         |  FROM lab LATERAL VIEW explode(sequence(1, n)) t AS i),
         |rules AS (SELECT * FROM VALUES $$SUFFIX_RULES
         |  AS t(rule, kind, rl)),
         |cand AS (
         |  SELECT doc_id, host, n, sf, slen, sf AS k,
         |    'normal' AS want FROM sfx
         |  UNION ALL
         |  SELECT doc_id, host, n, sf, slen, '!' || sf, 'exception'
         |  FROM sfx
         |  UNION ALL
         |  SELECT doc_id, host, n, sf, slen,
         |    '*.' || substring_index(sf, '.', -slen), 'wildcard'
         |  FROM sfx WHERE slen >= 1
         |  UNION ALL
         |  SELECT doc_id, host, n, host, n - 1, '*', 'default'
         |  FROM lab),
         |m2 AS (
         |  SELECT c2.doc_id, c2.host, c2.n,
         |    CASE WHEN r.kind = 'exception'
         |      THEN substring_index(c2.sf, '.', -c2.slen)
         |      WHEN r.kind = 'default'
         |      THEN element_at(split(c2.host, '\\\\.'), -1)
         |      ELSE c2.sf END AS ps,
         |    CASE WHEN r.kind = 'exception' THEN 1 ELSE 0 END AS exc,
         |    r.rl
         |  FROM cand c2 JOIN rules r
         |    ON r.rule = c2.k AND r.kind = c2.want),
         |best AS (
         |  SELECT doc_id, host, n, ps,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY exc DESC, rl DESC) AS rn
         |  FROM m2)
         |SELECT registrable_domain, COUNT(*) AS n_docs,
         |  MIN(doc_id) AS first_id
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN n <= size(split(ps, '\\\\.')) THEN NULL
         |      ELSE array_join(slice(split(host, '\\\\.'),
         |        n - size(split(ps, '\\\\.')),
         |        size(split(ps, '\\\\.')) + 1), '.')
         |    END AS registrable_domain
         |  FROM best WHERE rn = 1)
         |WHERE registrable_domain IS NOT NULL
         |GROUP BY registrable_domain
         |HAVING COUNT(*) >= graft_domain_quota.min_docs""".stripMargin
        .replace("$SUFFIX_RULES", graft.text.DomainOps.rulesValuesSql)
  )

  /** Run every recipe's DDL on the session (idempotent — CREATE OR
    * REPLACE). SqlRunner calls this with prefix = "" after the views
    * register; a JDBC analyst runs the same statements from the
    * README cookbook over the wire with prefix = "global_temp.". */
  def register(spark: SparkSession, prefix: String = ""): Unit =
    ddl(prefix).foreach { case (_, stmt) => spark.sql(stmt) }
}
