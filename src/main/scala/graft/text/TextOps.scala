package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Iterate

/** Text-analysis primitives for large-scale corpus pipelines: tokenization,
  * quality scoring, language-ID heuristics, fingerprinting. All pure Column
  * compositions — narrow, shuffle-free, codegen-friendly where Spark
  * supports it (higher-order array functions evaluate per-row but stay in
  * the JVM with no (de)serialization boundary).
  */
object TextOps {

  /** Whitespace tokenization; trims so leading/trailing space doesn't make
    * empty tokens. Empty string -> empty array (Spark's split of "" yields
    * [""], which we filter). */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** URL canonicalization — the key-level dedup that runs BEFORE any
    * content dedup in a crawl-curation pipeline (the same page
    * arrives under scheme/host case variants, default ports,
    * tracking decorations, fragments, and param orderings; CCNet /
    * RefinedWeb-style pipelines dedup on the canonical URL first
    * because it is free compared to text shingling). Row-local
    * string surgery — zero exchanges; the dedup that follows is one
    * canonical-key hash agg.
    *
    * The declared, engine-portable contract (every step is plain
    * regex/string algebra available identically in the SQL replay;
    * no lookaround, no dialect-divergent classes):
    *   1. trim; scheme and host LOWERCASED (path stays case-exact);
    *   2. a leading `www.` on the host is dropped;
    *   3. an explicit default port is dropped (`:80` for http,
    *      `:443` for https);
    *   4. the fragment (`#…`) is dropped;
    *   5. tracking params are dropped: any `utm_*`, `gclid`,
    *      `fbclid` (the declared blocklist);
    *   6. surviving query params are SORTED bytewise and re-joined
    *      (`?b=2&a=1` ≡ `?a=1&b=2`); an emptied query drops its `?`;
    *   7. a trailing `/` on a non-root path is dropped (`/x/` ≡ `/x`;
    *      a bare-host root `/` also normalizes away).
    * Non-URL strings (no `scheme://`) skip the authority rewrites
    * (1–3) but still get the LITERAL-TEXT steps 4–7 — so two non-URL
    * strings differing only in a `#…` suffix, a trailing `/`, or
    * `?`-param order DO collapse. The op's domain is URL-shaped
    * keys; feed it arbitrary text only if that folding is wanted. */
  def canonicalizeUrl(url: Column): Column = {
    val t0 = trim(url)
    // 1–2: lowercase scheme://host[:port], drop www. — one rewrite of
    // the authority prefix; $2 is the host with port kept for step 3
    val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\\.)?([^/?#]*)"
    val lowered = concat(
      lower(regexp_extract(t0, schemeRe, 1)),
      when(regexp_extract(t0, schemeRe, 1) === "", lit(""))
        .otherwise(lit("://")),
      lower(regexp_extract(t0, schemeRe, 2)),
      regexp_replace(t0, schemeRe, ""))
    // 3: default ports — anchored to the authority via an optional
    // captured TAIL, not lookahead (RE2, the replay engine's regex,
    // has no lookaround); an unmatched optional group substitutes ""
    // in both engines
    val noPort = regexp_replace(
      regexp_replace(lowered,
        "^(https://[^/?#:]*):443([/?#].*)?$", "$1$2"),
      "^(http://[^/?#:]*):80([/?#].*)?$", "$1$2")
    // 4: fragment off
    val noFrag = regexp_replace(noPort, "#.*$", "")
    // 5–6: split the query, drop the tracking blocklist, sort
    // bytewise, re-join; 7: one trailing slash off the query-free base
    val qMark = instr(noFrag, "?")
    val base = regexp_replace(
      when(qMark > 0, substring_index(noFrag, "?", 1)).otherwise(noFrag),
      "/$", "")
    val params = filter(
      split(noFrag.substr(qMark + 1, length(noFrag)), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=|$)"))
    val sortedQ = array_join(array_sort(params), "&")
    when(qMark > 0 && sortedQ =!= "", concat(base, lit("?"), sortedQ))
      .otherwise(base)
  }

  def charCount(c: Column): Column = length(c).cast("long")

  /** Mean token length: exact decimal sum / count, engine-reproducible. */
  def meanTokenLen(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) === 0, lit(null)).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
  }

  /** Ratio of alphabetic characters to all characters. */
  def alphaRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") / length(c))

  /** Ratio of punctuation characters. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      length(regexp_replace(c, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") / length(c))

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that")

  def stopwordCount(c: Column, stopwords: Seq[String] = EnStopwords): Column =
    size(filter(tokens(lower(c)), t => t.isin(stopwords: _*))).cast("long")

  def stopwordRatio(c: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(0.0))
      .otherwise(stopwordCount(c, stopwords).cast("double") / n)
  }

  /** Composite quality score in [0,1]: blends length plausibility, alpha
    * ratio, and stopword presence — the standard cheap pre-filter before
    * expensive dedup/training steps. Deterministic, engine-independent
    * arithmetic (all integer counts and one final division).
    */
  /** Flesch reading-ease + Flesch–Kincaid grade per document — the
    * classic readability pair every curation stack reports next to
    * the Gopher rules (a grade-level histogram is the standard "is
    * this corpus textbook or forum" diagnostic). Heuristic syllables:
    * vowel-group count per word ([aeiouy]+ runs, min 1 — the
    * standard approximation); sentences: [.!?]+ runs, min 1.
    *
    * Formulas (Flesch 1948 / Kincaid 1975):
    *   ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    *   grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    *
    * Scale shape: narrow per-row projection — one tokenize, one
    * regexp pass per word inside a codegen'd fold, no shuffle.
    * Cross-engine determinism: W/S/Syl are exact longs; the two
    * formulas are fixed-order double arithmetic rounded once to 6.
    *
    * @return (idCol, n_words, n_sentences, n_syllables, ease, grade) */
  def readability(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val tk = tokens(lower(col(textCol)))
    val words = size(tk).cast("long")
    val sents = greatest(regexp_count(col(textCol), lit("[.!?]+")),
      lit(1)).cast("long")
    val sylls = aggregate(tk, lit(0L), (acc, w) =>
      acc + greatest(regexp_count(w, lit("[aeiouy]+")), lit(1))
        .cast("long"))
    val wps = words.cast("double") / sents.cast("double")
    val spw = sylls.cast("double") / words.cast("double")
    docs.filter(words > 0).select(col(idCol),
      words.as("n_words"), sents.as("n_sentences"),
      sylls.as("n_syllables"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
        .as("ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
        .as("grade"))
  }

  def qualityScore(c: Column): Column = {
    val n = tokenCount(c)
    val lenScore = when(n >= 20 && n <= 100000, lit(1.0))
      .when(n >= 5, lit(0.5)).otherwise(lit(0.0))
    val alpha = alphaRatio(c)
    val stop = stopwordRatio(c)
    round(lenScore * 0.4 + alpha * 0.4 +
      when(stop > 0.01, lit(1.0)).otherwise(lit(0.0)) * 0.2, 6)
  }

  /** [[qualityScore]] over a caller-supplied LOWERCASED token array —
    * same arithmetic (token counts are lowercase-invariant for
    * whitespace tokenization), no tokenization of its own. Combine with
    * [[langIdTok]] under ONE token binding via [[curationKeep]]. */
  def qualityScoreTok(c: Column, lowerToks: Column): Column = {
    val n = size(lowerToks).cast("long")
    val lenScore = when(n >= 20 && n <= 100000, lit(1.0))
      .when(n >= 5, lit(0.5)).otherwise(lit(0.0))
    val stop = when(n === 0, lit(0.0)).otherwise(
      size(filter(lowerToks, t => t.isin(EnStopwords: _*))).cast("double") / n)
    round(lenScore * 0.4 + alphaRatio(c) * 0.4 +
      when(stop > 0.01, lit(1.0)).otherwise(lit(0.0)) * 0.2, 6)
  }

  /** BPE-ish token count proxy: alphanumeric runs plus individual
    * non-space symbols (a cheap stand-in for a real tokenizer's token
    * count, useful for budget accounting). RE2-compatible regex — no
    * lookarounds — so the same pattern runs on any engine. */
  def tokenCountBpeIsh(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Normalization for near-dup: lowercase, strip non-alnum, collapse
    * whitespace. Lowercasing stays the codegen'd built-in (pinning
    * Spark's Unicode semantics); the strip+collapse+trim runs as ONE
    * native byte-level pass instead of two chained full-text regexes
    * (measured 21.3s → the regex chain was 70× the exact-dedup cost at
    * sf0.1). [[normalizeCols]] is the regex twin; TextSpec proves them
    * identical. */
  def normalize(c: Column): Column =
    graft.functions.NativeExpressions.normalize_spaces(lower(c))

  /** Regex twin of [[normalize]] — executable spec of its semantics. */
  def normalizeCols(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", " "), " +", " "))

  /** Polynomial rolling-hash fingerprint over tokens, mod a prime so the
    * arithmetic is identical on any engine (no 64-bit overflow reliance).
    * fp = fold(tokens)(acc = (acc*31 + tokenHash) mod 1e9+7), with
    * tokenHash = (len(token) * 131 + codepoint(first char)) — fully
    * portable to a SQL oracle. */
  def fingerprint(c: Column): Column = {
    val p = lit(1000000007L)
    aggregate(tokens(c), lit(0L),
      (acc, t) => (acc * 31L + (length(t).cast("long") * 131L + ascii(t))) % p)
  }

  /** Sequence packing for training (concat-then-chunk): documents are
    * laid out in `orderCol` order within a shard and chunked at
    * `budget` tokens; each doc is assigned the chunk where it STARTS —
    * the standard packing used to fill fixed-length training sequences.
    * Sharding bounds the window: the running sum partitions by
    * `shardCol` (derive one from a hash for even fill), so no global
    * single-partition sort exists at scale; chunk ids are (shard,
    * chunk_in_shard). */
  def packChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
                 tokenCountCol: String, shardCol: String,
                 budget: Long): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("__cum", sum(col(tokenCountCol)).over(w))
      .withColumn("chunk_in_shard",
        floor((col("__cum") - col(tokenCountCol)) / budget).cast("long"))
      .drop("__cum")
  }

  /** Language-ID heuristic: score per-language stopword lists, take the
    * argmax (ties -> earlier language in the list). Deterministic and
    * SQL-expressible; swap in fastText offline for production quality. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "nicht"))

  def langIdScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(c)), t => t.isin(markers: _*))).cast("long")

  def langId(c: Column): Column = langIdTok(tokens(lower(c)))

  /** [[langId]] over a caller-supplied lowercased token array. */
  def langIdTok(lowerToks: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) =>
      (lang, size(filter(lowerToks, t => t.isin(ms: _*))).cast("long")) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight puts earlier languages outermost, so ties resolve to the
    // first language in LangMarkers; all-zero scores -> "und"
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Word 2-grams of the lowercased token stream, computed under ONE
    * token binding (same bind-once trick as [[curationKeep]] — a plain
    * inlined `tokens(...)` would re-tokenize per element). Docs with
    * < 2 tokens yield an empty array. Feeds the repetition signals:
    * counting bigram frequencies belongs in a hash agg after explode
    * (see the `t_repetition` query), NOT in a per-row lambda — an
    * in-lambda frequency count is O(tokens²) per document, hostile at
    * book-length docs; the explode+agg shape is two linear hash aggs. */
  def bigrams(c: Column): Column =
    element_at(transform(array(tokens(lower(c))), ts =>
      when(size(ts) >= 2,
        transform(sequence(lit(1), size(ts) - 1),
          i => concat_ws(" ", element_at(ts, i), element_at(ts, i + 1))))
        .otherwise(array_remove(array(lit("")), ""))), 1)

  /** PII scrub: redact email addresses and phone-like digit runs. Both
    * patterns are RE2-compatible (no lookarounds, no backreferences) so
    * the exact same regex runs on Spark (Java regex) and any RE2 engine
    * with identical greedy semantics — the property the DuckDB oracle
    * depends on. Production pipelines swap in their legal team's
    * pattern set; the op shape (chained regexp_replace, one text pass
    * each, narrow and codegen'd) is the deliverable. */
  def scrubPii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(email, "\\+?[0-9][0-9 ]{5,}[0-9]", "<PHONE>")
  }

  /** Deterministic per-stratum keep-predicate: keep a row iff its id's
    * PORTABLE hash (Knuth multiplicative, mod 2³¹−1 — same recipe as
    * the IVF centroid sample, SQL-reproducible unlike murmur3) lands
    * under the stratum's percentage. The downsampling-for-balance
    * primitive: rates per stratum, exactly reproducible across engines
    * and runs (no RNG state), narrow (no shuffle, no sampleBy seed
    * drift across Spark versions). The id is reduced mod 2³¹−1 BEFORE
    * the multiply so the product stays below 2⁶³ for any BIGINT id —
    * a raw id × 2654435761 silently wraps in Spark but raises in
    * DuckDB for ids > ~3.47e9, breaking cross-engine reproducibility
    * exactly at the corpus sizes this op targets. */
  def stratifiedKeep(idCol: Column, stratumCol: Column,
                     pctByStratum: Map[String, Int],
                     defaultPct: Int = 100): Column = {
    val h = portableHash(idCol) % 100
    val pct = pctByStratum.foldLeft(lit(defaultPct): Column) {
      case (acc, (s, p)) => when(stratumCol === s, lit(p)).otherwise(acc)
    }
    h < pct
  }

  /** Portable id hash in [0, 2³¹−1): Knuth multiplicative mod 2³¹−1 —
    * SQL-reproducible across engines (no murmur3/xxhash64 seed or
    * implementation drift), deterministic across runs (no RNG state).
    * The id is reduced mod 2³¹−1 BEFORE the multiply so the product
    * stays under 2⁶³ for any BIGINT id (a raw multiply silently wraps
    * in Spark but raises in DuckDB for ids > ~3.47e9). */
  def portableHash(idCol: Column): Column =
    pmod(pmod(idCol.cast("long"), lit(2147483647L)) * 2654435761L,
      lit(2147483647L))

  /** Deterministic per-group quota (row-count cap): keep at most
    * `maxRows` rows per group, chosen in PORTABLE-HASH order of
    * `idCol` — an unbiased, engine- and run-reproducible sample, the
    * "at most N docs per domain/host" cap every crawl-curation policy
    * needs (hash order ≠ ingestion order, so the kept set is stable
    * under re-partitioning and doesn't privilege early-crawled rows).
    * Distinct from [[graft.text.Dedup.capBuckets]], which DROPS
    * oversize groups wholesale (an LSH safety valve, not a sampler).
    * One window over the group key; row_number's buffer is spillable,
    * and for pathologically hot groups the hierarchical-shard recipe
    * in [[mixCorpus]] applies. */
  def capPerGroup(df: org.apache.spark.sql.DataFrame,
                  groupCols: Seq[String], idCol: String,
                  maxRows: Int): org.apache.spark.sql.DataFrame = {
    require(maxRows >= 1, "maxRows must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(portableHash(col(idCol)), col(idCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= maxRows)
      .drop("__graft_rn")
  }

  /** Positional inverted index: one (term, doc, position) posting row
    * per token occurrence — the retrieval-side view of the corpus
    * that [[phraseSearch]], term lookups, and df/tf statistics all
    * join against. One tokenization, one narrow posexplode; persist
    * partitioned/bucketed by term for pruned point lookups (the
    * LshIndex/IVF-index layout discipline applies unchanged). */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), posexplode(tokens(col(textCol))))
      .select(col("col").as("term"), col(idCol),
        col("pos").cast("long").as("pos"))

  /** Positional PHRASE search over [[invertedIndex]] postings: every
    * (doc, start) where the n-gram `phrase` occurs as consecutive
    * tokens. NOT an n-way self-join of posting lists (n−1 shuffles,
    * the textbook evaluation): each posting of a phrase term votes
    * for the anchor positions it would imply — term at position p
    * matching phrase slot i votes for anchor p−i — and an anchor
    * confirmed by all n distinct slots is an occurrence. ONE
    * (doc, anchor) shuffle total, independent of phrase length;
    * repeated phrase terms just cast several votes per posting.
    * Postings are pre-filtered to the phrase's terms, so the shuffled
    * stream is hits-sized, not corpus-sized. */
  def phraseSearch(postings: org.apache.spark.sql.DataFrame,
                   idCol: String,
                   phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val slots: Map[String, Seq[Int]] = phrase.zipWithIndex
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val offArr = slots.foldLeft(lit(null).cast("array<int>")) {
      case (acc, (t, is)) =>
        when(col("term") === t, array(is.map(i => lit(i)): _*))
          .otherwise(acc)
    }
    postings.filter(col("term").isin(phrase.distinct: _*))
      .select(col(idCol), col("pos"), explode(offArr).as("__slot"))
      .select(col(idCol), (col("pos") - col("__slot")).as("start_pos"),
        col("__slot"))
      .filter(col("start_pos") >= 0)
      .groupBy(col(idCol), col("start_pos"))
      // plain count, NOT count_distinct: a (doc, anchor, slot) vote can
      // arise from exactly one posting (the one at position anchor+slot
      // matching that slot's term), so votes are distinct by
      // construction given invertedIndex's unique (doc, pos) postings —
      // and count_distinct would cost a SECOND exchange (Spark expands
      // it to a dedup agg + a count agg), breaking the one-shuffle
      // contract the PlanSpec pin now enforces
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === phrase.size)
      .select(col(idCol), col("start_pos"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES, Inf. Process. Lett. 2006): each row draws a
    * pseudo-uniform u from the portable hash of its id and ranks by
    * u^(1/w) — the top-n rows are a weighted sample without
    * replacement, inclusion probability proportional to weight at
    * each of the n sequential draws. Ranking by ln(u)/w (monotone in
    * u^(1/w); u ≤ 1 so the key is ≤ 0 and HIGHER is better) swaps the
    * pow for one ln + one exactly-rounded IEEE divide; the key is
    * rounded to the round-6 grid with the id as tiebreak, so the
    * selected set is engine- and run-reproducible (no RNG state — the
    * repo's stratifiedKeep/epochShuffle discipline, extended to
    * weights).
    *
    * Scale: the plan is a narrow projection into TakeOrdered —
    * per-partition top-n then a driver merge of partitions×n rows, no
    * shuffle of the corpus and no global sort. Zero/negative weights
    * are excluded (a zero-weight row must never be drawn). */
  /** Code-vs-prose heuristic classifier — the curation gate that
    * routes source code away from (or into) a text corpus: symbol
    * density, digit density, and programming-keyword hits, combined
    * into one score. The feature weights mirror the published
    * code-detection heuristics (StarCoder/The-Stack style filters
    * threshold exactly these surface statistics before any learned
    * model runs).
    *
    * score = 0.5·min(1, 8·symbol_ratio) + 0.2·min(1, 5·digit_ratio)
    *       + 0.3·min(1, kw_hits / 3); is_code = score ≥ threshold.
    *
    * Scale shape: narrow per-row regexp passes, no shuffle.
    * Determinism: ratios are exact long/long doubles; fixed-order
    * arithmetic rounded once to 6.
    *
    * @return (idCol, symbol_ratio, digit_ratio, kw_hits, code_score,
    *         is_code) */
  def codeDetect(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String,
                 threshold: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val n = length(t).cast("long")
    val sym = length(regexp_replace(t, "[^{}()\\[\\];=<>]", ""))
      .cast("long")
    val dig = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    val kw = size(filter(tokens(lower(t)), w => w.isin("def", "class",
      "return", "import", "if", "for", "while", "function", "var",
      "const", "void", "int")))
      .cast("long")
    val symR = sym.cast("double") / n.cast("double")
    val digR = dig.cast("double") / n.cast("double")
    val score = round(
      lit(0.5) * least(lit(1.0), lit(8.0) * symR) +
        lit(0.2) * least(lit(1.0), lit(5.0) * digR) +
        lit(0.3) * least(lit(1.0), kw.cast("double") / lit(3.0)), 6)
    docs.filter(n > 0).select(col(idCol),
      round(symR, 6).as("symbol_ratio"),
      round(digR, 6).as("digit_ratio"),
      kw.as("kw_hits"), score.as("code_score"),
      (score >= threshold).as("is_code"))
  }

  /** Deterministic EDA-style text augmentation (Wei & Zou 2019's
    * random-swap + random-delete, made REPRODUCIBLE): adjacent token
    * pairs swap where a portable positional hash selects them, then
    * tokens drop where a second hash selects — no RNG state, the
    * same (doc, position) always augments the same way on any
    * engine/run (the stratifiedKeep/epochShuffle sampling
    * discipline). Augmentation multiplies training corpora; an
    * irreproducible augmentation breaks dedup bookkeeping and ruins
    * A/B comparisons between curation runs.
    *
    * h(doc, x) = ((doc·31 + x) · 2654435761) mod 2147483647 — exact
    * BIGINT arithmetic, SQL-replayable. Swap first (pair p swaps iff
    * h(doc,p) % swapEvery == 0), then delete (position j drops iff
    * h(doc,j) % dropEvery == 0) — the order is part of the contract.
    *
    * Scale shape: one narrow per-row HOF pass over the token array —
    * no explode, no shuffle.
    *
    * @return (idCol, text_aug, n_tokens, n_swapped, n_dropped) */
  def augmentText(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, dropEvery: Int = 10,
                  swapEvery: Int = 7): org.apache.spark.sql.DataFrame = {
    require(dropEvery >= 2 && swapEvery >= 2,
      "dropEvery and swapEvery must be >= 2")
    val arr = tokens(col(textCol))
    def h(x: Column): Column =
      pmod((col(idCol).cast("long") * 31 + x) * lit(2654435761L),
        lit(2147483647L))
    val n = size(arr)
    // swap pass: index j reads from j^1 when its pair is selected
    // (last odd token of an odd-length doc has no pair)
    val swapped = transform(sequence(lit(0), n - 1), j => {
      val p = floor(j / lit(2)).cast("long")
      val partner = when(h(p) % swapEvery === 0 &&
          (j.bitwiseXOR(lit(1))) < n, j.bitwiseXOR(lit(1)))
        .otherwise(j)
      element_at(arr, (partner + 1).cast("int"))
    })
    val nSwapped = when(n >= 2,
      size(filter(sequence(lit(0), floor(n / lit(2)).cast("int") - 1),
        p => h(p.cast("long")) % swapEvery === 0)) * 2)
      .otherwise(0)
    // delete pass over the swapped array
    val kept = filter(transform(sequence(lit(0), n - 1),
        j => struct(element_at(swapped, (j + 1).cast("int")).as("t"),
          j.as("j"))),
      s => h(s.getField("j").cast("long")) % dropEvery =!= 0)
    docs.filter(size(arr) > 0).select(col(idCol),
      array_join(transform(kept, s => s.getField("t")), " ")
        .as("text_aug"),
      n.cast("long").as("n_tokens"),
      nSwapped.cast("long").as("n_swapped"),
      (n - size(kept)).cast("long").as("n_dropped"))
  }

  /** Proximity (slop) search — the positional-index query between
    * exact phrase match and bag-of-words AND: documents where `termA`
    * and `termB` occur within `slop` token positions, with the
    * minimal distance. Slop=1 is adjacency (either order); large
    * slop degenerates to co-occurrence.
    *
    * Scale shape: one tokenize+posexplode filtered to the TWO query
    * terms BEFORE any join (the corpus never self-joins); the
    * position pairing is a doc-keyed equi-join of two term-posting
    * frames, Σ_doc |A|·|B| pairs — bounded by per-doc term counts,
    * the positional-index cost model. */
  def proximitySearch(docs: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String, termA: String,
                      termB: String, slop: Int)
      : org.apache.spark.sql.DataFrame = {
    require(slop >= 1, "slop must be >= 1")
    require(termA != termB, "terms must differ")
    val toks = docs.select(col(idCol),
      posexplode(tokens(lower(col(textCol)))).as(Seq("__p", "__t")))
    val a = toks.filter(col("__t") === lit(termA))
      .select(col(idCol), col("__p").as("__pa"))
    val b = toks.filter(col("__t") === lit(termB))
      .select(col(idCol), col("__p").as("__pb"))
    a.join(b, Seq(idCol))
      .groupBy(col(idCol))
      .agg(min(abs(col("__pa") - col("__pb"))).cast("long")
        .as("min_dist"))
      .filter(col("min_dist") <= slop)
  }

  /** Zipf-law fit of the corpus rank–frequency curve — the canonical
    * "does this corpus look like natural language" audit (Zipf 1949:
    * log freq ≈ intercept + slope·log rank with slope ≈ −1 for
    * natural text; machine-generated/templated corpora bend the
    * curve). Fits OLS on (ln rank, ln freq) over the top `topN`
    * terms via [[graft.ops.Quality.olsFit]]'s exact-decimal moment
    * sums, and attaches corpus totals.
    *
    * Scale shape: one tokenize+explode into a term hash agg; the
    * top-N selection is orderBy+limit — TakeOrdered (per-partition
    * top-N, driver merge of partitions×N), NO global sort and no
    * vocab-sized window: the rank row_number runs over the already-
    * limited N-row frame. Corpus totals are one more vocab-frame agg.
    * Nothing corpus- or vocab-sized reaches the driver.
    *
    * @return one row: (n_top, zipf_slope, zipf_intercept, r2, vocab,
    *         total_tokens) */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, textCol: String,
              topN: Int = 100): org.apache.spark.sql.DataFrame = {
    require(topN >= 2, "need at least 2 ranks to fit")
    val freqs = docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val totals = freqs.agg(count(lit(1)).as("vocab"),
      sum(col("freq")).as("total_tokens"))
    val top = freqs.orderBy(col("freq").desc, col("term")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term")) // N-row frame only
    val xy = top.withColumn("__rank", row_number().over(w))
      .select(log(col("__rank").cast("double")).as("__x"),
        log(col("freq").cast("double")).as("__y"))
    graft.ops.Quality.olsFit(xy, Seq.empty, "__x", "__y")
      .crossJoin(broadcast(totals))
      .select(col("n").as("n_top"), col("slope").as("zipf_slope"),
        col("intercept").as("zipf_intercept"), col("r2"),
        col("vocab"), col("total_tokens"))
  }

  /** PMI bigram collocations — the multi-word-expression miner
    * (Church & Hanks 1990): adjacent-token pairs scored by pointwise
    * mutual information, pmi = ln(p(ab) / (p₁(a)·p₂(b))) with both
    * marginals taken over bigram SLOTS (first-word / second-word
    * counts from the pair frame itself — one consistent denominator,
    * no mixing of unigram and bigram totals). High-PMI pairs with
    * `minCount` support are the corpus's collocations ("new york",
    * "machine learning") — the phrase vocabulary a tokenizer or
    * dedup-shingle step should treat as units.
    *
    * Scale shape: one corpus tokenize into an adjacent-pair explode
    * (rows = tokens − docs), one hash agg to the distinct-bigram
    * frame; BOTH marginals are re-aggregations of that frame (never a
    * second corpus scan); the support filter prunes before the
    * marginal joins; final TakeOrdered. ln on the exact double ratio,
    * rounded once (the zipfFit ln-parity convention).
    *
    * @return top-N (w1, w2, c_ab, pmi), pmi desc, word tiebreak */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame,
                      textCol: String, minCount: Long = 5,
                      topN: Int = 50): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1 && topN >= 1, "minCount and topN must be >= 1")
    val bi = docs.select(tokens(lower(col(textCol))).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val pairC = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val leftC = pairC.groupBy(col("w1")).agg(sum(col("c_ab")).as("__ca"))
    val rightC = pairC.groupBy(col("w2")).agg(sum(col("c_ab")).as("__cb"))
    val tot = pairC.agg(sum(col("c_ab")).as("__nb"))
    pairC.filter(col("c_ab") >= minCount)
      .join(leftC, Seq("w1")).join(rightC, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab").cast("double") * col("__nb").cast("double"))
          / (col("__ca").cast("double") * col("__cb").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(topN)
  }

  def weightedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                     weight: Column, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    val u = (portableHash(col(idCol)).cast("double") + lit(1.0)) /
      lit(2147483648.0)
    val key = round(log(u) / weight.cast("double"), 6)
    df.filter(weight > 0)
      .select(col(idCol), weight.cast("long").as("weight"),
        key.as("sample_key"))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(n)
  }

  /** Deterministic EPOCH SHUFFLE for training export: a seeded global
    * pseudo-random permutation laid out as `shards` sequential files —
    * (shard, pos_in_shard) addresses every row of epoch `seed`'s order,
    * reproducible across runs, engines, and partitionings (the portable
    * hash, not an RNG with driver state). Changing the seed re-deals
    * the whole permutation; a training job reads shard files
    * sequentially and gets the shuffled order for free.
    *
    * Scale: a global shuffle is inherently one exchange — but NOT one
    * global sort: rows move to their hash shard (the exchange), and
    * each shard sorts independently (spillable, corpus/shards per
    * task), exactly the layout a multi-file training export wants.
    * Same shard-don't-globally-sort shape as [[packChunks]]. */
  def epochShuffle(df: org.apache.spark.sql.DataFrame, idCol: String,
                   seed: Long, shards: Int): org.apache.spark.sql.DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", portableHash(col(idCol) + lit(seed)))
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Domain-weighted corpus mixing: the deterministic greedy fill that
    * turns raw per-domain corpora into a training mix — keep documents
    * of each domain, in portable-hash order, until that domain's share
    * of `tokenBudget` (weight × budget, floored) is exhausted. A doc is
    * kept iff its INCLUSIVE running token sum fits the domain budget;
    * domains absent from `weights` are dropped. Output: one row per
    * kept doc with its token count and running total (the audit trail a
    * mixing report needs).
    *
    * Scale: the running sum is computed HIERARCHICALLY, never as one
    * window over a whole domain (a domain is a skew unit — partitioning
    * by domain alone buffers the largest domain in one task). The hash
    * range [0, 2³¹−1) is cut into `shards` contiguous intervals, so
    * shard order == hash order and concatenating shards in shard order
    * IS the global greedy order. Then: (1) one hash agg computes
    * per-(domain, shard) token totals — `domains × shards` rows; (2) a
    * window over that TINY table turns them into exclusive cross-shard
    * base offsets; (3) the offsets broadcast-join back and a window
    * partitioned by (domain, shard) — max `1/shards` of a domain per
    * task, tune `shards` up for bigger corpora — adds the local running
    * sum to the base. Exact same result as the naive single window
    * (spec-pinned shard-invariance), one extra cheap agg instead of a
    * skew cliff. */
  def mixCorpus(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, domainCol: String,
                weights: Map[String, Double], tokenBudget: Long,
                shards: Int = 64): org.apache.spark.sql.DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    require(weights.values.forall(w => w >= 0.0 && w <= 1.0),
      "weights must be in [0, 1]")
    val budgets: Map[String, Long] =
      weights.map { case (d, w) => d -> math.floor(w * tokenBudget).toLong }
    val budget = budgets.foldLeft(lit(-1L): Column) {
      case (acc, (d, b)) => when(col("__dom") === d, lit(b)).otherwise(acc)
    }
    // contiguous hash intervals: shard boundaries can't split a hash
    // value, so (shard asc, h asc) == (h asc) globally
    val shardWidth = (2147483647L + shards - 1) / shards
    val base = df.select(col(idCol).as("__id"), col(domainCol).as("__dom"),
        tokenCount(col(textCol)).as("n_tokens"),
        portableHash(col(idCol)).as("__h"))
      .filter(col("__dom").isin(budgets.keys.toSeq: _*))
      .withColumn("__shard",
        floor(col("__h") / lit(shardWidth.toDouble)).cast("int"))
    val wShards = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dom")).orderBy(col("__shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = base.groupBy(col("__dom"), col("__shard"))
      .agg(sum(col("n_tokens")).as("__st"))
      .withColumn("__base", coalesce(sum(col("__st")).over(wShards), lit(0L)))
      .select(col("__dom"), col("__shard"), col("__base"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dom"), col("__shard"))
      .orderBy(col("__h"), col("__id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        0)
    base.join(broadcast(offsets), Seq("__dom", "__shard"))
      .withColumn("cum_tokens", col("__base") + sum(col("n_tokens")).over(wLocal))
      .filter(col("cum_tokens") <= budget)
      .select(col("__id").as(idCol), col("__dom").as(domainCol),
        col("n_tokens"), col("cum_tokens"))
  }

  /** Sliding-window token chunking with overlap — the context-window
    * prep step (training sequences, RAG passages): windows of
    * `chunkTokens` tokens starting every `strideTokens` (stride <
    * chunk ⇒ adjacent chunks overlap by chunk − stride tokens). A
    * window starts at every stride multiple below the token count, so
    * trailing chunks may be short; zero-token docs yield no chunks.
    * Returns array<struct(chunk_idx, n_chunk_tokens, chunk_text)> to
    * explode — ONE tokenization per row (bind-once lambda), narrow,
    * shuffle-free. The off-by-one-safe empty case: sequence always
    * emits 0..nChunks then slice keeps the first nChunks, so an empty
    * doc takes the same typed path instead of a when-branch needing a
    * typed empty-array literal. */
  def chunkOverlap(c: Column, chunkTokens: Int,
                   strideTokens: Int): Column = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      "need 1 <= strideTokens <= chunkTokens")
    element_at(transform(array(tokens(c)), ts => {
      val nChunks = when(size(ts) === 0, lit(0)).otherwise(
        ceil(size(ts).cast("double") / strideTokens).cast("int"))
      slice(
        transform(sequence(lit(0), nChunks), i => struct(
          i.cast("int").as("chunk_idx"),
          greatest(lit(0),
            least(lit(chunkTokens), size(ts) - i * strideTokens))
            .cast("long").as("n_chunk_tokens"),
          array_join(slice(ts, i * strideTokens + 1, lit(chunkTokens)), " ")
            .as("chunk_text"))),
        lit(1), nChunks)
    }), 1)
  }

  /** TF-IDF per (doc, term): tf = term count in doc, idf = ln(N / df)
    * with df = docs containing the term (plain idf, no smoothing — df
    * ≥ 1 by construction so the log is always defined). Shape: one
    * tokenization+explode, a (doc, term) hash agg for tf, a term hash
    * agg for df (one row per vocab term — the df side of the join is
    * vocab-sized, broadcast-able for natural-language vocabularies),
    * and a 1-row N broadcast. The corpus is never joined to itself —
    * per-token work is linear. */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .drop("__n")
  }

  /** CCNet-style unigram LM quality signal: per doc, the mean token
    * surprise −ln p(token) under the corpus's OWN unigram distribution
    * (low mean surprise ≈ common fluent text; high ≈ rare-token noise).
    * Per-token surprises are rounded to 6 dp then accumulated in exact
    * decimal, so the per-doc mean is independent of reduction order and
    * engine. Two linear passes over the token stream (frequency agg,
    * then a vocab-keyed join back — broadcast-able vocabulary); docs
    * with zero tokens yield no row. At 100 TB persist the tokenized
    * projection so the corpus text is only exploded once. */
  def unigramSurprise(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("__tf"))
    val tot = freq.agg(sum(col("__tf")).as("__t"))
    val surprise =
      round(-log(col("__tf").cast("double") / col("__t")), 6)
    toks.join(freq, Seq("term"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(surprise.cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("__m"))
      .withColumn("mean_surprise", round(col("__m"), 6))
      .drop("__m")
  }

  /** Feature hashing (the hashing trick, Weinberger et al. 2009):
    * each document as a sparse `dims`-dimensional bag-of-words vector
    * — (doc, index, tf) rows with index = portable char-fold
    * poly-hash of the term mod `dims` — the fixed-width featurizer
    * that needs NO vocabulary artifact (no fit step, no OOV problem,
    * the property that makes it the streaming/linear-model default).
    * Collisions ADD their counts (the trick's documented semantics).
    *
    * Scale shape: the [[dsirWeights]] discipline — the hash is
    * evaluated on the DISTINCT vocab only (never per corpus token),
    * the term-keyed join back is AQE's call, one (doc, index) agg.
    * The poly-hash is the SQL-replayable char fold, so any engine
    * reproduces the indices exactly. */
  def featureHash(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  dims: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(dims >= 2, "dims must be >= 2")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val vocab = tf.select(col("term")).distinct()
      .withColumn("idx", pmod(
        aggregate(split(col("term"), ""), lit(0L),
          (acc, c) => (acc * 31L + ascii(c)) % 2147483647L),
        lit(dims.toLong)).cast("int"))
    tf.join(vocab, Seq("term"))
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(col("__tf")).cast("long").as("tf"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    * retrieval arms — the standard hybrid-search combiner: each arm
    * contributes 1/(rrfK + rank) per candidate, summed across arms, so
    * a document surfaced by BOTH the lexical ([[bm25]]) and semantic
    * ([[graft.sim.Similarity]] ANN) arm outranks a high-rank
    * single-arm hit without any score calibration between
    * incomparable scales.
    *
    * Contract: every arm is a PRE-CUT candidate list (a top-k, a
    * bounded postings intersection) — the per-arm rank is a global
    * window over that arm, correct because candidate lists are
    * result-sized, never corpus-sized (feeding a full corpus scan in
    * as an arm is the caller's scale bug, same convention as the
    * figure ops). Ranks tie-break by id; contributions are rounded to
    * 6 and decimal-summed, so the fused ordering is engine-exact.
    *
    * @param arms (frame, idCol, scoreCol) per retrieval arm
    * @return (<outId>, rrf, arms_hit) — top `topN` by (rrf desc, id) */
  def rrfFuse(arms: Seq[(org.apache.spark.sql.DataFrame, String, String)],
              rrfK: Int = 60, topN: Int = 20,
              outId: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(arms.nonEmpty, "at least one arm")
    require(rrfK >= 1 && topN >= 1, "rrfK and topN must be >= 1")
    def dec(c: Column): Column = c.cast("decimal(18,6)")
    val ranked = arms.map { case (df, id, score) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(score).desc, col(id))
      df.select(col(id).cast("long").as("__id"),
        dec(round(lit(1.0) / (lit(rrfK) + row_number().over(w)), 6))
          .as("__c"))
    }
    ranked.reduce(_ union _)
      .groupBy(col("__id"))
      .agg(sum(col("__c")).cast("double").as("rrf"),
        count(lit(1)).cast("long").as("arms_hit"))
      .orderBy(col("rrf").desc, col("__id"))
      .limit(topN)
      .select(col("__id").as(outId), col("rrf"), col("arms_hit"))
  }

  /** Multinomial naive-Bayes text classifier, trained and applied in
    * one declarative plan — the classifier-based curation filter of the
    * large-corpus pipelines (GPT-3/CCNet score candidate text with a
    * linear model trained to recognize a reference domain; fastText's
    * supervised mode is this plus buckets). Here the label column IS
    * the supervision (e.g. `source`), so the query doubles as a
    * domain-separability audit: how recoverable is each document's
    * provenance from its tokens alone?
    *
    * Math: argmax over labels of ln p(label) + Σ_t tf(t)·ln p̂(t|label),
    * with Laplace(+1) smoothing over the corpus vocabulary V:
    * p̂(t|l) = (ct(l,t)+1)/(tot(l)+V).
    *
    * Scale shape: one tokenize+explode; class-conditional counts are
    * one (label, term) agg; the smoothed log-prob GRID is vocab × L
    * rows built by crossing the distinct vocab with the L-row class
    * totals (labels broadcast — never the vocab, which is corpus-sized;
    * the term-keyed scoring join is AQE's call, same discipline as
    * [[dsirWeights]]). Scoring shuffles doc-term counts on term, then
    * one (doc, label) agg and an L-row-per-doc argmax window. Nothing
    * corpus-sized reaches the driver. Skew caveat (measured in the
    * 30× sweep, ratio/factor 1.07): the scoring join's key cardinality
    * is the VOCAB, which grows much slower than the corpus — a
    * stopword term's postings become one hot partition. The escape
    * route is WIRED: `saltHotTerms > 0` finds the k hottest terms by
    * doc-frequency (one agg + TakeOrdered — k-row broadcast, never a
    * driver collect) and routes their postings through
    * [[graft.ops.Scale.saltedJoin]] — the grid side is replicable
    * ((term, label) rows; only the k hot terms' L-row slices are
    * duplicated per salt), so the hot term's postings spread across
    * `salts` partitions instead of one straggler. Cold terms take the
    * plain join; the union re-aggregates with order-free decimal sums,
    * so the salted plan is bit-identical to the unsalted one (spec'd).
    *
    * Cross-engine determinism: each ln is rounded once to 6 dp and
    * cast to exact decimal; per-doc accumulation is decimal (order
    * free); the argmax window breaks score ties by label. Docs with
    * zero tokens yield no row (no token evidence — stated contract).
    *
    * @return (doc_id, label_pred, score, label_actual, correct) */
  def naiveBayesClassify(docs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         labelCol: String,
                         saltHotTerms: Int = 0,
                         salts: Int = 16): org.apache.spark.sql.DataFrame = {
    require(saltHotTerms >= 0, "saltHotTerms must be >= 0")
    require(salts > 0, "salts must be positive")
    def dec(c: Column): Column = c.cast("decimal(18,6)")
    val toks = docs.select(col(idCol).as("__doc"),
      col(labelCol).as("__act"),
      explode(tokens(lower(col(textCol)))).as("__term"))
    val tf = toks.groupBy(col("__doc"), col("__term"))
      .agg(count(lit(1)).as("__tf"), max(col("__act")).as("__act"))
    val classTok = toks.groupBy(col("__act").as("__lab"), col("__term"))
      .agg(count(lit(1)).as("__ct"))
    val classTot = classTok.groupBy(col("__lab"))
      .agg(sum(col("__ct")).as("__tot"))
    val vocab = classTok.select(col("__term")).distinct()
    val vSize = vocab.agg(count(lit(1)).as("__v"))
    val priors = docs.groupBy(col(labelCol).as("__lab"))
      .agg(count(lit(1)).as("__nd"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val logPrior = priors.crossJoin(broadcast(nDocs))
      .select(col("__lab"), dec(round(log(col("__nd").cast("double") /
        col("__n").cast("double")), 6)).as("__lp0"))
    // smoothed log-prob grid: vocab × labels, unseen (label, term)
    // cells get the +1-only numerator via the left join's null
    val grid = vocab.crossJoin(broadcast(classTot))
      .join(classTok, Seq("__lab", "__term"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("__term"), col("__lab"),
        dec(round(log((coalesce(col("__ct"), lit(0L)) + lit(1))
            .cast("double") /
          (col("__tot") + col("__v")).cast("double")), 6)).as("__lp"))
    val termScored =
      if (saltHotTerms == 0) tf.join(grid, Seq("__term"))
      else {
        // k-row hot set: doc-frequency top-k, broadcast both ways
        val hot = tf.groupBy(col("__term"))
          .agg(count(lit(1)).as("__pf"))
          .orderBy(col("__pf").desc, col("__term"))
          .limit(saltHotTerms)
          .select(col("__term"), lit(true).as("__hot"))
        val tfT = tf.join(broadcast(hot), Seq("__term"), "left")
        val gridT = grid.join(broadcast(hot), Seq("__term"), "left")
        val cold = tfT.filter(col("__hot").isNull).drop("__hot")
          .join(gridT.filter(col("__hot").isNull).drop("__hot"),
            Seq("__term"))
        // hot postings spread over `salts` sub-partitions; the grid's
        // k hot (term, label) slices replicate per salt (k × L × salts
        // rows — tiny)
        val hotJoined = graft.ops.Scale.saltedJoin(
          tfT.filter(col("__hot")).drop("__hot"),
          gridT.filter(col("__hot")).drop("__hot"),
          Seq("__term"), saltSource = col("__doc"), salts = salts)
        cold.unionByName(hotJoined)
      }
    val scored = termScored
      .groupBy(col("__doc"), col("__lab"))
      .agg(sum(dec(round(col("__tf") * col("__lp"), 6))).as("__s"),
        max(col("__act")).as("__act"))
      .join(broadcast(logPrior), Seq("__lab"))
      .withColumn("__score",
        round((col("__s") + col("__lp0")).cast("double"), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc"))
      .orderBy(col("__score").desc, col("__lab"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__doc").as(idCol), col("__lab").as("label_pred"),
        col("__score").as("score"), col("__act").as("label_actual"),
        (col("__lab") === col("__act")).as("correct"))
  }

  /** Corpus-wide repeated-block removal — the line/paragraph dedup
    * pass of the large-corpus curation pipelines (MassiveText/Gopher
    * remove lines duplicated across documents; C4 drops repeated
    * three-sentence spans): text is cut into consecutive
    * `blockTokens`-token blocks (the structural unit when the corpus
    * carries no newline structure; a line-delimited corpus would pass
    * its lines through the same shape), every block whose EXACT
    * content occurs ≥ `minRepeat` times across the corpus is removed,
    * and each document is reassembled from its surviving blocks in
    * order. Documents reduced to nothing are dropped.
    *
    * Output: (doc_id, text, n_removed).
    *
    * Scale: one explode + ONE exchange on the block's 16-byte md5
    * content hash — the occurrence count is a window over that hash
    * (never the block text: the shuffle key is 16 bytes/block, the
    * [[graft.text.Dedup.exactByContent]] discipline) — then one
    * doc-keyed agg to reassemble. Frequency-vs-threshold is decided
    * per ROW, so nothing corpus-sized is ever collected or broadcast;
    * a boilerplate block repeated 10⁹ times is one hot hash partition
    * whose window count spills, not an OOM. */
  def removeRepeatedBlocks(docs: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String,
                           blockTokens: Int = 3,
                           minRepeat: Int = 5)
      : org.apache.spark.sql.DataFrame = {
    require(blockTokens > 0 && minRepeat > 1,
      "blockTokens must be positive; minRepeat must be > 1")
    val blk = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("i", "tok")))
      .withColumn("b", (col("i") / blockTokens).cast("long"))
      .groupBy(col("doc_id"), col("b"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("i"), col("tok")))),
        s => s.getField("tok"))).as("btxt"))
    val wHash = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("btxt")))
    blk.withColumn("__rm",
        count(lit(1)).over(wHash) >= minRepeat)
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(!col("__rm"), struct(col("b"), col("btxt"))))),
          s => s.getField("btxt"))).as("text"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"))
      .filter(col("text") =!= "")
  }

  /** Gopher quality rules (Rae et al. 2021 appendix A1.1 — the
    * boolean document pre-filters MassiveText applies before dedup;
    * RedPajama-v2 and Dolma ship the same signals under the "gopher"
    * name). Emits the per-rule flags AND the measurements they're
    * derived from, so downstream can re-threshold without recomputing:
    *
    *  - `r_word_count`:    n_words in [minWords, maxWords]
    *  - `r_mean_word_len`: mean token length in [3, 10]
    *  - `r_alpha_words`:   frac of tokens with >= 1 alphabetic char > 0.8
    *  - `r_symbol_ratio`:  ('#' chars + '...' runs) / n_words < 0.1
    *  - `r_stopwords`:     >= 2 DISTINCT hits from the paper's 8-word
    *                       stopword list (the, be, to, of, and, that,
    *                       have, with)
    *  - `keep` = conjunction of all five.
    *
    * The corpus has no line structure, so the paper's line-level
    * bullet/ellipsis rules have no surface here; the token-level rules
    * are the complete remainder. Ratios are rounded to 6 dp BEFORE
    * threshold comparison (the round-6 determinism discipline), so
    * flag values are engine-independent.
    *
    * Scale: one tokenization bound once per row, pure narrow Column
    * composition — no shuffle, no join, nothing collected. */
  def gopherRules(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, minWords: Long = 50L,
                  maxWords: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val bound = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__t"), tokens(col(textCol)).as("__w"))
    val n = size(col("__w")).cast("long")
    val meanLen = round(aggregate(col("__w"), lit(0L),
      (acc, t) => acc + length(t)).cast("double") / n, 6)
    val alphaFrac = round(size(filter(col("__w"),
      t => t.rlike("[A-Za-z]"))).cast("double") / n, 6)
    val symbols = (length(col("__t")) -
      length(replace(col("__t"), lit("#"), lit("")))).cast("long") +
      size(regexp_extract_all(col("__t"), lit("\\.\\.\\."), lit(0)))
    val symbolRatio = round(symbols.cast("double") / n, 6)
    // one pass over the tokens, distinct on the (<= 8-element) hit
    // list — NOT array_contains per stopword, which would re-evaluate
    // the lowered array once per iteration (no codegen CSE in
    // higher-order lambdas; see the Dedup.scala measurement)
    val stopHits = size(array_distinct(filter(
      transform(col("__w"), t => lower(t)),
      t => t.isin(stop: _*)))).cast("long")
    bound.select(col("doc_id"), n.as("n_words"),
        when(n > 0, meanLen).as("mean_word_len"),
        when(n > 0, alphaFrac).as("alpha_word_frac"),
        when(n > 0, symbolRatio).as("symbol_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_word_len",
        coalesce(col("mean_word_len") >= 3 &&
          col("mean_word_len") <= 10, lit(false)))
      .withColumn("r_alpha_words",
        coalesce(col("alpha_word_frac") > 0.8, lit(false)))
      .withColumn("r_symbol_ratio",
        coalesce(col("symbol_ratio") < 0.1, lit(false)))
      .withColumn("r_stopwords", col("stop_hits") >= 2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_alpha_words") && col("r_symbol_ratio") &&
          col("r_stopwords"))
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms (Robertson–Spärck Jones; the +1 idf variant that never goes
    * negative). Per-(doc, term) contributions are rounded to 6 dp then
    * accumulated in exact decimal — the [[unigramSurprise]] engine-
    * determinism discipline — so the final score is independent of
    * reduction order and engine.
    *
    * Output: (doc_id, bm25), one row per document containing ≥ 1 term.
    *
    * Scale: the token array is FILTERED to the query terms before the
    * explode (a literal-array membership test inside the lambda), so
    * the exploded stream is |hits|, not |corpus tokens|; term doc-
    * frequencies are ≤ |terms| rows (broadcast back); N/avgdl is a
    * 1-row broadcast. The corpus is never joined to itself and the
    * full token stream never shuffles. */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
           textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val termArr = array(terms.map(lit): _*)
    val base = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__w"))
    val stats = base.agg(count(lit(1)).as("__n"),
      (sum(size(col("__w"))).cast("double") /
        count(lit(1))).as("__avgdl"))
    val tf = base.select(col("doc_id"), size(col("__w")).as("dl"),
        explode(filter(col("__w"),
          t => array_contains(termArr, t))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // every constant enters as the SAME double the oracle SQL computes
    // (k1+1 and 1-b are single IEEE ops both sides, not pre-folded
    // literals whose decimal rendering could round differently)
    val contrib = round(
      log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
        col("tf") * lit(k1 + 1) /
        (col("tf") +
          lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))), 6)
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(contrib.cast("decimal(28,6)")).cast("double").as("bm25"))
  }

  /** Curation keep-predicate (quality ≥ minQuality AND language ==
    * lang) over ONE tokenization: the lowercased token array is bound
    * once as a higher-order-function lambda variable (transform over a
    * single-element array), so neither filter pushdown inlining nor
    * multiple references re-tokenize — the same bind-once trick as
    * Dedup.shinglesCols, applied because a plain projected column is
    * inlined into the filter predicate by PushDownPredicates and then
    * re-evaluated per reference (~6 tokenizations per row measured as
    * separate qualityScore + langId calls). */
  def curationKeep(c: Column, minQuality: Double, lang: String): Column =
    element_at(transform(array(tokens(lower(c))), lt =>
      qualityScoreTok(c, lt) >= minQuality && langIdTok(lt) === lang), 1)

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per document, the
    * hashed-n-gram log-likelihood ratio of a TARGET distribution
    * (rows where `isTarget`) against the RAW/source distribution (the
    * whole corpus) — log w(x) = Σ_tokens [ln p̂_tgt(b(t)) −
    * ln p̂_src(b(t))], with unigram features hashed into `buckets`
    * buckets and add-one smoothing on both estimates. Gumbel-top-k /
    * thresholded resampling downstream selects raw docs that "look
    * like" the target domain. Output: (doc_id, log_weight, n_tokens).
    *
    * Cross-engine determinism: the bucket hash is the engine's
    * portable 31-multiplier polynomial char fold mod 2^31−1 (the
    * [[graft.text.Dedup.polyHashedShinglesCols]] convention a SQL
    * oracle replays exactly), each bucket's log-ratio is rounded to 6
    * BEFORE the per-doc sum, and the sum accumulates in exact decimal
    * — reduction-order- and libm-ulp-free (the unigramSurprise
    * discipline).
    *
    * Scale shape: one tokenize+explode of the corpus; bucket counts =
    * two hash aggs over the ≤`buckets`-cardinality key; the per-token
    * hash is evaluated on the DISTINCT vocab only (vocab-sized
    * interpreted HOF, never per corpus token) and joined back; the
    * final per-doc agg shares the explode's doc key. Nothing
    * corpus-sized is broadcast — the bucket log-ratio table
    * (≤`buckets` rows) is. */
  /** BPE merge learning (Sennrich et al. 2016): learn the top
    * `numMerges` byte-pair(-style) merges over a corpus of token
    * sequences — each round counts ADJACENT symbol pairs across the
    * corpus, picks the most frequent (deterministic tiebreak: count
    * desc, then pair text asc), and rewrites every sequence with that
    * pair fused (greedy left-to-right, non-overlapping — the standard
    * BPE application order). Symbols start as whitespace tokens here
    * (word-level corpus; a character-level start is the same code over
    * `split(w, "")`). Returns the learned merge table
    * (rank, left, right, pair_count) — the artifact a tokenizer ships.
    *
    * Scale shape: each round is ONE adjacent-pair explode + hash agg
    * over the corpus and a 1-row argmax to the driver (the merge
    * decision is corpus-global by definition — the paper's algorithm
    * is inherently iterative, `numMerges` bounded jobs, not a
    * per-round unbounded loop). The rewrite is a narrow codegen'd
    * fold (`aggregate` HOF) — no shuffle. Sequences are pinned
    * between rounds ([[graft.ops.Iterate.pin]] cuts the k-deep lineage
    * so round k doesn't replay rounds 1..k−1); the state is the
    * sequences AND the learned-merge buffer, so it keeps its own fold.
    */
  def learnBpeMerges(docs: DataFrame, idCol: String, textCol: String,
                     numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 64, "numMerges in [1,64]")
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    // the pinned sequences are the ITERATION STATE, re-scanned
    // 2× per round (pair agg + fuse rewrite) for up to 64 rounds —
    // partition them to cluster width up front, not to the input's
    // file/row-group count (a single-row-group table would otherwise
    // pin all ~128 passes to ONE task; one input-sized shuffle
    // amortized over every round is the same bargain as the
    // blockedPairs probe spread)
    // perf knob, not correctness: fall back when the conf holds a
    // non-integer value (e.g. "auto" on some platforms)
    val width = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    var seqs = Iterate.pin(docs.select(col(idCol).as("id"),
      tokens(lower(col(textCol))).as("w"))
      .repartition(width))
    val learned = scala.collection.mutable.ArrayBuffer.empty[Row]
    for (rank <- 1 to numMerges) {
      // docs under 2 symbols have no adjacent pair — and MUST be
      // filtered before the sequence: sequence(1, 0) DESCENDS in
      // Spark, yielding spurious (null, null) pairs that sort FIRST
      // in the argmax tiebreak (round-10 fix, caught by the
      // applyBpeMerges spec; the SQL oracle's self-join never had
      // the artifact)
      // adjacent pairs via arrays_zip of the two shifted slices, NOT a
      // transform lambda (r21 opt, guide §4): higher-order functions
      // are CodegenFallback — the lambda pair-gen interpreted ~40 s of
      // task time per round at sf0.1 where zip+slice+explode stay
      // inside whole-stage codegen. Same (w[i-1], w[i]) pair stream.
      val pairs = seqs
        .filter(size(col("w")) >= 2)
        .select(explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("p"))
        .groupBy(col("p").getField("0").as("l"),
          col("p").getField("1").as("r"))
        .agg(count(lit(1)).as("n"))
      // tiebreak on the components SEPARATELY: a concat key is
      // ambiguous across distinct pairs (("a b","c") vs ("a","b c"))
      // and would make a count-tie argmax nondeterministic
      val top = pairs
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += Row(rank, l, r, n)
        // greedy non-overlapping left-to-right fuse of (l, r): one
        // compiled pass per sequence (NativeExpressions.BpeFuse — the
        // aggregate-HOF fold it replaces is interpreted per element
        // and measured ~12 s task time per round at sf0.1;
        // twin-pinned bit-identical in TextSpec). A fused atom's text
        // is the pair joined with a space (never a whitespace token),
        // so a just-fused atom only re-fuses when a LATER round
        // learns that pair — exactly the BPE greedy application order.
        seqs = Iterate.pin(seqs.select(col("id"),
          graft.functions.NativeExpressions.bpe_fuse(col("w"), l, r)
            .as("w")))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(learned.toSeq, 1),
      org.apache.spark.sql.types.StructType.fromDDL(
        "rank INT, left STRING, right STRING, pair_count BIGINT"))
  }

  /** BPE ENCODE — the apply half of [[learnBpeMerges]]: rewrite every
    * document's token sequence with the learned merges in RANK order,
    * each applied greedily left-to-right non-overlapping (the Column
    * twin of the learner's fuse fold, so the encoded sequences equal
    * the learner's round-k state exactly — the t_bpe_encode oracle
    * replays the same three rounds and compares per-doc counts).
    * Returns (doc_id, n_tokens_raw, n_tokens_bpe) — the
    * compression-ratio surface a tokenizer report reads.
    *
    * Scale shape: the merge table is bounded (≤64 rows — a tokenizer
    * artifact, not data) and collected once; encoding is `k` chained
    * narrow `aggregate` HOF passes over each doc's token array — NO
    * shuffle, no join: the embarrassingly-parallel half of BPE, which
    * is why learn-once/encode-everywhere works at 100 TB. */
  def applyBpeMerges(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     merges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ms = merges.select(col("rank"), col("left"), col("right"))
      .collect() // ≤ 64 rows by learnBpeMerges' contract
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    require(ms.length <= 64, "merge table larger than the learner emits")
    // one compiled pass per merge rank (BpeFuse; the interpreted
    // aggregate-HOF twin it replaces is pinned bit-identical in
    // TextSpec — guide §4, same fuse as the learner's rounds)
    def fuse(arr: Column, l: String, r: String): Column =
      graft.functions.NativeExpressions.bpe_fuse(arr, l, r)
    val raw = tokens(lower(col(textCol)))
    val encoded = ms.foldLeft(raw) { case (acc, (l, r)) => fuse(acc, l, r) }
    docs.select(col(idCol).as("doc_id"),
      size(raw).cast("long").as("n_tokens_raw"),
      size(encoded).cast("long").as("n_tokens_bpe"))
  }

  def dsirWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, isTarget: Column,
                  buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val toks = docs.select(col(idCol).as("doc_id"), isTarget.as("__t"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val vocab = toks.select(col("term")).distinct()
      .withColumn("__b", pmod(
        aggregate(split(col("term"), ""), lit(0L),
          (acc, c) => (acc * 31L + ascii(c)) % 2147483647L),
        lit(buckets.toLong)))
    // no broadcast hint on the vocab: distinct terms grow with the
    // corpus and can exceed the broadcast threshold / driver memory at
    // 100 TB — let the optimizer (AQE) choose; the explicit broadcasts
    // below are reserved for the ≤buckets-row lr table and the 1-row
    // totals, which are bounded by construction
    val bucketed = toks.join(vocab, Seq("term"))
    val counts = bucketed.groupBy(col("__b")).agg(
      count(lit(1)).as("__ns"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"))
    val totals = counts.agg(sum(col("__ns")).as("__Ts"),
      sum(col("__nt")).as("__Tt"))
    val lr = counts.crossJoin(broadcast(totals)).select(col("__b"),
      round(
        log((col("__nt") + 1.0) / (col("__Tt") + lit(buckets.toDouble))) -
          log((col("__ns") + 1.0) / (col("__Ts") + lit(buckets.toDouble))),
        6).as("__lr"))
    bucketed.join(broadcast(lr), Seq("__b"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("__lr").cast("decimal(28,6)")).cast("double")
          .as("log_weight"),
        count(lit(1)).as("n_tokens"))
  }

  /** Unordered token pairs co-occurring within `window` positions of
    * each other, one row per INSTANCE with the positional distance `d`
    * — the shared narrow pass under [[gloveCooccur]] and [[textRank]].
    * Two stacked explodes of the per-doc token array (|tokens|·window
    * rows, no join, no shuffle); docs under 2 tokens are skipped
    * (`sequence(1, 0)` would descend). Pair order is normalized
    * (t1 ≤ t2) so downstream aggregation is symmetric. */
  private def windowPairs(docs: org.apache.spark.sql.DataFrame,
                          textCol: String, window: Int)
      : org.apache.spark.sql.DataFrame = {
    require(window >= 1 && window <= 16, "window in [1,16]")
    docs.select(tokens(lower(col(textCol))).as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col("__w"),
        explode(sequence(lit(1), size(col("__w")))).as("__i"))
      .select(col("__w"), col("__i"),
        explode(sequence(lit(1), lit(window))).as("d"))
      .filter(col("__i") + col("d") <= size(col("__w")))
      .select(
        element_at(col("__w"), col("__i")).as("__a"),
        element_at(col("__w"), (col("__i") + col("d")).cast("int"))
          .as("__b"),
        col("d"))
      .select(least(col("__a"), col("__b")).as("t1"),
        greatest(col("__a"), col("__b")).as("t2"), col("d"))
  }

  /** GloVe-style co-occurrence table (Pennington et al. 2014): for
    * every unordered token pair within `window` positions, the
    * instance count and the distance-weighted count Σ 1/d — the input
    * statistic GloVe factorizes, and the corpus-global signal behind
    * collocation/context features. Includes X_ii self-pairs (adjacent
    * repeats), as GloVe does.
    *
    * Scale shape: ONE shuffle — the pair instances are a narrow
    * |tokens|·window explode ([[windowPairs]]), aggregated once on the
    * (t1, t2) key with map-side partial aggregation; `minCount` prunes
    * the long singleton tail AFTER the agg (the standard X_ij ≥ k
    * cut). Weights accumulate as round-6 decimals, so the sum is exact
    * and engine/order-independent (the established oracle recipe). */
  def gloveCooccur(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   window: Int = 2, minCount: Long = 3)
      : org.apache.spark.sql.DataFrame =
    windowPairs(docs, textCol, window)
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n"),
        sum(round(lit(1.0) / col("d"), 6).cast("decimal(28,6)"))
          .cast("double").as("weight"))
      .filter(col("n") >= minCount)

  /** TextRank keyword ranking (Mihalcea & Tarau 2004): PageRank over
    * the undirected token co-occurrence graph (edges = pairs within
    * `window`, weighted by co-occurrence count, self-loops dropped),
    * run for a FIXED `iters` rounds from the uniform start — fully
    * deterministic, so a SQL engine can replay every round (the
    * t_textrank oracle unrolls both). rank'(v) = (1−d)/N +
    * d·Σ_{u∼v} w(u,v)/outw(u)·rank(u); isolated terms never enter the
    * graph (documented trade: keyword extraction only ranks connected
    * vocabulary).
    *
    * Scale shape — the Pregel-on-DataFrames pattern, new to this
    * inventory: the symmetric edge list with its per-source out-weight
    * (a window over ONE src-keyed exchange) is built once and
    * pinned (bounded by DISTINCT co-occurring pairs ≤
    * token-instances × window — smaller than the corpus, bigger than
    * the vocab; the blocks are MEMORY_AND_DISK, so a large graph
    * spills instead of OOMing); each round is one join of edges to the
    * vocab-sized rank table on the SAME src key plus one dst-keyed
    * hash agg — two exchanges per round, nothing corpus-sized on the
    * driver (N is the single scalar). Ranks stay distributed: at
    * 100 TB the vocabulary alone can exceed a broadcast, which is why
    * the join is a shuffle join on the term key, not a broadcast of
    * ranks. Per-round contributions are rounded to 12 and summed as
    * decimals (exact, order-free); both engines compute 1−d and d·Σ in
    * IEEE doubles so the rounds agree bit-for-bit. Σ ranks stays 1 by
    * construction (no dangling mass: every edge-node has outgoing
    * weight). */
  def textRank(docs: org.apache.spark.sql.DataFrame, textCol: String,
               window: Int = 2, iters: Int = 2, damping: Double = 0.85,
               topK: Int = 20): org.apache.spark.sql.DataFrame = {
    require(iters >= 1 && iters <= 16, "iters in [1,16]")
    require(damping > 0 && damping < 1, "damping in (0,1)")
    val pairs = windowPairs(docs, textCol, window)
      .filter(col("t1") =!= col("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
    // pinned once, read `iters`+2 times; vocab-sized (edge list), not
    // corpus-sized, so the retained blocks are small
    val edges = Iterate.pin(pairs
      .select(col("t1").as("src"), col("t2").as("dst"), col("n"))
      .unionByName(
        pairs.select(col("t2").as("src"), col("t1").as("dst"), col("n")))
      .withColumn("ow", sum(col("n")).over(wSrc)))
    val nNodes = edges.select(col("src")).distinct().count()
    val base = (1.0 - damping) / nNodes // IEEE double, oracle mirrors
    var ranks = edges.select(col("src").as("term")).distinct()
      .withColumn("r", lit(1.0 / nNodes))
    for (_ <- 1 to iters) {
      ranks = edges.join(ranks, edges("src") === ranks("term"))
        .select(col("dst"),
          round(col("n") / col("ow") * col("r"), 12).as("__c"))
        .groupBy(col("dst")).agg(
          (lit(base) + lit(damping) *
            sum(col("__c").cast("decimal(28,12)")).cast("double"))
            .as("r"))
        .select(col("dst").as("term"), col("r"))
    }
    ranks.select(col("term"), round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("term"))
      .limit(topK)
  }

  /** Pairwise Jensen–Shannon divergence between per-group unigram
    * distributions — the corpus-composition audit that says HOW FAR
    * APART two slices' token distributions are (0 = identical, ln 2 =
    * disjoint support): the quantitative companion to
    * [[graft.text.Dedup.overlapMatrix]] (overlap counts shared grams;
    * JSD weighs the whole distribution), and the standard
    * mixing-weight diagnostic when deciding how to blend sources into
    * a training corpus.
    *
    * Relational formulation: per-group shares are one (group, term)
    * agg (vocab-sized per group); the Σ over the support UNION splits
    * into the term-intersection self-join (both p,q > 0) plus the
    * exclusive-mass closed form — a term in P only contributes
    * p·ln 2, so the tail is ln 2 · (1 − Σ_intersection p) per side and
    * needs NO outer join. Group pairs that share nothing fall out of
    * the join entirely; they're restored from the groups×groups cross
    * (groups-sized, broadcast) with the exact disjoint value ln 2.
    *
    * Determinism: per-term contributions and shares are rounded to 6
    * dp and accumulated in exact decimal, so the pairwise sum is
    * reduction-order-free and engine-reproducible. Scale contract:
    * the group column must be LOW-CARDINALITY (sources, languages —
    * output is C(G,2) rows and the term join fans out C(G,2) per
    * shared term); the corpus itself is touched once, linearly.
    *
    * @return (grp_a, grp_b, n_common, jsd) with grp_a < grp_b. */
  def jsDivergence(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   groupCol: String): org.apache.spark.sql.DataFrame = {
    val ln2 = log(lit(2.0))
    val toks = docs.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(tokens(lower(col(textCol)))).as("__term"))
    val tf = toks.groupBy(col("__g"), col("__term"))
      .agg(count(lit(1)).as("__tf"))
    val tot = tf.groupBy(col("__g")).agg(sum(col("__tf")).as("__tot"))
    val shares = tf.join(broadcast(tot), Seq("__g"))
      .select(col("__g"), col("__term"),
        (col("__tf").cast("double") / col("__tot").cast("double"))
          .as("__p"))
    val a = shares.select(col("__g").as("grp_a"), col("__term"),
      col("__p").as("__pa"))
    val b = shares.select(col("__g").as("grp_b"), col("__term"),
      col("__p").as("__pb"))
    val mix = col("__pa") + col("__pb")
    val contrib = round(
      col("__pa") * log(lit(2.0) * col("__pa") / mix) +
      col("__pb") * log(lit(2.0) * col("__pb") / mix), 6)
    val inter = a.join(b, Seq("__term"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(contrib.cast("decimal(28,6)")).cast("double").as("__ci"),
        sum(round(col("__pa"), 6).cast("decimal(28,6)")).cast("double")
          .as("__sa"),
        sum(round(col("__pb"), 6).cast("decimal(28,6)")).cast("double")
          .as("__sb"))
    val groups = tot.select(col("__g"))
    val allPairs = groups.select(col("__g").as("grp_a"))
      .crossJoin(broadcast(groups.select(col("__g").as("grp_b"))))
      .filter(col("grp_a") < col("grp_b"))
    allPairs.join(broadcast(inter), Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round((coalesce(col("__ci"), lit(0.0)) +
          ln2 * ((lit(1.0) - coalesce(col("__sa"), lit(0.0))) +
            (lit(1.0) - coalesce(col("__sb"), lit(0.0))))) / 2.0, 6)
          .as("jsd"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the classic
    * unsupervised keyphrase miner: candidate phrases are the maximal
    * stopword-free token runs, each word scores degree/frequency
    * (degree = Σ over its phrase occurrences of the phrase length —
    * words that live in LONG phrases beat equally-frequent words in
    * short ones), and a phrase scores the sum of its words' scores.
    * Corpus-level top-k (the vocabulary-mining use, beside
    * [[tfIdf]]'s per-doc weights and textrank's per-doc graph).
    *
    * Determinism: phrase segmentation is a pure fold over the
    * cleaned token stream (lowercase, [^a-z0-9]+ → space; the oracle
    * reproduces it with a double stopword-boundary regexp_replace);
    * word scores round once to 6 (decimal), phrase scores are EXACT
    * sums of those decimals, ties break on the phrase string.
    *
    * Scale shape: one explode to the phrase frame, one word-keyed
    * hash agg (vocabulary-scale), one phrase-keyed agg + TakeOrdered
    * top-k — no joins wider than phrase-tokens × vocab.
    *
    * @return top-k: (phrase, n_words, n_occurrences, score) */
  def rakeKeywords(docs: DataFrame, textCol: String,
                   stopwords: Seq[String] = EnStopwords,
                   maxPhraseLen: Int = 4, topK: Int = 20): DataFrame = {
    require(maxPhraseLen >= 1, "maxPhraseLen must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val toks = filter(
      split(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "), " "),
      t => t =!= "")
    val emptyPs = expr("cast(array() as array<array<string>>)")
    val emptyCur = expr("cast(array() as array<string>)")
    val phrases = aggregate(
      toks,
      struct(emptyPs.as("ps"), emptyCur.as("cur")),
      (acc, t) => when(t.isin(stopwords: _*),
        struct(
          when(size(acc.getField("cur")) > 0,
            concat(acc.getField("ps"), array(acc.getField("cur"))))
            .otherwise(acc.getField("ps")).as("ps"),
          emptyCur.as("cur")))
        .otherwise(struct(acc.getField("ps").as("ps"),
          concat(acc.getField("cur"), array(t)).as("cur"))),
      acc => when(size(acc.getField("cur")) > 0,
        concat(acc.getField("ps"), array(acc.getField("cur"))))
        .otherwise(acc.getField("ps")))
    val ph = docs.filter(col(textCol).isNotNull)
      .select(explode(phrases).as("__ph"))
      .filter(size(col("__ph")).between(1, maxPhraseLen))
      .select(array_join(col("__ph"), " ").as("__p"),
        size(col("__ph")).as("__len"))
    val wstats = ph
      .select(explode(split(col("__p"), " ")).as("__w"), col("__len"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .select(col("__w"),
        round(col("__deg").cast("double") /
          col("__freq").cast("double"), 6).cast("decimal(18,6)")
          .as("__ws"))
    val pfreq = ph.groupBy(col("__p"))
      .agg(count(lit(1)).as("n_occurrences"))
    pfreq
      .select(col("__p"), col("n_occurrences"),
        explode(split(col("__p"), " ")).as("__w"))
      .join(wstats, Seq("__w"))
      .groupBy(col("__p"), col("n_occurrences"))
      .agg(sum(col("__ws")).cast("double").as("score"))
      .select(col("__p").as("phrase"),
        size(split(col("__p"), " ")).as("n_words"),
        col("n_occurrences"), col("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Vocabulary coverage audit — "how much of the language is this
    * corpus still missing?": Good–Turing unseen mass and the Chao1
    * richness estimator off the frequency-of-frequencies. With N
    * tokens, V distinct terms, N₁ hapax legomena (terms seen once)
    * and N₂ dis legomena (seen twice):
    *
    *   - `unseen_mass` = N₁/N — the Good–Turing estimate of the
    *     probability the NEXT token drawn is a never-seen term (Gale
    *     & Sampson 1995). High ⇒ the corpus undersamples its domain;
    *     the training-data signal for "collect more before scaling".
    *   - `chao1` = V + N₁(N₁−1)/(2(N₂+1)) — the bias-corrected Chao1
    *     lower bound on TRUE vocabulary size (Chao 1984); chao1 ≫ V
    *     says the tail is far from exhausted.
    *   - `hapax_ratio` = N₁/V — the classic corpus-maturity dial
    *     (fresh natural text sits near 0.4–0.6; dedup'd boilerplate
    *     collapses it).
    *
    * All counts are exact BIGINT off one term-frequency agg; each
    * ratio is ONE double division rounded to 6dp (N₁(N₁−1) widened to
    * decimal(38,0) before the cast — hapax counts at corpus scale
    * square past 2⁶³).
    *
    * Scale shape: one corpus tokenize-explode → one hash agg to the
    * distinct-term frame (map-side combined) → ONE single-row agg
    * with conditional sums; nothing else touches the corpus. The
    * freq-of-freq detail stays inside the agg — no second shuffle.
    *
    * @return one row: (total_tokens, vocab, hapax, dis_legomena,
    *         unseen_mass, chao1, hapax_ratio) */
  def vocabCoverage(docs: DataFrame, textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val freqs = docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    freqs.agg(
      coalesce(sum(col("freq")), lit(0L)).cast("long")
        .as("total_tokens"),
      count(lit(1)).as("vocab"),
      coalesce(sum(when(col("freq") === 1, 1L).otherwise(0L)),
        lit(0L)).as("hapax"),
      coalesce(sum(when(col("freq") === 2, 1L).otherwise(0L)),
        lit(0L)).as("dis_legomena"))
      .select(col("total_tokens"), col("vocab"), col("hapax"),
        col("dis_legomena"),
        when(col("total_tokens") > 0,
          round(col("hapax").cast("double") /
            col("total_tokens").cast("double"), 6)).as("unseen_mass"),
        round(col("vocab").cast("double") +
          (col("hapax").cast(dec) * (col("hapax") - 1).cast(dec))
            .cast("double") /
          (lit(2.0) * (col("dis_legomena") + 1).cast("double")), 6)
          .as("chao1"),
        when(col("vocab") > 0,
          round(col("hapax").cast("double") /
            col("vocab").cast("double"), 6)).as("hapax_ratio"))
  }

  /** Cross-corpus bigram surprise — the CCNet-style LM quality /
    * novelty score one order up from [[unigramSurprise]]: each
    * TARGET document's bigrams scored under a REFERENCE corpus's
    * bigram model, mean −ln P per doc. High = unlike the reference
    * (novel, noisy, or another domain) — the number quality
    * filtering thresholds on and novelty mining sorts by. Stupid
    * backoff (Brants 2007): P = c(w₁w₂)/c(w₁·) when the reference
    * saw the bigram, else `backoff` · Laplace unigram
    * (c(w₂)+1)/(N+V) — defined for OOV words too. The unseen-bigram
    * count is reported beside the mean (an OOV-rate dial of its
    * own). Docs with < 2 tokens emit no row (no bigrams — stated).
    *
    * Numerics: each bigram's −ln P is ONE double chain rounded to
    * 6dp, summed EXACTLY in decimal per doc; the mean is one
    * rounded division.
    *
    * Scale shape: reference collapses to three hash-agg frames
    * (bigram, context, unigram — all vocabulary-scale); the target
    * explode joins them on bigram/word keys (AQE's call on
    * broadcast vs shuffle) into one (doc) agg. Both corpora are
    * touched once.
    *
    * @return per target doc: (doc_id, n_bigrams, n_unseen,
    *         mean_surprise) */
  def bigramSurprise(target: org.apache.spark.sql.DataFrame,
                     reference: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String,
                     backoff: Double = 0.4)
      : org.apache.spark.sql.DataFrame = {
    require(backoff > 0.0 && backoff <= 1.0,
      "backoff must be in (0, 1]")
    def biFrame(df: org.apache.spark.sql.DataFrame) =
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"),
          explode(bigrams(col(textCol))).as("__bg"))
        .select(col("doc_id"),
          split(col("__bg"), " ").getItem(0).as("__w1"),
          split(col("__bg"), " ").getItem(1).as("__w2"))
    val refB = biFrame(reference)
      .groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__cb"))
    val refCtx = refB.groupBy(col("__w1"))
      .agg(sum(col("__cb")).as("__cu"))
    val refU = reference.filter(col(textCol).isNotNull)
      .select(explode(tokens(lower(col(textCol)))).as("__w2"))
      .groupBy(col("__w2")).agg(count(lit(1)).as("__c"))
    val totV = refU.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__v"))
    biFrame(target)
      .join(refB, Seq("__w1", "__w2"), "left")
      .join(refCtx, Seq("__w1"), "left")
      .join(refU, Seq("__w2"), "left")
      .crossJoin(broadcast(totV))
      .select(col("doc_id"),
        when(col("__cb").isNotNull,
          round(-log(col("__cb").cast("double") /
            col("__cu").cast("double")), 6))
          .otherwise(round(-log(lit(backoff) *
            ((coalesce(col("__c"), lit(0L)) + 1).cast("double") /
              (col("__n") + col("__v")).cast("double"))), 6))
          .cast("decimal(18,6)").as("__s"),
        when(col("__cb").isNull, 1L).otherwise(0L).as("__oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__oov")).as("n_unseen"),
        (sum(col("__s")).cast("decimal(28,6)").cast("double") /
          count(lit(1)).cast("double")).as("__m"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        round(col("__m"), 6).as("mean_surprise"))
  }

  /** Leakage-safe train/test split — the assignment every dedup'd
    * training corpus needs: split by CLUSTER, not by row, so near-
    * duplicate documents (same fingerprint / entity cluster / URL
    * host) can never straddle the boundary and leak test content
    * into training. Deterministic: a cluster lands in "test" iff
    * its [[portableHash]] maps below `testMicros`/10⁶ — stable
    * under re-partitioning, re-runs and engine ports (no RNG), and
    * any two tables split on the same cluster key agree. Hash-bucket
    * bias is ≤ 1 part in 2¹¹ of the test mass ((2³¹−1) mod 10⁶ ≠ 0,
    * stated); the achieved fraction converges on clusters, not rows
    * — a giant cluster moves the row fraction, by design.
    *
    * Scale shape: one narrow projection — a per-row hash + compare,
    * no shuffle, no state. Composable upstream of any sink.
    *
    * @param clusterCol long-valued cluster key (a fingerprint, an
    *        entity-cluster rep id)
    * @param testMicros test share in micro-units (100000 = 10%)
    * @return df + `split` column ("train" / "test") */
  def leakageSafeSplit(df: org.apache.spark.sql.DataFrame,
                       clusterCol: String,
                       testMicros: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    require(testMicros >= 0L && testMicros <= 1000000L,
      "testMicros must be in [0, 1000000]")
    df.withColumn("split",
      when(pmod(portableHash(col(clusterCol)), lit(1000000L)) <
        testMicros, "test").otherwise("train"))
  }

  /** Distinctive terms per group — Monroe/Colaresi/Quinn's
    * "Fightin' Words" question for corpus curation: which terms are
    * OVER-represented in source/lang/slice g relative to the rest of
    * the corpus? Per (group, term) 2×2 cell (a = term in group, b =
    * other group tokens, c = term elsewhere, d = everything else),
    * Haldane-smoothed log-odds-ratio lor = ln((a+½)(d+½)/((b+½)(c+½)))
    * and its z = lor/√(1/(a+½)+1/(b+½)+1/(c+½)+1/(d+½)) — the
    * variance-standardized form that stops raw frequency from
    * drowning the signal. Top-k per group by (z desc, term): the
    * boilerplate/domain markers a mixing or dedup step should know
    * about.
    *
    * Numerics: all four cells are exact longs off one (group, term)
    * hash agg; lor and z are ONE fixed-order double chain each,
    * rounded once — ranking on the rounded z with the term tiebreak
    * is deterministic under any partitioning.
    *
    * Scale shape: one tokenize-explode → one (group, term) hash agg
    * (map-side combined); the group-totals frame broadcasts, the
    * term-marginal join and the per-group top-k window run on the
    * vocab-sized frame, partitioned by group.
    *
    * @return top-k rows per group: (group, term, n_in_group, lor, z) */
  def distinctiveTerms(docs: DataFrame, textCol: String,
                       groupCol: String, topK: Int = 10,
                       minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, "topK must be >= 1")
    val cells = docs.filter(col(textCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(tokens(lower(col(textCol)))).as("__w"))
      .groupBy(col("__g"), col("__w")).agg(count(lit(1)).as("__a"))
    val gTot = cells.groupBy(col("__g"))
      .agg(sum(col("__a")).as("__ng"))
    val wTot = cells.groupBy(col("__w"))
      .agg(sum(col("__a")).as("__cw"))
    val nTot = gTot.agg(sum(col("__ng")).as("__n"))
    def h(c: Column): Column = c.cast("double") + lit(0.5)
    val scored = cells.filter(col("__a") >= minCount)
      .join(broadcast(gTot), Seq("__g"))
      .join(wTot, Seq("__w"))
      .crossJoin(broadcast(nTot))
      .select(col("__g"), col("__w"), col("__a"),
        col("__ng") - col("__a"),
        col("__cw") - col("__a"),
        col("__n") - col("__ng") - (col("__cw") - col("__a")))
      .toDF("__g", "__w", "__a", "__b", "__c", "__d")
      .select(col("__g"), col("__w"), col("__a"),
        log(h(col("__a")) * h(col("__d")) /
          (h(col("__b")) * h(col("__c")))).as("__l"),
        (lit(1.0) / h(col("__a")) + lit(1.0) / h(col("__b")) +
          lit(1.0) / h(col("__c")) + lit(1.0) / h(col("__d")))
          .as("__v"))
      .select(col("__g"), col("__w"), col("__a"),
        round(col("__l"), 6).as("lor"),
        round(col("__l") / sqrt(col("__v")), 6).as("z"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("z").desc, col("__w"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= topK)
      .select(col("__g").as("group"), col("__w").as("term"),
        col("__a").as("n_in_group"), col("lor"), col("z"))
  }

  /** Pairwise source divergence — Jensen–Shannon distance between
    * every pair of group unigram distributions: the redundancy /
    * complementarity map a corpus-mixing step reads before weighting
    * sources ("these two crawls say the same thing; this one is the
    * outlier"). JS(p,q) = ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2 — bounded
    * by ln 2, symmetric, and defined on disjoint support (unlike KL).
    *
    * The vocabulary trick that keeps it one inner join: a term in g
    * but ABSENT from h contributes exactly (ln 2)/2 · p — so
    * JS = Σ_common terms + (ln 2)/2 · ((1 − Sg) + (1 − Sh)) where
    * Sg = the g-probability mass of the SHARED vocabulary, computed
    * as exact token counts over the common terms divided once. No
    * full-outer union frame, no per-pair vocabulary completion.
    *
    * Numerics: per-common-term JS contribution is ONE fixed-order
    * double chain rounded to 6dp, summed EXACTLY in decimal per
    * pair; the missing-mass correction is one more rounded chain on
    * exact counts; js_norm = js/ln 2 ∈ [0, 1] one final division.
    *
    * Scale shape: one tokenize-explode → one (group, term) hash agg;
    * the pair frame is the vocab-sized self-join on term (g < h, ≤
    * k²/2 · vocab rows); group totals broadcast. k groups is a
    * SOURCES dimension (dozens), not a corpus dimension.
    *
    * @return one row per pair: (group_a, group_b, n_common_terms,
    *         js, js_norm) */
  def sourceDivergence(docs: DataFrame, textCol: String,
                       groupCol: String): DataFrame = {
    val cells = docs.filter(col(textCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(tokens(lower(col(textCol)))).as("__w"))
      .groupBy(col("__g"), col("__w")).agg(count(lit(1)).as("__c"))
    val gTot = cells.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__ng"))
    val a = cells.select(col("__g").as("__ga"), col("__w"),
      col("__c").as("__ca"))
    val b = cells.select(col("__g").as("__gb"), col("__w"),
      col("__c").as("__cb"))
    val na = gTot.select(col("__g").as("__ga"),
      col("__ng").as("__na"))
    val nb = gTot.select(col("__g").as("__gb"),
      col("__ng").as("__nb"))
    val pairs = a.join(b, Seq("__w")).filter(col("__ga") < col("__gb"))
      .join(broadcast(na), Seq("__ga"))
      .join(broadcast(nb), Seq("__gb"))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val term = round((p * log(lit(2.0) * p / (p + q)) +
      q * log(lit(2.0) * q / (p + q))) / lit(2.0), 6)
      .cast("decimal(18,6)")
    val common = pairs
      .select(col("__ga"), col("__gb"), col("__ca"), col("__cb"),
        term.as("__t"))
      .groupBy(col("__ga"), col("__gb"))
      .agg(count(lit(1)).as("n_common_terms"),
        sum(col("__ca")).as("__cga"), sum(col("__cb")).as("__cgb"),
        sum(col("__t")).cast("decimal(28,6)").as("__jsc"))
    // every group pair appears, even with ZERO shared vocabulary
    // (js = ln 2 exactly there) — the k²/2 pair list is tiny
    val allPairs = na.crossJoin(nb).filter(col("__ga") < col("__gb"))
    allPairs.join(common, Seq("__ga", "__gb"), "left")
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        coalesce(col("n_common_terms"), lit(0L))
          .as("n_common_terms"),
        (coalesce(col("__jsc"), lit(0).cast("decimal(28,6)")) +
          round(log(lit(2.0)) / lit(2.0) *
            ((col("__na") - coalesce(col("__cga"), lit(0L)))
              .cast("double") / col("__na").cast("double") +
             (col("__nb") - coalesce(col("__cgb"), lit(0L)))
              .cast("double") / col("__nb").cast("double")), 6)
            .cast("decimal(18,6)")).as("__js"))
      .select(col("group_a"), col("group_b"), col("n_common_terms"),
        col("__js").cast("double").as("js"),
        round(col("__js").cast("double") / log(lit(2.0)), 6)
          .as("js_norm"))
  }

  /** Heaps'-law vocabulary-growth fit — V(n) = K·n^β estimated from
    * the corpus's own growth curve (Heaps 1978): walk the documents
    * in a deterministic order, record (cumulative tokens, cumulative
    * distinct vocabulary) at every document boundary, and OLS-fit
    * log V against log n. β near 0.5 is mature natural text; β → 1
    * means every document still brings mostly-new vocabulary (the
    * corpus is nowhere near saturation); K·N^β extrapolates vocab at
    * a target token budget. The companion dial to [[vocabCoverage]]:
    * Chao1 bounds WHERE the curve is going, β says HOW FAST.
    *
    * The cumulative-vocab curve needs no per-prefix distinct: a term
    * enters the vocabulary exactly once, at its FIRST-occurrence
    * document (min doc order value). Cumulative vocab at document d =
    * count of terms with first-doc ≤ d — a curve-frame prefix sum.
    *
    * Scale shape: one corpus tokenize-explode feeding TWO hash aggs
    * (per-term min-first-doc; per-doc token counts) — the corpus is
    * touched once; everything after runs on curve-sized frames
    * (≤ one row per document), with both cumulatives through the
    * bucketed [[graft.ops.Prefix.strictBelow]] hierarchy (no
    * single-partition global window even when "curve-sized" means
    * billions of documents) and the [[graft.ops.Quality.olsFit]] tail
    * over the log-log points. Docs with zero tokens contribute a
    * curve point with unchanged vocab.
    *
    * @param docOrderCol deterministic walk order (e.g. doc_id)
    * @return one row: (n_docs, heaps_beta, heaps_log_k, r2,
    *         vocab, total_tokens) */
  def heapsFit(docs: DataFrame, textCol: String,
               docOrderCol: String,
               bucketSize: Long = 1048576L): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(docOrderCol).cast("long").as("__d"),
        explode(tokens(lower(col(textCol)))).as("__t"))
    // per-term first-occurrence doc, re-aggregated to curve scale
    val firstDoc = toks.groupBy(col("__t"))
      .agg(min(col("__d")).as("__fd"))
      .groupBy(col("__fd")).agg(count(lit(1)).as("__new_terms"))
    val perDoc = docs.filter(col(textCol).isNotNull)
      .select(col(docOrderCol).cast("long").as("__d"),
        tokenCount(col(textCol)).as("__nt"))
      .join(firstDoc, col("__d") === col("__fd"), "left")
      .select(col("__d"), col("__nt"),
        coalesce(col("__new_terms"), lit(0L)).as("__nv"))
    val curve = graft.ops.Prefix.strictBelow(perDoc, Nil, "__d",
        Seq("__nt", "__nv"), bucketSize)
      .select(col("__d"),
        (col("__below___nt") + col("__nt")).as("__cum_n"),
        (col("__below___nv") + col("__nv")).as("__cum_v"))
      .filter(col("__cum_n") > 0 && col("__cum_v") > 0)
    val xy = curve.select(
      log(col("__cum_n").cast("double")).as("__x"),
      log(col("__cum_v").cast("double")).as("__y"))
    graft.ops.Quality.olsFit(xy, Seq.empty, "__x", "__y")
      .crossJoin(broadcast(curve.agg(
        count(lit(1)).as("__pts"),
        max(col("__cum_v")).as("vocab"),
        max(col("__cum_n")).as("total_tokens"))))
      .select(col("__pts").as("n_docs"),
        col("slope").as("heaps_beta"),
        col("intercept").as("heaps_log_k"), col("r2"),
        col("vocab"), col("total_tokens"))
  }

  /** Per-(doc, order) n-gram counts of a token-array column — the
    * shared substrate of [[bleuCorpus]] and [[rougeN]]. One corpus
    * scan: the order list explodes FIRST (cheap — `maxOrders` rows per
    * doc), then each (doc, order) row explodes its gram list, then one
    * (doc, order, gram) hash agg. Output columns: idCol, `ord`,
    * `gram`, `cnt`. Docs shorter than `ord` produce no rows for that
    * order (explode of an empty array drops the row) — absence, not a
    * zero, on BOTH engines. The `slice` bound is guarded (`if`) so the
    * empty case never builds `sequence(1, 0)` (whose inferred step -1
    * yields [1, 0] — the r13 sequence gotcha). */
  private def gramCounts(df: DataFrame, idCol: String, toksCol: Column,
                         orders: Seq[Int]): DataFrame =
    df.select(col(idCol), toksCol.as("__a"))
      .select(col(idCol),
        explode(lit(orders.toArray)).as("ord"), col("__a"))
      .select(col(idCol), col("ord"), explode(expr(
        "if(size(__a) >= ord, transform(sequence(1, size(__a) - ord + 1)," +
          " i -> array_join(slice(__a, i, ord), ' ')), array())"))
        .as("gram"))
      .groupBy(col(idCol), col("ord"), col("gram"))
      .agg(count(lit(1)).as("cnt"))

  /** Corpus-level BLEU-`maxN` (Papineni et al. 2002) of a candidate
    * text column against a reference text column — the standard
    * generation-eval metric, computed relationally: per-order CLIPPED
    * n-gram matches (Σ min(cand count, ref count) over the corpus, an
    * exact integer) over candidate totals, geometric mean via
    * exp(mean ln) — ln/exp is the proven cross-engine libm surface;
    * `pow(x, 0.25)` is not — and the brevity penalty
    * exp(1 − r/c) on exact BIGINT token totals (BIGINT→DOUBLE is
    * always parity-safe). Any zero per-order match short-circuits to
    * bleu = 0 (the undefined-ln guard, and the metric's definition).
    *
    * Scale shape: one corpus scan per side into (doc, ord, gram)
    * hash aggs, one (doc, ord, gram)-keyed equi-join, then everything
    * collapses to a `maxN`-row frame — the only wide exchange is the
    * gram join, linear in corpus n-gram volume. Whitespace tokens
    * (the [[tokens]] contract both engines share).
    *
    * @return ONE row: m1..m{maxN} (clipped matches), t1..t{maxN}
    *         (candidate totals) as exact longs, cand_len, ref_len,
    *         bp, bleu (round-6 doubles) */
  def bleuCorpus(df: DataFrame, idCol: String, candCol: Column,
                 refCol: Column, maxN: Int = 4): DataFrame = {
    require(maxN >= 1, "maxN must be >= 1")
    val orders = 1 to maxN
    val base = df.select(col(idCol), candCol.as("__cand"),
      refCol.as("__ref"))
    val c = gramCounts(base, idCol, tokens(col("__cand")), orders)
      .withColumnRenamed("cnt", "cc")
    val r = gramCounts(base, idCol, tokens(col("__ref")), orders)
      .withColumnRenamed("cnt", "rc")
    val perOrd = c.join(r, Seq(idCol, "ord", "gram"), "left")
      .groupBy(col("ord"))
      .agg(sum(least(col("cc"), coalesce(col("rc"), lit(0L))))
          .cast("long").as("m"),
        sum(col("cc")).cast("long").as("t"))
    val lens = base.agg(
      sum(size(tokens(col("__cand"))).cast("long")).as("cand_len"),
      sum(size(tokens(col("__ref"))).cast("long")).as("ref_len"))
    // maxN rows -> one: the pivot is a constant-width agg
    val aggCols = orders.flatMap(n => Seq(
      max(when(col("ord") === n, col("m"))).as(s"m$n"),
      max(when(col("ord") === n, col("t"))).as(s"t$n")))
    val wide = perOrd.groupBy().agg(aggCols.head, aggCols.tail: _*)
    val anyZero = orders
      .map(n => coalesce(col(s"m$n"), lit(0L)) === 0L)
      .reduce(_ || _)
    val lnSum = orders
      .map(n => log(col(s"m$n").cast("double")) -
        log(col(s"t$n").cast("double")))
      .reduce(_ + _)
    val bp = when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("ref_len").cast("double") /
        col("cand_len").cast("double")))
    wide.crossJoin(broadcast(lens))
      .select((orders.flatMap(n => Seq(col(s"m$n"), col(s"t$n"))) ++ Seq(
        col("cand_len"), col("ref_len"), round(bp, 6).as("bp"),
        when(anyZero, lit(0.0))
          .otherwise(round(bp * exp(lnSum / maxN), 6)).as("bleu"))): _*)
  }

  /** Per-document ROUGE-n (Lin 2004) of a candidate text column
    * against a reference: clipped n-gram matches per doc, precision
    * m/t_cand, recall m/t_ref, and F1 as the EXACT fraction
    * 2m/(t_cand + t_ref) (algebraically equal to 2PR/(P+R) — one
    * integer ratio, one rounding, no compound double chain). Rows are
    * defined by the CANDIDATE gram frame (both engines derive the
    * same row set); a doc shorter than `ord` on the candidate side
    * has no row for that order.
    *
    * Scale shape: the [[bleuCorpus]] join substrate with the final
    * agg keyed per (doc, ord) instead of per ord — output is
    * docs × orders rows, every stage linear. */
  def rougeN(df: DataFrame, idCol: String, candCol: Column,
             refCol: Column, orders: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(orders.nonEmpty && orders.forall(_ >= 1))
    val base = df.select(col(idCol), candCol.as("__cand"),
      refCol.as("__ref"))
    val c = gramCounts(base, idCol, tokens(col("__cand")), orders)
      .withColumnRenamed("cnt", "cc")
    val r = gramCounts(base, idCol, tokens(col("__ref")), orders)
      .withColumnRenamed("cnt", "rc")
    val refTot = r.groupBy(col(idCol), col("ord"))
      .agg(sum(col("rc")).cast("long").as("n_ref"))
    c.join(r, Seq(idCol, "ord", "gram"), "left")
      .groupBy(col(idCol), col("ord"))
      .agg(sum(least(col("cc"), coalesce(col("rc"), lit(0L))))
          .cast("long").as("n_match"),
        sum(col("cc")).cast("long").as("n_cand"))
      .join(refTot, Seq(idCol, "ord"), "left")
      .withColumn("n_ref", coalesce(col("n_ref"), lit(0L)))
      // long `ord` in the OUTPUT (cross-engine dtype contract: range()
      // is BIGINT in DuckDB); int internally, where slice() needs it
      .select(col(idCol), col("ord").cast("long").as("ord"),
        col("n_match"), col("n_cand"),
        col("n_ref"),
        round(col("n_match").cast("double") /
          col("n_cand").cast("double"), 6).as("precision"),
        when(col("n_ref") === 0L, lit(0.0))
          .otherwise(round(col("n_match").cast("double") /
            col("n_ref").cast("double"), 6)).as("recall"),
        round(lit(2.0) * col("n_match").cast("double") /
          (col("n_cand") + col("n_ref")).cast("double"), 6).as("f1"))
  }

  /** Per-document chrF (Popović 2015) — the third standard
    * generation-eval metric beside [[bleuCorpus]] and [[rougeN]]:
    * CHARACTER n-gram F-score, orders 1..`maxN` (standard 6) over the
    * space-stripped text, with recall weighted β² (standard β = 2).
    * Character grams reward partial word matches (morphology, typos)
    * that word-gram metrics score zero, which is why chrF correlates
    * better on morphologically rich output.
    *
    * Definition shipped (deterministic, engine-free): per order n,
    * clipped matches mₙ = Σ_gram min(cand, ref) and totals (exact
    * longs from one native row-local pass);
    * Pₙ = round6(mₙ/tcₙ), Rₙ = round6(mₙ/trₙ); chrP/chrR average the
    * orders PRESENT ON BOTH SIDES as EXACT MICRO-UNIT INTEGERS —
    * the mean of round-6 decimals is structurally halfway-prone
    * (measured here: one doc's P-average landed on a .5·10⁻⁶
    * boundary and the engines' double-round split), so the average
    * is Σ(Pₙ·10⁶) with explicit half-away integer division
    * (2s+k) div 2k, the holtSeasonal pattern — bit-identical in any
    * engine; chrF = round6((1+β²)·chrP·chrR / (β²·chrP + chrR)), 0
    * when both sides average 0. A document
    * whose stripped candidate or reference is empty produces NO row
    * (absence, not zero, on both engines). Whitespace = the space
    * character (this corpus's only whitespace; `translate` here,
    * non-regex `replace` in the oracle — no \\s dialect drift).
    *
    * Scale shape: ONE corpus scan, ZERO exchanges — both metric
    * sides live in the same row, so the gram substrate is the
    * row-local native [[graft.functions.NativeExpressions.ChrfGramStats]]
    * (a bounded-suffix sort per side per row; no per-gram string is
    * materialized or shuffled) and everything after it is per-row
    * column arithmetic. Embarrassingly parallel at any corpus size.
    *
    * @return one row per doc: idCol, n_orders, chr_p, chr_r, chrf */
  def chrF(df: DataFrame, idCol: String, candCol: Column,
           refCol: Column, maxN: Int = 6, beta: Double = 2.0)
      : DataFrame = {
    require(maxN >= 1, "maxN must be >= 1")
    require(beta > 0, "beta must be > 0")
    val orders = 1 to maxN
    // chrF is a PER-DOCUMENT metric whose candidate and reference sit
    // in the SAME row, so the whole gram substrate is row-local: one
    // native pass ([[graft.functions.NativeExpressions.ChrfGramStats]])
    // emits exact (mₙ, tcₙ, trₙ) per order — ZERO exchanges, where
    // the former (doc, ord, gram) explode → two hash aggs →
    // gram-keyed join shuffled ~chars×maxN×2 gram rows (8.2 s of
    // bench wall at sf0.1) to compute a function of one row. The
    // per-order P/R arithmetic below is unchanged (same round-6
    // divisions on the same exact longs), so results — and the
    // gram-explode DuckDB oracle — are bit-identical.
    val base = df.select(col(idCol),
      graft.functions.NativeExpressions.chrf_gram_stats(
        candCol, refCol, maxN).as("__st"))
    // an order contributes only when BOTH sides have grams (the
    // former inner join of the two per-order aggs)
    val cols = orders.flatMap { n =>
      val st = col("__st").getItem(n - 1)
      val both = st.getField("tc") > 0 && st.getField("tr") > 0
      Seq(
        when(both, round(st.getField("m").cast("double") /
          st.getField("tc").cast("double"), 6)).as(s"__p$n"),
        when(both, round(st.getField("m").cast("double") /
          st.getField("tr").cast("double"), 6)).as(s"__r$n"))
    }
    // a document with NO qualifying order (either side empty after
    // stripping, or a null side) produced NO row in the former
    // agg/join plan — the filter below reproduces that absence
    val wide = base.select(col(idCol) +: cols: _*)
      .filter(orders.map(n => col(s"__p$n").isNotNull)
        .reduce(_ || _))
    val k = orders.map(n =>
      when(col(s"__p$n").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    def micro(c: Column): Column =
      (c.cast("decimal(18,6)") * lit(1000000L)).cast("long")
    val pSum = orders.map(n => coalesce(micro(col(s"__p$n")), lit(0L)))
      .reduce(_ + _) // exact micro longs: order-free, midpoint-free
    val rSum = orders.map(n => coalesce(micro(col(s"__r$n")), lit(0L)))
      .reduce(_ + _)
    val b2 = beta * beta
    wide
      .withColumn("n_orders", k)
      .withColumn("__ps", pSum).withColumn("__rs", rSum)
      // half-away integer mean: (2s + k) div 2k — non-negative s, so
      // truncation and floor agree on both engines
      .withColumn("chr_p",
        expr("(2 * __ps + n_orders) div (2 * n_orders)")
          .cast("double") / lit(1000000.0))
      .withColumn("chr_r",
        expr("(2 * __rs + n_orders) div (2 * n_orders)")
          .cast("double") / lit(1000000.0))
      .select(col(idCol), col("n_orders"), col("chr_p"), col("chr_r"),
        when(col("chr_p") + col("chr_r") === 0.0, lit(0.0))
          .otherwise(round(lit(1.0 + b2) * col("chr_p") * col("chr_r") /
            (lit(b2) * col("chr_p") + col("chr_r")), 6)).as("chrf"))
  }
}
