package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Iterate

/** Corpus deduplication at scale: exact, MinHash+LSH, SimHash, and exact
  * n-gram Jaccard verification.
  *
  * Scale design: every flavor reduces to (1) a narrow per-row signature
  * computation, then (2) ONE shuffle on a short signature/bucket key. No
  * all-pairs comparison ever happens — candidate generation is hash-bucket
  * equi-join (LSH bands / simhash bands), so cost is O(n) + per-bucket
  * pair expansion. Skewed buckets (boilerplate shingles) are the known
  * hazard: cap bucket size before pairing.
  */
object Dedup {

  /** Cap bucket membership BEFORE any collect_list: per-key row counts
    * via a window over the SAME partitioning the downstream agg uses —
    * one shared exchange, no extra shuffle — dropping every row of an
    * oversize bucket so it never reaches the agg buffer. Precisely:
    * the counting WINDOW still buffers the monster partition, but in a
    * SPILLABLE ExternalAppendOnlyUnsafeRowArray; what the cap prevents
    * is the partition reaching collect_list's NON-spillable agg buffer
    * (filtering after collect_list caps the pair expansion but OOMs on
    * the buffer first). Net: spill-to-disk worst case instead of OOM.
    * maxBucket <= 0 disables. Pass `obs` to observe `dropped_rows` /
    * `max_bucket` on the job that consumes the result — the recall
    * concession is measured, never silent (same contract as
    * [[simhashCandidates]]'s obs; same empty-stream AQE caveat). */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String],
                                maxBucket: Int,
                                obs: Option[org.apache.spark.sql.Observation]
                                  = None): DataFrame =
    if (maxBucket <= 0) df
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      val sized = df.withColumn("__bsz", count(lit(1)).over(w))
      obs.fold(sized)(o => sized.observe(o,
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L))
          .as("dropped_rows"),
        max(col("__bsz")).as("max_bucket")))
        .filter(col("__bsz") <= maxBucket).drop("__bsz")
    }

  // ---- exact ----

  /** Duplicated-span detection — the anchor-k-gram core of exact-
    * substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better": duplicated token spans, not just
    * duplicated documents, degrade training). A position is COVERED
    * when the k-gram starting there occurs >= `minCount` times
    * corpus-wide (within-doc repeats included); maximal runs of
    * covered positions are reported as spans. Any exactly-duplicated
    * substring of >= k tokens has every contained k-gram duplicated,
    * so every such duplicate lies inside a reported span (the
    * anchor-based overapproximation the suffix-array method refines).
    *
    * Output: (doc_id, start_tok, end_tok, span_len, n_grams) — token
    * offsets 0-based inclusive, one row per maximal span.
    *
    * Scale: positional k-grams are built per row (an O(n·k) lambda
    * over the token array, no self-join); occurrence counting is a
    * window over the gram's 16-byte md5 — the [[exactByContent]]
    * discipline, gram text never shuffles as a key — then one
    * doc-keyed window + agg for gaps-and-islands. Two linear
    * exchanges total; a boilerplate gram repeated 10^9 times is one
    * spilling count partition, not an OOM. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minCount: Int = 2): DataFrame = {
    require(k > 0 && minCount > 1,
      "k must be positive; minCount must be > 1")
    val bound = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("__w"))
    // grams(i) = tokens i..i+k-1 joined; empty array when n < k
    // (sequence(a, b) with a > b would DESCEND, not empty out)
    val grams = when(size(col("__w")) >= k,
      transform(sequence(lit(0), size(col("__w")) - k),
        i => concat_ws(" ", slice(col("__w"), i + 1, lit(k))))
    ).otherwise(array())
    val pos = bound.select(col("doc_id"),
      posexplode(grams).as(Seq("i", "gram")))
    val wGram = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("gram")))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    pos.withColumn("__n", count(lit(1)).over(wGram))
      .filter(col("__n") >= minCount)
      .withColumn("__grp", col("i") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("i")).cast("long").as("start_tok"),
        (max(col("i")) + k - 1).cast("long").as("end_tok"),
        (max(col("i")) - min(col("i")) + k).cast("long").as("span_len"),
        count(lit(1)).cast("long").as("n_grams"))
      .drop("__grp")
  }

  /** Exact-substring removal — the curation pass [[duplicateSpans]]
    * is the detector for: every token covered by a corpus-duplicated
    * k-gram is CUT (all copies — the ExactSubstr convention: if a
    * span exists twice, neither sighting is trustworthy boilerplate-
    * free content), and each document is reassembled from its
    * surviving tokens in order. Documents reduced to nothing are
    * dropped; text is rebuilt whitespace-normalized (tokens joined by
    * single spaces), consistent with [[TextOps.removeRepeatedBlocks]].
    *
    * Output: (doc_id, text, n_removed) — n_removed counts tokens cut.
    *
    * Scale: detection cost as in [[duplicateSpans]] (gram-md5 window,
    * no self-join); coverage expansion is a per-row sequence explode
    * bounded by doc length; the cut itself is a doc-and-position
    * keyed anti-join plus one doc-keyed agg — everything linear in
    * corpus tokens. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String,
                           textCol: String, k: Int = 8,
                           minCount: Int = 2): DataFrame = {
    require(k > 0 && minCount > 1,
      "k must be positive; minCount must be > 1")
    val bound = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("__w"))
    val grams = when(size(col("__w")) >= k,
      transform(sequence(lit(0), size(col("__w")) - k),
        i => concat_ws(" ", slice(col("__w"), i + 1, lit(k))))
    ).otherwise(array())
    val wGram = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("gram")))
    val covered = bound
      .select(col("doc_id"), posexplode(grams).as(Seq("i", "gram")))
      .withColumn("__n", count(lit(1)).over(wGram))
      .filter(col("__n") >= minCount)
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + k - 1)).as("p"))
      .distinct()
    val toks = bound.select(col("doc_id"),
      posexplode(col("__w")).as(Seq("p", "tok")))
    toks.join(covered.withColumn("__hit", lit(true)),
        Seq("doc_id", "p"), "left")
      .withColumn("__cut", coalesce(col("__hit"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(!col("__cut"), struct(col("p"), col("tok"))))),
          s => s.getField("tok"))).as("text"),
        sum(when(col("__cut"), 1L).otherwise(0L)).as("n_removed"))
      .filter(col("text") =!= "")
  }

  /** Exact dedup: group rows by content hash, keep the smallest id.
    * One hash-agg shuffle on a 128-bit key; at 100 TB the md5 shuffle key
    * is 16 bytes/row instead of the full text. */
  def exactByContent(df: DataFrame, idCol: String, textCol: String,
                     normalized: Boolean = false): DataFrame = {
    val content = if (normalized) TextOps.normalize(col(textCol)) else col(textCol)
    df.withColumn("content_hash", md5(content))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).cast("long").as("n_copies"))
  }

  // ---- shingles / MinHash + LSH ----

  /** Word n-gram shingles (distinct), the unit set for Jaccard. Native
    * one-pass loop (graft.functions.NativeExpressions.WordShingles);
    * [[shinglesCols]] is the pure-Column twin, proven identical in
    * TextSpec. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.NativeExpressions.word_shingles(text, n)

  /** Pure-Column twin of [[shingles]] — the executable spec. The token
    * array is bound once via a `transform` lambda variable, not
    * re-inlined per reference (higher-order lambdas re-evaluate inlined
    * subtrees on every iteration — a 30× slowdown measured at sf0.1);
    * greatest(size-n, 0) covers docs shorter than n tokens: the slice
    * just comes out shorter, yielding one partial shingle. */
  def shinglesCols(text: Column, n: Int): Column = {
    val ts = TextOps.tokens(text)
    array_distinct(transform(sequence(lit(0), greatest(size(ts) - n, lit(0))),
      i => array_join(slice(ts, i + 1, lit(n)), " ")))
  }

  /** MinHash signature: for each of `numHashes` seeded murmur3 hash
    * functions, the min over the shingle set. Native one-pass loop
    * (graft.functions.NativeExpressions.MinHashSignature) — the byte
    * hash per shingle is computed once and reseeded per hash function
    * with a single int-mix. [[minhashSignatureCols]] is the pure-Column
    * twin (bit-identical output, proven in TextSpec). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.NativeExpressions.minhash_signature(sh, numHashes)

  /** Pure-Column twin of [[minhashSignature]]: ONE fold over the shingle
    * array, hashing each shingle `numHashes` ways via the SQL
    * `hash(shingle, k)` and taking the element-wise min. Executable spec
    * of the signature semantics; interpreted lambdas make it ~10× the
    * native cost at sf0.1. */
  def minhashSignatureCols(sh: Column, numHashes: Int): Column =
    aggregate(sh,
      array_repeat(lit(Int.MaxValue), numHashes),
      (acc, s) => zip_with(acc,
        transform(sequence(lit(1), lit(numHashes)), seed => hash(s, seed)),
        (a, b) => least(a, b)))

  /** LSH banding: signature -> array of (bandIndex, bandHash) structs.
    * Two docs collide in a band iff their signature rows in that band are
    * identical — the standard (bands × rows) S-curve knob. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        hash(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket")))

  /** Candidate pairs via LSH: explode bands, ONE shuffle grouping each
    * (band, bucket) to its member list, expand pairs inside the bucket,
    * keep id1 < id2, distinct.
    *
    * Deliberately NOT a self-join: a self-join either recomputes the
    * signature subplan for the second side (AQE broadcast at small
    * scale — observed in the round-2 plan audit) or needs the banded
    * table persisted/checkpointed. The groupBy form computes signatures
    * exactly once, replaces the bucket-count window AND the join shuffle
    * with a single hash-agg shuffle on (band, bucket), and expands pairs
    * with codegen'd Generate operators — no lambdas, no second scan.
    *
    * `maxBucket` drops degenerate buckets (boilerplate-heavy corpora
    * produce huge buckets that would explode quadratically — the cap
    * bounds the per-bucket expansion at maxBucket² and the carried
    * member list at maxBucket × sig bytes; dropped buckets are
    * near-identical boilerplate better handled by exact dedup first).
    * The cap is enforced BEFORE collect_list ([[capBuckets]] — window
    * sharing the agg's exchange), so a monster bucket never reaches
    * the agg buffer.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                    maxBucket: Int = 1000): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(shingles(col(textCol), shingleN), numHashes).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
        explode(lshBands(col("sig"), bands, numHashes / bands)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bucket"))
    val buckets = capBuckets(banded, Seq("band", "bucket"), maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("items"))
      .filter(size(col("items")) >= 2)
    buckets
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        round(aggregate(
          zip_with(col("a.sig"), col("b.sig"), (x, y) => (x === y).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes, 6)
          .as("est_jaccard"))
      .dropDuplicates("id1", "id2")
  }

  /** Cross-corpus near-duplicate pairs (train/eval DECONTAMINATION): LSH
    * candidates restricted to pairs that span the two inputs, verified
    * with exact n-gram Jaccard. Same single-computation bucket shape as
    * [[lshCandidates]] — both corpora are signed once, unioned with a
    * side tag, bucketed in ONE shuffle; pair expansion keeps only
    * left×right pairs. Output: (left_id, right_id, jaccard ≥ threshold).
    * At 100 TB this is the standard "is my eval set leaking into
    * training data" sweep: cost is O(candidates), never |L|×|R|. */
  def crossCorpusNearDuplicates(left: DataFrame, right: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double, shingleN: Int = 3,
                                numHashes: Int = 32, bands: Int = 16,
                                maxBucket: Int = 1000): DataFrame = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(col(idCol).as("id"),
        shingles(col(textCol), shingleN).as("sh"),
        lit(tag).as("side"))
    val tagged = side(left, 0).unionByName(side(right, 1))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .withColumn("hs", hashedShingles(col("sh")))
    val banded = tagged.select(col("id"), col("side"), col("sh"), col("hs"),
        explode(lshBands(col("sig"), bands, numHashes / bands)).as("bk"))
      .select(col("id"), col("side"), col("sh"), col("hs"), col("bk.band"),
        col("bk.bucket"))
    capBuckets(banded, Seq("band", "bucket"), maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("side"), col("sh"),
        col("hs"))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.side") === 0 && col("b.side") === 1)
      // deterministic long-array screen (size-ratio bound + early-exit
      // sorted-hash merge walk) before the O(|a|+|b|) STRING set
      // verify — a sub-threshold boilerplate-clique pair (the
      // BENCH_SF1.md 30× regime) exits on long comparisons; cannot
      // drop a true pair (superset-safe, see [[screenPair]])
      .filter(screenPair(col("a.hs"), col("b.hs"), threshold))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"),
        round(jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("left_id", "right_id")
  }

  /** Bloom-pruned decontamination: same output as
    * [[crossCorpusNearDuplicates]], but the huge train side is first
    * cut down by a BROADCAST-SIZED bloom filter of the eval corpus's
    * shingles — the standard shape when eval is thousands of docs and
    * train is the 100 TB corpus: the LSH signature/bucket shuffle then
    * processes only train docs that can possibly matter, instead of
    * the whole corpus.
    *
    * Exactness: bloom false positives only let EXTRA docs through to
    * the exact LSH+Jaccard verify (which rejects them); false
    * negatives don't exist. The prune predicate is NOT "any shingle
    * hits" — per-shingle fpp compounds per doc (an ~m-shingle doc
    * with no true overlap survives with 1−(1−fpp)^m ≈ m·fpp, ~78% at
    * m=50, fpp=3%!). Instead it reuses the PPJoin overlap bound
    * (Xiao et al. WWW'08, same bound as [[jaccardSimilarityJoin]]):
    * J(a,b) ≥ θ ⟹ overlap ≥ ⌈θ/(1+θ)·(|a|+|b|)⌉ > θ/(1+θ)·|a|, and
    * every truly-shared shingle hits the bloom, so a qualifying train
    * doc ALWAYS counts ≥ ⌈θ/(1+θ)·|a|⌉ hits — requiring that many
    * keeps completeness, while a no-overlap doc now needs ~θ/(1+θ)·m
    * INDEPENDENT false positives at once (P ≈ Binom(m, fpp) tail —
    * negligible at any fpp). The bloom probes Spark's own
    * BloomFilterMightContain over xxhash64(shingle) — the exact
    * machinery AQE's runtime row-filters inject — with the filter
    * bytes inlined as a foldable literal, deserialized once per task.
    * The shingle array is bound ONCE via the transform-lambda trick
    * (see [[TextOps.curationKeep]]): hit-count and size share one
    * evaluation, no per-reference re-shingling. */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String, threshold: Double,
                         shingleN: Int = 3, numHashes: Int = 32,
                         bands: Int = 16, maxBucket: Int = 1000,
                         expectedShingles: Long = -1L,
                         fpp: Double = 0.03): DataFrame =
    crossCorpusNearDuplicates(
      bloomPrune(train, evalSet, textCol, threshold, shingleN,
        expectedShingles, fpp),
      evalSet, idCol, textCol, threshold, shingleN, numHashes, bands,
      maxBucket)

  /** Exact n-gram CONTAINMENT contamination (the GPT-3-style 13-gram
    * sweep): a train doc is contaminated iff any of its word n-grams
    * appears verbatim anywhere in the eval corpus. The complement of
    * [[crossCorpusNearDuplicates]]: containment catches a quote of one
    * eval passage embedded in an otherwise-unrelated train doc, which
    * whole-doc Jaccard dilutes below any threshold. Output:
    * (train_id, n_shared_grams) — distinct train-doc grams found in
    * eval, the triage-ranking signal.
    *
    * Scale: explode both sides to (id, gram), distinct the eval side
    * (it's the small corpus), one equi-join shuffle keyed on the gram
    * string, one hash agg on train id. No pairwise doc×doc expansion
    * exists at any point — cost is O(total grams), and AQE broadcasts
    * the deduped eval grams when they fit. Compose with [[bloomPrune]]
    * first when even exploding the full train side is too much. */
  def containedNgrams(train: DataFrame, evalSet: DataFrame, idCol: String,
                      textCol: String, n: Int = 13): DataFrame = {
    def grams(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("gram"))
    grams(train)
      .join(grams(evalSet).select("gram").distinct(), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .select(col("id").as("train_id"), col("n_shared_grams"))
  }

  /** EXACT containment-similarity join: ordered pairs (a, b), a ≠ b,
    * with c(a,b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ θ — "≥ θ of a's grams
    * appear in b". The ASYMMETRIC complement of
    * [[jaccardSimilarityJoin]]: whole-doc Jaccard dilutes a short doc
    * quoted inside a long one below any threshold, while containment
    * flags exactly that subset-duplicate (wrapper pages, quote farms,
    * chunk-of-another-doc leakage) — [[containedNgrams]]'s
    * train-vs-eval question asked of the corpus against itself.
    *
    * Prefix filter (pigeonhole, one-sided): c(a,b) ≥ θ needs
    * |∩| ≥ ⌈θ·|a|⌉, which cannot hide entirely in a's suffix of
    * ⌈θ·|a|⌉ − 1 tokens under the global rarest-first canonical order
    * — so the CONTAINED side indexes only its |a| − ⌈θ·|a|⌉ + 1
    * prefix tokens while the containing side indexes everything (no
    * bound exists on b). Candidates = prefix ⋈ all on the token,
    * pre-pruned by |b| ≥ θ·|a| (|∩| ≤ |b|); verify is the native
    * string-exact intersect on the full sets. Float boundaries carry
    * the same conservative 1e-9 slack as the Jaccard join.
    *
    * Scale: the b-side indexes every token, so a frequent token's
    * bucket is corpus-frequency-sized — but a-prefixes are rarest-
    * first and rarely touch those buckets; like every similarity
    * join here the cost floor is Ω(output) (a corpus of N copies of
    * one template has N² qualifying ordered pairs — the answer, not
    * the plan). */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val eps = 1e-9
    val sh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    val tok = sh.select(col("id"), size(col("sh")).as("len"),
      explode(col("sh")).as("t"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("t"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("tdf"), col("t"))
    val ranked = tok
      .withColumn("tdf", count(lit(1)).over(wTok))
      .withColumn("pos", row_number().over(wDoc))
    val aPrefix = ranked
      .filter(col("pos") <=
        col("len") - ceil(lit(threshold) * col("len") - eps) + 1)
      .select(col("t"), col("id").as("id_a"), col("len").as("len_a"))
    val bAll = ranked.select(col("t"), col("id").as("id_b"),
      col("len").as("len_b"))
    val cands = aPrefix.join(bAll, Seq("t"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("len_b").cast("double") >=
        lit(threshold) * col("len_a") - eps)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sa")),
        Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("__sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.NativeExpressions
          .intersect_size(col("__sa"), col("__sb")).cast("double") /
          size(col("__sa"))).as("__c"))
      .filter(col("__c") >= lit(threshold) - eps)
      .select(col("id_a"), col("id_b"),
        round(col("__c"), 6).as("containment"))
  }

  /** Cross-source n-gram overlap matrix: for every unordered pair of
    * corpus sources, the number of DISTINCT word n-grams they share
    * and the overlap coefficient shared/min(|A|,|B|) — the
    * corpus-composition audit run before mixing sources into a
    * training set (a high off-diagonal means two "different" sources
    * are substantially the same crawl, double-weighting their
    * content; the same lens the decontamination ops point at
    * train-vs-eval, turned on the training mix itself).
    *
    * Scale: explode to (source, gram), distinct on the 16-byte md5 of
    * the gram (the exactByContent shuffle-key discipline — the gram
    * string never keys an exchange), then a hash-keyed self-join
    * whose per-gram fan-out is bounded by C(#sources, 2) — a
    * boilerplate gram in every source costs |S|² rows, never
    * corpus². Totals are a |S|-row broadcast. */
  def overlapMatrix(docs: DataFrame, groupCol: String, textCol: String,
                    n: Int = 8): DataFrame = {
    val g = docs
      .select(col(groupCol).as("__g"),
        explode(shingles(col(textCol), n)).as("__gram"))
      .select(col("__g"), md5(col("__gram")).as("__h"))
      .distinct()
    val tot = g.groupBy(col("__g")).agg(count(lit(1)).as("__t"))
    val shared = g.select(col("__h"), col("__g").as("source_a"))
      .join(g.select(col("__h"), col("__g").as("source_b")), Seq("__h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(broadcast(tot.select(col("__g").as("source_a"),
        col("__t").as("__ta"))), Seq("source_a"))
      .join(broadcast(tot.select(col("__g").as("source_b"),
        col("__t").as("__tb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          least(col("__ta"), col("__tb")).cast("double"), 6)
          .as("overlap_coef"))
  }

  /** Per-document novelty — the leave-one-out diversity audit: for
    * each doc, the fraction of its DISTINCT word n-grams that appear
    * in NO other document (novelty 1 = wholly original text, → 0 =
    * assembled from corpus boilerplate). The per-doc complement of
    * [[overlapMatrix]]'s per-source view, and the ranking signal a
    * self-BLEU-style diversity report reads: sort ascending and the
    * top of the list is the template spam.
    *
    * Scale: distinct (doc, gram) on the 16-byte md5 key, then the
    * gram's document frequency as a COUNT OVER the gram partition —
    * sharing the one gram-keyed exchange (no join back) — and one
    * doc-keyed agg. A boilerplate gram in every doc is one hot
    * partition whose count spills; nothing is all-pairs. */
  def docNovelty(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 8): DataFrame = {
    val g = docs
      .select(col(idCol).as("__id"),
        explode(shingles(col(textCol), n)).as("__gram"))
      .select(col("__id"), md5(col("__gram")).as("__h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    g.withColumn("__df", count(lit(1)).over(w))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("__id").as(idCol), col("n_grams"), col("n_shared"),
        round(lit(1.0) - col("n_shared").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
  }

  /** The prune stage of [[decontaminateBloom]], exposed for its spec:
    * train rows whose bloom hit-count reaches the overlap bound.
    * `expectedShingles <= 0` sizes the bloom from the eval side's
    * ACTUAL shingle count (one cheap narrow agg over the SMALL corpus;
    * the raw count upper-bounds the distinct count, so the realized
    * fpp only improves): a fixed guess oversized 10-100× inflates the
    * filter literal the plan ships to every task — measured 0.9 MB at
    * a 1M guess vs 60 KB right-sized at sf0.1, with the whole
    * difference paid in per-task deserialization and cache misses on
    * every might_contain probe. */
  private[graft] def bloomPrune(train: DataFrame, evalSet: DataFrame,
                                textCol: String, threshold: Double,
                                shingleN: Int, expectedShingles: Long,
                                fpp: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val eps = 1e-9
    val evalHashes = evalSet
      .select(explode(shingles(col(textCol), shingleN)).as("s"))
      .select(xxhash64(col("s")).as("h"))
    val sized =
      if (expectedShingles > 0) expectedShingles
      else math.max(64L, evalHashes.count())
    val bf = evalHashes.stat.bloomFilter("h", sized, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    def hit(s: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes,
          org.apache.spark.sql.types.BinaryType),
        expression(xxhash64(s))))
    val keep = element_at(transform(array(shingles(col(textCol), shingleN)),
      sh => size(filter(sh, s => hit(s))) >=
        greatest(lit(1L),
          ceil(lit(threshold / (1 + threshold)) * size(sh) - eps))), 1)
    train.filter(keep)
  }

  /** Duplicate-cluster assignment: connected components over a pair
    * edge list (the output of [[nearDuplicates]] / [[simhashCandidates]]),
    * returning (id, cluster_id) with cluster_id = the MIN member id —
    * the canonical "keep" document per cluster.
    *
    * Min-label propagation with POINTER JUMPING: each round (a) joins
    * labels one hop across edges and keeps the element-wise min, then
    * (b) lets every id adopt its current cluster's own label (labels
    * are member ids, so the label table doubles as the parent map) —
    * label depth roughly halves per round, so convergence is
    * O(log diameter) rounds (plain one-hop propagation is O(diameter):
    * a 10k-long chain would need 10k rounds). Each round is two
    * shuffle joins + a hash agg on id; [[graft.ops.Iterate.loop]]
    * pins each round's labels so round k does not replan rounds
    * 1..k-1 — the standard Spark shape for fixpoint algorithms
    * without dragging in GraphX. The driver only ever sees the
    * convergence COUNT (one long), never the data.
    *
    * Throws IllegalStateException if `maxIters` rounds don't converge
    * (2^maxIters ≳ component diameter is unreachable in practice) —
    * silently returning partially-merged cluster ids would corrupt
    * every downstream canonical-keep decision. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // materialize the (possibly expensive) pair generation ONCE — edges,
    // the label seed, and every propagation round all read it
    val p = Iterate.pin(pairs.select(col("id1"), col("id2")))
    val edges = p.union(p.select(col("id2").as("id1"), col("id1").as("id2")))
    val labels0 = Iterate.pin(p.select(col("id1").as("id"))
      .union(p.select(col("id2").as("id")))
      .distinct()
      .withColumn("cluster_id", col("id")))
    val idType = labels0.schema("cluster_id").dataType
    // from round 2 on the state also carries __prev, which every
    // read below ignores (each selects its columns by name)
    val (labels, converged) = Iterate.loop(labels0, maxIters) { (labels, _) =>
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "id2"), Seq("id2"))
        .select(col("id1").as("id"), col("cluster_id"),
          lit(null).cast(idType).as("__prev"))
      // the round CARRIES each id's previous label beside the new one
      // (max ignores the edge rows' null __prev; every id has exactly
      // one labels row, so __prev is its old label) — the convergence
      // test below is then a filter over the already-pinned round
      // result instead of a join+shuffle back against `labels`
      // (r21 opt, guide §2.4: one exchange pair less per round)
      // pinned: hop is read twice below (as itself and as the parent
      // map) — without it the join+agg subplan would run twice
      val hop = Iterate.pin(labels
        .select(col("id"), col("cluster_id"),
          col("cluster_id").as("__prev"))
        .unionByName(viaEdges)
        .groupBy(col("id"))
        .agg(min(col("cluster_id")).as("cluster_id"),
          max(col("__prev")).as("__prev")))
      // pointer jump: adopt the label OF my label (always present —
      // labels are ids of the same table; left join defends anyway)
      val parents = hop.select(col("id").as("cluster_id"),
        col("cluster_id").as("__parent"))
      val next = hop.join(parents, Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"),
            coalesce(col("__parent"), col("cluster_id"))).as("cluster_id"),
          col("__prev"))
      // scan of the just-pinned blocks — no join, no shuffle.
      // Invariant: every edge endpoint has a `labels` row, because the
      // seed above unions BOTH pair sides (id1 and id2). An id reached
      // only through viaEdges would carry a null __prev, read as
      // "changed" every round, and end in the non-convergence throw.
      Iterate.Next(next, next =>
        next.filter(!(col("cluster_id") <=> col("__prev"))).count() == 0)
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIters rounds — " +
        "component diameter exceeds 2^maxIters? raise maxIters")
    labels.drop("__prev")
  }

  /** EXACT all-pairs n-gram Jaccard similarity join via prefix
    * filtering (the AllPairs/PPJoin family from the published
    * set-similarity-join literature — Bayardo et al. WWW'07, Xiao et
    * al. WWW'08). Unlike [[nearDuplicates]] (LSH candidates —
    * probabilistic recall), every pair with jaccard ≥ threshold is
    * GUARANTEED in the output: the only pruning is the pigeonhole
    * prefix filter, which cannot drop a qualifying pair.
    *
    * Shape (no self-join — single shingle computation, like
    * [[lshCandidates]]):
    *  1. shingle sets once; explode to (id, len, token).
    *  2. global document frequency per token via a count window over
    *     partitionBy(token) — shares no scan with a second branch, so
    *     the corpus is shingled exactly once.
    *  3. canonical token order = (df asc, token asc) — rarest first,
    *     the ordering that makes prefixes selective; per-doc position
    *     via row_number over partitionBy(id).
    *  4. PREFIX filter: a doc of len L keeps its first
    *     L − ⌈θL⌉ + 1 tokens. Pigeonhole: if J(a,b) ≥ θ then
    *     |a∩b| ≥ θ·max(|a|,|b|), so the intersection cannot hide
    *     entirely in either doc's suffix of ⌈θL⌉−1 tokens — some
    *     shared token sits in BOTH prefixes (the canonical order is
    *     global, so "first" is consistent across docs).
    *  5. candidates = docs sharing a prefix token (groupBy token →
    *     pair expansion, id1 < id2), pre-pruned by the LENGTH filter
    *     min(|a|,|b|) ≥ θ·max(|a|,|b|) (J ≤ min/max).
    *  6. verify exact Jaccard on the full sets (join by id — shuffles
    *     candidates only).
    * Both float-vs-exact boundaries are slacked by 1e-9 TOWARD keeping
    * candidates (double 0.4×10 can land an ulp above the exact 4.0,
    * and ceil/compare at the wrong side of that ulp would silently
    * break the completeness guarantee — epsilon makes float error
    * strictly conservative).
    *
    * Scale: three shuffles (token-df window, per-doc position window,
    * candidate groupBy) + the candidate verify join — never |n|².
    *
    * COST CONTRACT — Ω(output), by construction: a similarity join
    * must at minimum emit every qualifying pair, so on a pair-dense
    * corpus (boilerplate cliques, templated docs: a k-clique is k²/2
    * pairs) total cost grows with the PAIR count even though scan cost
    * stays linear — wall-clock "super-linear in rows" there is the
    * output's fault, not the plan's. Measured at the 30× sweep
    * (BENCH_SF1.md): per OUTPUT pair the cost improved 9.2 → 2.8
    * ms/pair while total time grew with the quadratic pair volume —
    * normalize per pair before concluding the operator regressed. The
    * knob for such corpora is `maxTokenBucket` (> 0 enables, off by
    * default because it FORFEITS the exactness guarantee): frequent
    * tokens sort to suffix positions and rarely enter prefixes, and
    * the cap additionally drops any token's candidate bucket larger
    * than the cap — the same documented recall concession as
    * [[simhashCandidates]]'s maxBucket. Pass `obs` to observe
    * `dropped_rows` / `max_bucket` on the consuming job so the
    * concession is measured, never silent. */
  def jaccardSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleN: Int = 3,
                            maxTokenBucket: Int = 0,
                            obs: Option[org.apache.spark.sql.Observation]
                              = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val eps = 1e-9
    val sh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
      .withColumn("hs", hashedShingles(col("sh")))
    val tok = sh.select(col("id"), size(col("sh")).as("len"),
      explode(col("sh")).as("t"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("t"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("tdf"), col("t"))
    val prefix = tok
      .withColumn("tdf", count(lit(1)).over(wTok))
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <=
        col("len") - ceil(lit(threshold) * col("len") - eps) + 1)
      .select(col("t"), col("id"), col("len"), col("pos"))
    // POSITIONAL filter (PPJoin, Xiao et al. WWW'08): J(a,b) ≥ θ ⟺
    // overlap ≥ α = ⌈θ/(1+θ)·(|a|+|b|)⌉. The canonical order is global,
    // so for the FIRST shared token — at positions (p1, p2) — nothing
    // before it in either doc is shared, hence
    // overlap ≤ 1 + min(l1−p1, l2−p2). A pair whose first-shared-token
    // row fails this bound cannot qualify; rows for LATER shared tokens
    // only ever have smaller suffixes, so filtering per row then
    // deduping keeps exactly the pairs whose first shared row passes —
    // completeness is preserved (the first shared token of a qualifying
    // pair is in both prefixes by the prefix-filter guarantee). Cuts
    // verify-stage candidates ~2× at sf0.1 measured.
    val cands = capBuckets(prefix, Seq("t"), maxTokenBucket, obs)
      .groupBy(col("t"))
      .agg(collect_list(struct(col("id"), col("len"), col("pos")))
        .as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(least(col("a.len"), col("b.len")).cast("double") >=
        lit(threshold) * greatest(col("a.len"), col("b.len")) - eps)
      .filter(lit(1) +
        least(col("a.len") - col("a.pos"), col("b.len") - col("b.pos")) >=
        ceil(lit(threshold / (1 + threshold)) *
          (col("a.len") + col("b.len")) - eps))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    stagedVerify(cands, sh, threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** STAGED candidate verification — the only join topology that
    * survives data-driven candidate volume (boilerplate cliques make
    * it unbounded; Catalyst's static size estimate above explode+dedup
    * is pre-explosion garbage, so left alone the planner BROADCASTS
    * the multi-GB candidate set — a statically-planned
    * BroadcastExchange executes as planned, AQE only demotes joins it
    * planned as SMJ; observed as a driver maxResultSize abort at the
    * 100× sweep. Forcing plain shuffled verify joins instead
    * materializes pairs × STRING-ARRAY payload into the second join's
    * shuffle — observed as a disk-exhaustion abort at the 30× sweep):
    *
    *  1. candidate ids join the compact SCREEN key only — `hs`, the
    *     sorted hash projection, ~3× smaller than the shingle strings —
    *     through two shuffle_hash joins (never broadcast: the volume
    *     is the unknowable one), and [[screenPair]] drops every
    *     provably-sub-threshold pair on long comparisons;
    *  2. SURVIVORS — output-bounded, ≈ the true pairs — broadcast into
    *     the string-side joins for the exact verify, so the corpus's
    *     string arrays are scanned but never shuffled, and the full
    *     payload exists only for pairs that are (almost all) real.
    *
    * A query whose OUTPUT approaches driver memory is malformed at any
    * engine — that is the contract behind broadcasting the survivors.
    * `sh` must carry (id, sh, hs). `roundedCompare` selects whether the
    * final threshold test runs on round(J, 6) ([[nearDuplicates]]'s
    * contract) or the unrounded value ([[jaccardSimilarityJoin]]'s). */
  private def stagedVerify(cands: DataFrame, sh: DataFrame,
                           threshold: Double,
                           roundedCompare: Boolean = false): DataFrame = {
    val survivors = cands.hint("shuffle_hash")
      .join(sh.select(col("id").as("id1"), col("hs").as("hs1"))
        .hint("shuffle_hash"), Seq("id1"))
      .join(sh.select(col("id").as("id2"), col("hs").as("hs2"))
        .hint("shuffle_hash"), Seq("id2"))
      // superset-safe long-array screen: cannot drop a true pair
      .filter(screenPair(col("hs1"), col("hs2"), threshold))
      .select("id1", "id2")
    broadcast(survivors)
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("__j", jaccard(col("sh1"), col("sh2")))
      .withColumn("jaccard", round(col("__j"), 6))
      .filter(if (roundedCompare) col("jaccard") >= threshold
              else col("__j") >= threshold)
  }

  /** Exact Jaccard for a pair of shingle SETS (arrays must be
    * duplicate-free, as [[shingles]] guarantees): |a∪b| is derived as
    * |a|+|b|−|a∩b|, so the pair costs ONE set pass plus two O(1) sizes
    * instead of the naive intersect + 2×union (the union guard and the
    * denominator). The intersection count is the native
    * [[graft.functions.NativeExpressions.IntersectSize]] — Spark's own
    * ArrayIntersect takes its fast hash-set path only for PRIMITIVE
    * element types and falls back to an O(m·n) interpreted-equality
    * scan on string arrays, which made this the most expensive stage
    * of [[jaccardSimilarityJoin]]'s verify join. Division is the same
    * int/int → double as size(intersect)/size(union), so results are
    * bit-identical to the SQL-oracle form (twin-pinned vs
    * size(array_intersect) in PropertySpec). */
  def jaccard(a: Column, b: Column): Column = {
    // bind the intersection count ONCE as a transform-lambda variable:
    // written naively, the when/otherwise tree references it twice and
    // (CodegenFallback ⇒ no codegen CSE) evaluates the hash-set pass
    // twice per operator — the same re-evaluation hazard as
    // TextOps.curationKeep, halved by the same trick
    element_at(transform(
      array(graft.functions.NativeExpressions.intersect_size(a, b)),
      c => {
        val u = size(a) + size(b) - c
        when(u === 0, lit(0.0)).otherwise(c.cast("double") / u)
      }), 1)
  }

  /** Sorted xxhash64 projection of a shingle array: the long-array key
    * for the [[graft.functions.NativeExpressions.SortedJaccardGe]]
    * screen. Computed once per doc (narrow), O(m log m). The projection
    * is superset-safe: a 64-bit collision only MERGES values, so the
    * hashed multiset Jaccard ≥ the string-set Jaccard and a screen
    * rejection can never hide a qualifying pair. */
  private[graft] def hashedShingles(sh: Column): Column =
    array_sort(transform(sh, s => xxhash64(s)))

  /** Slack subtracted from the screen threshold: the FINAL filter
    * compares round(J, 6) ≥ θ, which admits J ≥ θ − 5e-7; screening at
    * unrounded θ could drop exactly those boundary pairs. 1e-6 covers
    * the half-up boundary; over-admission is decided by the exact
    * verify. */
  private val RoundSlack = 1e-6

  /** Long-array screen before a string-exact Jaccard verify: O(1)
    * size-ratio bound (J ≥ θ ⟹ min/max sizes ≥ θ), then the early-exit
    * merge walk over the sorted hash arrays. Both deterministic and
    * superset-safe — a far-below-threshold pair (boilerplate-clique
    * regime, BENCH_SF1.md) is rejected on long comparisons without ever
    * paying the string hash-set pass. */
  private def screenPair(hs1: Column, hs2: Column,
                         threshold: Double): Column =
    // the size-ratio bound carries the SAME slack as the sorted screen:
    // the final compare admits round(J,6) >= θ i.e. J >= θ − 5e-7, and
    // J ≥ θ' ⟹ min/max sizes ≥ θ', so screening sizes at unslacked θ
    // could drop exactly the boundary pairs the rounded verify admits
    (size(hs1) * lit(1.0) >= size(hs2) * (threshold - RoundSlack)) &&
      (size(hs2) * lit(1.0) >= size(hs1) * (threshold - RoundSlack)) &&
      graft.functions.NativeExpressions.sorted_jaccard_ge(
        hs1, hs2, threshold - RoundSlack)

  /** [[lshCandidates]] WITHOUT the est_jaccard readout — the candidate
    * stage [[nearDuplicates]] actually consumes. The sibling carries
    * the full minhash signature (numHashes ints ≈ 10× the id) through
    * the (band, bucket) exchange and the collect_list buffer on every
    * banded row, only so est_jaccard can be computed per pair — which
    * nearDuplicates immediately drops (its verify is exact Jaccard).
    * Catalyst cannot prune a field out of an AGGREGATE's collect_list
    * buffer, so the trim must happen at the source: items here are
    * bare ids (guide §2.3 — shuffle keys and metadata, not payloads).
    * Same banding, same cap, same pair expansion: the pair SET is
    * identical to lshCandidates' by construction. */
  private def lshCandidatePairs(df: DataFrame, idCol: String,
                                textCol: String, shingleN: Int,
                                numHashes: Int, bands: Int,
                                maxBucket: Int = 1000): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(shingles(col(textCol), shingleN), numHashes).as("sig"))
    val banded = sig.select(col("id"),
        explode(lshBands(col("sig"), bands, numHashes / bands)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    capBuckets(banded, Seq("band", "bucket"), maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(col("items")).as("id1"), col("items"))
      .select(col("id1"), explode(col("items")).as("id2"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
  }

  /** Near-dup pipeline: LSH candidates verified with exact Jaccard ≥
    * threshold. The verify join re-attaches shingle sets by id (shuffle on
    * id — small, candidates only), screened by [[screenPair]] before the
    * string-exact pass. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double, shingleN: Int = 3,
                     numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, textCol, shingleN, numHashes,
      bands)
    verifyCandidatePairs(cands, df, idCol, textCol, threshold, shingleN)
  }

  /** Verify externally-produced candidate pairs (id1, id2) with exact
    * n-gram Jaccard against the corpus — [[nearDuplicates]]'s verify
    * stage (screen + staged broadcast of survivors) exposed for
    * candidate tiers that live elsewhere, e.g. the STREAMING
    * band-bucket accumulator
    * ([[graft.streaming.EventStreams.nearDupCandidatesStream]]). Same
    * plan discipline: candidates join compact hash keys shuffle_hash,
    * only output-bounded survivors broadcast into the string verify. */
  def verifyCandidatePairs(cands: DataFrame, df: DataFrame, idCol: String,
                           textCol: String, threshold: Double,
                           shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
      .withColumn("hs", hashedShingles(col("sh")))
    stagedVerify(cands.select("id1", "id2"), sh, threshold,
      roundedCompare = true)
      .select("id1", "id2", "jaccard")
  }

  // ---- SimHash ----

  /** Number of signal bits in the portable simhash (two 31-bit hashes). */
  val SimhashBits = 62

  /** 62-bit portable SimHash over tokens: per-bit ±1 vote of two 31-bit
    * polynomial token hashes, sign of the vote sets the bit. Near-dups
    * have small Hamming distance. Native one-pass loop; the polynomial
    * hash is engine-independent (no murmur3/xxhash64), so a SQL oracle
    * recomputes the identical value — see SparkEntry.oracleSql
    * `t_simhash`. [[portableSimhashCols]] is the pure-Column twin. */
  def simhash(text: Column): Column =
    graft.functions.NativeExpressions.portable_simhash(TextOps.tokens(text))

  /** Pure-Column twin of
    * [[graft.functions.NativeExpressions.PolyHashSet]] — the executable
    * spec (same per-char fold as [[portableSimhashCols]]; interpreted:
    * fixture-scale only). */
  def polyHashedShinglesCols(sh: Column): Column =
    array_sort(array_distinct(transform(sh, s =>
      aggregate(split(s, ""), lit(0L),
        (acc, c) => (acc * 31L + ascii(c)) % 2147483647L))))

  /** Pure-Column twin of [[simhash]] — the executable spec. Interpreted
    * per-character lambdas: fixture-scale only. */
  def portableSimhashCols(text: Column): Column = {
    def polyHash(t: Column, mult: Long): Column =
      aggregate(split(t, ""), lit(0L),
        (acc, c) => (acc * mult + ascii(c)) % 2147483647L)
    val hs = transform(TextOps.tokens(text),
      t => array(polyHash(t, 31L), polyHash(t, 131L)))
    val bitvals = transform(sequence(lit(0), lit(30)), j => {
      def vote(idx: Int): Column = aggregate(hs, lit(0L), (acc, h) =>
        acc + call_function("shiftright", h.getItem(idx), j.cast("int"))
          .bitwiseAND(1L) * 2L - 1L)
      when(vote(0) > 0, call_function("shiftleft", lit(1L), j.cast("int")))
        .otherwise(0L)
        .bitwiseOR(
          when(vote(1) > 0,
            call_function("shiftleft", lit(1L), (j + 31).cast("int")))
            .otherwise(0L))
    })
    aggregate(bitvals, lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup candidates with a RECALL GUARANTEE and a
    * SCALE-SAFE keyspace (Manku-style block permutations, from the
    * published simhash web-dedup design).
    *
    * The 62-bit hash splits into `blocks` (= m) contiguous chunks; a
    * hash table exists for every combination of (m - maxHamming) chunks,
    * its key the concatenation of those chunk values. Pigeonhole: ≤
    * maxHamming differing bits touch ≤ maxHamming chunks, so at least
    * m - maxHamming chunks are identical — SOME table keys the pair
    * together. No pair within the radius is ever missed, while the key
    * is (m-maxHamming)/m of the full hash (vs 1/(maxHamming+1) for
    * single-chunk banding): at maxHamming=3, blocks=5 the keys are
    * 24-26 bits wide instead of ~16 — at 10⁹ docs a random key bucket
    * holds ~30 docs, not ~15k, so neither the collect_list buffer nor
    * the in-bucket pair expansion blows up on pigeonhole density alone.
    * blocks = maxHamming+1 degenerates to classic single-chunk banding.
    *
    * `maxBucket` (> 0 enables) bounds the damage from corpora that are
    * GENUINELY dense near one hash (boilerplate, near-empty token sets):
    * bucket sizes are counted with a window over the same (band, key)
    * partitioning BEFORE collect_list — oversize buckets never reach the
    * agg buffer — and their rows are dropped, a documented RECALL
    * concession for pathological density (such docs are better handled
    * by exact/normalized dedup upstream). Pass `obs` to observe
    * `dropped_rows` / `max_bucket` on the job that consumes the result —
    * recall loss is measured, never silent. (Caveat, observed under
    * test: if the cap empties the WHOLE stream, AQE's empty-relation
    * propagation can elide the metrics node and `obs` reports no
    * metrics — any surviving bucket keeps them intact.)
    *
    * Cost shape: one narrow simhash pass, one shuffle on (band, key)
    * (the window and the groupBy share it), C(m, m-maxHamming) × n
    * exploded rows (10n at the defaults). */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, blocks: Int = 0,
                        maxBucket: Int = 100000,
                        obs: Option[org.apache.spark.sql.Observation] = None)
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimhashBits,
      s"maxHamming must be in [0, $SimhashBits)")
    val m = if (blocks > 0) blocks else math.min(maxHamming + 2, SimhashBits)
    require(m > maxHamming && m <= SimhashBits,
      s"blocks must be in (maxHamming, $SimhashBits]")
    val matchBlocks = m - maxHamming
    // C(m, matchBlocks) hash tables are materialized as a driver-side
    // expression sequence AND explode the input that many times — an
    // adversarial (blocks, maxHamming) pair (e.g. 40, 20) is ~10^11
    // tables, hanging the driver before any execution (ADVICE r3).
    // 512 tables ≈ 512× row expansion, already far beyond any sane
    // recall/cost trade — fail fast with the arithmetic spelled out.
    // via the symmetric small side (C(m,k) = C(m,m-k)): partials C(m,j)
    // are then monotonically increasing, so the early exit is sound and
    // nothing overflows before tripping the cap
    val kSmall = math.min(matchBlocks, maxHamming)
    var nTables = 1L
    var ci = 0
    while (ci < kSmall && nTables <= 512) {
      nTables = nTables * (m - ci) / (ci + 1)
      ci += 1
    }
    require(nTables <= 512,
      s"C($m, $matchBlocks) > 512 hash tables — the band explosion " +
        "multiplies the input that many times; pick blocks/maxHamming " +
        "so C(blocks, blocks-maxHamming) <= 512")
    // chunk b covers bits [lo(b), lo(b)+width(b)): first `rem` chunks one
    // bit wider so all 62 bits are covered
    val baseW = SimhashBits / m
    val rem = SimhashBits % m
    val widths = (0 until m).map(b => if (b < rem) baseW + 1 else baseW)
    val los = widths.scanLeft(0)(_ + _)
    def chunk(b: Int): Column =
      call_function("shiftright", col("sh"), lit(los(b)))
        .bitwiseAND((1L << widths(b)) - 1L)
    val sh = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    // one table per combination; key = exact bit-packed concatenation of
    // the combination's chunks (total ≤ 62 bits, always fits a long)
    val bandStructs = (0 until m).combinations(matchBlocks).zipWithIndex.map {
      case (combo, ci) =>
        val key = combo.foldLeft(lit(0L)) { (acc, b) =>
          call_function("shiftleft", acc, lit(widths(b))).bitwiseOR(chunk(b))
        }
        struct(lit(ci).as("band"), key.as("key"))
    }.toSeq
    val banded = sh.select(col("id"), col("sh"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.band"), col("bk.key"))
    // Same single-computation shape as lshCandidates: no self-join, so
    // the simhash subplan is never recomputed; the bucket-size window
    // and the collect_list groupBy share ONE (band, key) exchange.
    val capped = if (maxBucket > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("key"))
      val sized = banded.withColumn("__bsz", count(lit(1)).over(w))
      obs.fold(sized)(o => sized.observe(o,
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
        max(col("__bsz")).as("max_bucket")))
        .filter(col("__bsz") <= maxBucket).drop("__bsz")
    } else banded
    capped
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("id"), col("sh"))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hammingDistance(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
