package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Regenerate PLANS.md: formatted physical plans of the representative
  * queries, the artifact backing the scale claims (pushdown, pruning,
  * broadcast choice, single-computation LSH, exchange counts).
  * Usage: runMain graft.tools.PlanDump [sfDir] */
object PlanDump {

  val picks: Seq[(String, String)] = Seq(
    "q1_agg" -> "hash agg with exact decimal sums; partial+final",
    "p8_filter_ts_range" -> "timestamp filter pushed to the parquet scan",
    "j1_join_dims" -> "star join: dims broadcast, fact never shuffles",
    "j8_asof" -> "as-of join as union+LOCF: ONE exchange on the key",
    "j9_range" -> "interval join as binned equi-join, no nested loop",
    "t_minhash_lsh" -> "LSH: one signature computation, one scan, bucket agg",
    "t_pack_chunks" -> "sharded running-sum packing: no global sort",
    "e_semantic_neardup" ->
      "SRP near-dup: ONE native srpbuckets eval, bucket agg, verify filter",
    "t_simhash" -> ("simhash block permutations: bucket-size window and " +
      "collect_list agg share one (band, key) exchange"),
    "a9_histogram" -> "histogram-as-data: one partial+final hash agg",
    "e_ivf_topk" -> ("IVF ANN at nlist=256: native broadcast-argmax cell " +
      "filter, narrow scan, TakeOrdered"),
    "e_ivf_indexed" -> ("persisted IVF index: probed-cell PartitionFilters " +
      "prune the hive layout at file-listing time"),
    "j_bucketed_3way" -> ("bucketed 3-table assembly: join AND rollup reuse " +
      "write-time co-location — zero fact-side exchanges"),
    "f_json_multi" -> "multi-field JSON extraction: ONE from_json parse",
    "t_jaccard_join" -> ("exact Jaccard join: prefix+positional filter " +
      "candidates, native intersect-size verify — never |n|²"),
    "t_mix_domains" -> ("domain mixing: hierarchical sharded running sum — " +
      "tiny offsets side broadcast, no whole-domain window"),
    "t_decontaminate_bloom" -> ("bloom-pruned decontamination: hit-count " +
      "prune feeds the LSH shuffle only surviving train docs"),
    "w7_rolling" -> ("rolling features: row frame AND time-range frame " +
      "run off ONE exchange+sort on the key"),
    "a13_winsorize" -> ("winsorize: groups-sized percentile bounds " +
      "broadcast back — the fact side is never shuffled"),
    "e_ivf_knn_join" -> ("batch IVF k-NN join: narrow native probe " +
      "explode, ONE cell-keyed equi-join, per-query top-k window"),
    "w9_time_weighted" -> ("time-weighted average: lead window and " +
      "final agg share one key exchange"),
    "e_ivf_knn_indexed" -> ("indexed batch IVF k-NN: probed cells prune " +
      "the persisted hive layout; no re-assignment of the corpus"),
    "m_media_ingest" -> ("raw media ingest: one vectorized binaryFile " +
      "scan, narrow id/metadata projection, payload bytes never shuffled"),
    "s4_schema_evolution" -> ("schema-evolution scan: mergeSchema union " +
      "of two batch scans, null backfill inside the agg, no shuffle " +
      "before the partial agg"),
    "t_lsh_index_probe" -> ("persisted LSH index probe: batch signed " +
      "once (hs rides the band pipeline), index bands SCANNED not " +
      "windowed (cap frozen at build), candidates broadcast into the " +
      "docs verify join"),
    "s9_http_scan" -> ("http:// object scan: explicit schema (no " +
      "inference pass), single ranged-GET file split, agg above the " +
      "remote scan"),
    "e_semdedup" -> ("SemDeDup: native broadcast-argmax cell assignment " +
      "(no shuffle), ONE cell-keyed exchange shared by the size window " +
      "and the agg, short-circuit exists verify inside the bucket"),
    "t_epoch_shuffle" -> ("epoch shuffle: one exchange on the hash " +
      "shard + per-shard sort — a global permutation without a global " +
      "sort"),
    "w11_funnel" -> ("funnel: ONE user-keyed exchange — sorted per-user " +
      "event arrays + codegen'd HOF cascade, no join per stage"),
    "w12_retention" -> ("cohort retention: the cohort stamp rides the " +
      "user window (no join-back); one final (cohort, offset) " +
      "distinct-count agg"),
    "j11_edit_join" -> ("PassJoin edit-distance join: narrow segment/" +
      "substring explodes, compact-key equi-join candidates, ONE " +
      "distinct, codegen levenshtein verify — never |n|²"),
    "s10_zorder_key" -> ("Morton key: pure bit-op projection inside one " +
      "WholeStageCodegen span — zero exchanges, zero UDFs"),
    "t_dsir_weights" -> ("DSIR weights: bucket LLR table broadcast back; " +
      "poly-hash evaluated on the DISTINCT vocab only, never per " +
      "corpus token"),
    "w26_rate_limit" -> ("token-bucket replay: ONE key exchange, " +
      "sorted collect + codegen'd HOF fold — no window, no join"),
    "a22_cms_topk" -> ("count-min sketch: ≤ depth×width sketch " +
      "broadcast into the estimation probe; top-k is TakeOrdered"),
    "j13_eps_join" -> ("grid ε-distance join: cell equi-join with a " +
      "3×3 neighbor explode on ONE side — no cross product, no trig"),
    "t_nb_classify" -> ("naive Bayes: L-row labels/priors broadcast, " +
      "corpus-sized vocab never; scoring is a term-keyed equi-join"),
    "w24_acf" -> ("autocorrelation: mean, deviations and all lags " +
      "share ONE key-partitioned window exchange"),
    "t_source_js" -> ("pairwise source JS: ONE (source, term) hash " +
      "agg; the pair frame is a term-keyed equi-self-join (never a " +
      "group cartesian), group totals broadcast"),
    "a67_pettitt" -> ("Pettitt changepoint: prefix-sum shaped end to " +
      "end — two bucketed Prefix hierarchies + TakeOrdered(1), no " +
      "pair join, nothing single-partition at corpus grain"),
    "t_leakage_split" -> ("leakage-safe split: per-row hash + compare " +
      "inside one WholeStageCodegen span — the split itself needs " +
      "ZERO exchanges (the audit agg above is the only shuffle)"),
    "clif_blocked_dataset" -> ("the reference's capstone blocked " +
      "dataset: ALL channels LOCF onto the grid in ONE encounter-" +
      "keyed window pass (the multi-channel as-of union), and the " +
      "rolling window REUSES that exchange+sort; label join " +
      "broadcasts — no per-channel grid-sized shuffles"),
    "t_bleu" -> ("corpus BLEU-4: one (doc, ord, gram) hash agg per " +
      "side + ONE gram-keyed equi-join, collapsing to a 4-row frame " +
      "— never a doc×doc product; clipped matches stay exact longs"),
    "a78_bradley_terry" -> ("Bradley–Terry: judgments collapse ONCE " +
      "to the (winner, loser) cells frame; every MM round is cells × " +
      "BROADCAST strengths — the corpus never rescans, no iteration " +
      "shuffle growth"),
    "w38_cox" -> ("Cox partial-likelihood GD: per step one subjects " +
      "scan to the distinct-duration frame, suffix risk sets via the " +
      "bucketed Prefix hierarchy (no single-partition window), ONE " +
      "1-row gradient collect; beta rides back as literals"),
    "t_warc_curate" -> ("WARC → text first mile: one per-file record " +
      "scan, three stacked projections (httpBody / strip chain / " +
      "density filter) each reading the previous ATTRIBUTE — the " +
      "interpreted trees evaluate once per row, payload bytes never " +
      "shuffle"),
    "t_domain_mix" -> ("domain-quota capstone: PSL candidates " +
      "row-local against the BROADCAST rules dim, one doc_id join " +
      "back, cap + mix windows keyed by the domain×shard grid — " +
      "never a whole-corpus window"),
    "t_robots_filter" -> ("robots politeness filter: rules dim " +
      "BROADCAST (regexes pre-translated driver-side), one packed-" +
      "priority max() HashAggregate back to frontier cardinality"))

  /** Ops with no SparkEntry.queries surface whose plan still backs a
    * scale claim (built directly against the sf tables). */
  def extras(spark: SparkSession, sfDir: String)
      : Seq[(String, String, org.apache.spark.sql.DataFrame)] = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val sketches = graft.ops.Quality.distinctSketches(
      docs, Seq("lang", "source"), "doc_id")
    Seq(
      ("hll_distinct_sketches",
        "HLL sketches: ONE pass, partial+final sketch agg — no value " +
          "shuffle; rollup unions sketch state instead of rescanning",
        graft.ops.Quality.unionSketchEstimate(sketches, Seq("lang"))))
  }

  /** Stable fingerprint of the plan book's inputs: the full
    * `SparkEntry.queries` key list (ANY query added/removed/renamed
    * stales the book) plus the logical operator tree of every pinned
    * pick and extra (an implementation change to a pinned query stales
    * it too). Logical node NAMES only — no expression ids, no
    * physical-plan or config-dependent choices — so the value is
    * identical across sessions and sfDirs; PlanSpec recomputes it and
    * fails until PlanDump is re-run. */
  def fingerprint(spark: SparkSession, sfDir: String): String = {
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.collect { case n => n.nodeName }
        .mkString(">")
    val keys = SparkEntry.queries.keys.toSeq.sorted.mkString(",")
    val shapes = (picks.map { case (name, _) =>
      name + ":" + shape(SparkEntry.queries(name)(spark, sfDir))
    } ++ extras(spark, sfDir).map { case (name, _, df) =>
      name + ":" + shape(df)
    }).mkString(";")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest((keys + "|" + shapes).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.PlanDump)\n\n")
    sb.append("Representative `executedPlan`s at " + sfDir +
      "; regenerate after plan-affecting changes. PlanSpec pins the " +
      "load-bearing properties as tests.\n")
    def emit(name: String, why: String,
             df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      sb.append(s"\n## $name — $why\n\n```\n")
      // cap line length: embedded literals (e.g. the decontamination
      // bloom filter's binary) render as megabyte hex strings
      sb.append(plan.linesIterator.take(40)
        .map(l => if (l.length > 400) l.take(400) + " …[truncated]" else l)
        .mkString("\n"))
      sb.append("\n```\n")
    }
    picks.foreach { case (name, why) =>
      emit(name, why, SparkEntry.queries(name)(spark, sfDir))
    }
    extras(spark, sfDir).foreach { case (name, why, df) =>
      emit(name, why, df)
    }
    sb.append("\nPlan-book fingerprint (PlanSpec fails when stale): " +
      s"`sha256:${fingerprint(spark, sfDir)}`\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (" +
      s"${picks.size + extras(spark, sfDir).size} plans)")
    spark.stop()
  }
}
