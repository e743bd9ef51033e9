package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** Physical-plan assertions: the scale behaviors SURVEY.md §4 promises —
  * filter/column pushdown to the parquet scan, broadcast only for true
  * dims, exchange reuse in self-joins — pinned as tests so a regression
  * in plan shape fails CI, not a 100 TB run. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("timestamp-range filter pushes down to the parquet scan") {
    val df = SparkEntry.queries("p8_filter_ts_range")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("PushedFilters") &&
      scan.contains("l_shipdate"), scan.take(600))
  }

  test("projection prunes the read schema to selected columns") {
    val df = SparkEntry.queries("p1_project")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // lineitem has 16 columns; the scan must read only the 3 selected
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("l_comment") && !scan.contains("l_shipmode"),
      scan.take(600))
  }

  test("star join broadcasts the dims, not the fact") {
    val df = SparkEntry.queries("j1_join_dims")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("unhinted semi/star joins still broadcast small sides via AQE") {
    // j5_semi's filter side, j1's customer side, and a12_rollup's
    // customer side carry NO broadcast() hint (they grow with the
    // fact — a hard hint OOMs at 100×). This pins that dropping the
    // hint costs nothing at dim-sized inputs: the size estimate / AQE
    // still picks a broadcast join at runtime.
    for (q <- Seq("j5_semi", "j1_join_dims", "a12_rollup")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.count() // materialize so AQE finalizes the adaptive plan
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"), s"$q: " + plan.take(800))
      assert(!plan.contains("SortMergeJoin"), s"$q: " + plan.take(800))
    }
  }

  test("lsh candidate generation computes signatures exactly once") {
    val docs = Tables.load(spark, dir, "documents")
    val cands = graft.text.Dedup.lshCandidates(docs, "doc_id", "text", 3, 32, 16)
    val plan = cands.queryExecution.executedPlan.toString
    // one signature computation, one scan, one pre-expansion shuffle —
    // the self-join shape recomputed all three for the second side
    assert("minhashsignature".r.findAllIn(plan).size == 1, plan.take(1500))
    assert("FileScan".r.findAllIn(plan).size == 1, plan.take(1500))
    // the bucket-size cap window and the collect_list agg share ONE
    // (band, bucket) exchange
    assert("Exchange hashpartitioning\\(band".r.findAllIn(plan).size == 1,
      plan.take(1500))
  }

  test("semanticNearDup evaluates srpbuckets once over one scan") {
    val emb = Tables.load(spark, dir, "embeddings")
    val near = graft.sim.Similarity.semanticNearDup(emb, "vec_id",
      "embedding", threshold = 0.6, nPlanes = 12, tables = 4)
    val plan = near.queryExecution.executedPlan.toString
    // all 4 tables' buckets come from ONE native evaluation; a per-table
    // formulation would show 4 srpbuckets calls or 4 scans
    assert("srpbuckets".r.findAllIn(plan).size == 1, plan.take(1500))
    assert("FileScan".r.findAllIn(plan).size == 1, plan.take(1500))
  }

  test("window chain reuses one sort/partitioning (no double exchange)") {
    val e = Tables.load(spark, dir, "events")
    val out = ops.WindowOps.fillDownUp(e, Seq("user_id"),
      Seq(col("ts"), col("event_id")), Seq("value"))
    val plan = planOf(out)
    // both frames (down + up) must share ONE shuffle and ONE sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(1200))
  }

  test("whole-stage codegen covers the scalar query pipeline") {
    val df = SparkEntry.queries("f_conditional")(spark, dir)
    // "*(n)" marks operators fused into WholeStageCodegen stage n
    val plan = planOf(df)
    assert(plan.contains("*(1)"), plan.take(800))
  }

  test("mixCorpus never exchanges on the domain alone; offsets broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val mix = graft.text.TextOps.mixCorpus(docs, "doc_id", "text", "lang",
      Map("en" -> 0.5, "es" -> 0.3), tokenBudget = 5000L)
    val plan = planOf(mix)
    // the BIG side's running-sum window partitions by (domain, shard) —
    // an exchange keyed on the domain column ALONE would put a whole
    // domain (a skew unit) in one task. Domain-only partitioning is
    // allowed ONLY inside the broadcast (offsets) subtree, whose input
    // is domains × shards rows.
    val domOnly = "Exchange hashpartitioning\\(__dom#\\d+, \\d+\\)".r
    val bcast = plan.indexOf("BroadcastExchange")
    assert(bcast >= 0 && plan.contains("BroadcastHashJoin"), plan.take(1500))
    domOnly.findAllMatchIn(plan).foreach { m =>
      assert(m.start > bcast,
        "domain-only exchange outside the offsets subtree:\n" +
          plan.take(1500))
    }
    assert("Exchange hashpartitioning\\(__dom#\\d+, __shard".r
      .findAllIn(plan).size >= 1, plan.take(1500))
  }

  test("decontaminateBloom prunes the train side BEFORE the LSH exchange") {
    val docs = Tables.load(spark, dir, "documents")
    val out = graft.text.Dedup.decontaminateBloom(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", threshold = 0.5,
      expectedShingles = 1L << 16)
    val plan = planOf(out)
    // the bloom hit-count filter must sit on the scan side of the
    // (band, bucket) exchange — pruning after the shuffle would ship
    // the whole train corpus anyway
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(band")
    val bloomIdx = plan.indexOf("might_contain")
    assert(exchangeIdx >= 0 && bloomIdx >= 0, plan.take(1500))
    assert(bloomIdx > exchangeIdx,
      "bloom filter should appear BELOW (after, in toString order) the " +
        "band exchange:\n" + plan.take(1500))
  }

  test("rollingMeans: row frame and time-range frame share ONE exchange") {
    val df = SparkEntry.queries("w7_rolling")(spark, dir)
    val plan = planOf(df)
    assert("Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size == 1, plan.take(1500))
    // both frame kinds present
    assert(plan.contains("RowFrame") && plan.contains("RangeFrame"),
      plan.take(1500))
  }

  test("winsorize: bounds broadcast back; the fact side never shuffles") {
    val df = SparkEntry.queries("a13_winsorize")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    // the only hash exchange feeds the groups-sized percentile agg
    // (inside the broadcast subtree), not the lineitem fact scan
    val bcast = plan.indexOf("BroadcastExchange")
    val hashEx = plan.indexOf("Exchange hashpartitioning")
    assert(bcast >= 0 && hashEx > bcast, plan.take(1500))
  }

  test("timeWeightedAvg: lead window and final agg share the key " +
       "exchange (no second shuffle)") {
    val df = SparkEntry.queries("w9_time_weighted")(spark, dir)
    val plan = planOf(df)
    assert("Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size == 1, plan.take(1500))
  }

  test("ivfKnnJoin: per-query top-k runs as a rank-limit pushdown " +
       "(WindowGroupLimit), one query-keyed exchange") {
    val df = SparkEntry.queries("e_ivf_knn_join")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert("Exchange hashpartitioning\\(query_id".r
      .findAllIn(plan).size == 1, plan.take(1500))
  }

  test("funnel runs as ONE user-keyed exchange — no join per stage") {
    val df = SparkEntry.queries("w11_funnel")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Join"), plan.take(1200))
    assert("Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size == 1, plan.take(1200))
  }

  test("mortonKey is a pure codegen projection: zero exchanges, no UDF") {
    val df = SparkEntry.queries("s10_zorder_key")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(plan.contains("*(1)"), plan.take(800)) // whole-stage codegen
  }

  test("gloveCooccur is one narrow explode + ONE hash-agg exchange — " +
    "no join, no window") {
    val df = SparkEntry.queries("t_glove_cooccur")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1200))
  }

  test("cohortRetention stamps the cohort via the user window — no " +
    "join-back of a per-user aggregate") {
    val df = SparkEntry.queries("w12_retention")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("corrPairs is ONE aggregate pass: no join, no window, one " +
    "partial+final agg pair over the scan") {
    val df = SparkEntry.queries("a16_corr")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("TopKByValue aggregates with map-side partials — partial and " +
    "final agg around ONE exchange, no sort of the input") {
    val df = SparkEntry.queries("a19_topk_agg")(spark, dir)
    val plan = planOf(df)
    // TypedImperativeAggregate runs as ObjectHashAggregate; the
    // partial (map-side heap) must sit below the exchange
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      plan.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("intervalOverlapJoin: canonical-bin filter replaces a distinct " +
    "— no aggregate or dedup above the join") {
    val df = SparkEntry.queries("j12_interval_overlap")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("HashAggregate"), plan.take(1500))
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(1500))
  }

  test("phraseSearch is ONE (doc, anchor) exchange regardless of " +
    "phrase length — no join of posting lists") {
    val idx = graft.text.TextOps.invertedIndex(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val df = graft.text.TextOps.phraseSearch(idx, "doc_id",
      Seq("table", "part", "value", "row"))
    val plan = planOf(df)
    assert(!plan.contains("Join"), plan.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1500))
  }

  test("pqTopKFromCodes never reads the vector column — the scan " +
    "schema is codes-only") {
    val emb = Tables.load(spark, dir, "embeddings")
    val cbs = graft.sim.Similarity.pqCodebooks(emb, "vec_id",
      "embedding", m = 4, k = 8)
    val tmp = tempDir("graft_pqplan")
    graft.sim.Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      .write.mode("overwrite").parquet(s"$tmp/codes")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val served = graft.sim.Similarity.pqTopKFromCodes(
      spark.read.parquet(s"$tmp/codes"), "vec_id", cbs, q, 5)
    val scan = served.queryExecution.executedPlan.collectLeaves()
      .mkString("\n")
    assert(scan.contains("codes") && !scan.contains("embedding"),
      scan.take(800))
  }

  test("recurrence ops (rate limit, holt) fold in ONE key exchange — " +
    "no window, no join, no second shuffle") {
    for (q <- Seq("w26_rate_limit", "w27_holt")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"$q: " + plan.take(1500))
      assert(!plan.contains("Window") && !plan.contains("Join"),
        s"$q: " + plan.take(1500))
    }
  }

  test("countMinTopK: the sketch broadcasts into the estimation " +
    "probe; the top-k is a TakeOrdered, not a global sort") {
    val df = SparkEntry.queries("a22_cms_topk")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("epsilonDistanceJoin plans as a cell equi-join — never a " +
    "cartesian/nested-loop product") {
    val plan = planOf(SparkEntry.queries("j13_eps_join")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(plan.contains("Join"), plan.take(1500))
  }

  test("blockedPairs spreads the probe side to cluster width before " +
    "pair expansion (ROUND-ROBIN exchange under the pair join) — the " +
    "quadratic output must never run at the input's file parallelism") {
    val plan = planOf(SparkEntry.queries("j19_edit_join")(spark, dir))
    assert(plan.contains("ROUND_ROBIN") ||
      plan.contains("RoundRobinPartitioning") ||
      plan.contains("Exchange RoundRobin"), plan.take(2000))
    assert(plan.contains("levenshtein"), plan.take(2000))
  }

  test("naiveBayesClassify: the vocab-sized grid and scoring joins " +
    "are never a cartesian product (labels/totals broadcast instead)") {
    val plan = planOf(SparkEntry.queries("t_nb_classify")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("overlapMatrix: totals join by broadcast; the self-join keys " +
    "on the 16-byte gram hash, not the gram string") {
    val df = SparkEntry.queries("t_overlap_matrix")(spark, dir)
    df.count() // let AQE finalize the small-side broadcasts
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("md5"), plan.take(2000))
  }

  test("runtime bloom-filter pruning: a selective dim filter injects " +
    "a bloom probe on the fact side once the scan crosses the " +
    "eligibility threshold") {
    // thresholds lowered so the 100 TB-default posture fires at test
    // scale; broadcast disabled because injection only pays off on
    // shuffle joins
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, dir, "lineitem")
      val p = Tables.load(spark, dir, "part")
        .filter(col("p_partkey") % 100 === 0)
      val j = li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("l_returnflag")).count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), plan.take(2000))
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a filtered dim prunes the " +
    "partitioned fact's scan at runtime") {
    val tmp = tempDir("graft_dpp")
    Tables.load(spark, dir, "lineitem")
      .withColumn("flag_part", col("l_returnflag"))
      .write.mode("overwrite").partitionBy("flag_part")
      .parquet(s"$tmp/fact")
    val fact = spark.read.parquet(s"$tmp/fact")
    // the dim filter must sit on a NON-key column — a key predicate
    // would propagate statically through the join (constraint
    // inference, which this suite's other pins already cover); DPP is
    // the mechanism for the filters that can't
    val dim = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag_part")).distinct()
      .withColumn("attr", pmod(hash(col("flag_part")), lit(100)))
      .filter(col("attr") < 50)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the non-broadcast path: DPP's subquery-duplication case
    // is the one that matters at fact scale (broadcast reuses the
    // exchange for free)
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    try {
      val j = fact.join(dim, Seq("flag_part"))
        .groupBy(col("l_linestatus")).count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(2500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }

  test("fuzzyMatchJoin plans as a block equi-join over the DISTINCT " +
    "name vocabulary — never a cartesian product, aggregate before join") {
    val plan = planOf(SparkEntry.queries("j14_fuzzy_match")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // distinct-first: the HashAggregate (names dedup) sits BELOW the
    // self-join, so the join probes the vocabulary, not the row stream
    val joinIdx = plan.indexOf("Join")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(joinIdx >= 0 && aggIdx > joinIdx, plan.take(1500))
  }

  test("psiStream folds PSI as a stateless projection over ONE " +
    "stateful windowed aggregate — no second state store, no join") {
    // no limit(0): the optimizer folds an empty relation to a
    // LocalRelation and the shape under test vanishes
    val ev = Tables.load(spark, dir, "events")
    val plan = graft.streaming.EventStreams.psiStream(
        ev, "value", Seq(0.5), Seq(0.5, 0.5))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Aggregate"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    // one grouping only: the bins ride as conditional sums inside the
    // single window agg, never a (window, bin) re-shuffle
    assert("(?s)Aggregate".r.findAllIn(plan).size == 1, plan.take(1200))
  }

  test("PLANS.md is fresh: fingerprint matches the current query set " +
       "and pinned logical plans (regenerate with graft.tools.PlanDump)") {
    // the plan book backs SURVEY's scale claims; a stale book silently
    // describes plans that no longer exist. The fingerprint hashes the
    // full queries key list + every pinned pick's logical node tree —
    // session/config-independent — so adding/renaming a query or
    // changing a pinned query's implementation fails here until
    // `runMain graft.tools.PlanDump` is re-run.
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("PLANS.md"))
    val pinned = "sha256:([0-9a-f]{64})".r.findFirstMatchIn(text)
    assert(pinned.nonEmpty,
      "PLANS.md carries no fingerprint — run graft.tools.PlanDump")
    val now = tools.PlanDump.fingerprint(spark, dir)
    assert(pinned.get.group(1) == now,
      "PLANS.md is STALE — regenerate: sbt 'runMain graft.tools.PlanDump'")
  }
}
