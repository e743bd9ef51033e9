package graft

import org.apache.spark.sql.functions._

import graft.queries.{Fixtures, JoinQueries}

/** The SQL cookbook recipes (SqlRecipes) must be ROW-FOR-ROW twins of
  * the DSL operators they re-express — a JDBC analyst following the
  * README must get the engine's answers, not approximations. */
class SqlRecipesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def ready(): Unit = {
    Tables.registerAll(spark, dir)
    SqlRecipes.register(spark)
  }

  test("graft_sessionize == WindowOps.sessionize (strict gap, " +
    "event_id tiebreak)") {
    ready()
    val viaSql = spark.sql("SELECT user_id, event_id, session_id " +
        "FROM graft_sessionize(1800)")
      .as[(Long, Long, Long)].collect().toSet
    val viaDsl = ops.WindowOps.sessionize(
        Tables.load(spark, dir, "events"), Seq("user_id"), "ts", 1800,
        tiebreak = Seq(col("event_id")))
      .select("user_id", "event_id", "session_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty)
  }

  test("graft_funnel == Analytics.funnel (greedy cascade, null " +
    "propagation, conversion vs stage 1)") {
    ready()
    val stages = Seq("view", "click", "purchase")
    val viaSql = spark.sql(
        "SELECT * FROM graft_funnel('view', 'click', 'purchase')")
      .orderBy("stage_idx")
      .as[(Int, String, Long, Option[Double])].collect().toSeq
    val viaDsl = ops.Analytics.funnel(Tables.load(spark, dir, "events"),
        "user_id", "event_type", "ts", stages)
      .orderBy("stage_idx")
      .as[(Int, String, Long, Option[Double])].collect().toSeq
    assert(viaSql == viaDsl && viaSql.size == 3)
  }

  test("graft_asof_prior == Joins.asOfJoin (at-or-before inclusive, " +
    "union+LOCF)") {
    ready()
    val e = Tables.load(spark, dir, "events")
    def epoch(c: org.apache.spark.sql.Column) =
      c.cast("timestamp_ltz").cast("double")
    val left = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), epoch(col("ts")).as("t"))
    val right = e.filter(col("event_type") === "view")
      .select(col("user_id"), epoch(col("ts")).as("t"),
        epoch(col("ts")).as("rt"))
    val viaDsl = ops.Joins.asOfJoin(left, right, Seq("user_id"),
        "t", "t", Seq("rt"))
      .select(col("user_id"), col("event_id"), col("rt"))
      .as[(Long, Long, Option[Double])].collect().toSet
    val viaSql = spark.sql("SELECT user_id, event_id, ref_ts_epoch " +
        "FROM graft_asof_prior('error', 'view')")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty)
    assert(viaSql.exists(_._3.isDefined), "some error must follow a view")
  }

  test("graft_dedup_docs == WindowOps.dedupKeepLast on md5(text)") {
    ready()
    val docs = Tables.load(spark, dir, "documents")
    val viaDsl = ops.WindowOps.dedupKeepLast(
        docs.withColumn("__k", md5(col("text"))), Seq("__k"),
        Seq(col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    val viaSql = spark.sql("SELECT doc_id FROM graft_dedup_docs()")
      .as[Long].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty)
  }

  test("graft_resample: every grid value is the latest at-or-before " +
    "observation (brute-force check); grid step-aligned per user") {
    ready()
    val out = spark.sql("SELECT * FROM graft_resample(3600)")
      .as[(Long, Double, Option[Double])].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, g, _) => g % 3600 == 0 },
      "grid instants must be step-aligned")
    // brute force: per (user, grid) the value of the max-t obs <= g,
    // duplicate (user, t) collapsed to the highest event_id (the
    // recipe's right-unique contract)
    val e = Tables.load(spark, dir, "events")
    val obs = e.select(col("user_id"),
        col("ts").cast("timestamp_ltz").cast("double").as("t"),
        col("value"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3)))
      .groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.maxBy(_._4) }.toSeq
    val byUser = obs.groupBy(_._1)
    out.foreach { case (u, g, v) =>
      val atOrBefore = byUser(u).filter(_._2 <= g)
      val expected =
        if (atOrBefore.isEmpty) None
        else Some(atOrBefore.maxBy(_._2)._3)
      assert(v == expected, s"user $u grid $g: got $v want $expected")
    }
  }

  test("graft_hll_distinct == Sketches.hllDistinct (same mixer and " +
    "register arithmetic in pure SQL)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_hll_distinct()")
      .as[(Long, Long, Double)].collect().head
    val viaDsl = ops.Sketches.hllDistinct(
        Tables.load(spark, dir, "events"), "user_id")
      .select("m", "registers_hit", "estimate")
      .as[(Long, Long, Double)].collect().head
    assert(viaSql == viaDsl && viaSql._2 > 0, s"$viaSql vs $viaDsl")
    // NEGATIVE keys (ADVICE r11): the engine's pmod and the recipe's
    // ((x % m) + m) % m must land the same registers — plain % would
    // follow the dividend's sign and diverge. Swap the events view
    // for a negative-id frame, re-register, compare, restore.
    try {
      // full events shape (register() validates every recipe against
      // the current views), negative ids in the column under test
      Seq(-5L, -2147483650L, 7L, -5L).zipWithIndex
        .map { case (u, i) => (u, i.toLong, "view", i.toDouble) }
        .toDF("user_id", "event_id", "event_type", "value")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .createOrReplaceTempView("events")
      SqlRecipes.register(spark)
      val negSql = spark.sql("SELECT * FROM graft_hll_distinct()")
        .as[(Long, Long, Double)].collect().head
      val negDsl = ops.Sketches.hllDistinct(
          spark.table("events"), "user_id")
        .select("m", "registers_hit", "estimate")
        .as[(Long, Long, Double)].collect().head
      assert(negSql == negDsl && negSql._2 > 0, s"$negSql vs $negDsl")
    } finally ready()
  }

  test("graft_ks_drift == Quality.ksTwoSample (exact-decimal D " +
    "argmax, round-6 values)") {
    ready()
    val viaSql = spark.sql(
        "SELECT n_a, n_b, d_stat, at_value FROM graft_ks_drift(15)")
      .as[(Long, Long, Double, Double)].collect().head
    val viaDsl = ops.Quality.ksTwoSample(
        Tables.load(spark, dir, "events"), "value",
        dayofmonth(col("ts")) <= 15)
      .as[(Long, Long, Double, Double)].collect().head
    assert(viaSql == viaDsl && viaSql._1 > 0, s"$viaSql vs $viaDsl")
  }

  test("graft_linkage == blocked fellegiSunter on the j16 fixture " +
    "(same blocks, cap, jaro-winkler agreement, decimal weights)") {
    ready()
    val viaSql = spark.sql(
        "SELECT * FROM graft_linkage(0.0D, 6.0D)")
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Double,
        String)].collect().toSet
    val viaDsl = JoinQueries.linkageScored(spark, dir)
      .select(col("a_c_custkey"), col("b_c_custkey"), col("name_agree"),
        col("nation_agree"), col("segment_agree"), col("balance_agree"),
        col("score"), col("decision"))
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Double,
        String)].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sizes ${viaSql.size} vs ${viaDsl.size}; " +
        s"sqlOnly=${(viaSql -- viaDsl).take(3)} " +
        s"dslOnly=${(viaDsl -- viaSql).take(3)}")
    assert(viaSql.exists(_._8 == "match") &&
      viaSql.exists(_._8 == "non_match"), "both decisions present")
  }

  test("graft_mmr_rerank == Similarity.mmrRerank (10 unrolled greedy " +
    "rounds, native cosine, id tiebreaks)") {
    ready()
    val viaSql = spark.sql(
        "SELECT * FROM graft_mmr_rerank(17L, 0.7D)")
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaDsl = sim.Similarity.mmrRerank(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        queryId = 17L, candidates = 20, k = 10, lambda = 0.7)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaSql == viaDsl && viaSql.size == 10,
      s"$viaSql\n  vs\n$viaDsl")
  }

  test("graft_phash_neardup == DSL banded aHash pairing") {
    ready()
    val viaSql = spark.sql(
        "SELECT * FROM graft_phash_neardup(20)")
      .as[(Long, Long, Int)].collect().toSet
    // DSL twin: same hash, same 4x16-bit bands, same verify
    val h = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        media.Multimodal.aHash62(col("text").cast("binary")).as("ah"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- h; (b, hb) <- h if a < b
      // band agreement required (the candidate contract), then verify
      shares = (0 until 4).exists(k =>
        ((ha >> (k * 16)) & 0xFFFFL) == ((hb >> (k * 16)) & 0xFFFFL))
      d = java.lang.Long.bitCount(ha ^ hb) if shares && d <= 20
    } yield (a, b, d)).toSet
    assert(viaSql == brute && viaSql.nonEmpty, s"${viaSql.size} pairs")
  }

  test("graft_neardup == brute-force simhash pairs at hamming <= 3 " +
    "(4-block pigeonhole recall guarantee)") {
    ready()
    val viaSql = spark.sql("SELECT doc_a, doc_b, hamming " +
        "FROM graft_neardup(3)")
      .as[(Long, Long, Int)].collect().toSet
    val h = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), text.Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- h; (b, hb) <- h if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(viaSql == brute && viaSql.nonEmpty)
  }

  test("graft_roc_auc == Quality.rocAuc (doubled Mann-Whitney, " +
    "decimal products)") {
    ready()
    val viaSql = spark.sql(
        "SELECT * FROM graft_roc_auc('purchase')")
      .as[(Long, Long, Option[Double])].collect().head
    val viaDsl = ops.Quality.rocAuc(Tables.load(spark, dir, "events"),
        "value", col("event_type") === "purchase")
      .as[(Long, Long, Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._3.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_conformal == Quality.conformalThreshold (micro-unit k, " +
    "first-cumulative order statistic)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_conformal(100000)")
      .as[(String, Long, Long, Option[Long])].collect().toSet
    val viaDsl = ops.Quality.conformalThreshold(
        Tables.load(spark, dir, "events")
          .filter(col("event_type").isNotNull),
        "value", Seq("event_type"), alphaMicros = 100000L)
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_fairness == Quality.groupFairness (confusion rates, " +
    "NULL undefined denominators)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_fairness(400, 330)")
      .as[(String, Long, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSet
    val d = Tables.load(spark, dir, "documents")
    val viaDsl = ops.Quality.groupFairness(
        d.filter(col("n_chars").isNotNull && col("text").isNotNull),
        "lang", col("n_chars") >= 400,
        length(regexp_replace(col("text"), lit(" "), lit(""))) >= 330)
      .as[(String, Long, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_gini == Analytics.giniConcentration over source mass") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_gini()")
      .as[(Long, Long, Option[Double])].collect().head
    val viaDsl = ops.Analytics.giniConcentration(
        Tables.load(spark, dir, "documents"), Seq("source"), "n_chars")
      .select("n_units", "total_micros", "gini")
      .as[(Long, Long, Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._3.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_kappa == Quality.cohenKappa on the a45 rater pair") {
    ready()
    val viaSql = spark.sql(
        "SELECT * FROM graft_kappa(300, 500, 250, 420)")
      .as[(Long, Long, Option[Double])].collect().head
    val d = Tables.load(spark, dir, "documents")
      .filter(col("n_chars").isNotNull && col("text").isNotNull)
    val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
    val viaDsl = ops.Quality.cohenKappa(
        d.select(
          when(col("n_chars") < 300, "short")
            .when(col("n_chars") < 500, "mid").otherwise("long")
            .as("r1"),
          when(ns < 250, "short").when(ns < 420, "mid")
            .otherwise("long").as("r2")),
        "r1", "r2")
      .as[(Long, Long, Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._3.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_sinkhorn == Analytics.sinkhornOt (5 unrolled scalings, " +
    "exact integer sums)") {
    ready()
    val viaSql = spark.sql(
        "SELECT * FROM graft_sinkhorn(15, 5000000, CAST(3.0 AS DOUBLE))")
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    val viaDsl = ops.Analytics.sinkhornOt(
        Tables.load(spark, dir, "events")
          .filter(col("ts").isNotNull), "value",
        dayofmonth(col("ts")) <= 15, binWidthMicros = 5000000L,
        iters = 5, epsMicros = 3000000L)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(viaSql == viaDsl && viaSql._4.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_did == Quality.diffInDiff on the a64 frame") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_did(15)")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    val viaDsl = ops.Quality.diffInDiff(
        Tables.load(spark, dir, "events"), "value",
        col("user_id") % 2 === 0, dayofmonth(col("ts")) > 15)
      .select("n_t_pre", "n_t_post", "n_c_pre", "n_c_post", "did",
        "se", "t_stat")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._5.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_uplift == Quality.upliftCurve on the a62 frame") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_uplift('purchase')")
      .as[(Double, Long, Long, Long, Long, Option[Double],
        Option[Double])].collect().toSet
    val viaDsl = ops.Quality.upliftCurve(
        Tables.load(spark, dir, "events")
          .filter(col("user_id").isNotNull &&
            col("event_type").isNotNull), "value",
        col("user_id") % 2 === 0, col("event_type") === "purchase")
      .as[(Double, Long, Long, Long, Long, Option[Double],
        Option[Double])].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty, s"sizes ${viaSql.size}")
  }

  test("graft_fingerprint == Quality.datasetFingerprint on " +
    "(event_id, event_type) — plan-identical native poly_hash_set") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_fingerprint()")
      .as[(Long, Long, Long)].collect().head
    val viaDsl = {
      val r = ops.Quality.datasetFingerprint(
        Tables.load(spark, dir, "events"),
        Seq("event_id", "event_type")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(viaSql == viaDsl && viaSql._1 > 0, s"$viaSql $viaDsl")
  }

  test("graft_spearman == Quality.spearmanCorr on the a47 frame " +
    "(doubled average ranks, decimal moments)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_spearman()")
      .as[(Long, Option[Double])].collect().head
    val d = Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
    val viaDsl = ops.Quality.spearmanCorr(
        d.select(col("n_chars").cast("double").as("x"),
          (length(col("text")) -
            length(regexp_replace(col("text"), lit(" "), lit(""))))
            .cast("double").as("y")),
        "x", "y")
      .as[(Long, Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._2.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_mann_kendall == Analytics.mannKendall on the a56 " +
    "daily-totals series (integer S/Var, lower-median Sen)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_mann_kendall()")
      .as[(Long, Long, Long, Option[Double], Option[Long])]
      .collect().head
    val daily = Tables.load(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(dayofmonth(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
    val viaDsl = ops.Analytics.mannKendall(daily, "d", "v")
      .as[(Long, Long, Long, Option[Double], Option[Long])]
      .collect().head
    assert(viaSql == viaDsl && viaSql._4.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_bootstrap_ci == Quality.bootstrapMeanCi (salted-hash " +
    "Poisson weights, truncating replica means, ceil-k bounds)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_bootstrap_ci(50, 25000)")
      .as[(Long, Option[Long], Long, Long, Option[Long], Option[Long])]
      .collect().head
    val viaDsl = ops.Quality.bootstrapMeanCi(
        Tables.load(spark, dir, "events"), "value", "event_id",
        replicas = 50)
      .as[(Long, Option[Long], Long, Long, Option[Long], Option[Long])]
      .collect().head
    assert(viaSql == viaDsl && viaSql._5.nonEmpty && viaSql._6.nonEmpty,
      s"$viaSql $viaDsl")
  }

  test("graft_hellinger == Quality.hellingerDrift on the a68 split") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_hellinger(15)")
      .as[(Long, Long, Double, Double, Option[Double])].collect().head
    val ev = Tables.load(spark, dir, "events")
    val viaDsl = ops.Quality.hellingerDrift(
        ev.filter(dayofmonth(col("ts")) <= 15).select(col("value")),
        ev.filter(dayofmonth(col("ts")) > 15).select(col("value")),
        "value", bins = 10)
      .as[(Long, Long, Double, Double, Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._1 > 0, s"$viaSql $viaDsl")
  }

  test("graft_anova == Quality.anovaF on event value by type") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_anova()")
      .as[(Long, Long, Double, Double, Option[Double],
        Option[Double])].collect().head
    val viaDsl = ops.Quality.anovaF(
        Tables.load(spark, dir, "events"), "event_type", "value")
      .as[(Long, Long, Double, Double, Option[Double],
        Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._5.nonEmpty, s"$viaSql $viaDsl")
  }

  test("graft_ndcg == the e_ndcg pipeline (brute lists + ndcgAtK)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_ndcg(10)")
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSet
    val emb = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val ranked = sim.Similarity.bruteKnnJoin(q, emb, "vec_id",
      "embedding", 10)
    val ql = emb.select(col("vec_id").as("query_id"),
      col("label").as("__ql"))
    val nl = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("__nl"))
    val withRel = ranked.join(ql, Seq("query_id"))
      .join(nl, Seq("neighbor_id"))
      .select(col("query_id"), col("rank"),
        when(col("__ql") === col("__nl"), 1L).otherwise(0L).as("rel"))
    val viaDsl = ops.Quality.ndcgAtK(withRel, "query_id", "rank",
        "rel", k = 10)
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty, s"$viaSql")
  }

  test("graft_mcnemar == Quality.mcnemarTest on the a71 rules") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_mcnemar(50.0, 10)")
      .as[(Long, Long, Long, Option[Double])].collect().head
    val per = Tables.load(spark, dir, "events")
      .groupBy(col("user_id")).agg(
        (max(when(col("event_type") === "purchase", 1).otherwise(0))
          === 1).as("__actual"),
        sum(col("value").cast("decimal(18,6)")).as("__sv"),
        count(lit(1)).as("__ne"))
    val viaDsl = ops.Quality.mcnemarTest(per,
        (col("__sv") > lit(50.0)) === col("__actual"),
        (col("__ne") > lit(10L)) === col("__actual"))
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._1 > 0, s"$viaSql $viaDsl")
  }

  test("graft_capture == Quality.captureRecapture on the mod-10 " +
    "crawls") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_capture(6, 4)")
      .as[(Long, Long, Long, Double, Option[Double], Option[Double],
        Option[Double])].collect().head
    val d = Tables.load(spark, dir, "documents")
    val viaDsl = ops.Quality.captureRecapture(
        d.filter(pmod(col("doc_id"), lit(10L)) < 6),
        d.filter(pmod(col("doc_id"), lit(10L)) >= 4), "doc_id")
      .as[(Long, Long, Long, Double, Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(viaSql == viaDsl && viaSql._3 > 0, s"$viaSql $viaDsl")
  }

  test("graft_vocab_coverage == TextOps.vocabCoverage on documents") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_vocab_coverage()")
      .as[(Long, Long, Long, Long, Double, Double, Double)]
      .collect().head
    val viaDsl = text.TextOps.vocabCoverage(
        Tables.load(spark, dir, "documents"), "text")
      .as[(Long, Long, Long, Long, Double, Double, Double)]
      .collect().head
    assert(viaSql == viaDsl && viaSql._1 > 0, s"$viaSql $viaDsl")
  }

  test("graft_blocked_dataset == the clif_blocked_dataset capstone " +
    "(grid, single-pass LOCF, staleness, rolling, label, split)") {
    ready()
    // grid_ts compared as string: the SQL function signature declares
    // TIMESTAMP (LTZ) while the DSL carries the source's NTZ — under
    // the pinned UTC session the wall-clock text is identical
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("grid_ts").cast("string"),
        col("last_value"), col("vital_value"), col("lab_value"),
        col("roll_avg"), col("label"), col("split"))
      .as[(Long, String, Option[Double], Option[Double],
        Option[Double], Option[Double], Long, String)]
      .collect().toSet
    val viaSql = canon(spark.sql(
      "SELECT * FROM graft_blocked_dataset(3600, 7200, 86400)"))
    val viaDsl = canon(
      SparkEntry.queries("clif_blocked_dataset")(spark, dir))
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sql=${viaSql.size} dsl=${viaDsl.size}")
  }

  test("graft_rouge == TextOps.rougeN (same drop-every-7th candidate, " +
    "clipped counts, exact-fraction F1)") {
    ready()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "ord", "n_match", "n_cand", "n_ref",
        "precision", "recall", "f1")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    val viaSql = canon(spark.sql("SELECT * FROM graft_rouge(7)"))
    val toks = text.TextOps.tokens(col("text"))
    val cand = array_join(
      filter(toks, (tk, i) => ((i + lit(1)) % 7) =!= 0), " ")
    val viaDsl = canon(text.TextOps.rougeN(
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
      "doc_id", cand, col("text")))
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sql=${viaSql.size} dsl=${viaDsl.size}")
  }

  test("graft_bradley_terry == Analytics.bradleyTerry over the same " +
    "id-offset judgments (MM rounds, exact-decimal term sums)") {
    ready()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("player", "wins", "games", "strength", "share")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val viaSql = canon(
      spark.sql("SELECT * FROM graft_bradley_terry(1, 3)"))
    val viaDsl = canon(
      SparkEntry.queries("a78_bradley_terry")(spark, dir))
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sql=${viaSql.size} dsl=${viaDsl.size}")
  }

  test("graft_url_dedup == the t_url_dedup DSL query (same dirty-url " +
    "construction, same canonicalization contract) at keep_min = 1") {
    ready()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("url", "n_dups", "keep_id")
      .as[(String, Long, Long)].collect().toSet
    val viaSql = canon(spark.sql("SELECT * FROM graft_url_dedup(1)"))
    val viaDsl = canon(SparkEntry.queries("t_url_dedup")(spark, dir))
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sql=${viaSql.size} dsl=${viaDsl.size}")
    // the threshold arm actually filters
    val dups = canon(spark.sql("SELECT * FROM graft_url_dedup(2)"))
    assert(dups.nonEmpty && dups == viaSql.filter(_._2 >= 2))
  }

  test("graft_pass_at_k == the a81_pass_at_k DSL query (same fixture, " +
    "same exact falling-factorial walk) at min_samples = 1") {
    ready()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("task_id", "n_samples", "n_correct",
        "pass_at_1", "pass_at_5", "pass_at_10")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().toSet
    val viaSql = canon(spark.sql("SELECT * FROM graft_pass_at_k(1)"))
    val viaDsl = canon(SparkEntry.queries("a81_pass_at_k")(spark, dir))
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sql=${viaSql.size} dsl=${viaDsl.size}")
    // the threshold arm actually filters (full 10-sample tasks only)
    val full = canon(spark.sql("SELECT * FROM graft_pass_at_k(10)"))
    assert(full == viaSql.filter(_._2 >= 10) && full.nonEmpty)
  }

  test("graft_domain_quota == t_registrable_domain grouped by " +
    "registrable domain (same fixture, same PSL walk, rules VALUES " +
    "rendered from the engine's snapshot)") {
    ready()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("registrable_domain", "n_docs", "first_id")
      .as[(String, Long, Long)].collect().toSet
    val viaDsl = canon(
      SparkEntry.queries("t_registrable_domain")(spark, dir)
        .filter(col("registrable_domain").isNotNull)
        .groupBy("registrable_domain")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_id")))
    val viaSql = canon(spark.sql("SELECT * FROM graft_domain_quota(1)"))
    assert(viaSql == viaDsl && viaSql.nonEmpty,
      s"sql=${viaSql.size} dsl=${viaDsl.size}")
    // the quota arm: shared-domain variants (example.com from the
    // m=0 block, www.ck from the exception block) survive min_docs=2
    val top = canon(spark.sql("SELECT * FROM graft_domain_quota(2)"))
    assert(top == viaSql.filter(_._2 >= 2) && top.nonEmpty)
    assert(top.exists(_._1 == "example.com") &&
      top.exists(_._1 == "www.ck"), top.toString)
  }

  test("graft_html_main_text == HtmlOps.stripHtml + density filter " +
    "over the shared WarcPage template (chain generated from the " +
    "same constants)") {
    ready()
    val viaSql = spark.sql("SELECT * FROM graft_html_main_text(5)")
      .as[(Long, String, String)].collect().toSet
    val html = concat(lit(Fixtures.WarcPage._1),
      col("doc_id").cast("string"), lit(Fixtures.WarcPage._2),
      col("text"), lit(Fixtures.WarcPage._3))
    val viaDsl = Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        text.HtmlOps.stripHtml(html).as("stripped"))
      .select(col("doc_id"), col("stripped"),
        text.HtmlOps.mainTextFromStripped(col("stripped"))
          .as("main_text"))
      .as[(Long, String, String)].collect().toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty)
  }
}
