package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f), 0),
    (1L, Seq(0.9f, 0.1f, 0.0f), 0),
    (2L, Seq(0.0f, 1.0f, 0.0f), 1),
    (3L, Seq(0.0f, 0.95f, 0.05f), 1),
    (4L, Seq(-1.0f, 0.0f, 0.0f), 2))

  private def df = vecs.toDF("vec_id", "embedding", "label")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val d = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), Seq(-1.0f, -2.0f),
      Seq(2.0f, -1.0f))).toDF("a", "b", "neg", "orth")
    val r = d.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("neg")).as("opp"),
      Similarity.cosine(col("a"), col("orth")).as("orth"))
      .as[(Double, Double, Double)].head()
    assert(math.abs(r._1 - 1.0) < 1e-9)
    assert(math.abs(r._2 + 1.0) < 1e-9)
    assert(math.abs(r._3) < 1e-9)
  }

  test("native cosine == Column twin (incl. zero vector), SQL registered") {
    val d = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, -2.0f, 0.25f)),
      (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(0.1f, 0.2f, 0.3f))).toDF("a", "b")
    val diff = d.filter(
      Similarity.cosine(col("a"), col("b")) =!=
        Similarity.cosineCols(col("a"), col("b")))
    assert(diff.count() == 0)
    val viaSql = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[Double].head()
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("native cosine handles int/long element types (no garbage reads)") {
    val d = Seq((Seq(1, 2, 3), Seq(1L, 2L, 3L))).toDF("i", "l")
    val c = d.select(Similarity.cosine(col("i"), col("l")).as("c"))
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("topKForVector: nearest first, k respected") {
    val out = Similarity.topKForVector(df, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), k = 2)
      .select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(0L, 1L))
  }

  test("bruteKnnJoin: self excluded, ranks ordered by similarity") {
    val out = Similarity.bruteKnnJoin(df, df, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(out(0L) == 1L && out(1L) == 0L && out(2L) == 3L && out(3L) == 2L)
  }

  test("lshKnnJoin: high-recall config recovers the true nearest neighbor") {
    // few planes -> big buckets -> near-exhaustive; sanity not recall test
    val out = Similarity.lshKnnJoin(df, df, "vec_id", "embedding",
      k = 1, nPlanes = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    out.get(0L).foreach(n => assert(n == 1L))
  }

  // Clustered fixture for recall proofs: 8 clusters of 4 near-identical
  // vectors (cos ≥ ~0.99 within, ~orthogonal-ish across). Deterministic.
  private lazy val clustered: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(42)
    val bases = Seq.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat))
    for {
      (base, c) <- bases.zipWithIndex
      k <- 0 until 4
    } yield ((c * 4 + k).toLong,
      base.map(x => x + 0.02f * rnd.nextGaussian().toFloat).toSeq)
  }

  test("native srpBuckets == Column twin for every table seed") {
    val df = clustered.toDF("vec_id", "embedding")
    val seeds = (0 until 4).map(t => t * 7919 + 1)
    val native = df.select(col("vec_id"),
      Similarity.srpBuckets(col("embedding"), 12, seeds).as("bks"))
    val twin = df.select(col("vec_id"),
      array(seeds.map(s =>
        Similarity.srpBucketCols(col("embedding"), 12, s)): _*).as("bks"))
    assert(native.exceptAll(twin).count() == 0 &&
      twin.exceptAll(native).count() == 0)
    // and the single-seed wrapper agrees with the twin's default seed
    val one = df.filter(
      Similarity.srpBucket(col("embedding"), 8) =!=
        Similarity.srpBucketCols(col("embedding"), 8))
    assert(one.count() == 0)
  }

  test("semanticNearDup: candidates+verify recovers brute-force pairs") {
    val df = clustered.toDF("vec_id", "embedding")
    val brute = Similarity.thresholdPairsByLabel(
      df.withColumn("label", lit(1)), "vec_id", "embedding", "label", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty) // fixture sanity: within-cluster pairs exist
    val near = Similarity.semanticNearDup(df, "vec_id", "embedding",
        threshold = 0.95, nPlanes = 8, tables = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // exact verify => no false positives; multi-table SRP => high recall
    assert(near.subsetOf(brute))
    assert(near.size >= (brute.size * 0.8).toInt,
      s"recall ${near.size}/${brute.size}")
  }

  test("lshKnnJoin recall vs brute on clustered vectors") {
    val df = clustered.toDF("vec_id", "embedding")
    val brute = Similarity.bruteKnnJoin(df, df, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshKnnJoin(df, df, "vec_id", "embedding",
        k = 3, nPlanes = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("nlistFor: floor 16 for small corpora, then cells bounded at " +
    "cellTarget — nlist grows linearly with n (the deployment " +
    "contract; a fixed nlist is the measured scale anti-pattern)") {
    assert(Similarity.nlistFor(0) == 16)
    assert(Similarity.nlistFor(96) == 16)     // e_mutual_margin_ivf sf0.01
    assert(Similarity.nlistFor(500) == 16)    // e_ndcg_ivf sf0.01
    assert(Similarity.nlistFor(1024) == 16)
    assert(Similarity.nlistFor(1025) == 17)   // first past the floor
    assert(Similarity.nlistFor(2000) == 32)   // e_ndcg_ivf sf0.1
    assert(Similarity.nlistFor(9600) == 150)  // 100x staging: nlist ∝ n
    // exact integer-ceil semantics match DuckDB CEIL(n/64.0): 64 is a
    // power of two, so the double division in the oracle is exact
    assert(Similarity.nlistFor(64 * 1000) == 1000)
    assert(Similarity.nlistFor(64 * 1000 + 1) == 1001)
    assert(Similarity.nlistFor(5, cellTarget = 1) == 16)
    intercept[IllegalArgumentException](Similarity.nlistFor(10, 0))
  }

  test("IVF: deterministic centroids, cell assignment total, probed " +
    "top-k recalls the true neighbors") {
    val df = clustered.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", nlist = 8)
    assert(cents.length == 8)
    // deterministic: second call returns identical centroids
    assert(Similarity.ivfCentroids(df, "vec_id", "embedding", 8).toSeq
      .map(_.toSeq) == cents.toSeq.map(_.toSeq))
    // every vector lands in exactly one valid cell
    val cells = df.select(
      Similarity.ivfCell(col("embedding"), cents, spark).as("cell"))
      .as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 8))
    // probed search vs exact baseline on a cluster member's vector
    val q = clustered.head._2
    val exact = Similarity.topKForVector(df, "vec_id", "embedding", q, 3)
      .select("neighbor_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopKForVector(df, "vec_id", "embedding", q, 3,
      cents, nprobe = 4)
      .select("neighbor_id").as[Long].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.66, s"recall $recall: $ivf vs $exact")
  }

  test("lshKnnJoin: 50%-share bucket is capped — bounded expansion, " +
    "clean-bucket recall intact") {
    // 100 identical vectors (one monster bucket in EVERY hash table —
    // identical vectors collide in all of them) + the clustered corpus
    val monster = (1000 until 1100).map(i =>
      (i.toLong, Seq.fill(16)(0.5f)))
    val df = (clustered ++ monster).toDF("vec_id", "embedding")
    val out = Similarity.lshKnnJoin(df, df, "vec_id", "embedding",
      k = 3, nPlanes = 6, tables = 4, maxBucket = 10)
    val rows = out.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    // capped: the monster bucket's rows never joined, so no query sees
    // a monster neighbor and total output stays bounded
    assert(rows.forall(_._2 < 1000L))
    assert(rows.groupBy(_._1).values.forall(_.length <= 3))
    // clean buckets unaffected: clustered queries keep their recall
    val brute = Similarity.bruteKnnJoin(
      clustered.toDF("vec_id", "embedding"),
      clustered.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = rows.filter(_._1 < 1000L).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("native ivfCell == Column twin; ties resolve to the lowest cell") {
    val df = clustered.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", 8)
    val diff = df.filter(
      Similarity.ivfCell(col("embedding"), cents, spark) =!=
        Similarity.ivfCellCols(col("embedding"), cents))
    assert(diff.count() == 0)
    // duplicate centroids force an exact tie -> lowest cell id wins,
    // in both the native and the twin formulation
    val tie = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val tcents: Array[Seq[Float]] =
      Array(Seq(0.0f, 1.0f), Seq(1.0f, 1.0f), Seq(1.0f, 1.0f))
    assert(tie.select(Similarity.ivfCell(col("embedding"), tcents, spark)
      .as("c")).as[Int].head() == 1)
    assert(tie.select(Similarity.ivfCellCols(col("embedding"), tcents)
      .as("c")).as[Int].head() == 1)
  }

  test("ivfCell determinism: Spark assignment == plain-Scala reference " +
    "at nlist 16/64/256") {
    // property pin for the cell rule (round-6 HALF_UP cosine argmax,
    // ties to lowest) so the native expression can't drift from the
    // documented semantics at scale knobs the Column twin can't reach
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(24)(rnd.nextGaussian().toFloat)))
    val df = corpus.toDF("vec_id", "embedding")
    def refCos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    def refCell(v: Seq[Float], cents: Array[Seq[Float]]): Int = {
      var best = -1; var bs = Double.NegativeInfinity
      cents.zipWithIndex.foreach { case (c, i) =>
        val s = java.math.BigDecimal.valueOf(refCos(v, c))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (s > bs) { bs = s; best = i }
      }
      best
    }
    Seq(16, 64, 256).foreach { nlist =>
      val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", nlist)
      val got = df.select(col("vec_id"),
          Similarity.ivfCell(col("embedding"), cents, spark).as("cell"))
        .as[(Long, Int)].collect().toMap
      corpus.foreach { case (id, v) =>
        assert(got(id) == refCell(v, cents), s"nlist=$nlist vec_id=$id")
      }
    }

    // TWO-LEVEL assignment: Spark == plain-Scala reference of the
    // documented walk (S = ceil(sqrt(nlist)) supers in pick order;
    // member -> nearest super with supers self-pinned; vector ->
    // super argmax then within-group argmax; all ties -> lowest id)
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def refCellHier(v: Seq[Float], cents: Array[Seq[Float]]): Int = {
      val ns = math.max(1, math.ceil(math.sqrt(cents.length)).toInt)
      def argmax(cands: Seq[Int], x: Seq[Float]): Int = {
        var best = cands.head; var bs = Double.NegativeInfinity
        cands.foreach { i =>
          val s = round6(refCos(x, cents(i)))
          if (s > bs) { bs = s; best = i }
        }
        best
      }
      val superOf = cents.indices.map(c =>
        if (c < ns) c else argmax(0 until ns, cents(c)))
      val s = argmax(0 until ns, v)
      argmax(cents.indices.filter(superOf(_) == s), v)
    }
    Seq(16, 64, 256).foreach { nlist =>
      val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", nlist)
      val got = df.select(col("vec_id"),
          Similarity.ivfCellHier(col("embedding"), cents, spark)
            .as("cell"))
        .as[(Long, Int)].collect().toMap
      corpus.foreach { case (id, v) =>
        assert(got(id) == refCellHier(v, cents),
          s"hier nlist=$nlist vec_id=$id")
      }
      // cells are valid and, at nlist <= corpus, the hier assignment
      // still lands every vector in SOME group member (a partition)
      assert(got.values.forall(c => c >= 0 && c < nlist))
    }
  }

  test("native ivfProbe == Column twin; head == ivfCell; clamps nprobe") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = corpus.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", 16)
    Seq(1, 4, 16, 99).foreach { np =>
      val diff = df.filter(
        Similarity.ivfProbe(col("embedding"), cents, np, spark) =!=
          Similarity.ivfProbeCols(col("embedding"), cents, np))
      assert(diff.count() == 0, s"nprobe=$np twin mismatch")
    }
    // probe head is the argmax cell (the IvfCell contract)
    val headDiff = df.filter(
      element_at(Similarity.ivfProbe(col("embedding"), cents, 4, spark), 1)
        =!= Similarity.ivfCell(col("embedding"), cents, spark))
    assert(headDiff.count() == 0)
    // tie rule: duplicate centroids -> the lower cell id probes first
    val tcents: Array[Seq[Float]] =
      Array(Seq(0.0f, 1.0f), Seq(1.0f, 1.0f), Seq(1.0f, 1.0f))
    val probedTie = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.ivfProbe(col("embedding"), tcents, 3, spark))
      .as[Seq[Int]].head()
    assert(probedTie == Seq(1, 2, 0))
    // the driver-side probe is the same ranking, query by query
    Seq(1, 4, 16).foreach { np =>
      val probed = df.select(col("vec_id"),
          Similarity.ivfProbe(col("embedding"), cents, np, spark))
        .as[(Long, Seq[Int])].collect().toMap
      corpus.foreach { case (id, v) =>
        assert(Similarity.probeCells(v, cents, np) == probed(id),
          s"nprobe=$np vec_id=$id")
      }
    }
  }

  test("ragged vectors: native ivfCell/ivfProbe == Column twins on " +
    "vectors shorter and longer than the centroids") {
    val rnd = new scala.util.Random(5)
    val cents = Array.fill(8)(Seq.fill(16)(rnd.nextGaussian().toFloat))
    val df = (0 until 24).map(i =>
        (i.toLong, Seq.fill(if (i % 2 == 0) 12 else 20)(
          rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    assert(df.filter(
      Similarity.ivfCell(col("embedding"), cents, spark) =!=
        Similarity.ivfCellCols(col("embedding"), cents)).count() == 0)
    Seq(1, 3, 8).foreach { np =>
      assert(df.filter(
        Similarity.ivfProbe(col("embedding"), cents, np, spark) =!=
          Similarity.ivfProbeCols(col("embedding"), cents, np))
        .count() == 0, s"nprobe=$np")
    }
  }

  test("NaN and infinite elements: the native IVF and PQ expressions " +
    "rank like the Column twins (NaN above every number, ties to the " +
    "lowest id) instead of throwing") {
    val cents = Similarity.ivfCentroids(
      clustered.toDF("vec_id", "embedding"), "vec_id", "embedding", 8)
    val nan = Seq.tabulate(16)(d => if (d == 3) Float.NaN else 1.0f)
    val inf = Seq.tabulate(16)(d =>
      if (d == 5) Float.PositiveInfinity else 0.5f)
    val df = (Seq((100L, nan), (101L, inf)) ++ clustered.take(2))
      .toDF("vec_id", "embedding")
    val cells = df.select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), cents, spark),
        Similarity.ivfCellCols(col("embedding"), cents),
        element_at(Similarity.ivfProbe(col("embedding"), cents, 4, spark), 1),
        Similarity.ivfCellHier(col("embedding"), cents, spark))
      .as[(Long, Int, Int, Int, Int)].collect()
    cells.foreach { case (id, cell, twin, probeHead, _) =>
      assert(cell == twin && probeHead == cell, s"vec_id=$id: $cells")
    }
    // every cosine of either row is NaN: all cells tie at the top
    assert(cells.filter(_._1 >= 100L).forall(r => r._2 == 0 && r._5 == 0),
      cells.toSeq.toString)
    assert(df.filter(
      Similarity.ivfProbe(col("embedding"), cents, 4, spark) =!=
        Similarity.ivfProbeCols(col("embedding"), cents, 4)).count() == 0)
    assert(Similarity.probeCells(nan, cents, 3) == Seq(0, 1, 2))

    // PQ: a NaN (or +Inf) element makes every distance of its subspace
    // NaN (or +Inf), so that subspace codes to 0; the other is unaffected
    val pq = (0 until 8).map(i => (i.toLong,
      Seq.tabulate(8)(d => (if ((i + d / 4) % 2 == 0) 1f else 9f) + i * 0.01f)))
      .toDF("vec_id", "embedding")
    val cbs = Similarity.pqCodebooks(pq, "vec_id", "embedding",
      m = 2, k = 2, iters = 1)
    val bad = Seq(
        (0L, Seq(9f, Float.NaN, 9f, 9f, 1f, 1f, 1f, 1f)),
        (1L, Seq(9f, 9f, 9f, 9f, 1f, Float.PositiveInfinity, 1f, 1f)),
        (2L, Seq(9f, 9f, 9f, 9f, 1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val nat = Similarity.pqEncode(bad, "vec_id", "embedding", cbs)
      .as[(Long, Seq[Int])].collect().toMap
    val twin = bad.select(col("vec_id"),
        Similarity.pqEncodeCols(col("embedding"), cbs).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(nat == twin, s"native=$nat twin=$twin")
    assert(nat(0L) == Seq(0, nat(2L)(1)) && nat(1L) == Seq(nat(2L)(0), 0),
      nat.toString)
  }

  test("ivfKnnJoin: full probe == bruteKnnJoin; partial probe stays " +
    "within probed cells") {
    val df = clustered.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 7 === 0)
    val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", 8)
    // probing EVERY cell makes IVF exact: must equal brute force
    val viaIvf = Similarity.ivfKnnJoin(queries, df, "vec_id", "embedding",
        k = 3, centroids = cents, nprobe = 8)
      .orderBy("query_id", "rank")
      .collect().toSeq
    val brute = Similarity.bruteKnnJoin(queries, df, "vec_id", "embedding",
        k = 3)
      .orderBy("query_id", "rank")
      .collect().toSeq
    assert(viaIvf == brute)
    // partial probe: every returned neighbor's cell is one the query probed
    val cellOf = df.select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), cents, spark).as("cell"))
      .as[(Long, Int)].collect().toMap
    val probes = queries.select(col("vec_id"),
        Similarity.ivfProbe(col("embedding"), cents, 2, spark).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    Similarity.ivfKnnJoin(queries, df, "vec_id", "embedding",
        k = 3, centroids = cents, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) =>
        assert(probes(q).contains(cellOf(n)), s"query $q neighbor $n")
      }
  }

  test("ivfKnnJoinIndexed == ivfKnnJoin on the same corpus and " +
    "centroids (the index is layout, not semantics)") {
    val df = clustered.toDF("vec_id", "embedding")
    val path = tempDir("graft_ivf_kj") + "/idx"
    val cents = Similarity.buildIvfIndex(df, "vec_id", "embedding", 8, path)
    val queries = df.filter(col("vec_id") % 5 === 0)
    val direct = Similarity.ivfKnnJoin(queries, df, "vec_id", "embedding",
        k = 3, centroids = cents, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val indexed = Similarity.ivfKnnJoinIndexed(spark, path, queries,
        "vec_id", "embedding", k = 3, nprobe = 3, centroids = cents)
      .orderBy("query_id", "rank").collect().toSeq
    assert(indexed == direct)
  }

  test("persisted IVF index: reload round-trips, partition-pruned query " +
    "== unindexed query") {
    val df = clustered.toDF("vec_id", "embedding")
    val path =
      tempDir("graft_ivf_t") + "/idx"
    val cents = Similarity.buildIvfIndex(df, "vec_id", "embedding", 8, path)
    assert(Similarity.loadIvfCentroids(spark, path).toSeq.map(_.toSeq) ==
      cents.toSeq.map(_.toSeq))
    val q = clustered.head._2
    val viaIndex = Similarity.ivfTopKIndexed(spark, path, q, 3, nprobe = 2,
      centroids = cents)
    val direct = Similarity.ivfTopKForVector(df, "vec_id", "embedding", q, 3,
      cents, nprobe = 2)
    assert(viaIndex.collect().toSeq == direct.collect().toSeq)
    // the probed-cell filter must prune PARTITIONS (hive layout), not
    // rows: the scan carries a partition filter on `cell`
    val scan = viaIndex.queryExecution.executedPlan.collectLeaves()
      .mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      scan.take(800))
  }

  test("IVF index build: files-per-cell bounded on multi-partition input " +
    "(the write clusters on cell first)") {
    // 6 input tasks × 8 cells would emit up to 48 files unshuffled; the
    // repartition(cell) in buildIvfIndex must bound it to 1 per cell
    val df = clustered.toDF("vec_id", "embedding").repartition(6)
    val path =
      tempDir("graft_ivf_f") + "/idx"
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 8, path)
    val cellDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName}: ${files.length} files — write not clustered by cell")
    }
  }

  test("IVF index append: frozen centroids serve old+new vectors, " +
    "files-per-cell stay bounded") {
    val all = clustered.toDF("vec_id", "embedding")
    val path =
      tempDir("graft_ivf_a") + "/idx"
    // build on the first half; append the second half (multi-partition)
    val cents = Similarity.buildIvfIndex(
      all.filter(col("vec_id") < 16), "vec_id", "embedding", 4, path)
    Similarity.appendToIvfIndex(
      all.filter(col("vec_id") >= 16).repartition(4),
      "vec_id", "embedding", path)
    // query with a vector whose whole cluster lives in the APPENDED half
    // — the top-k can only be right if appended rows are visible
    val q = clustered.last._2
    val viaIndex = Similarity.ivfTopKIndexed(spark, path, q, 5, nprobe = 2,
      centroids = cents)
    val direct = Similarity.ivfTopKForVector(all, "vec_id", "embedding",
      q, 5, cents, nprobe = 2)
    assert(viaIndex.collect().toSeq == direct.collect().toSeq)
    // clustered writes: ≤ 1 file from the build + 1 per append per cell
    new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length <= 2,
          s"${d.getName}: ${files.length} files after one build + one append")
      }
  }

  test("quantizeInt8: exact levels exact, error bounded by scale/2, " +
       "constant vector -> code 0 / zero error") {
    val d = Seq(
      (1L, Seq(0.0f, 51.0f, 255.0f)), // scale = 1: every value on-grid
      (2L, Seq(3.0f, 3.0f)),          // constant: hi == lo
      (3L, Seq(-1.0f, 0.3f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = d.select(col("vec_id"),
        Similarity.quantizeInt8(col("embedding")).as("q"))
      .select(col("vec_id"), col("q.codes"), col("q.mean_abs_err"),
        col("q.max_abs_err"))
      .as[(Long, String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("0,51,255", 0.0, 0.0)))
    assert(out(2L) == (("0,0", 0.0, 0.0)))
    val (codes3, mean3, max3) = out(3L)
    assert(codes3.split(",").head == "0" && codes3.split(",").last == "255")
    // per-dim error bound: half a quantization step (+ round-6 slack)
    val step = 2.0 / 255.0
    assert(max3 <= step / 2 + 1e-6 && mean3 <= max3)
  }

  test("thresholdPairsByLabel blocks by label and filters by cosine") {
    val out = Similarity.thresholdPairsByLabel(df, "vec_id", "embedding",
      "label", threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L), (2L, 3L)))
  }

  test("thresholdPairsByLabel hot-label guard fails fast instead of " +
    "exploding quadratically") {
    // one label holds 50% of rows
    val skewed = (0 until 200).map { i =>
      (i.toLong, Seq(1.0f, i.toFloat), if (i < 100) 0 else i)
    }.toDF("vec_id", "embedding", "label")
    val guarded = Similarity.thresholdPairsByLabel(skewed, "vec_id",
      "embedding", "label", threshold = 0.0, maxLabelRows = 50)
    val e = SparkSpec.withExpectedTaskFailures(
      intercept[Exception](guarded.count()))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxLabelRows")), e.toString)
    // and the guard stays silent when every label fits
    val ok = Similarity.thresholdPairsByLabel(skewed, "vec_id",
      "embedding", "label", threshold = 0.0, maxLabelRows = 200)
    assert(ok.count() > 0)
    // the bound check must be the counts-join, not a count window: the
    // window form shuffled + sorted the full table once per join side
    // (round-4 ADVICE — pinned so it can't regress)
    val plan = ok.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("thresholdPairsByLabelBucketed: bounded expansion on a 50%-share " +
    "label, exact-verified subset with high recall") {
    // clustered vectors all under ONE hot label (50% share) + filler
    val hot = clustered.map { case (id, v) => (id, v, 0) }
    val filler = (100 until 132).map(i =>
      (i.toLong, Seq.fill(16)(0.0f).updated(i % 16, 1.0f), i))
    val df = (hot ++ filler).toDF("vec_id", "embedding", "label")
    val exact = Similarity.thresholdPairsByLabel(df, "vec_id", "embedding",
        "label", threshold = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.thresholdPairsByLabelBucketed(df, "vec_id",
        "embedding", "label", threshold = 0.95, nPlanes = 8, tables = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact))         // exact verify: no false pos
    assert(bucketed.size >= (exact.size * 0.8).toInt,
      s"recall ${bucketed.size}/${exact.size}")
  }

  test("semDedup: earliest member of each semantic group survives; " +
    "distinct directions all kept; capped-out cells pass through kept") {
    // two tight clusters (tiny per-member jitter on one axis) + spread
    // fillers on distinct axes — fillers share no direction, clusters
    // collapse to their lowest id
    def base(axis: Int) = Seq.tabulate(16)(d => if (d == axis) 1.0f else 0.1f)
    val clusterA = Seq(10L, 11L, 12L).zipWithIndex.map { case (id, i) =>
      (id, base(0).updated(15, 0.1f + i * 0.001f)) }
    val clusterB = Seq(20L, 21L).zipWithIndex.map { case (id, i) =>
      (id, base(1).updated(15, 0.1f + i * 0.001f)) }
    val fillers = (30 until 40).map(i =>
      (i.toLong, Seq.tabulate(16)(d => if (d == i % 16) 1.0f else 0.0f)))
    val df = (clusterA ++ clusterB ++ fillers).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
        threshold = 0.99, nlist = 4)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out.size == 15)
    assert(out(10L) && !out(11L) && !out(12L)) // cluster A: earliest kept
    assert(out(20L) && !out(21L))              // cluster B: earliest kept
    assert((30L until 40L).forall(out(_)))     // distinct directions kept
    // a cap below every cell size: no row may VANISH from a dedup
    // audit — oversize cells FAIL OPEN, every member kept
    val capped = Similarity.semDedup(df, "vec_id", "embedding",
        threshold = 0.99, nlist = 4, maxCell = 1)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(capped.size == 15 && capped.values.forall(identity))
  }

  test("semDedup at-cap cell: block-paired verify matches the quadratic " +
    "reference and partitions on (cell, blk), never the cell alone") {
    // ONE cell (nlist = 1) filled exactly to maxCell, blockSize far
    // below the cell size → the verify must band into ceil(40/4) = 10
    // blocks and still reproduce the exact exists-earlier semantics.
    // 8 dup groups of 4 near-identical members (tiny same-direction
    // jitter) + 8 singleton directions.
    val groups = (0 until 8).flatMap { g =>
      (0 until 4).map { j =>
        val id = g * 4L + j
        (id, Seq.tabulate(16)(d =>
          (if (d == g) 1.0f else 0.01f) + (if (d == 15) j * 0.0001f else 0f)))
      }
    }
    val singles = (0 until 8).map(i =>
      (100L + i, Seq.tabulate(16)(d => if (d == 8 + (i % 8)) 1.0f else 0f)
        .updated(i % 8, 0.3f * i)))
    val data = groups ++ singles
    val d = data.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(d, "vec_id", "embedding",
      threshold = 0.999, nlist = 1, maxCell = data.size, blockSize = 4)
    // quadratic reference computed directly from the inputs
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val expect = data.map { case (id, v) =>
      id -> !data.exists { case (id2, v2) =>
        id2 < id &&
          BigDecimal(cos(v2, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble >= 0.999
      }
    }.toMap
    val got = out.select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(got == expect,
      got.toSeq.sortBy(_._1).zip(expect.toSeq.sortBy(_._1)).toString)
    // scale pin: the verify join keys on (cell, blk) — a cell-only key
    // would hash a hot cell's whole verify into one task. (At test
    // scale AQE broadcasts the blocks side; at corpus scale the same
    // keys drive the shuffle partitioning, cell/blockSize-way.)
    val plan = out.queryExecution.executedPlan.toString
    assert("\\[cell#\\d+L?, blk#".r.findAllIn(plan).nonEmpty,
      plan.take(2000))
  }

  test("kmeansLloyd: a Lloyd round separates constructed clusters and " +
    "is deterministic across runs") {
    // two tight direction-clusters plus noise: after one round, members
    // of each constructed cluster must share a cluster id, and the two
    // clusters must differ
    val rnd = new scala.util.Random(7)
    def jitter(v: Seq[Float], eps: Float) =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * eps)
    val rows =
      (0L to 9L).map(i => (i, jitter(Seq(1f, 0f, 0f, 0f), 0.05f))) ++
      (10L to 19L).map(i => (i, jitter(Seq(0f, 1f, 0f, 0f), 0.05f))) ++
      (20L to 27L).map(i => (i, jitter(Seq(0.5f, 0.5f, 0.7f, 0.1f), 0.6f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloyd(df, "vec_id", "embedding",
        k = 4, iters = 2)
      .as[(Long, Int)].collect().toMap
    val ca = (0L to 9L).map(out)
    val cb = (10L to 19L).map(out)
    assert(ca.distinct.size == 1, s"cluster A split: $ca")
    assert(cb.distinct.size == 1, s"cluster B split: $cb")
    assert(ca.head != cb.head, "constructed clusters merged")
    val out2 = Similarity.kmeansLloyd(df, "vec_id", "embedding",
        k = 4, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(out2 == out, "non-deterministic across runs")
  }

  test("PQ: native encode == Column twin; separated clusters share " +
    "code words; codebooks deterministic; ADC ranks the query's own " +
    "cluster first") {
    // dim 8, m=2 subspaces of 4, k=2 codes: two well-separated
    // patterns, jittered so Lloyd has real means to learn
    val base = Seq(
      Array(1f, 1f, 1f, 1f, 9f, 9f, 9f, 9f),
      Array(9f, 9f, 9f, 9f, 1f, 1f, 1f, 1f))
    val vecs = (0 until 12).map { i =>
      (i.toLong, base(i % 2).map(x => x + (i / 2) * 0.01f).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cbs = Similarity.pqCodebooks(df, "vec_id", "embedding",
      m = 2, k = 2, iters = 2)
    val nat = Similarity.pqEncode(df, "vec_id", "embedding", cbs)
      .as[(Long, Seq[Int])].collect().toMap
    val twin = df.select(col("vec_id"),
        Similarity.pqEncodeCols(col("embedding"), cbs).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(nat == twin, s"native=$nat twin=$twin")
    // one code word per cluster, and they differ
    assert((0 until 12 by 2).map(i => nat(i.toLong)).toSet.size == 1)
    assert((1 until 12 by 2).map(i => nat(i.toLong)).toSet.size == 1)
    assert(nat(0L) != nat(1L))
    // training is a pure function of the input
    val cbs2 = Similarity.pqCodebooks(df, "vec_id", "embedding",
      m = 2, k = 2, iters = 2)
    assert(cbs.flatten.flatten.toSeq == cbs2.flatten.flatten.toSeq)
    // ADC: identical code words tie, id tiebreak -> query's cluster
    // mates fill the top-k before any cross-cluster vector
    val top = Similarity.pqTopK(df, "vec_id", "embedding",
        queryId = 0L, topK = 3, m = 2, k = 2, iters = 2)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq(0L, 2L, 4L), top.toSeq.toString)
    assert(top.forall(_._2 >= 0.0))
    // serving path over precomputed codes == the end-to-end query
    val q0 = vecs(0)._2.map(_.toFloat).toArray
    val served = Similarity.pqTopKFromCodes(
        Similarity.pqEncode(df, "vec_id", "embedding", cbs),
        "vec_id", cbs, q0, topK = 3)
      .as[(Long, Double)].collect()
    assert(served.toSeq == top.toSeq)

    // IVF-PQ with a FULL probe (nprobe == nlist) must equal plain PQ
    // — the coarse quantizer then prunes nothing, so any divergence
    // is a composition bug
    val full = Similarity.ivfPqTopK(df, "vec_id", "embedding",
        queryId = 0L, topK = 3, nlist = 3, nprobe = 3, m = 2, k = 2,
        iters = 2)
      .as[(Long, Double)].collect()
    assert(full.toSeq == top.toSeq, s"full-probe=$full pq=$top")
    // a partial probe returns a subset of the corpus ranked the same
    // way (every returned distance appears in the unpruned ranking)
    val part = Similarity.ivfPqTopK(df, "vec_id", "embedding",
        queryId = 0L, topK = 3, nlist = 3, nprobe = 1, m = 2, k = 2,
        iters = 2)
      .as[(Long, Double)].collect()
    val allDists = Similarity.pqTopKFromCodes(
        Similarity.pqEncode(df, "vec_id", "embedding", cbs),
        "vec_id", cbs, q0, topK = 12)
      .as[(Long, Double)].collect().toMap
    assert(part.forall { case (id, d) => allDists(id) == d })

    // persisted index: load == built books; indexed query == in-memory;
    // frozen-books append == fresh encode of the same rows
    val dir = tempDir("graft_pqidx") + "/idx"
    val first = df.filter(col("vec_id") < 8)
    val rest = df.filter(col("vec_id") >= 8)
    val built = Similarity.buildPqIndex(first, "vec_id", "embedding",
      m = 2, k = 2, path = dir, iters = 2)
    val loaded = Similarity.loadPqCodebooks(spark, dir)
    assert(loaded.flatten.flatten.toSeq == built.flatten.flatten.toSeq)
    Similarity.appendToPqIndex(rest, "vec_id", "embedding", dir)
    val persisted = spark.read.parquet(s"$dir/codes")
      .as[(Long, Seq[Int])].collect().toMap
    val expected = Similarity.pqEncode(df, "vec_id", "embedding", built)
      .as[(Long, Seq[Int])].collect().toMap
    assert(persisted == expected,
      "append with frozen books must equal a fresh encode")
    val qAll = first.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val viaIdx = Similarity.pqTopKIndexed(spark, dir, "vec_id", qAll, 3)
      .as[(Long, Double)].collect().toSeq
    val viaMem = Similarity.pqTopKFromCodes(
        Similarity.pqEncode(df, "vec_id", "embedding", built),
        "vec_id", built, qAll, 3)
      .as[(Long, Double)].collect().toSeq
    assert(viaIdx == viaMem)
  }

  test("ivfPqResidualTopK: deterministic; query's own row ranks first " +
    "with near-zero self-distance; only probed-cell members returned") {
    // two tight clusters around distinct centers: residual books model
    // within-cluster displacement
    val vecs = (0 until 16).map { i =>
      val c = if (i % 2 == 0) 1.0f else 9.0f
      (i.toLong, Seq.tabulate(8)(d => c + (i / 2) * 0.01f + d * 0.001f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val run1 = Similarity.ivfPqResidualTopK(df, "vec_id", "embedding",
        queryId = 4L, topK = 5, nlist = 2, nprobe = 1, m = 2, k = 4,
        iters = 2)
      .as[(Long, Double)].collect().toSeq
    val run2 = Similarity.ivfPqResidualTopK(df, "vec_id", "embedding",
        queryId = 4L, topK = 5, nlist = 2, nprobe = 1, m = 2, k = 4,
        iters = 2)
      .as[(Long, Double)].collect().toSeq
    assert(run1 == run2, "non-deterministic")
    // nprobe=1 on well-separated clusters: only the query's own
    // (even) cluster can appear
    assert(run1.map(_._1).forall(_ % 2 == 0), run1.toString)
    assert(run1.forall(_._2 >= 0.0))
    // the query's own row carries the minimal distance of the result
    val self = run1.find(_._1 == 4L)
    assert(self.isDefined && self.get._2 == run1.map(_._2).min,
      run1.toString)
  }
  test("pqRecall: exact when the codebook can represent every vector " +
    "(k >= corpus); audit surfaces honest sub-1.0 recall otherwise") {
    // 8 vectors, m=4 subspaces of dim 4, k=8 codes: init samples all 8
    // vectors as centroids, one Lloyd round keeps each as its own code
    // -> ADC distances are exact -> recall 1.0
    val vecs = (0 until 8).map { i =>
      (i.toLong, (0 until 16).map(j =>
        ((i * 16 + j) % 7).toFloat / 3f + i).toArray.toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.pqRecall(vecs, "vec_id", "embedding",
        queryId = 3L, topK = 4, m = 4, k = 8, iters = 1)
      .collect().head
    assert(exact.getInt(0) == 4 && exact.getLong(1) == 4L &&
      exact.getDouble(2) == 1.0, exact.toString)
    // a 2-code book over 8 distinct vectors CANNOT be exact for every
    // query; the audit must report a valid, possibly sub-1.0 number
    val coarse = Similarity.pqRecall(vecs, "vec_id", "embedding",
        queryId = 3L, topK = 4, m = 4, k = 2, iters = 1)
      .collect().head
    assert(coarse.getLong(1) >= 1L && coarse.getLong(1) <= 4L)
    assert(coarse.getDouble(2) == coarse.getLong(1) / 4.0)
  }

  test("cluster purity/NMI composition: cleanly separable clusters " +
    "with matching labels score purity 1 and nmi 1") {
    import spark.implicits._
    // seed the portable-hash init with one id per cluster: order ids
    // by the init hash and alternate cluster membership of the first
    // two
    def ph(id: Long) = ((id % 2147483647L) * 2654435761L) % 2147483647L
    val ids = (1L to 8L).sortBy(i => (ph(i), i))
    val cl = ids.zipWithIndex.map { case (id, i) =>
      if (i == 0 || (i >= 2 && i % 2 == 0)) (id, Seq(1f, 0f), 0)
      else (id, Seq(0f, 1f), 1)
    }
    val emb = cl.toDF("vec_id", "embedding", "label")
    val asg = Similarity.kmeansLloyd(emb, "vec_id", "embedding",
        k = 2, iters = 2)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    // every cluster holds exactly one label
    val mix = asg.groupBy("cluster")
      .agg(countDistinct("label").as("d")).as[(Int, Long)]
      .collect().toMap
    assert(mix.values.forall(_ == 1L), mix.toString)
    val mi = graft.ops.Quality.mutualInfo(asg, "cluster", "label")
      .collect().head
    // round-6 ln sums leave nmi a rounding ulp under 1.0
    assert(mi.getDouble(5) >= 0.999999, s"nmi ${mi.getDouble(5)}")
  }

  test("embeddingQc: hand-computed per-dim moments, range, and the " +
    "dead-dimension zero count") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1f, 3f, 0f)),
      (2L, Seq(3f, 5f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingQc(emb, "vec_id", "embedding")
      .orderBy("dim")
      .as[(Int, Long, Double, Double, Double, Double, Long)]
      .collect().toSeq
    assert(got == Seq(
      (0, 2L, 2.0, 1.0, 1.0, 3.0, 0L),
      (1, 2L, 4.0, 1.0, 3.0, 5.0, 0L),
      (2, 2L, 0.0, 0.0, 0.0, 0.0, 2L)), got.toString)
  }

  test("signBits: MSB-first 32-bit words, strictly-positive rule " +
    "(zeros clear), bit 63 never set; binaryTopK ranks by exact " +
    "Hamming with id tiebreak; binaryRecall counts shortlist overlap") {
    import spark.implicits._
    def vec(bits: Int => Boolean): Seq[Float] =
      (0 until 64).map(i => if (bits(i)) 1f else -1f)
    val emb = Seq(
      (17L, vec(_ => true)),          // query: all 64 bits set
      (1L, vec(_ => true)),           // identical → hamming 0
      (2L, vec(_ != 0)),              // dim 0 flipped → hamming 1
      (4L, vec(_ != 0)),              // same distance → id tiebreak
      (3L, vec(_ == 0)),              // 63 flips
      (5L, (0 until 64).map(_ => 0f)) // zeros → NO bits (strict > 0)
    ).toDF("vec_id", "embedding")
    val codes = emb
      .select(col("vec_id"),
        Similarity.signBitsCols(col("embedding"), 64).as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(codes(17L) == Seq(4294967295L, 4294967295L)) // 2×32 ones
    assert(codes(3L) == Seq(1L << 31, 0L)) // dim 0 = MSB of word 0
    assert(codes(5L) == Seq(0L, 0L))
    assert(codes.values.flatten.forall(w => w >= 0L),
      "sign-bit words must stay non-negative (bit 63 unused)")
    // d NOT a multiple of 32: the trailing partial block still packs
    // offset o at bit 31−o (left-shifted fold), matching the SQL
    // (31 − o) replay convention — d=40 puts dim 32 at word-1 bit 31
    // and dim 39 at word-1 bit 24
    val partial = Seq(
      (1L, (0 until 40).map(i => if (i == 32 || i == 39) 1f else -1f)),
      (2L, (0 until 40).map(i => if (i == 0) 1f else -1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.signBitsCols(col("embedding"), 40).as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(partial(1L) == Seq(0L, (1L << 31) | (1L << 24)),
      partial(1L).toString)
    assert(partial(2L) == Seq(1L << 31, 0L), partial(2L).toString)
    val top = Similarity.binaryTopK(emb, "vec_id", "embedding",
        queryId = 17L, topK = 4, d = 64)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(top == Seq((1, 1L, 0L), (2, 2L, 1L), (3, 4L, 1L),
      (4, 3L, 63L)), top.toString)
    // two-stage rerank: with the shortlist covering every candidate,
    // the output is the EXACT cosine order — id 5 (zero vector,
    // cosine 0) outranks id 3 (negative cosine) even though 3 beat 5
    // on Hamming; identical vectors 2/4 tie and break by id
    val rr = Similarity.binaryRerank(emb, "vec_id", "embedding",
        queryId = 17L, topK = 4, shortlist = 5, d = 64)
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(rr.map(r => (r._1, r._2)) ==
      Seq((1, 1L), (2, 2L), (3, 4L), (4, 5L)), rr.toString)
    assert(rr(0)._3 == 1.0 && rr(1)._3 == 0.96875 &&
      rr(2)._3 == 0.96875 && rr(3)._3 == 0.0, rr.toString)
    val rec = Similarity.binaryRecall(emb, "vec_id", "embedding",
        queryId = 17L, topK = 4, d = 64)
      .as[(Int, Long, Double)].collect().head
    // 5 candidates: binary top-4 {1,2,4,3}; exact cosine agrees on
    // {1,2,4} and prefers the zero-vector's 0.0 cosine over id 3's
    // negative one → overlap 3 of 4
    assert(rec == ((4, 3L, 0.75)), rec.toString)
  }

  test("prefixDimRecall: noisy tail dims fool the short prefix " +
    "(recall 0.5), the full prefix recovers (recall 1)") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),    // query
      (1L, Seq(1f, 0f, 0f, 0f)),    // exact: full cos 1, prefix cos 1
      (2L, Seq(0.5f, 0.5f, 0f, 0f)),// full cos .707 — true #2
      (3L, Seq(1f, 0f, 10f, 0f))    // prefix-2 cos 1 but full ~.0995
    ).toDF("vec_id", "embedding")
    val got = Similarity.prefixDimRecall(emb, "vec_id", "embedding",
        queryId = 0L, topK = 2, dims = Seq(2, 4))
      .orderBy("prefix_dim")
      .as[(Int, Long, Long, Double)].collect().toSeq
    // prefix-2 top2 = {1, 3} (ties at cos 1 break by id) vs full
    // top2 = {1, 2} -> 1 hit; prefix-4 == full -> 2 hits
    assert(got == Seq((2, 2L, 1L, 0.5), (4, 2L, 2L, 1.0)), got.toString)
  }

  test("kCenterGreedy: picks the three cluster exemplars before any " +
    "in-cluster duplicate; seed is the lowest id with null maximin") {
    import spark.implicits._
    // three tight direction clusters + duplicates inside each
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(1f, 0.001f, 0f)), // cluster A
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(0.001f, 1f, 0f)), // cluster B
      (5L, Seq(0f, 0f, 1f)), (6L, Seq(0f, 0.001f, 1f))  // cluster C
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(emb, "vec_id", "embedding", k = 3)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got.head == ((1, 1L, None)), got.toString)
    // rounds 2-3 must each pick a NEW cluster (maximin distance ~1),
    // never the duplicate of an already-covered one
    val picked = got.map(_._2).toSet
    assert(Set(Set(1L, 3L, 5L), Set(1L, 3L, 6L), Set(1L, 4L, 5L),
      Set(1L, 4L, 6L)).contains(picked), got.toString)
    assert(got.tail.forall(_._3.exists(_ > 0.9)),
      s"cross-cluster maximin must be ~1: $got")
  }

  test("kCenterAdvance: least-folds the newest center into carried " +
    "dmin (value-identical to a full recompute), null state " +
    "initializes, and the round's plan reads the corpus-scale frame " +
    "exactly once against two 1-row sides") {
    import spark.implicits._
    val dmin = Seq((2L, Seq(1f, 0f), Some(0.4)),
      (3L, Seq(0f, 1f), Some(0.9)), (4L, Seq(0f, 1f), None))
      .toDF("__id", "__v", "__dm").localCheckpoint()
    val newest = Seq((3L, Seq(0f, 1f)))
      .toDF("__id", "__v").localCheckpoint()
    val adv = Similarity.kCenterAdvance(dmin, newest)
    val got = adv.orderBy("__id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    // 3 drops (just selected); 2 keeps 0.4 (dist to newest = 1.0);
    // 4's null state initializes to its dist-to-newest (0.0)
    assert(got == Seq(2L -> Some(0.4), 4L -> Some(0.0)), got.toString)
    // one-pass contract: the carried state is scanned ONCE; the only
    // other inputs are the two 1-row projections of `newest`
    val plan = adv.queryExecution.optimizedPlan.toString
    val rdds = "LogicalRDD".r.findAllIn(plan).size
    val joins = "(?m)^\\s*(:[- ]*)?[+:]?[- ]*Join ".r
      .findAllIn(plan).size
    assert(rdds == 3, s"expected dmin once + newest twice:\n$plan")
    assert(joins == 2, s"expected exactly anti + cross:\n$plan")
  }

  test("powerIterationPca: rank-1 2-D data recovers the known " +
    "direction and eigenvalue; loadings unit-norm; eigenvalue " +
    "constant across rows") {
    import spark.implicits._
    // y = 2x for x in {0,1,2,3}: cov = var(x)*[[1,2],[2,4]],
    // var(x) = 5/3 -> eigenvector (1,2)/sqrt(5), eigenvalue 25/3
    val emb = Seq(0f, 1f, 2f, 3f).zipWithIndex
      .map { case (x, i) => (i.toLong, Seq(x, 2 * x)) }
      .toDF("vec_id", "embedding")
    val got = Similarity.powerIterationPca(emb, "vec_id", "embedding",
        iters = 6)
      .orderBy("dim").as[(Int, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(0, 1))
    val l = got.map(_._2)
    assert(math.abs(l(0) - 1.0 / math.sqrt(5)) < 1e-4 &&
      math.abs(l(1) - 2.0 / math.sqrt(5)) < 1e-4, got.toString)
    assert(math.abs(l.map(x => x * x).sum - 1.0) < 1e-4, "unit norm")
    val eig = got.map(_._3).distinct
    assert(eig.size == 1 && math.abs(eig.head - 25.0 / 3) < 1e-3,
      got.toString)
  }

  test("powerIterationPcaK: axis-aligned 4-D data recovers the two " +
    "known directions in eigenvalue order, components orthogonal, " +
    "eigenvalues descending and exact; k > d rejected") {
    import spark.implicits._
    // axes 0/1 carry all variance (a = ±10, b = ±1, all 4 combos
    // twice -> exactly diagonal covariance diag(800/7, 8/7, 0, 0))
    val emb = (for {
      rep <- 0 to 1; a <- Seq(-10f, 10f); b <- Seq(-1f, 1f)
    } yield Seq(a, b, 0f, 0f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.powerIterationPcaK(emb, "vec_id", "embedding",
        k = 2, iters = 6)
      .orderBy("component", "dim")
      .as[(Int, Int, Double, Double)].collect()
    val byComp = got.groupBy(_._1).view
      .mapValues(rs => (rs.sortBy(_._2).map(_._3), rs.head._4)).toMap
    val (l1, e1) = byComp(1)
    val (l2, e2) = byComp(2)
    // component 1 = axis 0 (var 800/7), component 2 = axis 1 (8/7)
    assert(math.abs(math.abs(l1(0)) - 1.0) < 1e-4 &&
      l1.drop(1).forall(x => math.abs(x) < 1e-3), l1.toString)
    assert(math.abs(math.abs(l2(1)) - 1.0) < 1e-4 &&
      math.abs(l2(0)) < 1e-3 &&
      l2.drop(2).forall(x => math.abs(x) < 1e-3), l2.toString)
    assert(math.abs(e1 - 800.0 / 7) < 1e-3, s"e1=$e1")
    assert(math.abs(e2 - 8.0 / 7) < 1e-3, s"e2=$e2")
    assert(e1 > e2, "eigenvalues must descend")
    val dot = l1.zip(l2).map { case (x, y) => x * y }.sum
    assert(math.abs(dot) < 1e-3, s"components not orthogonal: $dot")
    intercept[IllegalArgumentException] {
      Similarity.powerIterationPcaK(emb, "vec_id", "embedding",
        k = 5, iters = 2).collect()
    }
  }

  test("powerIterationPcaK: a dim that is null in EVERY row gets " +
    "NULL loadings (the former plan's null propagation), supported " +
    "dims keep their exact loadings and eigenvalue") {
    import spark.implicits._
    // 3-D corpus, dim 2 always null: no moment sums for dim 2 → no
    // covariance support → loading NULL, never 0.0; dims 0/1 carry
    // the 2-D rank-1 fixture (x, 2x) whose first component is known
    val emb = Seq(
      (0L, Seq[java.lang.Float](1f, 2f, null)),
      (1L, Seq[java.lang.Float](2f, 4f, null)),
      (2L, Seq[java.lang.Float](3f, 6f, null)),
      (3L, Seq[java.lang.Float](-1f, -2f, null)))
      .toDF("vec_id", "embedding")
    val got = Similarity.powerIterationPcaK(emb, "vec_id", "embedding",
        k = 1, iters = 6)
      .orderBy("dim")
      .select("dim", "loading", "eigenvalue").collect()
    assert(got.length == 3)
    assert(!got(0).isNullAt(1) && !got(1).isNullAt(1),
      "supported dims must keep loadings")
    assert(got(2).isNullAt(1),
      "all-null dim must emit NULL loading, not 0.0")
    // direction (1,2)/√5 up to sign; eigenvalue > 0 on all rows
    val l0 = got(0).getDouble(1); val l1 = got(1).getDouble(1)
    assert(math.abs(math.abs(l0) - 1.0 / math.sqrt(5)) < 1e-4 &&
      math.abs(l1 / l0 - 2.0) < 1e-3, s"($l0, $l1)")
    assert(got.forall(r => r.getDouble(2) > 0), "eigenvalue repeated")
  }

  test("linearCka: identical columns score 1; a PERMUTED copy scores " +
    "1 (orthogonal invariance); a scaled copy scores 1 (isotropic " +
    "invariance); a constant column is NULL; independent axes score " +
    "the hand value") {
    import spark.implicits._
    val xs = Seq(Seq(1f, 2f), Seq(3f, 1f), Seq(-2f, 4f), Seq(0f, -3f),
      Seq(5f, 2f), Seq(-1f, -1f))
    def cka(ys: Seq[Seq[Float]]): Option[Double] =
      Similarity.linearCka(
        xs.zip(ys).map { case (x, y) => (x, y) }.toDF("x", "y"),
        "x", "y")
        .select("cka").collect().head match {
          case r if r.isNullAt(0) => None
          case r => Some(r.getDouble(0))
        }
    assert(cka(xs).exists(v => math.abs(v - 1.0) < 1e-5))
    // permutation of dims = orthogonal transform -> still 1
    assert(cka(xs.map(_.reverse)).exists(v => math.abs(v - 1.0) < 1e-5))
    // isotropic scaling -> still 1
    assert(cka(xs.map(_.map(_ * 2f))).exists(v =>
      math.abs(v - 1.0) < 1e-5))
    // constant column -> zero variance -> NULL
    assert(cka(xs.map(_ => Seq(7f, 7f))).isEmpty)
    // hand value: y = first dim only (1-D). Cov_xy = [cov(x1,x1);
    // cov(x2,x1)], CKA = (c11^2 + c21^2) / (||Cxx||_F * c11)
    val y1 = xs.map(x => Seq(x.head))
    val got = cka(y1).get
    val n = xs.length.toDouble
    val m1 = xs.map(_.head.toDouble).sum / n
    val m2 = xs.map(_(1).toDouble).sum / n
    def cv(a: Seq[Double], b: Seq[Double], ma: Double, mb: Double) =
      a.zip(b).map { case (p, q) => (p - ma) * (q - mb) }.sum / (n - 1)
    val x1 = xs.map(_.head.toDouble); val x2 = xs.map(_(1).toDouble)
    val c11 = cv(x1, x1, m1, m1); val c12 = cv(x1, x2, m1, m2)
    val c22 = cv(x2, x2, m2, m2)
    val expect = (c11 * c11 + c12 * c12) /
      (math.sqrt(c11 * c11 + 2 * c12 * c12 + c22 * c22) * c11)
    assert(math.abs(got - expect) < 1e-4, s"$got vs $expect")
  }

  test("pcaProject: axis-aligned data projects to its centered " +
    "coordinates; whitening rescales by 1/sqrt(lambda); zero-variance " +
    "components whiten to NULL") {
    import spark.implicits._
    // the pcaK fixture: comp1 = ±axis0 (lambda 800/7), comp2 = ±axis1
    // (8/7); means are exactly 0, so raw coords are ±a·s1 / ±b·s2 for
    // the iteration's sign s
    val emb = (for {
      rep <- 0 to 1; a <- Seq(-10f, 10f); b <- Seq(-1f, 1f)
    } yield Seq(a, b, 0f, 0f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val basis = Similarity.powerIterationPcaK(emb, "vec_id",
      "embedding", k = 2, iters = 6)
    val raw = Similarity.pcaProject(emb, "vec_id", "embedding", basis)
      .as[(Long, Int, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3.get).toMap
    val a0 = Seq(-10.0, 10.0, -10.0, 10.0, -10.0, 10.0, -10.0, 10.0)
    // vec_id i has a = ±10 alternating with b inner: order is
    // (a,b) = (-10,-1),(-10,1),(10,-1),(10,1) per rep
    val abs1 = (0L to 7L).map(i => math.abs(raw((i, 1))))
    assert(abs1.forall(v => math.abs(v - 10.0) < 1e-4), raw.toString)
    val abs2 = (0L to 7L).map(i => math.abs(raw((i, 2))))
    assert(abs2.forall(v => math.abs(v - 1.0) < 1e-4), raw.toString)
    // whitened: |coord| = |raw| / sqrt(lambda)
    val white = Similarity.pcaProject(emb, "vec_id", "embedding",
        basis, whiten = true)
      .as[(Long, Int, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val s1 = 10.0 / math.sqrt(800.0 / 7)
    val s2 = 1.0 / math.sqrt(8.0 / 7)
    assert((0L to 7L).forall(i =>
      math.abs(math.abs(white((i, 1)).get) - s1) < 1e-4), white.toString)
    assert((0L to 7L).forall(i =>
      math.abs(math.abs(white((i, 2)).get) - s2) < 1e-4), white.toString)
    // a zero-eigenvalue component whitens to NULL, not a divide
    val zeroBasis = Seq((1, 0, 1.0, 0.0), (1, 1, 0.0, 0.0),
      (1, 2, 0.0, 0.0), (1, 3, 0.0, 0.0))
      .toDF("component", "dim", "loading", "eigenvalue")
    val z = Similarity.pcaProject(emb, "vec_id", "embedding",
        zeroBasis, whiten = true)
      .as[(Long, Int, Option[Double])].collect()
    assert(z.nonEmpty && z.forall(_._3.isEmpty), z.mkString(","))
    assert(a0.length == 8)
  }

  test("mmrRerank: low lambda skips the exact duplicate for the " +
    "orthogonal doc; high lambda degenerates to relevance order; " +
    "id tiebreak on equal scores") {
    import spark.implicits._
    // 1 and 2 are EXACT duplicates of the query direction; 3 is
    // correlated (cos .8 to q and to 1); 4 is orthogonal (cos 0)
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)),
      (3L, Seq(0.8f, 0.6f)), (4L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding")
    def ranks(lambda: Double): Seq[(Int, Long)] =
      Similarity.mmrRerank(emb, "vec_id", "embedding", queryId = 0L,
          candidates = 4, k = 3, lambda = lambda)
        .orderBy("rank").select("rank", "vec_id")
        .as[(Int, Long)].collect().toSeq
    // λ=0.3 greedy: pick 1 (rel tie with 2, id breaks); then the dup
    // scores .3·1−.7·1 = −0.4, doc 3 scores .24−.56 = −0.32, the
    // orthogonal doc 4 scores 0−0 = 0 → pick 4; then 3 (−0.32 > −0.4)
    assert(ranks(0.3) == Seq((1, 1L), (2, 4L), (3, 3L)))
    // λ=0.9: penalty negligible → pure relevance order 1, 2, 3
    assert(ranks(0.9) == Seq((1, 1L), (2, 2L), (3, 3L)))
    // relevance column carries the rounded cosine to the query
    val rel = Similarity.mmrRerank(emb, "vec_id", "embedding", 0L,
        candidates = 4, k = 1, lambda = 0.5)
      .select("relevance").as[Double].collect().head
    assert(rel == 1.0)
  }

  test("centroidDrift: orthogonal sum vectors score 0, parallel 1, " +
    "opposite -1; an empty slice nulls the cosine; counts per slice") {
    import spark.implicits._
    val df = Seq(
      ("g", 1L, Seq(0.0f, 1.0f)), ("g", 2L, Seq(1.0f, 0.0f)),
      ("h", 4L, Seq(1.0f, 1.0f)), ("h", 5L, Seq(2.0f, 2.0f)),
      ("i", 6L, Seq(0.5f, 0.5f)), ("i", 7L, Seq(-0.5f, -0.5f)),
      ("j", 8L, Seq(1.0f, 0.0f))
    ).toDF("label", "vec_id", "embedding")
    val got = Similarity.centroidDrift(df, "label", "embedding",
        col("vec_id") % 2 === 0)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("g") == ((1L, 1L, Some(0.0))), got("g").toString)
    assert(got("h") == ((1L, 1L, Some(1.0))), got("h").toString)
    assert(got("i") == ((1L, 1L, Some(-1.0))), got("i").toString)
    assert(got("j") == ((1L, 0L, None)), got("j").toString)
  }

  test("marginMutualKnn: mutual top-1 only (a hub equidistant vector " +
    "never pairs), margins above 1 for true matches, cosines exact " +
    "to the round-6 grid") {
    import spark.implicits._
    // A: axis vectors; B: near-axis partners + an equidistant hub
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.0f, 1.0f)),
      (11L, 1, Seq(1.0f, 0.25f)), (12L, 1, Seq(0.25f, 1.0f)),
      (13L, 1, Seq(0.75f, 0.75f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.marginMutualKnn(df, "vec_id", "embedding",
        col("label") === 0, k = 2)
      .as[(Long, Long, Double, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val cosAxis = r6(1.0 / math.sqrt(1.0625))   // a1~b1, a2~b2
    val cosHub = r6(0.75 / math.sqrt(1.125))    // a*~b3
    val cosFar = r6(0.25 / math.sqrt(1.0625))   // a1~b2, a2~b1
    // mutual top-1: only the two axis pairs; the hub b3's top-1 (a1
    // by id tiebreak) does not reciprocate
    assert(got.keySet == Set((1L, 11L), (2L, 12L)), got.toString)
    assert(got((1L, 11L))._1 == cosAxis, got.toString)
    // margin replicated: neighborhood means are truncating micro divs
    val mu = (x: Double) => (BigDecimal(x) * 1000000).toLong
    val ma = (mu(cosAxis) + mu(cosHub)) / 2
    val mb = (mu(cosAxis) + mu(cosFar)) / 2
    val expMargin = r6(2.0 * mu(cosAxis) / (ma + mb).toDouble)
    assert(got((1L, 11L))._2.contains(expMargin), got.toString)
    assert(got.values.forall(_._2.exists(_ > 1.0)), got.toString)
  }

  test("marginMutualKnnIvf: full probe + shortlistK >= k is " +
    "VALUE-IDENTICAL to the brute op; partial probe recalls the " +
    "clustered matches; shortlistK < k rejected") {
    import spark.implicits._
    // clusters are tight (0.02 sigma around 8 bases): each even
    // point's true partner is an odd point of the SAME cluster
    val df = clustered.toDF("vec_id", "embedding")
    val inA = col("vec_id") % 2 === 0
    val brute = Similarity.marginMutualKnn(df, "vec_id", "embedding",
        inA, k = 2)
      .as[(Long, Long, Double, Option[Double])].collect().toSet
    val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", 8)
    // nprobe = nlist: every cell probed -> each side's true
    // top-shortlistK survives, so mutuality, ranks, and k-NN means
    // all coincide with the brute computation
    val full = Similarity.marginMutualKnnIvf(df, "vec_id", "embedding",
        inA, k = 2, centroids = cents, nprobe = 8, shortlistK = 16)
      .as[(Long, Long, Double, Option[Double])].collect().toSet
    assert(full == brute && brute.nonEmpty, s"$full vs $brute")
    // partial probe: approximate, but the tight clusters keep the
    // mutual pairs recallable (pair ids, not margins — a missing
    // shortlist entry may shift a neighborhood mean)
    val part = Similarity.marginMutualKnnIvf(df, "vec_id", "embedding",
        inA, k = 2, centroids = cents, nprobe = 2, shortlistK = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(r => (r._1, r._2))
    assert(part.intersect(bruteIds).size * 4 >= bruteIds.size * 3,
      s"recall ${part.intersect(bruteIds).size}/${bruteIds.size}")
    intercept[IllegalArgumentException] {
      Similarity.marginMutualKnnIvf(df, "vec_id", "embedding", inA,
        k = 4, centroids = cents, nprobe = 2, shortlistK = 3)
    }
  }

  test("marginMutualKnnFromPairs: ranks and neighborhood means are " +
    "computed WITHIN the supplied pair frame (shortlist semantics)") {
    import spark.implicits._
    // hand-built shortlist: a1's true global top-1 (b2, cos .9) is
    // ABSENT, so within the frame a1<->b1 becomes mutual top-1 and
    // the neighborhood means only see the listed pairs
    val pairs = Seq(
      (1L, 11L, 0.5), (1L, 12L, 0.4), (2L, 12L, 0.8)
    ).toDF("a_id", "b_id", "cosine")
    val got = Similarity.marginMutualKnnFromPairs(pairs, k = 2)
      .as[(Long, Long, Double, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == Set((1L, 11L), (2L, 12L)), got.toString)
    // a1's mean over its in-frame top-2 = (500000+400000)/2 = 450000;
    // b1's mean = 500000; margin = 2*500000/950000
    val exp = BigDecimal(2.0 * 500000 / 950000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 11L)) == ((0.5, Some(exp))), got.toString)
  }

  test("simplifiedSilhouette: perfect separation scores 1; a " +
    "misassigned point goes negative and drags its cluster mean; a " +
    "single cluster is undefined (null)") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)),
      (11L, Seq(0.0f, 1.0f)), (12L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val asg = Seq((1L, 0), (2L, 0), (3L, 0), (11L, 1), (12L, 1))
      .toDF("vec_id", "cluster")
    val got = Similarity.simplifiedSilhouette(emb, "vec_id",
        "embedding", asg)
      .as[(Int, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // cluster 0 sums to [2e6, 1e6]: the two axis points score
    // s = 1 - cos([1,0],[2,1]) ... = 0.894427, the misassigned
    // [0,1] point scores -1; truncating mean = 262951 micros
    assert(got(0) == ((3L, Some(0.262951))), got.toString)
    assert(got(1) == ((2L, Some(1.0))), got.toString)
    // one cluster only: no "other" centroid exists
    val one = Similarity.simplifiedSilhouette(emb, "vec_id",
        "embedding", asg.withColumn("cluster",
          org.apache.spark.sql.functions.lit(0)))
      .as[(Int, Long, Option[Double])].collect().head
    assert(one._3.isEmpty, one.toString)
  }
}
