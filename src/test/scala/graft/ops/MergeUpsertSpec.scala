package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def listFiles(dir: String): Map[String, (Long, Long)] = {
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet"))
        out(f.getAbsolutePath) = (f.length(), f.lastModified())
    }
    walk(new java.io.File(dir))
    out.toMap
  }

  test("mergeUpsert: updates replace, inserts add, untouched " +
    "partitions' files are byte-identical (never rewritten)") {
    val dir = tempDir("graft_mrg") + "/tbl"
    Seq((1L, "a", "v1"), (2L, "a", "v2"), (3L, "b", "v3"),
        (4L, "b", "v4"), (5L, "c", "v5"))
      .toDF("id", "p", "payload")
      .write.partitionBy("p").parquet(dir)
    val before = listFiles(dir)
    val updates = Seq((3L, "b", "v3-NEW"), (10L, "d", "v10"))
      .toDF("id", "p", "payload")
    val touched = Merge.mergeUpsert(spark, dir, updates, Seq("id"), "p")
    assert(touched.toSet == Set("b", "d"))
    val got = spark.read.parquet(dir)
      .select("id", "p", "payload").as[(Long, String, String)]
      .collect().toSet
    assert(got == Set((1L, "a", "v1"), (2L, "a", "v2"), (3L, "b", "v3-NEW"),
      (4L, "b", "v4"), (5L, "c", "v5"), (10L, "d", "v10")))
    // partitions a and c were not touched: same paths, sizes, mtimes
    val after = listFiles(dir)
    val untouched = before.filter(f =>
      f._1.contains("p=a") || f._1.contains("p=c"))
    untouched.foreach { case (path, meta) =>
      assert(after.get(path).contains(meta), s"rewritten: $path")
    }
    // and partition b's files DID change (old file replaced)
    assert(before.keys.filter(_.contains("p=b")).forall(!after.contains(_)))
  }

  test("mergeUpsert: idempotent — re-merging the same updates is a " +
    "no-op on the final state") {
    val dir = tempDir("graft_mrg2") + "/tbl"
    Seq((1L, "a", "v1"), (2L, "b", "v2")).toDF("id", "p", "payload")
      .write.partitionBy("p").parquet(dir)
    val updates = Seq((2L, "b", "v2-NEW")).toDF("id", "p", "payload")
    Merge.mergeUpsert(spark, dir, updates, Seq("id"), "p")
    val first = spark.read.parquet(dir)
      .select("id", "p", "payload").as[(Long, String, String)]
      .collect().toSet
    Merge.mergeUpsert(spark, dir, updates, Seq("id"), "p")
    val second = spark.read.parquet(dir)
      .select("id", "p", "payload").as[(Long, String, String)]
      .collect().toSet
    assert(first == second)
    assert(second == Set((1L, "a", "v1"), (2L, "b", "v2-NEW")))
  }

  test("mergeUpsert: empty updates touch nothing; partCol as key is " +
    "rejected (stranded-row hazard)") {
    val dir = tempDir("graft_mrg3") + "/tbl"
    Seq((1L, "a", "v1")).toDF("id", "p", "payload")
      .write.partitionBy("p").parquet(dir)
    val before = listFiles(dir)
    val empty = Seq.empty[(Long, String, String)].toDF("id", "p", "payload")
    assert(Merge.mergeUpsert(spark, dir, empty, Seq("id"), "p").isEmpty)
    assert(listFiles(dir) == before)
    intercept[IllegalArgumentException] {
      Merge.mergeUpsert(spark, dir,
        Seq((1L, "a", "x")).toDF("id", "p", "payload"), Seq("id", "p"), "p")
    }
    // null partition value fails fast instead of stranding base rows
    intercept[IllegalArgumentException] {
      Merge.mergeUpsert(spark, dir,
        Seq((1L, Option.empty[String], "x")).toDF("id", "p", "payload"),
        Seq("id"), "p")
    }
  }

  test("mergeUpsert: folding random update batches matches a model map " +
    "(property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // keys keep a FIXED partition (id % 3 -> p0/p1/p2): the documented
    // partition-stability contract
    val batchGen = Gen.listOfN(3, Gen.nonEmptyListOf(for {
      id <- Gen.choose(0L, 12L)
      pay <- Gen.alphaStr.map(_.take(4))
    } yield (id, s"p${id % 3}", pay)))
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(6).withWorkers(1)
    val prop = Prop.forAll(batchGen) { batches =>
      val dir = tempDir("graft_mrg_prop") + "/tbl"
      Seq((100L, "p1", "base")).toDF("id", "p", "payload")
        .write.partitionBy("p").parquet(dir)
      val model = scala.collection.mutable.Map(100L -> ("p1", "base"))
      batches.foreach { b =>
        // in-batch winner: highest payload per key (orderCol stand-in)
        val updates = b.toDF("id", "p", "payload")
        val deduped = WindowOps.dedupKeepLast(updates, Seq("id"),
          Seq(col("payload")))
        Merge.mergeUpsert(spark, dir, deduped, Seq("id"), "p")
        b.groupBy(_._1).foreach { case (id, rows) =>
          val win = rows.maxBy(_._3)
          model(id) = (win._2, win._3)
        }
      }
      val got = spark.read.parquet(dir)
        .select("id", "p", "payload").as[(Long, String, String)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      got == model.toMap
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, s"merge-model-equiv: $r")
  }

  private def mvAggs = Seq(
    Scale.SaltedAgg.count("id", "n"),
    Scale.SaltedAgg.sum("vd", "sv"),
    Scale.SaltedAgg.min("v", "mn"),
    Scale.SaltedAgg.max("v", "mx"))

  private def mvBatch(rows: Seq[(Long, String, String, Double)]) =
    rows.toDF("id", "d", "k", "v")
      .withColumn("vd", col("v").cast("decimal(18,2)"))

  test("incrementalAggMv: three loads == one-shot aggregation; count " +
    "merges by sum; schema stays pinned across loads") {
    val dir = tempDir("graft_mv") + "/mv"
    val all = Seq(
      (1L, "d1", "a", 1.5), (2L, "d1", "a", 2.5), (3L, "d1", "b", 10.0),
      (4L, "d2", "a", 4.0), (5L, "d2", "b", 5.0), (6L, "d2", "b", 6.0),
      (7L, "d3", "a", 7.0), (8L, "d3", "a", 8.0), (9L, "d3", "a", 0.25))
    val loads = all.grouped(3).toSeq
    loads.foreach(l =>
      Merge.incrementalAggMv(spark, dir, mvBatch(l), "d", Seq("k"), mvAggs))
    val got = spark.read.parquet(dir)
      .select(col("d").cast("string"), col("k"), col("n"),
        col("sv").cast("double"), col("mn"), col("mx"))
      .as[(String, String, Long, Double, Double, Double)].collect().toSet
    val want = mvBatch(all).groupBy(col("d"), col("k"))
      .agg(count(col("id")).as("n"), sum(col("vd")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .select(col("d"), col("k"), col("n"), col("sv").cast("double"),
        col("mn"), col("mx"))
      .as[(String, String, Long, Double, Double, Double)].collect().toSet
    assert(got == want)
    // schema pinned: decimal sum did NOT widen across merges
    val svType = spark.read.parquet(dir).schema("sv").dataType
    assert(svType == mvBatch(all).groupBy(col("d"))
      .agg(sum(col("vd")).as("sv")).schema("sv").dataType, svType.toString)
  }

  test("incrementalAggMv: untouched partitions' files never rewritten; " +
    "per-load cost is O(touched)") {
    val dir = tempDir("graft_mv2") + "/mv"
    Merge.incrementalAggMv(spark, dir,
      mvBatch(Seq((1L, "d1", "a", 1.0), (2L, "d2", "a", 2.0))),
      "d", Seq("k"), mvAggs)
    val before = listFiles(dir)
    val touched = Merge.incrementalAggMv(spark, dir,
      mvBatch(Seq((3L, "d2", "a", 3.0))), "d", Seq("k"), mvAggs)
    assert(touched == Seq("d2"))
    val after = listFiles(dir)
    val d1Before = before.filter(_._1.contains("d=d1"))
    assert(d1Before.nonEmpty &&
      d1Before.forall { case (p, s) => after.get(p).contains(s) })
    // and d2 merged: n=2, sum=5.0
    val d2 = spark.read.parquet(dir).filter(col("d") === "d2")
      .select(col("n"), col("sv").cast("double"))
      .as[(Long, Double)].collect().toSeq
    assert(d2 == Seq((2L, 5.0)))
  }

  test("scd2Upsert: change closes + opens, unchanged no-op, insert " +
    "opens; idempotent on final state; untouched buckets not rewritten") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tempDir("graft_scd2s") + "/t"
    val t0 = ts("2024-01-01 00:00:00"); val t1 = ts("2024-02-01 00:00:00")
    val base = Seq((1L, "a", t0), (2L, "b", t0), (3L, "c", t0))
      .toDF("k", "v", "ts")
    Merge.scd2Upsert(spark, dir, base, "k", Seq("v"), "ts",
      buckets = 64) // 64 buckets: keys land in distinct buckets
    val files0 = listFiles(dir)
    // update: k=1 changes, k=2 unchanged, k=4 inserts
    val upd = Seq((1L, "A", t1), (2L, "b", t1), (4L, "d", t1))
      .toDF("k", "v", "ts")
    Merge.scd2Upsert(spark, dir, upd, "k", Seq("v"), "ts", buckets = 64)
    def state() = spark.read.parquet(dir)
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, java.sql.Timestamp,
        Option[java.sql.Timestamp], Boolean)]
      .collect().toSet
    val expected = Set(
      (1L, "a", t0, Some(t1), false),  // closed
      (1L, "A", t1, None, true),       // replacement
      (2L, "b", t0, None, true),       // unchanged no-op
      (3L, "c", t0, None, true),       // not in batch
      (4L, "d", t1, None, true))       // insert
    assert(state() == expected, state().toString)
    // k=3's bucket was untouched by the batch: its file must be
    // byte-identical (not rewritten)
    val files1 = listFiles(dir)
    val untouched0 = files0.keys.filter(_.contains("__kb=")).toSet
    val stillThere = untouched0.intersect(files1.keys.toSet)
    assert(stillThere.exists(p => files0(p) == files1(p)),
      "expected at least one untouched bucket file to survive unchanged")
    // idempotence: re-applying the same batch changes nothing
    Merge.scd2Upsert(spark, dir, upd, "k", Seq("v"), "ts", buckets = 64)
    assert(state() == expected)
  }

  test("snapshotDiff: added/removed/changed/unchanged, null-safe value " +
    "compare, changed_cols in declaration order") {
    val v1 = Seq(
      (1L, Some("a"), Some(10.0)),   // unchanged
      (2L, Some("b"), Some(20.0)),   // removed
      (3L, Some("c"), Some(30.0)),   // changed: both cols
      (4L, None: Option[String], Some(40.0)), // changed: null -> value
      (5L, None: Option[String], None: Option[Double]) // unchanged (null==null)
    ).toDF("k", "s", "v")
    val v2 = Seq(
      (1L, Some("a"), Some(10.0)),
      (3L, Some("C"), Some(31.0)),
      (4L, Some("d"), Some(40.0)),
      (5L, None: Option[String], None: Option[Double]),
      (6L, Some("new"), Some(60.0))  // added
    ).toDF("k", "s", "v")
    val d = Merge.snapshotDiff(v1, v2, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2))).toMap
    assert(d(1L) == (("unchanged", "")))
    assert(d(2L) == (("removed", "")))
    assert(d(3L) == (("changed", "s,v")))
    assert(d(4L) == (("changed", "s")))
    assert(d(5L) == (("unchanged", "")))
    assert(d(6L) == (("added", "")))
  }
}
