package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin: row-identical to plain join, partitions on (key, salt)") {
    // hot key 1L carries 90% of rows
    val large = (1 to 200).map(i =>
      (if (i <= 180) 1L else i.toLong, i.toLong)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (190L, "cold")).toDF("k", "label")
    val plain = large.join(small, Seq("k")).select("k", "payload", "label")
    val salted = Scale.saltedJoin(large, small, Seq("k"),
      saltSource = col("payload"), salts = 8)
      .select("k", "payload", "label")
    assert(plain.except(salted).count() == 0 &&
      salted.except(plain).count() == 0)
    assert(salted.queryExecution.executedPlan.toString
      .contains("__graft_salt"))
  }

  test("saltedAgg: two-phase sum/count/min/max equals direct aggregation") {
    val df = (1 to 300).map(i =>
      (if (i <= 280) "hot" else s"k$i", i.toDouble)).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(col("v")).as("n"),
        min("v").as("lo"), max("v").as("hi"))
      .as[(String, Double, Long, Double, Double)].collect().toSet
    // count carries its own merge form (sum of partial counts)
    val salted = Scale.saltedAgg(df, Seq("k"), col("v"),
      aggs = Seq(
        Scale.SaltedAgg.sum("v", "s"), Scale.SaltedAgg.count("v", "n"),
        Scale.SaltedAgg.min("v", "lo"), Scale.SaltedAgg.max("v", "hi")),
      salts = 8)
      .as[(String, Double, Long, Double, Double)].collect().toSet
    assert(salted == direct)
  }

  test("bucketed co-located join runs with zero exchanges") {
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Scale.writeBucketed(a, "graft_bucket_a", Seq("k"), 4, Seq("k"))
    Scale.writeBucketed(b, "graft_bucket_b", Seq("k"), 4, Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast strategy so bucketing is what saves the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), Seq("k"))
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1200))
      assert(joined.count() == 100)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compactParquet: sizes output files from input bytes, " +
    "content-identical") {
    val base = tempDir("graft_compact")
    val in = s"$base/in"
    val out = s"$base/out"
    val df = (1 to 5000).map(i => (i.toLong, s"payload_$i")).toDF("id", "v")
    df.repartition(40).write.parquet(in)
    def parquetFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in).size == 40)
    val totalBytes = parquetFiles(in).map(_.length()).sum
    // target = ~half the input bytes → expect exactly 2 output files
    val n = Scale.compactParquet(spark, in, out,
      targetFileBytes = (totalBytes + 1) / 2)
    assert(n == 2, s"expected 2 output files, got $n")
    assert(parquetFiles(out).size == 2)
    // content identical
    val back = spark.read.parquet(out)
    assert(back.count() == 5000)
    assert(df.except(back).count() == 0 && back.except(df).count() == 0)
    // output files are evenly sized (round-robin, not coalesce)
    val sizes = parquetFiles(out).map(_.length())
    assert(sizes.max < sizes.min * 2, sizes.toString)
  }

  test("mortonKey: interleaves bits — locality-preserving, matches " +
    "hand-computed values") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
    val got = df.select(Scale.mortonKey(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // morton(3,5) : x bits 11 -> 0b0101, y bits 101 -> 0b100010 -> 0b100111 = 39
    assert(got == Seq(0L, 1L, 2L, 39L, 4294967295L))
  }

  test("zorderWrite: per-file spans narrow on BOTH dims vs single-column" +
    " sorts; rows survive byte-identical") {
    import org.apache.spark.sql.functions.{col, rand, floor => ffloor}
    val base = tempDir("graft_z")
    // two independent uniform dims — the adversarial case for any
    // single-column sort
    val df = spark.range(20000).select(col("id"),
      ffloor(rand(1) * 1000).as("x"), ffloor(rand(2) * 1000).as("y"))
      .cache()
    val files = 16
    Scale.zorderWrite(df, "x", "y", s"$base/z", files = files)
    df.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/by_x")
    df.repartitionByRange(files, col("y")).sortWithinPartitions("y")
      .write.parquet(s"$base/by_y")
    def meanSpan(dir: String, c: String): Double = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).as("span"))
        .select("span").as[Long].collect()
      spans.sum.toDouble / spans.size
    }
    // linear sorts: sorted dim tight, other dim ~full span (~999)
    assert(meanSpan(s"$base/by_x", "y") > 900)
    assert(meanSpan(s"$base/by_y", "x") > 900)
    // z-order: BOTH dims bounded well below full span
    val zx = meanSpan(s"$base/z", "x")
    val zy = meanSpan(s"$base/z", "y")
    assert(zx < 600 && zy < 600, s"zx=$zx zy=$zy")
    // and the data itself is unchanged
    val back = spark.read.parquet(s"$base/z")
    assert(back.count() == 20000)
    assert(df.except(back).count() == 0 && back.except(df).count() == 0)
    df.unpersist() // the session is shared: leave its cache as found
  }

  test("zorderWrite: empty input / all-null layout column fails with a " +
    "meaningful message, not an unboxing NPE") {
    import spark.implicits._
    val base = tempDir("zorder")
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    val e1 = intercept[IllegalArgumentException] {
      Scale.zorderWrite(empty, "x", "y", s"$base/e1")
    }
    assert(e1.getMessage.contains("empty input or all-null"))
    val nulls = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("x", "y")
    val e2 = intercept[IllegalArgumentException] {
      Scale.zorderWrite(nulls, "x", "y", s"$base/e2")
    }
    assert(e2.getMessage.contains("empty input or all-null"))
  }
}
