package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Fixture corpus: 3 seeded near-dup pairs across the even/odd split,
    * plus unrelated docs. Sentences are long enough that a one-word edit
    * stays far above the 0.5 3-gram-shingle threshold. */
  private def fixture = {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    Seq(
      (0L, base),
      (1L, base + " again"),                       // near-dup of 0
      (2L, "completely different text about spark catalyst optimizer internals and codegen"),
      (3L, "totally unrelated words describing minhash banding and bucket collision rates"),
      (4L, base.replace("quick", "swift")),        // near-dup of 0 and 1
      (6L, "another indexed document with its own content about parquet row groups"),
      (7L, "another indexed document with its own content about parquet row group"), // near-dup of 6? odd side
      (9L, base + " yesterday")                    // near-dup of 0/4
    ).toDF("doc_id", "text")
  }

  private def brute(df: org.apache.spark.sql.DataFrame,
                    threshold: Double): Set[(Long, Long, Double)] = {
    val hs = df.select(col("doc_id"),
        graft.functions.NativeExpressions.poly_hash_set(
          Dedup.shingles(col("text"), 3)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    (for {
      (o, ho) <- hs.toSeq if o % 2 == 1
      (e, he) <- hs.toSeq if e % 2 == 0
      inter = (ho.toSet intersect he.toSet).size
      union = ho.size + he.size - inter
      j = BigDecimal(if (union == 0) 0.0 else inter.toDouble / union)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= threshold
    } yield (o, e, j)).toSet
  }

  test("build + probe == brute-force portable-hash jaccard; corpus text " +
    "never re-read at probe time (state only)") {
    val docs = fixture
    val path = tempDir("lshidx") + "/idx"
    LshIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      path, shingleN = 3, numHashes = 32, bands = 16)
    val got = LshIndex.probe(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", path, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val want = brute(docs, 0.5)
    assert(want.nonEmpty, "fixture must produce cross-split near-dups")
    assert(got == want)
    // the probe plan reads persisted state, not the corpus documents
    val plan = LshIndex.probe(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("idx/bands") && plan.contains("idx/docs"), plan)
    // exactly ONE window in the logical plan: the batch-side bucket
    // cap. A second window would mean the probe is re-capping
    // (= shuffling) the persisted bands per query — the corpus-sized-
    // shuffle bug the build-time cap exists to prevent
    val nWindows = LshIndex.probe(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", path, threshold = 0.5)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
    assert(nWindows == 1)
  }

  test("append == rebuild: probing (build A then append B) equals " +
    "probing build(A union B)") {
    val docs = fixture
    val a = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 4)
    val b = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") >= 4)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val p1 = tempDir("lshidx_inc") + "/idx"
    LshIndex.build(a, "doc_id", "text", p1)
    LshIndex.append(b, "doc_id", "text", p1)
    val p2 = tempDir("lshidx_full") + "/idx"
    LshIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p2)
    val inc = LshIndex.probe(batch, "doc_id", "text", p1, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val full = LshIndex.probe(batch, "doc_id", "text", p2, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full && inc.nonEmpty)
  }

  test("probe uses the index's OWN frozen params (meta roundtrip): an " +
    "index built at shingleN=2 probes with 2-gram shingles") {
    val docs = fixture
    val path = tempDir("lshidx_meta") + "/idx"
    LshIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      path, shingleN = 2, numHashes = 32, bands = 16)
    assert(LshIndex.readMeta(spark, path) == ((2, 32, 16, 1000)))
    // self-probe with identical text must yield jaccard 1.0 pairs
    val self = LshIndex.probe(
        docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(101L)),
        "doc_id", "text", path, threshold = 0.99)
      .as[(Long, Long, Double)].collect()
    assert(self.exists { case (n, i, j) => n == 101L && i == 0L && j == 1.0 })
  }

  test("PolyHashSet == Column twin on shingle arrays (incl. non-ASCII)") {
    val df = Seq(
      "the quick brown fox", "naïve café über αβγ", "", "a b c d e f",
      "repeat repeat repeat repeat").toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("sh"))
    val rows = df.select(
        graft.functions.NativeExpressions.poly_hash_set(col("sh")).as("fast"),
        Dedup.polyHashedShinglesCols(col("sh")).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (fast, ref) => assert(fast == ref) }
  }
}
