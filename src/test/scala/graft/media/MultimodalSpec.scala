package graft.media

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    (1L, "image", "fake-jpeg-bytes-aaaa".getBytes("UTF-8"), "s3://x/1.jpg"),
    (2L, "video", "fake-mp4-bytes-bbbbbb".getBytes("UTF-8"), "s3://x/2.mp4"),
    (3L, "audio", Array.empty[Byte], "s3://x/3.wav")
  ).toDF("media_id", "kind", "payload", "source_uri")

  test("decodeMetadata: one row per media, deterministic dims, real sha") {
    val out = Multimodal.decodeMetadata(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(out.size == 3)
    assert(out(1L).byte_len == 20L)
    assert(out(1L).width >= 32 && out(1L).height >= 32)
    assert(out(2L).n_frames > 1)           // video gets frames
    assert(out(1L).n_frames == 1)          // image is single-frame
    assert(out(3L).byte_len == 0L)         // empty payload survives
    // sha matches an independent computation
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("fake-jpeg-bytes-aaaa".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L).sha == expected)
    // determinism: second run identical
    val again = Multimodal.decodeMetadata(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(again(2L).width == out(2L).width)
  }

  test("extractFeatures: fixed dim, L2-normalized, deterministic") {
    val f = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(m => m.media_id -> m.features).toMap
    assert(f.values.forall(_.length == 16))
    val n = math.sqrt(f(1L).map(x => x * x.toDouble).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    assert(f(3L).forall(_ == 0f)) // empty payload -> zero vector, no NaN
  }

  test("sampleFrames: video only, strided indices") {
    val frames = Multimodal.sampleFrames(media, stride = 50)
    val byId = frames.groupBy("media_id").count()
      .as[(Long, Long)].collect().toMap
    assert(byId.keySet == Set(2L))
    val idx = frames.select("frame_index").as[Long].collect()
    assert(idx.head == 0L && idx.forall(_ % 50 == 0))
  }

  test("ImageIoCodec: REAL header parse recovers synthetic-PNG dims; " +
    "real pixel decode recovers exact channel sums; GIF frame count " +
    "is the true sequence length; unclaimable bytes fall back to stub") {
    for (id <- Seq(0L, 17L, 255L, 4095L)) {
      val png = Multimodal.syntheticPng(id)
      // header-only parse (no pixel decode) gives the formula dims
      assert(Multimodal.ImageIoCodec.dimensionsOpt(png)
        .contains(((8 + id % 24).toInt, (8 + id % 16).toInt)), s"id=$id")
      val gif = Multimodal.syntheticGif(id)
      assert(Multimodal.ImageIoCodec.frameCountOpt(gif)
        .contains((1 + id % 7).toInt), s"id=$id")
    }
    // full pixel decode: banded grays come back bit-exact (PNG is
    // lossless), so chan_sum matches the closed form
    val id = 100L
    val (w, h) = ((8 + id % 24).toInt, (8 + id % 16).toInt)
    val (g1, g2) = ((id % 256).toInt, (id * 7 % 256).toInt)
    val img = Multimodal.ImageIoCodec.decode(Multimodal.syntheticPng(id)).get
    assert((img.getWidth, img.getHeight) == ((w, h)))
    assert((img.getRGB(0, 0) & 0xFFFFFF) == ((g1 << 16) | (g1 << 8) | g1))
    assert((img.getRGB(w - 1, h - 1) & 0xFFFFFF) ==
      ((g2 << 16) | (g2 << 8) | g2))
    // bytes no JDK reader claims: Option path None, total path = stub
    val junk = "not-an-image".getBytes("UTF-8")
    assert(Multimodal.ImageIoCodec.dimensionsOpt(junk).isEmpty)
    assert(Multimodal.ImageIoCodec.decode(junk).isEmpty)
    assert(Multimodal.ImageIoCodec.dimensions(junk, "image") ==
      Multimodal.StubCodec.dimensions(junk))
    assert(Multimodal.ImageIoCodec.frameCount(junk, "video") ==
      Multimodal.StubCodec.frameCount(junk, "video"))
  }

  test("imageStats: distributed real decode — exact integer channel " +
    "sum and truncating micro-unit mean; undecodable rows drop") {
    val rows = Seq(7L, 23L).map(id => (id, Multimodal.syntheticPng(id))) :+
      (99L, "garbage".getBytes("UTF-8"))
    val df = rows.toDF("media_id", "payload")
    val got = Multimodal.imageStats(df).collect()
      .map(s => s.media_id -> s).toMap
    assert(got.keySet == Set(7L, 23L)) // garbage row dropped
    for (id <- Seq(7L, 23L)) {
      val (w, h) = ((8 + id % 24).toInt, (8 + id % 16).toInt)
      val cs = 3L * h * ((w / 2) * (id % 256) + (w - w / 2) * (id * 7 % 256))
      val s = got(id)
      assert((s.width, s.height, s.n_pixels, s.chan_sum) ==
        ((w, h, w.toLong * h, cs)), s.toString)
      assert(s.mean_luma_micros == cs * 1000000L / (3L * w * h))
    }
  }

  test("AutoCodec: image rows take the real ImageIO path, non-image " +
    "rows keep the stub; decodeMetadata(AutoCodec) routes per row") {
    val m = Seq(
      (1L, "image", Multimodal.syntheticPng(42L)),
      (2L, "video", "fake-mp4".getBytes("UTF-8"))
    ).toDF("media_id", "kind", "payload")
    val out = Multimodal.decodeMetadata(m, Multimodal.AutoCodec)
      .collect().map(x => x.media_id -> x).toMap
    assert((out(1L).width, out(1L).height) ==
      (((8 + 42 % 24), (8 + 42 % 16))))
    assert(out(1L).n_frames == 1)
    // the video row still gets the deterministic stub values
    val fake = "fake-mp4".getBytes("UTF-8")
    assert((out(2L).width, out(2L).height) ==
      Multimodal.StubCodec.dimensions(fake))
    assert(out(2L).n_frames ==
      Multimodal.StubCodec.frameCount(fake, "video"))
  }

  test("sampleFrames with ImageIoCodec: true GIF frame counts drive " +
    "the strided explode") {
    val m = Seq(5L, 6L).map(id =>
      (id, "image", Multimodal.syntheticGif(id)))
      .toDF("media_id", "kind", "payload")
    val got = Multimodal.sampleFrames(m, stride = 2,
        codec = Multimodal.ImageIoCodec, kinds = Seq("image"))
      .as[(Long, Long)].collect().toSet
    // id 5 -> 6 frames -> 0,2,4 ; id 6 -> 7 frames -> 0,2,4,6
    assert(got == Set((5L, 0L), (5L, 2L), (5L, 4L),
      (6L, 0L), (6L, 2L), (6L, 4L), (6L, 6L)), got.toString)
  }

  test("column-level byteLen/contentSha need no codec") {
    val r = media.select(Multimodal.byteLen(col("payload")).as("n"),
      Multimodal.contentSha(col("payload")).as("sha"))
      .orderBy(col("n").desc).collect()
    assert(r(0).getAs[Long]("n") == 21L)
    assert(r(0).getAs[String]("sha").length == 64)
  }

  test("ingestBinaryDir: binaryFile source -> media rows, glob filter, " +
       "stable ids across re-ingest, payload bytes intact") {
    val dir = tempDir("graft_bin")
    val a = Array[Byte](1, 2, 3, 4)
    val b = Array[Byte](9, 8, 7)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "x.jpg"), a)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "y.jpg"), b)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "skip.txt"),
      Array[Byte](0))
    val got = Multimodal.ingestBinaryDir(spark, dir, "image", "*.jpg")
    val rows = got.select("source_uri", "payload", "byte_len", "kind")
      .as[(String, Array[Byte], Long, String)].collect()
      .map(r => r._1.split('/').last -> ((r._2.toSeq, r._3, r._4))).toMap
    assert(rows.keySet == Set("x.jpg", "y.jpg")) // glob excluded skip.txt
    assert(rows("x.jpg") == ((a.toSeq, 4L, "image")))
    assert(rows("y.jpg") == ((b.toSeq, 3L, "image")))
    // ids are a pure function of the RELATIVE path: re-ingest -> same ids
    val ids1 = got.select("source_uri", "media_id")
      .as[(String, Long)].collect().toMap
    val ids2 = Multimodal.ingestBinaryDir(spark, dir, "image", "*.jpg")
      .select("source_uri", "media_id").as[(String, Long)].collect().toMap
    assert(ids1 == ids2 && ids1.values.toSet.size == 2)
    // downstream codec ops accept the ingested shape directly
    assert(Multimodal.decodeMetadata(got.select("media_id", "kind",
      "payload")).count() == 2)
  }

  test("ingestBinaryDir: repeated basenames across subdirs get DISTINCT " +
       "ids (relative-path keying), and ids survive root relocation") {
    val dir = tempDir("graft_bin2")
    for (shard <- Seq("s0", "s1", "s2")) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir, shard))
      // the classic crawl layout: every shard emits part-00000.jpg
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, shard, "part-00000.jpg"),
        shard.getBytes("UTF-8"))
    }
    val got = Multimodal.ingestBinaryDir(spark, dir, "image", "*.jpg")
      .select("rel_path", "media_id").as[(String, Long)].collect().toMap
    assert(got.keySet == Set("s0/part-00000.jpg", "s1/part-00000.jpg",
      "s2/part-00000.jpg"))
    assert(got.values.toSet.size == 3) // basename keying would give 1
    // relocate the tree: relative paths (hence ids) are unchanged
    val moved = java.nio.file.Paths.get(tempDir("graft_bin3"))
      .resolve("deeper").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(moved))
    for (shard <- Seq("s0", "s1", "s2")) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(moved, shard))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dir, shard, "part-00000.jpg"),
        java.nio.file.Paths.get(moved, shard, "part-00000.jpg"))
    }
    val again = Multimodal.ingestBinaryDir(spark, moved, "image", "*.jpg")
      .select("rel_path", "media_id").as[(String, Long)].collect().toMap
    assert(again == got)
  }

  test("aHash62: native == pure-Column twin on varied payloads; " +
    "half-dark/half-bright hand case; identical payloads collide; " +
    "empty payload hashes to 0") {
    import org.apache.spark.sql.functions._
    // hand case: 62 'a'(97) then 62 'z'(122): overall mean 109.5 —
    // low half's blocks (mean 97) clear, high half's (122) set;
    // blocks are exactly one byte each at n=124
    val half = "a" * 62 + "z" * 62
    val rows = Seq(half, "hello world", "hello world", "",
      "The quick brown fox jumps over the lazy dog. " * 20)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t").withColumn("p", col("t").cast("binary"))
    val got = rows.select(col("id"),
        Multimodal.aHash62(col("p")).as("nat"),
        Multimodal.aHash62Cols(col("p")).as("twin"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (id, nat, twin) =>
      assert(nat == twin, s"row $id: native $nat != twin $twin")
    }
    val byId = got.map(r => r._1 -> r._2).toMap
    // exactly bits 31..61 set (the 'z' half)
    assert(byId(0L) == ((0L to 61L).filter(_ >= 31)
      .map(1L << _.toInt).sum), byId(0L).toString)
    assert(byId(1L) == byId(2L), "identical payloads must collide")
    assert(byId(3L) == 0L, "empty payload hashes to 0")
    // null payload -> null hash
    val n = rows.select(Multimodal.aHash62(lit(null).cast("binary")))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("cmpProd128: exact sign of a*b - c*d in the >2^63 regime " +
    "where a raw long product wraps (ADVICE r11 — giant-payload " +
    "aHash bits)") {
    import graft.functions.NativeExpressions.cmpProd128
    // 2^32 * 2^32 = 2^64 wraps to 0L: a long compare would say
    // 0 > 1 is false; the true product is larger
    val big = 1L << 32
    assert(cmpProd128(big, big, 1L, 1L) > 0)
    assert(cmpProd128(1L, 1L, big, big) < 0)
    assert(cmpProd128(big, big, big, big) == 0)
    // asymmetric wrap: 255*n^2/62-shaped operands at a 2 GB payload
    val nBytes = 2_000_000_000L
    val blk = nBytes / 62
    // block slightly above the overall mean: bs*n vs total*(hi-lo)
    assert(cmpProd128(128L * blk + 1, nBytes, 128L * nBytes, blk) > 0)
    assert(cmpProd128(128L * blk, nBytes, 128L * nBytes, blk) == 0)
    assert(cmpProd128(128L * blk - 1, nBytes, 128L * nBytes, blk) < 0)
    // randomized cross-check vs BigInt on 64-bit-straddling operands
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val Seq(a, b, c, d) = Seq.fill(4)(rnd.nextLong(1L << 36))
      val want = (BigInt(a) * BigInt(b)) compare (BigInt(c) * BigInt(d))
      assert(Integer.signum(cmpProd128(a, b, c, d)) == want,
        s"($a,$b,$c,$d)")
    }
  }

  test("WavCodec: a REAL JDK parse recovers the synthetic WAV's " +
    "format, sample count, exact sum and peak from the generation " +
    "formula; corrupt bytes drop; audioStats matches per id") {
    import spark.implicits._
    def expect(id: Long): (Long, Long, Long) = {
      val n = (100 + id % 400).toInt
      val samples = (0 until n).map(k => ((id * 31 + k * 7) % 2003) - 1001)
      (n.toLong, samples.sum, samples.map(math.abs).max)
    }
    // direct codec path
    val direct = Multimodal.WavCodec.decodeOpt(
      Multimodal.syntheticWav(42L))
    val (n42, sum42, peak42) = expect(42L)
    assert(direct.contains((1, 8000L, n42, sum42, peak42)),
      s"$direct vs ${expect(42L)}")
    // corrupt payload -> None, and audioStats drops the row
    assert(Multimodal.WavCodec.decodeOpt(Array[Byte](1, 2, 3)).isEmpty)
    val media = (Seq(7L, 123L, 400L).map(id =>
        (id, Multimodal.syntheticWav(id))) :+
        (999L, Array[Byte](9, 9, 9)))
      .toDF("media_id", "payload")
    val got = Multimodal.audioStats(media).collect()
      .map(a => a.media_id ->
        ((a.channels, a.sample_rate, a.n_samples, a.dur_micros,
          a.sample_sum, a.peak))).toMap
    assert(!got.contains(999L), "corrupt row must drop")
    Seq(7L, 123L, 400L).foreach { id =>
      val (n, sum, peak) = expect(id)
      assert(got(id) == ((1, 8000L, n, n * 1000000L / 8000L, sum, peak)),
        s"id=$id ${got(id)} vs ${expect(id)}")
    }
  }
}
