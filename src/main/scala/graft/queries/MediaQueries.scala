package graft
package queries

import org.apache.spark.sql.functions._

import Fixtures._

/** Multimodal queries (prefix m): media ingest, image/GIF/WAV decode,
  * frame sampling and perceptual-hash near-duplicates. */
object MediaQueries {
  val queries: Seq[Query] = Seq(
    Query("m_media_meta", "binary payload + codec-free metadata",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .select(col("doc_id"),
            graft.media.Multimodal.byteLen(col("payload")).as("byte_len"),
            graft.media.Multimodal.contentSha(col("payload")).as("sha"),
            (lit(32) + pmod(graft.media.Multimodal.byteLen(col("payload")) * 7919,
              lit(4096))).cast("int").as("width"),
            (lit(32) + pmod(graft.media.Multimodal.byteLen(col("payload")) * 104729,
              lit(4096))).cast("int").as("height")),
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS sha,
        |  CAST(32 + (octet_length(encode(text)) * 7919) % 4096 AS INT) AS width,
        |  CAST(32 + (octet_length(encode(text)) * 104729) % 4096 AS INT) AS height
        |FROM documents""".stripMargin),

    // ---- multimodal plumbing: frame sampling (explode shape) over the
    // codec-free metadata path — every 7th frame of "video" rows, frame
    // count derived from payload length like m_media_meta's dims ----
    Query("m_frame_sample", "frame sampling (explode shape) over the",
      (s, dir) => {
        val media = t(s, dir, "documents")
          .select(col("doc_id").as("media_id"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit("video"))
              .otherwise(lit("image")).as("kind"),
            col("text").cast("binary").as("payload"))
        media.filter(col("kind") === "video")
          .withColumn("n_frames",
            (lit(1) + pmod(graft.media.Multimodal.byteLen(col("payload")),
              lit(300))).cast("int"))
          .select(col("media_id"),
            explode(sequence(lit(0L), (col("n_frames") - 1).cast("long"),
              lit(7L))).as("frame_index"))
      },
      """SELECT doc_id AS media_id,
        |  unnest(range(0, 1 + octet_length(encode(text)) % 300, 7)) AS frame_index
        |FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin),

    // ---- multimodal: perceptual-hash near-dup — 62-bit aHash (native
    // one-pass byte loop) over the payloads, 4×16-bit band buckets
    // (pigeonhole: hamming ≤ 3 pairs share a band), hamming verified
    // by bit_count(xor). The fixture doubles the corpus with one-byte-
    // appended copies, the near-identical-payload case a real media
    // dedup faces. ----
    Query("m_phash_neardup", "perceptual-hash near-dup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val media = docs.select(col("doc_id").as("media_id"),
            col("text").cast("binary").as("payload"))
          .unionByName(docs.select((col("doc_id") + 100000L).as("media_id"),
            concat(col("text"), lit(" ")).cast("binary").as("payload")))
        val h = media.select(col("media_id"),
          graft.media.Multimodal.aHash62(col("payload")).as("ah"))
        val bands = h.select(col("media_id"), col("ah"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("bk",
            call_function("shiftright", col("ah"),
              (col("band") * 16).cast("int")).bitwiseAND(lit(65535L)))
        bands.select(col("band"), col("bk"), col("media_id").as("id_a"),
            col("ah").as("ah_a"))
          .join(bands.select(col("band"), col("bk"),
            col("media_id").as("id_b"), col("ah").as("ah_b")),
            Seq("band", "bk"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("ah_a").bitwiseXOR(col("ah_b"))).as("hamming"))
          .filter(col("hamming") <= 3)
          .distinct()
      },
      // full aHash replay from the character stream (ASCII corpus:
      // chars == payload bytes), same integer block bounds and
      // cross-multiplied compare, then the identical band join
      """WITH media AS (
        |  SELECT doc_id AS media_id, text AS s FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' ' FROM documents),
        |by AS (
        |  SELECT media_id, CAST(length(s) AS BIGINT) AS n,
        |    list_transform(range(1, length(s) + 1),
        |      i -> CAST(ascii(substring(s, i, 1)) AS BIGINT)) AS b
        |  FROM media),
        |bl AS (SELECT media_id, n, list_sum(b) AS tot, b FROM by),
        |h AS (
        |  SELECT media_id,
        |    list_sum(list_transform(range(0, 62), k ->
        |      CASE WHEN list_sum(b[CAST(k*n//62 AS BIGINT) + 1 :
        |                           CAST((k+1)*n//62 AS BIGINT)]) * n
        |              > tot * ((k+1)*n//62 - k*n//62)
        |           THEN CAST(1 AS BIGINT) << CAST(k AS INT)
        |           ELSE 0 END)) AS ah
        |  FROM bl),
        |bands AS (
        |  SELECT media_id, ah, band,
        |    (ah >> CAST(band * 16 AS INT)) & 65535 AS bk
        |  FROM h, (SELECT unnest(range(0, 4)) AS band) b4)
        |SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b,
        |  CAST(bit_count(xor(a.ah, b2.ah)) AS INT) AS hamming
        |FROM bands a JOIN bands b2
        |  ON a.band = b2.band AND a.bk = b2.bk
        |  AND a.media_id < b2.media_id
        |WHERE bit_count(xor(a.ah, b2.ah)) <= 3""".stripMargin),

    // ---- multimodal plumbing: raw media INGEST through the real
    // binaryFile source. Stages one binary file per document (doc_id <
    // 200, a bounded fixture) into a SHARDED layout — repeated dir
    // structure, the shape a crawl produces — then ingests the tree and
    // proves per-file rows, intact bytes (sha), true file lengths, and
    // relative-path keying against the source-of-truth oracle. The
    // driver-side staging loop is fixture setup, not the operator: the
    // ingest itself is one vectorized binaryFile scan. ----
    Query("m_media_ingest", "raw media INGEST through the real",
      (s, dir) => {
        val tmp = tempDir("graft_mingest") + "/files"
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text")).collect()
        docs.foreach { r =>
          val id = r.getLong(0)
          val p = java.nio.file.Paths.get(tmp, s"s${id % 4}", s"doc_$id.bin")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, r.getString(1).getBytes("UTF-8"))
          ()
        }
        graft.media.Multimodal.ingestBinaryDir(s, tmp, "blob")
          .select(col("rel_path"), col("byte_len"),
            graft.media.Multimodal.contentSha(col("payload")).as("sha"))
      },
      // the staged file tree is derived from documents, so the oracle
      // recomputes every ingested row from the table itself
      """SELECT 's' || CAST(doc_id % 4 AS VARCHAR) || '/doc_' ||
        |    CAST(doc_id AS VARCHAR) || '.bin' AS rel_path,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS sha
        |FROM documents WHERE doc_id < 200""".stripMargin),

    // ---- multimodal: REAL image decode (r12). Synthetic banded PNGs
    // whose dims/pixels derive from doc_id alone are encoded
    // DISTRIBUTED (mapPartitions — no driver staging), then
    // imageStats runs a genuine ImageIO pixel decode per row; the
    // oracle recovers width/height/channel-sum from the generation
    // formula, so a stub that didn't really parse the bytes cannot
    // match. Integer micro-unit mean kills any double hazard. ----
    Query("m_image_decode", "REAL image decode (r12). Synthetic banded PNGs",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.media.Multimodal.syntheticPng(id))))
          .toDF("media_id", "payload")
        graft.media.Multimodal.imageStats(media).toDF()
      },
      """WITH g AS (
        |  SELECT doc_id,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h,
        |    doc_id % 256 AS g1, (doc_id * 7) % 256 AS g2
        |  FROM documents WHERE doc_id < 300),
        |c AS (
        |  SELECT doc_id, w, h, w * h AS n,
        |    3 * h * ((w // 2) * g1 + (w - w // 2) * g2) AS cs
        |  FROM g)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS BIGINT) AS n_pixels,
        |  CAST(cs AS BIGINT) AS chan_sum,
        |  CAST(cs * 1000000 // (3 * n) AS BIGINT) AS mean_luma_micros
        |FROM c""".stripMargin),

    // ---- multimodal: REAL audio decode — deterministic synthetic
    // 16-bit PCM WAVs parsed by the JDK's javax.sound reader (RIFF
    // header + full PCM stream decode); the oracle recovers format,
    // exact sample sum and peak from the generation formula — a
    // non-parsing stub cannot match. ----
    Query("m_wav_decode", "REAL audio decode",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.media.Multimodal.syntheticWav(id))))
          .toDF("media_id", "payload")
        graft.media.Multimodal.audioStats(media).toDF()
      },
      // the decode is REAL (ImageIO pixel parse); the oracle recovers
      // every decoded value from the synthetic-PNG generation formula:
      // w=8+id%24, h=8+id%16, left w//2 columns gray id%256, the rest
      // 7id%256 — chan_sum = 3h(w//2·g1 + (w−w//2)·g2); integer
      // micro-unit mean (both engines truncate non-negative division)
      // what a REAL WAV parse must read back, derived from the
      // generation formula (positive ints: % and // are div-safe)
      """WITH ids AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id < 300),
        |s AS (
        |  SELECT media_id,
        |    CAST(100 + media_id % 400 AS BIGINT) AS n,
        |    list_transform(range(0, CAST(100 + media_id % 400 AS BIGINT)),
        |      k -> (media_id * 31 + k * 7) % 2003 - 1001) AS smp
        |  FROM ids)
        |SELECT media_id, 1 AS channels,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  n AS n_samples,
        |  n * 1000000 // 8000 AS dur_micros,
        |  CAST(list_sum(smp) AS BIGINT) AS sample_sum,
        |  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT)
        |    AS peak
        |FROM s""".stripMargin),

    // ---- multimodal: REAL multi-frame decode — animated GIFs with
    // 1 + doc_id%7 frames, frame count read back by ImageIO's reader
    // (getNumImages(true)), every 2nd frame sampled. ----
    Query("m_gif_frames", "REAL multi-frame decode",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 120)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, "image", graft.media.Multimodal.syntheticGif(id))))
          .toDF("media_id", "kind", "payload")
        graft.media.Multimodal.sampleFrames(media, stride = 2,
          codec = graft.media.Multimodal.ImageIoCodec,
          kinds = Seq("image"))
      },
      // frame count read back by ImageIO from real animated-GIF bytes;
      // the oracle replays the generation formula 1 + doc_id%7
      """SELECT doc_id AS media_id,
        |  unnest(range(0, CAST(1 + doc_id % 7 AS BIGINT), 2)) AS frame_index
        |FROM documents WHERE doc_id < 120""".stripMargin)
  )
}
