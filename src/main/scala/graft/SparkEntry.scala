package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.text.{Dedup, TextOps}
import graft.sim.Similarity
import graft.functions.NativeExpressions

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] exercises one operator family from SURVEY.md §2
  * (or a training-data-pipeline extension) through the graft operator
  * library, over the driver's synthetic tables (TESTDATA.md). [[oracleSql]]
  * holds the DuckDB-equivalent SQL for the hash-compare gate.
  *
  * Cross-engine determinism rules used throughout:
  *  - money/double sums go through exact decimal(18,2) accumulation, then
  *    ONE cast to double — immune to FP reduction order;
  *  - every computed integer is cast to an explicit width (DuckDB returns
  *    BIGINT where Spark returns INT, e.g. year(), length());
  *  - DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  *    replace-all semantics;
  *  - window orderings always carry a unique tiebreak column.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(GraftSession.tune(s), dir, name)

  /** [[t]] with the scale-adaptive scan fan-out
    * ([[Tables.fanOutScan]]): used by queries whose first stage does
    * CPU-heavy narrow work (shingling/minhash, exact-decimal moment
    * sums, per-vector arithmetic) that a single-row-group input would
    * otherwise pin to ONE task. No-op on inputs that already scan
    * wide (any production-scale table). */
  private def tf(s: SparkSession, dir: String, name: String,
                 key: String): DataFrame =
    Tables.loadFanned(GraftSession.tune(s), dir, name, key)

  /** Per-JVM cache of the re-staged events dir for the streaming query. */
  private val stagedEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the DUPLICATED events dir (streaming-dedup input:
    * every row staged twice, so the dedup has real work to undo). */
  private val stagedDupEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the two-tier dedup staging dir (two mod-time-
    * ordered file groups: originals, then late re-arrivals). */
  private val stagedTwoTierDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the streaming-upsert staging (source dir with two
    * mod-time-ordered file groups: originals, then revisions; sink dir
    * the stream merges into). Replays converge: a re-run's batch 1
    * re-merges the originals, batch 2 re-applies the revisions. */
  private val stagedUpsert =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Per-JVM cache of the merge-upsert base table dir (hive-partitioned
    * documents staging; the merge itself is idempotent, so re-running
    * the query against the mutated base converges to the same state). */
  private val stagedMergeBase =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val stagedAggMv =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val stagedDocsStreamDir =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Per-JVM cache of the fixed-width customer extract staging. */
  private val stagedFixedWidth =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the staged WARC fixture file (s16/t_warc). */
  private val stagedWarc =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the WET-export roundtrip staging dir (s17). */
  private val stagedWet =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the WARC drop-directory staging (s_stream). */
  private val stagedWarcStream =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The WARC fixture's response-page template, split at its two
    * dynamic holes (doc id, doc text) so the Scala staging, the
    * t_html_extract variant-0 page, and the DuckDB oracles all render
    * the SAME bytes from one source of truth. No single quotes (SQL
    * literal safety); the style/script/comment content exercises the
    * swallow rules; the nav list and the short unpunctuated title
    * exercise the density filter; the punctuated tail survives it. */
  private[graft] val WarcPage: (String, String, String) = (
    "<html><head><title>Doc ",
    "</title><style>body { margin: 0 }</style>" +
      "<script>var x = 1 < 2;</script></head><body>" +
      "<!-- chrome --><p>",
    "</p><ul><li>Home</li><li>About Us</li><li>Contact</li></ul>" +
      "<div>Short tail.</div></body></html>")

  private def warcPage(id: String, text: String): String =
    WarcPage._1 + id + WarcPage._2 + text + WarcPage._3

  /** [[warcPage]] as a DuckDB expression over id/text SQL exprs. */
  private def warcPageSql(idExpr: String, textExpr: String): String =
    "'" + WarcPage._1 + "' || " + idExpr + " || '" + WarcPage._2 +
      "' || " + textExpr + " || '" + WarcPage._3 + "'"

  /** [[CharsetSamples]] rendered as DuckDB CASE expressions over a
    * doc_id expression — the declared-charset label, the expected
    * decoded sample, and the sample's BYTE length in its own charset
    * (computed here in Scala: DuckDB cannot encode CJK charsets, and
    * that's the point of the direct expectation). */
  private def charsetCaseSql(idExpr: String): (String, String, String) = {
    val decl = CharsetSamples.zipWithIndex.map { case ((d, _, _), i) =>
      s"WHEN $i THEN '$d'" }.mkString(" ")
    val text = CharsetSamples.zipWithIndex.map { case ((_, _, s), i) =>
      s"WHEN $i THEN '$s'" }.mkString(" ")
    val len = CharsetSamples.zipWithIndex.map { case ((_, cs, s), i) =>
      s"WHEN $i THEN ${s.getBytes(cs).length}" }.mkString(" ")
    val n = CharsetSamples.size
    (s"CASE $idExpr % $n $decl END",
      s"CASE $idExpr % $n $text END",
      s"CASE $idExpr % $n $len END")
  }

  /** The t_robots_filter per-host robots.txt fixture — every RFC
    * 9309 rule shape on the t_domain_mix host set: a multi-agent
    * group the crawler's exact agent selects over `*`, wildcard +
    * `$`-anchor rules, an empty Disallow, and a host whose ONLY
    * group serves another agent (⇒ unrestricted for ours). */
  private[graft] val RobotsFixture: Seq[(String, String)] = Seq(
    "alpha.example.com" ->
      ("# alpha policy\nUser-agent: graftbot\nUser-agent: otherbot\n" +
        "Disallow: /private/\nAllow: /private/ok$\n" +
        "Disallow: /*.pdf$\n\nUser-agent: *\nDisallow: /\n"),
    "site-b.co.uk" ->
      "User-agent: *\nDisallow: /tmp*/\nAllow: /tmp\nDisallow:\n",
    "blog.blogspot.com" -> "User-agent: baduser\nDisallow: /\n",
    "gamma.org" -> "User-agent: *\nAllow: /a\nDisallow: /a/b\n")

  private val WarcHttpHead =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"

  /** [[WarcHttpHead]] as a DuckDB expression (chr-composed CRLFs). */
  private val WarcHttpHeadSql =
    "'HTTP/1.1 200 OK' || chr(13) || chr(10) || " +
      "'Content-Type: text/html' || chr(13) || chr(10) || " +
      "chr(13) || chr(10)"

  /** Stage the WARC fixture once per sf dir: a warcinfo record, one
    * record per documents row with doc_id ≡ 0 (mod 5) in doc_id order
    * — response (HTTP head + [[warcPage]]) when doc_id ≡ 0 (mod 10),
    * WET-style conversion (raw text) otherwise — and a deliberately
    * TRUNCATED tail record (Content-Length 1000, 15 payload bytes,
    * EOF) so the quarantine path is on the oracled surface. Dim-scale
    * collect (100 rows at sf0.01, 1k at sf0.1), the s8/s9 staging
    * discipline. */
  private def warcFixture(s: SparkSession, dir: String): String =
    stagedWarc.getOrElseUpdate(dir, {
      import graft.sources.WarcSource
      val rows = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id").collect()
      def hdrs(i: Long, typ: String, uri: Option[String], ct: String) =
        Seq("WARC-Type" -> typ,
          "WARC-Record-ID" -> s"<urn:graft:$i>",
          "WARC-Date" -> "2026-01-01T00:00:00Z") ++
          uri.map("WARC-Target-URI" -> _) :+ ("Content-Type" -> ct)
      val info = WarcSource.record(
        hdrs(0, "warcinfo", None, "application/warc-fields"),
        "software: graft-fixture".getBytes("UTF-8"))
      val recs = rows.toSeq.zipWithIndex.map { case (r, j) =>
        val id = r.getLong(0); val text = r.getString(1)
        val uri = s"https://fixture.test/doc/$id"
        if (id % 10 == 0)
          WarcSource.record(hdrs(j + 1L, "response", Some(uri),
            "application/http; msgtype=response"),
            (WarcHttpHead + warcPage(id.toString, text))
              .getBytes("UTF-8"))
        else
          WarcSource.record(hdrs(j + 1L, "conversion", Some(uri),
            "text/plain"), text.getBytes("UTF-8"))
      }
      val truncated = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:graft:${rows.length + 1}>\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        "WARC-Target-URI: https://fixture.test/truncated\r\n" +
        "Content-Type: text/plain\r\nContent-Length: 1000\r\n\r\n" +
        "partial payload").getBytes("UTF-8")
      val out = tempDir("graft_warc")
      val p = java.nio.file.Paths.get(out, "fixture.warc")
      java.nio.file.Files.write(p,
        WarcSource.writeWarc((info +: recs) :+ truncated))
      p.toString
    })
  /** Per-JVM cache of the HTTP-codings WARC fixture (t_warc_http). */
  private val stagedWarcHttp =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the CJK charset WARC fixture (t_charset_decode). */
  private val stagedWarcCjk =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the 3xx-redirect WARC fixture (t_redirects). */
  private val stagedWarcRedir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the streaming-curate drop dir (s_stream_warc_curate). */
  private val stagedWarcCurateStream =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage the redirect fixture once per sf dir: one 3xx `response`
    * record per documents row with doc_id ≡ 4 (mod 5) — status and
    * `Location` SHAPE by variant r = (doc_id/5) % 4: 301 absolute,
    * 302 relative (`../…`), 307 root-relative, 308 protocol-relative
    * — the four URI-reference forms RFC 9110 allows in Location and
    * real servers all send. Bodies are the short notice pages real
    * 3xx responses carry. */
  private def warcRedirFixture(s: SparkSession, dir: String): String =
    stagedWarcRedir.getOrElseUpdate(dir, {
      import graft.sources.WarcSource
      val rows = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 5 === 4)
        .select(col("doc_id")).orderBy("doc_id").collect()
      val recs = rows.toSeq.zipWithIndex.map { case (r, j) =>
        val id = r.getLong(0); val b = id / 8
        val (status, loc) = ((id / 5) % 4) match {
          case 0 => (301, s"https://moved.example.org/new$b")
          case 1 => (302, s"../moved$b")
          case 2 => (307, s"/r/$b")
          case _ => (308, s"//alt.example.net/p$b")
        }
        val payload = (s"HTTP/1.1 $status Redirect\r\n" +
          s"Location: $loc\r\nContent-Type: text/html\r\n\r\n" +
          "<html><body>Moved.</body></html>").getBytes("UTF-8")
        WarcSource.record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:graft:redir:$j>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> s"https://fixture.test/redir/$id",
          "Content-Type" -> "application/http; msgtype=response"),
          payload)
      }
      val out = tempDir("graft_warc_redir")
      val p = java.nio.file.Paths.get(out, "redir.warc")
      java.nio.file.Files.write(p, WarcSource.writeWarc(recs))
      p.toString
    })

  /** The charset fixture rows: (declared charset label, JDK charset,
    * sample text) — one SOURCE OF TRUTH for the Scala staging and the
    * DuckDB literal expectation (the samples are single-quote-free so
    * they embed in both). Each sample must round-trip its charset
    * (asserted at staging). */
  private[graft] val CharsetSamples: Seq[(String, String, String)] = Seq(
    ("shift_jis", "Shift_JIS", "日本語のテキスト"),
    // ① (U+2460) is an MS932 vendor codepoint plain Shift_JIS lacks —
    // this row fails if windows-31j ever falls back to the Shift_JIS
    // branch (the pre-r20 ≈ approximation)
    ("windows-31j", "windows-31j", "日本語①テキスト"),
    ("euc-kr", "EUC-KR", "한국어 텍스트"),
    ("gbk", "GBK", "中文文本"),
    ("big5", "Big5", "中文測試"),
    ("iso-8859-1", "ISO-8859-1", "café señor"),
    ("utf-8", "UTF-8", "Ünïcode ✓ text"))

  /** Stage the HTTP message-coding fixture once per sf dir: one
    * `response` record per documents row with doc_id ≡ 2 (mod 5),
    * whose HTTP body is the shared [[WarcPage]] template ENCODED by
    * variant v = (doc_id/5) % 5 — 0 identity, 1 `Content-Encoding:
    * gzip`, 2 `Transfer-Encoding: chunked` (size-171 chunks: hex
    * letters, an extension on the first size line, a trailer), 3
    * chunked OVER gzip (the RFC 9112 layering), 4 `Content-Encoding:
    * deflate` (zlib-wrapped). The oracle rebuilds the PRE-ENCODE page
    * from documents, so [[graft.sources.WarcSource.withHttpMessage]]
    * passing means the decode chain is lossless — an independent
    * expectation, not a replay (r19 verdict #1's "done" bar). */
  private def warcHttpFixture(s: SparkSession, dir: String): String =
    stagedWarcHttp.getOrElseUpdate(dir, {
      import graft.sources.WarcSource
      val rows = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 5 === 2)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id").collect() // dim-scale (s8/s9 discipline)
      def gz(b: Array[Byte]): Array[Byte] = {
        val bo = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bo)
        g.write(b); g.close(); bo.toByteArray
      }
      def zlib(b: Array[Byte]): Array[Byte] = {
        val bo = new java.io.ByteArrayOutputStream()
        val o = new java.util.zip.DeflaterOutputStream(bo)
        o.write(b); o.close(); bo.toByteArray
      }
      def chunked(b: Array[Byte], size: Int): Array[Byte] = {
        val bo = new java.io.ByteArrayOutputStream()
        var i = 0; var first = true
        while (i < b.length) {
          val n = math.min(size, b.length - i)
          val hex = if (first) n.toHexString + ";ext=1"
            else n.toHexString.toUpperCase(java.util.Locale.ROOT)
          bo.write(s"$hex\r\n".getBytes("UTF-8"))
          bo.write(b, i, n)
          bo.write("\r\n".getBytes("UTF-8"))
          i += n; first = false
        }
        bo.write("0\r\nX-Trailer: t\r\n\r\n".getBytes("UTF-8"))
        bo.toByteArray
      }
      val recs = rows.toSeq.zipWithIndex.map { case (r, j) =>
        val id = r.getLong(0); val text = r.getString(1)
        val page = warcPage(id.toString, text).getBytes("UTF-8")
        val v = (id / 5) % 5
        val (hdrs, body) = v match {
          case 0 => (Seq.empty[String], page)
          case 1 => (Seq("Content-Encoding: gzip"), gz(page))
          case 2 => (Seq("Transfer-Encoding: chunked"),
            chunked(page, 171))
          case 3 => (Seq("Transfer-Encoding: chunked",
            "Content-Encoding: gzip"), chunked(gz(page), 100))
          case _ => (Seq("Content-Encoding: deflate"), zlib(page))
        }
        val head = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          hdrs.map(_ + "\r\n").mkString + "\r\n").getBytes("UTF-8")
        WarcSource.record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:graft:http:$j>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> s"https://fixture.test/http/$id",
          "Content-Type" -> "application/http; msgtype=response"),
          head ++ body)
      }
      val out = tempDir("graft_warc_http")
      val p = java.nio.file.Paths.get(out, "http.warc")
      java.nio.file.Files.write(p, WarcSource.writeWarc(recs))
      p.toString
    })

  /** Stage the CJK charset fixture once per sf dir: one `conversion`
    * record per documents row with doc_id ≡ 3 (mod 5), payload =
    * that row's [[CharsetSamples]] sample (by doc_id mod the sample
    * count) plus an
    * ASCII ` #<doc_id>` suffix, ENCODED in the sample's charset and
    * DECLARED on the Content-Type — the decode surface of r19
    * verdict #5. Staging asserts each sample round-trips its charset
    * (a lossy sample would assert garbage against garbage). */
  private def warcCjkFixture(s: SparkSession, dir: String): String =
    stagedWarcCjk.getOrElseUpdate(dir, {
      import graft.sources.WarcSource
      CharsetSamples.foreach { case (_, cs, sample) =>
        require(new String(sample.getBytes(cs), cs) == sample,
          s"charset fixture sample not losslessly encodable in $cs")
      }
      val rows = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 5 === 3)
        .select(col("doc_id")).orderBy("doc_id").collect()
      val recs = rows.toSeq.zipWithIndex.map { case (r, j) =>
        val id = r.getLong(0)
        val (decl, cs, sample) =
          CharsetSamples((id % CharsetSamples.size).toInt)
        WarcSource.record(Seq(
          "WARC-Type" -> "conversion",
          "WARC-Record-ID" -> s"<urn:graft:cjk:$j>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> s"https://fixture.test/cs/$id",
          "Content-Type" -> s"text/plain; charset=$decl"),
          (sample + s" #$id").getBytes(cs))
      }
      val out = tempDir("graft_warc_cjk")
      val p = java.nio.file.Paths.get(out, "cjk.warc")
      java.nio.file.Files.write(p, WarcSource.writeWarc(recs))
      p.toString
    })

  /** Per-JVM cache of the revisit WARC fixture (t_revisit_resolve). */
  private val stagedWarcRevisit =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage the revisit fixture once per sf dir: one `response`
    * original per documents row with doc_id ≡ 4 (mod 5) at the
    * origin host, carrying `WARC-Payload-Digest`; for odd doc_ids a
    * `revisit` record at a mirror host — the ISO 28500 §6.7
    * identical-payload-digest profile: SAME digest,
    * `WARC-Refers-To-Target-URI` naming the original, response
    * headers only as payload (the bytes were NOT stored — that is
    * the archive-side dedup). */
  private def warcRevisitFixture(s: SparkSession, dir: String): String =
    stagedWarcRevisit.getOrElseUpdate(dir, {
      import graft.sources.WarcSource
      val rows = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 5 === 4)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id").collect()
      val recs = rows.toSeq.zipWithIndex.flatMap { case (r, j) =>
        val id = r.getLong(0)
        val origin = s"https://origin.example.com/p/$id"
        val original = WarcSource.record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:graft:rv:o:$j>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> origin,
          "WARC-Payload-Digest" -> s"sha1:GRAFT$id",
          "Content-Type" -> "application/http; msgtype=response"),
          ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
            r.getString(1) + s" #$id").getBytes("UTF-8"))
        val revisit =
          if (id % 2 == 1) Seq(WarcSource.record(Seq(
            "WARC-Type" -> "revisit",
            "WARC-Record-ID" -> s"<urn:graft:rv:r:$j>",
            "WARC-Date" -> "2026-02-01T00:00:00Z",
            "WARC-Target-URI" ->
              s"https://m${id % 3}.example.com/p/$id",
            "WARC-Payload-Digest" -> s"sha1:GRAFT$id",
            "WARC-Refers-To-Target-URI" -> origin,
            "WARC-Profile" ->
              "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
            "Content-Type" -> "application/http; msgtype=response"),
            "HTTP/1.1 200 OK\r\n\r\n".getBytes("UTF-8")))
          else Nil
        original +: revisit
      }
      val out = tempDir("graft_warc_rv")
      val p = java.nio.file.Paths.get(out, "revisit.warc")
      java.nio.file.Files.write(p, WarcSource.writeWarc(recs))
      p.toString
    })

  /** Per-JVM cache of the CDX index fixture (s18_cdx_scan,
    * t_cdx_fetch): the CDXJ path; the member-gzip WARC shard it
    * points into lives beside it. */
  private val stagedCdx =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage the CDX fixture once per sf dir: one conversion record
    * per documents row with doc_id ≡ 1 (mod 5), each gzipped as its
    * OWN member (the Common Crawl per-record layout), plus the CDXJ
    * index whose lines carry each member's REAL byte (offset,
    * length) and the metadata the index queries filter on — status
    * by doc_id % 3 (200/404/301), mime by doc_id % 2 — and one junk
    * line (the quarantine surface). t_cdx_fetch proves the pointers
    * round-trip: index-select a subset, read ONLY those byte
    * ranges, get exactly those documents back. */
  private def cdxFixture(s: SparkSession, dir: String): String =
    stagedCdx.getOrElseUpdate(dir, {
      import graft.sources.WarcSource
      val rows = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 5 === 1)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id").collect()
      def gzOne(b: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(b); gz.close(); bos.toByteArray
      }
      val out = tempDir("graft_cdx")
      val warcPath = java.nio.file.Paths.get(out, "shard-00.warc.gz")
      val members = rows.toSeq.zipWithIndex.map { case (r, j) =>
        val id = r.getLong(0)
        gzOne(WarcSource.record(Seq(
          "WARC-Type" -> "conversion",
          "WARC-Record-ID" -> s"<urn:graft:cdx:$j>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" ->
            s"https://www.h${id % 3}.example.com/d/$id",
          "Content-Type" -> "text/plain"),
          (r.getString(1) + s" #$id").getBytes("UTF-8")))
      }
      java.nio.file.Files.write(warcPath,
        members.flatten.toArray[Byte])
      val offsets = members.scanLeft(0L)(_ + _.length).init
      val lines = rows.toSeq.zip(members.zip(offsets)).map {
        case (r, (m, off)) =>
          val id = r.getLong(0)
          val status = (id % 3) match {
            case 0 => 200; case 1 => 404; case _ => 301 }
          val mime =
            if (id % 2 == 0) "text/html" else "text/plain"
          s"com,example,h${id % 3})/d/$id " +
            f"20260101${id % 24}%02d0000 " +
            s"""{"url": "https://www.h${id % 3}.example.com/d/$id", """ +
            s""""mime": "$mime", "status": "$status", """ +
            s""""digest": "sha1:graft$id", "length": "${m.length}", """ +
            s""""offset": "$off", "filename": "$warcPath"}"""
      } :+ "this line is not cdx"
      val cdxPath = java.nio.file.Paths.get(out, "shard-00.cdxj")
      java.nio.file.Files.write(cdxPath,
        lines.mkString("\n").getBytes("UTF-8"))
      cdxPath.toString
    })

  /** Per-JVM cache of the streaming-distinct staging (events + two
    * sentinel drain batches). */
  private val stagedDistinctEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM cache of the s_stream_psi reference profile (decile
    * bounds, Laplace-guarded shares) — round-10 ADVICE: the profile's
    * two driver-side collects re-ran on every invocation even though
    * the staged input was already cached per dir. */
  private val stagedPsiProfile = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Double], Seq[Double])]

  private val stagedHellingerProfile = scala.collection.concurrent
    .TrieMap.empty[String, (Seq[Double], Seq[Double])]

  /** Shared staging for the sentinel-drained chunked events replays
    * (s_stream_distinct and s_stream_psi — round-10 ADVICE: the ~25
    * line closure was duplicated verbatim and both populate the SAME
    * cache key, so an edit to one could silently drift from the
    * other). Events land as ONE parquet file followed by two sentinel
    * drain batches (max ts + 30/31 days), so maxFilesPerTrigger=1
    * replays chunk-by-chunk and the two-sentinel watermark advance
    * flushes the last real windows. */
  private def stageSentinelEvents(s: SparkSession, dir: String): String =
    stagedDistinctEventsDir.getOrElseUpdate(dir, {
      val tmp = tempDir("graft_sdc")
      val e = t(s, dir, "events")
      val maxMs = e.agg(max(col("ts"))).head().get(0) match {
        case ts: java.sql.Timestamp      => ts.getTime
        case dt: java.time.LocalDateTime =>
          java.sql.Timestamp.valueOf(dt).getTime
      }
      val tsType = e.schema("ts").dataType
      def sentinel(offsetDays: Long) = e.limit(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxMs + offsetDays * 86400 * 1000))
          .cast(tsType).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      val inDir = s"$tmp/in"
      e.coalesce(1).write.mode("overwrite").parquet(inDir)
      graft.streaming.EventStreams.stageDrainBatches(inDir,
        Seq(sentinel(30), sentinel(31)))
      inDir
    })
  private val stagedOuterEventsDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Shared staging for the outer/full stream-stream interval joins
    * (s_stream_join_outer and s_stream_join_full populate the SAME
    * cache key, so the closure must exist ONCE — a drifted copy
    * would silently change the other query's input depending on run
    * order): events as one parquet file + TWO sentinel click/purchase
    * PAIR batches (max ts + 30/31 days). Pairs advance BOTH inputs'
    * watermarks together; the first sentinel batch advances the
    * watermark (takes effect next batch), the second triggers the
    * eviction pass that drains the tail's unmatched state — the
    * one-batch watermark lag stageDrainBatches documents. */
  private def stageOuterEvents(s: SparkSession, dir: String): String =
    stagedOuterEventsDir.getOrElseUpdate(dir, {
      val tmp = tempDir("graft_sjo")
      val e = t(s, dir, "events")
      val maxMs = e.agg(max(col("ts"))).head().get(0) match {
        case ts: java.sql.Timestamp      => ts.getTime
        case dt: java.time.LocalDateTime =>
          java.sql.Timestamp.valueOf(dt).getTime
      }
      val tsType = e.schema("ts").dataType
      def sentinels(ids: (Long, Long), offsetDays: Long) = {
        def one(id: Long, et: String) = e.limit(1).select(
          lit(id).as("event_id"),
          lit(new java.sql.Timestamp(maxMs + offsetDays * 86400 * 1000))
            .cast(tsType).as("ts"),
          lit(-1L).as("user_id"), lit(et).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        one(ids._1, "click").unionByName(one(ids._2, "purchase"))
      }
      val inDir = s"$tmp/in"
      e.coalesce(1).write.mode("overwrite").parquet(inDir)
      graft.streaming.EventStreams.stageDrainBatches(inDir,
        Seq(sentinels((-1L, -2L), 30), sentinels((-3L, -4L), 31)))
      inDir
    })

  /** Per-JVM cache of the persisted IVF index (path, centroids). */
  private val stagedIvfIndex = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[Seq[Float]])]

  /** Per-JVM cache of the persisted PQ index path. */
  private val stagedPqIndex =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-(JVM, sf dir) persisted LSH index over the EVEN documents —
    * built once, probed by `t_lsh_index_probe`. */
  private val stagedLshIndex = scala.collection.concurrent.TrieMap
    .empty[String, String]

  /** Per-JVM cache of the bucketed-table suffix per sf dir (tables are
    * session-catalog objects; one publish per (JVM, sf dir)). */
  private val stagedBucketedTables =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** Collision-free suffix source for catalog table names (round-5
    * ADVICE: two sf dirs with colliding 32-bit hashCodes would silently
    * overwrite each other's bucketed tables). */
  private val tableNameSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Temp dir REGISTERED FOR CLEANUP at JVM exit (round-3 ADVICE:
    * per-invocation checkpoint/staging dirs accumulated with no
    * cleanup across repeated bench/correctness runs in one JVM). */
  private def tempDir(prefix: String): String =
    cleanupAtExit(java.nio.file.Files.createTempDirectory(prefix))

  private def cleanupAtExit(p: java.nio.file.Path): String = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** Checkpoint scratch for the bounded streaming drains: RAM-backed
    * (/dev/shm) when available, /tmp otherwise. A streaming checkpoint
    * fsyncs one delta file per state partition per store per
    * micro-batch, and these harness checkpoints are throwaway (fresh
    * per invocation, removed at JVM exit) — paying disk durability for
    * them is pure floor. Production streams checkpoint to durable
    * SHARED storage (object store / DFS) so a replacement driver can
    * resume; nothing outside the staged-directory harness uses this. */
  private def ckptDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    cleanupAtExit(p)
  }

  /** Streaming state partition count for the bounded harness drains:
    * the staged inputs are single-digit micro-batches of O(100k) rows,
    * where per-partition state-store commit fan-out dominates wall
    * clock (r15: s_stream_join_outer 9.3 s at 32 state partitions vs
    * 3.8 s at 8 — the stream-stream joins carry FOUR stores per
    * partition and gain the most). r19 CORRECTION of the r18 claim:
    * an r18 hand sweep reported 48.8 s at 2 vs ~59 s at 8 for the 26
    * queries, but that number never reproduced in a shipped
    * artifact. With EVERY stream query quiet-re-measured end-of-run
    * and min-folded (the r19 bench block), the artifacted floor
    * came in at 53-59 s across three quiet r19 runs (52.5 s on the
    * final run for the comparable 26) — better than the flat ~59 s
    * the un-re-measured r17/r18 artifacts published, still short of
    * the 48.8 claim. The honest reading: the bench-harness floor is
    * dominated by per-QUERY fixed costs (fresh checkpoint staging,
    * stream start/stop, commit-log scans) that the partition count
    * moves only weakly; parts=2 is kept for the per-query wins the
    * r15 measurement established, not for a floor-level claim.
    * Production streams inherit the session's cluster-sized
    * `spark.sql.shuffle.partitions` — this constant exists only so
    * the harness does not shard kilobyte state dozens of ways. */
  private val drainStateParts = Some(2)

  /** The bounded-drain entry every `s_stream_*` query runs through:
    * [[graft.streaming.EventStreams.runAvailableNow]] with the
    * harness state-partition count applied. */
  private def runDrain(transformed: DataFrame, queryName: String,
                       checkpoint: String,
                       outputMode: org.apache.spark.sql.streaming.OutputMode =
                         org.apache.spark.sql.streaming.OutputMode.Append())
      : DataFrame =
    graft.streaming.EventStreams.runAvailableNow(transformed, queryName,
      checkpoint, outputMode, statePartitions = drainStateParts)

  /** Shared a79/a80 annotation construction: three synthetic
    * annotators of each document's lang. Annotator k mislabels at
    * rate (2k+1)/10 (portable-hash coin on (doc_id, k)), and a wrong
    * label is a hash-picked OTHER class via the lexicographic class
    * ranking — rank (r + 1 + h mod (L−1)) mod L — so the whole
    * corpus of judgments replays bit-identically in SQL. */
  private[graft] def dsAnnotations(s: SparkSession,
                                   dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .select(col("doc_id"), col("lang"))
    // class ranking: a dim-scale window (5 langs), broadcast back
    val rk = d.select(col("lang")).distinct()
      .withColumn("__r",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("lang"))) - 1).cast("long"))
    val L = rk.count()
    def ph(c: Column): Column = graft.text.TextOps.portableHash(c)
    val lab = d.join(broadcast(rk), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("__r"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("annotator"))
      .withColumn("__flip",
        pmod(ph(col("doc_id") * 3 + col("annotator")), lit(10L)) <
          col("annotator") * 2 + 1)
      .withColumn("__fr",
        pmod(col("__r") + 1 +
          pmod(ph(col("doc_id") * 7 + col("annotator") * 11),
            lit(L - 1)), lit(L)))
    lab.join(broadcast(rk.select(col("__r").as("__fr"),
        col("lang").as("__flang"))), Seq("__fr"))
      .select(col("doc_id"), col("annotator"),
        when(col("__flip"), col("__flang")).otherwise(col("lang"))
          .as("label"))
  }

  /** Shared j16/j17 linkage construction: the clean customer file
    * scored against its deterministically DIRTIED copy (middle-char
    * name typo every 7th key, reformatted name every 13th, segment
    * wiped every 11th, balance shifted by a key-derived offset) via
    * blocked Fellegi–Sunter — last-3-digit name blocks, four field
    * weights as round-6 decimal literals, lower=0 / upper=6. */
  private[graft] def linkageScored(s: SparkSession, dir: String,
                                   blockLen: Int = 3): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment"))
    val dirty = cust.select(
      col("c_custkey"),
      when(col("c_custkey") % 13 === 0,
          concat(lit("Cust-"),
            lpad(col("c_custkey").cast("string"), 9, "0")))
        .when(col("c_custkey") % 7 === 0,
          concat(substring(col("c_name"), 1, 9), lit("X"),
            substring(col("c_name"), 11, 100)))
        .otherwise(col("c_name")).as("c_name"),
      col("c_nationkey"),
      (col("c_acctbal") + (col("c_custkey") % 9) * 20.0 - 80.0)
        .as("c_acctbal"),
      when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val pairs = ops.Linkage.blockedPairs(cust, dirty,
      substring(col("a_c_name"), -blockLen, blockLen),
      substring(col("b_c_name"), -blockLen, blockLen),
      maxBucket = Some(10000L))
    ops.Linkage.fellegiSunter(pairs, Seq(
        ops.Linkage.LinkField("name",
          round(NativeExpressions.jaro_winkler_sim(col("a_c_name"),
            col("b_c_name")), 6) >= 0.95, m = 0.95, u = 0.01),
        ops.Linkage.LinkField("nation",
          col("a_c_nationkey") === col("b_c_nationkey"),
          m = 0.98, u = 0.04),
        ops.Linkage.LinkField("segment",
          col("a_c_mktsegment") === col("b_c_mktsegment"),
          m = 0.9, u = 0.2),
        ops.Linkage.LinkField("balance",
          abs(col("a_c_acctbal") - col("b_c_acctbal")) <= 50.0,
          m = 0.9, u = 0.05)),
      lower = 0.0, upper = 6.0)
  }

  /** Shared w21/w33 survival subjects: per user, micro-epoch duration
    * from first event to first purchase (observed) or to the corpus
    * end (right-censored). */
  /** Competing-risks subjects for w35: each user's FIRST purchase
    * (cause 1) vs FIRST error (cause 2) compete; whichever strikes
    * first is the outcome (tie → purchase, deterministic), neither →
    * censored (cause 0) at corpus end. */
  private def competingSubjects(s: SparkSession,
                                dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def us(c: Column) = unix_micros(c.cast("timestamp_ltz"))
    val per = ev.groupBy(col("user_id")).agg(
      min(us(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", us(col("ts"))))
        .as("p_us"),
      min(when(col("event_type") === "error", us(col("ts"))))
        .as("e_us"))
    val cens = ev.agg(max(us(col("ts"))).as("end_us"))
    per.crossJoin(broadcast(cens))
      .select(
        when(col("p_us").isNotNull &&
            (col("e_us").isNull || col("p_us") <= col("e_us")),
          col("p_us") - col("first_us"))
          .when(col("e_us").isNotNull, col("e_us") - col("first_us"))
          .otherwise(col("end_us") - col("first_us")).as("dur"),
        when(col("p_us").isNotNull &&
            (col("e_us").isNull || col("p_us") <= col("e_us")), lit(1))
          .when(col("e_us").isNotNull, lit(2))
          .otherwise(lit(0)).as("cause"))
  }

  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def us(c: Column) = unix_micros(c.cast("timestamp_ltz"))
    val per = ev.groupBy(col("user_id")).agg(
      min(us(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", us(col("ts"))))
        .as("p_us"))
    val cens = ev.agg(max(us(col("ts"))).as("end_us"))
    per.crossJoin(broadcast(cens))
      .select(
        when(col("p_us").isNotNull, col("p_us") - col("first_us"))
          .otherwise(col("end_us") - col("first_us")).as("dur"),
        col("p_us").isNotNull.as("observed"),
        // even/odd user split — the w34 log-rank group label (extra
        // column is invisible to the w21/w33 estimators)
        (col("user_id") % 2 === 0).as("grp"))
  }

  /** Exact decimal accumulation -> one double cast (see class doc). */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** STREAM tier of the two-tier dedup (`s_two_tier_dedup`), exposed so
    * TwoTierDedupSpec can assert the residue is real (stream output
    * still holds the beyond-horizon duplicates the batch tier removes).
    * Stages the input once per (JVM, sf dir), THREE mod-time-ordered
    * micro-batches (maxFilesPerTrigger=1):
    *   1. the corpus (max event time T1);
    *   2. a watermark ADVANCER — one duplicate of the latest event,
    *      within horizon, so the stream drops it (output unaffected).
    *      Its real job is the batch boundary: the watermark computed
    *      from batch 1 (T1 − 2h) only takes effect — and only evicts
    *      expired keys — during THIS batch (watermark updates and
    *      state cleanup are end-of-batch; measured: with just two
    *      batches the re-arrivals still found their keys in state and
    *      residue was 0);
    *   3. 200 re-arrivals of the EARLIEST events (event time T1 + 1h,
    *      30-day corpus span ≫ the 4h eviction horizon) — their keys'
    *      state is gone, dedupStream lets them through. */
  private[graft] def twoTierStreamTier(s: SparkSession,
                                       dir: String): DataFrame = {
    val in = stagedTwoTierDir.getOrElseUpdate(dir, {
      val tmp = tempDir("graft_tt")
      val e = t(s, dir, "events")
      e.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      // ts may surface as java.sql.Timestamp (LTZ) or LocalDateTime
      // (NTZ) depending on the source parquet's isAdjustedToUTC flag —
      // the engine supports both, so the staging must too
      val maxMs = e.agg(max(col("ts"))).head().get(0) match {
        case ts: java.sql.Timestamp     => ts.getTime
        case dt: java.time.LocalDateTime =>
          java.sql.Timestamp.valueOf(dt).getTime
      }
      // cast shifted literals back to the SOURCE ts type so all three
      // staged files share one schema (identity values under UTC)
      val tsType = e.schema("ts").dataType
      e.orderBy(col("ts").desc, col("event_id")).limit(1)
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxMs + 1800L * 1000)).cast(tsType))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/adv")
      e.orderBy(col("ts"), col("event_id")).limit(200)
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxMs + 3600L * 1000)).cast(tsType))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/late")
      // merge into one source dir with CONTROLLED mod-time order:
      // originals oldest, advancer in between, re-arrivals newest
      val inDir = java.nio.file.Paths.get(tmp, "in")
      val now = System.currentTimeMillis()
      val listIn = java.nio.file.Files.list(inDir)
      try listIn.forEach(p =>
        p.toFile.setLastModified(now - 600000L))
      finally listIn.close()
      def mergeIn(sub: String, prefix: String, mtime: Long): Unit = {
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, sub))
        try ls.forEach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")) {
            val dst = inDir.resolve(s"$prefix-$n")
            java.nio.file.Files.copy(p, dst)
            dst.toFile.setLastModified(mtime); ()
          }
        } finally ls.close()
      }
      mergeIn("adv", "adv", now - 300000L)
      mergeIn("late", "late", now)
      inDir.toString
    })
    val ckpt = ckptDir("graft_tt_ck")
    val stream = graft.streaming.EventStreams.readStream(s, in,
      options = Map("maxFilesPerTrigger" -> "1"))
    runDrain(
      graft.streaming.EventStreams.dedupStream(stream, Seq("event_id"))
        .select("event_id", "user_id", "event_type"),
      queryName = s"tt_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue per region: 4-way join (3 broadcast dims) + hash agg. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    // customer grows with the fact — no hard hint (AQE broadcasts it
    // while small, shuffles it at scale); nation/region are true dims
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.4 A1 + flagship agg (q1): group agg with exact sums ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n"))
    }),

    // ---- §2.2 P1 projection ----
    "p1_project" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")),

    // ---- §2.2 P2 negative projection (drop) ----
    "p2_drop" -> ((s, dir) => t(s, dir, "events").drop("props", "value")),

    // ---- §2.2 P3 rename ----
    "p3_rename" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumnRenamed("c_name", "customer_name")
        .withColumnRenamed("c_acctbal", "account_balance")
        .select("c_custkey", "customer_name", "account_balance")),

    // ---- §2.2 P4 null-predicate filter (over a left join's null side) ----
    "p4_filter_null" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .filter(col("o_orderkey").isNull)
        .select("c_custkey", "c_name")
    }),

    // ---- §2.2 P5 IN-list filter ----
    "p5_filter_in" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_returnflag")),

    // ---- §2.2 P6 comparison filter ----
    "p6_filter_cmp" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")),

    // ---- §2.2 P7 pattern filter (contains + anchored regex) ----
    "p7_filter_pattern" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").contains("widget") && col("p_type").rlike("^ECO"))
        .select("p_partkey", "p_name", "p_type")),

    // ---- §2.2 P8 timestamp-range filter (partition-prunable) ----
    "p8_filter_ts_range" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")),

    // ---- §2.2 P9 castability filter + §2.8 F-extract ----
    "p9_cast_filter" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k",
          Scalars.toNumeric(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1))
            .cast("int"))
        .filter(Scalars.isNumeric(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)))
        .select("event_id", "k")),

    // ---- §2.3 J1 broadcast dim joins (star join) ----
    "j1_join_dims" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      // customer is fact-growing: unhinted (AQE decides); n/r are dims
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
        .groupBy(col("r_name"), col("n_name"))
        .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
    }),

    // ---- §2.3 J2 composite-key equi-join ----
    "j2_join_composite" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val grp = li.groupBy(col("l_orderkey"), col("l_partkey"))
        .agg(moneySum(col("l_quantity")).as("grp_qty"))
      li.join(grp, Seq("l_orderkey", "l_partkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          col("grp_qty"))
    }),

    // ---- §2.3 J4 full outer join ----
    "j4_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      Joins.fullOuter(c, su, Seq("nationkey"))
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),

    // ---- §2.3 J5 left semi ----
    "j5_semi" -> ((s, dir) => {
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("o_custkey"))
      Joins.semi(t(s, dir, "orders"), rich, Seq("o_custkey"))
        .select("o_orderkey", "o_custkey")
    }),

    // ---- as-of (point-in-time) join: for each event, the customer's
    // latest order at-or-before the event. union+LOCF shape — one
    // shuffle, no range explosion (Joins.asOfJoin) ----
    "j8_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id").as("ckey"))
      val ord = WindowOps.dedupKeepLast(t(s, dir, "orders"),
          keys = Seq("o_custkey", "o_orderdate"), orderBy = Seq(col("o_orderkey")))
        .select(col("o_custkey").as("ckey"), col("o_orderdate"),
          col("o_orderkey").as("asof_orderkey"))
      Joins.asOfJoin(ev, ord, Seq("ckey"), "ts", "o_orderdate",
          Seq("asof_orderkey"))
        .select(col("event_id"), col("ckey").as("user_id"),
          col("asof_orderkey"))
    }),

    // ---- as-of join with a STALENESS BOUND: like j8_asof, but a
    // match older than the tolerance attaches null (the "latest lab
    // within N hours, else missing" rule). The 725Ms tolerance sits at
    // the fixture's median match age, so BOTH outcomes occur. ----
    "j10_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id").as("ckey"))
      val ord = WindowOps.dedupKeepLast(t(s, dir, "orders"),
          keys = Seq("o_custkey", "o_orderdate"),
          orderBy = Seq(col("o_orderkey")))
        .select(col("o_custkey").as("ckey"), col("o_orderdate"),
          col("o_orderkey").as("asof_orderkey"))
      Joins.asOfJoinTolerance(ev, ord, Seq("ckey"), "ts", "o_orderdate",
          Seq("asof_orderkey"), toleranceSeconds = 725000000L,
          matchedTimeCol = "matched_date")
        .select(col("event_id"), col("ckey").as("user_id"),
          col("asof_orderkey"), col("matched_date"))
    }),

    // ---- J11: edit-distance similarity self-join (PassJoin segment
    // blocking, COMPLETE — no recall loss) over a 3-nation customer
    // slice; the uniform "Customer#…" prefix exercises the documented
    // dense-bucket degradation while the digit segments stay
    // selective. Candidates are segment equi-joins + one distinct;
    // verify is one codegen'd levenshtein per pair. ----
    "j11_edit_join" -> ((s, dir) =>
      Joins.editDistanceJoin(
        t(s, dir, "customer")
          .filter(col("c_nationkey").isin(1, 2, 3))
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", k = 1)
        .orderBy("id1", "id2")),

    // ---- J14: blocked Jaro–Winkler fuzzy self-match over the
    // DISTINCT part-name vocabulary (block = trailing token; the
    // adjective varies, the noun anchors the block). DISTINCT-first
    // collapses the massive name duplication before any pair is
    // scored; the comparator is the native byte-loop expression whose
    // semantics are pinned to DuckDB's jaro_winkler_similarity — the
    // oracle is a true cross-implementation check. ----
    "j14_fuzzy_match" -> ((s, dir) =>
      Joins.fuzzyMatchJoin(
        t(s, dir, "part").select(col("p_name")),
        "p_name",
        n => element_at(split(n, " "), -1),
        threshold = 0.88)
        .orderBy("name1", "name2")),

    // ---- F: Jaro / Jaro–Winkler scalar surface — four string-pair
    // shapes per part row (reversal = transposition stress, brand =
    // cross-format, plural = prefix boost, case flip = byte
    // inequality), each oracled against DuckDB's independent
    // implementation. ----
    "f_jaro_winkler" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        round(NativeExpressions.jaro_sim(
          col("p_name"), reverse(col("p_name"))), 6).as("j_rev"),
        round(NativeExpressions.jaro_winkler_sim(
          col("p_name"), col("p_brand")), 6).as("jw_brand"),
        round(NativeExpressions.jaro_winkler_sim(
          col("p_name"), concat(col("p_name"), lit("s"))), 6)
          .as("jw_plural"),
        round(NativeExpressions.jaro_winkler_sim(
          upper(col("p_name")), col("p_name")), 6).as("jw_case"))
        .orderBy("p_partkey")),

    // ---- interval (range) join: shipments inside each order's 90-day
    // window, via the time-binned equi-join (Joins.rangeJoin) ----
    "j9_range" -> ((s, dir) => {
      val iv = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate").as("w_start"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("w_end"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_shipdate"))
      Joins.rangeJoin(li, iv, Seq("o_orderkey"), "l_shipdate",
          "w_start", "w_end", binSeconds = 30L * 86400)
        .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"))
    }),

    // ---- J12: interval-OVERLAP join — per-user view windows [ts,
    // ts+2h) against click windows [ts, ts+1h) that intersect, with
    // the overlap span. The interval-interval sibling of j9's
    // point-in-interval: both sides binned, (user, bin) equi-join,
    // each pair kept only in its canonical overlap-start bin (no
    // corpus-wide DISTINCT). ----
    "j12_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").cast("timestamp_ltz").as("v_start"),
          (col("ts").cast("timestamp_ltz") +
            expr("INTERVAL 2 HOURS")).as("v_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").cast("timestamp_ltz").as("c_start"),
          (col("ts").cast("timestamp_ltz") +
            expr("INTERVAL 1 HOUR")).as("c_end"))
      Joins.intervalOverlapJoin(views, clicks, Seq("user_id"),
          "v_start", "v_end", "c_start", "c_end", binSeconds = 3600)
        .select(col("user_id"), col("view_id"), col("click_id"),
          greatest(col("v_start"), col("c_start")).as("o_start"),
          least(col("v_end"), col("c_end")).as("o_end"))
    }),

    // ---- J13: grid-blocked ε-distance spatial join — customers vs
    // suppliers on deterministic synthetic planar coordinates (modular
    // arithmetic on the keys, exactly replayable in SQL); cell-binned
    // equi-join with a 3×3 neighborhood explode on the supplier side
    // only, no cross product, no trig (squared-distance predicate is
    // exact IEEE). ----
    "j13_eps_join" -> ((s, dir) => {
      def coord(k: Column, m: Long): Column =
        (pmod(k.cast("long") * lit(m), lit(1000L)).cast("double") /
          lit(10.0))
      val cust = t(s, dir, "customer").select(
        col("c_custkey"),
        coord(col("c_custkey"), 7919L).as("cx"),
        coord(col("c_custkey"), 104729L).as("cy"))
      val supp = t(s, dir, "supplier").select(
        col("s_suppkey"),
        coord(col("s_suppkey"), 7919L).as("sx"),
        coord(col("s_suppkey"), 104729L).as("sy"))
      Joins.epsilonDistanceJoin(cust, supp, "cx", "cy", "sx", "sy",
          eps = 1.5)
        .select(col("c_custkey"), col("s_suppkey"), col("dist2"))
    }),

    // ---- J15: point-in-time (SCD2 temporal) join — each order picks
    // the customer-segment VERSION valid at its order date from a
    // two-version synthesized history; rides the as-of join's
    // single-exchange union+LOCF plan instead of a quadratic BETWEEN
    // range join. ----
    "j15_scd2_asof" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val t0 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
      val t1 = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val moved = pmod(col("c_custkey"), lit(7)) === 0
      val v1 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("segment"), t0.as("valid_from"),
        when(moved, t1).otherwise(lit(null).cast("timestamp"))
          .as("valid_to"))
      val v2 = cust.filter(moved).select(col("c_custkey"),
        lit("MOVED").as("segment"), t1.as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val history = v1.unionByName(v2)
      Joins.pointInTimeJoin(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("c_custkey"), col("o_orderdate")),
        history, Seq("c_custkey"), "o_orderdate",
        "valid_from", "valid_to", Seq("segment"))
    }),

    // ---- J18: NEAREST as-of join — each error matched to the
    // closest view (before OR after) of the same user within 2h,
    // ties backward; two window passes on ONE exchange+sort. ----
    "j18_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ops.WindowOps.dedupKeepLast(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("view_event_id")),
        Seq("user_id", "ts"), Seq(col("view_event_id")))
      ops.Joins.asOfJoinNearest(errors, views, Seq("user_id"),
          "ts", "ts", Seq("view_event_id"), toleranceSeconds = 7200)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ltz").cast("double").as("ts_epoch"),
          col("view_event_id"),
          col("matched_time").cast("timestamp_ltz").cast("double")
            .as("matched_epoch"),
          col("direction"))
    }),

    // ---- J16: Fellegi–Sunter probabilistic record linkage — the
    // clean customer file linked against a deterministically DIRTIED
    // copy (middle-char name typo every 7th key, reformatted name
    // every 13th, segment wiped every 11th, balance shifted by a
    // key-derived offset). Blocking on the name's last-3 digits keeps
    // the pair stage Σ|block|² (never all-pairs); four field weights
    // (JW-name, exact nation/segment, balance-within-50) enter the
    // plan as round-6 decimal literals; decisions at lower=0/upper=6.
    // maxBucket=10000 is the degenerate-block guard (unexercised on
    // this corpus — blocks are ~key-collision sized — so the oracle
    // replays uncapped). ----
    "j16_linkage" -> ((s, dir) =>
      linkageScored(s, dir)
        .filter(col("decision") =!= "non_match")
        .select(col("a_c_custkey").as("a_key"),
          col("b_c_custkey").as("b_key"), col("name_agree"),
          col("nation_agree"), col("segment_agree"),
          col("balance_agree"), col("score"), col("decision"))),

    // ---- J17: entity-resolution clustering — the full ER pipeline:
    // j16's blocked Fellegi–Sunter matches become edges (clean record
    // = 2·key, dirty = 2·key+1 — numeric, collision-free), pointer-
    // jumping connected components assign each matched record its
    // entity id (the min node id of its component). Records with no
    // match edge are absent (stated contract — singletons are their
    // own entity). ----
    "j17_entity_clusters" -> ((s, dir) =>
      ops.Linkage.entityClusters(
        linkageScored(s, dir).filter(col("decision") === "match"),
        "a_c_custkey", "b_c_custkey", "clean", "dirty")),

    // ---- anti join (§2.3 note: QC parity) ----
    "j_anti" -> ((s, dir) => {
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      Joins.anti(t(s, dir, "customer"), withOrders, Seq("c_custkey"))
        .select("c_custkey", "c_name")
    }),

    // ---- §2.3 J6 regex theta-join (vocab word-boundary match) ----
    "j6_regex_vocab" -> ((s, dir) => {
      val vocab = t(s, dir, "part")
        .select(split(col("p_name"), " ").getItem(0).as("term")).distinct()
      Joins.regexVocabJoin(t(s, dir, "documents"), vocab, "text", "term")
        .select("doc_id", "term")
    }),

    // ---- §2.4 A1 group count ----
    "a1_group_count" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type")).agg(count(lit(1)).as("n"))),

    // ---- §2.4 A2/A3 distinct / dedup full row ----
    "a2_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    // ---- §2.4 A4 dedup by key keep-LAST ----
    "a4_dedup_keep_last" -> ((s, dir) =>
      WindowOps.dedupKeepLast(t(s, dir, "events"), Seq("user_id"),
          Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "event_type")),

    // ---- §2.4 A5 missingness profile ----
    "a5_missingness" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        when(col("event_type") === "error", lit(null)).otherwise(col("event_type"))
          .as("et"),
        when(col("value") < 5, lit(null)).otherwise(col("value")).as("v"))
      Quality.missingness(e, Seq("et", "v"))
    }),

    // ---- §2.4 A6 summary stats (exact) ----
    "a6_summary" -> ((s, dir) =>
      Quality.summaryStats(t(s, dir, "lineitem"), "l_quantity",
        Seq("l_returnflag"))),

    // ---- §2.4 A7 distinct projection ----
    "a7_distinct_proj" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderpriority").distinct()),

    // ---- exact percentiles (training-data quality cutoffs lean on
    // these; Spark `percentile` is exact with linear interpolation,
    // matching DuckDB's quantile_cont) ----
    "a8_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95_price"))),

    // ---- QC surface: the reference's interactive histogram/boxplot/
    // bounds blocks (RCLIF_vitals.Rmd:253-278) as DATA — rows are the
    // chart; one hash-agg pass each ----
    "a9_histogram" -> ((s, dir) =>
      Quality.histogram(t(s, dir, "lineitem"), "l_extendedprice", 1000.0,
        Seq("l_returnflag"))),

    "a10_boxstats" -> ((s, dir) =>
      Quality.boxStats(t(s, dir, "lineitem"), "l_quantity",
        Seq("l_returnflag"))),

    "a11_out_of_range" -> ((s, dir) =>
      Quality.outOfRange(t(s, dir, "lineitem"), "l_quantity", 5.0, 45.0,
        Seq("l_returnflag"))),

    // ---- A13: per-group winsorization — clamp to the exact per-group
    // [p05, p95] band. Bounds table is groups-sized and broadcast back;
    // the fact side is scanned once with zero shuffle. ----
    "a13_winsorize" -> ((s, dir) =>
      Quality.winsorize(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_extendedprice", Seq("l_returnflag"), 0.05, 0.95)),

    // ---- A14: robust outlier profile (median/MAD, modified z-score)
    // — heavy-tail-safe QC next to a10_boxstats; 392 real outliers in
    // events.value at sf0.01 (non-vacuous) ----
    "a14_robust_outliers" -> ((s, dir) =>
      Quality.robustOutliers(t(s, dir, "events"), "value",
        Seq("event_type"))),

    // ---- W8: ratio-to-report — each line's share of its group total
    // (decimal-exact denominator, one window over the group key) ----
    "w8_share" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_extendedprice"),
        round(col("l_extendedprice") /
          sum(col("l_extendedprice").cast("decimal(30,2)")).over(w)
            .cast("double"), 9).as("share"))
    }),

    // ---- §2.4 grouping sets: one pass producing per-(region, nation)
    // revenue PLUS per-region and grand-total rollup rows — the
    // reporting shape that otherwise costs three scans + a union.
    // Spark expands the rollup inside a single Expand + hash agg.
    // `customer` is deliberately UNHINTED: it grows with the fact
    // (~SF × 15k rows), so a static broadcast hint would OOM the
    // build side at large SF. AQE still picks a broadcast join while
    // customer's post-scan size is under the threshold, and falls
    // back to shuffle join beyond it. nation/region are true
    // constant-cardinality dims (25/5 rows) and keep their hints. ----
    "a12_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(moneySum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // ---- A15: CUBE + GROUPING flags — all four (returnflag,
    // linestatus) grouping sets in ONE Expand+hash-agg pass, with
    // grouping() disambiguating real nulls from subtotal rows ----
    "a15_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(moneySum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))),

    // ---- A16: Pearson correlation matrix over the lineitem measures
    // — ONE aggregate pass computes every pair's EXACT-decimal moment
    // sums (order-free under any partitioning), the textbook formula
    // runs on the sums as a fixed IEEE op sequence, and pair rows are
    // emitted by an in-plan inline (no driver collect, no per-pair
    // jobs). Builtin corr() would be partition-order-dependent AND
    // engine-divergent (Welford vs textbook). ----
    "a16_corr" -> ((s, dir) =>
      Quality.corrPairs(tf(s, dir, "lineitem", "l_orderkey"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- A17: per-group OLS fit (extendedprice ~ quantity per
    // returnflag) — slope/intercept/r² from the same one-pass
    // exact-decimal moment sums. ----
    "a17_regression" -> ((s, dir) =>
      Quality.olsFit(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")),

    // ---- A18: declarative expectation suite — the QC contract tests
    // a pipeline gates a load on, evaluated in ONE aggregate pass
    // (not-null %, unique key, range %, set-membership %, min rows);
    // the in-set check genuinely FAILS on this corpus (5 event types
    // vs the expected 3), so pass=false rows are exercised. ----
    "a18_expectations" -> ((s, dir) =>
      Quality.expectations(t(s, dir, "events"), Seq(
        Quality.ExpectNotNull("value", 99.0),
        Quality.ExpectUniqueKey(Seq("event_id")),
        Quality.ExpectInRange("value", 0.0, 100.0, 99.0),
        Quality.ExpectInSet("event_type",
          Seq("view", "click", "purchase"), 100.0),
        Quality.ExpectMinRows(1000L)))),

    // ---- §2.5 rank family: rank/dense_rank/percent_rank over a real
    // tie-bearing ordering (users ranked by event count per type) plus
    // ntile over a unique ordering (ntile splits ties by row order, so
    // determinism requires the unique tiebreak) ----
    // ---- W6: hourly-grid resampling with LOCF — the reference's
    // "blocked dataset" goal (one row per patient-hour with the
    // latest observation carried forward), verified against DuckDB's
    // native ASOF LEFT JOIN over a generated grid. ----
    "w6_resample" -> ((s, dir) => {
      val ev = WindowOps.dedupKeepLast(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("value"), col("event_id")),
        keys = Seq("user_id", "ts"), orderBy = Seq(col("event_id")))
        .drop("event_id")
      WindowOps.resampleLocf(ev, Seq("user_id"), "ts", Seq("value"),
        stepSeconds = 3600)
    }),

    "w5_rank" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val byN = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("n").desc)
      val uniq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("user_id"))
      counts.select(col("event_type"), col("user_id"), col("n"),
        rank().over(byN).cast("long").as("rnk"),
        dense_rank().over(byN).cast("long").as("drnk"),
        round(percent_rank().over(byN), 6).as("prnk"),
        ntile(4).over(uniq).cast("int").as("quartile"))
    }),

    // ---- W7: rolling features (trailing row-frame + trailing
    // time-range-frame means per user) — the per-hour/per-k-events
    // feature engineering of the reference's "blocked dataset" goal.
    // Both frames share one shuffle on the key. ----
    "w7_rolling" -> ((s, dir) =>
      WindowOps.rollingMeans(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        keys = Seq("user_id"), tsCol = "ts",
        tiebreak = Seq(col("event_id")), valueCol = "value",
        nRows = 4, rangeSeconds = 3600)),

    // ---- W9: time-weighted average per user — the clinically correct
    // mean for irregular sampling (LOCF step-function weighting);
    // lead window and final agg share one shuffle ----
    "w9_time_weighted" -> ((s, dir) =>
      WindowOps.timeWeightedAvg(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), col("value")),
        keys = Seq("user_id"), tsCol = "ts",
        tiebreak = Seq(col("event_id")), valueCol = "value")),

    // ---- §2.5 W1 group-wise fill down-then-up (LOCF + backfill) ----
    "w1_fill_downup" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("v",
        when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      WindowOps.fillDownUp(e, Seq("user_id"), Seq(col("ts"), col("event_id")),
          Seq("v"))
        .select("event_id", "user_id", "v")
    }),

    // ---- §2.5 W2 group-wise lead (episode stop times) ----
    "w2_lead_episodes" -> ((s, dir) =>
      WindowOps.leadEpisodes(t(s, dir, "events"), Seq("user_id"), "ts",
          "stop_ts", Seq(col("event_id")))
        .select("event_id", "user_id", "ts", "stop_ts")),

    // ---- §2.5 W3 interval arithmetic ----
    "w3_interval_shift" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("ts_minus_1h"))),

    // ---- §2.6 O1/O2/O3 sort + limit (deterministic top-k) ----
    "o1_sort_limit" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)),

    // ---- §2.7 U1 union same-schema ----
    "u1_union" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val y95 = li.filter(year(col("l_shipdate")) === 1995)
      val y97 = li.filter(year(col("l_shipdate")) === 1997)
      y95.union(y97).select("l_orderkey", "l_linenumber", "l_shipdate")
    }),

    // ---- §2.7 U2 union by name with missing columns ----
    "u2_union_by_name" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("src"))
      val su = t(s, dir, "supplier").select(
        col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_nationkey").cast("int").as("nationkey"), lit("supplier").as("src"))
      c.unionByName(su, allowMissingColumns = true)
    }),

    // ---- §2.7 U3/U4 intersect / except (distinct set semantics) ----
    "u3_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        .intersect(
          o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
    }),

    "u4_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        .except(
          o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
    }),

    // ---- §2.7 R1 unpivot (wide -> long) ----
    "r1_unpivot" -> ((s, dir) =>
      Reshape.unpivot(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
        ids = Seq("l_orderkey", "l_linenumber"),
        values = Seq("l_quantity", "l_discount"),
        nameCol = "measure", valueCol = "value")),

    // ---- §2.7 R2 pivot (long -> wide, declared names) ----
    "r2_pivot" -> ((s, dir) =>
      Reshape.pivotWider(t(s, dir, "lineitem"),
        ids = Seq("l_returnflag"), nameCol = "l_linestatus",
        valueCol = "l_quantity", names = Seq("F", "O"),
        agg = c => moneySum(c))),

    // ---- §2.7 R3 separate one column -> two ----
    "r3_separate" -> ((s, dir) =>
      Reshape.separate(t(s, dir, "orders"), "o_orderpriority", "-",
          Seq("prio_code", "prio_label"))
        .select("o_orderkey", "prio_code", "prio_label")),

    // ---- §2.7 R4 explode / unnest ----
    "r4_explode" -> ((s, dir) =>
      Reshape.unnest(t(s, dir, "part"), split(col("p_name"), " "), "word",
        Seq("p_partkey"))),

    // ---- §2.8 string functions (F1-F7 family) ----
    "f_string" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_type")).as("type_u"),
        substring(col("p_name"), 1, 3).as("name3"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
        Scalars.firstWords(col("p_name"), 1).as("first_word"),
        length(col("p_name")).cast("bigint").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))),

    // ---- §2.8 dose parsing (F4/F5/F6 family) over synthetic strings ----
    "f_parse_number" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Scalars.extractNumber(col("props")).as("num_in_props"),
        Scalars.stripNumber(regexp_replace(col("props"), "[{}\":]", ""))
          .as("unit_in_props"))),

    // ---- §2.8 datetime functions (F14-F19 family) ----
    "f_datetime" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        year(col("ts")).cast("int").as("y"),
        month(col("ts")).cast("int").as("m"),
        dayofmonth(col("ts")).cast("int").as("d"),
        hour(col("ts")).cast("int").as("h"),
        date_trunc("day", col("ts")).as("day_ts"),
        to_date(col("ts")).cast("string").as("day_date"),
        date_format(col("ts"), "yyyy-MM").as("ym"))),

    // ---- §2.8 conditional / clamp / coalesce (F9-F13 family) ----
    "f_conditional" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        Scalars.caseWhen(Seq(
          (col("c_acctbal") < 0, lit("debt")),
          (col("c_acctbal") < 1000, lit("low")),
          (col("c_acctbal") < 5000, lit("mid"))), lit("high")).as("band"),
        Scalars.clamp(col("c_acctbal"), 0, 5000).as("clamped"),
        Scalars.fallbackIfBlank(col("c_mktsegment"), lit("UNKNOWN")).as("seg"))),

    // ---- §2.8 F8 hash pseudonymization ----
    "f_hash_id" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"), Scalars.hashId(col("c_name")).as("id_hash"))),

    // ---- §2.8 JSON extraction (semi-structured props column — the
    // log-pipeline staple; get_json_object is codegen'd pathing, no
    // UDF) ----
    "f_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.missing").as("m"))),

    // ---- §2.8 MULTI-field JSON extraction (r3 verdict #8): when a
    // query pulls ≥3 fields from one JSON column, parse ONCE with
    // from_json + a schema (one JsonToStructs node — PlanSpec pins it)
    // instead of re-parsing the string per path with get_json_object.
    // The 1-key props column is first enriched into a realistic
    // multi-field payload (to_json over typed columns), so the parse
    // has real work: 4 typed fields out of one document. ----
    "f_json_multi" -> ((s, dir) => {
      val payload = to_json(struct(
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_type").as("ty"),
        col("user_id").as("uid"),
        col("value").as("v")))
      val parsed = from_json(payload,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, ty STRING, uid BIGINT, v DOUBLE"))
      t(s, dir, "events")
        .select(col("event_id"), parsed.as("doc"))
        .select(col("event_id"), col("doc.k").as("k"),
          col("doc.ty").as("ty"), col("doc.uid").as("uid"),
          col("doc.v").as("v"))
    }),

    // ---- training-data ops: token stats ----
    "t_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.charCount(col("text")).as("n_chars_c"),
        round(TextOps.meanTokenLen(col("text")), 6).as("mean_token_len"))),

    // ---- training-data ops: quality scoring ----
    "t_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.stopwordCount(col("text")).as("n_stopwords"),
        round(TextOps.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"))),

    // ---- training-data ops: language id heuristic ----
    "t_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),

    // ---- training-data ops: corpus BLEU-4 — the reference-based
    // generation-eval metric, here auditing a deterministic
    // degradation (every 7th token dropped) against the original:
    // clipped n-gram matches as exact integers, geometric mean via
    // the proven exp/ln surface, brevity penalty on BIGINT totals.
    // The candidate column is any generated-text column in practice;
    // the synthetic corpus has none, so the query constructs one the
    // oracle reproduces token-for-token. ----
    "t_bleu" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val cand = array_join(
        filter(toks, (tk, i) => ((i + lit(1)) % 7) =!= 0), " ")
      TextOps.bleuCorpus(
        t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", cand, col("text"))
    }),

    // ---- training-data ops: per-doc ROUGE-1/2 — precision/recall/F1
    // of clipped n-gram overlap (the summarization-eval standard) for
    // the same constructed candidate; F1 ships as the EXACT fraction
    // 2m/(t_cand + t_ref), one rounding. ----
    "t_rouge" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val cand = array_join(
        filter(toks, (tk, i) => ((i + lit(1)) % 7) =!= 0), " ")
      TextOps.rougeN(
        t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", cand, col("text"))
    }),

    // ---- training-data ops: per-doc chrF — CHARACTER n-gram F-score
    // (Popović 2015; β=2, orders 1..6 on space-stripped text), the
    // morphology-sensitive third generation-eval metric beside BLEU
    // and ROUGE: clipped char-gram matches on the shared gramCounts
    // substrate, per-order round-6 P/R averaged in fixed left-assoc
    // order over orders present on both sides. Same constructed
    // candidate as t_bleu/t_rouge. ----
    "t_chrf" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val cand = array_join(
        filter(toks, (tk, i) => ((i + lit(1)) % 7) =!= 0), " ")
      TextOps.chrF(
        t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", cand, col("text"))
    }),

    // ---- training-data ops: multinomial naive-Bayes classifier,
    // trained and applied in one plan — the classifier-based curation
    // filter (GPT-3/CCNet-style), supervised here by `source` so the
    // query audits domain separability. Laplace-smoothed log-prob
    // grid = vocab × labels (labels broadcast, vocab never); exact
    // decimal score accumulation; tie-broken argmax window. The 32
    // hottest terms (stopword postings — the measured skew) route
    // through the salted join; scores stay bit-identical, so the
    // oracle needs no knowledge of the salting. ----
    "t_nb_classify" -> ((s, dir) =>
      TextOps.naiveBayesClassify(t(s, dir, "documents"), "doc_id",
        "text", "source", saltHotTerms = 32)),

    // ---- training-data ops: corpus term frequencies (explode +
    // count + deterministic top-k) ----
    "t_top_terms" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20)),

    // ---- training-data ops: code-vs-prose gate — symbol/digit
    // density + keyword hits, narrow regexp passes, no shuffle. ----
    "t_code_detect" -> ((s, dir) =>
      TextOps.codeDetect(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)),

    // ---- training-data ops: reproducible EDA augmentation —
    // hash-selected adjacent swaps then hash-selected deletes, one
    // narrow HOF pass, no RNG state (same doc always augments the
    // same way on any engine). ----
    "t_augment" -> ((s, dir) =>
      TextOps.augmentText(t(s, dir, "documents"), "doc_id", "text",
        dropEvery = 10, swapEvery = 7)),

    // ---- training-data ops: proximity (slop) search — 'hash' and
    // 'join' within 3 positions; postings filtered to the two terms
    // BEFORE the doc-keyed pairing, corpus never self-joins. ----
    "t_proximity_search" -> ((s, dir) =>
      TextOps.proximitySearch(t(s, dir, "documents"), "doc_id",
        "text", "hash", "join", slop = 3)),

    // ---- training-data ops: Flesch reading-ease + FK grade — the
    // readability diagnostic beside the Gopher rules; narrow per-row
    // fold (vowel-group syllables, [.!?]+ sentences), no shuffle. ----
    "t_readability" -> ((s, dir) =>
      TextOps.readability(t(s, dir, "documents"), "doc_id", "text")),

    // ---- training-data ops: Zipf rank–frequency fit — OLS on
    // (ln rank, ln freq) over the top-100 terms (TakeOrdered; the
    // rank window sees only the 100-row frame) + corpus totals.
    // Slope ≈ −1 is the natural-language signature the curation
    // audits check; templated corpora bend it. ----
    "t_zipf" -> ((s, dir) =>
      TextOps.zipfFit(t(s, dir, "documents"), "text", topN = 100)),

    // ---- training-data ops: vocabulary coverage — Good–Turing
    // unseen mass (N₁/N), bias-corrected Chao1 richness bound, and
    // the hapax ratio, all off ONE term-frequency agg + one
    // single-row conditional agg. "Is this corpus big enough for its
    // domain, and how much vocabulary tail remains?" ----
    "t_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(t(s, dir, "documents"), "text")),

    // ---- training-data ops: Heaps'-law vocab growth — V(n)=K·n^β
    // fitted on the corpus's own doc-order growth curve; cumulative
    // vocab via per-term FIRST-occurrence doc (no per-prefix
    // distinct), both cumulatives through the bucketed Prefix
    // hierarchy, log-log OLS tail. β says how fast the vocabulary
    // tail is still opening. ----
    "t_heaps" -> ((s, dir) =>
      TextOps.heapsFit(t(s, dir, "documents"), "text", "doc_id")),

    // ---- training-data ops: distinctive terms per source —
    // "Fightin' Words" Haldane-smoothed log-odds z per (source,
    // term) cell, top-3 per source: the boilerplate/domain markers
    // a mixing or dedup step should know about. ----
    "t_distinct_terms" -> ((s, dir) =>
      TextOps.distinctiveTerms(t(s, dir, "documents"), "text",
        "source", topK = 3, minCount = 5L)),

    // ---- training-data ops: pairwise source JS divergence — the
    // redundancy map for corpus mixing; common-term contributions +
    // the (ln2)/2 missing-mass correction, no per-pair vocabulary
    // completion. ----
    "t_source_js" -> ((s, dir) =>
      TextOps.sourceDivergence(t(s, dir, "documents"), "text",
        "source")),

    // ---- training-data ops: cross-corpus bigram surprise — odd
    // doc_ids scored under the even-half's bigram LM with stupid
    // backoff; the CCNet-style perplexity proxy for quality
    // filtering and novelty mining. ----
    "t_cross_surprise" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.bigramSurprise(
        d.filter(pmod(col("doc_id"), lit(2L)) === 1),
        d.filter(pmod(col("doc_id"), lit(2L)) === 0),
        "doc_id", "text")
    }),

    // ---- training-data ops: leakage-safe split audit — documents
    // split train/test BY exact-dup fingerprint cluster (a cluster
    // can never straddle the boundary); deterministic portable-hash
    // assignment, per-split row/cluster counts. ----
    "t_leakage_split" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("__cl", TextOps.fingerprint(col("text")))
      TextOps.leakageSafeSplit(d, "__cl", testMicros = 100000L)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("__cl")).as("n_clusters"))
    }),

    // ---- training-data ops: BPE ENCODE — learn 3 merges on the
    // corpus, then apply them corpus-wide (rank-ordered greedy
    // non-overlapping fuse, the learner's exact rewrite) and report
    // per-doc raw-vs-encoded token counts. Encoding is k chained
    // narrow HOF passes — no shuffle, no join: the embarrassingly-
    // parallel half of BPE. Oracle replays learn AND apply. ----
    "t_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.applyBpeMerges(docs, "doc_id", "text",
        TextOps.learnBpeMerges(docs, "doc_id", "text", 3))
    }),

    // ---- training-data ops: GloVe-style distance-weighted
    // co-occurrence table (Pennington et al. 2014) — |tokens|·window
    // narrow explode, ONE (t1, t2) hash agg, X_ij ≥ 3 cut; the 1/d
    // weights sum as round-6 decimals (exact, order-free). ----
    "t_glove_cooccur" -> ((s, dir) =>
      TextOps.gloveCooccur(t(s, dir, "documents"), "text",
        window = 2, minCount = 3)),

    // ---- training-data ops: TextRank keyword ranking (Mihalcea &
    // Tarau 2004) — PageRank over the co-occurrence graph, TWO
    // deterministic unrolled rounds in the Pregel-on-DataFrames shape
    // (per round: one src-keyed shuffle join of the cached edge list
    // to the vocab-sized rank table + one dst-keyed agg — ranks stay
    // distributed, never broadcast); the oracle replays init and both
    // rounds in SQL. ----
    "t_textrank" -> ((s, dir) =>
      TextOps.textRank(t(s, dir, "documents"), "text",
        window = 2, iters = 2)),

    // ---- G1: per-node triangle counts over the term co-occurrence
    // graph — node-iterator with DEGREE ORIENTATION (edges directed
    // low→high degree), so every triangle is enumerated exactly once
    // and wedge work is bounded by Σ outdeg² with out-degrees capped
    // O(√m) — hub terms cost the answer, not hub-degree². Oracle
    // counts the same triangles by canonical vertex order (an
    // INDEPENDENT enumeration strategy). ----
    "g_triangles" -> ((s, dir) =>
      Graphs.triangleCounts(
        TextOps.gloveCooccur(t(s, dir, "documents"), "text",
          window = 2, minCount = 5),
        "t1", "t2")),

    // ---- G3: k-core decomposition (k=4) of the term co-occurrence
    // graph — iterative peel, ≤ 8 rounds, early stop the round
    // nothing peels; early stop == full replay (a converged graph
    // peels nothing), so the oracle unrolls exactly 8 rounds. ----
    "g_kcore" -> ((s, dir) =>
      Graphs.kCore(
        TextOps.gloveCooccur(t(s, dir, "documents"), "text",
          window = 2, minCount = 5),
        "t1", "t2", k = 4, rounds = 8)),

    // ---- G4: label-propagation communities (3 rounds) on the term
    // co-occurrence graph — deterministic LPA (most frequent neighbor
    // label, ties to the smallest); early stop only at a fixpoint,
    // which is invariant under replaying the full budget. ----
    "g_labelprop" -> ((s, dir) =>
      Graphs.labelPropagation(
        TextOps.gloveCooccur(t(s, dir, "documents"), "text",
          window = 2, minCount = 5),
        "t1", "t2", rounds = 3)),

    // ---- J19: blocked edit-distance self-join — typo-class fuzzy
    // matching of customer names within nation blocks; banded
    // levenshtein (threshold sentinel −1) behind a necessary length
    // filter; a<b orders the pair once. ----
    // blk4 key (nation + leading name digits): the measured
    // scale-safe block — flat 1.19x at 30x where nation-only grew
    // candidates ~900x (BENCH_SF1.md j19 sweep). The recall trade
    // (a typo INSIDE the 4 leading digits separates the pair) is the
    // stated single-pass contract; j20_multipass is the recovery.
    "j19_edit_join" -> ((s, dir) => {
      // project to the join's working set BEFORE pair expansion: the
      // candidate pairs are the cost center (4.9M rows), and every
      // unprojected column (c_comment is ~70 chars, c_address ~25)
      // rides the block join TWICE (a_/b_ prefixed) — ~10× the bytes
      // through the shuffle for columns the query never returns
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      ops.Linkage.editDistanceJoin(c, c,
          concat(col("a_c_nationkey"), lit(":"),
            substring(col("a_c_name"), 10, 4)),
          concat(col("b_c_nationkey"), lit(":"),
            substring(col("b_c_name"), 10, 4)),
          "c_name", "c_name", maxDist = 2)
        .filter(col("a_c_custkey") < col("b_c_custkey"))
        .select(col("a_c_custkey"), col("b_c_custkey"),
          col("edit_dist"))
    }),

    // ---- J: multi-pass blocked edit-distance join — the recall
    // recovery for j19's fine block: TWO complementary fine keys
    // (nation + LEADING 4 name digits, nation + TRAILING 4), pairs
    // unioned + deduped, then the same banded-levenshtein tail. A
    // pair typo'd inside one key's digit window survives via the
    // other pass. ----
    "j20_multipass" -> ((s, dir) => {
      // same pre-pair projection as j19 — doubly load-bearing here:
      // the cross-pass distinct's pair identity is the full prefixed
      // row, so slim rows cut both the union shuffle AND the dedup
      // (custkey is a key — the dedup grain is unchanged)
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      ops.Linkage.blockedPairsMultiPass(c, c, Seq(
          (concat(col("a_c_nationkey"), lit(":"),
             substring(col("a_c_name"), 10, 4)),
           concat(col("b_c_nationkey"), lit(":"),
             substring(col("b_c_name"), 10, 4))),
          (concat(col("a_c_nationkey"), lit(":"),
             substring(col("a_c_name"), 15, 4)),
           concat(col("b_c_nationkey"), lit(":"),
             substring(col("b_c_name"), 15, 4)))))
        .filter(col("a_c_custkey") < col("b_c_custkey"))
        .filter(abs(length(col("a_c_name")) -
          length(col("b_c_name"))) <= 2)
        .withColumn("edit_dist",
          levenshtein(col("a_c_name"), col("b_c_name"), 2)
            .cast("long"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") <= 2)
        .select(col("a_c_custkey"), col("b_c_custkey"),
          col("edit_dist"))
    }),

    // ---- E: margin-scored mutual k-NN matching across labels 0/1 —
    // the bitext-mining criterion: mutual top-1 pairs only, margin =
    // cos over the mean of both sides' k-NN neighborhoods
    // (truncating micro means); brute pair frame by the e_sim_pairs
    // contract, IVF shortlists at serving scale. ----
    "e_mutual_margin" -> ((s, dir) =>
      sim.Similarity.marginMutualKnn(
        t(s, dir, "embeddings").filter(col("label").isin(0, 1)),
        "vec_id", "embedding", col("label") === 0, k = 4)),

    // ---- E: SHORTLIST-FED margin mining — the serving-scale twin of
    // e_mutual_margin: candidate pairs are the union of two directed
    // IVF k-NN shortlists (nlist = nlistFor(n) — the deployment
    // contract, cells bounded at 64; nprobe=4, shortlistK=8) instead
    // of the |A|·|B| product, then the identical mutual/margin tail.
    // No crossJoin anywhere; the oracle replays the whole IVF
    // structure (derived nlist, centroid pick, cell argmax, probe
    // ranks, per-query shortlist) and the tail in SQL. ----
    "e_mutual_margin_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("label").isin(0, 1)
        && col("vec_id").isNotNull && col("embedding").isNotNull)
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        Similarity.nlistFor(emb.count()))
      // hierAssign: the deployment-contract corpus assignment (r14
      // ADVICE — exact argmax over a derived nlist is O(n²/cellTarget);
      // the two-level walk is O(n·√nlist) and the oracle replays it)
      Similarity.marginMutualKnnIvf(emb, "vec_id", "embedding",
        col("label") === 0, k = 4, centroids = cents, nprobe = 4,
        shortlistK = 8, hierAssign = true)
    }),

    // ---- E: embedding centroid drift — per-label cosine between the
    // even-id and odd-id slice centroids; compares exact micro-unit
    // SUM vectors (cosine is scale-invariant, so no mean is ever
    // taken), one double sqrt/division per label. ----
    "e_centroid_drift" -> ((s, dir) =>
      sim.Similarity.centroidDrift(t(s, dir, "embeddings"), "label",
        "embedding", col("vec_id") % 2 === 0)),

    // ---- G2: damped PageRank over the customer→supplier purchase
    // graph (edge weight = lineitem count) — TWO unrolled iterations
    // with teleport AND dangling-mass redistribution genuinely
    // exercised (every supplier is a sink in this bipartite
    // direction). Node ids prefixed c/s so the two key spaces never
    // collide. Ranks stay distributed; the dangling sum and N are
    // the only scalars. Oracle replays both rounds in SQL. ----
    // ---- G: personalized PageRank — restart mass on the nation-1
    // customer cohort; rank flows to the suppliers that cohort
    // actually reaches ("suppliers of customers like these"), with
    // dangling mass teleporting back to the seeds (the PPR
    // convention). Same bipartite graph as g_pagerank. ----
    "g_ppr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 1)
        .select(concat(lit("c"), col("c_custkey")).as("id"))
      Graphs.personalizedPageRank(edges, "src", "dst", col("w"),
        seeds, "id", damping = 0.85, iters = 2)
    }),

    "g_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      Graphs.pageRank(edges, "src", "dst", col("w"),
        damping = 0.85, iters = 2)
    }),

    // ---- crawl graph: anchor-href extraction → host-level link
    // edges → PageRank, the link-based-centrality mile of a crawl
    // pipeline (URL frontier prioritization, CC-style host ranking).
    // Pages constructed per doc with two absolute outlinks to the
    // next two host classes plus a fragment and a relative link
    // (filtered — resolution needs the base URL and is the caller's
    // job, stated in HtmlOps.extractLinks). Extraction is one
    // codegen'd regexp_extract_all; edges one hash agg; the 2-round
    // PageRank replayed in full by the oracle. ----
    "t_link_graph" -> ((s, dir) => {
      import graft.text.{DomainOps, HtmlOps, TextOps}
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def hostOfClass(x: Column): Column =
        when(x === 0, "alpha.example.com")
          .when(x === 1, "site-b.co.uk")
          .when(x === 2, "blog.blogspot.com")
          .otherwise("gamma.org")
      val m = pmod(col("doc_id"), lit(4))
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p><a class=\"x\" href=\"https://"),
        hostOfClass(pmod(col("doc_id") + 1, lit(4))),
        lit("/out1\">a</a><a href='https://"),
        hostOfClass(pmod(col("doc_id") + 2, lit(4))),
        lit("/out2'>b</a><a href=\"#top\">t</a>" +
          "<a href=\"/rel\">r</a></body></html>"))
      val links = d
        .select(hostOfClass(m).as("src_host"),
          explode(HtmlOps.extractLinks(html)).as("link"))
        .filter(col("link").rlike("^https?://"))
        .select(col("src_host"),
          DomainOps.hostOf(TextOps.canonicalizeUrl(col("link")))
            .as("dst_host"))
      // pin the edge list before pageRank (guide §3.3 very-large
      // plans): pageRank embeds its edges subtree ~(4 + 2·iters)
      // times, and HERE that subtree is the extractLinks +
      // canonicalizeUrl expression jungle — JobProfile measured 2.4 s
      // of the query's ~3 s wall as DRIVER gap (planning), vs 0.9 s
      // for g_pagerank whose edges are plain columns. The pin
      // replaces the jungle with a LogicalRDD of the aggregated edge
      // frame — host×host ≤ 16 rows, the bounded-frame discipline
      // (runtime was already deduped by ReuseExchange; planning walks
      // every copy regardless).
      val edges = Iterate.pin(
        links.groupBy(col("src_host"), col("dst_host"))
          .agg(count(lit(1)).as("w")))
      Graphs.pageRank(edges, "src_host", "dst_host", col("w"),
        damping = 0.85, iters = 2)
    }),

    // ---- training-data ops: TF-IDF top terms per doc — tf and df are
    // two linear hash aggs off one tokenization; df-side join is
    // vocab-sized. Window orders by the ROUNDED score so cross-engine
    // ties break identically. ----
    "t_tfidf" -> ((s, dir) => {
      val scored = TextOps.tfIdf(t(s, dir, "documents"), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
    }),

    // ---- training-data ops: deterministic 90/5/5 train/val/test
    // split by portable id hash — no RNG state, reproducible across
    // engines/runs/layouts (the property a split must have so later
    // pipeline stages can recompute membership instead of joining a
    // split table); per-(source, split) counts as the audit row ----
    // ---- training-data ops: deterministic epoch shuffle — the seeded
    // global permutation a training export reads as sequential shard
    // files; shard assignment is the one exchange, each shard sorts
    // independently (no global sort). Reproducible across engines:
    // the oracle recomputes the identical permutation. ----
    "t_epoch_shuffle" -> ((s, dir) =>
      TextOps.epochShuffle(t(s, dir, "documents"), "doc_id",
          seed = 7L, shards = 32)
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))),

    "t_hash_split" -> ((s, dir) => {
      val h = pmod(TextOps.portableHash(col("doc_id")), lit(100))
      t(s, dir, "documents")
        .withColumn("split",
          when(h < 90, lit("train")).when(h < 95, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ---- F-array: collection-function surface (distinct/sort/slice/
    // contains/reverse over a derived token array) — narrow, each
    // output column an independent cheap projection ----
    "f_array_ops" -> ((s, dir) => {
      def tk = TextOps.tokens(lower(col("text")))
      t(s, dir, "documents").select(col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        array_join(slice(array_sort(array_distinct(tk)), 1, 5), " ")
          .as("first5"),
        array_contains(tk, "the").as("has_the"),
        array_join(reverse(slice(tk, 1, 3)), " ").as("rev3"))
    }),

    // ---- training-data ops: deterministic per-domain quota — keep at
    // most 15 docs per source in portable-hash order (the crawl-
    // curation "max N per host" policy; unbiased and reproducible
    // across engines/runs, unlike ingestion-order caps). ----
    "t_cap_per_domain" -> ((s, dir) =>
      TextOps.capPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        groupCols = Seq("source"), idCol = "doc_id", maxRows = 15)),

    // ---- training-data ops: positional phrase search over the
    // inverted index — every (doc, start) where "table part" occurs
    // as consecutive tokens. Anchor-vote evaluation: ONE (doc,
    // anchor) shuffle regardless of phrase length, postings
    // pre-filtered to the phrase terms (hits-sized, not
    // corpus-sized). Oracle finds the same occurrences by direct
    // token-array adjacency — an independent formulation. ----
    "t_phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(
        TextOps.invertedIndex(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", Seq("table", "part"))),

    // ---- training-data ops: keyword-in-context (KWIC) concordance —
    // every occurrence of "window" with 3 tokens of context either
    // side: the corpus-inspection view behind every "show me how this
    // term is used" audit. One tokenization bound once, narrow
    // explode, no shuffle. ----
    "t_kwic" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"), posexplode(col("tk")))
        .filter(col("col") === "window")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          concat_ws(" ", slice(col("tk"),
            greatest(col("pos") - 3, lit(0)) + 1,
            col("pos") - greatest(col("pos") - 3, lit(0))))
            .as("left_ctx"),
          concat_ws(" ", slice(col("tk"), col("pos") + 2, lit(3)))
            .as("right_ctx"))),

    // ---- training-data ops: weighted sampling WITHOUT replacement
    // (Efraimidis–Spirakis) — top-50 docs by the portable-hash A-ES
    // key with n_chars as weight: longer docs proportionally likelier,
    // RNG-free and engine-reproducible. Narrow projection into
    // TakeOrdered — no shuffle, no global sort. ----
    "t_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), n = 50)),

    // ---- training-data ops: sliding-window chunking with overlap
    // (64-token windows every 48 — the context-window/RAG passage
    // prep). One tokenization, narrow explode, no shuffle. ----
    "t_chunk_overlap" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.chunkOverlap(col("text"), 64, 48)).as("ch"))
        .select(col("doc_id"), col("ch.chunk_idx"),
          col("ch.n_chunk_tokens"), col("ch.chunk_text"))),

    // ---- training-data ops: unigram LM surprise (CCNet-style quality
    // signal) — corpus unigram distribution, per-doc mean -ln p(token)
    // with round-6 + decimal accumulation for engine determinism ----
    "t_unigram_logprob" -> ((s, dir) =>
      TextOps.unigramSurprise(t(s, dir, "documents"), "doc_id", "text")),

    // ---- training-data ops: DSIR importance weights (Xie et al.
    // 2023) — hashed-unigram log-likelihood ratio of the English
    // slice (target) vs the whole corpus (source); the importance-
    // resampling scorer for domain-targeted data selection. Bucket
    // log-ratios round-6 then exact-decimal sum per doc. ----
    "t_dsir_weights" -> ((s, dir) =>
      TextOps.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 4096)),

    // ---- training-data ops: repeated-block removal — the MassiveText/
    // C4 boilerplate-line pass over token blocks (this corpus has no
    // newline structure); blocks repeated >= 5 times corpus-wide are
    // cut and docs reassembled. One md5-keyed exchange decides
    // frequency; the block text never shuffles as a key. ----
    "t_block_dedup" -> ((s, dir) =>
      TextOps.removeRepeatedBlocks(t(s, dir, "documents"),
        "doc_id", "text", blockTokens = 3, minRepeat = 5)),

    // ---- training-data ops: duplicated-span detection — the anchor
    // k-gram core of exact-substring dedup (Lee et al. 2021): maximal
    // runs of positions whose 8-gram repeats corpus-wide. Occurrence
    // count is a window over the gram's md5 (16-byte shuffle key);
    // islands are one doc-keyed window. ----
    "t_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minCount = 2)),

    // ---- training-data ops: exact-substring removal — cut every
    // token covered by a corpus-duplicated 8-gram (all copies, the
    // ExactSubstr convention), reassemble survivors in order. ----
    "t_dup_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id",
        "text", k = 8, minCount = 2)),

    // ---- training-data ops: Gopher quality rules — the boolean
    // document pre-filters (word count, mean word length, alphabetic
    // fraction, symbol ratio, distinct-stopword presence) with their
    // underlying measurements; pure narrow pass, no shuffle. ----
    "t_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        minWords = 50L)),

    // ---- training-data ops: BM25 relevance against a fixed term bag —
    // the retrieval scorer for corpus search/inspection. Token stream
    // filtered to the terms BEFORE the explode; df and N/avgdl are
    // broadcast-sized. ----
    "t_bm25" -> ((s, dir) =>
      TextOps.bm25(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "join", "filter", "window"))),

    // ---- training-data ops: hybrid retrieval via reciprocal-rank
    // fusion — the BM25 lexical arm and the brute-cosine semantic arm
    // (both already oracled solo) fused as Σ 1/(60+rank); no score
    // calibration across incomparable scales, rank windows over
    // candidate-list-sized arms only. ----
    "t_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val lex = TextOps.bm25(docs, "doc_id", "text",
        terms = Seq("spark", "join", "filter", "window"))
      val sem = Similarity.topKForVector(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 50)
      TextOps.rrfFuse(Seq((lex, "doc_id", "bm25"),
        (sem, "neighbor_id", "cos_sim")))
    }),

    // ---- training-data ops: corpus health report — the per-source
    // dashboard row (docs, tokens, mean quality, curation pass rate,
    // exact-dup incidence) in ONE pass over the corpus plus a
    // normalized-content dup-count join. The dup key is md5(normalized)
    // — the 16-byte shuffle-key discipline of Dedup.exactByContent,
    // not the full text. ----
    "t_corpus_report" -> ((s, dir) => {
      // n_tokens and q each tokenize (a few bounded linear text passes,
      // same shape as t_quality); a shared binding would need the
      // element_at(transform(array(...))) result referenced TWICE,
      // which re-evaluates the lambda per reference (no codegen CSE)
      val scored = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.qualityScore(col("text")).as("q"),
        md5(TextOps.normalize(col("text"))).as("nrm"))
      val dupCounts = scored.groupBy(col("nrm")).agg(count(lit(1)).as("__n"))
      scored.join(dupCounts, Seq("nrm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          // mergeable partial (exact decimal sum of round-6 scores) +
          // an UNROUNDED double mean: exact-decimal→double then IEEE
          // division is bit-deterministic across engines, while a
          // final round() splits on HALF_UP-vs-banker's midpoints
          // (the e_label_centroid lesson, commit ca4fd9d)
          sum(col("q").cast("decimal(16,6)")).cast("double").as("sum_q"),
          (sum(col("q").cast("decimal(16,6)")).cast("double") /
            count(lit(1))).as("mean_quality"),
          sum((col("q") >= 0.5).cast("long")).as("n_quality_pass"),
          sum((col("__n") > 1).cast("long")).as("n_dup_docs"))
    }),

    // ---- training-data ops: bigram-conditional LM surprise — per-doc
    // mean -ln P(w2|w1) with MLE P = c(w1 w2)/c(w1·) from the corpus
    // itself (the next-token-predictability quality signal; unigram
    // twin: t_unigram_logprob). One bigram explode, two vocab-sized
    // count joins, round-6 + decimal mean for engine determinism. ----
    "t_bigram_surprise" -> ((s, dir) => {
      val bgs = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.bigrams(col("text"))).as("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
      val cb = bgs.groupBy(col("bg")).agg(count(lit(1)).as("__cb"))
      val cp = bgs.groupBy(col("w1")).agg(count(lit(1)).as("__cp"))
      bgs.join(cb, Seq("bg")).join(cp, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(round(-log(col("__cb").cast("double") / col("__cp")), 6)
            .cast("decimal(28,6)")).cast("double") / count(lit(1)), 6)
            .as("mean_surprise"))
    }),

    // ---- training-data ops: word2vec-style negative-sampling table —
    // per term, weight = count^0.75 (the subsampling exponent),
    // probability and cumulative probability on the round-6 grid in
    // portable-hash term order (an engine-reproducible alias table:
    // sampling = binary search over cum_p anywhere). ----
    "t_neg_sampling" -> ((s, dir) => {
      val cu = t(s, dir, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .withColumn("w", round(pow(col("n").cast("double"), 0.75), 6))
      val tot = cu.agg(sum(col("w").cast("decimal(28,6)")).as("__tw"))
      // vocab-sized single-partition window (an alias table IS vocab
      // metadata); portable char-fold order so any engine reproduces
      // the same cumulative layout
      val ord = org.apache.spark.sql.expressions.Window
        .orderBy(aggregate(split(col("term"), ""), lit(0L),
          (acc, c) => (acc * 31L + ascii(c)) % 2147483647L), col("term"))
      cu.crossJoin(broadcast(tot))
        .withColumn("p", round(col("w") / col("__tw").cast("double"), 6))
        .withColumn("cum_w", round(
          sum(col("w").cast("decimal(28,6)")).over(ord).cast("double"), 6))
        .select(col("term"), col("n"), col("w"), col("p"), col("cum_w"))
    }),


    // ---- training-data ops: token-distribution entropy per doc — the
    // low-entropy screen for template/boilerplate text (a doc of one
    // repeated token scores 0; rich vocab scores ~ln(N)). Per-distinct-
    // term contribution −(n/N)·ln(n/N) round-6, exact-decimal sum
    // (unrounded — sum of 6-dp decimals casts to double exactly). ----
    "t_doc_entropy" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text"))))
          .as("term"))
      // NB: resolution is case-insensitive — "__n"/"__N" would collide
      val perTerm = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("__cnt"))
      val withTotal = perTerm.withColumn("__tot",
        sum(col("__cnt")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))))
      val contrib = round(
        -(col("__cnt").cast("double") / col("__tot")) *
          log(col("__cnt").cast("double") / col("__tot")), 6)
      withTotal.groupBy(col("doc_id"))
        .agg(max(col("__tot")).as("n_tokens"),
          sum(contrib.cast("decimal(28,6)")).cast("double").as("entropy"))
    }),

    // ---- training-data ops: BPE merge learning (Sennrich et al.
    // 2016) — three rounds of corpus-global most-frequent-adjacent-
    // pair selection with deterministic tiebreak and greedy non-
    // overlapping application; the output merge table is the
    // tokenizer-induction artifact. Each round = one pair explode +
    // hash agg + 1-row argmax; rewrite is a narrow codegen fold. ----
    "t_bpe_merges" -> ((s, dir) =>
      TextOps.learnBpeMerges(t(s, dir, "documents"), "doc_id", "text",
        numMerges = 3)),

    // ---- training-data ops: interpolated bigram-LM negative log-
    // likelihood (the CCNet/KenLM-style fluency scorer): per token
    // position, P = 0.7·P_bigram(w2|w1) + 0.3·P_unigram(w2), mean
    // −ln P per doc. Same determinism discipline as the surprise
    // scorers: round-6 per position, exact-decimal sum. Perplexity is
    // exp(mean_nll) client-side (exp on a round-6 input would re-open
    // the libm-ulp window). All count sides are vocab-sized joins. ----
    "t_lm_interpolated" -> ((s, dir) => {
      val bgs = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.bigrams(col("text"))).as("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      val cb = bgs.groupBy(col("bg")).agg(count(lit(1)).as("__cb"))
      val cp = bgs.groupBy(col("w1")).agg(count(lit(1)).as("__cp"))
      val toks = t(s, dir, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("w2"))
      val cu = toks.groupBy(col("w2")).agg(count(lit(1)).as("__cu"))
      val tot = toks.agg(count(lit(1)).as("__t"))
      val p = lit(0.7) * (col("__cb").cast("double") / col("__cp")) +
        lit(0.3) * (col("__cu").cast("double") / col("__t"))
      bgs.join(cb, Seq("bg")).join(cp, Seq("w1")).join(cu, Seq("w2"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          // UNROUNDED mean: exact-decimal sum -> double -> one IEEE
          // division is bit-deterministic; a final round() splits on
          // HALF_UP-vs-render midpoints (observed: doc 484's mean
          // landing exactly on …0015 — the t_corpus_report lesson)
          (sum(round(-log(p), 6).cast("decimal(28,6)"))
            .cast("double") / count(lit(1))).as("mean_nll"))
    }),

    // ---- training-data ops: length-band curation filter — keep docs
    // whose token count sits inside the corpus [p05, p95] band; the
    // 1-row bounds side broadcasts ----
    "t_length_filter" -> ((s, dir) => {
      val wc = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      val bounds = wc.agg(
        expr("percentile(n_tokens, 0.05)").as("lo"),
        expr("percentile(n_tokens, 0.95)").as("hi"))
      wc.join(broadcast(bounds))
        .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
        .select("doc_id", "n_tokens")
    }),

    // ---- t_length_filter's 100 TB twin: approx_percentile bounds.
    // Exact `percentile` is a full sort-based agg; approx_percentile is
    // a mergeable GK sketch (one narrow pass + tiny partials) with
    // rank error ≤ n/accuracy — at accuracy 10000 that is ≤ 0.01% of
    // rows mis-banded, and for n ≤ accuracy the sketch stores all
    // values, so bounds are exact discrete quantiles (what the DuckDB
    // quantile_disc oracle computes). ----
    "t_length_filter_approx" -> ((s, dir) => {
      val wc = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      val bounds = wc.agg(
        expr("approx_percentile(n_tokens, 0.05, 10000)").as("lo"),
        expr("approx_percentile(n_tokens, 0.95, 10000)").as("hi"))
      wc.join(broadcast(bounds))
        .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
        .select("doc_id", "n_tokens")
    }),

    // ---- training-data ops: the CURATION capstone — one query
    // composing the pipeline a training-data pass actually runs: keep
    // docs that (a) score quality >= 0.5, (b) classify as English, and
    // (c) are the canonical member of their near-dup cluster ----
    "t_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, "doc_id", "text",
          threshold = 0.5, shingleN = 3, numHashes = 32, bands = 16))
      val dropDups = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs
        .filter(TextOps.curationKeep(col("text"), 0.5, "en"))
        .join(dropDups, Seq("doc_id"), "left_anti")
        .select("doc_id")
    }),

    // ---- training-data ops: sequence packing — docs laid out in id
    // order within 8 hash shards, chunked at a 2048-token budget; each
    // doc maps to the training chunk where it starts ----
    "t_pack_chunks" -> ((s, dir) =>
      TextOps.packChunks(
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_tokens"),
            pmod(col("doc_id"), lit(8)).as("shard")),
        "doc_id", "n_tokens", "shard", budget = 2048)),

    // ---- training-data ops: Unicode NFC canonicalization — docs with
    // combining sequences staged deterministically (doc_id ≡ 0 mod 7
    // gets every 'e' decomposed to e+U+0301), then the native
    // NfcNormalize recomposes; full normalized text in the output so
    // the hash compare proves BYTE-level agreement with DuckDB's
    // independent utf8proc implementation. Narrow, shuffle-free, with
    // an isNormalized fast path for already-clean (ASCII) docs. ----
    "t_nfc_normalize" -> ((s, dir) => {
      val raw = when(col("doc_id") % 7 === 0,
          call_function("replace", col("text"), lit("e"),
            lit("e\u0301")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          NativeExpressions.nfc_normalize(col("raw")).as("nfc"),
          length(col("raw")).cast("long").as("raw_len"))
        .withColumn("nfc_len", length(col("nfc")).cast("long"))
    }),

    // ---- training-data ops: exact dedup by content hash ----
    "t_dedup_exact" -> ((s, dir) =>
      Dedup.exactByContent(t(s, dir, "documents"), "doc_id", "text")),

    // ---- training-data ops: exact dedup on normalized content ----
    "t_dedup_norm" -> ((s, dir) =>
      Dedup.exactByContent(t(s, dir, "documents"), "doc_id", "text",
        normalized = true)),

    // ---- training-data ops: URL-canonicalization dedup — the
    // key-level crawl dedup that runs BEFORE content dedup (same
    // page under case variants / default ports / tracking params /
    // fragments / param order / trailing slash). Each doc gets a
    // deterministically DIRTIED url (7 variants by doc_id mod 7 —
    // the j16 dirty-copy discipline); canonicalization is row-local
    // string algebra (TextOps.canonicalizeUrl), dedup one hash agg
    // on the canonical key. Variants 0/1/2/4/5 collapse to the bare
    // page, 3/6 to page?a=1&b=2. ----
    "t_url_dedup" -> ((s, dir) => {
      // base keyed on the 7-doc BLOCK alone (not per-doc lang/source
      // — those differ between consecutive docs, which would make
      // every canonical group a singleton and the collapse a no-op):
      // each block's 7 variants canonicalize to TWO groups, the bare
      // page (m 0/1/2/4/5) and page?a=1&b=2 (m 3/6)
      val base = concat(lit("https://www.example.com/docs/page"),
        expr("doc_id div 7"))
      val m = pmod(col("doc_id"), lit(7))
      val dirty = when(m === 0, base)
        .when(m === 1, concat(upper(base.substr(lit(1), lit(12))),
          base.substr(lit(13), length(base))))
        .when(m === 2, call_function("replace", base,
          lit(".example.com/"), lit(".example.com:443/")))
        .when(m === 3, concat(base, lit("?utm_source=x&b=2&a=1")))
        .when(m === 4, concat(base, lit("#sec-2")))
        .when(m === 5, concat(base, lit("/")))
        .otherwise(concat(base, lit("?a=1&b=2&utm_campaign=y")))
      // doc_id >= 0 is enforced (not assumed): the variant selection
      // mixes pmod (sign-safe) with div (trunc toward zero), and the
      // oracle's %/// have different negative semantics — restrict
      // all three variants to the domain where they provably agree
      t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("doc_id") >= 0)
        .select(col("doc_id"),
          TextOps.canonicalizeUrl(dirty).as("url"))
        .groupBy(col("url"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("doc_id")).as("keep_id"))
    }),

    // ---- training-data ops: registrable-domain extraction — the
    // crawl-curation key ABOVE t_url_dedup's page key (per-domain
    // quotas, domain mixing, blocklists all group by eTLD+1). Dirty
    // URLs constructed per doc (8 variants by doc_id mod 8) cover
    // every publicsuffix.org rule kind: normal single- and
    // multi-label, wildcard *.ck, exception !www.ck, private
    // github.io-style (via ac.uk), the implicit default rule on an
    // unknown TLD, and the IP non-domain. Canonicalize → host →
    // broadcast rules dim → one prevailing-match hash agg; the
    // suffix snapshot itself is replayed as VALUES in the oracle. ----
    "t_registrable_domain" -> ((s, dir) => {
      val b = expr("doc_id div 8")
      val m = pmod(col("doc_id"), lit(8))
      val dirty = when(m === 0,
          concat(lit("https://A"), b, lit(".Example.COM/pg")))
        .when(m === 1,
          concat(lit("http://www.news"), b, lit(".co.uk:80/story/")))
        .when(m === 2, concat(lit("https://deep.sub.site"), b,
          lit(".org/x?utm_source=t&z=1")))
        .when(m === 3, concat(lit("https://foo.bar"), b, lit(".ck/x")))
        .when(m === 4,
          concat(lit("https://a"), b, lit(".www.ck/x#frag")))
        .when(m === 5,
          concat(lit("https://x.y.site"), b, lit(".ac.uk/x")))
        .when(m === 6,
          concat(lit("https://host"), b, lit(".unknowntld/x")))
        .otherwise(concat(lit("https://192.168.0.1/x"), b))
      val docs = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("doc_id") >= 0)
        .select(col("doc_id"), dirty.as("u"))
      graft.text.DomainOps.registrableDomains(docs, "doc_id", col("u"))
    }),

    // ---- training-data ops: MinHash+LSH near-dup, verified exact.
    // Oracle-checkable because the OUTPUT is engine-independent: LSH only
    // generates candidates; every returned pair carries its exact 3-gram
    // Jaccard. (Recall: every true pair in this corpus has j ≥ 0.9, where
    // the 16-band/32-hash miss probability is (1-j²)^16 ≈ 3e-12.) ----
    "t_minhash_lsh" -> ((s, dir) =>
      Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, shingleN = 3, numHashes = 32, bands = 16)),

    // ---- training-data ops: contrastive triplets for embedding
    // training — (anchor, positive) = verified near-dup pairs;
    // negative = a DETERMINISTIC pseudo-random doc chosen by double-
    // hashing the anchor into one of 64 hash-range buckets and taking
    // that bucket's (min hash, min id) representative. No RNG state,
    // no global sort (the representative window partitions by bucket);
    // triplets whose negative collides with the pair are dropped. ----
    "t_contrastive_triplets" -> ((s, dir) => {
      val M = 2147483647L
      val width = 33554432.0 // ceil(M / 64 buckets)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          threshold = 0.5, shingleN = 3, numHashes = 32, bands = 16)
        .select(col("id1").as("anchor_id"), col("id2").as("positive_id"))
      val repW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__b")).orderBy(col("__h"), col("negative_id"))
      val reps = docs.select(col("doc_id").as("negative_id"),
          TextOps.portableHash(col("doc_id")).as("__h"))
        .withColumn("__b", floor(col("__h") / width))
        .withColumn("__rn", row_number().over(repW))
        .filter(col("__rn") === 1)
        .select(col("__b"), col("negative_id"))
      pairs
        .withColumn("__b", floor(
          pmod(TextOps.portableHash(col("anchor_id")) * 2654435761L,
            lit(M)) / width))
        .join(reps, Seq("__b"))
        .filter(col("negative_id") =!= col("anchor_id") &&
          col("negative_id") =!= col("positive_id"))
        .select("anchor_id", "positive_id", "negative_id")
    }),

    // ---- training-data ops: EXACT n-gram Jaccard similarity join
    // (AllPairs/PPJoin prefix filter). Guaranteed-complete pair set —
    // the contrast to t_minhash_lsh's probabilistic recall — at a
    // LOWER threshold (0.4) where LSH's S-curve would start missing
    // pairs. The oracle is the full brute-force quadratic join; the
    // engine result must equal it exactly. ----
    "t_jaccard_join" -> ((s, dir) =>
      Dedup.jaccardSimilarityJoin(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4, shingleN = 3)),

    // ---- training-data ops: SimHash near-dup. Portable polynomial
    // simhash (engine-independent) + pigeonhole banding (bands =
    // maxHamming+1) make the full pair set deterministic and
    // DuckDB-recomputable — no murmur3/xxhash64 in the semantics. ----
    "t_simhash" -> ((s, dir) =>
      Dedup.simhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),

    // ---- training-data ops: train/eval decontamination — cross-corpus
    // near-dups only (even doc_ids as "train", odd as "eval") ----
    "t_decontaminate" -> ((s, dir) => {
      val docs = tf(s, dir, "documents", "doc_id")
      Dedup.crossCorpusNearDuplicates(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", threshold = 0.5, shingleN = 3,
        numHashes = 32, bands = 16)
    }),

    // ---- training-data ops: decontamination with a BLOOM pre-prune —
    // same answer as t_decontaminate (the oracle is the same brute
    // force), but the train side is first cut by a broadcast bloom of
    // eval's shingles using the PPJoin overlap bound as the hit-count
    // threshold. The 100 TB shape: eval is small, train is the corpus;
    // only can't-be-ruled-out train docs reach the LSH shuffle. ----
    "t_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", threshold = 0.5, shingleN = 3,
        numHashes = 32, bands = 16) // bloom auto-sized from eval
    }),

    // ---- training-data ops: EXACT 13-gram containment contamination
    // (the GPT-3-style sweep) — catches an eval passage quoted inside
    // an unrelated train doc, which whole-doc jaccard dilutes away.
    // Complements t_decontaminate's similarity semantics. ----
    "t_contained_ngrams" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containedNgrams(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", n = 13)
    }),

    // ---- training-data ops: cross-source 8-gram overlap matrix —
    // the corpus-composition audit (which "different" sources are the
    // same crawl?): distinct grams per source on the 16-byte md5
    // shuffle key, hash-keyed self-join with per-gram fan-out bounded
    // by C(|sources|,2), |S|-row broadcast totals. ----
    "t_overlap_matrix" -> ((s, dir) =>
      Dedup.overlapMatrix(t(s, dir, "documents"), "source", "text",
        n = 8)),

    // ---- training-data ops: pairwise Jensen–Shannon divergence
    // between per-LANGUAGE unigram distributions — the mixing-weight
    // diagnostic beside the overlap matrix (overlap counts shared
    // grams; JSD weighs whole distributions). Union-support sum =
    // intersection join + exclusive-mass closed form; no outer join,
    // disjoint pairs restored at exactly ln 2. ----
    "t_jsd" -> ((s, dir) =>
      TextOps.jsDivergence(t(s, dir, "documents"), "text", "lang")
        .orderBy("grp_a", "grp_b")),

    // ---- training-data ops: feature hashing (the hashing trick) —
    // (doc, index, tf) sparse vectors with index = portable char-fold
    // poly-hash mod 1024, no vocabulary artifact; hash on the
    // DISTINCT vocab only (the dsir discipline). ----
    "t_feature_hash" -> ((s, dir) =>
      TextOps.featureHash(t(s, dir, "documents"), "doc_id", "text",
        dims = 1024)),

    // ---- training-data ops: containment-similarity join — ordered
    // pairs where ≥ 60% of a's 3-grams appear in b: the subset-
    // duplicate detector whole-doc jaccard dilutes away (quotes,
    // wrappers). Prefix filter on the contained side only; exact
    // intersect verify; completeness == brute force (spec'd). ----
    "t_containment_join" -> ((s, dir) =>
      Dedup.containmentJoin(tf(s, dir, "documents", "doc_id"), "doc_id", "text",
        threshold = 0.6, shingleN = 3)),

    // ---- training-data ops: per-doc novelty — fraction of each
    // doc's distinct 8-grams found in NO other doc (the leave-one-out
    // diversity ranking; ascending order = template spam first).
    // Gram doc-frequency is a count over the gram partition sharing
    // the ONE md5-keyed exchange — no join back. ----
    "t_novelty" -> ((s, dir) =>
      Dedup.docNovelty(t(s, dir, "documents"), "doc_id", "text",
        n = 8)),

    // ---- training-data ops: duplicate clusters (connected components
    // over verified near-dup pairs; cluster id = canonical keep doc) ----
    "t_dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, shingleN = 3, numHashes = 32, bands = 16))),

    // ---- training-data ops: dedup canonicalization that keeps the
    // BEST copy — near-dup clusters (LSH + connected components), then
    // per cluster keep the highest-QUALITY member (tie -> lowest id),
    // singletons keep themselves. Real pipelines keep the best copy,
    // not the lowest id; one extra window over the cluster key. ----
    "t_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5,
          shingleN = 3, numHashes = 32, bands = 16))
      val assigned = docs.select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("q"))
        .join(clusters.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val byCluster = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      assigned
        .withColumn("__rn", row_number().over(
          byCluster.orderBy(col("q").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
        .filter(col("__rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
          col("q"), col("n_members"))
    }),

    // ---- training-data ops: INCREMENTAL near-dup detection against a
    // PERSISTED LSH index (text/LshIndex) — the corpus (even docs) is
    // signed once into (bands, portable-hash docs) state; the new
    // batch (odd docs) probes that state without the corpus text ever
    // being re-read. Same split/threshold/banding as t_decontaminate,
    // so the oracle is the same brute force recomputing the portable
    // hash sets. ----
    "t_lsh_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagedLshIndex.getOrElseUpdate(dir, {
        val p = tempDir("graft_lshidx") + "/idx"
        graft.text.LshIndex.build(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
          p, shingleN = 3, numHashes = 32, bands = 16)
        p
      })
      graft.text.LshIndex.probe(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        path, threshold = 0.5)
    }),

    // ---- similarity: SemDeDup (Abbas et al. 2023) — semantic dedup
    // via IVF clustering; within each cell a vector is dropped iff an
    // earlier cell-mate is round(cos,6)-similar at ≥ 0.8. Reuses
    // e_semantic_neardup's injected near-dup cluster so the dropped
    // set is non-vacuous; the oracle recomputes centroids, cells, and
    // the exists-earlier test from scratch. ----
    "e_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val inj = s.range(0, 5).select(
        (col("id") + 1000000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(d * 7, lit(16)) - lit(8)).cast("double") / 16.0 +
            when(d === col("id").cast("int"), lit(0.0625)).otherwise(lit(0.0)))
            .cast("float")).as("embedding"))
      Similarity.semDedup(emb.unionByName(inj), "vec_id", "embedding",
        threshold = 0.8, nlist = 64)
    }),

    // ---- similarity: brute-force cosine top-k for one query vector ----
    "e_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.topKForVector(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10)
    }),

    // ---- similarity: per-dimension embedding QC — mean/variance/
    // range/zeros per dim (dead dims waste bytes, runaway dims
    // dominate distances); one posexplode into a dim-keyed agg. ----
    "e_embed_qc" -> ((s, dir) =>
      Similarity.embeddingQc(t(s, dir, "embeddings"), "vec_id",
        "embedding")),

    // ---- similarity: Matryoshka prefix-dim recall — top-10 overlap
    // between full-64-dim and first-8/16/32-dim cosine: the audit
    // that licenses serving at d ≪ D. One narrow scan per prefix. ----
    "e_prefix_recall" -> ((s, dir) =>
      Similarity.prefixDimRecall(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 17L, topK = 10, dims = Seq(8, 16, 32))),

    // ---- similarity: k-center greedy coreset — 6 exemplars, each
    // round one corpus scan against the ≤k broadcast centers (never
    // point×point); the labeling-budget picker. Oracle unrolls all
    // rounds. ----
    "e_kcenter" -> ((s, dir) =>
      Similarity.kCenterGreedy(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 6)),

    // ---- similarity: MMR diversified re-rank — the serving layer
    // between top-k and the consumer: 20 candidates (one corpus
    // TakeOrdered pass), then 10 greedy rounds of λ·rel − (1−λ)·max
    // sim-to-picked on candidate-sized frames, every argmax
    // tie-broken by id. Oracle unrolls all 10 rounds. ----
    "e_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 17L, candidates = 20, k = 10,
        lambda = 0.7)),


    // ---- similarity: top-3 principal components by power iteration
    // + Hotelling deflation — the corpus is touched once (the n·d²
    // product pass); all 3×6 rounds and both rank-one deflations run
    // on the d²-cell frame in exact integers. The usable k-dim
    // projection basis plus the PC-1 anisotropy number (subsumes the
    // retired r12 e_pca_top, which was this at k=1 — r14 verdict #2:
    // 14.5 s of redundant bench wall). ----
    "e_pca_topk" -> ((s, dir) =>
      Similarity.powerIterationPcaK(tf(s, dir, "embeddings", "vec_id"), "vec_id",
        "embedding", k = 3, iters = 6)),

    // ---- similarity: whitened top-2 PCA projection — every
    // embedding's decorrelated 2-D coordinates (the usable dimension
    // reduction off e_pca_topk's basis): exact pico-unit (x−μ)·v
    // sums, one double chain /1e12 /sqrt(λ) rounded once. ----
    "e_pca_project" -> ((s, dir) => {
      val emb = tf(s, dir, "embeddings", "vec_id")
      val basis = Similarity.powerIterationPcaK(emb, "vec_id",
        "embedding", k = 2, iters = 6)
      Similarity.pcaProject(emb, "vec_id", "embedding", basis,
        whiten = true)
    }),

    // ---- similarity: IVF coarse-quantizer ANN — the nprobe/nlist
    // scale path next to brute force (e_ann_topk). Deterministic
    // portable-hash centroid sample + round-6 cell argmax make the
    // whole index SQL-reproducible, so the oracle recomputes it.
    // nlist=256 (r3 verdict: the literal when-chain died here; cell
    // assignment is now the native broadcast argmax, so a realistic
    // nlist is just a bigger executor-side loop). ----
    "e_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 256)
      Similarity.ivfTopKForVector(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10, cents, nprobe = 16)
    }),

    // ---- similarity: PERSISTED IVF index (build once, query many) —
    // the repeated-query ANN path. The index is (id, vec) hive-
    // partitioned by cell; the query's probed-cell filter prunes
    // PARTITIONS at file-listing time (PlanSpec pins the shape), so
    // per-query I/O is ~nprobe/nlist of the corpus and zero
    // re-assignment work. Index staged once per (JVM, sf dir). ----
    "e_ivf_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val (path, cents) = stagedIvfIndex.getOrElseUpdate(dir, {
        val p = tempDir("graft_ivf") + "/idx"
        val c = Similarity.buildIvfIndex(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", nlist = 64, path = p)
        (p, c)
      })
      Similarity.ivfTopKIndexed(s, path, q, 10, nprobe = 8,
        centroids = cents)
    }),

    // ---- S7: CDC-style STREAMING upsert sink — two micro-batches
    // (originals, then revisions of every 50th event) merge into a
    // hive-partitioned table via foreachBatch + mergeUpsert; batch 1
    // creates the table, batch 2 rewrites only the touched partitions.
    // Oracle recomputes the final table state from the source. ----
    "s7_stream_upsert" -> ((s, dir) => {
      val (in, sink) = stagedUpsert.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_upsert")
        val e = t(s, dir, "events")
        e.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
        e.filter(col("event_id") % 50 === 0)
          .withColumn("value", col("value") + 1000.0)
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/rev")
        // one source dir, controlled mod-time order: originals oldest
        val inDir = java.nio.file.Paths.get(tmp, "in")
        val now = System.currentTimeMillis()
        val listIn = java.nio.file.Files.list(inDir)
        try listIn.forEach(p => p.toFile.setLastModified(now - 600000L))
        finally listIn.close()
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "rev"))
        try ls.forEach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")) {
            val dst = inDir.resolve(s"rev-$n")
            java.nio.file.Files.copy(p, dst)
            dst.toFile.setLastModified(now); ()
          }
        } finally ls.close()
        (inDir.toString, s"$tmp/sink")
      })
      val ckpt = ckptDir("graft_upsert_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.EventStreams.upsertStream(stream, sink,
        keys = Seq("event_id"), partCol = "event_type", orderCol = "ts",
        queryName = s"up_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
      s.read.parquet(sink).select("event_id", "event_type", "value")
    }),

    // ---- S6: keyed MERGE (SCD1 upsert) into a hive-partitioned
    // parquet table — 50 revised docs (doc_id % 10) + 6 inserts under
    // a NEW partition value; only touched partitions are read and
    // rewritten (dynamic partition overwrite; MergeUpsertSpec pins
    // untouched partitions' files byte-identical). Oracle recomputes
    // the merged state from the source table. Idempotent, so repeat
    // runs in one JVM converge. ----
    "s6_merge_upsert" -> ((s, dir) => {
      val base = stagedMergeBase.getOrElseUpdate(dir, {
        val p = tempDir("graft_merge") + "/base"
        t(s, dir, "documents").write.mode("overwrite")
          .partitionBy("lang").parquet(p)
        p
      })
      val docs = t(s, dir, "documents")
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(lit("UPDATED:"), col("lang")))
        .unionByName(docs.filter(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("text", lit("INSERTED"))
          .withColumn("lang", lit("xx")))
      ops.Merge.mergeUpsert(s, base, updates, Seq("doc_id"), "lang")
      s.read.parquet(base)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
    }),

    // ---- S11: incrementally-maintained aggregate MV — the daily
    // (date, type) rollup folded in as THREE batch loads (thirds of
    // the fact by event_id), never rescanning prior data; partials
    // merge by their own merge fn (count by sum), decimal sums stay
    // exact, schema pinned to the delta's types. Final state must
    // equal the one-shot full aggregation (the oracle). ----
    "s11_incremental_agg" -> ((s, dir) => {
      val mv = stagedAggMv.getOrElseUpdate(dir, {
        val p = tempDir("graft_mv") + "/mv"
        val ev = t(s, dir, "events")
          .withColumn("event_date",
            col("ts").cast("date").cast("string"))
          .withColumn("value_dec", col("value").cast("decimal(18,2)"))
        val aggs = Seq(
          Scale.SaltedAgg.count("event_id", "n"),
          Scale.SaltedAgg.sum("value_dec", "sum_value"),
          Scale.SaltedAgg.min("value", "min_value"),
          Scale.SaltedAgg.max("value", "max_value"))
        (0 to 2).foreach { i =>
          ops.Merge.incrementalAggMv(s, p,
            ev.filter(pmod(col("event_id"), lit(3)) === i),
            "event_date", Seq("event_type"), aggs)
        }
        p
      })
      s.read.parquet(mv).select(
        col("event_date").cast("string").as("event_date"),
        col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"),
        col("min_value"), col("max_value"))
    }),

    // ---- similarity: deterministic spherical k-means (TWO Lloyd
    // rounds from the portable-hash init): native broadcast-argmax
    // assignment, exact-decimal per-dim means, final re-assignment.
    // The oracle recomputes init, both assignment+means rounds, and
    // the final argmax entirely in SQL — two rounds pin the
    // loop-carried state (centroid -> reassignment) a one-round
    // oracle can't distinguish from a single pass. ----
    "e_kmeans" -> ((s, dir) =>
      Similarity.kmeansLloyd(tf(s, dir, "embeddings", "vec_id"), "vec_id",
        "embedding", k = 8, iters = 2)),

    // ---- similarity: label-free clustering QC — simplified
    // silhouette of the e_kmeans assignment; cosine distances to
    // exact micro-unit cluster SUM vectors (no mean-of-doubles),
    // per-cluster truncating micro means. ----
    "e_silhouette" -> ((s, dir) => {
      val emb = tf(s, dir, "embeddings", "vec_id")
      val asg = Similarity.kmeansLloyd(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      Similarity.simplifiedSilhouette(emb, "vec_id", "embedding", asg)
    }),

    // ---- similarity: clustering-quality evaluation — the e_kmeans
    // assignment scored against the ground-truth labels: purity
    // (Σ_c max_l n_cl / n) and NMI via the a33 mutual-information
    // machinery on (cluster, label). Everything past the assignment
    // runs on contingency-cell frames. ----
    "e_cluster_purity" -> ((s, dir) => {
      val emb = tf(s, dir, "embeddings", "vec_id")
      val asg = Similarity.kmeansLloyd(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val j = asg.join(emb.select(col("vec_id"), col("label")),
        Seq("vec_id"))
      val pc = j.groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).as("__n"))
      val tots = pc.agg(sum(col("__n")).as("__nt"))
      val purity = pc.groupBy(col("cluster"))
        .agg(max(col("__n")).as("__mx"))
        .agg(sum(col("__mx")).as("__sm"))
        .crossJoin(broadcast(tots))
        .select(round(col("__sm").cast("double") /
          col("__nt").cast("double"), 6).as("purity"))
      Quality.mutualInfo(j, "cluster", "label")
        .crossJoin(broadcast(purity))
        .select(col("n"), col("cells"), col("purity"), col("mi"),
          col("h_a"), col("h_b"), col("nmi"))
    }),

    // ---- similarity: PRODUCT QUANTIZATION encode — 4 subspaces × 8
    // codes trained with one deterministic Lloyd round (portable-hash
    // init, round-6 L2 assignment, exact-decimal means); every
    // 64-float vector compresses to 4 small ints. The oracle
    // recomputes the ENTIRE training run + encode in SQL (the
    // e_kmeans bar, per subspace). ----
    "e_pq_encode" -> ((s, dir) => {
      val emb = tf(s, dir, "embeddings", "vec_id")
      Similarity.pqEncode(emb, "vec_id", "embedding",
          Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 8,
            iters = 1))
        // f_array_ops convention: flatten the array for the harness's
        // pandas sort (ndarray columns are unhashable there)
        .select(col("vec_id"), array_join(col("codes"), ",").as("codes"))
    }),

    // ---- similarity: IVF-PQ composed query — coarse cells prune the
    // corpus to nprobe/nlist, PQ codes answer distances inside the
    // probed cells: rows AND bytes both cut multiplicatively (the
    // FAISS serving architecture, non-residual codebooks). One fused
    // pass computes cell + codes; the vector is read once. ----
    "e_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(tf(s, dir, "embeddings", "vec_id"), "vec_id",
        "embedding", queryId = 17L, topK = 10, nlist = 16, nprobe = 4,
        m = 4, k = 8, iters = 1)),

    // ---- similarity: RESIDUAL IVF-PQ (the full IVFADC) — codebooks
    // trained on x − centroid(cell) displacements, per-probed-cell
    // query-residual ADC tables: tighter error at equal bits than the
    // non-residual compose, the real FAISS serving algorithm. Oracle
    // replays coarse cells, exact-float residuals, the whole codebook
    // run, and per-cell ADC. ----
    "e_ivfpq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualTopK(tf(s, dir, "embeddings", "vec_id"), "vec_id",
        "embedding", queryId = 17L, topK = 10, nlist = 16, nprobe = 4,
        m = 4, k = 8, iters = 1)),

    // ---- similarity: PERSISTED PQ index — books + codes written
    // once (build-once/serve-many), query served from the codes scan
    // alone. Must equal the end-to-end e_pq_topk exactly (same oracle
    // SQL): persistence is not allowed to change the answer. ----
    "e_pq_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 17L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val path = stagedPqIndex.getOrElseUpdate(dir, {
        val p = tempDir("graft_pq") + "/idx"
        Similarity.buildPqIndex(emb, "vec_id", "embedding", m = 4,
          k = 8, path = p, iters = 1)
        p
      })
      Similarity.pqTopKIndexed(s, path, "vec_id", q, topK = 10)
    }),

    // ---- similarity: PQ top-k by asymmetric distance — query 17's
    // per-subspace distance table (4×8, driver-side) + m table
    // lookups per corpus row over the CODES ONLY: the vector column
    // is never read at query time. The memory-compression ANN play:
    // corpus-side query cost is m ints/row. ----
    "e_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(tf(s, dir, "embeddings", "vec_id"), "vec_id", "embedding",
        queryId = 17L, topK = 10, m = 4, k = 8, iters = 1)),

    // ---- similarity: recall@10 audit of the PQ arm vs exact L2 —
    // the ANN quality gate as a query (an index with silently decayed
    // recall is a correctness bug in a performance costume); one
    // narrow exact scan into TakeOrdered + the normal PQ serve. ----
    "e_pq_recall" -> ((s, dir) =>
      Similarity.pqRecall(tf(s, dir, "embeddings", "vec_id"), "vec_id",
        "embedding", queryId = 17L, topK = 10, m = 4, k = 8,
        iters = 1)),

    // ---- similarity: 1-bit sign quantization + Hamming top-k — the
    // last rung of the serving ladder (float → int8 → PQ → binary):
    // 64 dims pack to TWO non-negative long words (32 sign bits
    // each, MSB-first, bit 63 never used — engine-portable), query
    // cost = 2 xor+popcount ops/row on a corpus the vector column
    // never touches. Exact integer distances, id tiebreak. ----
    "e_binary_topk" -> ((s, dir) =>
      Similarity.binaryTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 17L, topK = 10, d = 64)),

    // ---- similarity: recall@10 audit of the binary arm vs exact
    // round-6 cosine — the e_pq_recall discipline applied to the
    // 1-bit tier: the number that says what the 32× byte cut costs
    // in shortlist quality. ----
    "e_binary_recall" -> ((s, dir) =>
      Similarity.binaryRecall(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 17L, topK = 10, d = 64)),

    // ---- similarity: two-stage binary serving — Hamming shortlist
    // of 50 over the packed sign bits, exact round-6 cosine rerank
    // to top-10: the coarse-filter/exact-rerank pattern that buys
    // back the 1-bit tier's recall at 50 exact evaluations per
    // query. The rerank join reads the vector column ONLY for the
    // shortlist rows. ----
    "e_binary_rerank" -> ((s, dir) =>
      Similarity.binaryRerank(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 17L, topK = 10, shortlist = 50,
        d = 64)),

    // ---- similarity: BATCH IVF k-NN join — every 100th vector is a
    // query; each probes its nprobe=8 nearest of nlist=64 cells and
    // scores only those cells' members (native IvfProbe explode + one
    // cell-keyed equi-join + per-query top-k). Work ~ |Q| × nprobe/
    // nlist × |corpus| vs brute's |Q| × |corpus|; oracle recomputes
    // the WHOLE index in SQL like e_ivf_topk. ----
    "e_ivf_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64)
      Similarity.ivfKnnJoin(emb.filter(col("vec_id") % 100 === 0), emb,
          "vec_id", "embedding", k = 5, centroids = cents, nprobe = 8)
        .withColumnRenamed("rank", "rnk")
    }),

    // ---- similarity: linear CKA between the full 64-d embedding and
    // its 16-d Matryoshka prefix — the representation-agreement audit
    // (orthogonal- and scale-invariant, unlike per-dim correlation):
    // how much of the corpus geometry survives truncation. ----
    "e_cka" -> ((s, dir) =>
      Similarity.linearCka(
        tf(s, dir, "embeddings", "vec_id")
          .filter(col("embedding").isNotNull)
          .select(col("embedding").as("x"),
            slice(col("embedding"), 1, 16).as("y")),
        "x", "y")),

    // ---- similarity: rank-biased overlap audit of the IVF shortlist
    // against its brute-force twin — the top-weighted agreement
    // metric (Webber 2010) per query, p=0.9, depth 10: the number
    // that says how much recall the nprobe knob is actually buying,
    // weighted toward the ranks that matter. ----
    "e_rbo" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val q = emb.filter(col("vec_id") % 100 === 0)
      val brute = Similarity.bruteKnnJoin(q, emb, "vec_id",
        "embedding", 10)
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64)
      val approx = Similarity.ivfKnnJoin(q, emb, "vec_id", "embedding",
        k = 10, centroids = cents, nprobe = 8)
      ops.Analytics.rankBiasedOverlap(brute, approx, "query_id",
        "neighbor_id", "rank", depth = 10)
    }),

    // ---- similarity eval: nDCG@10 per query — brute top-10 lists
    // with same-label binary relevance; position-weighted gain in
    // exact decimal, the per-query recall dial for the ANN stack. ----
    "e_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val q = emb.filter(col("vec_id") % 100 === 0)
      val ranked = Similarity.bruteKnnJoin(q, emb, "vec_id",
        "embedding", 10)
      val ql = emb.select(col("vec_id").as("query_id"),
        col("label").as("__ql"))
      val nl = emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("__nl"))
      val withRel = ranked.join(ql, Seq("query_id"))
        .join(nl, Seq("neighbor_id"))
        .select(col("query_id"), col("rank"),
          when(col("__ql") === col("__nl"), 1L).otherwise(0L)
            .as("rel"))
      Quality.ndcgAtK(withRel, "query_id", "rank", "rel", k = 10)
    }),

    // ---- similarity eval: nDCG@10 over the IVF shortlist — the
    // SAME k-bounded tail fed by ivfKnnJoin (nlist = nlistFor(n) —
    // the deployment contract, cells bounded at 64; nprobe=8; corpus
    // assignment two-level O(√nlist) per row — exact argmax over a
    // derived nlist is O(n²/cellTarget) across the corpus): the
    // deployment-shape twin of e_ndcg, correctness-gated like the
    // margin-mining pair. ----
    "e_ndcg_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val q = emb.filter(col("vec_id") % 100 === 0)
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        Similarity.nlistFor(emb.count()))
      val ranked = Similarity.ivfKnnJoin(q, emb, "vec_id",
        "embedding", k = 10, centroids = cents, nprobe = 8,
        hierAssign = true)
      val ql = emb.select(col("vec_id").as("query_id"),
        col("label").as("__ql"))
      val nl = emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("__nl"))
      val withRel = ranked.join(ql, Seq("query_id"))
        .join(nl, Seq("neighbor_id"))
        .select(col("query_id"), col("rank"),
          when(col("__ql") === col("__nl"), 1L).otherwise(0L)
            .as("rel"))
      Quality.ndcgAtK(withRel, "query_id", "rank", "rel", k = 10)
    }),

    // ---- similarity: per-label embedding centroids as MERGEABLE
    // PARTIALS (label, dim, exact sum, n) — posexplode to (label, dim),
    // one hash agg; per-element round-6 THEN exact decimal sum makes
    // the parallel-reduction sum engine-deterministic, and the 6-dp
    // decimal sum casts to double EXACTLY (scaled integer < 2^53).
    // Deliberately NOT the rounded mean: a 6-dp sum divided by a small
    // count can land exactly on a round-6 midpoint, where Spark's
    // BigDecimal HALF_UP and DuckDB's multiply-then-round disagree by
    // 1 ulp (observed at sf0.1: label 9 dim 6, sum/192). Partials are
    // also the better scale shape — shards/days merge by addition,
    // consumers divide once at use. ----
    "e_label_centroid" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(
          sum(round(col("x").cast("double"), 6).cast("decimal(20,6)"))
            .cast("double").as("sum_x"),
          count(lit(1)).as("n"))),

    // ---- similarity: int8 scalar quantization of the embedding
    // column + reconstruction error — the compression step before ANN
    // serving (codes + 2 floats per vector instead of dim floats).
    // Narrow, shuffle-free; explicit floor(x+0.5) rounding so the
    // DuckDB oracle shares the rule. ----
    "e_quantize_int8" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"), col("q.codes"), col("q.mean_abs_err"),
          col("q.max_abs_err"))),

    // ---- similarity: batch IVF k-NN join against the PERSISTED index
    // — corpus arrives pre-assigned and cell-partitioned, so the whole
    // assignment pass disappears; shares the staged nlist=64 index
    // with e_ivf_indexed ----
    "e_ivf_knn_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (path, cents) = stagedIvfIndex.getOrElseUpdate(dir, {
        val p = tempDir("graft_ivf") + "/idx"
        val c = Similarity.buildIvfIndex(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", nlist = 64, path = p)
        (p, c)
      })
      Similarity.ivfKnnJoinIndexed(s, path,
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          k = 5, nprobe = 8, centroids = cents)
        .withColumnRenamed("rank", "rnk")
    }),

    // ---- similarity: threshold pairs blocked by label ----
    "e_sim_pairs" -> ((s, dir) =>
      Similarity.thresholdPairsByLabel(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.3)),

    // ---- similarity: embedding-cosine near-dup (multi-table SRP
    // candidates + exact verify). The synthetic corpus's max pairwise
    // cosine is ~0.51 at sf0.01 / 0.6009 at sf0.1 — the threshold sits
    // at 0.8, safely above the corpus at every SF, because the oracle
    // is exact brute force and LSH recall near the threshold is the
    // weak part of the S-curve (measured: a 0.6009 corpus pair at a
    // 0.6 threshold was missed; ~6% single-pair recall there at these
    // knobs). A deterministic seeded near-dup cluster (5 vectors =
    // base pattern + a 1/16 bump on dim i; all values exact float
    // multiples of 1/16, reproducible in SQL) is unioned in — the
    // oracle row is NON-vacuous: the corpus contributes the
    // no-false-positive evidence, the injected cluster (cos ~0.9993,
    // deep in the S-curve's reliable region) the recall evidence. ----
    "e_semantic_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val inj = s.range(0, 5).select(
        (col("id") + 1000000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(d * 7, lit(16)) - lit(8)).cast("double") / 16.0 +
            when(d === col("id").cast("int"), lit(0.0625)).otherwise(lit(0.0)))
            .cast("float")).as("embedding"))
      Similarity.semanticNearDup(emb.unionByName(inj),
        "vec_id", "embedding", threshold = 0.8, nPlanes = 12, tables = 4)
    }),

    // ---- sessionization (gap-based episode grouping) ----
    "w4_sessionize" -> ((s, dir) =>
      WindowOps.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
          gapSeconds = 1800, tiebreak = Seq(col("event_id")))
        .select(col("event_id"), col("user_id"),
          col("session_id").cast("long").as("session_id"))),

    // ---- training-data ops: rolling-hash fingerprint ----
    "t_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // ---- training-data ops: BPE-ish token budget count ----
    "t_token_bpe" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextOps.tokenCountBpeIsh(col("text")).as("n_bpe"))),

    // ---- training-data ops: repetition signals (Gopher-style) — the
    // most frequent word 2-gram's share of all 2-grams + the distinct-
    // bigram ratio, both from ONE explode + two hash aggs (a per-row
    // frequency lambda would be O(tokens²) per doc; see TextOps.bigrams
    // scaladoc). High top-share / low distinct-ratio = boilerplate. ----
    "t_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.bigrams(col("text"))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(
          round(max(col("n")).cast("double") / sum(col("n")), 6)
            .as("top_bigram_share"),
          round(count(lit(1)).cast("double") / sum(col("n")), 6)
            .as("distinct_bigram_ratio"))),

    // ---- training-data ops: PII scrub. The synthetic corpus carries no
    // PII, so the query INJECTS deterministic email + phone strings
    // (derived from doc_id) before scrubbing — the oracle performs the
    // identical injection and redaction, so the row is non-vacuous:
    // every document must have both patterns found and replaced. ----
    "t_scrub" -> ((s, dir) => {
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1 555 01"),
        pmod(col("doc_id"), lit(100)), lit(" now"))
      t(s, dir, "documents").select(
        col("doc_id"), TextOps.scrubPii(dirty).as("clean"))
    }),

    // ---- training-data ops: deterministic stratified downsampling —
    // keep 10% of English docs, 50% of everything else, by portable
    // id hash (reproducible across engines/runs, unlike seeded
    // sampleBy). The balance-the-corpus primitive. ----
    "t_sample_stratified" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(TextOps.stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 10), defaultPct = 50))
        .select("doc_id", "lang")),

    // ---- training-data ops: domain-weighted corpus MIXING — the
    // greedy per-domain token-budget fill that assembles a training
    // mix (50% en / 20% es / 15% fr / 10% de of a 16k-token budget;
    // zh dropped). Deterministic portable-hash order, hierarchical
    // sharded running sum (no whole-domain window) — the oracle
    // recomputes the same greedy prefix with one flat window. ----
    "t_mix_domains" -> ((s, dir) =>
      TextOps.mixCorpus(t(s, dir, "documents"), "doc_id", "text", "lang",
        Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.15, "de" -> 0.1),
        tokenBudget = 16000L)),

    // ---- crawl-curation capstone (r18 verdict #6): the RefinedWeb-
    // shaped composition canonicalize → registrable domain (PSL) →
    // per-domain quota (capPerGroup 40) → domain-weighted token-budget
    // mix (mixCorpus 40/30/20/10 of 6k), one pipeline. URLs are
    // constructed so each doc_id class lands on a FIXED eTLD+1
    // (normal, multi-label, private-section, default rule kinds all
    // exercised); the oracle hand-writes the expected domains (the
    // PSL walk itself is t_registrable_domain's oracle) and replays
    // cap + hierarchical mix sums. ----
    "t_domain_mix" -> ((s, dir) => {
      import graft.text.DomainOps
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val b = (col("doc_id") / lit(8)).cast("long").cast("string")
      val m = pmod(col("doc_id"), lit(4))
      val url = when(m === 0,
          concat(lit("https://sub"), b, lit(".alpha.example.com/p")))
        .when(m === 1,
          concat(lit("https://s"), b, lit(".site-b.co.uk/x")))
        .when(m === 2,
          concat(lit("https://u"), b, lit(".blog.blogspot.com/x")))
        .otherwise(concat(lit("https://d"), b, lit(".gamma.org/x")))
      val doms = DomainOps.registrableDomains(
          d.select(col("doc_id"), url.as("u")), "doc_id", col("u"))
        .select(col("doc_id"), col("registrable_domain"))
      val capped = TextOps.capPerGroup(
        d.select(col("doc_id"), col("text")).join(doms, Seq("doc_id")),
        groupCols = Seq("registrable_domain"), idCol = "doc_id",
        maxRows = 40)
      TextOps.mixCorpus(capped, "doc_id", "text", "registrable_domain",
        Map("example.com" -> 0.4, "site-b.co.uk" -> 0.3,
          "blog.blogspot.com" -> 0.2, "gamma.org" -> 0.1),
        tokenBudget = 6000L)
    }),

    // ---- multimodal plumbing: binary payload + codec-free metadata ----
    "m_media_meta" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          graft.media.Multimodal.byteLen(col("payload")).as("byte_len"),
          graft.media.Multimodal.contentSha(col("payload")).as("sha"),
          (lit(32) + pmod(graft.media.Multimodal.byteLen(col("payload")) * 7919,
            lit(4096))).cast("int").as("width"),
          (lit(32) + pmod(graft.media.Multimodal.byteLen(col("payload")) * 104729,
            lit(4096))).cast("int").as("height"))),

    // ---- multimodal plumbing: frame sampling (explode shape) over the
    // codec-free metadata path — every 7th frame of "video" rows, frame
    // count derived from payload length like m_media_meta's dims ----
    "m_frame_sample" -> ((s, dir) => {
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
    }),

    // ---- multimodal: perceptual-hash near-dup — 62-bit aHash (native
    // one-pass byte loop) over the payloads, 4×16-bit band buckets
    // (pigeonhole: hamming ≤ 3 pairs share a band), hamming verified
    // by bit_count(xor). The fixture doubles the corpus with one-byte-
    // appended copies, the near-identical-payload case a real media
    // dedup faces. ----
    "m_phash_neardup" -> ((s, dir) => {
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
    }),

    // ---- multimodal plumbing: raw media INGEST through the real
    // binaryFile source. Stages one binary file per document (doc_id <
    // 200, a bounded fixture) into a SHARDED layout — repeated dir
    // structure, the shape a crawl produces — then ingests the tree and
    // proves per-file rows, intact bytes (sha), true file lengths, and
    // relative-path keying against the source-of-truth oracle. The
    // driver-side staging loop is fixture setup, not the operator: the
    // ingest itself is one vectorized binaryFile scan. ----
    "m_media_ingest" -> ((s, dir) => {
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
    }),

    // ---- multimodal: REAL image decode (r12). Synthetic banded PNGs
    // whose dims/pixels derive from doc_id alone are encoded
    // DISTRIBUTED (mapPartitions — no driver staging), then
    // imageStats runs a genuine ImageIO pixel decode per row; the
    // oracle recovers width/height/channel-sum from the generation
    // formula, so a stub that didn't really parse the bytes cannot
    // match. Integer micro-unit mean kills any double hazard. ----
    "m_image_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.media.Multimodal.syntheticPng(id))))
        .toDF("media_id", "payload")
      graft.media.Multimodal.imageStats(media).toDF()
    }),

    // ---- multimodal: REAL audio decode — deterministic synthetic
    // 16-bit PCM WAVs parsed by the JDK's javax.sound reader (RIFF
    // header + full PCM stream decode); the oracle recovers format,
    // exact sample sum and peak from the generation formula — a
    // non-parsing stub cannot match. ----
    "m_wav_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.media.Multimodal.syntheticWav(id))))
        .toDF("media_id", "payload")
      graft.media.Multimodal.audioStats(media).toDF()
    }),

    // ---- multimodal: REAL multi-frame decode — animated GIFs with
    // 1 + doc_id%7 frames, frame count read back by ImageIO's reader
    // (getNumImages(true)), every 2nd frame sampled. ----
    "m_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, "image", graft.media.Multimodal.syntheticGif(id))))
        .toDF("media_id", "kind", "payload")
      graft.media.Multimodal.sampleFrames(media, stride = 2,
        codec = graft.media.Multimodal.ImageIoCodec,
        kinds = Seq("image"))
    }),

    // ---- streaming: watermarked windowed agg, AvailableNow == batch.
    // The events parquet is re-staged (nanos ts -> micros) because the
    // file stream source has no post-read transform hook; staged ONCE
    // per (JVM, sf dir) so repeated runs measure the streaming query,
    // not the harness copy. ----
    // ---- streaming per-window top-k leaderboard — the custom heap
    // AGGREGATE inside a streaming aggregation: state per (window,
    // type) is k rows forever; a window-sort rank can't stream at
    // all. Oracle == the batch window+rank formulation. ----
    "s_stream_topk" -> ((s, dir) => {
      val in = stagedEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sw")
        t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_stk_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in)
      runDrain(
        graft.streaming.EventStreams.windowedTopK(stream, "1 hour",
          k = 3, watermark = "2 hours"),
        queryName = s"stk_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // ---- streaming exact COUNT(DISTINCT) per hour window — two
    // chained stateful operators (dedup on (window, user) → windowed
    // count), Append mode, tail drained by the two-sentinel batches;
    // oracle is the batch distinct count per hour. ----
    "s_stream_distinct" -> ((s, dir) => {
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_sdc_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.windowedDistinctUsers(stream,
          "1 hour", "2 hours"),
        queryName = s"sdc_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
    }),

    // ---- streaming per-window HLL distinct ESTIMATE — the sketch
    // twin of s_stream_distinct: 64 registers per live window forever
    // vs O(users) dedup state; chunked replay bit-equal to the batch
    // sketch per window. ----
    // ---- streaming: per-window Brier score — the live forecast-
    // quality monitor: one exact (count, pos, HUGEINT squared-error)
    // partial per window, bit-equal to the batch arithmetic. ----
    "s_stream_brier" -> ((s, dir) => {
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_sbr_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.brierStream(stream,
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)),
          col("event_type") === "purchase", "1 hour", "2 hours"),
        queryName = s"sbr_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
    }),

    // ---- streaming: per-window dataset fingerprint — the live twin
    // of a60: one (count + two modular sums) partial per live window
    // forever; window fingerprints modular-ADD to the whole-corpus
    // fingerprint (the reconcile-without-rereading property). ----
    "s_stream_fingerprint" -> ((s, dir) => {
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_sfp_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.fingerprintStream(stream,
          Seq("event_id", "event_type"), "1 hour", "2 hours"),
        queryName = s"sfp_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
    }),

    "s_stream_hll" -> ((s, dir) => {
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_shll_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.hllDistinctStream(stream,
          "1 hour", "2 hours"),
        queryName = s"shll_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
    }),

    // ---- streaming: per-window KMV distinct sketch — TRUE O(k)
    // sketch state per live window via flatMapGroupsWithState (an
    // agg-based distinct would key state by every hash); k-minimum
    // sets are order-independent, so the chunked replay is bit-equal
    // to the batch sketch per window, threshold included. ----
    "s_stream_kmv" -> ((s, dir) => {
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_skmv_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.kmvDistinctStream(stream).toDF(),
        queryName = s"skmv_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
    }),

    // ---- streaming: per-window calibration bins — the a41 monitor
    // live: bins×3 longs of state per window (psi/hll state family),
    // micro-unit arithmetic identical to the batch op, so the
    // chunked replay is bit-equal per window. ----
    "s_stream_calibration" -> ((s, dir) => {
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_scal_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.calibrationStream(stream,
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)),
          col("event_type") === "purchase"),
        queryName = s"scal_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
    }),

    // ---- streaming: per-day PSI drift monitor — the a29 reference
    // profile (first-half-of-month deciles + Laplace-guarded shares)
    // frozen into the plan as literals, each day window scored the
    // moment the watermark closes it. One stateful op (bins
    // conditional sums per window); the PSI fold is a stateless
    // fixed-order projection, so the chunked replay is bit-equal to
    // the oracle's batch recomputation. Same staged input + sentinel
    // drain as s_stream_distinct. ----
    "s_stream_psi" -> ((s, dir) => {
      // profile cached per dir alongside the staged input (round-10
      // ADVICE: the two collects re-ran on every invocation)
      val (bounds, refShares) = stagedPsiProfile.getOrElseUpdate(dir, {
        val refV = t(s, dir, "events").filter(col("value").isNotNull &&
            dayofmonth(col("ts")) <= 15)
          .select(col("value").cast("double").as("v"))
        val qRow = refV.agg(
          call_function("percentile", col("v"), lit(0.1)).as("q1"),
          (2 to 9).map(i => call_function("percentile", col("v"),
            lit(i / 10.0)).as(s"q$i")): _*).head()
        val bs = (0 until 9).map(qRow.getDouble)
        val binOf = bs.foldLeft(lit(1)) { (acc, b) =>
          acc + when(col("v") > lit(b), 1).otherwise(0)
        }
        val refCounts = refV.select(binOf.as("bin")).groupBy(col("bin"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val refTot = refCounts.values.sum
        (bs, (1 to 10).map(i =>
          (refCounts.getOrElse(i, 0L) + 0.5) / (refTot + 5.0)))
      })
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_spsi_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.psiStream(stream, "value",
          bounds, refShares, "1 day", "2 days"),
        queryName = s"spsi_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
        .orderBy("window_start")
    }),

    // ---- streaming Hellinger drift — the bounded per-window twin
    // of a68 beside s_stream_psi: same frozen reference profile
    // (plain shares, no Laplace — √ is zero-tolerant), per-window
    // state = bins longs forever, BC an exact decimal fold. ----
    "s_stream_hellinger" -> ((s, dir) => {
      val (bounds, refShares) =
        stagedHellingerProfile.getOrElseUpdate(dir, {
          val refV = t(s, dir, "events")
            .filter(col("value").isNotNull &&
              dayofmonth(col("ts")) <= 15)
            .select(col("value").cast("double").as("v"))
          val qRow = refV.agg(
            call_function("percentile", col("v"), lit(0.1)).as("q1"),
            (2 to 9).map(i => call_function("percentile", col("v"),
              lit(i / 10.0)).as(s"q$i")): _*).head()
          val bs = (0 until 9).map(qRow.getDouble)
          val binOf = bs.foldLeft(lit(1)) { (acc, b) =>
            acc + when(col("v") > lit(b), 1).otherwise(0)
          }
          val refCounts = refV.select(binOf.as("bin"))
            .groupBy(col("bin")).agg(count(lit(1)).as("n")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          val refTot = refCounts.values.sum
          (bs, (1 to 10).map(i =>
            refCounts.getOrElse(i, 0L).toDouble / refTot))
        })
      val in = stageSentinelEvents(s, dir)
      val ckpt = ckptDir("graft_shel_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.hellingerStream(stream, "value",
          bounds, refShares, "1 day", "2 days"),
        queryName = s"shel_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.EventStreams.drainTail(sink,
        col("window_start") >=
          lit(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")))
        .orderBy("window_start")
    }),

    "s_stream_windowed" -> ((s, dir) => {
      val in = stagedEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sw")
        t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_sw_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in)
      runDrain(
        graft.streaming.EventStreams.windowedCounts(stream, "1 hour", "2 hours"),
        queryName = s"sw_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // ---- streaming: SLIDING windows (1h length / 30min slide) — each
    // event lands in 2 overlapping windows; same staged input and
    // AvailableNow == batch contract as s_stream_windowed ----
    "s_stream_sliding" -> ((s, dir) => {
      val in = stagedEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sw")
        t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_ss_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in)
      runDrain(
        graft.streaming.EventStreams.windowedCounts(stream, "1 hour",
          "2 hours", slide = Some("30 minutes")),
        queryName = s"ssl_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // ---- W10: the BUILT-IN session_window next to the stateful
    // mapGroupsWithState sessionizer (s_stream_sessionize) — merge
    // semantics: an event merges iff it starts before the current
    // session's end (gap ≥ 30min splits); end = last event + gap ----
    "w10_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))),

    // ---- W11: ordered funnel conversion (view -> click -> purchase,
    // greedy earliest-match cascade per user) — ONE shuffle: per-user
    // sorted event arrays + codegen'd HOF cascade, not a join per
    // stage. ----
    "w11_funnel" -> ((s, dir) =>
      Analytics.funnel(t(s, dir, "events"), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))),

    // ---- W12: cohort retention triangle — cohort = Monday week of the
    // user's first event, active_users per (cohort, week offset). The
    // cohort stamp rides a window over the user key (no join); one
    // final distinct-count agg. ----
    "w12_retention" -> ((s, dir) =>
      Analytics.cohortRetention(t(s, dir, "events"), "user_id", "ts")),

    // ---- W16: EWMA per user over the event values — the per-key
    // recurrence no window frame expresses; one key exchange, sorted
    // collect_list + codegen'd HOF fold, every step rounded to 6 so a
    // recursive CTE replays the identical IEEE arithmetic. ----
    "w16_ewma" -> ((s, dir) =>
      WindowOps.ewma(t(s, dir, "events"), Seq("user_id"), "ts",
        "event_id", "value", alpha = 0.3)),

    // ---- W17: multi-touch attribution — every purchase credits its
    // same-user clicks in the 24h lookback: linear (1/n each) and
    // last-touch (latest click) in one result. COMPOSES the binned
    // rangeJoin (no all-pairs; per-user time-bin equi-join) with two
    // purchase-keyed windows sharing one exchange. ----
    "w17_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("ts").cast("timestamp_ltz") -
            expr("INTERVAL 24 HOURS")).as("w_start"),
          col("ts").cast("timestamp_ltz").as("w_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val j = Joins.rangeJoin(clicks, purchases, Seq("user_id"), "ts",
        "w_start", "w_end", binSeconds = 86400)
      val wP = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
        .orderBy(col("ts").desc, col("click_id").desc)
      j.withColumn("n", count(lit(1)).over(wP))
        .withColumn("rn", row_number().over(wOrd))
        .select(col("purchase_id"), col("click_id"),
          round(lit(1.0) / col("n"), 6).as("credit"),
          (col("rn") === 1).as("last_touch"))
    }),

    // ---- A21: Benford first-digit screening — the fraud/synthetic-
    // data QC test: observed first-significant-digit shares of order
    // totals vs Benford's log10(1+1/d), with per-digit chi-square
    // contributions. Digit extraction via decimal-string (engine-
    // exact, no log-boundary risk); one hash agg + a 1-row total. ----
    "a21_benford" -> ((s, dir) => {
      val digits = t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(substring(col("o_totalprice").cast("decimal(18,2)")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val g = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = g.agg(sum(col("n")).cast("long").as("__nn"))
      val nn = col("__nn").cast("double")
      val p = round(log10(lit(1.0) +
        lit(1.0) / col("digit").cast("double")), 6)
      val diff = col("n").cast("double") - nn * p
      g.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / nn, 6).as("obs_share"),
          p.as("benford_p"),
          round(diff * diff / (nn * p), 6).as("chi2_term"))
    }),

    // ---- A22: count-min sketch heavy hitters — the fixed-size
    // MERGEABLE frequency sketch (Cormode & Muthukrishnan 2005) with
    // a published 2-universal hash family any SQL engine replays;
    // top-20 keys by estimate with the exact count and the sketch's
    // one-sided error beside them. The ≤ depth×width sketch
    // broadcasts into the estimation probe. ----
    "a22_cms_topk" -> ((s, dir) =>
      Sketches.countMinTopK(t(s, dir, "lineitem"), "l_partkey",
        k = 20, depth = 4, width = 1024)),

    // ---- A23: pre-flight key-skew audit — key cardinality, max/p50/
    // p99 key sizes, heaviest-key share and the exact Gini of the
    // per-key count distribution, computed over the COUNT-OF-COUNTS
    // frame (closed-form rank-run sums) so the window never ranks
    // key-cardinality rows. The measurement behind every salting /
    // bucketing decision in ops.Scale. ----
    "a23_skew_report" -> ((s, dir) =>
      Scale.skewReport(t(s, dir, "events"), "user_id")),

    // ---- A28: DAU / rolling 7-day WAU — the daily/weekly-active
    // pair; distinct (user, day) once, then a bounded 7-day explode
    // instead of the COUNT(DISTINCT)-over-RANGE no engine has. ----
    "a28_dau_wau" -> ((s, dir) =>
      Analytics.dauWau(t(s, dir, "events"), "user_id", "ts",
        windowDays = 7)),

    // ---- A29: population stability index — value distribution of
    // the month's first half (reference) vs second half (current),
    // decile boundaries from the reference broadcast into both
    // binning passes; Laplace-guarded shares. ----
    "a29_psi" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Quality.psi(
        ev.filter(dayofmonth(col("ts")) <= 15).select(col("value")),
        ev.filter(dayofmonth(col("ts")) > 15).select(col("value")),
        "value", bins = 10)
    }),

    // ---- A30: Pearson χ² independence — order priority × status
    // contingency; per-cell contributions beside the suite statistic.
    // One (a,b) hash agg collapses the fact; marginals are window
    // sums on the cell-sized frame; χ² sums decimal-exact. ----
    "a30_chisq" -> ((s, dir) =>
      Quality.chiSquareIndependence(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")
        .orderBy("o_orderpriority", "o_orderstatus")),

    // ---- A31: id-sequence gap audit — holes of ≥ 20 missing ids in
    // the click stream's event_id sequence; bucketed lag (parallel)
    // + a bucket-frame window for border/whole-bucket holes. Small
    // bucketSize (4096) on purpose: the sf0.01 run exercises ~70
    // buckets so the cross-border path is genuinely covered. ----
    "a31_seq_gaps" -> ((s, dir) =>
      Quality.sequenceGaps(
        t(s, dir, "events").filter(col("event_type") === "click"),
        "event_id", minGap = 20L, bucketSize = 4096L)
        .orderBy("gap_start")),

    // ---- A32: k-anonymity audit — equivalence classes of the
    // (priority, status, order year, order month) quasi-identifier
    // with fewer than k=5 orders: the re-identifiable cells a
    // release gate must suppress. ----
    "a32_k_anon" -> ((s, dir) =>
      Quality.kAnonymity(
        t(s, dir, "orders").select(col("o_orderpriority"),
          col("o_orderstatus"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month")),
        Seq("o_orderpriority", "o_orderstatus", "o_year", "o_month"),
        k = 5L)
        .orderBy("o_orderpriority", "o_orderstatus", "o_year",
          "o_month")),

    // ---- A39: Cramér's V — the normalized association strength over
    // the a30 contingency (priority × status), one comparable [0,1]
    // number where raw χ² is table-scale-bound. ----
    "a39_cramers_v" -> ((s, dir) =>
      Quality.cramersV(t(s, dir, "orders"), "o_orderpriority",
        "o_orderstatus")),

    // ---- A38: two-sample Kolmogorov–Smirnov drift test —
    // first-half-of-month values vs second half; D argmax on exact
    // integers, CDF via bucketed hierarchical prefix sums (only the
    // bucket-totals frame crosses one partition — the a31 shape). ----
    "a38_ks_drift" -> ((s, dir) =>
      Quality.ksTwoSample(t(s, dir, "events"), "value",
        dayofmonth(col("ts")) <= 15)),

    // ---- A40: ROC-AUC of value as a purchase-classifier score —
    // Mann–Whitney U on exact integers (doubled statistic so tie
    // blocks contribute whole numbers), decimal(38,0) products, one
    // double division; CDF work rides the a38 bucketed hierarchy. ----
    "a40_roc_auc" -> ((s, dir) =>
      Quality.rocAuc(t(s, dir, "events"), "value",
        col("event_type") === "purchase")),

    // ---- A41/A42: calibration bins + ECE of the clamped value/100
    // pseudo-probability vs purchase — per-bin confidence/accuracy
    // and the headline ECE, all in exact truncating integer
    // micro-units (no double mean anywhere). ----
    // ---- A66: Cliff's delta — the nonparametric effect size of
    // purchase vs non-purchase event values (P(X>Y) − P(X<Y), ties
    // zero): exact pair counts off the rocAuc Prefix machinery. ----
    "a66_cliffs_delta" -> ((s, dir) =>
      Quality.cliffsDelta(t(s, dir, "events"), "value",
        col("event_type") === "purchase")),

    // ---- A67: Pettitt changepoint — WHEN did the daily event-value
    // total shift? Exact integer rank statistic U_k off two Prefix
    // passes (no pair join), one exp for the p-value. The series is
    // the per-day exact decimal(18,6) total. ----
    "a67_pettitt" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.filter(col("ts").isNotNull &&
          col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("__d"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("__tot"))
        .select(datediff(col("__d"),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
          .as("day_idx"), col("__tot"))
      Analytics.pettittTest(daily, "day_idx", "__tot")
    }),

    // ---- A68: Hellinger / Bhattacharyya drift — the bounded,
    // symmetric drift metric beside a29's PSI on the same
    // first-half/second-half event-value split and the same
    // reference-percentile bins; empty bins contribute exactly 0
    // (no smoothing — √ is zero-tolerant). ----
    "a68_hellinger" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Quality.hellingerDrift(
        ev.filter(dayofmonth(col("ts")) <= 15).select(col("value")),
        ev.filter(dayofmonth(col("ts")) > 15).select(col("value")),
        "value", bins = 10)
    }),

    // ---- A69: one-way ANOVA F — does event value differ across the
    // five event types? Exact per-group moments into one rounded
    // chain per group term; F and η² scalars after. ----
    "a69_anova" -> ((s, dir) =>
      Quality.anovaF(t(s, dir, "events"), "event_type", "value")),

    // ---- A70: mutual information + Theil's U — the directed
    // association pair on a30's priority × status contingency;
    // entropies as exact decimal sums of rounded cell terms. ----
    "a70_theil" -> ((s, dir) =>
      Quality.mutualInformation(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")),

    // ---- W37: restricted mean survival time — the single-number
    // KM summary on the w21 cohort: average event-free micros over
    // the first 7 days, exact decimal segment fold. ----
    "w37_rmst" -> ((s, dir) =>
      Analytics.rmst(survivalSubjects(s, dir), "dur", "observed",
        tau = 604800000000L)),

    // ---- CAPSTONE: the reference README's promised "blocked
    // dataset" (README.md:2) as ONE oracled artifact — hourly
    // encounter grid × whole-stream LOCF (w6) × two staleness-
    // bounded channel as-of joins (j10: vitals fresh ≤2h, labs ≤24h)
    // × trailing-4h rolling mean (w7) × encounter-level outcome
    // label × leakage-safe hash split (t_hash_split). Every stage
    // keys on the encounter, so the matrix assembles in one
    // exchange family. ----
    "clif_blocked_dataset" -> ((s, dir) =>
      graft.clif.BlockedDataset.build(t(s, dir, "events"),
        encCol = "user_id", tsCol = "ts", channelCol = "event_type",
        valueCol = "value", tiebreak = "event_id",
        channels = Seq(
          graft.clif.BlockedDataset.Channel("click", "vital_value",
            toleranceSeconds = 7200L),
          graft.clif.BlockedDataset.Channel("purchase", "lab_value",
            toleranceSeconds = 86400L)),
        stepSeconds = 3600L,
        outcome = col("event_type") === "error", rollRows = 4,
        trainPct = 80, valPct = 10)),

    // ---- CAPSTONE, incrementally maintained: the same blocked
    // dataset built by TWO AvailableNow invocations over two arrival
    // waves of the same events (file-source checkpoint = each file
    // exactly once; idempotent dynamic-partition overwrites = crash-
    // replay safe; only buckets the new wave touches are recomputed).
    // Every build stage is encounter-local and an encounter lives in
    // one hash bucket, so the final grid equals the one-shot batch
    // build row for row — verified against the SAME DuckDB oracle as
    // clif_blocked_dataset. ----
    "clif_blocked_incremental" -> ((s, dir) => {
      val e = t(s, dir, "events")
      // throwaway harness materialization → RAM-backed scratch (the
      // ckptDir rationale); production stores live on durable DFS
      val tmp = ckptDir("graft_bdi")
      val in = s"$tmp/in"; val work = s"$tmp/work"
      val params = graft.clif.BlockedDatasetIncremental.Params(
        encCol = "user_id", tsCol = "ts", channelCol = "event_type",
        valueCol = "value", tiebreak = "event_id",
        channels = Seq(
          graft.clif.BlockedDataset.Channel("click", "vital_value",
            toleranceSeconds = 7200L),
          graft.clif.BlockedDataset.Channel("purchase", "lab_value",
            toleranceSeconds = 86400L)),
        stepSeconds = 3600L,
        outcome = col("event_type") === "error", rollRows = 4,
        trainPct = 80, valPct = 10)
      // wave 2 is a bucket-local late cohort (one shard's encounters
      // arriving after the rest — the open-encounter locality the
      // bucket layout exists for), so the second invocation PROVES
      // the pruning: it recomputes 1 of 8 buckets, not the corpus.
      // coalesce matches BlockedDatasetIncremental.bucketOf: a null
      // user_id hashes null → bucket 0, so the two waves PARTITION
      // all rows (a bare pmod===0 is null-rejecting and would drop
      // null-key events from both waves while the batch oracle
      // keeps them)
      val lateCohort = coalesce(
        pmod(graft.text.TextOps.portableHash(col("user_id")),
          lit(8L)), lit(0L)) === 0
      e.filter(!lateCohort).write.mode("overwrite").parquet(in)
      val schema = s.read.parquet(in).schema
      graft.clif.BlockedDatasetIncremental.runOnce(s, in, work,
        schema, params, buckets = 8)
      // fold wave 1's closed batch into the compacted layer BETWEEN
      // the waves: the oracle (the batch capstone's replay) then
      // proves at hash level that a recompute reading the compacted
      // base + a live batch equals the one-shot build
      graft.clif.BlockedDatasetIncremental.compactRaw(s, work, params)
      // the late cohort lands; invocation 2 processes ONLY its files
      e.filter(lateCohort).write.mode("append").parquet(in)
      graft.clif.BlockedDatasetIncremental.runOnce(s, in, work,
        schema, params, buckets = 8)
      graft.clif.BlockedDatasetIncremental.grid(s, work)
    }),

    // ---- CAPSTONE part 2: "…to develop a model to predict the
    // probability of death" (README.md:2) — logistic regression
    // trained ON the blocked dataset by exact micro-unit unrolled
    // gradient ascent (3 steps from zero, one scan per step; σ is
    // the only float touch, round-6). Features per encounter: vital
    // coverage, lab coverage, normalized length-of-stay; outcome =
    // any severe error (value > 150) — ~50% prevalence; split
    // leakage-safe by encounter hash. Accuracy at the 0.5 threshold
    // is the EXACT integer sign test on z_pico. ----
    "clif_mortality_model" -> ((s, dir) => {
      val bd = graft.clif.BlockedDataset.build(t(s, dir, "events"),
        encCol = "user_id", tsCol = "ts", channelCol = "event_type",
        valueCol = "value", tiebreak = "event_id",
        channels = Seq(
          graft.clif.BlockedDataset.Channel("click", "vital_value",
            toleranceSeconds = 7200L),
          graft.clif.BlockedDataset.Channel("purchase", "lab_value",
            toleranceSeconds = 86400L)),
        stepSeconds = 3600L,
        outcome = col("event_type") === "error" && col("value") > 150,
        rollRows = 4, trainPct = 80, valPct = 10)
      val feats = bd.groupBy(col("user_id")).agg(
        max(col("label")).as("y"),
        min(col("split")).as("split"), // constant per encounter
        avg(when(col("vital_value").isNotNull, 1.0).otherwise(0.0))
          .as("f_vital"),
        avg(when(col("lab_value").isNotNull, 1.0).otherwise(0.0))
          .as("f_lab"),
        (count(lit(1)).cast("double") /
          (count(lit(1)) + lit(24L)).cast("double")).as("f_len"))
      ops.Analytics.logisticModelReport(feats,
        Seq("f_vital", "f_lab", "f_len"), "y", "split", iters = 3)
    }),

    // ---- CAPSTONE part 3: the PROBABILITY readout — the README
    // promises "the probability of death", not a hard label, so
    // risk-stratify the held-out encounters: train the same model,
    // split test encounters into predicted-risk QUARTILES (bucket
    // boundaries = percentile(pmu, .25/.5/.75) — Spark percentile ==
    // DuckDB quantile_cont EXACTLY, the a29/a68 precedent; the
    // boundary frame is one broadcast row, never a global sort), and
    // report each quartile's size, mean predicted risk, and OBSERVED
    // outcome rate — the clinician's risk-stratification table. σ is
    // the one float; counts and the observed numerator are exact
    // integers, each output ratio rounds once. ----
    "clif_model_calibration" -> ((s, dir) => {
      val bd = graft.clif.BlockedDataset.build(t(s, dir, "events"),
        encCol = "user_id", tsCol = "ts", channelCol = "event_type",
        valueCol = "value", tiebreak = "event_id",
        channels = Seq(
          graft.clif.BlockedDataset.Channel("click", "vital_value",
            toleranceSeconds = 7200L),
          graft.clif.BlockedDataset.Channel("purchase", "lab_value",
            toleranceSeconds = 86400L)),
        stepSeconds = 3600L,
        outcome = col("event_type") === "error" && col("value") > 150,
        rollRows = 4, trainPct = 80, valPct = 10)
      // built once: trainer + readout share it
      val feats = Iterate.pin(bd.groupBy(col("user_id")).agg(
        max(col("label")).as("y"),
        min(col("split")).as("split"),
        avg(when(col("vital_value").isNotNull, 1.0).otherwise(0.0))
          .as("f_vital"),
        avg(when(col("lab_value").isNotNull, 1.0).otherwise(0.0))
          .as("f_lab"),
        (count(lit(1)).cast("double") /
          (count(lit(1)) + lit(24L)).cast("double")).as("f_len")))
      val fc = Seq("f_vital", "f_lab", "f_len")
      val beta = ops.Analytics.logisticGdMicros(
        feats.filter(col("split") === "train"), fc, "y", iters = 3)
      val micro = feats.select(col("split") +: col("y") +:
        fc.zipWithIndex.map { case (c, j) =>
          ops.Analytics.r6m(col(c)).as(s"__x$j")
        }: _*)
      val z = ops.Analytics.logisticScorePico(beta.toSeq,
        fc.indices.map(j => s"__x$j"))
      val sigmaMu = (round(lit(1.0) /
          (lit(1.0) + exp(-(z.cast("double") / lit(1e12)))), 6)
        .cast("decimal(18,6)") * lit(1000000L)).cast("long")
      val scored = micro.filter(col("split") === "test")
        .select(col("y"), sigmaMu.as("__pm"))
      val bounds = scored.agg(
        expr("percentile(__pm, 0.25)").as("__q1"),
        expr("percentile(__pm, 0.5)").as("__q2"),
        expr("percentile(__pm, 0.75)").as("__q3"))
      scored.crossJoin(broadcast(bounds))
        .withColumn("risk_quartile",
          when(col("__pm") <= col("__q1"), 1)
            .when(col("__pm") <= col("__q2"), 2)
            .when(col("__pm") <= col("__q3"), 3)
            .otherwise(4).cast("int"))
        .groupBy(col("risk_quartile"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("__pm")).cast("double") /
            (count(lit(1)).cast("double") * lit(1000000.0)), 6)
            .as("mean_pred"),
          round(sum(col("y")).cast("double") /
            count(lit(1)).cast("double"), 6).as("observed_rate"))
    }),

    // ---- CAPSTONE part 4: hourly SOFA over the blocked dataset —
    // the reference's scores pipeline promise (RCLIF_scores.Rmd:
    // 86-92) composed onto the per-(encounter, hour) grid: three
    // staleness-bounded organ channels (neuro ≤2h, resp ≤2h, renal
    // ≤24h) band 0–4 per hour — neuro via the EXACT reference GCS
    // case_when over a micro-exact GCS analog — and sofa_total sums
    // the PRESENT organs (stale = missing, never zero; n_organs
    // keeps the denominator honest). Banding is row-local: zero
    // shuffles beyond the capstone's one exchange family. ----
    "clif_sofa_hourly" -> ((s, dir) => {
      val bd = graft.clif.BlockedDataset.build(t(s, dir, "events"),
        encCol = "user_id", tsCol = "ts", channelCol = "event_type",
        valueCol = "value", tiebreak = "event_id",
        channels = Seq(
          graft.clif.BlockedDataset.Channel("click", "neuro_vital",
            toleranceSeconds = 7200L),
          graft.clif.BlockedDataset.Channel("view", "resp_vital",
            toleranceSeconds = 7200L),
          graft.clif.BlockedDataset.Channel("purchase", "renal_lab",
            toleranceSeconds = 86400L)),
        stepSeconds = 3600L,
        outcome = col("event_type") === "error", rollRows = 4,
        trainPct = 80, valPct = 10)
      graft.clif.Pipelines.sofaHourly(bd,
          "neuro_vital", "resp_vital", "renal_lab")
        .select("user_id", "grid_ts", "sofa_neuro", "sofa_resp",
          "sofa_renal", "n_organs", "sofa_total", "label", "split")
    }),

    // ---- A71: McNemar's paired test — two purchase-prediction
    // rules (total value > 50 vs event count > 10) scored on the
    // SAME users; only the discordant users carry information. ----
    "a71_mcnemar" -> ((s, dir) => {
      val per = t(s, dir, "events").groupBy(col("user_id")).agg(
        (max(when(col("event_type") === "purchase", 1).otherwise(0))
          === 1).as("__actual"),
        sum(col("value").cast("decimal(18,6)")).as("__sv"),
        count(lit(1)).as("__ne"))
      Quality.mcnemarTest(per,
        (col("__sv") > lit(50.0)) === col("__actual"),
        (col("__ne") > lit(10L)) === col("__actual"))
    }),

    // ---- A72: Cochran–Armitage trend — is the fulfilled rate
    // monotone in order priority (the ordering χ² throws away)?
    // Five exact moments off one conditional agg, one z chain. ----
    "a72_trend" -> ((s, dir) =>
      Quality.cochranArmitage(
        t(s, dir, "orders").withColumn("__dose",
          substring(col("o_orderpriority"), 1, 1).cast("long")),
        "__dose", col("o_orderstatus") === "F")),

    // ---- A78: Bradley–Terry strengths from pairwise judgments — the
    // batch aggregation of "A beat B" preferences into a per-player
    // ranking (what LLM-eval arenas compute; Elo is the
    // order-dependent online cousin with no deterministic batch
    // form). Judgments constructed deterministically: doc i vs docs
    // i+1 and i+3, longer n_chars wins (ties to the lower id);
    // players are the 20 sources. 3 synchronous MM rounds, exact
    // decimal term sums — the whole walk replays in SQL. ----
    "a78_bradley_terry" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
      def fam(off: Int) = {
        val a = d.select(col("doc_id").as("a_id"),
          col("source").as("a_src"), col("n_chars").as("a_n"))
        val b = d.select(col("doc_id").as("b_id"),
          col("source").as("b_src"), col("n_chars").as("b_n"))
        a.join(b, col("b_id") === col("a_id") + off)
          .select(
            when(col("a_n") >= col("b_n"), col("a_src"))
              .otherwise(col("b_src")).as("winner"),
            when(col("a_n") >= col("b_n"), col("b_src"))
              .otherwise(col("a_src")).as("loser"))
      }
      Analytics.bradleyTerry(fam(1).unionByName(fam(3)),
        "winner", "loser", iters = 3)
    }),

    // ---- A79: Dawid–Skene label aggregation — EM over three noisy
    // annotators of the documents' lang (annotator k flips to a
    // hash-picked other class at rate (2k+1)/10 — the j16
    // deterministic-dirtying discipline), jointly estimating each
    // annotator's confusion matrix and the posterior true label.
    // The multi-rater eval/RLHF companion to a78's pairwise BT. ----
    "a79_dawid_skene" -> ((s, dir) =>
      Analytics.dawidSkene(dsAnnotations(s, dir), "doc_id",
        "annotator", "label", rounds = 2)),

    // ---- A80: the SAME Dawid–Skene run's annotator-quality
    // readout: last-round confusion diagonal (rate annotator k
    // reports class c correctly) + smoothed class priors — the
    // rater audit that decides who keeps labeling. ----
    "a80_annotator_quality" -> ((s, dir) =>
      Analytics.dawidSkeneQuality(dsAnnotations(s, dir), "doc_id",
        "annotator", "label", rounds = 2)),

    // ---- A81: pass@k (Chen et al. 2021) — the code-model eval
    // metric: 10 generated samples per task (task = doc block of
    // 10), each sample "passes its unit tests" on a portable-hash
    // coin whose rate varies by task (task t passes at
    // (t mod 9 + 1)/10 — tasks cover the whole 0.1..0.9 range, so
    // c = 0, c = n and the generic branch all occur in-corpus).
    // Exact falling-factorial arithmetic; the whole walk replays
    // in SQL. ----
    "a81_pass_at_k" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("doc_id") >= 0)
      val samples = d.select(col("doc_id"),
          floor(col("doc_id") / 10).cast("long").as("task_id"))
        .withColumn("passed",
          pmod(graft.text.TextOps.portableHash(col("doc_id")),
            lit(10L)) < pmod(col("task_id"), lit(9L)) + 1)
      Analytics.passAtK(samples, "task_id", col("passed"),
        ks = Seq(1, 5, 10))
    }),

    // ---- A77: Krippendorff's alpha — the a73 rater panel with
    // rater 3 skipping two docs in three (doc_id % 3 != 0): unequal
    // m per item, the case Fleiss NULLs and alpha is built for. ----
    "a77_krippendorff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
      val tc = size(TextOps.tokens(col("text")))
      val long = d.select(col("doc_id"),
        when(col("n_chars") < 300, "short")
          .when(col("n_chars") < 500, "mid").otherwise("long")
          .as("r1"),
        when(ns < 250, "short").when(ns < 420, "mid")
          .otherwise("long").as("r2"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          when(tc < 50, "short").when(tc < 80, "mid")
            .otherwise("long")).as("r3"))
        .selectExpr("doc_id", "stack(3, r1, r2, r3) AS rating")
      Quality.krippendorffAlpha(long, "doc_id", "rating")
    }),

    // ---- A76: two-proportion power analysis — per-arm sample size
    // to detect a +2pp lift over the observed per-user purchase
    // rate; the planning twin of a20/a63. One conditional agg, one
    // ceil chain. ----
    "a76_power" -> ((s, dir) => {
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1)
          .otherwise(0)).as("__conv"))
      Quality.powerSampleSize(per, col("__conv") === 1, mde = 0.02)
    }),

    // ---- A75: IPS/SNIPS off-policy replay — "what would the
    // even-users-get-purchase policy have scored on the logged
    // traffic?": empirical event-type shares as the stationary
    // logging propensities, matched rows reweighted 1/p, ESS
    // honesty dial beside both estimates. ----
    "a75_offpolicy" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
      val shares = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("__c"))
      val tot = shares.agg(sum(col("__c")).as("__n"))
      val withP = ev.join(broadcast(shares), Seq("event_type"))
        .crossJoin(broadcast(tot))
        .withColumn("__prop",
          col("__c").cast("double") / col("__n").cast("double"))
      Quality.offPolicyValue(withP, "event_type", "value", "__prop",
        when(pmod(col("user_id"), lit(2L)) === 0, "purchase")
          .otherwise("view"))
    }),

    // ---- A73: Fleiss' kappa — three deterministic length-band
    // "raters" (n_chars, space-stripped chars, token count) on every
    // document: the multi-rater agreement gate beside a45's two-
    // rater Cohen. Exact Σn² / Σc² moments, one chain each. ----
    "a73_fleiss" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
      val tc = size(TextOps.tokens(col("text")))
      val long = d.select(col("doc_id"),
        when(col("n_chars") < 300, "short")
          .when(col("n_chars") < 500, "mid").otherwise("long")
          .as("r1"),
        when(ns < 250, "short").when(ns < 420, "mid")
          .otherwise("long").as("r2"),
        when(tc < 50, "short").when(tc < 80, "mid")
          .otherwise("long").as("r3"))
        .selectExpr("doc_id", "stack(3, r1, r2, r3) AS rating")
      Quality.fleissKappa(long, "doc_id", "rating")
    }),

    // ---- A74: Chapman capture–recapture — two overlapping "crawls"
    // (doc_id mod-10 slices sharing 2/10) estimate the TRUE corpus
    // size and each crawl's coverage; the unseen-DOCUMENTS audit
    // beside t_vocab_coverage's unseen-vocabulary one. ----
    "a74_capture" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Quality.captureRecapture(
        d.filter(pmod(col("doc_id"), lit(10L)) < 6),
        d.filter(pmod(col("doc_id"), lit(10L)) >= 4), "doc_id")
    }),

    // ---- A65: Brier score + Murphy decomposition — the headline
    // probabilistic-forecast number beside a41/a42's calibration
    // surface: reliability − resolution + uncertainty on the same
    // score frame. ----
    "a65_brier" -> ((s, dir) =>
      Quality.brierDecomposition(
        t(s, dir, "events").withColumn("score",
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
        "score", col("event_type") === "purchase")),

    "a41_calibration" -> ((s, dir) =>
      Quality.calibrationBins(
        t(s, dir, "events").withColumn("score",
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
        "score", col("event_type") === "purchase")),

    "a42_ece" -> ((s, dir) =>
      Quality.expectedCalibrationError(
        t(s, dir, "events").withColumn("score",
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
        "score", col("event_type") === "purchase")),

    // ---- A43: Benjamini–Hochberg FDR gate over a mixed hypothesis
    // frame — two real screens unioned: per-event-type value-tercile
    // uniformity (strong effect: values are nowhere near uniform on
    // [0,100] cuts) and per-lang doc-length homogeneity vs the pooled
    // corpus (null true: langs share the length distribution). BH
    // must keep exactly the first family. p = exp(−χ²/2) is the EXACT
    // df=2 survival function; the decision is pure integer micro-unit
    // arithmetic. ----
    "a43_bh_fdr" -> ((s, dir) => {
      val h1 = Quality.chiSquareGofByGroup(
        t(s, dir, "events")
          .filter(col("value").isNotNull && col("event_type").isNotNull)
          .select(concat(lit("type:"), col("event_type")).as("hyp"),
            when(col("value") < 33.333333, 0)
              .when(col("value") < 66.666667, 1).otherwise(2).as("bk")),
        "hyp", "bk")
      val h2 = Quality.chiSquareGofByGroup(
        t(s, dir, "documents")
          .filter(col("n_chars").isNotNull && col("lang").isNotNull)
          .select(concat(lit("lang:"), col("lang")).as("hyp"),
            when(col("n_chars") < 300, 0)
              .when(col("n_chars") < 500, 1).otherwise(2).as("bk")),
        "hyp", "bk", pooled = true)
      Quality.bhFdr(
        h1.unionByName(h2).withColumn("p",
          round(exp(-col("chi2") / 2), 6)),
        "p", q = 0.05)
    }),

    // ---- A44: 2-D Pareto frontier (skyline) of parts — the
    // size × retailprice trade-off curve; distinct-x agg then one
    // window over the distinct-x frame, never corpus-row windows. ----
    "a44_pareto" -> ((s, dir) =>
      ops.Analytics.paretoFrontier(
        t(s, dir, "part").select(col("p_size"),
          col("p_retailprice").cast("double").as("price")),
        "p_size", "price")),

    // ---- A45: Cohen's kappa — chance-corrected agreement between
    // the declared length tercile (n_chars) and a whitespace-free
    // length tercile re-derived from the text; exact integer
    // (A·N − S)/(N² − S), one double division. ----
    "a45_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
      val ns = length(regexp_replace(col("text"), lit(" "), lit("")))
      Quality.cohenKappa(
        d.select(
          when(col("n_chars") < 300, "short")
            .when(col("n_chars") < 500, "mid").otherwise("long")
            .as("r1"),
          when(ns < 250, "short").when(ns < 420, "mid")
            .otherwise("long").as("r2")),
        "r1", "r2")
    }),

    // ---- A46: Gini concentration of corpus mass over sources — the
    // data-mixture audit number; tie blocks contribute their rank-sum
    // in closed form over the distinct-total frame, strict-below
    // prefix via the bucketed hierarchy, one double division. ----
    "a46_gini" -> ((s, dir) =>
      ops.Analytics.giniConcentration(t(s, dir, "documents"),
        Seq("source"), "n_chars")),

    // ---- A47: Spearman rank correlation between declared length and
    // whitespace mass — monotone association on DOUBLED average ranks
    // (whole longs), exact decimal moment sums, one double
    // sqrt/division. ----
    "a47_spearman" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      Quality.spearmanCorr(
        d.select(col("n_chars").cast("double").as("x"),
          (length(col("text")) -
            length(regexp_replace(col("text"), lit(" "), lit(""))))
            .cast("double").as("y")),
        "x", "y")
    }),

    // ---- A48: average precision (PR-AUC, step estimator) of value
    // as a purchase ranker — per-threshold rationals pinned to the
    // pico grid by truncating integer division (no double sums); the
    // rare-positive companion to a40's ROC-AUC. ----
    "a48_avg_precision" -> ((s, dir) =>
      Quality.averagePrecision(t(s, dir, "events"), "value",
        col("event_type") === "purchase")),

    // ---- A49: split-conformal (1−α) threshold per event_type —
    // k = ceil((n+1)(1−α)) in exact micro-unit integers, q̂ found by
    // prefix counts (never a per-group sort); α = 0.1. ----
    "a49_conformal" -> ((s, dir) =>
      Quality.conformalThreshold(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        "value", Seq("event_type"), alphaMicros = 100000L)),

    // ---- A50: per-lang fairness audit of a length-based keep gate —
    // does "whitespace-free length ≥ 330" select different langs at
    // different rates vs the declared n_chars ≥ 400 label? Confusion
    // counts + selection/TPR/FPR/PPV and the demographic-parity gap,
    // nulls (never 0) for undefined rates. ----
    "a50_fairness" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Quality.groupFairness(
        d.filter(col("n_chars").isNotNull && col("text").isNotNull),
        "lang", col("n_chars") >= 400,
        length(regexp_replace(col("text"), lit(" "), lit(""))) >= 330)
    }),

    // ---- A51: KMV set-operation sketch — month-half user overlap
    // estimated from two 256-hash sketches alone (union, Jaccard,
    // intersection — the set algebra HLL cannot do), exact
    // intersection riding along as the audit. ----
    "a51_kmv" -> ((s, dir) => {
      val e = t(s, dir, "events")
      ops.Sketches.kmvOverlap(
        e.filter(dayofmonth(col("ts")) <= 15),
        e.filter(dayofmonth(col("ts")) > 15),
        "user_id", k = 256)
    }),

    // ---- A53: isotonic (PAV) recalibration of the a41 surface —
    // the sequential pool-adjacent-violators fit computed by its
    // relational closed form max_{j≤i} min_{k≥i} mean(j..k) over the
    // bins-range frame, truncating micro-unit range means. ----
    "a53_isotonic" -> ((s, dir) =>
      Quality.isotonicCalibration(
        t(s, dir, "events").withColumn("score",
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0))),
        "score", col("event_type") === "purchase")),

    // ---- A58: temperature-scaled sampling mixture over document
    // sources — the multilingual up-sampling recipe (α = 0.3):
    // round-6 n^α terms into an exact decimal denominator, per-source
    // raw/temperature shares and the sampler's multiplier. ----
    "a58_temperature_mix" -> ((s, dir) =>
      ops.Analytics.temperatureMix(t(s, dir, "documents"),
        Seq("source"), alphaMicros = 300000L)),

    // ---- W36: interval union — every event opens a 10-minute
    // activity interval; overlapping/touching intervals per user
    // flatten into maximal usage episodes (prefix-max, the
    // watertight form — lag(end) alone splits swallowed intervals).
    // ----
    "w36_interval_union" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts").as("s0"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e0"))
      WindowOps.intervalUnion(ev, Seq("user_id"), "s0", "e0")
    }),

    // ---- A64: difference-in-differences — even/odd users as
    // treatment/control arms, first-half vs second-half month as
    // pre/post: the control trend differences out the common time
    // shock. Four exact-moment cells, rounded double chains. ----
    "a64_did" -> ((s, dir) =>
      ops.Quality.diffInDiff(t(s, dir, "events"), "value",
        col("user_id") % 2 === 0, dayofmonth(col("ts")) > 15)),

    // ---- A63: always-valid sequential test (mSPRT) — the daily
    // monitoring curve for the even/odd-user value experiment: the
    // always-valid p at each day is exp(-running-max log-mixture-LR),
    // monotone by construction, valid under any peeking rule. ----
    "a63_msprt" -> ((s, dir) =>
      ops.Quality.msprtCurve(t(s, dir, "events"), "value",
        col("user_id") % 2 === 0, dayofmonth(col("ts")),
        tauMicros = 1000000L)),

    // ---- A62: uplift / Qini curve — value as a targeting score,
    // even/odd user split as treated/control, purchase as outcome:
    // at every distinct score threshold, incremental response rate
    // and incremental conversions (Radcliffe's Qini). Descending
    // distinct-score frame off the Prefix hierarchy; NULL on an
    // empty arm. ----
    "a62_uplift" -> ((s, dir) =>
      ops.Quality.upliftCurve(t(s, dir, "events"), "value",
        col("user_id") % 2 === 0, col("event_type") === "purchase")),

    // ---- A61: cross-language quantile normalization of doc lengths
    // — each (lang, n_chars) maps to the global length at its
    // within-language quantile (exact order statistics: doubled
    // average ranks, integer ceil-k, bucketed interval lookup — no
    // interpolation, no sort), making every language's distribution
    // identical to the pooled one. ----
    "a61_quantile_norm" -> ((s, dir) =>
      ops.Quality.quantileNormalize(t(s, dir, "documents"), "lang",
        "n_chars")),

    // ---- A60: order-free dataset fingerprint of the customer table
    // — the 100 TB copy/migration integrity check: two exact decimal
    // hash sums (portable 31-poly fold, salted twin) that are
    // invariant to row order/partitioning and ADD across shards. ----
    "a60_dataset_fp" -> ((s, dir) =>
      ops.Quality.datasetFingerprint(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_mktsegment"))),

    // ---- A59: Sinkhorn optimal-transport distance between the
    // English and non-English doc-length distributions (50-char
    // buckets, eps=3 bin units, 5 scalings) — the geometry-aware
    // drift metric beside a29's PSI and a38's KS: mass moved TIMES
    // buckets moved. All sums exact decimal; the oracle replays
    // every scaling on HUGEINT. ----
    "a59_sinkhorn" -> ((s, dir) =>
      ops.Analytics.sinkhornOt(
        t(s, dir, "documents").filter(col("lang").isNotNull),
        "n_chars", col("lang") === "en",
        binWidthMicros = 50000000L, iters = 5,
        epsMicros = 3000000L)),

    // ---- A57: CUPED variance-reduced treatment effect — per-user
    // pre/post value sums, even/odd user split as arms; one exact
    // moment agg (variance reduction IS corr²), fixed-order double
    // ratios rounded once. ----
    "a57_cuped" -> ((s, dir) => {
      val units = t(s, dir, "events")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(dayofmonth(col("ts")) <= 15,
            col("value").cast("decimal(18,6)"))),
            lit(0).cast("decimal(18,6)")).as("pre"),
          coalesce(sum(when(dayofmonth(col("ts")) > 15,
            col("value").cast("decimal(18,6)"))),
            lit(0).cast("decimal(18,6)")).as("post"))
      Quality.cupedAdjustment(units, "pre", "post",
        col("user_id") % 2 === 0)
    }),

    // ---- A56: Mann–Kendall trend + Sen's slope over the daily
    // value-total series — nonparametric KPI-drift detection; S and
    // the tie-corrected 18·Var are exact integers, slopes truncate
    // to micro-units, Sen is the lower-median order statistic. ----
    "a56_mann_kendall" -> ((s, dir) => {
      val daily = t(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(dayofmonth(col("ts")).as("d"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
      ops.Analytics.mannKendall(daily, "d", "v")
    }),

    // ---- A55: time-decayed trending top-5 event types — recency-
    // weighted popularity (half-life one week, reference instant
    // explicit — never the clock); round-6 decay weights into an
    // exact decimal sum, TakeOrdered tail. ----
    "a55_decayed_topk" -> ((s, dir) =>
      ops.Analytics.decayedTopK(t(s, dir, "events"),
        Seq("event_type"), "ts",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        halfLifeHours = 168.0, k = 5)),

    // ---- A54: Poisson-bootstrap 95% CI for the mean event value —
    // the distributed bootstrap (per-row Poisson(1) weights from
    // salted portable hashes, no RNG state, no global resample);
    // replica means truncate on the micro grid, CI bounds are
    // ceil-k order statistics of the 100-replica frame. ----
    "a54_bootstrap" -> ((s, dir) =>
      Quality.bootstrapMeanCi(t(s, dir, "events"), "value",
        "event_id", replicas = 100)),

    // ---- A52: deterministic randomization test — is the purchase /
    // non-purchase value gap significant under 99 salted-hash
    // re-labelings? No RNG state; extreme-ness compared on exact
    // cross-multiplied rationals in decimal(38,0). ----
    "a52_randomization" -> ((s, dir) =>
      Quality.randomizationTest(t(s, dir, "events"), "value",
        col("event_type") === "purchase", "event_id", replicas = 99)),

    // ---- text: PMI bigram collocations — adjacent-pair explode, one
    // hash agg to the distinct-bigram frame, slot marginals
    // re-aggregated from it (no second corpus scan), ln on the exact
    // double ratio. ----
    "t_pmi_colloc" -> ((s, dir) =>
      text.TextOps.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, topN = 40)),

    // ---- text: RAKE keyphrases — maximal stopword-free token runs,
    // degree/frequency word scores (long-phrase words win), phrase =
    // exact sum of its words' round-6 scores; corpus top-25. ----
    "t_rake" -> ((s, dir) =>
      text.TextOps.rakeKeywords(t(s, dir, "documents"), "text",
        maxPhraseLen = 4, topK = 25)),

    // ---- A37: portable HyperLogLog distinct-user estimate — the
    // mergeable cardinality sketch from the portable hash family
    // (every register bit SQL-replayable); 64-key agg, exact-integer
    // Z sum (a distributed double sum would be order-dependent),
    // audited against a real countDistinct. ----
    "a37_hll_distinct" -> ((s, dir) =>
      graft.ops.Sketches.hllDistinct(t(s, dir, "events"), "user_id")),

    // ---- A33: mutual information between event type and hour of
    // day — the filter-feature-selection statistic (nats of hour the
    // type carries), with both entropies and normalized MI. One
    // contingency agg; margins are windows over the cells frame
    // (category-product-sized, the a30_chisq contract). ----
    "a33_mutual_info" -> ((s, dir) =>
      Quality.mutualInfo(
        t(s, dir, "events").select(col("event_type"),
          hour(col("ts")).as("hr")),
        "event_type", "hr")),

    // ---- A26: calendar gap audit — per user, the days inside their
    // own [first, last] event span with no events; calendar explode
    // bounded by the span, one distinct, one left_anti join. ----
    "a26_gap_days" -> ((s, dir) =>
      Quality.missingDays(t(s, dir, "events"), Seq("user_id"), "ts")),

    // ---- A24: histogram-sketch quantiles — p50/p90/p99 of
    // l_extendedprice from a width-100 mergeable histogram with the
    // honest |est−true| ≤ width bound beside each estimate; the
    // sketch path next to a8's exact percentiles. ----
    "a24_hist_quantile" -> ((s, dir) =>
      Sketches.histQuantile(t(s, dir, "lineitem"), "l_extendedprice",
        width = 100.0, probs = Seq(0.5, 0.9, 0.99))),

    // ---- A25: weight-of-evidence binning — o_totalprice in
    // population quintiles vs the order-status event, WOE and IV per
    // bin; boundary row broadcast (no global ntile sort). ----
    "a25_woe" -> ((s, dir) =>
      Quality.woeBins(t(s, dir, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", bins = 5)),

    // ---- A20: two-proportion A/B conversion z-test — variant by
    // user-id parity, conversion = ever purchased; pooled-variance
    // z from EXACT counts (every input to the IEEE formula sequence
    // is an integer-valued double, so both engines compute identical
    // rates and statistic; significance compared on the round-6
    // grid). One user agg + one 1-row conditional agg. ----
    "a20_ab_test" -> ((s, dir) => {
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val agg = per.agg(
        count(when(col("variant") === 0, lit(1))).as("n_a"),
        sum(when(col("variant") === 0, col("conv"))).cast("long")
          .as("c_a"),
        count(when(col("variant") === 1, lit(1))).as("n_b"),
        sum(when(col("variant") === 1, col("conv"))).cast("long")
          .as("c_b"))
      val na = col("n_a").cast("double")
      val nb = col("n_b").cast("double")
      val pa = col("c_a").cast("double") / na
      val pb = col("c_b").cast("double") / nb
      val pp = (col("c_a") + col("c_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val z = (pa - pb) /
        sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
      agg.select(col("n_a"), col("c_a"), round(pa, 6).as("rate_a"),
        col("n_b"), col("c_b"), round(pb, 6).as("rate_b"),
        round(z, 6).as("z"),
        (abs(round(z, 6)) > 1.96).as("significant"))
    }),

    // ---- A19: grouped top-k via the native MERGEABLE heap aggregate
    // (TypedImperativeAggregate) — top-3 events by value per type with
    // map-side combine: each partition ships ≤ k rows per group, vs a
    // window's full-group sort through the exchange. Best-first array
    // exploded to ranked rows; (value desc, id) total order. ----
    "a19_topk_agg" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(NativeExpressions.top_k_by_value(col("event_id"),
          col("value"), 3).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), col("col.value").as("value"))),

    // ---- W23: hourly-grid resampling with LINEAR INTERPOLATION —
    // the smooth twin of w6's LOCF: each grid instant interpolates
    // between its bracketing observations (leading edge null,
    // trailing edge LOCF). The forward neighbor is asOfJoin on the
    // NEGATED µs axis — both directions reuse the single-exchange
    // union+LOCF plan. ----
    "w23_interp" -> ((s, dir) => {
      val ev = WindowOps.dedupKeepLast(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("value"), col("event_id")),
        keys = Seq("user_id", "ts"), orderBy = Seq(col("event_id")))
        .drop("event_id")
      WindowOps.resampleInterp(ev, Seq("user_id"), "ts", "value",
        stepSeconds = 3600)
    }),

    // ---- W22: RFM segmentation — per-user recency/frequency/
    // monetary scores 1-5 from exact percentile BOUNDARIES broadcast
    // back (a global ntile would be one all-users single-partition
    // sort — the scale bug this formulation avoids). ----
    "w22_rfm" -> ((s, dir) =>
      Analytics.rfmSegments(t(s, dir, "events"), "user_id", "ts",
        col("event_type") === "purchase", "value")),

    // ---- W21: Kaplan–Meier survival — time from a user's first
    // event to first purchase, users who never purchase RIGHT-
    // CENSORED at corpus end (dropping them would bias survival
    // down). Product-limit recurrence in exact decimal (the ewma
    // discipline) over the curve-sized distinct-time table. ----
    "w21_survival" -> ((s, dir) =>
      Analytics.kaplanMeier(survivalSubjects(s, dir), "dur",
        "observed")),

    // ---- W33: Nelson–Aalen cumulative hazard — K-M's additive
    // sibling over the SAME right-censored risk sets; increments sum
    // exactly (no fold recurrence), curve-sized windows. ----
    "w33_nelson_aalen" -> ((s, dir) =>
      Analytics.nelsonAalen(survivalSubjects(s, dir), "dur",
        "observed")),

    // ---- W34: two-group log-rank test — even vs odd users on the
    // shared survival subjects; O exact, per-time E/V terms round-6
    // decimal-summed, one χ²(1) expression at the end. ----
    "w34_logrank" -> ((s, dir) =>
      Analytics.logRankTest(survivalSubjects(s, dir), "dur",
        "observed", col("grp"))),

    // ---- W38: Cox proportional-hazards regression — the classic
    // clinical time-to-event model beside the logistic capstone,
    // trained IN-ENGINE by 3 unrolled partial-likelihood gradient
    // steps (Breslow ties). Subjects: time to first purchase (else
    // censor at the last event); covariates: centered mean value
    // (/100 keeps z bounded) and ln(1 + n_events). β ships as exact
    // micros; the WHOLE training walk replays in SQL (suffix-window
    // risk sets, half-away integer steps). ----
    "w38_cox" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def us(c: Column) = unix_micros(c.cast("timestamp_ltz"))
      val per = ev.groupBy(col("user_id")).agg(
        min(us(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", us(col("ts"))))
          .as("p_us"),
        count(lit(1)).as("n_ev"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
      val cens = ev.agg(max(us(col("ts"))).as("end_us"))
      val subj = per.crossJoin(broadcast(cens)).select(
        when(col("p_us").isNotNull, col("p_us") - col("first_us"))
          .otherwise(col("end_us") - col("first_us")).as("dur"),
        col("p_us").isNotNull.as("observed"),
        round(col("sv").cast("double") / col("n_ev") / 100.0, 6)
          .as("val_c"),
        round(log(lit(1.0) + col("n_ev")), 6).as("log_n"))
      Analytics.coxPartialGd(subj, "dur", "observed",
        Seq("val_c", "log_n"), iters = 3)
    }),

    // ---- W35: Aalen–Johansen cumulative incidence under competing
    // risks — purchase (cause 1) vs error (cause 2) compete for each
    // user's first outcome; 1−KM on either alone would overstate it.
    // Both curves off one subjects frame; the recursion replayed
    // exactly by the oracle. ----
    "w35_cum_incidence" -> ((s, dir) => {
      val subj = competingSubjects(s, dir)
      Analytics.cumulativeIncidence(subj, "dur", "cause", 1)
        .withColumn("cause", lit(1))
        .unionByName(
          Analytics.cumulativeIncidence(subj, "dur", "cause", 2)
            .withColumn("cause", lit(2)))
    }),

    // ---- W19: event debounce — drop events arriving within 10 min
    // of the PREVIOUS raw event of the same (user, type): the
    // double-fire/sensor-chatter filter. One lag window; the
    // gap-from-previous-KEPT variant is a recurrence (cusum/ewma
    // territory), this is the standard windowable form. Exact
    // integer µs comparison on both engines. ----
    "w19_debounce" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .filter(col("__prev").isNull ||
          (unix_micros(col("ts").cast("timestamp_ltz")) -
            unix_micros(col("__prev").cast("timestamp_ltz"))) >=
            600000000L)
        .select("event_id", "user_id", "event_type", "ts")
    }),

    // ---- W20: one-sided CUSUM change detection per user — the
    // sequential drift detector (Page 1954): s = max(0, s + x − 60),
    // alarm above 300. Exact-decimal recurrence (the ewma pattern),
    // replayed bit-for-bit by a recursive CTE. ----
    "w20_cusum" -> ((s, dir) =>
      WindowOps.cusum(t(s, dir, "events"), Seq("user_id"), "ts",
        "event_id", "value", target = 50.0, slack = 10.0,
        threshold = 300.0)),

    // ---- W24: per-user value-sequence autocorrelation at lags 1..3 —
    // the persistence/seasonality screen; ONE key exchange (mean,
    // deviations and all three leads share a single window), exact
    // decimal accumulation so the sums are order-free. ----
    "w24_acf" -> ((s, dir) =>
      Analytics.acf(t(s, dir, "events"), Seq("user_id"), "ts",
        "event_id", "value", maxLag = 3)),

    // ---- W25: Markov stationary distribution of the event-type chain
    // — two rounds of power iteration from uniform over the w15
    // transition matrix; everything after the one ordered-window
    // exchange is state-cardinality-sized, π broadcast per round;
    // loop-carried state pinned the e_kmeans way (oracle unrolls both
    // rounds). ----
    "w25_markov" -> ((s, dir) =>
      Analytics.markovStationary(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", iters = 2)),

    // ---- W26: token-bucket rate limiting replayed over history —
    // capacity 2, refill 1/10000s: the admission-control audit as a
    // batch recurrence (ewma/cusum chassis), bit-replayable by a
    // recursive CTE and bit-equal to its streaming twin. ----
    "w26_rate_limit" -> ((s, dir) =>
      WindowOps.rateLimit(t(s, dir, "events"), Seq("user_id"), "ts",
        "event_id", capacity = 2, refillPerSec = 0.0001)),

    // ---- W28: rolling z-score anomalies — each event scored against
    // its own trailing-10 window (frame excludes the current row);
    // count/Σv/Σv² share one key exchange; exact-decimal sums, clamped
    // variance, IEEE sqrt. ----
    "w28_roll_zscore" -> ((s, dir) =>
      WindowOps.rollingZscore(t(s, dir, "events"), Seq("user_id"),
          "ts", "event_id", "value", lookback = 10, zThreshold = 3.0)
        .select(col("user_id"), col("event_id"), col("n_window"),
          col("roll_mean"), col("roll_std"), col("zscore"),
          col("anomaly"))),

    // ---- W29: top session paths — the Sankey/user-journey table;
    // sessionize's one user exchange reused by the per-session path
    // agg, then a path-keyed count into TakeOrdered. ----
    "w29_top_paths" -> ((s, dir) =>
      Analytics.topSessionPaths(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800, k = 20)),

    // ---- A27: seasonal profile — (iso weekday, hour) grid of event
    // count and exact-decimal mean value: the seasonality heatmap as
    // data; one hash agg. ----
    "a27_seasonal" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(weekday(col("ts")).cast("int").as("dow"),
          hour(col("ts")).cast("int").as("hod"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("value").cast("double"), 6)
              .cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_value"))),

    // ---- W27: Holt linear-trend smoothing — level + trend carried
    // per user, one-step-ahead forecast per event; the two-variable
    // recurrence on the same one-exchange HOF chassis, bit-replayed
    // by a recursive CTE. ----
    "w27_holt" -> ((s, dir) =>
      WindowOps.holt(t(s, dir, "events"), Seq("user_id"), "ts",
        "event_id", "value", alpha = 0.5, beta = 0.3)),

    // ---- W32: best changepoint per user (one binary-segmentation
    // step): split minimizing two-segment SSE from prefix sums — one
    // pass, one key exchange, argmin rank on the same exchange. ----
    "w32_changepoint" -> ((s, dir) =>
      WindowOps.bestChangepoint(t(s, dir, "events"), Seq("user_id"),
        "ts", "event_id", "value", minSeg = 5)),

    // ---- W31: rolling robust anomaly — per user, each value judged
    // vs the LOWER median and MAD of its trailing 25-row frame (all-
    // decimal, no interpolation, nothing to round differently); one
    // key exchange, frame array bounded by construction. ----
    "w31_rolling_mad" -> ((s, dir) =>
      WindowOps.rollingMadAnomaly(t(s, dir, "events"), Seq("user_id"),
        "ts", "event_id", "value", lookback = 25, k = 3)),

    // ---- A35: leave-one-out target encoding — event_type encoded by
    // the mean value of the OTHER rows in its type (smoothing 10
    // toward the global mean); one category-keyed window pair. ----
    "a35_loo_encode" -> ((s, dir) =>
      Quality.looTargetEncode(t(s, dir, "events"), "event_id",
        "event_type", "value", smoothing = 10.0)),

    // ---- W30: seasonal-adjusted Holt — hour-of-day offsets (the
    // a27 statistic) subtracted before the w27 recurrence and added
    // back into the fitted value; the fold state stays two decimals
    // per key, no seasonal array in the recurrence. ----
    "w30_holt_seasonal" -> ((s, dir) =>
      WindowOps.holtSeasonal(t(s, dir, "events"), Seq("user_id"), "ts",
        "event_id", "value", alpha = 0.5, beta = 0.3)),

    // ---- W18: market-basket association rules — pair
    // support/confidence/lift over order baskets (parts per order),
    // min-support cut BEFORE rule expansion; item supports and the
    // basket total broadcast into the rule join. ----
    "w18_assoc_rules" -> ((s, dir) =>
      Analytics.associationRules(t(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minPairSupport = 3)),

    // ---- training-data ops: next-event-prediction dataset — per user
    // stream, (last-3-event-types context, next event) supervised
    // pairs: the sequence-model training extract. Three lags over ONE
    // window ordering (one shuffle, Spark reuses the sorted child).
    // Bot-user bound: unlike a collect_list, the window operator
    // buffers partition rows in a SPILLABLE row array and the lag
    // frame holds only 3 rows, so a 10^7-event key costs one skewed
    // (disk-backed) task, never an executor OOM — no cap needed here;
    // the array-materializing funnel cascade carries the explicit
    // maxEventsPerUser cap instead (Analytics.funnelStageTimes). ----
    "t_next_event" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("c1", lag(col("event_type"), 3).over(w))
        .withColumn("c2", lag(col("event_type"), 2).over(w))
        .withColumn("c3", lag(col("event_type"), 1).over(w))
        .filter(col("c1").isNotNull)
        .select(col("event_id"), col("user_id"),
          concat_ws(" ", col("c1"), col("c2"), col("c3")).as("context"),
          col("event_type").as("label"))
    }),

    // ---- W15: event-type transition matrix (first-order Markov) —
    // per ordered user stream, count prev→next transitions and their
    // per-source probabilities (the Sankey/flow analysis behind every
    // "where do users go next"); one lag window + one hash agg. ----
    "w15_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val steps = t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      val counts = steps.groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val tot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("prev"))
      counts.withColumn("p",
          round(col("n").cast("double") / sum(col("n")).over(tot), 6))
        .select(col("prev"), col("next"), col("n"), col("p"))
    }),

    // ---- W14: funnel latency — time-to-stage percentiles over
    // CONVERTING users (exact interpolated percentile of the exact
    // double-epoch stage gaps; the "how long does conversion take"
    // companion to w11's "how many"). Same one-shuffle cascade, one
    // tiny global agg. ----
    "w14_funnel_latency" -> ((s, dir) => {
      val st = Analytics.funnelStageTimes(t(s, dir, "events"), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      st.filter(col("t3").isNotNull)
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(t2 - t1, 0.5)"), 6).as("p50_click_secs"),
          round(expr("percentile(t2 - t1, 0.9)"), 6).as("p90_click_secs"),
          round(expr("percentile(t3 - t1, 0.5)"), 6).as("p50_convert_secs"),
          round(expr("percentile(t3 - t1, 0.9)"), 6).as("p90_convert_secs"))
    }),

    // ---- W13: CONVERSION-WINDOW funnel — same cascade as w11 but
    // stages 2..n must land within 24h of the stage-1 anchor (the
    // "converted within N hours" product metric); same one-shuffle
    // plan, the window is a per-element filter bound. ----
    "w13_funnel_windowed" -> ((s, dir) =>
      Analytics.funnel(t(s, dir, "events"), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"),
        horizonSeconds = Some(86400L))),

    // ---- streaming: key-only exact dedup (dropDuplicatesWithinWatermark),
    // AvailableNow == batch distinct. The staged input holds EVERY event
    // twice, so the oracle row is non-vacuous: the stream must undo a
    // real duplication (event_id is unique in the source, so the answer
    // is the original table). ----
    "s_stream_dedup" -> ((s, dir) => {
      val in = stagedDupEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sd")
        val e = t(s, dir, "events")
        e.union(e).write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_sd_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in)
      runDrain(
        graft.streaming.EventStreams.dedupStream(stream, Seq("event_id"))
          .select("event_id", "user_id", "event_type"),
        queryName = s"sd_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
    }),

    // ---- streaming: INCREMENTAL near-dup detection — documents arrive
    // over several micro-batches (maxFilesPerTrigger=2 over a 6-file
    // staging), every LSH band-bucket accumulates members in state and
    // emits candidate pairs as later members arrive; candidates are
    // then batch-verified with exact jaccard (the shared stagedVerify).
    // A full replay must land exactly on the batch t_minhash_lsh
    // answer — same oracle. ----
    "s_stream_neardup" -> ((s, dir) => {
      val in = stagedDocsStreamDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_snd")
        t(s, dir, "documents").repartition(6)
          .write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_snd_ck")
      val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "n_chars BIGINT")
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "2").parquet(in)
      val cands = graft.streaming.EventStreams.nearDupCandidatesStream(
        stream, "doc_id", "text", shingleN = 3, numHashes = 32, bands = 16)
      val out = runDrain(cands.toDF(),
        queryName = s"snd_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt")
      Dedup.verifyCandidatePairs(out.dropDuplicates("id1", "id2"),
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        shingleN = 3)
    }),

    // ---- §2.3/§4 bucketed 3-table ZERO-EXCHANGE assembly (r3 verdict
    // #4): the reference's daily longitudinal join spine — every
    // pipeline equi-joins on the encounter key
    // (/root/reference/code/RCLIF_demographics.Rmd:154,
    // code/RCLIF_medications.Rmd:62-63) — re-expressed on the events
    // table with user_id as the entity key. Co-location is paid ONCE at
    // write time (user_id-bucketed + sorted catalog tables, staged per
    // (JVM, sf dir)); the 3-way join AND the per-user rollup then reuse
    // the bucketing — no shuffle of the fact side, ever
    // (BucketedAssemblySpec pins zero Exchange with broadcast off). ----
    "j_bucketed_3way" -> ((s, dir) => {
      val names = stagedBucketedTables.getOrElseUpdate(dir, {
        val sfx = s"s${tableNameSeq.incrementAndGet()}"
        val base = tempDir("graft_bucketed")
        val ev = t(s, dir, "events")
        val parts: Seq[(String, DataFrame)] = Seq(
          s"graft_ev_fact_$sfx" ->
            ev.select("user_id", "event_id", "value"),
          s"graft_ev_clicks_$sfx" ->
            ev.filter(col("event_type") === "click").groupBy("user_id")
              .agg(count(lit(1)).cast("long").as("n_click")),
          s"graft_ev_views_$sfx" ->
            ev.filter(col("event_type") === "view").groupBy("user_id")
              .agg(moneySum(col("value")).as("view_value")))
        parts.foreach { case (name, df) =>
          Scale.writeBucketed(df, name, Seq("user_id"), buckets = 8,
            sortCols = Seq("user_id"), path = Some(s"$base/$name"))
        }
        parts.map(_._1)
      })
      val Seq(factT, clickT, viewT) = names
      s.table(factT)
        .join(s.table(clickT), Seq("user_id"))
        .join(s.table(viewT), Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          max(col("n_click")).cast("long").as("n_click"),
          max(col("view_value")).as("view_value"))
    }),

    // ---- streaming + batch: the TWO-TIER dedup composition (r3
    // verdict #6) — the end-to-end proof of the contract documented on
    // EventStreams.dedupStream: the stream tier drops duplicate keys
    // within the watermark horizon with BOUNDED state; a duplicate
    // arriving beyond the horizon (its key's state already evicted)
    // passes through and is the BATCH tier's job. Staged input: batch 1
    // = the full events corpus; batch 2 (later mod-time, forced into
    // its own micro-batch via maxFilesPerTrigger) = re-arrivals of the
    // 200 earliest events with a new event time 1h past the corpus max
    // — by then the watermark (max - 2h) has evicted their keys' state
    // (30-day corpus span >> 4h eviction horizon), so the stream
    // genuinely emits duplicates (TwoTierDedupSpec asserts residue > 0)
    // and the batch keep-first produces the exact answer. ----
    "s_two_tier_dedup" -> ((s, dir) =>
      // batch tier: exact keep-one on the key catches the beyond-horizon
      // residue (the re-arrival is content-identical in these columns,
      // so any representative is THE row)
      twoTierStreamTier(s, dir).dropDuplicates("event_id")),

    // ---- streaming: STATEFUL sessionization (mapGroupsWithState) —
    // the streaming twin of w4_sessionize, previously pass-unit only.
    // Output = each user's LAST session (start, end, n_events) on
    // SECOND-truncated event time (the state fold works in epoch
    // seconds). The memory sink accumulates one update per (user,
    // trigger); updates are monotone in (end, n), so the keep-last
    // window reduces multi-trigger runs to the same final answer as
    // the single-trigger run — and the DuckDB oracle recomputes the
    // whole thing as a gaps-and-islands window query. ----
    "s_stream_sessionize" -> ((s, dir) => {
      val in = stagedEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sw")
        t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_ss_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in)
      val updates = runDrain(
        graft.streaming.EventStreams.sessionize(stream, gapSeconds = 1800)
          .toDF(),
        queryName = s"ss_${System.nanoTime()}", checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("session_end").desc, col("n_events").desc,
          col("session_start").desc)
      updates.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }),

    // ---- streaming: LATE-DATA sessionization — the whole events
    // corpus replayed through maxFilesPerTrigger=1 as day-range chunks
    // staged OUT of event-time order (batch 1 = days 22+, batch 2 =
    // days 1-7, ...), the arrival pattern of a backfill whose file
    // listing isn't time-sorted. sessionizeRetained buffers each
    // user's events inside the watermark horizon and appends each
    // session exactly once when the watermark seals it; a far-future
    // sentinel row (its own user) staged last flushes the tail. The
    // oracle recomputes ALL sessions as batch gaps-and-islands — every
    // session must come out exact despite the disorder. ----
    // ---- streaming EWMA — the stateful recurrence replayed as FOUR
    // in-order time-range micro-batches (maxFilesPerTrigger=1): state
    // is ONE scale-6 unscaled long per user, carried across triggers,
    // and the full replay reproduces the batch decimal recurrence
    // bit-for-bit (the oracle IS w16's recursive CTE). O(keys) state
    // forever — no watermark needed for boundedness. ----
    "s_stream_ewma" -> ((s, dir) => {
      val tmp = tempDir("graft_sewma")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      // IN event-time order — the recurrence's ordering contract
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_sewma_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.ewmaStream(stream, alpha = 0.3)
          .toDF(),
        queryName = s"sewma_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // ---- streaming CUSUM — the online drift detector on the same
    // chassis: four in-order time-range micro-batches, ONE scale-6
    // long of state per user, alarm raised in the micro-batch where
    // the threshold is crossed; the full replay reproduces the batch
    // decimal recurrence bit-for-bit (the oracle IS w20's recursive
    // CTE). ----
    "s_stream_cusum" -> ((s, dir) => {
      val tmp = tempDir("graft_scusum")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      // IN event-time order — the recurrence's ordering contract
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_scusum_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.cusumStream(stream,
          target = 50.0, slack = 10.0, threshold = 300.0).toDF(),
        queryName = s"scusum_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // ---- streaming funnel — per-user stage reaches emitted the
    // moment they happen (the greedy cascade is naturally online);
    // O(stages) booleans of state per user; the sink aggregated to
    // w11's exact roll-up shape (oracle IS w11's). ----
    "s_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      val tmp = tempDir("graft_sfun")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_sfun_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      val sink = runDrain(
        graft.streaming.EventStreams.funnelStream(stream,
          Seq("view", "click", "purchase")).toDF(),
        queryName = s"sfun_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      val stagesDf = Seq((1, "view"), (2, "click"), (3, "purchase"))
        .toDF("stage_idx", "stage")
      val counts = sink.groupBy(col("stage_idx"))
        .agg(countDistinct(col("user_id")).as("__u"))
      val c1 = counts.filter(col("stage_idx") === 1)
        .select(col("__u").as("__c1"))
      stagesDf
        .join(counts, Seq("stage_idx"), "left")
        .crossJoin(broadcast(c1))
        .select(col("stage_idx").cast("int").as("stage_idx"),
          col("stage"),
          coalesce(col("__u"), lit(0L)).cast("long").as("users"),
          when(col("__c1") > 0,
            round(coalesce(col("__u"), lit(0L)).cast("double") /
              col("__c1"), 6)).as("conversion"))
    }),

    // ---- streaming rolling z-score — anomalies flagged in their own
    // micro-batch against a bounded per-key ring (lookback scale-6
    // longs + squares); chunked in-order replay bit-equal to the
    // batch op (oracle IS w28's SQL). ----
    "s_stream_zscore" -> ((s, dir) => {
      val tmp = tempDir("graft_szs")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      // IN event-time order — the recurrence's ordering contract
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_szs_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.zscoreStream(stream,
          lookback = 10, zThreshold = 3.0, minObs = 4).toDF(),
        queryName = s"szs_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // ---- streaming rolling median/MAD anomaly — frame ring of 25
    // scale-6 longs per user, INTEGER arithmetic end to end; chunked
    // in-order replay bit-equal to the batch window (oracle IS
    // w31's). ----
    "s_stream_mad" -> ((s, dir) => {
      val tmp = tempDir("graft_smad")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      // IN event-time order — the recurrence's ordering contract
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_smad_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.madStream(stream,
          lookback = 25, k = 3).toDF(),
        queryName = s"smad_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // ---- streaming Holt trend — the live "expected next value" feed;
    // TWO scale-6 longs of state per user, chunked in-order replay
    // bit-equal to the batch recurrence (oracle IS w27's recursive
    // CTE). ----
    "s_stream_holt" -> ((s, dir) => {
      val tmp = tempDir("graft_sholt")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      // IN event-time order — the recurrence's ordering contract
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_sholt_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.holtStream(stream,
          alpha = 0.5, beta = 0.3).toDF(),
        queryName = s"sholt_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // ---- streaming token-bucket rate limiter — the op that BELONGS
    // online: admit/shed decided in the event's own micro-batch, one
    // scale-6 long of state per user; chunked in-order replay is
    // bit-equal to the batch audit (oracle IS w26's recursive CTE). ----
    "s_stream_rate" -> ((s, dir) => {
      val tmp = tempDir("graft_srate")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      // IN event-time order — the recurrence's ordering contract
      Seq((1, 8), (8, 15), (15, 22), (22, 32)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      val ckpt = ckptDir("graft_srate_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.rateLimitStream(stream,
          capacity = 2, refillPerSec = 0.0001).toDF(),
        queryName = s"srate_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    "s_stream_sessionize_ooo" -> ((s, dir) => {
      val tmp = tempDir("graft_sso")
      val in = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = t(s, dir, "events")
      def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
        val chunk = s"$tmp/chunk$seq"
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        val part = new java.io.File(chunk).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dest = java.nio.file.Paths.get(in, s"f$seq.parquet")
        java.nio.file.Files.copy(part.toPath, dest)
        // the file source processes oldest-mtime first: pin the order
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
            seq * 10000L))
        ()
      }
      Seq((22, 32), (1, 8), (15, 22), (8, 15)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(ev.filter(dayofmonth(col("ts")) >= lo &&
            dayofmonth(col("ts")) < hi), i)
      }
      // ONE drain batch suffices here (timeout-based drain — the
      // trailing no-data batch fires the timeouts; stageDrainBatches
      // scaladoc): the sentinel flushes every real user's tail, while
      // its OWN never-sealed session stays in state and never emits,
      // so no sink-side filter is needed
      graft.streaming.EventStreams.stageDrainBatches(in,
        Seq(ev.sparkSession.range(1)
          .select(lit(-1L).as("event_id"),
            lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")).as("ts"),
            lit(-1L).as("user_id"), lit("flush").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))))
      val ckpt = ckptDir("graft_sso_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in,
        options = Map("maxFilesPerTrigger" -> "1"))
      runDrain(
        graft.streaming.EventStreams.sessionizeRetained(stream,
          gapSeconds = 1800, watermarkDelay = "40 days").toDF(),
        queryName = s"sso_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // ---- streaming: stream–STATIC broadcast enrichment — each event
    // micro-batch joined to a batch dimension (stateless, no
    // watermark; the streaming analog of the j1 star join). The agg
    // over the enriched stream must equal the batch join+agg. ----
    "s_stream_enrich" -> ((s, dir) => {
      val in = stagedEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sw")
        t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_se_ck")
      val stream = graft.streaming.EventStreams.readStream(s, in)
        .withColumn("nk", pmod(col("user_id"), lit(25)).cast("int"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))
      val enriched = graft.streaming.EventStreams
        .enrichStream(stream, dim, Seq("nk"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      runDrain(
        enriched, queryName = s"se_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // ---- streaming: watermarked STREAM-STREAM interval join — each
    // purchase joined to the same user's clicks in the preceding hour
    // (attribution). The range condition + watermarks bound both
    // sides' state; AvailableNow inner join == the batch interval
    // join, which is exactly what the oracle computes. ----
    "s_stream_join" -> ((s, dir) => {
      val in = stagedEventsDir.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_sw")
        t(s, dir, "events").write.mode("overwrite").parquet(s"$tmp/in")
        s"$tmp/in"
      })
      val ckpt = ckptDir("graft_sj_ck")
      val clicks = graft.streaming.EventStreams.readStream(s, in)
        .filter(col("event_type") === "click")
      val purchases = graft.streaming.EventStreams.readStream(s, in)
        .filter(col("event_type") === "purchase")
      val joined = graft.streaming.EventStreams
        .intervalJoinStreams(clicks, purchases, "user_id", "ts",
          within = "1 HOUR", watermark = "2 hours")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"),
          col("l.user_id").as("user_id"))
      runDrain(
        joined, queryName = s"sj_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt")
    }),

    // ---- streaming: LEFT OUTER stream-stream interval join — clicks
    // with their within-1h purchase, or null if none; unmatched lefts
    // emit only when the watermark proves no match can arrive, so the
    // staging appends a far-future sentinel pair (filtered from the
    // output) to flush the tail. Oracle == the batch LEFT JOIN. ----
    "s_stream_join_outer" -> ((s, dir) => {
      val in = stageOuterEvents(s, dir)
      val ckpt = ckptDir("graft_sjo_ck")
      val opts = Map("maxFilesPerTrigger" -> "1")
      val clicks = graft.streaming.EventStreams
        .readStream(s, in, options = opts)
        .filter(col("event_type") === "click")
      val purchases = graft.streaming.EventStreams
        .readStream(s, in, options = opts)
        .filter(col("event_type") === "purchase")
      val joined = graft.streaming.EventStreams
        .intervalJoinStreamsOuter(clicks, purchases, "user_id", "ts",
          within = "1 HOUR", watermark = "2 hours")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"),
          col("l.user_id").as("user_id"))
      // drainTail = the batch-side sentinel filter (a plan-side filter
      // would freeze the watermark — the pin lives in its scaladoc)
      graft.streaming.EventStreams.drainTail(
        runDrain(
          joined, queryName = s"sjo_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt"),
        col("click_id") < 0)
    }),

    // ---- streaming: FULL OUTER stream-stream interval join — the
    // join matrix's last cell (inner s_stream_join, left outer
    // s_stream_join_outer): clicks with their within-1h purchase,
    // PLUS unmatched rows from BOTH sides once the watermark proves
    // no partner can arrive. Same sentinel-pair staging (each batch
    // carries one click + one purchase, so both inputs' watermarks
    // advance together); the drain filter removes sentinel rows from
    // either side null-safely. Oracle == the batch FULL JOIN. ----
    "s_stream_join_full" -> ((s, dir) => {
      val in = stageOuterEvents(s, dir)
      val ckpt = ckptDir("graft_sjf_ck")
      val opts = Map("maxFilesPerTrigger" -> "1")
      val clicks = graft.streaming.EventStreams
        .readStream(s, in, options = opts)
        .filter(col("event_type") === "click")
      val purchases = graft.streaming.EventStreams
        .readStream(s, in, options = opts)
        .filter(col("event_type") === "purchase")
      val joined = graft.streaming.EventStreams
        .intervalJoinStreamsFull(clicks, purchases, "user_id", "ts",
          within = "1 HOUR", watermark = "2 hours")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"),
          coalesce(col("l.user_id"), col("r.user_id")).as("user_id"))
      // either side's sentinel id marks a drain row; the predicate is
      // null on half-open rows and drainTail keeps those (null-safe)
      graft.streaming.EventStreams.drainTail(
        runDrain(
          joined, queryName = s"sjf_${System.nanoTime()}",
          checkpoint = s"$ckpt/ckpt"),
        col("click_id") < 0 || col("purchase_id") < 0)
    }),

    // ---- §2.1 JSONL sink + scan roundtrip — one JSON object per line,
    // THE interchange format of LLM corpus pipelines; the read binds an
    // explicit schema (no inference scan) and the agg must reproduce
    // the source exactly, proving the sink/scan loses nothing. ----
    "s2_jsonl_roundtrip" -> ((s, dir) => {
      val tmp = tempDir("graft_jsonl") + "/out"
      t(s, dir, "documents").select("doc_id", "lang", "text")
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id bigint, lang string, text string").json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("long").as("chars"))
    }),

    // ---- §2.1 XML sink + scan roundtrip (Spark 4's NATIVE xml
    // source — the remaining interchange format in the source matrix;
    // rowTag-scoped records, schema bound on read like the JSONL
    // twin, and the agg must reproduce the source exactly). ----
    "s12_xml_roundtrip" -> ((s, dir) => {
      val tmp = tempDir("graft_xml") + "/out"
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").option("rowTag", "doc")
        .format("xml").save(tmp)
      s.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("rowTag", "doc").format("xml").load(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),

    // ---- S13: keyed snapshot diff — classify every order key across
    // two deterministic table versions (v1 drops keys ≡3 mod 10, v2
    // drops ≡7, mutates totalprice on ≡0 mod 5 and status on ≡0 mod
    // 11) as added/removed/changed, with the differing columns and
    // both versions' values: the change-data-feed audit from plain
    // snapshots. ONE full-outer sort-merge join on the key. ----
    "s13_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val v2 = o.filter(col("o_orderkey") % 10 =!= 7)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.5)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Merge.snapshotDiff(v1, v2, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"))
        .filter(col("change") =!= "unchanged")
    }),

    // ---- S14: SCD TYPE 2 upsert — history-keeping merge: changed
    // keys close their current version (valid_to stamped) and open a
    // new one; unchanged keys are no-ops; new keys insert open. Table
    // partitioned by stable key-hash buckets, so the batch touches
    // only its keys' buckets. Initial load at t0, one update batch at
    // t1 (same deterministic mutations as s13). ----
    "s14_scd2" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val t0 = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      val t1 = lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      val base = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), t0.as("ts"))
      val updates = o.select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.5)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        t1.as("ts"))
      val path = tempDir("graft_scd2") + "/t"
      Merge.scd2Upsert(s, path, base, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"), "ts")
      Merge.scd2Upsert(s, path, updates, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"), "ts")
      s.read.parquet(path).select("o_orderkey", "o_orderstatus",
        "o_totalprice", "valid_from", "valid_to", "is_current")
    }),

    // ---- §2.1 ORC sink + scan roundtrip (the columnar alternative —
    // same predicate-pushdown/pruning properties as parquet) ----
    "s3_orc_roundtrip" -> ((s, dir) => {
      val tmp = tempDir("graft_orc") + "/out"
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_extendedprice")).as("sum_price"))
    }),

    // ---- §2.1 schema-EVOLUTION scan: two parquet batches written
    // with different schemas (a column added mid-corpus — the normal
    // life of a long-lived 100 TB dataset), read back as ONE table via
    // mergeSchema; rows from the old batch surface the new column as
    // null. The agg proves both the union semantics and the null
    // backfill against the source-of-truth oracle. ----
    "s4_schema_evolution" -> ((s, dir) => {
      val tmp = tempDir("graft_schevo") + "/out"
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$tmp/b1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/b2")
      s.read.option("mergeSchema", true).parquet(s"$tmp/b1", s"$tmp/b2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_evolved"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars"))
    }),

    // ---- §2.1 malformed-input handling: PERMISSIVE JSONL scan with a
    // corrupt-record column. At corpus scale some fraction of any
    // JSONL feed is garbage; the engine must keep the good rows,
    // quarantine the bad lines VERBATIM for triage, and never abort
    // the scan. Every doc_id % 3 == 0 line is written truncated; the
    // agg proves corrupt lines land in _corrupt_record (null fields,
    // null group) and valid lines parse untouched. ----
    "s5_jsonl_corrupt" -> ((s, dir) => {
      val tmp = tempDir("graft_jsonl_bad") + "/out"
      t(s, dir, "documents")
        .select(when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": ")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"))))
          .as("value"))
        .write.mode("overwrite").text(tmp)
      s.read
        .schema("doc_id bigint, lang string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(col("_corrupt_record")).as("n_corrupt"),
          count(col("doc_id")).as("n_good"))
    }),

    // ---- §2.1 S2 native xlsx scan: the nation dim rendered as a real
    // Excel workbook (XlsxSource.writeXlsx — ZIP+OOXML, the shape
    // read_excel consumes), then ingested back through the pure-JDK
    // reader and aggregated. Proves a user can point the engine at a
    // workbook with NO out-of-band conversion step — the reference's
    // vocab-sheet ingestion path (code/RCLIF_labs.Rmd:38), previously
    // pass-unit only. ----
    // ---- S15: fixed-width (mainframe-extract) scan — customer
    // rendered as a 59-byte fixed layout, read back via the pure
    // substring/trim/cast projection (one codegen'd pass, no UDF),
    // aggregated per segment with exact decimal sums. The oracle
    // aggregates the parquet originals: the roundtrip must be
    // value-lossless. ----
    "s15_fixed_width" -> ((s, dir) => {
      import graft.sources.FixedWidth
      val path = stagedFixedWidth.getOrElseUpdate(dir, {
        val out = tempDir("graft_fw") + "/data"
        FixedWidth.write(
          t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal").cast("double"),
            col("c_mktsegment")),
          Seq("%09d", "%-25s", "%03d", "%12.2f", "%-10s"), out)
        out
      })
      FixedWidth.read(s, path, Seq(
          FixedWidth.FwCol("c_custkey", 1, 9, "bigint"),
          FixedWidth.FwCol("c_name", 10, 25),
          FixedWidth.FwCol("c_nationkey", 35, 3, "int"),
          FixedWidth.FwCol("c_acctbal", 38, 12, "double"),
          FixedWidth.FwCol("c_mktsegment", 50, 10)))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_bal"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
    }),

    // ---- §crawl S16: WARC/WET record scan — the Common Crawl
    // container ([[graft.sources.WarcSource]]): fixture staged from
    // documents (response + conversion records + a truncated tail),
    // read back through the streaming per-file parser; header fields,
    // payload bytes (md5), and the quarantine row all hash-oracled. ----
    "s16_warc_scan" -> ((s, dir) =>
      graft.sources.WarcSource.readRecords(s, warcFixture(s, dir))
        .select(col("rec_index"), col("warc_type"), col("target_uri"),
          col("content_type"), col("content_length"),
          md5(col("payload")).as("payload_md5"),
          col("malformed"), col("error"))),

    // ---- streaming: WARC drop-directory ingest — the production
    // crawl shape (waves land as files; the AvailableNow drain folds
    // each exactly once through the checkpoint file log). Two staged
    // waves: the s16 fixture (response/conversion/truncated) and a
    // second conversion shard; per-type record counts, byte totals
    // and the quarantine count all replayed by the oracle. ----
    "s_stream_warc" -> ((s, dir) => {
      import graft.sources.WarcSource
      val in = stagedWarcStream.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_swarc")
        val streamDir = s"$tmp/in"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(streamDir))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(warcFixture(s, dir)),
          java.nio.file.Paths.get(streamDir, "wave1.warc"))
        val rows = t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull &&
            col("doc_id") % 5 === 1)
          .select(col("doc_id"), col("text"))
          .orderBy("doc_id").collect()
        val recs = rows.toSeq.zipWithIndex.map { case (r, j) =>
          WarcSource.record(Seq(
            "WARC-Type" -> "conversion",
            "WARC-Record-ID" -> s"<urn:graft:w2:$j>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "WARC-Target-URI" ->
              s"https://fixture.test/doc/${r.getLong(0)}",
            "Content-Type" -> "text/plain"),
            r.getString(1).getBytes("UTF-8"))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(streamDir, "wave2.warc"),
          WarcSource.writeWarc(recs))
        streamDir
      })
      val ckpt = ckptDir("graft_swarc_ck")
      val agg = WarcSource.readRecordsStream(s, in).toDF()
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("content_length")).as("sum_len"),
          sum(when(col("malformed"), 1L).otherwise(0L))
            .as("n_malformed"))
      runDrain(agg, queryName = s"swc_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // ---- streaming: the FULL curate mile over crawl waves — WARC
    // drop-directory stream → HTTP message decode (chunked/gzip/
    // deflate bodies + 3xx statuses, the SAME withHttpMessage
    // mapPartitions, narrow and streaming-safe) → stripHtml → per-
    // (status, content-encoding) corpus stats. Two staged waves: the
    // coded-bodies fixture and the redirect fixture. Proves the
    // production first mile runs INCREMENTALLY end-to-end, not just
    // record counting (s_stream_warc). ----
    "s_stream_warc_curate" -> ((s, dir) => {
      import graft.sources.WarcSource
      import graft.text.HtmlOps
      val in = stagedWarcCurateStream.getOrElseUpdate(dir, {
        val tmp = tempDir("graft_swcu")
        val streamDir = s"$tmp/in"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(streamDir))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(warcHttpFixture(s, dir)),
          java.nio.file.Paths.get(streamDir, "wave1.warc"))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(warcRedirFixture(s, dir)),
          java.nio.file.Paths.get(streamDir, "wave2.warc"))
        streamDir
      })
      val ckpt = ckptDir("graft_swcu_ck")
      val decoded = WarcSource.withHttpMessage(
        WarcSource.readRecordsStream(s, in).toDF()
          .filter(col("warc_type") === "response" &&
            !col("malformed")))
      val agg = decoded
        .select(col("http_status"),
          coalesce(col("http_content_encoding"), lit("identity"))
            .as("ce"),
          length(HtmlOps.stripHtml(
            WarcSource.payloadText(col("http_body"))))
            .cast("long").as("n_chars"))
        .groupBy(col("http_status"), col("ce"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      runDrain(agg, queryName = s"swcu_${System.nanoTime()}",
        checkpoint = s"$ckpt/ckpt",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // ---- §crawl S17: WET sink + scan roundtrip — the write half of
    // WarcSource: documents exported once per dir as gzip'd WET
    // conversion shards (one file per partition), read back through
    // the same parser. The sink must be LOSSLESS, so the oracle needs
    // no replay — the source table IS the expectation. ----
    "s17_wet_roundtrip" -> ((s, dir) => {
      import graft.sources.WarcSource
      val path = stagedWet.getOrElseUpdate(dir, {
        val out = tempDir("graft_wet_q")
        WarcSource.writeWet(
          t(s, dir, "documents")
            .filter(col("doc_id").isNotNull && col("text").isNotNull)
            .select(concat(lit("https://fixture.test/doc/"),
              col("doc_id")).as("uri"), col("text")),
          "uri", "text", out, warcDate = "2026-01-01T00:00:00Z",
          gzip = true)
        out
      })
      WarcSource.readRecords(s, path + "/*")
        .select(col("target_uri"),
          WarcSource.payloadText(col("payload")).as("text"),
          col("content_length"))
    }),

    // ---- §crawl S18: CDX(J) crawl-index scan — the ~1%-sized
    // sorted index crawl consumers filter INSTEAD of scanning WARC
    // bytes (graft.sources.CdxSource.readCdxj): one bounded 3-way
    // split + ONE from_json per line (the house one-parse rule);
    // the staged junk line quarantines and is excluded here.
    // Offsets/lengths are gzip-byte facts DuckDB cannot re-derive —
    // t_cdx_fetch proves them by round-trip instead. ----
    "s18_cdx_scan" -> ((s, dir) =>
      graft.sources.CdxSource.readCdxj(s, cdxFixture(s, dir))
        .filter(!col("malformed"))
        .select(col("surt_key"), col("fetch_ts"), col("url"),
          col("mime"), col("status"), col("digest"))),

    // ---- crawl index: SURT key generation (UrlOps.surtKey) — the
    // sort-friendly reversed-host key CDX indexes range-scan on
    // ("all of example.com" = one contiguous key range). Six URL
    // shapes per doc: www+mixed-case+query, default port, kept
    // non-default port, userinfo+fragment, empty path, deep host +
    // bare `?`. The oracle writes each shape's key directly from
    // the construction — independent expectation. ----
    "t_surt" -> ((s, dir) => {
      import graft.text.UrlOps
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      val idS = col("doc_id").cast("string")
      val m = pmod(col("doc_id"), lit(6))
      val url = when(m === 0, concat(lit("https://WWW.Example.COM/p"),
          idS, lit("?Q="), idS))
        .when(m === 1,
          concat(lit("http://h"), idS, lit(".example.com:80/a")))
        .when(m === 2, concat(lit("https://example.com:8443/x"), idS))
        .when(m === 3, concat(lit("https://user:pw@example.com/u"),
          idS, lit("#frag")))
        .when(m === 4, lit("https://example.com"))
        .otherwise(concat(lit("https://A.B.example.co.uk/d"), idS,
          lit("?")))
      d.select(col("doc_id"), url.as("url"),
        UrlOps.surtKey(url).as("surt_key"))
    }),

    // ---- crawl index: pointed record fetch — the access pattern
    // that makes 100 TB of WARC usable: filter the INDEX (status
    // 200, text/html), then read ONLY the selected byte ranges
    // (CdxSource.readRecordsAt — shuffle-free, per-task I/O is
    // O(selected bytes), handle reuse via within-partition (file,
    // offset) ordering). Hash-green means the staged index's
    // offsets round-trip to exactly the right documents. ----
    "t_cdx_fetch" -> ((s, dir) => {
      import graft.sources.{CdxSource, WarcSource}
      val idx = CdxSource.readCdxj(s, cdxFixture(s, dir))
        .filter(!col("malformed") && col("status") === 200 &&
          col("mime") === "text/html")
      CdxSource.readRecordsAt(s,
          idx.select("warc_file", "warc_offset", "warc_length"))
        .filter(!col("malformed"))
        .select(col("target_uri").as("url"),
          WarcSource.payloadText(col("payload")).as("text"))
    }),

    // ---- crawl dedup: revisit-record resolution — the ARCHIVE-side
    // dedup real WARC collections ship (ISO 28500 §6.7): a re-fetch
    // whose payload matched an earlier capture is stored as a
    // `revisit` record carrying the matched digest + the original's
    // URI instead of the bytes. Resolving revisits back to their
    // originals (broadcast digest join — originals are the small
    // deduped side by construction) rebuilds the duplicate map
    // without touching payload bytes. ----
    "t_revisit_resolve" -> ((s, dir) => {
      import graft.sources.WarcSource
      val recs = WarcSource
        .readRecords(s, warcRevisitFixture(s, dir))
        .filter(!col("malformed"))
      val originals = recs.filter(col("warc_type") === "response")
        .select(col("payload_digest").as("digest"),
          col("target_uri").as("canonical_uri"))
      val revisits = recs.filter(col("warc_type") === "revisit")
        .select(col("target_uri").as("dup_uri"),
          col("payload_digest"), col("refers_to_uri"))
      revisits.join(broadcast(originals),
          col("payload_digest") === col("digest"), "left")
        .select(col("dup_uri"), col("canonical_uri"),
          (col("refers_to_uri") === col("canonical_uri"))
            .as("refers_match"),
          col("payload_digest").as("digest"))
    }),

    // ---- crawl dedup: canonical-URL collapse — mirror/parameter
    // duplicates of the same content declare ONE `<link
    // rel="canonical">` target; keying on it (resolved against the
    // page URL — relative canonicals are routine, both attribute
    // orders occur) collapses them with zero content comparison.
    // Four staged shapes per doc: rel-first absolute, href-first
    // absolute (MERGES with shape 0 across mirror hosts), RELATIVE
    // canonical (resolves to the page's own host — the resolution
    // is load-bearing), and no canonical (self-key fallback). One
    // hash-agg exchange; the oracle replays the construction. ----
    "t_canonical" -> ((s, dir) => {
      import graft.text.{HtmlOps, UrlOps}
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      val idS = col("doc_id").cast("string")
      val g = pmod(col("doc_id"), lit(50)).cast("string")
      val v = pmod(col("doc_id"), lit(4))
      val url =
        concat(lit("https://m"), v, lit(".example.com/page/"), idS)
      val tag = when(v === 0, concat(
          lit("<link rel=\"canonical\" href=\"https://example.com/canon/"),
          g, lit("\">")))
        .when(v === 1, concat(
          lit("<link href=\"https://example.com/canon/"), g,
          lit("\" rel=\"canonical\">")))
        .when(v === 2,
          concat(lit("<link rel=\"canonical\" href=\"/canon/"), g,
            lit("\">")))
        .otherwise(lit(""))
      val p = d.select(url.as("url"),
        concat(lit("<html><head><title>t</title>"), tag,
          lit("</head><body><p>body</p></body></html>")).as("html"))
      val href = HtmlOps.canonicalHref(col("html"))
      p.withColumn("canon_url",
          when(href === "", col("url"))
            .otherwise(UrlOps.resolveUrl(col("url"), href)))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_pages"), min("url").as("first_url"))
    }),

    // ---- crawl curation: HTML → text extraction
    // ([[graft.text.HtmlOps]]) — four page shapes built per doc
    // (full template page / entity-heavy / messy-whitespace +
    // swallowed script / markup-free), stripped and density-filtered;
    // the oracle replays the IDENTICAL regex chain (generated from
    // HtmlOps.TagChain/Entities) in DuckDB. Two projections so the
    // interpreted mainText lambda reads the stripped ATTRIBUTE and
    // the strip chain evaluates once per row. ----
    "t_html_extract" -> ((s, dir) => {
      import graft.text.HtmlOps
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val m = pmod(col("doc_id"), lit(4))
      val html = when(m === 0,
          concat(lit(WarcPage._1), col("doc_id").cast("string"),
            lit(WarcPage._2), col("text"), lit(WarcPage._3)))
        .when(m === 1, concat(lit("<div>a &lt;x&gt; &amp;amp; "),
          col("text"), lit(" &quot;end&quot;</div><p>Done.</p>")))
        .when(m === 2, concat(lit("<script>hidden()</script><p>  "),
          col("text"),
          lit("  </p>\n\n<span>tiny</span><div>It ends here!</div>")))
        .otherwise(col("text"))
      d.select(col("doc_id"), HtmlOps.stripHtml(html).as("stripped"))
        .select(col("doc_id"), col("stripped"),
          HtmlOps.mainTextFromStripped(col("stripped")).as("main_text"))
    }),

    // ---- crawl discovery: sitemap ingestion (sitemaps.org) —
    // per-shard <urlset> documents BUILT from the corpus (sorted-
    // entry concat, so collect_list order is irrelevant), parsed
    // back through the native from_xml projection. The oracle writes
    // the EXPECTED rows directly from documents — an independent
    // expectation: the parse must be lossless, not replayed. ----
    "t_sitemap" -> ((s, dir) => {
      import graft.sources.Sitemaps
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val entry = concat(
        lit("<url><loc>https://fixture.test/doc/"), col("doc_id"),
        lit("</loc><lastmod>2026-0"), pmod(col("doc_id"), lit(9)) + 1,
        lit("-01</lastmod><changefreq>weekly</changefreq>" +
          "<priority>0."),
        pmod(col("doc_id"), lit(10)),
        lit("</priority></url>"))
      d.groupBy((col("doc_id") / 25).cast("long").as("shard"))
        .agg(concat(lit("<urlset>"),
          concat_ws("", sort_array(collect_list(entry))),
          lit("</urlset>")).as("xml"))
        .select(col("shard"),
          explode(Sitemaps.parseUrlset(col("xml"))).as("u"))
        .select(col("shard"), col("u.loc").as("loc"),
          col("u.lastmod").as("lastmod"),
          col("u.changefreq").as("changefreq"),
          col("u.priority").as("priority"))
    }),

    // ---- crawl politeness: robots.txt (RFC 9309) URL filtering —
    // the gate between link discovery and the fetch queue. Per-host
    // robots bodies parse DRIVER-SIDE (dim work) into a broadcast
    // rules dim with pre-translated match regexes; the frontier
    // filter is one broadcast join + a packed-priority max()
    // HashAggregate (len*2 + isAllow IS the RFC longest-match /
    // tie-to-Allow order). Oracle replays the match + priority walk
    // over the SAME rendered rules VALUES (shared translation). ----
    "t_robots_filter" -> ((s, dir) => {
      import graft.text.RobotsOps
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      val b = (col("doc_id") / lit(8)).cast("long").cast("string")
      val m = pmod(col("doc_id"), lit(8))
      val url = when(m === 0,
          concat(lit("https://alpha.example.com/private/doc"), b))
        .when(m === 1, lit("https://alpha.example.com/private/ok"))
        .when(m === 2,
          concat(lit("https://alpha.example.com/pub/x"), b,
            lit(".pdf")))
        .when(m === 3,
          concat(lit("https://site-b.co.uk/tmp"), b, lit("/f")))
        .when(m === 4, lit("https://site-b.co.uk/tmp"))
        .when(m === 5, concat(lit("https://blog.blogspot.com/x"), b))
        .when(m === 6, concat(lit("https://gamma.org/a/b/c"), b))
        .otherwise(concat(lit("https://gamma.org/a/x"), b))
      RobotsOps.robotsFilter(d.select(col("doc_id"), url.as("u")),
        "doc_id", col("u"),
        RobotsOps.robotsDim(s, RobotsFixture, "graftbot"))
    }),

    // ---- crawl curation capstone: WARC → HTTP body → main text →
    // token stats, one composed pipeline over the staged fixture's
    // response records (the RefinedWeb first mile). Each stage reads
    // the previous stage's ATTRIBUTE (three stacked projections, no
    // re-derivation of the interpreted trees). ----
    "t_warc_curate" -> ((s, dir) => {
      import graft.sources.WarcSource
      import graft.text.HtmlOps
      WarcSource.readRecords(s, warcFixture(s, dir))
        .filter(col("warc_type") === "response" && !col("malformed"))
        .select(col("target_uri"),
          HtmlOps.stripHtml(WarcSource.httpBody(
            WarcSource.payloadText(col("payload")))).as("stripped"))
        .select(col("target_uri"),
          HtmlOps.mainTextFromStripped(col("stripped")).as("main_text"))
        .select(col("target_uri"), col("main_text"),
          size(split(col("main_text"), "[ \n]")).cast("long")
            .as("n_tokens"))
        .withColumn("kept", col("n_tokens") >= 20)
    }),

    // ---- crawl curation: HTTP MESSAGE decode (chunked transfer +
    // gzip/deflate content codings) between the WARC record and the
    // HTML — WarcSource.withHttpMessage, the layer httpBody skips.
    // The fixture stages identity/gzip/chunked/chunked+gzip/deflate
    // response records per doc; the oracle rebuilds the PRE-ENCODE
    // page from documents, so a hash match proves the decode chain
    // lossless through every coding. One narrow mapPartitions; the
    // strip/density stages read attributes (no tree re-derivation). ----
    "t_warc_http" -> ((s, dir) => {
      import graft.sources.WarcSource
      import graft.text.HtmlOps
      WarcSource.withHttpMessage(
          WarcSource.readRecords(s, warcHttpFixture(s, dir))
            .filter(col("warc_type") === "response" &&
              !col("malformed")))
        .select(col("target_uri"), col("http_status"),
          coalesce(col("http_transfer_encoding"), lit("identity"))
            .as("te"),
          coalesce(col("http_content_encoding"), lit("identity"))
            .as("ce"),
          col("http_error"),
          HtmlOps.stripHtml(
            WarcSource.payloadText(col("http_body"))).as("stripped"))
        .select(col("target_uri"), col("http_status"), col("te"),
          col("ce"), col("http_error"),
          HtmlOps.mainTextFromStripped(col("stripped"))
            .as("main_text"))
    }),

    // ---- crawl graph: 3xx REDIRECT edges — the frontier update a
    // real crawl performs on every redirect response: http_location
    // (the Location header AS SENT, a URI-reference) resolved against
    // the fetched URI into the next fetch target, with the RFC 9110
    // permanence split (301/308 rewrite the frontier, 302/307 only
    // follow). All four Location shapes staged; oracle writes each
    // resolution directly from the construction. ----
    "t_redirects" -> ((s, dir) => {
      import graft.sources.WarcSource
      import graft.text.UrlOps
      WarcSource.withHttpMessage(
          WarcSource.readRecords(s, warcRedirFixture(s, dir))
            .filter(col("warc_type") === "response" &&
              !col("malformed")))
        .select(col("target_uri").as("from_url"), col("http_status"),
          col("http_location").as("location"),
          UrlOps.resolveUrl(col("target_uri"), col("http_location"))
            .as("to_url"))
        .withColumn("permanent",
          col("http_status").isin(301, 308))
    }),

    // ---- crawl curation: charset-declared payload decode — the CJK
    // crawl head (Shift_JIS / EUC-KR / GBK / Big5) through the native
    // DecodeCharset expression plus the latin-1/UTF-8 branches, off
    // the staged per-charset fixture. The oracle writes the expected
    // text LITERALLY from the shared CharsetSamples constant — decode
    // must invert the staged encode exactly. ----
    "t_charset_decode" -> ((s, dir) => {
      import graft.sources.WarcSource
      WarcSource.readRecords(s, warcCjkFixture(s, dir))
        .select(col("target_uri"),
          WarcSource.charsetOf(col("content_type")).as("charset"),
          WarcSource.payloadTextCs(col("payload"), col("content_type"))
            .as("text"),
          col("content_length"))
    }),

    // ---- crawl graph: RFC 3986 relative-URL resolution
    // (UrlOps.resolveUrl) — the full reference-shape sweep over per-
    // doc constructed (base, href) pairs: relative path, ../, root-
    // relative, query-only, fragment-only, protocol-relative, and
    // absolute-with-dots. Row-local, codegen'd (no lambdas); the
    // oracle writes each shape's resolution directly from the
    // construction — independent expectation, not a replay. ----
    "t_resolve_url" -> ((s, dir) => {
      import graft.text.UrlOps
      val d = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      val b = (col("doc_id") / lit(8)).cast("long").cast("string")
      val base = concat(lit("https://h"), pmod(col("doc_id"), lit(3)),
        lit(".example.com/a"), b, lit("/b/page.html?q=1"))
      val m = pmod(col("doc_id"), lit(8))
      val ref = when(m === 0, concat(lit("img"), b, lit(".png")))
        .when(m === 1, concat(lit("../up"), b))
        .when(m === 2, concat(lit("/root"), b, lit("?x=2")))
        .when(m === 3, lit("?only=q"))
        .when(m === 4, lit("#frag"))
        .when(m === 5, concat(lit("//cdn.example.org/lib"), b))
        .when(m === 6,
          concat(lit("https://abs.example.net/x"), b, lit("/../y")))
        .otherwise(concat(lit("./same/"), b))
      d.select(col("doc_id"), base.as("base"), ref.as("ref"))
        .withColumn("resolved",
          UrlOps.resolveUrl(col("base"), col("ref")))
    }),

    // ---- crawl graph: link edges from RELATIVE hrefs — the r19 gap
    // (absolute-only link graphs drop most real edges). Pages carry
    // one absolute, one protocol-relative, and four base-relative
    // links (plain, ../, root-relative, fragment-only); variant-1
    // pages declare a <base href> that redirects every base-relative
    // link to another host (effectiveBase beats the fetch URI). The
    // oracle recomputes each link's TARGET HOST from the
    // construction and aggregates the same host-level edges. ----
    "t_link_graph_rel" -> ((s, dir) => {
      import graft.text.{DomainOps, HtmlOps, UrlOps}
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def hostOfClass(x: Column): Column =
        when(x === 0, "alpha.example.com")
          .when(x === 1, "site-b.co.uk")
          .when(x === 2, "blog.blogspot.com")
          .otherwise(lit("gamma.org"))
      val m = pmod(col("doc_id"), lit(4))
      val b = (col("doc_id") / lit(8)).cast("long").cast("string")
      val uri = concat(lit("https://"), hostOfClass(m), lit("/sec"),
        b, lit("/p.html"))
      val baseTag = when(m === 1,
          concat(lit("<base href=\"https://"),
            hostOfClass(pmod(col("doc_id") + 3, lit(4))),
            lit("/bb/\">")))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), baseTag,
        lit("</head><body><p>"), col("text"),
        lit("</p><a href=\"https://"),
        hostOfClass(pmod(col("doc_id") + 1, lit(4))),
        lit("/abs\">a</a><a href='//"),
        hostOfClass(pmod(col("doc_id") + 2, lit(4))),
        lit("/pp'>p</a><a href=\"rel"), b,
        lit("\">r</a><a href='../top'>t</a>" +
          "<a href=\"/rooted\">o</a><a href=\"#x\">f</a>" +
          "</body></html>"))
      // plan discipline: src_host and the effective base evaluate
      // ONCE PER PAGE (pre-explode projection); the per-LINK work is
      // resolveUrl (codegen'd regex, no lambdas) + the lightweight
      // lower+www-strip+hostOf chain — canonicalizeUrl's interpreted
      // lambda tree per link row measured 19 s here vs ~2 s without
      // (the dedup-key canonicalizer is NOT needed for a host-level
      // graph; scheme/host case-folding + www-strip is)
      val wwwOff = (u: Column) => regexp_replace(lower(u),
        "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
      // spread the scan BEFORE the 6x link explode + per-link
      // resolution: the testdata parquet is one row group (one scan
      // task), and at any scale a narrow-born partition imbalance
      // multiplies through an expansion stage — one bounded shuffle
      // of (doc_id, text) buys 32-way parallel regex work
      val pages = d.repartition(col("doc_id"))
        .select(uri.as("uri"), html.as("html"))
        .select(
          DomainOps.hostOf(wwwOff(col("uri"))).as("src_host"),
          UrlOps.effectiveBase(col("uri"),
            HtmlOps.baseHref(col("html"))).as("eb"),
          HtmlOps.extractLinks(col("html")).as("hrefs"))
      // NO pre-agg scheme filter: a predicate over `resolved` gets
      // pushed below by alias substitution and re-evaluates the whole
      // resolve tree per link (the interpreted-tree trap — measured
      // 2-3x here). Every fixture link resolves to http(s) by
      // construction; a real frontier filters the agg OUTPUT's
      // null/odd-scheme hosts instead (attribute-only predicate).
      // `resolved` is used exactly once, so the projections collapse
      // to ONE per-link evaluation.
      val links = pages
        .select(col("src_host"), col("eb"),
          explode(col("hrefs")).as("href"))
        .select(col("src_host"),
          UrlOps.resolveUrl(col("eb"), col("href")).as("resolved"))
        .select(col("src_host"),
          DomainOps.hostOf(wwwOff(col("resolved"))).as("dst_host"))
      links.groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("w"))
    }),

    // ---- crawl capstone: the URL FRONTIER batch — discovered links
    // (extract → effectiveBase → RFC 3986 resolve) → politeness
    // (RFC 9309 robotsFilter, broadcast rules dim) → registrable-
    // domain quota (capPerGroup over the PSL domain) → freshness
    // (per-host sitemap lastmod in every W3C datetime precision,
    // parseW3cDatetime) → per-domain fetch ranking. Five ops, shared
    // exchanges: the resolve/extract stage is row-local, robots is
    // one broadcast join + hash agg, the cap and rank share the
    // domain partitioning. ----
    "t_frontier" -> ((s, dir) => {
      import graft.text.{HtmlOps, RobotsOps, TextOps, UrlOps}
      import graft.sources.Sitemaps
      val d = t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      def hostOfClass(x: Column): Column =
        when(x === 0, "alpha.example.com")
          .when(x === 1, "site-b.co.uk")
          .when(x === 2, "blog.blogspot.com")
          .otherwise(lit("gamma.org"))
      val m = pmod(col("doc_id"), lit(4))
      val b = (col("doc_id") / lit(8)).cast("long").cast("string")
      val uri = concat(lit("https://"), hostOfClass(m), lit("/sec"),
        b, lit("/p.html"))
      // two discovered links per page: one relative (resolves under
      // /sec<b>/), one root-relative into each host's POLICED space
      // (alpha /private/, alpha *.pdf, site-b /tmp<b>/, gamma /a/b)
      val relHref = concat(lit("a"), b)
      val polHref = when(m === 0,
          concat(lit("/private/doc"), b))
        .when(m === 1, concat(lit("/tmp"), b, lit("/f")))
        .when(m === 2, concat(lit("/x"), b))
        .otherwise(concat(lit("/a/b/c"), b))
      val pages = d.select(col("doc_id"), uri.as("uri"),
        relHref.as("h1"), polHref.as("h2"))
      // link_id: a NUMERIC per-discovered-link id (doc_id·2 + link
      // ordinal) so the quota stage's portable hash has an integer
      // key — capPerGroup's hash order is defined on numeric ids
      val discovered = pages
        .select(col("doc_id"), col("uri"),
          posexplode(array(col("h1"), col("h2")))
            .as(Seq("__lp", "href")))
        .select((col("doc_id") * 2 + col("__lp")).as("link_id"),
          UrlOps.resolveUrl(col("uri"), col("href")).as("url"))
      // politeness gate: RFC 9309 longest-match over the broadcast dim
      val robots = RobotsOps.robotsFilter(discovered, "link_id",
          col("url"), RobotsOps.robotsDim(s, RobotsFixture, "graftbot"))
        .filter(col("allowed"))
      // registrable domain for the quota key: the fixture hosts
      // resolve through the real PSL walk (blogspot → per-tenant)
      val doms = graft.text.DomainOps.registrableDomains(
          robots.select(col("link_id"), col("url")), "link_id",
          col("url"))
        .select(col("link_id"), col("url"),
          col("registrable_domain"))
      // per-domain quota: deterministic portable-hash cap, sized to
      // BITE at sf0.01 (each domain carries 100+ allowed links there)
      val capped = TextOps.capPerGroup(doms,
        groupCols = Seq("registrable_domain"), idCol = "link_id",
        maxRows = 40)
      // freshness: per-host SITEMAP shards (urlset XML built from
      // the corpus, parsed back through the native from_xml path),
      // lastmod in a different W3C datetime precision per host
      // class, joined on the DISCOVERED url
      val smEntry = concat(lit("<url><loc>https://"), hostOfClass(m),
        lit("/sec"), b, lit("/a"), b, lit("</loc><lastmod>"),
        when(m === 0, lit("2026"))
          .when(m === 1, lit("2026-04"))
          .when(m === 2, lit("2026-04-15T08:30Z"))
          .otherwise(lit("2026-04-15T08:30:45+02:00")),
        lit("</lastmod></url>"))
      val sitemap = d
        .groupBy(hostOfClass(m).as("sm_host"),
          (col("doc_id") / 64).cast("long").as("sm_shard"))
        .agg(concat(lit("<urlset>"),
          concat_ws("", sort_array(collect_set(smEntry))),
          lit("</urlset>")).as("xml"))
        .select(explode(Sitemaps.parseUrlset(col("xml"))).as("u"))
        .select(col("u.loc").as("loc"), col("u.lastmod").as("lastmod"))
        .distinct()
      val frontier = capped
        .join(sitemap, capped("url") === sitemap("loc"), "left")
        .select(col("url"), col("registrable_domain"),
          Sitemaps.parseW3cDatetime(col("lastmod")).as("lastmod_ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("registrable_domain"))
        .orderBy(col("lastmod_ts").desc_nulls_last, col("url"))
      frontier.withColumn("fetch_rank",
          row_number().over(w).cast("long"))
        .filter(col("fetch_rank") <= 25)
    }),

    "s8_xlsx_scan" -> ((s, dir) => {
      val tmp = tempDir("graft_xlsx_q")
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("string"), col("n_name"),
          col("n_regionkey").cast("string"))
        .orderBy(col("n_nationkey").cast("long")).collect() // 25-row dim
        .map(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
      val bytes = graft.sources.XlsxSource.writeXlsx(
        Seq("n_nationkey", "n_name", "n_regionkey") +: rows.toSeq, "nation")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "nation.xlsx"), bytes)
      graft.sources.XlsxSource.readSheet(s, s"$tmp/nation.xlsx")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          max(col("n_name")).as("max_name"),
          sum(col("n_nationkey").cast("long")).as("sum_key"))
    }),

    // ---- §2.1 S3 remote scan over a LIVE http:// endpoint: the
    // supplier dim staged as a pipe-CSV object behind a loopback
    // HEAD/Range server (HttpStaticServer), read back through
    // HttpFs + UriSource — the object-store dispatch path with a real
    // network hop, previously file://-only pass-unit evidence. The
    // explicit schema skips the inference scan (the 100 TB contract);
    // the server is lazy-safe: it outlives the returned DataFrame and
    // is freed at JVM exit like the staged temp dirs. ----
    "s9_http_scan" -> ((s, dir) => {
      graft.sources.HttpFs.install(s)
      val rows = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long"), col("s_nationkey").cast("long"),
          col("s_acctbal").cast("string"))
        .orderBy(col("s_suppkey")).collect() // dim-scale (100 @ sf0.01)
        .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}")
      val body = ("s_suppkey|s_nationkey|s_acctbal\n" + rows.mkString("\n"))
        .getBytes("UTF-8")
      val handle = graft.sources.HttpStaticServer.serve("/supplier.csv", body)
      sys.addShutdownHook(handle.stop())
      graft.sources.UriSource.delimited(s, handle.uri,
          schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
            "s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE")))
        .groupBy(col("s_nationkey").cast("string").as("s_nationkey"))
        .agg(count(lit(1)).as("n"), moneySum(col("s_acctbal")).as("sum_bal"))
    }),

    // ---- S10: Z-order (Morton) key — the deterministic core of the
    // two-dimensional data layout (ops/Scale.zorderWrite; ScaleSpec
    // measures per-file span narrowing vs linear sorts). Pure Column
    // bit arithmetic, codegen'd, replayed bit-for-bit by the oracle. ----
    "s10_zorder_key" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        graft.ops.Scale.mortonKey(
          pmod(col("user_id"), lit(65536L)),
          pmod(col("ts").cast("timestamp_ltz").cast("long"), lit(65536L)))
          .as("zkey"))),

    // ---- §2.1 S1/S6 CSV sink + scan roundtrip ----
    "s1_csv_roundtrip" -> ((s, dir) => {
      // unique per invocation (a fixed path corrupts concurrent runs),
      // registered for JVM-exit cleanup
      val tmp = tempDir("graft_csv_roundtrip") + "/out"
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .write.mode("overwrite").option("header", true).csv(tmp)
      s.read.option("header", true)
        .schema("l_orderkey bigint, l_linenumber int, l_returnflag string, l_quantity double")
        .csv(tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops ->
    * driver records a weaker rows-only check. */
  /** The registrable-domain oracle's rules table, generated FROM the
    * engine's own checked-in snapshot (DomainOps.suffixRulesSnapshot)
    * so the two can never drift: one VALUES row per PSL line as
    * (rule, kind, label count), plus the implicit default rule. */
  private val SuffixRulesValues: String =
    graft.text.DomainOps.rulesValuesSql

  /** DuckDB replay of the [[graft.text.HtmlOps]] strip chain over a
    * SQL expression — generated from the SAME TagChain/Entities
    * constants the engine evaluates (patterns live in the
    * java.util.regex ∩ RE2 subset), so oracle and engine cannot
    * drift. DuckDB regexp_replace needs the explicit 'g' flag; the
    * newline replacement/boundary passes use chr(10) and the same
    * backslash escapes RE2 and java.util.regex both interpret. */
  private def duckStripSql(expr: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val tagless = graft.text.HtmlOps.TagChain.foldLeft(expr) {
      case (e, (re, sub)) =>
        val rep = if (sub == "\n") "chr(10)" else q(sub)
        s"regexp_replace($e, ${q(re)}, $rep, 'g')"
    }
    val decoded = graft.text.HtmlOps.Entities.foldLeft(tagless) {
      case (e, (ent, ch)) => s"replace($e, ${q(ent)}, ${q(ch)})"
    }
    "trim(regexp_replace(regexp_replace(regexp_replace(" + decoded +
      ", '[ \\t\\r\\f]+', ' ', 'g'), ' ?\\n[ \\n]*', chr(10), 'g'), " +
      "'^\\n+|\\n+$', '', 'g'))"
  }

  /** DuckDB replay of [[graft.text.HtmlOps.mainTextFromStripped]]'s
    * block density filter (≥ minTok whitespace tokens OR sentence-
    * terminated) over an already-stripped SQL expression. */
  private def duckMainSql(strippedExpr: String, minTok: Int = 5)
      : String =
    s"array_to_string(list_filter(string_split($strippedExpr, " +
      s"chr(10)), b -> len(string_split(b, ' ')) >= $minTok OR " +
      "regexp_matches(b, '[.!?]$')), chr(10))"

  /** The damped-PageRank 2-round replay over an arbitrary edges CTE
    * `e(src, dst, w)`: round-6 transition probs, dangling mass,
    * IEEE-pinned teleport constant, final (node, pagerank) select —
    * ONE copy shared by the g_pagerank and t_link_graph oracles so
    * the two replays cannot drift (the scattered-copies lesson of
    * the hostOf trailing-dot patch). */
  private val PageRankReplayChassis: String =
    """p AS (
      |  SELECT src, dst,
      |    CAST(ROUND(CAST(w AS DOUBLE) /
      |      CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS p
      |  FROM e),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |srcs AS (SELECT DISTINCT src AS node FROM e),
      |r0 AS (
      |  SELECT node,
      |    CAST(ROUND(CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS r
      |  FROM nodes, nn),
      |d1 AS (
      |  SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(18,6)) AS dang
      |  FROM r0 WHERE node NOT IN (SELECT node FROM srcs)),
      |c1 AS (
      |  SELECT p.dst AS node,
      |    CAST(SUM(CAST(ROUND(r0.r * p.p, 6) AS DECIMAL(18,6)))
      |      AS DECIMAL(18,6)) AS c
      |  FROM p JOIN r0 ON p.src = r0.node GROUP BY 1),
      |r1 AS (
      |  SELECT nodes.node,
      |    CAST(ROUND(
      |      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
      |        / CAST(nn.n AS DOUBLE)
      |      + CAST(0.85 AS DOUBLE) *
      |        (CAST(COALESCE(c1.c, CAST(0 AS DECIMAL(18,6)))
      |           AS DOUBLE)
      |         + CAST(d1.dang AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS r
      |  FROM nodes LEFT JOIN c1 ON c1.node = nodes.node, nn, d1),
      |d2 AS (
      |  SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(18,6)) AS dang
      |  FROM r1 WHERE node NOT IN (SELECT node FROM srcs)),
      |c2 AS (
      |  SELECT p.dst AS node,
      |    CAST(SUM(CAST(ROUND(r1.r * p.p, 6) AS DECIMAL(18,6)))
      |      AS DECIMAL(18,6)) AS c
      |  FROM p JOIN r1 ON p.src = r1.node GROUP BY 1),
      |r2 AS (
      |  SELECT nodes.node,
      |    CAST(ROUND(
      |      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
      |        / CAST(nn.n AS DOUBLE)
      |      + CAST(0.85 AS DOUBLE) *
      |        (CAST(COALESCE(c2.c, CAST(0 AS DECIMAL(18,6)))
      |           AS DOUBLE)
      |         + CAST(d2.dang AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS r
      |  FROM nodes LEFT JOIN c2 ON c2.node = nodes.node, nn, d2)
      |SELECT node, CAST(r AS DOUBLE) AS pagerank FROM r2""".stripMargin

  /** Shared by w26_rate_limit and its streaming twin s_stream_rate —
    * the token bucket replayed step-exact: bucket starts FULL, refill
    * (Δt µs)·1e-10 exact decimal, capped at 2, debit 1 when ≥ 1. */
  private val RateLimitOracle: String =
    """WITH RECURSIVE v AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |e AS (
      |  SELECT user_id, event_id, rn, t,
      |    CAST(1 AS DECIMAL(18,6)) AS tok, TRUE AS adm
      |  FROM v WHERE rn = 1
      |  UNION ALL
      |  SELECT user_id, event_id, rn, t,
      |    CAST(CASE WHEN avail >= CAST(1 AS DECIMAL(18,6))
      |              THEN avail - CAST(1 AS DECIMAL(18,6))
      |              ELSE avail END AS DECIMAL(18,6)),
      |    avail >= CAST(1 AS DECIMAL(18,6))
      |  FROM (
      |    SELECT v.user_id, v.event_id, v.rn, v.t,
      |      least(CAST(2 AS DECIMAL(18,6)),
      |            e.tok + CAST(ROUND((v.t - e.t) *
      |              CAST(0.0000000001 AS DECIMAL(14,10)), 6)
      |              AS DECIMAL(18,6))) AS avail
      |    FROM v JOIN e ON v.user_id = e.user_id
      |      AND v.rn = e.rn + 1))
      |SELECT user_id, event_id, CAST(tok AS DOUBLE) AS tokens,
      |  adm AS admitted FROM e""".stripMargin

  /** The full PQ train+encode+ADC replay (shared by e_pq_topk
    * and the e_pq_recall audit, which embeds it as a subquery). */
  private val PqTopKOracle: String =
    """WITH init AS (
      |  SELECT row_number() OVER (
      |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
      |        vec_id) - 1 AS code,
      |    embedding AS e
      |  FROM embeddings
      |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
      |  LIMIT 8),
      |subs AS (SELECT unnest(range(4)) AS sub),
      |cb0 AS (
      |  SELECT subs.sub, init.code,
      |    init.e[subs.sub*16 + 1 : subs.sub*16 + 16] AS ce
      |  FROM init, subs),
      |a1 AS (
      |  SELECT e.vec_id, s.sub,
      |    (SELECT code FROM cb0 WHERE cb0.sub = s.sub
      |     ORDER BY ROUND(list_sum(list_transform(
      |         list_zip(cb0.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
      |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
      |       code
      |     LIMIT 1) AS code
      |  FROM embeddings e, subs s),
      |m1 AS (
      |  SELECT a.sub, a.code, d.sd,
      |    CAST(CAST(SUM(CAST(ROUND(
      |        CAST(e.embedding[a.sub*16 + d.sd + 1] AS DOUBLE), 6)
      |        AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS mn
      |  FROM a1 a JOIN embeddings e USING (vec_id),
      |    (SELECT unnest(range(16)) AS sd) d
      |  GROUP BY 1, 2, 3),
      |cb1 AS (
      |  SELECT cb0.sub, cb0.code, COALESCE(l.ml, cb0.ce) AS ce
      |  FROM cb0 LEFT JOIN (
      |    SELECT sub, code, list(mn ORDER BY sd) AS ml
      |    FROM m1 GROUP BY 1, 2) l
      |  USING (sub, code)),
      |a2 AS (
      |  SELECT e.vec_id, s.sub,
      |    (SELECT code FROM cb1 WHERE cb1.sub = s.sub
      |     ORDER BY ROUND(list_sum(list_transform(
      |         list_zip(cb1.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
      |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
      |       code
      |     LIMIT 1) AS code
      |  FROM embeddings e, subs s),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
      |tbl AS (
      |  SELECT cb1.sub, cb1.code,
      |    ROUND(list_sum(list_transform(
      |      list_zip(cb1.ce,
      |        (SELECT qe FROM q)[cb1.sub*16+1 : cb1.sub*16+16]),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
      |  FROM cb1)
      |SELECT a.vec_id,
      |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
      |FROM a2 a JOIN tbl t ON t.sub = a.sub AND t.code = a.code
      |GROUP BY a.vec_id
      |ORDER BY adc_dist, a.vec_id
      |LIMIT 10""".stripMargin

  /** w28's trailing-frame z-score replay (shared with its
    * streaming twin s_stream_zscore). */
  private val ZscoreOracle: String =
    """WITH v AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, v,
      |    COUNT(v) OVER fr AS n,
      |    SUM(v) OVER fr AS s1,
      |    SUM(CAST(ROUND(v * v, 6) AS DECIMAL(18,6))) OVER fr AS s2
      |  FROM v
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
      |m AS (
      |  SELECT user_id, event_id, v, n,
      |    ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean,
      |    ROUND(CAST(s2 AS DOUBLE) / n, 6) AS ev2
      |  FROM w),
      |s AS (
      |  SELECT *, sqrt(ROUND(greatest(CAST(0 AS DOUBLE),
      |    ev2 - mean * mean), 6)) AS std
      |  FROM m)
      |SELECT user_id, event_id, CAST(n AS BIGINT) AS n_window,
      |  CASE WHEN n >= 4 THEN mean END AS roll_mean,
      |  CASE WHEN n >= 4 THEN ROUND(std, 6) END AS roll_std,
      |  CASE WHEN n >= 4 AND std > 0
      |       THEN ROUND((CAST(v AS DOUBLE) - mean) / std, 6)
      |  END AS zscore,
      |  COALESCE(CASE WHEN n >= 4 AND std > 0
      |    THEN abs(ROUND((CAST(v AS DOUBLE) - mean) / std, 6))
      |         > CAST(3.0 AS DOUBLE) END, FALSE) AS anomaly
      |FROM s""".stripMargin

  /** w11's funnel roll-up replay (shared with the streaming twin
    * s_stream_funnel, whose post-stream aggregation produces the
    * identical shape). */
  private val FunnelOracle: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch(ts)) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t
      |  GROUP BY e.user_id),
      |c AS (SELECT (SELECT COUNT(*) FROM s1) AS c1,
      |             (SELECT COUNT(*) FROM s2) AS c2,
      |             (SELECT COUNT(*) FROM s3) AS c3)
      |SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage, c1 AS users,
      |  CASE WHEN c1 > 0 THEN ROUND(CAST(c1 AS DOUBLE) / c1, 6) END
      |    AS conversion FROM c
      |UNION ALL SELECT CAST(2 AS INT), 'click', c2,
      |  CASE WHEN c1 > 0 THEN ROUND(CAST(c2 AS DOUBLE) / c1, 6) END
      |  FROM c
      |UNION ALL SELECT CAST(3 AS INT), 'purchase', c3,
      |  CASE WHEN c1 > 0 THEN ROUND(CAST(c3 AS DOUBLE) / c1, 6) END
      |  FROM c""".stripMargin

  /** Shared by w27_holt and its streaming twin s_stream_holt. */
  /** Shared j16/j17 oracle CTE block: the dirty-copy construction,
    * last-3 blocking, field agreements and Fellegi-Sunter scores
    * (see [[linkageScored]]). Ends with the `sc` CTE. */
  private val LinkageOracleCtes: String =
    """WITH a AS (
      |  SELECT c_custkey AS ak, c_name AS an, c_nationkey AS anat,
      |    c_acctbal AS abal, c_mktsegment AS aseg
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey AS bk,
      |    CASE WHEN c_custkey % 13 = 0
      |         THEN 'Cust-' || lpad(CAST(c_custkey AS VARCHAR), 9, '0')
      |         WHEN c_custkey % 7 = 0
      |         THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
      |         ELSE c_name END AS bn,
      |    c_nationkey AS bnat,
      |    c_acctbal + (c_custkey % 9) * 20.0 - 80.0 AS bbal,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
      |         ELSE c_mktsegment END AS bseg
      |  FROM customer),
      |p AS (
      |  SELECT * FROM a JOIN b ON right(an, 3) = right(bn, 3)),
      |f AS (
      |  SELECT ak, bk,
      |    ROUND(jaro_winkler_similarity(an, bn), 6) >= 0.95
      |      AS name_agree,
      |    anat = bnat AS nation_agree,
      |    aseg = bseg AS segment_agree,
      |    abs(abal - bbal) <= 50.0 AS balance_agree
      |  FROM p),
      |sc AS (
      |  SELECT ak, bk, name_agree, nation_agree, segment_agree,
      |    balance_agree,
      |    CAST(
      |      CAST(CASE WHEN name_agree THEN ROUND(ln(0.95/0.01), 6)
      |                ELSE ROUND(ln(0.05/0.99), 6) END
      |        AS DECIMAL(18,6)) +
      |      CAST(CASE WHEN nation_agree THEN ROUND(ln(0.98/0.04), 6)
      |                ELSE ROUND(ln(0.02/0.96), 6) END
      |        AS DECIMAL(18,6)) +
      |      CAST(CASE WHEN segment_agree THEN ROUND(ln(0.9/0.2), 6)
      |                ELSE ROUND(ln(0.1/0.8), 6) END
      |        AS DECIMAL(18,6)) +
      |      CAST(CASE WHEN balance_agree THEN ROUND(ln(0.9/0.05), 6)
      |                ELSE ROUND(ln(0.1/0.95), 6) END
      |        AS DECIMAL(18,6))
      |    AS DOUBLE) AS score
      |  FROM f)""".stripMargin

  private val RollingMadOracle: String =
    """WITH v AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |fr AS (
        |  SELECT user_id, event_id, v,
        |    list_sort(list(v) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)) AS f
        |  FROM v),
        |md AS (
        |  SELECT user_id, event_id, v, f,
        |    f[(len(f) + 1) // 2] AS med
        |  FROM fr),
        |dv AS (
        |  SELECT user_id, event_id, v, med,
        |    list_sort(list_transform(f,
        |      x -> CAST(abs(x - med) AS DECIMAL(18,6)))) AS d
        |  FROM md)
        |SELECT user_id, event_id, CAST(v AS DOUBLE) AS value,
        |  CAST(med AS DOUBLE) AS med,
        |  CAST(d[(len(d) + 1) // 2] AS DOUBLE) AS mad,
        |  abs(v - med) > 3 * d[(len(d) + 1) // 2] AS is_anomaly
        |FROM dv""".stripMargin

  /** The full two-round Lloyd replay ending in per-vector cluster
    * assignment — shared by e_kmeans and e_cluster_purity. */
  private val KmeansAssignOracle: String =
    """WITH c0 AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 8),
        |a1 AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM c0
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(c0.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(c0.ce,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e),
        |dims AS (SELECT unnest(range(0, (SELECT MAX(len(embedding))
        |                                 FROM embeddings))) AS dim),
        |m1 AS (
        |  SELECT a.cell, d.dim,
        |    CAST(CAST(SUM(CAST(ROUND(CAST(a.embedding[d.dim + 1] AS DOUBLE),
        |        6) AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS m
        |  FROM a1 a JOIN dims d ON d.dim < len(a.embedding)
        |  GROUP BY a.cell, d.dim),
        |c1 AS (
        |  SELECT c0.cell, COALESCE(l.ml, c0.ce) AS ce
        |  FROM c0 LEFT JOIN (
        |    SELECT cell, list(m ORDER BY dim) AS ml FROM m1 GROUP BY cell) l
        |  USING (cell)),
        |a2 AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM c1
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(c1.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(c1.ce,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e),
        |m2 AS (
        |  SELECT a.cell, d.dim,
        |    CAST(CAST(SUM(CAST(ROUND(CAST(a.embedding[d.dim + 1] AS DOUBLE),
        |        6) AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS m
        |  FROM a2 a JOIN dims d ON d.dim < len(a.embedding)
        |  GROUP BY a.cell, d.dim),
        |c2 AS (
        |  SELECT c1.cell, COALESCE(l.ml, c1.ce) AS ce
        |  FROM c1 LEFT JOIN (
        |    SELECT cell, list(m ORDER BY dim) AS ml FROM m2 GROUP BY cell) l
        |  USING (cell))
        |SELECT e.vec_id,
        |  CAST((SELECT cell FROM c2
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(c2.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(c2.ce,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS INT) AS cluster
        |  FROM embeddings e""".stripMargin

  private val HoltOracle: String =
    """WITH RECURSIVE v AS (
      |  SELECT user_id, event_id,
      |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |e AS (
      |  SELECT user_id, event_id, rn, v AS l,
      |    CAST(0 AS DECIMAL(18,6)) AS b
      |  FROM v WHERE rn = 1
      |  UNION ALL
      |  SELECT user_id, event_id, rn, nl,
      |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * (nl - pl)
      |             + CAST(0.7 AS DECIMAL(10,8)) * pb, 6)
      |         AS DECIMAL(18,6))
      |  FROM (
      |    SELECT v.user_id, v.event_id, v.rn, e.l AS pl, e.b AS pb,
      |      CAST(ROUND(CAST(0.5 AS DECIMAL(10,8)) * v.v
      |               + CAST(0.5 AS DECIMAL(10,8)) * (e.l + e.b), 6)
      |           AS DECIMAL(18,6)) AS nl
      |    FROM v JOIN e ON v.user_id = e.user_id
      |      AND v.rn = e.rn + 1))
      |SELECT user_id, event_id, CAST(l AS DOUBLE) AS level,
      |  CAST(b AS DOUBLE) AS trend,
      |  CAST(l + b AS DOUBLE) AS forecast
      |FROM e""".stripMargin

  /** Shared CTE prefix for the PCA oracles: covariance base + k
    * components of 6 power-iteration rounds each, HUGEINT micro-unit
    * discipline, sign-explicit Hotelling deflation between components
    * (Spark `div` truncates toward zero; DuckDB `//` floors, hence
    * the CASE). Returns everything from `WITH` through the last
    * component's `c<k>lam` CTE (no trailing comma). */
  private def pcaOracleCtes(k: Int): String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT embedding AS e FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |n AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
        |sums AS MATERIALIZED (
        |  SELECT u['i'] AS i,
        |    SUM(CAST(ROUND(CAST(u['x'] AS DOUBLE), 6)
        |      AS DECIMAL(18,6))) AS sx
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(e) + 1),
        |      k -> {'i': k - 1, 'x': e[CAST(k AS INT)]})) AS u
        |    FROM e)
        |  GROUP BY 1),
        |cells AS MATERIALIZED (
        |  SELECT u['i'] AS i, u['j'] AS j,
        |    SUM(u['p']) AS sp
        |  FROM (
        |    SELECT unnest(flatten(list_transform(range(1, len(e) + 1),
        |      a -> list_transform(range(1, len(e) + 1),
        |        b -> {'i': a - 1, 'j': b - 1,
        |              'p': CAST(ROUND(
        |                CAST(e[CAST(a AS INT)] AS DOUBLE)
        |                * CAST(e[CAST(b AS INT)] AS DOUBLE), 6)
        |                AS DECIMAL(18,6))})))) AS u
        |    FROM e)
        |  GROUP BY 1, 2),
        |cov1 AS MATERIALIZED (
        |  SELECT cells.i, cells.j,
        |    CAST(CAST(ROUND((CAST(sp AS DOUBLE)
        |        - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE)
        |          / CAST(n.n AS DOUBLE))
        |        / (CAST(n.n AS DOUBLE) - 1.0), 6) AS DECIMAL(18,6))
        |      * 1000000 AS HUGEINT) AS cmu
        |  FROM cells, n, sums si, sums sj
        |  WHERE si.i = cells.i AND sj.i = cells.j)""".stripMargin
    def comp(c: Int): String = {
      val v0 = s"""c${c}v0 AS MATERIALIZED (
  SELECT i AS j, CAST(125000 AS HUGEINT) AS vmu FROM sums)"""
      val rounds = (1 to 6).map { r =>
        s"""c${c}w$r AS MATERIALIZED (
  SELECT cov.i, SUM(cov.cmu * p.vmu) AS wp
  FROM cov$c cov JOIN c${c}v${r - 1} p ON p.j = cov.j
  GROUP BY cov.i),
c${c}m$r AS MATERIALIZED (
  SELECT SUM(wp * wp) AS m2 FROM c${c}w$r),
c${c}v$r AS MATERIALIZED (
  SELECT i AS j,
    CAST(CAST(ROUND(CAST(wp AS DOUBLE)
        / sqrt(CAST(m2 AS DOUBLE)), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS vmu
  FROM c${c}w$r, c${c}m$r)"""
      }.mkString(",\n")
      val lam = s"""c${c}wf AS MATERIALIZED (
  SELECT cov.i, SUM(cov.cmu * v.vmu) AS wp
  FROM cov$c cov JOIN c${c}v6 v ON v.j = cov.j GROUP BY cov.i),
c${c}lam AS MATERIALIZED (
  SELECT CAST(CAST(ROUND(CAST(SUM(v.vmu * wf.wp) AS DOUBLE)
      / CAST(SUM(v.vmu * v.vmu) AS DOUBLE)
      / 1000000.0, 6) AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS lmu
  FROM c${c}wf wf JOIN c${c}v6 v ON v.j = wf.i)"""
      val deflate =
        if (c >= k) ""
        else s""",
cov${c + 1} AS MATERIALIZED (
  SELECT cov.i, cov.j,
    cov.cmu - (CASE WHEN l.lmu * vi.vmu * vj.vmu >= 0
      THEN (l.lmu * vi.vmu * vj.vmu) // 1000000000000
      ELSE -((-(l.lmu * vi.vmu * vj.vmu)) // 1000000000000)
      END) AS cmu
  FROM cov$c cov, c${c}lam l, c${c}v6 vi, c${c}v6 vj
  WHERE vi.j = cov.i AND vj.j = cov.j)"""
      s"$v0,\n$rounds,\n$lam$deflate"
    }
    s"$base,\n${(1 to k).map(comp).mkString(",\n")}"
  }

  /** Dawid–Skene replay builder shared by a79/a80: the three-
    * annotator construction (portable-hash flip coin, hash-picked
    * wrong class over the lexicographic ranking), majority-vote init,
    * then TWO unrolled EM rounds — M-step smoothing and priors as
    * round-6 micro longs, E-step likelihood as an EXACT HUGEINT
    * product (Spark's decimal(38,0) fold lands on the same
    * integers), one rounded double division per posterior cell.
    * `finalSelect` consumes p2 (posteriors), pi2 (confusion), pr2
    * (priors). */
  private def dsOracle(finalSelect: String): String = {
    def round(x: Int) = {
      val p = s"p${x - 1}"
      s"""s$x AS MATERIALIZED (
         |  SELECT lab.k, p.c, lab.l, SUM(p.post) AS s
         |  FROM lab JOIN $p p ON p.i = lab.i GROUP BY 1, 2, 3),
         |st$x AS (SELECT k, c, SUM(s) AS st FROM s$x GROUP BY 1, 2),
         |pi$x AS MATERIALIZED (
         |  SELECT g.k, g.c, g.l,
         |    CAST(CAST(round((COALESCE(s$x.s, 0) + 1000000) * 1.0 /
         |      (COALESCE(st$x.st, 0) + 1000000 * lc.L), 6)
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pi
         |  FROM g CROSS JOIN lc
         |  LEFT JOIN s$x ON s$x.k = g.k AND s$x.c = g.c
         |    AND s$x.l = g.l
         |  LEFT JOIN st$x ON st$x.k = g.k AND st$x.c = g.c),
         |pc$x AS (SELECT c, SUM(post) AS pc FROM $p GROUP BY 1),
         |pr$x AS MATERIALIZED (
         |  SELECT pc$x.c,
         |    CAST(CAST(round((pc$x.pc + 1000000) * 1.0 /
         |      (t.pt + 1000000 * lc.L), 6) AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS prior
         |  FROM pc$x CROSS JOIN
         |    (SELECT SUM(pc) AS pt FROM pc$x) t CROSS JOIN lc),
         |e$x AS (
         |  SELECT w.i, rk.lang AS c,
         |    CAST(pr$x.prior AS HUGEINT) * pa.pi * pb.pi * pq.pi AS n
         |  FROM w CROSS JOIN rk
         |  JOIN pr$x ON pr$x.c = rk.lang
         |  JOIN pi$x pa ON pa.k = 0 AND pa.c = rk.lang AND pa.l = w.l0
         |  JOIN pi$x pb ON pb.k = 1 AND pb.c = rk.lang AND pb.l = w.l1
         |  JOIN pi$x pq ON pq.k = 2 AND pq.c = rk.lang
         |    AND pq.l = w.l2),
         |p$x AS MATERIALIZED (
         |  SELECT e.i, e.c,
         |    CAST(CAST(round(CAST(e.n AS DOUBLE) /
         |      CAST(dn.dn AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS post
         |  FROM e$x e JOIN
         |    (SELECT i, SUM(n) AS dn FROM e$x GROUP BY 1) dn
         |    USING (i))""".stripMargin
    }
    s"""WITH rk AS MATERIALIZED (
       |  SELECT lang,
       |    CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS r
       |  FROM (SELECT DISTINCT lang FROM documents
       |        WHERE lang IS NOT NULL)),
       |lc AS (SELECT COUNT(*) AS L FROM rk),
       |d AS (
       |  SELECT doc_id, lang FROM documents
       |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
       |lab0 AS (
       |  SELECT d.doc_id AS i, k.k AS k, d.lang, rk.r,
       |    ((((d.doc_id * 3 + k.k) % 2147483647) * 2654435761)
       |      % 2147483647) % 10 < 2 * k.k + 1 AS flip,
       |    (rk.r + 1 + ((((d.doc_id * 7 + 11 * k.k) % 2147483647)
       |      * 2654435761) % 2147483647) % (lc.L - 1)) % lc.L AS fr
       |  FROM d JOIN rk USING (lang)
       |  CROSS JOIN range(3) k(k) CROSS JOIN lc),
       |lab AS MATERIALIZED (
       |  SELECT i, k, CASE WHEN flip THEN r2.lang ELSE lab0.lang END
       |    AS l
       |  FROM lab0 JOIN rk r2 ON lab0.fr = r2.r),
       |ac AS (SELECT i, COUNT(*) AS a FROM lab GROUP BY 1),
       |v AS (SELECT i, l AS c, COUNT(*) AS v FROM lab GROUP BY 1, 2),
       |p0 AS MATERIALIZED (
       |  SELECT ac.i, rk.lang AS c,
       |    CAST(CAST(round(COALESCE(v.v, 0) * 1.0 / ac.a, 6)
       |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS post
       |  FROM ac CROSS JOIN rk
       |  LEFT JOIN v ON v.i = ac.i AND v.c = rk.lang),
       |kd AS (SELECT DISTINCT k FROM lab),
       |g AS (SELECT kd.k, c1.lang AS c, c2.lang AS l
       |      FROM kd CROSS JOIN rk c1 CROSS JOIN rk c2),
       |w AS MATERIALIZED (
       |  SELECT i,
       |    MAX(CASE WHEN k = 0 THEN l END) AS l0,
       |    MAX(CASE WHEN k = 1 THEN l END) AS l1,
       |    MAX(CASE WHEN k = 2 THEN l END) AS l2
       |  FROM lab GROUP BY 1),
       |${round(1)},
       |${round(2)}
       |$finalSelect""".stripMargin
  }

  /** The blocked-dataset replay shared VERBATIM by the batch
    * capstone and its incremental materialization — the
    * incremental path's contract IS "equals the batch build on
    * the union of all arrival waves", so binding one string to
    * both keys makes drift impossible. */
  private val blockedDatasetReplay: String =
    """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
        |    MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b),
        |base AS (
        |  SELECT g.user_id, g.grid_ts, e.value AS last_value
        |  FROM grid g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts >= e.ts),
        |vit AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1),
        |v AS (
        |  SELECT b.user_id, b.grid_ts, b.last_value,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(b.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS vital_value
        |  FROM base b ASOF LEFT JOIN vit w
        |    ON b.user_id = w.user_id AND b.grid_ts >= w.ts),
        |lb AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |l AS (
        |  SELECT v.user_id, v.grid_ts, v.last_value, v.vital_value,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
        |      THEN NULL ELSE w.value END AS lab_value
        |  FROM v ASOF LEFT JOIN lb w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |r AS (
        |  SELECT user_id, grid_ts, last_value, vital_value, lab_value,
        |    ROUND(CAST(SUM(CAST(last_value AS DECIMAL(30,6))) OVER w
        |        AS DOUBLE) / COUNT(last_value) OVER w, 6) AS roll_avg
        |  FROM l
        |  WINDOW w AS (PARTITION BY user_id ORDER BY grid_ts
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
        |lab AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS label
        |  FROM events GROUP BY user_id)
        |SELECT r.user_id, r.grid_ts, r.last_value, r.vital_value,
        |  r.lab_value, r.roll_avg, lab.label,
        |  CASE WHEN ((((((r.user_id % 2147483647) * 2654435761)
        |         % 2147483647) + 2147483647) % 2147483647) % 100 + 100)
        |         % 100 < 80 THEN 'train'
        |       WHEN ((((((r.user_id % 2147483647) * 2654435761)
        |         % 2147483647) + 2147483647) % 2147483647) % 100 + 100)
        |         % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r JOIN lab USING (user_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "p1_project" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",

    "p2_drop" ->
      "SELECT event_id, ts, user_id, event_type FROM events",

    "p3_rename" ->
      """SELECT c_custkey, c_name AS customer_name, c_acctbal AS account_balance
        |FROM customer""".stripMargin,

    "p4_filter_null" ->
      """SELECT c_custkey, c_name FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderkey IS NULL""".stripMargin,

    "p5_filter_in" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_returnflag IN ('A','R')""".stripMargin,

    "p6_filter_cmp" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_quantity > 45 AND l_discount < 0.05""".stripMargin,

    "p7_filter_pattern" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%widget%' AND regexp_matches(p_type, '^ECO')""".stripMargin,

    "p8_filter_ts_range" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'""".stripMargin,

    "p9_cast_filter" ->
      """SELECT event_id,
        |  CAST(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE) AS INT) AS k
        |FROM events
        |WHERE TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE) IS NOT NULL""".stripMargin,

    "j1_join_dims" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "j2_join_composite" ->
      """WITH grp AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS grp_qty
        |  FROM lineitem GROUP BY l_orderkey, l_partkey)
        |SELECT li.l_orderkey, li.l_partkey, li.l_linenumber, grp.grp_qty
        |FROM lineitem li
        |JOIN grp ON li.l_orderkey = grp.l_orderkey AND li.l_partkey = grp.l_partkey""".stripMargin,

    "j4_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |           FROM customer GROUP BY c_nationkey),
        |     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |           FROM supplier GROUP BY s_nationkey)
        |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""".stripMargin,

    "j5_semi" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin,

    "j_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,

    "j8_asof" ->
      """WITH ord AS (
        |  SELECT o_custkey AS ckey, o_orderdate, o_orderkey AS asof_orderkey
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |          ORDER BY o_orderkey DESC) AS rn FROM orders)
        |  WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.asof_orderkey
        |FROM events e
        |ASOF LEFT JOIN ord o
        |  ON e.user_id = o.ckey AND e.ts >= o.o_orderdate""".stripMargin,

    "j10_asof_tolerance" ->
      """WITH ord AS (
        |  SELECT o_custkey AS ckey, o_orderdate, o_orderkey AS asof_orderkey
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |          ORDER BY o_orderkey DESC) AS rn FROM orders)
        |  WHERE rn = 1),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts, o.asof_orderkey, o.o_orderdate
        |  FROM events e
        |  ASOF LEFT JOIN ord o
        |    ON e.user_id = o.ckey AND e.ts >= o.o_orderdate)
        |SELECT event_id, user_id,
        |  CASE WHEN o_orderdate IS NULL OR
        |    floor(epoch(ts)) - floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
        |      > 725000000
        |    THEN NULL ELSE asof_orderkey END AS asof_orderkey,
        |  CASE WHEN o_orderdate IS NULL OR
        |    floor(epoch(ts)) - floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
        |      > 725000000
        |    THEN NULL ELSE o_orderdate END AS matched_date
        |FROM j""".stripMargin,

    // brute-force quadratic levenshtein join — the completeness bar the
    // segment-blocked plan must match exactly
    "j11_edit_join" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name FROM customer
        |  WHERE c_nationkey IN (1, 2, 3))
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // same blocking, DuckDB's own jaro_winkler_similarity — a genuine
    // cross-implementation comparator check, not a replay
    "j14_fuzzy_match" ->
      """WITH v AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name,
        |        regexp_extract(p_name, '([^ ]+)$', 1) AS blk FROM v)
        |SELECT a.p_name AS name1, b2.p_name AS name2,
        |  ROUND(jaro_winkler_similarity(a.p_name, b2.p_name), 6) AS jw
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name
        |WHERE ROUND(jaro_winkler_similarity(a.p_name, b2.p_name), 6)
        |  >= 0.88""".stripMargin,

    "f_jaro_winkler" ->
      """SELECT p_partkey,
        |  ROUND(jaro_similarity(p_name, reverse(p_name)), 6) AS j_rev,
        |  ROUND(jaro_winkler_similarity(p_name, p_brand), 6) AS jw_brand,
        |  ROUND(jaro_winkler_similarity(p_name, p_name || 's'), 6)
        |    AS jw_plural,
        |  ROUND(jaro_winkler_similarity(upper(p_name), p_name), 6)
        |    AS jw_case
        |FROM part""".stripMargin,

    "j9_range" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY""".stripMargin,

    // nonempty-overlap join: max(start) < min(end), half-open
    "j12_interval_overlap" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS v_start,
        |    ts + INTERVAL 2 HOUR AS v_end
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_start,
        |    ts + INTERVAL 1 HOUR AS c_end
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  greatest(v_start, c_start) AS o_start,
        |  least(v_end, c_end) AS o_end
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND greatest(v_start, c_start) < least(v_end, c_end)""".stripMargin,

    // the BETWEEN formulation is the oracle; the engine's as-of plan
    // must pick the identical covering version
    "j15_scd2_asof" ->
      """WITH h AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |    TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
        |    CASE WHEN c_custkey % 7 = 0
        |         THEN TIMESTAMP '1998-01-01 00:00:00' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED',
        |    TIMESTAMP '1998-01-01 00:00:00', NULL
        |  FROM customer WHERE c_custkey % 7 = 0)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate,
        |  h.segment
        |FROM orders o
        |LEFT JOIN h ON h.c_custkey = o.o_custkey
        |  AND o.o_orderdate >= h.valid_from
        |  AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)""".stripMargin,

    // brute nearest: per error the min-|delta| view within tolerance,
    // ties to the backward side; right deduped keep-last per (user,ts)
    "j18_asof_nearest" ->
      """WITH l AS (
        |  SELECT user_id, event_id, epoch(ts) AS lt
        |  FROM events WHERE event_type = 'error'),
        |r AS (
        |  SELECT user_id, epoch(ts) AS rt, view_event_id
        |  FROM (
        |    SELECT user_id, ts, event_id AS view_event_id,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT l.user_id, l.event_id, l.lt, r.rt, r.view_event_id,
        |    row_number() OVER (PARTITION BY l.user_id, l.event_id
        |      ORDER BY abs(l.lt - r.rt),
        |        CASE WHEN r.rt <= l.lt THEN 0 ELSE 1 END) AS rn
        |  FROM l JOIN r ON r.user_id = l.user_id
        |  WHERE abs(l.lt - r.rt) <= 7200.0)
        |SELECT l.user_id, l.event_id, l.lt AS ts_epoch,
        |  c.view_event_id, c.rt AS matched_epoch,
        |  CASE WHEN c.rt IS NULL THEN NULL
        |       WHEN c.rt <= l.lt THEN 'backward'
        |       ELSE 'forward' END AS direction
        |FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
        |  ON c.user_id = l.user_id AND c.event_id = l.event_id"""
        .stripMargin,

    // Fellegi–Sunter replay: same dirty copy, same last-3 blocking,
    // DuckDB's own jaro_winkler_similarity (cross-implementation),
    // weights as ROUND(ln(m/u), 6) decimals summed exactly; cap
    // unexercised on this corpus so the oracle joins uncapped
    "j16_linkage" -> (LinkageOracleCtes +
      """
        |SELECT ak AS a_key, bk AS b_key, name_agree, nation_agree,
        |  segment_agree, balance_agree, score,
        |  CASE WHEN score >= 6.0 THEN 'match'
        |       WHEN score <= 0.0 THEN 'non_match'
        |       ELSE 'review' END AS decision
        |FROM sc
        |WHERE NOT (score <= 0.0)""".stripMargin),

    // j16's matches as edges -> recursive min-label connected
    // components (the t_dedup_clusters CC pattern), node ids 2k/2k+1
    "j17_entity_clusters" -> (LinkageOracleCtes.replace("WITH a AS (",
      "WITH RECURSIVE a AS (") +
      """,
        |m AS (SELECT ak * 2 AS id1, bk * 2 + 1 AS id2 FROM sc
        |      WHERE score >= 6.0),
        |edges AS (SELECT id1, id2 FROM m
        |          UNION ALL SELECT id2, id1 FROM m),
        |reach(id, r) AS (
        |  SELECT DISTINCT id1, id1 FROM edges
        |  UNION
        |  SELECT e.id1, reach.r FROM edges e JOIN reach ON e.id2 = reach.id),
        |cl AS (SELECT id, MIN(r) AS entity_id FROM reach GROUP BY id)
        |SELECT CASE WHEN id % 2 = 0 THEN 'clean' ELSE 'dirty' END AS file,
        |  id // 2 AS record_key, entity_id
        |FROM cl""".stripMargin),

    // brute-force ε-join on the same deterministic synthetic coords;
    // squared-distance predicate — no trig, exact IEEE both engines
    "j13_eps_join" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 10.0 AS cx,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 10.0 AS cy
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 10.0 AS sx,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 10.0 AS sy
        |  FROM supplier)
        |SELECT c_custkey, s_suppkey,
        |  ROUND((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy), 6)
        |    AS dist2
        |FROM c, s
        |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
        |      <= 1.5 * 1.5""".stripMargin,

    "j6_regex_vocab" ->
      """SELECT d.doc_id, t.term
        |FROM documents d
        |CROSS JOIN (SELECT DISTINCT split_part(p_name, ' ', 1) AS term FROM part) t
        |WHERE regexp_matches(d.text, '(?i)\b' || t.term || '\b')""".stripMargin,

    "a1_group_count" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",

    "a2_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "a4_dedup_keep_last" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "a5_missingness" ->
      """WITH src AS (
        |  SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et,
        |         CASE WHEN value < 5 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT 'et' AS column_name,
        |  CAST(SUM(CASE WHEN et IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  ROUND(CAST(SUM(CASE WHEN et IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*), 4) AS pct_null
        |FROM src
        |UNION ALL
        |SELECT 'v',
        |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  ROUND(CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*), 4)
        |FROM src""".stripMargin,

    "a6_summary" ->
      """SELECT l_returnflag, COUNT(l_quantity) AS n,
        |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS mean_v
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a7_distinct_proj" ->
      "SELECT DISTINCT o_orderpriority FROM orders",

    "a8_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a9_histogram" ->
      """SELECT l_returnflag,
        |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n,
        |  ROUND(CAST(floor(l_extendedprice / 1000.0) AS BIGINT) * 1000.0, 6) AS bin_lo,
        |  ROUND((CAST(floor(l_extendedprice / 1000.0) AS BIGINT) + 1) * 1000.0, 6) AS bin_hi
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "a10_boxstats" ->
      """SELECT l_returnflag, COUNT(l_quantity) AS n,
        |  MIN(l_quantity) AS min_v,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS median,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS q3,
        |  MAX(l_quantity) AS max_v,
        |  ROUND(quantile_cont(l_quantity, 0.25)
        |    - (quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25)) * 1.5, 6) AS lo_whisker,
        |  ROUND(quantile_cont(l_quantity, 0.75)
        |    + (quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25)) * 1.5, 6) AS hi_whisker
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a11_out_of_range" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity < 5 OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out_of_range,
        |  COUNT(l_quantity) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a13_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  l.l_extendedprice,
        |  ROUND(LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi), 6)
        |    AS winsorized
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin,

    "a14_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type AS g, ROUND(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT m.g, e.value, abs(e.value - m.med) AS dev
        |  FROM events e JOIN med m ON e.event_type = m.g),
        |mad AS (
        |  SELECT g, ROUND(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM dev GROUP BY g)
        |SELECT d.g AS event_type, med.med, mad.mad, COUNT(d.value) AS n,
        |  CAST(SUM(CASE WHEN mad.mad > 0 AND 0.6745 * d.dev > 3.5 * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN med ON d.g = med.g JOIN mad ON d.g = mad.g
        |GROUP BY d.g, med.med, mad.mad""".stripMargin,

    "w8_share" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |  ROUND(l_extendedprice /
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)))
        |      OVER (PARTITION BY l_returnflag) AS DOUBLE), 9) AS share
        |FROM lineitem""".stripMargin,

    "a15_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "a18_expectations" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |    COUNT(value) AS m0,
        |    COUNT(DISTINCT event_id) AS m1,
        |    COUNT(CASE WHEN value >= 0.0 AND value <= 100.0
        |               THEN 1 END) AS m2,
        |    COUNT(CASE WHEN event_type IN ('view', 'click', 'purchase')
        |               THEN 1 END) AS m3
        |  FROM events)
        |SELECT 'not_null_pct' AS expectation, 'value' AS target,
        |  ROUND(CAST(m0 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6)
        |    AS measured,
        |  99.0 AS threshold,
        |  ROUND(CAST(m0 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6) >= 99.0
        |    AS pass
        |FROM a
        |UNION ALL
        |SELECT 'unique_key', 'event_id', CAST(n - m1 AS DOUBLE), 0.0,
        |  CAST(n - m1 AS DOUBLE) = 0.0
        |FROM a
        |UNION ALL
        |SELECT 'in_range_pct', 'value in [0.0,100.0]',
        |  ROUND(CAST(m2 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6), 99.0,
        |  ROUND(CAST(m2 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6) >= 99.0
        |FROM a
        |UNION ALL
        |SELECT 'in_set_pct', 'event_type in {view,click,purchase}',
        |  ROUND(CAST(m3 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6), 100.0,
        |  ROUND(CAST(m3 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6) >= 100.0
        |FROM a
        |UNION ALL
        |SELECT 'min_rows', '', CAST(n AS DOUBLE), 1000.0,
        |  CAST(n AS DOUBLE) >= 1000.0
        |FROM a""".stripMargin,

    // same exact-decimal moment sums, same fixed IEEE formula sequence
    "a16_corr" ->
      """WITH p AS (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)) AS y
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_discount',
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_discount AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax',
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_tax AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_discount',
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_discount AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_tax',
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_tax AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', 'l_tax',
        |    CAST(ROUND(CAST(l_discount AS DOUBLE), 6) AS DECIMAL(18,6)),
        |    CAST(ROUND(CAST(l_tax AS DOUBLE), 6) AS DECIMAL(18,6))
        |  FROM lineitem),
        |a AS (
        |  SELECT col_x, col_y, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM p WHERE x IS NOT NULL AND y IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT col_x, col_y, n,
        |  CASE WHEN sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) *
        |                 (CAST(n AS DOUBLE)*syy - sy*sy)) = 0 THEN NULL
        |       ELSE ROUND((CAST(n AS DOUBLE)*sxy - sx*sy) /
        |                  sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) *
        |                       (CAST(n AS DOUBLE)*syy - sy*sy)), 6)
        |  END AS corr
        |FROM a""".stripMargin,

    "a17_regression" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(CAST(l_quantity AS DOUBLE), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS DECIMAL(18,6)) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM s WHERE x IS NOT NULL AND y IS NOT NULL
        |  GROUP BY 1),
        |f AS (
        |  SELECT l_returnflag, n, sx, sy, syy,
        |    CAST(n AS DOUBLE)*sxy - sx*sy AS num,
        |    CAST(n AS DOUBLE)*sxx - sx*sx AS varx
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND(num/varx, 6) END AS slope,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND((sy - (num/varx)*sx)/CAST(n AS DOUBLE), 6)
        |  END AS intercept,
        |  CASE WHEN sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy)) = 0 THEN NULL
        |       ELSE ROUND((num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))) *
        |                  (num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))), 6)
        |  END AS r2
        |FROM f""".stripMargin,

    "a12_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "w6_resample" ->
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND)) AS grid_ts
        |  FROM b)
        |SELECT g.user_id, g.grid_ts, e.value AS value
        |FROM grid g ASOF LEFT JOIN e
        |  ON g.user_id = e.user_id AND g.grid_ts >= e.ts""".stripMargin,

    "w7_rolling" ->
      """SELECT event_id, user_id, ts, value,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER wr AS DOUBLE)
        |        / COUNT(value) OVER wr, 6) AS roll_rows_avg,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER wt AS DOUBLE)
        |        / COUNT(value) OVER wt, 6) AS roll_time_avg
        |FROM events
        |WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |       wt AS (PARTITION BY user_id
        |              ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "w9_time_weighted" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT user_id,
        |  CASE WHEN MAX(t) - MIN(t) > 0 THEN
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6)) * (nxt - t))
        |        AS DOUBLE) / (MAX(t) - MIN(t)), 6)
        |  ELSE NULL END AS twa,
        |  MAX(t) - MIN(t) AS span_seconds,
        |  COUNT(*) AS n_events
        |FROM e GROUP BY user_id""".stripMargin,

    "w5_rank" ->
      """SELECT event_type, user_id, n,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ROUND(percent_rank() OVER w, 6) AS prnk,
        |  CAST(ntile(4) OVER (PARTITION BY event_type
        |                      ORDER BY n DESC, user_id) AS INT) AS quartile
        |FROM (SELECT event_type, user_id, COUNT(*) AS n
        |      FROM events GROUP BY event_type, user_id)
        |WINDOW w AS (PARTITION BY event_type ORDER BY n DESC)""".stripMargin,

    "t_top_terms" ->
      """SELECT term, COUNT(*) AS n FROM (
        |  SELECT unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    // same regexp densities, keyword token filter, and fixed-order
    // weighted score
    "t_code_detect" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    CAST(length(regexp_replace(text, '[^{}()\[\];=<>]', '', 'g'))
        |      AS BIGINT) AS sym,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS dig,
        |    CAST(len(list_filter(
        |      list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x <> ''),
        |      w -> w IN ('def','class','return','import','if','for',
        |                 'while','function','var','const','void','int')))
        |      AS BIGINT) AS kw
        |  FROM documents WHERE length(text) > 0),
        |s AS (
        |  SELECT doc_id, n, sym, dig, kw,
        |    ROUND(0.5 * LEAST(1.0,
        |        8.0 * (CAST(sym AS DOUBLE) / CAST(n AS DOUBLE)))
        |      + 0.2 * LEAST(1.0,
        |        5.0 * (CAST(dig AS DOUBLE) / CAST(n AS DOUBLE)))
        |      + 0.3 * LEAST(1.0, CAST(kw AS DOUBLE) / 3.0), 6) AS score
        |  FROM m)
        |SELECT doc_id,
        |  ROUND(CAST(sym AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS symbol_ratio,
        |  ROUND(CAST(dig AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS digit_ratio,
        |  kw AS kw_hits, score AS code_score,
        |  score >= 0.5 AS is_code
        |FROM s""".stripMargin,

    // per-dim moment replay (the a16/a17 conventions) over the
    // position-exploded vector stream
    "e_embed_qc" ->
      """WITH ex AS (
        |  SELECT d.dim,
        |    CAST(ROUND(CAST(e.embedding[d.dim + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS v
        |  FROM embeddings e, (SELECT unnest(range(0, 64)) AS dim) d),
        |a AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v) AS s,
        |    SUM(CAST(v * v AS DECIMAL(38,12))) AS q,
        |    MIN(v) AS mn, MAX(v) AS mx,
        |    CAST(COUNT(CASE WHEN v = 0 THEN 1 END) AS BIGINT) AS n_zero
        |  FROM ex GROUP BY dim)
        |SELECT CAST(dim AS INT) AS dim, n,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  ROUND(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS variance,
        |  CAST(mn AS DOUBLE) AS vmin, CAST(mx AS DOUBLE) AS vmax,
        |  n_zero
        |FROM a""".stripMargin,

    // full augmentation replay: same positional hash, swap pass then
    // delete pass over the token list
    "t_augment" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sw AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
        |    list_transform(range(0, len(w)), j ->
        |      w[CASE WHEN ((doc_id*31 + j//2) * 2654435761)
        |                  % 2147483647 % 7 = 0
        |                  AND xor(j, 1) < len(w)
        |             THEN xor(j, 1) ELSE j END + 1]) AS s,
        |    CASE WHEN len(w) >= 2
        |         THEN 2 * len(list_filter(range(0, len(w)//2), p ->
        |           ((doc_id*31 + p) * 2654435761) % 2147483647 % 7 = 0))
        |         ELSE 0 END AS nsw
        |  FROM tk WHERE len(w) > 0),
        |aug AS (
        |  SELECT doc_id, n, nsw,
        |    list_transform(
        |      list_filter(
        |        list_transform(range(0, n), j -> {'t': s[j+1], 'j': j}),
        |        st -> ((doc_id*31 + st.j) * 2654435761)
        |              % 2147483647 % 10 <> 0),
        |      st -> st.t) AS kt
        |  FROM sw)
        |SELECT doc_id, array_to_string(kt, ' ') AS text_aug,
        |  n AS n_tokens, CAST(nsw AS BIGINT) AS n_swapped,
        |  n - len(kt) AS n_dropped
        |FROM aug""".stripMargin,

    // positions differ by a constant base (0- vs 1-based) so the
    // distances match; postings filtered before pairing
    "t_proximity_search" ->
      """WITH t0 AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS p,
        |    unnest(w) AS tok
        |  FROM (SELECT doc_id, list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '') AS w
        |    FROM documents))
        |SELECT a.doc_id, CAST(MIN(abs(a.p - b.p)) AS BIGINT) AS min_dist
        |FROM t0 a JOIN t0 b ON a.doc_id = b.doc_id
        |WHERE a.tok = 'hash' AND b.tok = 'join'
        |GROUP BY 1 HAVING MIN(abs(a.p - b.p)) <= 3""".stripMargin,

    // prefix-sum SSE replay, same fixed-order double cost formula
    "w32_changepoint" ->
      """WITH v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |p AS (
        |  SELECT user_id, event_id, i,
        |    SUM(v) OVER (PARTITION BY user_id ORDER BY i) AS s,
        |    SUM(CAST(v * v AS DECIMAL(38,12)))
        |      OVER (PARTITION BY user_id ORDER BY i) AS q,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n,
        |    SUM(v) OVER (PARTITION BY user_id) AS st,
        |    SUM(CAST(v * v AS DECIMAL(38,12)))
        |      OVER (PARTITION BY user_id) AS qt
        |  FROM v),
        |c AS (
        |  SELECT user_id, event_id, i, n,
        |    ROUND((CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(i AS DOUBLE))
        |      + ((CAST(qt AS DOUBLE) - CAST(q AS DOUBLE))
        |        - (CAST(st AS DOUBLE) - CAST(s AS DOUBLE))
        |          * (CAST(st AS DOUBLE) - CAST(s AS DOUBLE))
        |          / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))), 6) AS cost,
        |    ROUND(CAST(qt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |        / CAST(n AS DOUBLE), 6) AS sse
        |  FROM p
        |  WHERE n >= 10 AND i >= 5 AND i <= n - 5),
        |r AS (
        |  SELECT user_id, i, event_id, cost, sse,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY cost, i) AS rn
        |  FROM c)
        |SELECT user_id, CAST(i AS BIGINT) AS split_idx,
        |  event_id AS split_id, ROUND(sse - cost, 6) AS gain
        |FROM r WHERE rn = 1""".stripMargin,

    // lower-median/MAD replay over the same sorted decimal frames
    "w31_rolling_mad" -> RollingMadOracle,

    // the streaming twin replays the identical frames (integer
    // micro-unit arithmetic end to end): oracle IS w31's
    "s_stream_mad" -> RollingMadOracle,

    // one category window pair + broadcast global mean; fixed-order
    // double arithmetic rounded once
    "a35_loo_encode" ->
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS t
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT CAST(SUM(t) AS DOUBLE) / COUNT(*) AS gm FROM s),
        |w AS (
        |  SELECT event_id, event_type, t,
        |    SUM(t) OVER (PARTITION BY event_type) AS st,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ct
        |  FROM s)
        |SELECT event_id, event_type,
        |  CASE WHEN CAST(ct - 1 AS DOUBLE) + 10.0 > 0
        |       THEN ROUND((CAST(st - t AS DOUBLE) + 10.0 * gm)
        |                  / (CAST(ct - 1 AS DOUBLE) + 10.0), 6)
        |  END AS encoded
        |FROM w, g""".stripMargin,

    // same vowel-group/sentence-run counts; fixed-order double
    // formulas rounded once
    "t_readability" ->
      """WITH tk AS (
        |  SELECT doc_id, text, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(w, x ->
        |      GREATEST(len(regexp_extract_all(x, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables
        |  FROM tk WHERE len(w) > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
        |    6) AS ease,
        |  ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59, 6) AS grade
        |FROM m""".stripMargin,

    // Zipf fit: a17's exact-decimal OLS moment sums over the top-100
    // (ln rank, ln freq) points + vocab/token totals
    "t_zipf" ->
      """WITH f AS (
        |  SELECT term, COUNT(*) AS freq FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |    FROM documents)
        |  GROUP BY term),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
        |         CAST(SUM(freq) AS BIGINT) AS total_tokens
        |  FROM f),
        |top AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS r
        |  FROM f ORDER BY freq DESC, term LIMIT 100),
        |s AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM top),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS DOUBLE) AS syy
        |  FROM s),
        |ff AS (
        |  SELECT n, sx, sy, syy,
        |    CAST(n AS DOUBLE)*sxy - sx*sy AS num,
        |    CAST(n AS DOUBLE)*sxx - sx*sx AS varx
        |  FROM m)
        |SELECT n AS n_top,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND(num/varx, 6) END AS zipf_slope,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND((sy - (num/varx)*sx)/CAST(n AS DOUBLE), 6)
        |  END AS zipf_intercept,
        |  CASE WHEN sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy)) = 0 THEN NULL
        |       ELSE ROUND((num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))) *
        |                  (num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))), 6)
        |  END AS r2,
        |  vocab, total_tokens
        |FROM ff, tot""".stripMargin,

    // exact BIGINT freq-of-freq counts; each ratio ONE double chain
    // rounded to 6 (hapax² widened to HUGEINT before the cast)
    "t_vocab_coverage" ->
      """WITH f AS (
        |  SELECT term, COUNT(*) AS freq FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |    FROM documents WHERE text IS NOT NULL)
        |  GROUP BY term),
        |c AS (
        |  SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hapax,
        |    CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dis_legomena
        |  FROM f)
        |SELECT total_tokens, vocab, hapax, dis_legomena,
        |  CASE WHEN total_tokens > 0 THEN
        |    ROUND(CAST(hapax AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        |  END AS unseen_mass,
        |  ROUND(CAST(vocab AS DOUBLE) +
        |    CAST(CAST(hapax AS HUGEINT) * (hapax - 1) AS DOUBLE) /
        |    (2.0 * CAST(dis_legomena + 1 AS DOUBLE)), 6) AS chao1,
        |  CASE WHEN vocab > 0 THEN
        |    ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
        |  END AS hapax_ratio
        |FROM c""".stripMargin,

    // exact 2x2 cells off one (source, term) agg; lor and z one
    // fixed double chain each; rank on rounded z with term tiebreak
    "t_distinct_terms" ->
      """WITH cells AS (
        |  SELECT g, w, COUNT(*) AS a FROM (
        |    SELECT source AS g, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS w
        |    FROM documents
        |    WHERE text IS NOT NULL AND source IS NOT NULL)
        |  GROUP BY 1, 2),
        |gt AS (SELECT g, SUM(a) AS ng FROM cells GROUP BY g),
        |wt AS (SELECT w, SUM(a) AS cw FROM cells GROUP BY w),
        |nt AS (SELECT SUM(ng) AS n FROM gt),
        |sc AS (
        |  SELECT g, w, a,
        |    CAST(a AS DOUBLE) + 0.5 AS ha,
        |    CAST(ng - a AS DOUBLE) + 0.5 AS hb,
        |    CAST(cw - a AS DOUBLE) + 0.5 AS hc,
        |    CAST(n - ng - (cw - a) AS DOUBLE) + 0.5 AS hd
        |  FROM cells JOIN gt USING (g) JOIN wt USING (w), nt
        |  WHERE a >= 5),
        |z AS (
        |  SELECT g, w, a,
        |    ROUND(ln(ha * hd / (hb * hc)), 6) AS lor,
        |    ROUND(ln(ha * hd / (hb * hc)) /
        |      sqrt(1.0/ha + 1.0/hb + 1.0/hc + 1.0/hd), 6) AS z
        |  FROM sc),
        |r AS (SELECT g, w, a, lor, z,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY z DESC, w) AS rk
        |  FROM z)
        |SELECT g AS "group", w AS term, CAST(a AS BIGINT)
        |    AS n_in_group, lor, z
        |FROM r WHERE rk <= 3""".stripMargin,

    // common-term JS contributions (one rounded chain each, exact
    // decimal sum) + the (ln2)/2 missing-mass correction per pair
    "t_source_js" ->
      """WITH cells AS (
        |  SELECT g, w, COUNT(*) AS c FROM (
        |    SELECT source AS g, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS w
        |    FROM documents
        |    WHERE text IS NOT NULL AND source IS NOT NULL)
        |  GROUP BY 1, 2),
        |gt AS (SELECT g, SUM(c) AS ng FROM cells GROUP BY g),
        |p AS (
        |  SELECT a.g AS ga, b.g AS gb, a.c AS ca, b.c AS cb,
        |    ta.ng AS na, tb.ng AS nb
        |  FROM cells a JOIN cells b ON a.w = b.w AND a.g < b.g
        |  JOIN gt ta ON ta.g = a.g JOIN gt tb ON tb.g = b.g),
        |t0 AS (
        |  SELECT ga, gb, na, nb, ca, cb,
        |    CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb
        |  FROM p),
        |t AS (
        |  SELECT ga, gb, na, nb, ca, cb,
        |    CAST(ROUND((pa * ln(2 * pa / (pa + pb)) +
        |      pb * ln(2 * pb / (pa + pb))) / 2, 6)
        |      AS DECIMAL(18,6)) AS tm
        |  FROM t0),
        |agg AS (
        |  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_common_terms,
        |    CAST(SUM(ca) AS BIGINT) AS cga,
        |    CAST(SUM(cb) AS BIGINT) AS cgb,
        |    CAST(SUM(tm) AS DECIMAL(28,6)) AS jsc
        |  FROM t GROUP BY 1, 2),
        |gp AS (
        |  SELECT ta.g AS ga, tb.g AS gb, ta.ng AS na, tb.ng AS nb
        |  FROM gt ta, gt tb WHERE ta.g < tb.g),
        |j AS (
        |  SELECT gp.ga, gp.gb,
        |    COALESCE(n_common_terms, 0) AS n_common_terms,
        |    COALESCE(jsc, CAST(0 AS DECIMAL(28,6)))
        |      + CAST(ROUND(ln(2)/2 *
        |      (CAST(na - COALESCE(cga, 0) AS DOUBLE)
        |         / CAST(na AS DOUBLE) +
        |       CAST(nb - COALESCE(cgb, 0) AS DOUBLE)
        |         / CAST(nb AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS js
        |  FROM gp LEFT JOIN agg
        |    ON agg.ga = gp.ga AND agg.gb = gp.gb)
        |SELECT ga AS group_a, gb AS group_b,
        |  CAST(n_common_terms AS BIGINT) AS n_common_terms,
        |  CAST(js AS DOUBLE) AS js,
        |  ROUND(CAST(js AS DOUBLE) / ln(2), 6) AS js_norm
        |FROM j""".stripMargin,

    // first-occurrence cumulative vocab + cumulative tokens per doc,
    // then the olsFit log-log tail verbatim (round-6 decimal sums)
    "t_heaps" ->
      """WITH tok AS (
        |  SELECT doc_id AS d, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |nv AS (
        |  SELECT fd, COUNT(*) AS nv FROM (
        |    SELECT t, MIN(d) AS fd FROM tok GROUP BY t)
        |  GROUP BY fd),
        |pd AS (
        |  SELECT doc_id AS d, CAST(len(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS nt
        |  FROM documents WHERE text IS NOT NULL),
        |curve AS (
        |  SELECT d,
        |    SUM(nt) OVER (ORDER BY d) AS cum_n,
        |    SUM(COALESCE(nv, 0)) OVER (ORDER BY d) AS cum_v
        |  FROM pd LEFT JOIN nv ON pd.d = nv.fd),
        |pts AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(cum_n AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(ln(CAST(cum_v AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS y,
        |    cum_n, cum_v
        |  FROM curve WHERE cum_n > 0 AND cum_v > 0),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS DOUBLE) AS syy,
        |    CAST(MAX(cum_v) AS BIGINT) AS vocab,
        |    CAST(MAX(cum_n) AS BIGINT) AS total_tokens
        |  FROM pts),
        |ff AS (
        |  SELECT n, sx, sy, syy, vocab, total_tokens,
        |    CAST(n AS DOUBLE)*sxy - sx*sy AS num,
        |    CAST(n AS DOUBLE)*sxx - sx*sx AS varx
        |  FROM m)
        |SELECT n AS n_docs,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND(num/varx, 6) END AS heaps_beta,
        |  CASE WHEN varx = 0 THEN NULL
        |       ELSE ROUND((sy - (num/varx)*sx)/CAST(n AS DOUBLE), 6)
        |  END AS heaps_log_k,
        |  CASE WHEN sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy)) = 0
        |       THEN NULL
        |       ELSE ROUND((num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))) *
        |                  (num/sqrt(varx*(CAST(n AS DOUBLE)*syy - sy*sy))), 6)
        |  END AS r2,
        |  vocab, total_tokens
        |FROM ff""".stripMargin,

    "t_bpe_encode" ->
      """WITH t0 AS (
        |  SELECT doc_id AS id, unnest(range(1, len(tk) + 1)) AS i,
        |    unnest(tk) AS tok
        |  FROM (SELECT doc_id, list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tk
        |    FROM documents)),
        |m1 AS (
        |  SELECT a.tok AS l, b.tok AS r, COUNT(*) AS n
        |  FROM t0 a JOIN t0 b ON a.id = b.id AND b.i = a.i + 1
        |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
        |t1_cand AS (
        |  SELECT a.id, a.i,
        |    a.i - ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY a.i) AS grp
        |  FROM t0 a JOIN t0 b ON a.id = b.id AND b.i = a.i + 1, m1 m
        |  WHERE a.tok = m.l AND b.tok = m.r),
        |t1_keep AS (
        |  SELECT id, i FROM (
        |    SELECT id, i,
        |      ROW_NUMBER() OVER (PARTITION BY id, grp ORDER BY i) - 1 AS off
        |    FROM t1_cand)
        |  WHERE off % 2 = 0),
        |t1 AS (
        |  SELECT t.id,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.i) AS i,
        |    CASE WHEN k.i IS NOT NULL THEN t.tok || ' ' || nx.tok
        |         ELSE t.tok END AS tok
        |  FROM t0 t
        |  LEFT JOIN t1_keep k ON t.id = k.id AND t.i = k.i
        |  LEFT JOIN t0 nx ON t.id = nx.id AND nx.i = t.i + 1
        |  LEFT JOIN t1_keep kp ON t.id = kp.id AND t.i = kp.i + 1
        |  WHERE kp.i IS NULL),
        |m2 AS (
        |  SELECT a.tok AS l, b.tok AS r, COUNT(*) AS n
        |  FROM t1 a JOIN t1 b ON a.id = b.id AND b.i = a.i + 1
        |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
        |t2_cand AS (
        |  SELECT a.id, a.i,
        |    a.i - ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY a.i) AS grp
        |  FROM t1 a JOIN t1 b ON a.id = b.id AND b.i = a.i + 1, m2 m
        |  WHERE a.tok = m.l AND b.tok = m.r),
        |t2_keep AS (
        |  SELECT id, i FROM (
        |    SELECT id, i,
        |      ROW_NUMBER() OVER (PARTITION BY id, grp ORDER BY i) - 1 AS off
        |    FROM t2_cand)
        |  WHERE off % 2 = 0),
        |t2 AS (
        |  SELECT t.id,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.i) AS i,
        |    CASE WHEN k.i IS NOT NULL THEN t.tok || ' ' || nx.tok
        |         ELSE t.tok END AS tok
        |  FROM t1 t
        |  LEFT JOIN t2_keep k ON t.id = k.id AND t.i = k.i
        |  LEFT JOIN t1 nx ON t.id = nx.id AND nx.i = t.i + 1
        |  LEFT JOIN t2_keep kp ON t.id = kp.id AND t.i = kp.i + 1
        |  WHERE kp.i IS NULL),
        |m3 AS (
        |  SELECT a.tok AS l, b.tok AS r, COUNT(*) AS n
        |  FROM t2 a JOIN t2 b ON a.id = b.id AND b.i = a.i + 1
        |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
        |t3_cand AS (
        |  SELECT a.id, a.i,
        |    a.i - ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY a.i) AS grp
        |  FROM t2 a JOIN t2 b ON a.id = b.id AND b.i = a.i + 1, m3 m
        |  WHERE a.tok = m.l AND b.tok = m.r),
        |t3_keep AS (
        |  SELECT id, i FROM (
        |    SELECT id, i,
        |      ROW_NUMBER() OVER (PARTITION BY id, grp ORDER BY i) - 1 AS off
        |    FROM t3_cand)
        |  WHERE off % 2 = 0),
        |t3 AS (
        |  SELECT t.id,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.i) AS i,
        |    CASE WHEN k.i IS NOT NULL THEN t.tok || ' ' || nx.tok
        |         ELSE t.tok END AS tok
        |  FROM t2 t
        |  LEFT JOIN t3_keep k ON t.id = k.id AND t.i = k.i
        |  LEFT JOIN t2 nx ON t.id = nx.id AND nx.i = t.i + 1
        |  LEFT JOIN t3_keep kp ON t.id = kp.id AND t.i = kp.i + 1
        |  WHERE kp.i IS NULL)
        |SELECT d.doc_id,
        |  COALESCE(rw.n, 0) AS n_tokens_raw,
        |  COALESCE(bp.n, 0) AS n_tokens_bpe
        |FROM documents d
        |LEFT JOIN (SELECT id, COUNT(*) AS n FROM t0 GROUP BY id) rw
        |  ON rw.id = d.doc_id
        |LEFT JOIN (SELECT id, COUNT(*) AS n FROM t3 GROUP BY id) bp
        |  ON bp.id = d.doc_id""".stripMargin,

    // independent enumeration: canonical-order (x<y<z) triangle join,
    // not the engine's degree orientation — same triangles exactly once
    "g_triangles" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |t0 AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
        |  FROM tk),
        |cooc AS (
        |  SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2
        |  FROM t0 a JOIN t0 b
        |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |ed AS (SELECT DISTINCT t1 AS u, t2 AS v FROM cooc WHERE t1 <> t2),
        |tri AS (
        |  SELECT a.u AS x, a.v AS y, b.v AS z
        |  FROM ed a
        |  JOIN ed b ON a.v = b.u
        |  JOIN ed c ON c.u = a.u AND c.v = b.v),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, COUNT(*) AS n_triangles
        |FROM corners GROUP BY 1""".stripMargin,

    // all 8 peel rounds unrolled (early stop == full replay: a
    // converged graph peels nothing) over the g_triangles edge CTE
    "g_kcore" -> {
      val base =
        """WITH tk AS (
          |  SELECT doc_id, list_filter(
          |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
          |  FROM documents),
          |t0 AS (
          |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
          |  FROM tk),
          |cooc AS (
          |  SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2
          |  FROM t0 a JOIN t0 b
          |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
          |e0 AS MATERIALIZED (SELECT DISTINCT t1 AS u, t2 AS v
          |       FROM cooc WHERE t1 <> t2)""".stripMargin
      // MATERIALIZED: each round references the previous edge CTE
      // three times — default inlining would expand the base scan 3^8
      // times (measured: "Too many open files")
      val roundsSql = (1 to 8).map { i =>
        s"""b$i AS MATERIALIZED (
           |  SELECT n FROM (SELECT u AS n FROM e${i - 1}
           |                 UNION ALL SELECT v FROM e${i - 1})
           |  GROUP BY n HAVING COUNT(*) < 4),
           |e$i AS MATERIALIZED (
           |  SELECT u, v FROM e${i - 1}
           |  WHERE u NOT IN (SELECT n FROM b$i)
           |    AND v NOT IN (SELECT n FROM b$i))""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$roundsSql
         |SELECT node, COUNT(*) AS core_degree FROM (
         |  SELECT u AS node FROM e8 UNION ALL SELECT v FROM e8)
         |GROUP BY node""".stripMargin
    },

    // DuckDB's own levenshtein as the cross-impl distance oracle;
    // the blk4 block equality (nation + leading 4 name digits) and
    // the length filter are restated so the candidate set matches
    "j19_edit_join" ->
      """SELECT a.c_custkey AS a_c_custkey,
        |  b.c_custkey AS b_c_custkey,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND substring(a.c_name, 10, 4) = substring(b.c_name, 10, 4)
        |  AND a.c_custkey < b.c_custkey
        |WHERE a.c_name IS NOT NULL AND b.c_name IS NOT NULL
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 2
        |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,

    // both blocking passes replayed (leading-4 and trailing-4 digit
    // windows), pair-union dedup'd, then the identical distance tail
    "j20_multipass" ->
      """WITH u AS (
        |  SELECT DISTINCT a_c_custkey, b_c_custkey, an, bn FROM (
        |    SELECT a.c_custkey AS a_c_custkey,
        |      b.c_custkey AS b_c_custkey,
        |      a.c_name AS an, b.c_name AS bn
        |    FROM customer a JOIN customer b
        |      ON a.c_nationkey = b.c_nationkey
        |      AND substring(a.c_name, 10, 4) = substring(b.c_name, 10, 4)
        |    UNION ALL
        |    SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        |    FROM customer a JOIN customer b
        |      ON a.c_nationkey = b.c_nationkey
        |      AND substring(a.c_name, 15, 4) = substring(b.c_name, 15, 4)))
        |SELECT a_c_custkey, b_c_custkey,
        |  CAST(levenshtein(an, bn) AS BIGINT) AS edit_dist
        |FROM u
        |WHERE a_c_custkey < b_c_custkey
        |  AND an IS NOT NULL AND bn IS NOT NULL
        |  AND abs(length(an) - length(bn)) <= 2
        |  AND levenshtein(an, bn) <= 2""".stripMargin,

    // the full mining pipeline replayed: round-6 cosines, id-tiebreak
    // ranks, TRUNCATING (sign-explicit) micro neighborhood means
    "e_mutual_margin" ->
      """WITH a AS (
        |  SELECT vec_id AS a_id, embedding AS va FROM embeddings
        |  WHERE label = 0 AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |b AS (
        |  SELECT vec_id AS b_id, embedding AS vb FROM embeddings
        |  WHERE label = 1 AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |p AS (
        |  SELECT a_id, b_id,
        |    CAST(ROUND(
        |      list_sum(list_transform(list_zip(va, vb),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(va,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(vb,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |      AS DECIMAL(18,6)) AS cos
        |  FROM a, b),
        |r AS (
        |  SELECT a_id, b_id, cos,
        |    CAST(cos * 1000000 AS BIGINT) AS mu,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |      ORDER BY cos DESC, b_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY b_id
        |      ORDER BY cos DESC, a_id) AS rb
        |  FROM p),
        |ma AS (
        |  SELECT a_id, CASE WHEN SUM(mu) >= 0
        |    THEN SUM(mu) // COUNT(*)
        |    ELSE -((-SUM(mu)) // COUNT(*)) END AS ma
        |  FROM r WHERE ra <= 4 GROUP BY 1),
        |mb AS (
        |  SELECT b_id, CASE WHEN SUM(mu) >= 0
        |    THEN SUM(mu) // COUNT(*)
        |    ELSE -((-SUM(mu)) // COUNT(*)) END AS mb
        |  FROM r WHERE rb <= 4 GROUP BY 1)
        |SELECT r.a_id, r.b_id, CAST(r.cos AS DOUBLE) AS cosine,
        |  CASE WHEN ma.ma + mb.mb > 0 THEN
        |    ROUND(2.0 * CAST(r.mu AS DOUBLE)
        |      / CAST(ma.ma + mb.mb AS DOUBLE), 6) END AS margin
        |FROM r JOIN ma ON ma.a_id = r.a_id
        |  JOIN mb ON mb.b_id = r.b_id
        |WHERE r.ra = 1 AND r.rb = 1""".stripMargin,

    // The IVF shortlist replayed end to end (DERIVED nlist =
    // GREATEST(16, CEIL(n/64.0)) — the deployment contract, exact in
    // both engines because 64 is a power of two; centroid pick by
    // the portable hash, argmax cell assignment, top-4 probe ranks,
    // per-query top-8 shortlist, union-distinct across the two
    // directions), then the identical margin tail over the shortlist
    // pair frame instead of the |A|·|B| product.
    "e_mutual_margin_ivf" ->
      """WITH src AS MATERIALIZED (
        |  SELECT vec_id, embedding, label = 0 AS ina
        |  FROM embeddings
        |  WHERE label IN (0, 1) AND vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |cents AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |      vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM src
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |    vec_id
        |  LIMIT (SELECT GREATEST(16,
        |    CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) FROM src)),
        |nsup AS (
        |  SELECT CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
        |    AS ns FROM cents),
        |sup AS MATERIALIZED (
        |  SELECT cell, ce FROM cents
        |  WHERE cell < (SELECT ns FROM nsup)),
        |so0 AS (
        |  SELECT c.cell, s.cell AS sup,
        |    row_number() OVER (PARTITION BY c.cell ORDER BY ROUND(
        |      list_sum(list_transform(list_zip(c.ce, s.ce),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(s.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |      DESC, s.cell) AS pr
        |  FROM cents c, sup s),
        |superof AS MATERIALIZED (
        |  SELECT cell, CASE WHEN cell < (SELECT ns FROM nsup)
        |    THEN cell ELSE sup END AS sup
        |  FROM so0 WHERE pr = 1),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, embedding, ina, sup FROM (
        |    SELECT e.vec_id, e.embedding, e.ina, s.cell AS sup,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(s.ce, e.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(s.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, s.cell) AS pr
        |    FROM src e, sup s)
        |  WHERE pr = 1),
        |assign AS MATERIALIZED (
        |  SELECT vec_id, embedding, ina, cell FROM (
        |    SELECT a.vec_id, a.embedding, a.ina, so.cell,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(c.ce, a.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, so.cell) AS rn
        |    FROM a1 a JOIN superof so ON so.sup = a.sup
        |      JOIN cents c ON c.cell = so.cell)
        |  WHERE rn = 1),
        |probed AS MATERIALIZED (
        |  SELECT vec_id, ina, qe, cell FROM (
        |    SELECT s.vec_id, s.ina, s.embedding AS qe, c.cell,
        |      row_number() OVER (PARTITION BY s.vec_id
        |        ORDER BY ROUND(
        |          list_sum(list_transform(list_zip(c.ce, s.embedding),
        |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |          / (sqrt(list_sum(list_transform(c.ce,
        |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(s.embedding,
        |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
        |          6) DESC, c.cell) AS pr
        |    FROM src s, cents c)
        |  WHERE pr <= 4),
        |sl AS MATERIALIZED (
        |  SELECT qid, nid, ina, cos FROM (
        |    SELECT qid, nid, ina, cos,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY cos DESC, nid) AS rk
        |    FROM (
        |      SELECT p.vec_id AS qid, a.vec_id AS nid, p.ina,
        |        CAST(ROUND(
        |          list_sum(list_transform(list_zip(a.embedding, p.qe),
        |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |          / (sqrt(list_sum(list_transform(a.embedding,
        |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(p.qe,
        |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
        |          6) AS DECIMAL(18,6)) AS cos
        |      FROM probed p JOIN assign a USING (cell)
        |      WHERE a.ina <> p.ina))
        |  WHERE rk <= 8),
        |p AS MATERIALIZED (
        |  SELECT DISTINCT
        |    CASE WHEN ina THEN qid ELSE nid END AS a_id,
        |    CASE WHEN ina THEN nid ELSE qid END AS b_id,
        |    cos
        |  FROM sl),
        |r AS (
        |  SELECT a_id, b_id, cos,
        |    CAST(cos * 1000000 AS BIGINT) AS mu,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |      ORDER BY cos DESC, b_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY b_id
        |      ORDER BY cos DESC, a_id) AS rb
        |  FROM p),
        |ma AS (
        |  SELECT a_id, CASE WHEN SUM(mu) >= 0
        |    THEN SUM(mu) // COUNT(*)
        |    ELSE -((-SUM(mu)) // COUNT(*)) END AS ma
        |  FROM r WHERE ra <= 4 GROUP BY 1),
        |mb AS (
        |  SELECT b_id, CASE WHEN SUM(mu) >= 0
        |    THEN SUM(mu) // COUNT(*)
        |    ELSE -((-SUM(mu)) // COUNT(*)) END AS mb
        |  FROM r WHERE rb <= 4 GROUP BY 1)
        |SELECT r.a_id, r.b_id, CAST(r.cos AS DOUBLE) AS cosine,
        |  CASE WHEN ma.ma + mb.mb > 0 THEN
        |    ROUND(2.0 * CAST(r.mu AS DOUBLE)
        |      / CAST(ma.ma + mb.mb AS DOUBLE), 6) END AS margin
        |FROM r JOIN ma ON ma.a_id = r.a_id
        |  JOIN mb ON mb.b_id = r.b_id
        |WHERE r.ra = 1 AND r.rb = 1""".stripMargin,

    // exact micro-unit sum vectors per (label, dim, slice); HUGEINT
    // dot/norm reductions, one double sqrt/division
    "e_centroid_drift" ->
      """WITH e AS (
        |  SELECT label, vec_id % 2 = 0 AS a, embedding
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |    AND vec_id IS NOT NULL),
        |c AS (
        |  SELECT label, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS n_b
        |  FROM e GROUP BY 1),
        |x AS (
        |  SELECT e.label, e.a, d.dim,
        |    CAST(CAST(ROUND(CAST(e.embedding[d.dim + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM e, (SELECT unnest(range(0, 64)) AS dim) d),
        |m AS (
        |  SELECT label, dim,
        |    SUM(CASE WHEN a THEN v ELSE 0 END) AS sa,
        |    SUM(CASE WHEN NOT a THEN v ELSE 0 END) AS sb
        |  FROM x GROUP BY 1, 2),
        |r AS (
        |  SELECT label, SUM(sa * sb) AS dot, SUM(sa * sa) AS na2,
        |    SUM(sb * sb) AS nb2
        |  FROM m GROUP BY 1)
        |SELECT c.label, CAST(c.n_a AS BIGINT) AS n_a,
        |  CAST(c.n_b AS BIGINT) AS n_b,
        |  CASE WHEN r.na2 > 0 AND r.nb2 > 0 THEN
        |    ROUND(CAST(r.dot AS DOUBLE) / SQRT(CAST(r.na2 AS DOUBLE)
        |      * CAST(r.nb2 AS DOUBLE)), 6) END AS cosine
        |FROM c LEFT JOIN r ON r.label = c.label""".stripMargin,

    // all 3 LPA rounds unrolled; argmax = ROW_NUMBER (count desc,
    // label) — the same deterministic tiebreak as the Spark window
    "g_labelprop" -> {
      val base =
        """WITH tk AS (
          |  SELECT doc_id, list_filter(
          |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
          |  FROM documents),
          |t0 AS (
          |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
          |  FROM tk),
          |cooc AS (
          |  SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2
          |  FROM t0 a JOIN t0 b
          |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
          |e0 AS MATERIALIZED (SELECT DISTINCT t1 AS u, t2 AS v
          |       FROM cooc WHERE t1 <> t2),
          |adj AS MATERIALIZED (
          |  SELECT u AS n, v AS m FROM e0
          |  UNION ALL SELECT v AS n, u AS m FROM e0),
          |l0 AS MATERIALIZED (
          |  SELECT node, node AS label FROM
          |    (SELECT u AS node FROM e0 UNION SELECT v FROM e0))"""
          .stripMargin
      val roundsSql = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT a.n, l.label, COUNT(*) AS c
           |  FROM adj a JOIN l${i - 1} l ON l.node = a.m
           |  GROUP BY 1, 2),
           |l$i AS MATERIALIZED (
           |  SELECT n AS node, label FROM (
           |    SELECT n, label, ROW_NUMBER() OVER (
           |      PARTITION BY n ORDER BY c DESC, label) AS r
           |    FROM c$i) WHERE r = 1)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$roundsSql
         |SELECT node, label AS community FROM l3""".stripMargin
    },

    // both PageRank rounds replayed: exact long/long out-probs
    // rounded once, decimal rank·p sums, dangling mass redistributed;
    // every double literal forced to DOUBLE so the teleport constant
    // folds to the same IEEE value as Spark's lit(1.0) - lit(0.85)
    // both PPR rounds replayed: seed restart vector s (uniform over
    // the in-graph cohort), dangling mass times s, round-6 iterates
    "g_ppr" -> {
      val base =
        """WITH e AS (
          |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |    's' || CAST(l_suppkey AS VARCHAR) AS dst,
          |    COUNT(*) AS w
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2),
          |p AS (
          |  SELECT src, dst,
          |    CAST(ROUND(CAST(w AS DOUBLE) /
          |      CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE), 6)
          |      AS DECIMAL(18,6)) AS p
          |  FROM e),
          |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |srcs AS (SELECT DISTINCT src AS node FROM e),
          |sd AS (
          |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
          |  FROM customer WHERE c_nationkey = 1),
          |sdg AS (SELECT node FROM sd WHERE node IN
          |  (SELECT node FROM nodes)),
          |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sdg),
          |sv AS (
          |  SELECT nodes.node,
          |    CASE WHEN sdg.node IS NOT NULL THEN
          |      CAST(ROUND(CAST(1.0 AS DOUBLE) / CAST(ns.ns AS DOUBLE),
          |        6) AS DECIMAL(18,6))
          |    ELSE CAST(0 AS DECIMAL(18,6)) END AS s
          |  FROM nodes LEFT JOIN sdg ON sdg.node = nodes.node, ns),
          |r0 AS (SELECT node, s AS r FROM sv)""".stripMargin
      val rounds = (1 to 2).map { k =>
        s"""d$k AS (
  SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(18,6)) AS dang
  FROM r${k - 1} WHERE node NOT IN (SELECT node FROM srcs)),
c$k AS (
  SELECT p.dst AS node,
    CAST(SUM(CAST(ROUND(r${k - 1}.r * p.p, 6) AS DECIMAL(18,6)))
      AS DECIMAL(18,6)) AS c
  FROM p JOIN r${k - 1} ON p.src = r${k - 1}.node GROUP BY 1),
r$k AS (
  SELECT sv.node,
    CAST(ROUND(
      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
        * CAST(sv.s AS DOUBLE)
      + CAST(0.85 AS DOUBLE) *
        (CAST(COALESCE(c$k.c, CAST(0 AS DECIMAL(18,6))) AS DOUBLE)
         + CAST(d$k.dang AS DOUBLE) * CAST(sv.s AS DOUBLE)), 6)
      AS DECIMAL(18,6)) AS r
  FROM sv LEFT JOIN c$k ON c$k.node = sv.node, d$k)"""
      }.mkString(",\n")
      s"$base,\n$rounds\nSELECT node, CAST(r AS DOUBLE) AS ppr FROM r2"
    },

    "g_pagerank" ->
      (s"""WITH e AS (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst,
        |    COUNT(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),""".stripMargin + "\n" +
        PageRankReplayChassis),

    // link graph: the pages rebuilt in SQL, the SAME HrefRegex
    // (interpolated from HtmlOps' constant) re-extracted, absolute
    // links host-resolved via the hostOf chain, then g_pagerank's
    // 2-round replay chassis verbatim over the link edges
    "t_link_graph" -> (
      s"""WITH d0 AS (
        |  SELECT doc_id, text, doc_id % 4 AS m FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |hosts(hm, h) AS (VALUES (0, 'alpha.example.com'),
        |  (1, 'site-b.co.uk'), (2, 'blog.blogspot.com'),
        |  (3, 'gamma.org')),
        |pg AS (
        |  SELECT hs.h AS src_host,
        |    '<html><body><p>' || text ||
        |    '</p><a class="x" href="https://' || h1.h ||
        |    '/out1">a</a><a href=''https://' || h2.h ||
        |    '/out2''>b</a><a href="#top">t</a>' ||
        |    '<a href="/rel">r</a></body></html>' AS html
        |  FROM d0 JOIN hosts hs ON hs.hm = d0.m
        |  JOIN hosts h1 ON h1.hm = (d0.m + 1) % 4
        |  JOIN hosts h2 ON h2.hm = (d0.m + 2) % 4),
        |lk AS (
        |  SELECT src_host, unnest(regexp_extract_all(html,
        |    '${graft.text.HtmlOps.HrefRegex.replace("'", "''")}', 1))
        |    AS link
        |  FROM pg),
        |ab AS (SELECT src_host, link FROM lk
        |       WHERE regexp_matches(link, '^https?://')),
        |ho AS (
        |  SELECT src_host, regexp_replace(regexp_replace(
        |    regexp_replace(regexp_extract(link,
        |      '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
        |      '^[^/?#]*@', ''), ':[0-9]*$$', ''), '\\.+$$', '')
        |    AS dst_host
        |  FROM ab),
        |e AS (SELECT src_host AS src, dst_host AS dst, COUNT(*) AS w
        |      FROM ho GROUP BY 1, 2),""".stripMargin + "\n" +
      PageRankReplayChassis),

    "t_glove_cooccur" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |t0 AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
        |  FROM tk)
        |SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(CAST(1 AS DOUBLE) / (b.i - a.i), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS weight
        |FROM t0 a JOIN t0 b
        |  ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    // init + BOTH TextRank rounds replayed: same edge weights, same
    // IEEE double base/damping arithmetic, same round-12 decimal
    // contribution sums — loop-carried state pinned like e_kmeans
    "t_textrank" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |t0 AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
        |  FROM tk),
        |p AS (
        |  SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2,
        |    COUNT(*) AS n
        |  FROM t0 a JOIN t0 b
        |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2
        |  WHERE a.tok <> b.tok
        |  GROUP BY 1, 2),
        |e AS (SELECT t1 AS src, t2 AS dst, n FROM p
        |      UNION ALL SELECT t2 AS src, t1 AS dst, n FROM p),
        |ew AS (SELECT src, dst, n,
        |         SUM(n) OVER (PARTITION BY src) AS ow FROM e),
        |nn AS (SELECT COUNT(DISTINCT src) AS cnt FROM e),
        |r0 AS (SELECT DISTINCT src AS term FROM e),
        |r0r AS (SELECT term, CAST(1 AS DOUBLE) / nn.cnt AS r FROM r0, nn),
        |r1 AS (
        |  SELECT ew.dst AS term,
        |    (1 - CAST(0.85 AS DOUBLE)) / nn.cnt + CAST(0.85 AS DOUBLE) *
        |      CAST(SUM(CAST(ROUND(ew.n / ew.ow * r.r, 12)
        |        AS DECIMAL(28,12))) AS DOUBLE) AS r
        |  FROM ew JOIN r0r r ON r.term = ew.src, nn
        |  GROUP BY ew.dst, nn.cnt),
        |r2 AS (
        |  SELECT ew.dst AS term,
        |    (1 - CAST(0.85 AS DOUBLE)) / nn.cnt + CAST(0.85 AS DOUBLE) *
        |      CAST(SUM(CAST(ROUND(ew.n / ew.ow * r.r, 12)
        |        AS DECIMAL(28,12))) AS DOUBLE) AS r
        |  FROM ew JOIN r1 r ON r.term = ew.src, nn
        |  GROUP BY ew.dst, nn.cnt)
        |SELECT term, ROUND(r, 6) AS rank FROM r2
        |ORDER BY rank DESC, term LIMIT 20""".stripMargin,

    "t_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term), n)
        |SELECT term, doc_id, tf, df, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |       ORDER BY tfidf DESC, term) AS INT) AS rnk
        |FROM scored QUALIFY rnk <= 3""".stripMargin,

    // Identical seeded permutation recomputed from the portable hash.
    "t_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id + 7) % 2147483647) * 2654435761 % 2147483647 AS hv
        |  FROM documents)
        |SELECT doc_id, hv % 32 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 32
        |    ORDER BY hv, doc_id) AS BIGINT) AS pos_in_shard
        |FROM h""".stripMargin,

    "t_hash_split" ->
      """SELECT source,
        |  CASE WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647
        |         % 100 < 90 THEN 'train'
        |       WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647
        |         % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "f_array_ops" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  array_to_string(list_sort(list_distinct(tk))[1:5], ' ') AS first5,
        |  list_contains(tk, 'the') AS has_the,
        |  array_to_string(list_reverse(tk[1:3]), ' ') AS rev3
        |FROM t""".stripMargin,

    "t_cap_per_domain" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647,
        |             doc_id) AS rn
        |  FROM documents) WHERE rn <= 15""".stripMargin,

    "t_kwic" ->
      """WITH tkn AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |  COALESCE(array_to_string(tk[greatest(i - 3, 0) + 1 : i], ' '),
        |           '') AS left_ctx,
        |  COALESCE(array_to_string(tk[i + 2 : i + 4], ' '), '')
        |    AS right_ctx
        |FROM tkn, unnest(range(len(tk))) AS u(i)
        |WHERE tk[i + 1] = 'window'""".stripMargin,

    // independent formulation: direct adjacency on the token array
    "t_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS start_pos
        |FROM t, unnest(range(greatest(len(w) - 1, 0))) AS u(i)
        |WHERE w[i + 1] = 'table' AND w[i + 2] = 'part'""".stripMargin,

    // the identical A-ES key: u from the portable hash, ln(u)/w
    // round-6, id tiebreak
    "t_weighted_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |  ROUND(ln((CAST(((doc_id % 2147483647) * 2654435761)
        |                 % 2147483647 AS DOUBLE) + 1.0) / 2147483648.0)
        |        / CAST(n_chars AS DOUBLE), 6) AS sample_key
        |FROM documents WHERE n_chars > 0
        |ORDER BY sample_key DESC, doc_id
        |LIMIT 50""".stripMargin,

    "t_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, ts,
        |    unnest(range(0, CAST(ceil(len(ts) / 48.0) AS INT))) AS ci
        |  FROM toks WHERE len(ts) > 0)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |  CAST(LEAST(64, len(ts) - ci * 48) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(ts[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
        |FROM ch""".stripMargin,

    "t_corpus_report" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens,
        |    ROUND(
        |      0.4 * (CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) BETWEEN 20 AND 100000 THEN 1.0
        |                  WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) >= 5 THEN 0.5 ELSE 0.0 END)
        |      + 0.4 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)
        |      + 0.2 * (CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) > 0 AND
        |          CAST(len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''), x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','this','that'))) AS DOUBLE)
        |            / len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) > 0.01
        |          THEN 1.0 ELSE 0.0 END), 6) AS q,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS nrm
        |  FROM documents),
        |dup AS (SELECT nrm, COUNT(*) AS n FROM d GROUP BY nrm)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CAST(q AS DECIMAL(16,6))) AS DOUBLE) AS sum_q,
        |  CAST(SUM(CAST(q AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*)
        |    AS mean_quality,
        |  CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality_pass,
        |  CAST(SUM(CASE WHEN dup.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs
        |FROM d JOIN dup USING (nrm)
        |GROUP BY source""".stripMargin,

    "t_bigram_surprise" ->
      """WITH b AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(tk[i:i+1], ' ')
        |              FOR i IN range(1, len(tk))]) AS bg
        |    FROM (SELECT doc_id, list_filter(
        |        string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x <> '') AS tk
        |      FROM documents)
        |    WHERE len(tk) >= 2)),
        |cb AS (SELECT bg, COUNT(*) AS cb FROM b GROUP BY bg),
        |cp AS (SELECT w1, COUNT(*) AS cp FROM b GROUP BY w1)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(ROUND(-ln(CAST(cb.cb AS DOUBLE) / cp.cp), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_surprise
        |FROM b JOIN cb USING (bg) JOIN cp USING (w1)
        |GROUP BY b.doc_id""".stripMargin,


    // entropy: identical per-term contribution and rounding discipline
    "t_doc_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |pt AS (SELECT doc_id, term, COUNT(*) AS n
        |       FROM toks GROUP BY doc_id, term),
        |wt AS (SELECT doc_id, term, n,
        |         CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS nn
        |       FROM pt)
        |SELECT doc_id, MAX(nn) AS n_tokens,
        |  CAST(SUM(CAST(ROUND(
        |    -(CAST(n AS DOUBLE) / nn) * ln(CAST(n AS DOUBLE) / nn), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS entropy
        |FROM wt GROUP BY doc_id""".stripMargin,

    // BPE merges: three UNROLLED iterations — per round, the argmax
    // pair (count desc, pair text asc) and a greedy non-overlapping
    // rewrite: candidate runs (only possible when l = r) keep
    // alternating members (gaps-and-islands parity), which equals the
    // engine's left-to-right fold exactly
    "t_bpe_merges" ->
      """WITH t0 AS (
        |  SELECT doc_id AS id, unnest(range(1, len(tk) + 1)) AS i,
        |    unnest(tk) AS tok
        |  FROM (SELECT doc_id, list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tk
        |    FROM documents)),
        |m1 AS (
        |  SELECT a.tok AS l, b.tok AS r, COUNT(*) AS n
        |  FROM t0 a JOIN t0 b ON a.id = b.id AND b.i = a.i + 1
        |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
        |t1_cand AS (
        |  SELECT a.id, a.i,
        |    a.i - ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY a.i) AS grp
        |  FROM t0 a JOIN t0 b ON a.id = b.id AND b.i = a.i + 1, m1 m
        |  WHERE a.tok = m.l AND b.tok = m.r),
        |t1_keep AS (
        |  SELECT id, i FROM (
        |    SELECT id, i,
        |      ROW_NUMBER() OVER (PARTITION BY id, grp ORDER BY i) - 1 AS off
        |    FROM t1_cand)
        |  WHERE off % 2 = 0),
        |t1 AS (
        |  SELECT t.id,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.i) AS i,
        |    CASE WHEN k.i IS NOT NULL THEN t.tok || ' ' || nx.tok
        |         ELSE t.tok END AS tok
        |  FROM t0 t
        |  LEFT JOIN t1_keep k ON t.id = k.id AND t.i = k.i
        |  LEFT JOIN t0 nx ON t.id = nx.id AND nx.i = t.i + 1
        |  LEFT JOIN t1_keep kp ON t.id = kp.id AND t.i = kp.i + 1
        |  WHERE kp.i IS NULL),
        |m2 AS (
        |  SELECT a.tok AS l, b.tok AS r, COUNT(*) AS n
        |  FROM t1 a JOIN t1 b ON a.id = b.id AND b.i = a.i + 1
        |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
        |t2_cand AS (
        |  SELECT a.id, a.i,
        |    a.i - ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY a.i) AS grp
        |  FROM t1 a JOIN t1 b ON a.id = b.id AND b.i = a.i + 1, m2 m
        |  WHERE a.tok = m.l AND b.tok = m.r),
        |t2_keep AS (
        |  SELECT id, i FROM (
        |    SELECT id, i,
        |      ROW_NUMBER() OVER (PARTITION BY id, grp ORDER BY i) - 1 AS off
        |    FROM t2_cand)
        |  WHERE off % 2 = 0),
        |t2 AS (
        |  SELECT t.id,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY t.i) AS i,
        |    CASE WHEN k.i IS NOT NULL THEN t.tok || ' ' || nx.tok
        |         ELSE t.tok END AS tok
        |  FROM t1 t
        |  LEFT JOIN t2_keep k ON t.id = k.id AND t.i = k.i
        |  LEFT JOIN t1 nx ON t.id = nx.id AND nx.i = t.i + 1
        |  LEFT JOIN t2_keep kp ON t.id = kp.id AND t.i = kp.i + 1
        |  WHERE kp.i IS NULL),
        |m3 AS (
        |  SELECT a.tok AS l, b.tok AS r, COUNT(*) AS n
        |  FROM t2 a JOIN t2 b ON a.id = b.id AND b.i = a.i + 1
        |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS INT) AS rank, l AS "left", r AS "right",
        |  n AS pair_count FROM m1
        |UNION ALL SELECT CAST(2 AS INT), l, r, n FROM m2
        |UNION ALL SELECT CAST(3 AS INT), l, r, n FROM m3""".stripMargin,

    // interpolated LM: SAME expression shape as the Spark side —
    // 0.7*(cb/cp) + 0.3*(cu/T), one rounding per op, round-6 before sum
    "t_lm_interpolated" ->
      """WITH b AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(tk[i:i+1], ' ')
        |              FOR i IN range(1, len(tk))]) AS bg
        |    FROM (SELECT doc_id, list_filter(
        |        string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x <> '') AS tk
        |      FROM documents)
        |    WHERE len(tk) >= 2)),
        |cb AS (SELECT bg, COUNT(*) AS cb FROM b GROUP BY bg),
        |cp AS (SELECT w1, COUNT(*) AS cp FROM b GROUP BY w1),
        |toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))
        |    AS w2
        |  FROM documents),
        |cu AS (SELECT w2, COUNT(*) AS cu FROM toks GROUP BY w2),
        |tot AS (SELECT COUNT(*) AS t FROM toks)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CAST(ROUND(-ln(
        |      0.7 * (CAST(cb.cb AS DOUBLE) / cp.cp) +
        |      0.3 * (CAST(cu.cu AS DOUBLE) / tot.t)), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_nll
        |FROM b JOIN cb USING (bg) JOIN cp USING (w1) JOIN cu USING (w2),
        |  tot
        |GROUP BY b.doc_id""".stripMargin,

    "t_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
        |tot AS (SELECT SUM(tf) AS t FROM freq)
        |SELECT toks.doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(ROUND(-ln(CAST(freq.tf AS DOUBLE) / tot.t), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_surprise
        |FROM toks JOIN freq USING (term), tot
        |GROUP BY toks.doc_id""".stripMargin,

    // DSIR: identical hashed-unigram LLR — same poly-hash char fold,
    // same add-one smoothing, round-6 per bucket before the decimal sum
    "t_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS t, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |vb AS (
        |  SELECT term,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647) % 4096 AS b
        |  FROM (SELECT DISTINCT term FROM toks)),
        |tb AS (SELECT toks.doc_id, toks.t, vb.b FROM toks JOIN vb USING (term)),
        |cnt AS (SELECT b, COUNT(*) AS ns,
        |          COUNT(*) FILTER (WHERE t) AS nt FROM tb GROUP BY b),
        |tot AS (SELECT SUM(ns) AS ts, SUM(nt) AS tt FROM cnt),
        |lr AS (SELECT b, ROUND(ln((nt + 1.0) / (tt + 4096.0))
        |                     - ln((ns + 1.0) / (ts + 4096.0)), 6) AS lr
        |       FROM cnt, tot)
        |SELECT tb.doc_id,
        |  CAST(SUM(CAST(lr AS DECIMAL(28,6))) AS DOUBLE) AS log_weight,
        |  COUNT(*) AS n_tokens
        |FROM tb JOIN lr USING (b) GROUP BY tb.doc_id""".stripMargin,

    "t_block_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(range(len(w))) AS i, w FROM t),
        |blk AS (
        |  SELECT doc_id, i // 3 AS b,
        |    string_agg(w[i + 1], ' ' ORDER BY i) AS btxt
        |  FROM tok GROUP BY 1, 2),
        |freq AS (SELECT btxt, COUNT(*) AS n FROM blk GROUP BY 1),
        |sel AS (SELECT blk.doc_id, blk.b, blk.btxt, freq.n
        |        FROM blk JOIN freq USING (btxt))
        |SELECT doc_id,
        |  string_agg(btxt, ' ' ORDER BY b) FILTER (WHERE n < 5) AS text,
        |  CAST(COUNT(*) FILTER (WHERE n >= 5) AS BIGINT) AS n_removed
        |FROM sel GROUP BY doc_id
        |HAVING COUNT(*) FILTER (WHERE n < 5) > 0""".stripMargin,

    "t_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i, array_to_string(w[i + 1:i + 8], ' ') AS gram
        |  FROM t, unnest(range(greatest(len(w) - 7, 0))) AS u(i)),
        |c AS (
        |  SELECT doc_id, i,
        |    COUNT(*) OVER (PARTITION BY md5(gram)) AS n
        |  FROM g),
        |d AS (
        |  SELECT doc_id, i,
        |    i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM c WHERE n >= 2)
        |SELECT doc_id,
        |  CAST(MIN(i) AS BIGINT) AS start_tok,
        |  CAST(MAX(i) + 7 AS BIGINT) AS end_tok,
        |  CAST(MAX(i) - MIN(i) + 8 AS BIGINT) AS span_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM d GROUP BY doc_id, grp""".stripMargin,

    "t_dup_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i, array_to_string(w[i + 1:i + 8], ' ') AS gram
        |  FROM t, unnest(range(greatest(len(w) - 7, 0))) AS u(i)),
        |c AS (
        |  SELECT doc_id, i,
        |    COUNT(*) OVER (PARTITION BY md5(gram)) AS n
        |  FROM g),
        |cov AS (
        |  SELECT DISTINCT doc_id, i + d AS p
        |  FROM c, unnest(range(8)) AS v(d) WHERE n >= 2),
        |tok AS (
        |  SELECT doc_id, i AS p, w[i + 1] AS tok
        |  FROM t, unnest(range(len(w))) AS u(i))
        |SELECT tok.doc_id,
        |  string_agg(tok.tok, ' ' ORDER BY tok.p)
        |    FILTER (WHERE cov.p IS NULL) AS text,
        |  CAST(COUNT(cov.p) AS BIGINT) AS n_removed
        |FROM tok LEFT JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |GROUP BY tok.doc_id
        |HAVING COUNT(*) FILTER (WHERE cov.p IS NULL) > 0""".stripMargin,

    "t_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CASE WHEN len(w) > 0 THEN round(
        |      CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |        / len(w), 6) END AS mean_word_len,
        |    CASE WHEN len(w) > 0 THEN round(
        |      CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |        AS DOUBLE) / len(w), 6) END AS alpha_word_frac,
        |    CASE WHEN len(w) > 0 THEN round(
        |      CAST(length(text) - length(replace(text, '#', ''))
        |        + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |        / len(w), 6) END AS symbol_ratio,
        |    CAST(len(list_distinct(list_filter(
        |      list_transform(w, x -> lower(x)),
        |      x -> x IN ('the','be','to','of','and','that','have','with')
        |    ))) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
        |  symbol_ratio, stop_hits,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  COALESCE(mean_word_len BETWEEN 3 AND 10, FALSE)
        |    AS r_mean_word_len,
        |  COALESCE(alpha_word_frac > 0.8, FALSE) AS r_alpha_words,
        |  COALESCE(symbol_ratio < 0.1, FALSE) AS r_symbol_ratio,
        |  stop_hits >= 2 AS r_stopwords,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND COALESCE(mean_word_len BETWEEN 3 AND 10, FALSE)
        |    AND COALESCE(alpha_word_frac > 0.8, FALSE)
        |    AND COALESCE(symbol_ratio < 0.1, FALSE)
        |    AND stop_hits >= 2 AS keep
        |FROM m""".stripMargin,

    "t_bm25" ->
      """WITH q AS (
        |  SELECT unnest(['spark', 'join', 'filter', 'window']) AS term),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(len(w)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, len(w) AS dl, u.tok AS term, COUNT(*) AS tf
        |  FROM d, UNNEST(w) AS u(tok) JOIN q ON u.tok = q.term
        |  GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id,
        |  CAST(SUM(CAST(ROUND(
        |    ln((n - df + 0.5) / (df + 0.5) + 1) * tf
        |      * (CAST(1.2 AS DOUBLE) + 1)
        |      / (tf + CAST(1.2 AS DOUBLE) * ((1 - CAST(0.75 AS DOUBLE))
        |          + CAST(0.75 AS DOUBLE) * dl / avgdl)), 6)
        |  AS DECIMAL(28,6))) AS DOUBLE) AS bm25
        |FROM tf JOIN dfreq USING (term), stats
        |GROUP BY 1""".stripMargin,

    // both arms replayed (bm25 + brute cosine), ranked with id
    // tiebreaks, contributions 1/(60+rank) rounded 6, decimal-summed
    "t_rrf_fusion" ->
      """WITH q AS (
        |  SELECT unnest(['spark', 'join', 'filter', 'window']) AS term),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(len(w)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, len(w) AS dl, u.tok AS term, COUNT(*) AS tf
        |  FROM d, UNNEST(w) AS u(tok) JOIN q ON u.tok = q.term
        |  GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |lex AS (
        |  SELECT tf.doc_id,
        |    CAST(SUM(CAST(ROUND(
        |      ln((n - df + 0.5) / (df + 0.5) + 1) * tf
        |        * (CAST(1.2 AS DOUBLE) + 1)
        |        / (tf + CAST(1.2 AS DOUBLE) * ((1 - CAST(0.75 AS DOUBLE))
        |            + CAST(0.75 AS DOUBLE) * dl / avgdl)), 6)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS bm25
        |  FROM tf JOIN dfreq USING (term), stats
        |  GROUP BY 1),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sem0 AS (
        |  SELECT e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, qv.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS ne,
        |    sqrt(list_sum(list_transform(qv.qe,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        |  FROM embeddings e, qv WHERE e.vec_id <> 0),
        |sem AS (
        |  SELECT neighbor_id, ROUND(dot / (ne * nq), 6) AS cos_sim
        |  FROM sem0 ORDER BY cos_sim DESC, neighbor_id LIMIT 50),
        |lrank AS (
        |  SELECT doc_id AS id,
        |    CAST(ROUND(CAST(1 AS DOUBLE) /
        |      (60 + ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)), 6)
        |      AS DECIMAL(18,6)) AS c
        |  FROM lex),
        |srank AS (
        |  SELECT neighbor_id AS id,
        |    CAST(ROUND(CAST(1 AS DOUBLE) /
        |      (60 + ROW_NUMBER() OVER (ORDER BY cos_sim DESC,
        |                               neighbor_id)), 6)
        |      AS DECIMAL(18,6)) AS c
        |  FROM sem),
        |u AS (SELECT * FROM lrank UNION ALL SELECT * FROM srank)
        |SELECT id AS doc_id, CAST(SUM(c) AS DOUBLE) AS rrf,
        |  CAST(COUNT(*) AS BIGINT) AS arms_hit
        |FROM u GROUP BY 1 ORDER BY rrf DESC, id LIMIT 20""".stripMargin,

    "t_length_filter" ->
      """WITH wc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |bounds AS (
        |  SELECT quantile_cont(n_tokens, 0.05) AS lo,
        |         quantile_cont(n_tokens, 0.95) AS hi
        |  FROM wc)
        |SELECT doc_id, n_tokens FROM wc, bounds
        |WHERE n_tokens >= lo AND n_tokens <= hi""".stripMargin,

    "t_length_filter_approx" ->
      """WITH wc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |bounds AS (
        |  SELECT quantile_disc(n_tokens, 0.05) AS lo,
        |         quantile_disc(n_tokens, 0.95) AS hi
        |  FROM wc)
        |SELECT doc_id, n_tokens FROM wc, bounds
        |WHERE n_tokens >= lo AND n_tokens <= hi""".stripMargin,

    "w1_fill_downup" ->
      """WITH src AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |  COALESCE(
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v
        |FROM src""".stripMargin,

    "w2_lead_episodes" ->
      """SELECT event_id, user_id, ts,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS stop_ts
        |FROM events""".stripMargin,

    "w3_interval_shift" ->
      "SELECT event_id, ts - INTERVAL 1 HOUR AS ts_minus_1h FROM events",

    "o1_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "u1_union" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE year(l_shipdate) = 1995
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE year(l_shipdate) = 1997""".stripMargin,

    "u2_union_by_name" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |  'customer' AS src, CAST(NULL AS INT) AS nationkey
        |FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE), 'supplier', CAST(s_nationkey AS INT)
        |FROM supplier""".stripMargin,

    "u3_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,

    "u4_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,

    "r1_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin,

    "r2_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "r3_separate" ->
      """SELECT o_orderkey, split_part(o_orderpriority, '-', 1) AS prio_code,
        |  split_part(o_orderpriority, '-', 2) AS prio_label
        |FROM orders""".stripMargin,

    "r4_explode" ->
      "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part",

    "f_string" ->
      """SELECT p_partkey, UPPER(p_type) AS type_u, substr(p_name, 1, 3) AS name3,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part""".stripMargin,

    "f_parse_number" ->
      """SELECT event_id,
        |  TRY_CAST(array_to_string(regexp_extract_all(props, '[0-9.]+'), '') AS DOUBLE)
        |    AS num_in_props,
        |  trim(regexp_replace(regexp_replace(props, '[{}":]', '', 'g'), '[0-9.]+', '', 'g'))
        |    AS unit_in_props
        |FROM events""".stripMargin,

    "f_datetime" ->
      """SELECT event_id,
        |  CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |  CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
        |  date_trunc('day', ts) AS day_ts,
        |  CAST(CAST(ts AS DATE) AS VARCHAR) AS day_date,
        |  strftime(ts, '%Y-%m') AS ym
        |FROM events""".stripMargin,

    "f_conditional" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 1000 THEN 'low'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        |  LEAST(GREATEST(c_acctbal, 0), 5000) AS clamped,
        |  CASE WHEN c_mktsegment IS NULL OR c_mktsegment = '' THEN 'UNKNOWN'
        |       ELSE c_mktsegment END AS seg
        |FROM customer""".stripMargin,

    "f_hash_id" ->
      "SELECT c_custkey, sha256(c_name) AS id_hash FROM customer",

    "f_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.missing') AS m
        |FROM events""".stripMargin,

    // the JSON payload is built from typed columns and parsed back, so
    // the oracle recomputes the fields directly (double roundtrip via
    // to_json/from_json is bit-exact: shortest-roundtrip printing)
    "f_json_multi" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  event_type AS ty, user_id AS uid, value AS v
        |FROM events""".stripMargin,

    "t_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_c,
        |  ROUND(CAST(list_sum(list_transform(
        |      list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
        |      x -> length(x))) AS DOUBLE)
        |    / len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 6)
        |    AS mean_token_len
        |FROM documents""".stripMargin,

    "t_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tl
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(tl, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','this','that'))) AS BIGINT) AS n_stopwords,
        |  CASE WHEN len(tl) = 0 THEN 0.0 ELSE
        |    ROUND(CAST(len(list_filter(tl, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','this','that'))) AS DOUBLE) / len(tl), 6) END AS stopword_ratio,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 6) END AS alpha_ratio
        |FROM toks""".stripMargin,

    "t_langid" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tl
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tl, x -> x IN ('the','and','of','to','a','in','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(tl, x -> x IN ('el','la','de','que','y','en','los'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(tl, x -> x IN ('le','la','de','et','un','les','des'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(tl, x -> x IN ('der','die','und','das','ein','ist','nicht'))) AS BIGINT) AS s_de
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
        |       WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
        |       WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
        |       WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
        |       ELSE 'de' END AS lang_pred
        |FROM scores""".stripMargin,

    // corpus BLEU-4: same candidate construction (drop 1-based token
    // positions divisible by 7 — DuckDB list_filter's lambda index is
    // 1-based, Spark's 0-based, hence i % 7 here vs (i+1) % 7 there),
    // clipped matches as exact BIGINTs, ln/exp geometric mean with
    // the ENGINE's left-fold association ((a1+a2)+a3)+a4 spelled in
    // explicit parens (double addition is not associative)
    "t_bleu" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> ''), (x, i) -> i % 7 <> 0) AS ca,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS ra
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |cg AS MATERIALIZED (
        |  SELECT doc_id, n, gram, COUNT(*) AS cc FROM (
        |    SELECT doc_id, n, unnest(list_transform(
        |      range(1, len(ca) - n + 2),
        |      i -> array_to_string(ca[i:i+n-1], ' '))) AS gram
        |    FROM d, range(1, 5) t(n))
        |  GROUP BY 1, 2, 3),
        |rg AS MATERIALIZED (
        |  SELECT doc_id, n, gram, COUNT(*) AS rc FROM (
        |    SELECT doc_id, n, unnest(list_transform(
        |      range(1, len(ra) - n + 2),
        |      i -> array_to_string(ra[i:i+n-1], ' '))) AS gram
        |    FROM d, range(1, 5) t(n))
        |  GROUP BY 1, 2, 3),
        |po AS (
        |  SELECT cg.n,
        |    CAST(SUM(LEAST(cg.cc, COALESCE(rg.rc, 0))) AS BIGINT) AS m,
        |    CAST(SUM(cg.cc) AS BIGINT) AS t
        |  FROM cg LEFT JOIN rg
        |    ON rg.doc_id = cg.doc_id AND rg.n = cg.n AND rg.gram = cg.gram
        |  GROUP BY 1),
        |wide AS (
        |  SELECT MAX(CASE WHEN n = 1 THEN m END) AS m1,
        |    MAX(CASE WHEN n = 1 THEN t END) AS t1,
        |    MAX(CASE WHEN n = 2 THEN m END) AS m2,
        |    MAX(CASE WHEN n = 2 THEN t END) AS t2,
        |    MAX(CASE WHEN n = 3 THEN m END) AS m3,
        |    MAX(CASE WHEN n = 3 THEN t END) AS t3,
        |    MAX(CASE WHEN n = 4 THEN m END) AS m4,
        |    MAX(CASE WHEN n = 4 THEN t END) AS t4
        |  FROM po),
        |lens AS (
        |  SELECT CAST(SUM(len(ca)) AS BIGINT) AS cand_len,
        |    CAST(SUM(len(ra)) AS BIGINT) AS ref_len FROM d),
        |bpv AS (
        |  SELECT *, CASE WHEN cand_len >= ref_len THEN 1.0
        |    ELSE exp(1 - CAST(ref_len AS DOUBLE)
        |      / CAST(cand_len AS DOUBLE)) END AS bp0
        |  FROM wide, lens)
        |SELECT m1, t1, m2, t2, m3, t3, m4, t4, cand_len, ref_len,
        |  ROUND(bp0, 6) AS bp,
        |  CASE WHEN COALESCE(m1, 0) = 0 OR COALESCE(m2, 0) = 0
        |         OR COALESCE(m3, 0) = 0 OR COALESCE(m4, 0) = 0 THEN 0.0
        |    ELSE ROUND(bp0 * exp((((
        |      (ln(CAST(m1 AS DOUBLE)) - ln(CAST(t1 AS DOUBLE)))
        |      + (ln(CAST(m2 AS DOUBLE)) - ln(CAST(t2 AS DOUBLE))))
        |      + (ln(CAST(m3 AS DOUBLE)) - ln(CAST(t3 AS DOUBLE))))
        |      + (ln(CAST(m4 AS DOUBLE)) - ln(CAST(t4 AS DOUBLE))))
        |      / 4), 6) END AS bleu
        |FROM bpv""".stripMargin,

    // per-doc ROUGE-1/2: rows defined by the candidate gram frame
    // (identical construction both engines); F1 is the exact fraction
    // 2m/(ct+rt) — algebraically 2PR/(P+R), one rounding
    "t_rouge" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> ''), (x, i) -> i % 7 <> 0) AS ca,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS ra
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |cg AS MATERIALIZED (
        |  SELECT doc_id, n, gram, COUNT(*) AS cc FROM (
        |    SELECT doc_id, n, unnest(list_transform(
        |      range(1, len(ca) - n + 2),
        |      i -> array_to_string(ca[i:i+n-1], ' '))) AS gram
        |    FROM d, range(1, 3) t(n))
        |  GROUP BY 1, 2, 3),
        |rg AS MATERIALIZED (
        |  SELECT doc_id, n, gram, COUNT(*) AS rc FROM (
        |    SELECT doc_id, n, unnest(list_transform(
        |      range(1, len(ra) - n + 2),
        |      i -> array_to_string(ra[i:i+n-1], ' '))) AS gram
        |    FROM d, range(1, 3) t(n))
        |  GROUP BY 1, 2, 3),
        |rt AS (
        |  SELECT doc_id, n, CAST(SUM(rc) AS BIGINT) AS n_ref
        |  FROM rg GROUP BY 1, 2),
        |pm AS (
        |  SELECT cg.doc_id, cg.n,
        |    CAST(SUM(LEAST(cg.cc, COALESCE(rg.rc, 0))) AS BIGINT) AS n_match,
        |    CAST(SUM(cg.cc) AS BIGINT) AS n_cand
        |  FROM cg LEFT JOIN rg
        |    ON rg.doc_id = cg.doc_id AND rg.n = cg.n AND rg.gram = cg.gram
        |  GROUP BY 1, 2)
        |SELECT pm.doc_id, pm.n AS ord, pm.n_match, pm.n_cand,
        |  COALESCE(rt.n_ref, 0) AS n_ref,
        |  ROUND(CAST(pm.n_match AS DOUBLE)
        |    / CAST(pm.n_cand AS DOUBLE), 6) AS precision,
        |  CASE WHEN COALESCE(rt.n_ref, 0) = 0 THEN 0.0
        |    ELSE ROUND(CAST(pm.n_match AS DOUBLE)
        |      / CAST(rt.n_ref AS DOUBLE), 6) END AS recall,
        |  ROUND((2.0 * CAST(pm.n_match AS DOUBLE))
        |    / CAST(pm.n_cand + COALESCE(rt.n_ref, 0) AS DOUBLE), 6) AS f1
        |FROM pm LEFT JOIN rt
        |  ON rt.doc_id = pm.doc_id AND rt.n = pm.n""".stripMargin,

    // chrF replayed on substring char grams of the space-stripped
    // strings (Spark's space-joined char-array grams are a bijective
    // relabeling — the per-(doc, order) COUNTS are what the metric
    // reads): clipped matches + totals per order, per-order round-6
    // P/R, fixed left-assoc averages over both-side-present orders,
    // one compound rounded at the end
    "t_chrf" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |    array_to_string(list_filter(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> ''),
        |      (x, i) -> i % 7 <> 0), '') AS c,
        |    replace(text, ' ', '') AS r
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |cg AS MATERIALIZED (
        |  SELECT doc_id, n, gram, COUNT(*) AS cc FROM (
        |    SELECT doc_id, n, unnest(list_transform(
        |      range(1, len(c) - n + 2),
        |      i -> substring(c, CAST(i AS INT), CAST(n AS INT))))
        |      AS gram
        |    FROM d, range(1, 7) t(n))
        |  GROUP BY 1, 2, 3),
        |rg AS MATERIALIZED (
        |  SELECT doc_id, n, gram, COUNT(*) AS rc FROM (
        |    SELECT doc_id, n, unnest(list_transform(
        |      range(1, len(r) - n + 2),
        |      i -> substring(r, CAST(i AS INT), CAST(n AS INT))))
        |      AS gram
        |    FROM d, range(1, 7) t(n))
        |  GROUP BY 1, 2, 3),
        |pm AS (
        |  SELECT cg.doc_id, cg.n,
        |    CAST(SUM(LEAST(cg.cc, COALESCE(rg.rc, 0))) AS BIGINT) AS m,
        |    CAST(SUM(cg.cc) AS BIGINT) AS tc
        |  FROM cg LEFT JOIN rg
        |    ON rg.doc_id = cg.doc_id AND rg.n = cg.n
        |      AND rg.gram = cg.gram
        |  GROUP BY 1, 2),
        |rt AS (
        |  SELECT doc_id, n, CAST(SUM(rc) AS BIGINT) AS tr
        |  FROM rg GROUP BY 1, 2),
        |po AS (
        |  SELECT pm.doc_id, pm.n,
        |    ROUND(CAST(pm.m AS DOUBLE) / CAST(pm.tc AS DOUBLE), 6)
        |      AS p,
        |    ROUND(CAST(pm.m AS DOUBLE) / CAST(rt.tr AS DOUBLE), 6)
        |      AS r
        |  FROM pm JOIN rt ON rt.doc_id = pm.doc_id AND rt.n = pm.n),
        |wide AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN n = 1 THEN p END) AS p1,
        |    MAX(CASE WHEN n = 2 THEN p END) AS p2,
        |    MAX(CASE WHEN n = 3 THEN p END) AS p3,
        |    MAX(CASE WHEN n = 4 THEN p END) AS p4,
        |    MAX(CASE WHEN n = 5 THEN p END) AS p5,
        |    MAX(CASE WHEN n = 6 THEN p END) AS p6,
        |    MAX(CASE WHEN n = 1 THEN r END) AS r1,
        |    MAX(CASE WHEN n = 2 THEN r END) AS r2,
        |    MAX(CASE WHEN n = 3 THEN r END) AS r3,
        |    MAX(CASE WHEN n = 4 THEN r END) AS r4,
        |    MAX(CASE WHEN n = 5 THEN r END) AS r5,
        |    MAX(CASE WHEN n = 6 THEN r END) AS r6
        |  FROM po GROUP BY doc_id),
        |mic AS (
        |  -- exact micro-unit sums: the mean of round-6 decimals is
        |  -- halfway-prone; integers + half-away division are not
        |  SELECT doc_id,
        |    CAST((CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) +
        |         (CASE WHEN p2 IS NOT NULL THEN 1 ELSE 0 END) +
        |         (CASE WHEN p3 IS NOT NULL THEN 1 ELSE 0 END) +
        |         (CASE WHEN p4 IS NOT NULL THEN 1 ELSE 0 END) +
        |         (CASE WHEN p5 IS NOT NULL THEN 1 ELSE 0 END) +
        |         (CASE WHEN p6 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orders,
        |    COALESCE(CAST(CAST(p1 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(p2 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(p3 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(p4 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(p5 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(p6 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0)
        |      AS ps,
        |    COALESCE(CAST(CAST(r1 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(r2 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(r3 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(r4 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(r5 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) +
        |    COALESCE(CAST(CAST(r6 AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0)
        |      AS rs
        |  FROM wide),
        |avgd AS (
        |  SELECT doc_id, n_orders,
        |    CAST((2 * ps + n_orders) // (2 * n_orders) AS DOUBLE)
        |      / 1000000.0 AS chr_p,
        |    CAST((2 * rs + n_orders) // (2 * n_orders) AS DOUBLE)
        |      / 1000000.0 AS chr_r
        |  FROM mic)
        |SELECT doc_id, n_orders, chr_p, chr_r,
        |  CASE WHEN chr_p + chr_r = 0.0 THEN 0.0
        |    ELSE ROUND(((5.0 * chr_p) * chr_r)
        |      / ((4.0 * chr_p) + chr_r), 6) END AS chrf
        |FROM avgd""".stripMargin,

    // the fixed-width roundtrip must be value-lossless: the oracle
    // aggregates the parquet originals the staged file was rendered
    // from
    "s15_fixed_width" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_bal,
        |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
        |FROM customer GROUP BY 1""".stripMargin,

    // WARC scan: the oracle reconstructs every staged record —
    // warcinfo, per-doc response (HTTP head + the shared WarcPage
    // template) / conversion payloads, and the truncated tail's
    // quarantine row — and hashes payload bytes independently (md5
    // over the identical string both sides)
    "s16_warc_scan" ->
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 0),
        |o AS (SELECT doc_id, text,
        |        row_number() OVER (ORDER BY doc_id) AS rn FROM d),
        |recs AS (
        |  SELECT CAST(0 AS BIGINT) AS rec_index,
        |    'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
        |    'application/warc-fields' AS content_type,
        |    'software: graft-fixture' AS payload,
        |    CAST(NULL AS BIGINT) AS forced_len, false AS malformed,
        |    CAST(NULL AS VARCHAR) AS error
        |  UNION ALL
        |  SELECT rn, CASE WHEN doc_id % 10 = 0 THEN 'response'
        |      ELSE 'conversion' END,
        |    'https://fixture.test/doc/' || doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'application/http; msgtype=response'
        |      ELSE 'text/plain' END,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN $WarcHttpHeadSql || ${warcPageSql("doc_id", "text")}
        |      ELSE text END,
        |    NULL, false, NULL
        |  FROM o
        |  UNION ALL
        |  SELECT (SELECT count(*) FROM o) + 1, 'conversion',
        |    'https://fixture.test/truncated', 'text/plain', NULL,
        |    1000, true, 'payload truncated at 15 of 1000 bytes')
        |SELECT rec_index, warc_type, target_uri, content_type,
        |  COALESCE(forced_len, strlen(payload)) AS content_length,
        |  md5(payload) AS payload_md5, malformed, error
        |FROM recs""".stripMargin,

    // streaming WARC ingest: both waves' record populations rebuilt
    // (warcinfo + response/conversion splits + the second shard +
    // the truncated quarantine row), then the same per-type agg
    "s_stream_warc" ->
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |recs AS (
        |  SELECT 'warcinfo' AS warc_type,
        |    CAST(strlen('software: graft-fixture') AS BIGINT) AS len,
        |    0 AS mal
        |  UNION ALL
        |  SELECT CASE WHEN doc_id % 10 = 0 THEN 'response'
        |      ELSE 'conversion' END,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN strlen($WarcHttpHeadSql ||
        |        ${warcPageSql("doc_id", "text")})
        |      ELSE strlen(text) END, 0
        |  FROM d WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'conversion', strlen(text), 0
        |  FROM d WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT 'conversion', 1000, 1)
        |SELECT warc_type, COUNT(*) AS n,
        |  CAST(SUM(len) AS BIGINT) AS sum_len,
        |  CAST(SUM(mal) AS BIGINT) AS n_malformed
        |FROM recs GROUP BY 1""".stripMargin,

    // sitemap ingestion: the expected rows written directly from
    // documents — the construction is deterministic, so the parse
    // being LOSSLESS is the whole contract
    "t_sitemap" ->
      """SELECT CAST(doc_id // 25 AS BIGINT) AS shard,
        |  'https://fixture.test/doc/' || doc_id AS loc,
        |  '2026-0' || (doc_id % 9 + 1) || '-01' AS lastmod,
        |  'weekly' AS changefreq,
        |  CAST('0.' || (doc_id % 10) AS DOUBLE) AS priority
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL""".stripMargin,

    // robots filter: urls rebuilt in SQL, host/path extraction
    // replayed, the rules dim rendered from the engine's OWN parsed
    // fixture (same driver-side regex translation — cannot drift),
    // then the match + packed-priority walk
    "t_robots_filter" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(doc_id // 8 AS VARCHAR) AS b,
        |    doc_id % 8 AS m
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (
        |  SELECT doc_id, CASE m
        |    WHEN 0 THEN 'https://alpha.example.com/private/doc' || b
        |    WHEN 1 THEN 'https://alpha.example.com/private/ok'
        |    WHEN 2 THEN 'https://alpha.example.com/pub/x' || b
        |      || '.pdf'
        |    WHEN 3 THEN 'https://site-b.co.uk/tmp' || b || '/f'
        |    WHEN 4 THEN 'https://site-b.co.uk/tmp'
        |    WHEN 5 THEN 'https://blog.blogspot.com/x' || b
        |    WHEN 6 THEN 'https://gamma.org/a/b/c' || b
        |    ELSE 'https://gamma.org/a/x' || b END AS url
        |  FROM d),
        |h AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
        |      '^[^/?#]*@', ''), ':[0-9]*$$', ''), '\\.+$$', '')
        |      AS host,
        |    COALESCE(NULLIF(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), ''),
        |      '/') AS path
        |  FROM c),
        |r(host, allow, rule_path, path_len, path_re) AS (VALUES
        |  ${graft.text.RobotsOps.rulesValuesSql(
             graft.text.RobotsOps.dimRows(RobotsFixture, "graftbot"))}),
        |m2 AS (
        |  SELECT h.doc_id, h.url, h.host, h.path,
        |    MAX(CASE WHEN r.path_len IS NULL THEN -1
        |      ELSE r.path_len * 2 +
        |        CASE WHEN r.allow THEN 1 ELSE 0 END END) AS code
        |  FROM h LEFT JOIN r ON r.host = h.host
        |    AND (CASE WHEN r.path_re IS NULL
        |      THEN starts_with(h.path, r.rule_path)
        |      ELSE regexp_matches(h.path, r.path_re) END)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, url, host, path,
        |  (code = -1 OR code % 2 = 1) AS allowed,
        |  CASE WHEN code >= 0 THEN CAST(code // 2 AS BIGINT) END
        |    AS rule_path_len
        |FROM m2""".stripMargin,

    // WET sink roundtrip: lossless by contract, so the source table
    // is the expectation — no replay needed
    "s17_wet_roundtrip" ->
      """SELECT 'https://fixture.test/doc/' || doc_id AS target_uri,
        |  text, CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL""".stripMargin,

    // HTML extraction: the four page variants rebuilt in SQL, then
    // the strip chain + density filter replayed via duckStripSql /
    // duckMainSql (generated from the engine's own constants)
    "t_html_extract" ->
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |h AS (
        |  SELECT doc_id, CASE doc_id % 4
        |    WHEN 0 THEN ${warcPageSql("doc_id", "text")}
        |    WHEN 1 THEN '<div>a &lt;x&gt; &amp;amp; ' || text ||
        |      ' &quot;end&quot;</div><p>Done.</p>'
        |    WHEN 2 THEN '<script>hidden()</script><p>  ' || text ||
        |      '  </p>' || chr(10) || chr(10) ||
        |      '<span>tiny</span><div>It ends here!</div>'
        |    ELSE text END AS html
        |  FROM d),
        |s AS (SELECT doc_id, ${duckStripSql("html")} AS stripped
        |      FROM h)
        |SELECT doc_id, stripped,
        |  ${duckMainSql("stripped")} AS main_text
        |FROM s""".stripMargin,

    // WARC→text capstone: full-payload rebuild, the SAME httpBody
    // regex split, then the strip/density replay and token stats
    "t_warc_curate" ->
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 10 = 0),
        |p AS (
        |  SELECT 'https://fixture.test/doc/' || doc_id AS target_uri,
        |    $WarcHttpHeadSql || ${warcPageSql("doc_id", "text")}
        |      AS payload
        |  FROM d),
        |b AS (
        |  SELECT target_uri,
        |    regexp_replace(payload, '(?s)^.*?\\r\\n\\r\\n', '') AS html
        |  FROM p),
        |s AS (SELECT target_uri, ${duckStripSql("html")} AS stripped
        |      FROM b),
        |m AS (SELECT target_uri,
        |        ${duckMainSql("stripped")} AS main_text
        |      FROM s)
        |SELECT target_uri, main_text,
        |  CAST(len(string_split_regex(main_text, '[ \\n]'))
        |    AS BIGINT) AS n_tokens,
        |  len(string_split_regex(main_text, '[ \\n]')) >= 20 AS kept
        |FROM m""".stripMargin,

    // HTTP message decode: the oracle rebuilds the PRE-ENCODE page
    // and the per-variant coding labels from documents — the staged
    // gzip/chunked/deflate encodings must INVERT exactly (an
    // independent expectation; the encode lives only in the fixture)
    "t_warc_http" ->
      s"""WITH d AS (
        |  SELECT doc_id, text, (doc_id // 5) % 5 AS v FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 2),
        |p AS (
        |  SELECT 'https://fixture.test/http/' || doc_id AS target_uri,
        |    CAST(200 AS INT) AS http_status,
        |    CASE WHEN v IN (2, 3) THEN 'chunked'
        |      ELSE 'identity' END AS te,
        |    CASE WHEN v IN (1, 3) THEN 'gzip' WHEN v = 4 THEN 'deflate'
        |      ELSE 'identity' END AS ce,
        |    CAST(NULL AS VARCHAR) AS http_error,
        |    ${warcPageSql("doc_id", "text")} AS html
        |  FROM d),
        |s AS (SELECT target_uri, http_status, te, ce, http_error,
        |        ${duckStripSql("html")} AS stripped
        |      FROM p)
        |SELECT target_uri, http_status, te, ce, http_error,
        |  ${duckMainSql("stripped")} AS main_text
        |FROM s""".stripMargin,

    // charset decode: expected text written LITERALLY from the shared
    // CharsetSamples constant (DuckDB cannot encode CJK charsets —
    // which is exactly why the expectation is direct, not a replay);
    // byte lengths computed at generation time in the real charsets
    "t_charset_decode" -> {
      val (declSql, textSql, lenSql) = charsetCaseSql("doc_id")
      s"""SELECT 'https://fixture.test/cs/' || doc_id AS target_uri,
        |  $declSql AS charset,
        |  $textSql || ' #' || doc_id AS text,
        |  CAST($lenSql + 2 + strlen(CAST(doc_id AS VARCHAR))
        |    AS BIGINT) AS content_length
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND doc_id % 5 = 3""".stripMargin
    },

    // CDX index scan: every parsed field rebuilt from documents by
    // the staging formulas — direct expectation (the byte offsets/
    // lengths are gzip facts DuckDB cannot re-derive; t_cdx_fetch
    // proves those by round-trip)
    "s18_cdx_scan" ->
      """SELECT 'com,example,h' || (doc_id % 3) || ')/d/' || doc_id
        |    AS surt_key,
        |  '20260101' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
        |    || '0000' AS fetch_ts,
        |  'https://www.h' || (doc_id % 3) || '.example.com/d/'
        |    || doc_id AS url,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/html'
        |    ELSE 'text/plain' END AS mime,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
        |    ELSE 301 END AS INT) AS status,
        |  'sha1:graft' || doc_id AS digest
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND doc_id % 5 = 1""".stripMargin,

    // SURT keys: each shape's key written directly from the
    // construction (lowercase, www/scheme/userinfo/fragment/default-
    // port dropped, host reversed, bare ? stripped)
    "t_surt" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'https://WWW.Example.COM/p' || doc_id
        |      || '?Q=' || doc_id
        |    WHEN 1 THEN 'http://h' || doc_id || '.example.com:80/a'
        |    WHEN 2 THEN 'https://example.com:8443/x' || doc_id
        |    WHEN 3 THEN 'https://user:pw@example.com/u' || doc_id
        |      || '#frag'
        |    WHEN 4 THEN 'https://example.com'
        |    ELSE 'https://A.B.example.co.uk/d' || doc_id || '?'
        |  END AS url,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'com,example)/p' || doc_id || '?q=' || doc_id
        |    WHEN 1 THEN 'com,example,h' || doc_id || ')/a'
        |    WHEN 2 THEN 'com,example:8443)/x' || doc_id
        |    WHEN 3 THEN 'com,example)/u' || doc_id
        |    WHEN 4 THEN 'com,example)/'
        |    ELSE 'uk,co,example,b,a)/d' || doc_id
        |  END AS surt_key
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,

    // revisit resolution: the construction replayed — every odd doc
    // in the residue has one mirror revisit pointing at its origin
    // original via the shared digest
    "t_revisit_resolve" ->
      """SELECT 'https://m' || (doc_id % 3) || '.example.com/p/'
        |    || doc_id AS dup_uri,
        |  'https://origin.example.com/p/' || doc_id AS canonical_uri,
        |  TRUE AS refers_match,
        |  'sha1:GRAFT' || doc_id AS digest
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND doc_id % 5 = 4 AND doc_id % 2 = 1""".stripMargin,

    // canonical-URL dedup: the construction replayed — keys by
    // variant (absolute canon for shapes 0/1, page-host canon for
    // the relative shape, self for none), then the same group/count
    "t_canonical" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'https://m' || (doc_id % 4) || '.example.com/page/'
        |      || doc_id AS url,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://example.com/canon/' || (doc_id % 50)
        |      WHEN 1 THEN 'https://example.com/canon/' || (doc_id % 50)
        |      WHEN 2 THEN 'https://m2.example.com/canon/'
        |        || (doc_id % 50)
        |      ELSE 'https://m3.example.com/page/' || doc_id
        |    END AS canon_url
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_pages,
        |  min(url) AS first_url
        |FROM p GROUP BY 1""".stripMargin,

    // pointed fetch: the index filter (status 200 AND text/html ⇔
    // doc_id ≡ 0 mod 6 by the staging formulas) selects the subset;
    // a hash match proves the byte pointers fetched EXACTLY those
    // documents' records
    "t_cdx_fetch" ->
      """SELECT 'https://www.h' || (doc_id % 3) || '.example.com/d/'
        |    || doc_id AS url,
        |  text || ' #' || doc_id AS text
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND doc_id % 5 = 1 AND doc_id % 6 = 0""".stripMargin,

    // streaming curate mile: both waves' decoded bodies rebuilt from
    // documents (the coding must INVERT — same independent
    // expectation as t_warc_http), stripped via the generated chain,
    // then the identical (status, coding) stats
    "s_stream_warc_curate" ->
      s"""WITH hd AS (
        |  SELECT doc_id, text, (doc_id // 5) % 5 AS v FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 2),
        |hp AS (
        |  SELECT CASE WHEN v IN (1, 3) THEN 'gzip'
        |      WHEN v = 4 THEN 'deflate' ELSE 'identity' END AS ce,
        |    ${warcPageSql("doc_id", "text")} AS html
        |  FROM hd),
        |hs AS (SELECT ce,
        |         length(${duckStripSql("html")}) AS n_chars
        |       FROM hp),
        |hg AS (
        |  SELECT CAST(200 AS INT) AS http_status, ce,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM hs GROUP BY 1, 2),
        |rd AS (
        |  SELECT (doc_id // 5) % 4 AS r FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 4),
        |rg AS (
        |  SELECT CAST(CASE r WHEN 0 THEN 301 WHEN 1 THEN 302
        |      WHEN 2 THEN 307 ELSE 308 END AS INT) AS http_status,
        |    'identity' AS ce,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) * 6 AS BIGINT) AS sum_chars
        |  FROM rd GROUP BY 1, 2)
        |SELECT * FROM hg UNION ALL SELECT * FROM rg""".stripMargin,

    // redirect edges: status/Location shapes and each Location's
    // resolution written directly from the construction
    "t_redirects" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id // 8 AS VARCHAR) AS b,
        |    (doc_id // 5) % 4 AS r
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 5 = 4)
        |SELECT 'https://fixture.test/redir/' || doc_id AS from_url,
        |  CAST(CASE r WHEN 0 THEN 301 WHEN 1 THEN 302
        |    WHEN 2 THEN 307 ELSE 308 END AS INT) AS http_status,
        |  CASE r WHEN 0 THEN 'https://moved.example.org/new' || b
        |    WHEN 1 THEN '../moved' || b
        |    WHEN 2 THEN '/r/' || b
        |    ELSE '//alt.example.net/p' || b END AS location,
        |  CASE r WHEN 0 THEN 'https://moved.example.org/new' || b
        |    WHEN 1 THEN 'https://fixture.test/moved' || b
        |    WHEN 2 THEN 'https://fixture.test/r/' || b
        |    ELSE 'https://alt.example.net/p' || b END AS to_url,
        |  r IN (0, 3) AS permanent
        |FROM d""".stripMargin,

    // RFC 3986 resolution: every constructed reference shape's
    // resolution written directly from the construction — the
    // t_sitemap direct-expectation pattern (no resolver replay)
    "t_resolve_url" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id // 8 AS VARCHAR) AS b,
        |    doc_id % 8 AS m, doc_id % 3 AS k
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (
        |  SELECT doc_id, m, b,
        |    'https://h' || k || '.example.com/a' || b ||
        |      '/b/page.html?q=1' AS base,
        |    CASE m WHEN 0 THEN 'img' || b || '.png'
        |      WHEN 1 THEN '../up' || b
        |      WHEN 2 THEN '/root' || b || '?x=2'
        |      WHEN 3 THEN '?only=q'
        |      WHEN 4 THEN '#frag'
        |      WHEN 5 THEN '//cdn.example.org/lib' || b
        |      WHEN 6 THEN 'https://abs.example.net/x' || b || '/../y'
        |      ELSE './same/' || b END AS ref,
        |    'https://h' || k || '.example.com' AS pre,
        |    '/a' || b || '/b/' AS bdir
        |  FROM d)
        |SELECT doc_id, base, ref,
        |  CASE m WHEN 0 THEN pre || bdir || 'img' || b || '.png'
        |    WHEN 1 THEN pre || '/a' || b || '/up' || b
        |    WHEN 2 THEN pre || '/root' || b || '?x=2'
        |    WHEN 3 THEN pre || bdir || 'page.html?only=q'
        |    WHEN 4 THEN base
        |    WHEN 5 THEN 'https://cdn.example.org/lib' || b
        |    WHEN 6 THEN 'https://abs.example.net/y'
        |    ELSE pre || bdir || 'same/' || b END AS resolved
        |FROM c""".stripMargin,

    // relative-link graph: each constructed link's TARGET HOST is
    // recomputed from the construction (abs → m+1, protocol-relative
    // → m+2, the four base-relative ones → the fetch host, or the
    // <base href> host on variant-1 pages), then the same host-edge
    // aggregation
    "t_link_graph_rel" ->
      """WITH d AS (
        |  SELECT doc_id % 4 AS m FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |h(k, hst) AS (VALUES
        |  (0, 'alpha.example.com'), (1, 'site-b.co.uk'),
        |  (2, 'blog.blogspot.com'), (3, 'gamma.org')),
        |e AS (
        |  SELECT m, (m + 1) % 4 AS dk, 1 AS w FROM d
        |  UNION ALL SELECT m, (m + 2) % 4, 1 FROM d
        |  UNION ALL SELECT m, CASE WHEN m = 1 THEN 0 ELSE m END, 4
        |    FROM d)
        |SELECT hs.hst AS src_host, hd.hst AS dst_host,
        |  CAST(SUM(w) AS BIGINT) AS w
        |FROM e JOIN h hs ON hs.k = e.m JOIN h hd ON hd.k = e.dk
        |GROUP BY 1, 2""".stripMargin,

    // frontier capstone: link construction + RFC 9309 replay over the
    // SAME rendered rules values, the fixture hosts' known
    // registrable domains, the portable-hash cap replay, the known
    // per-host lastmod timestamps, and the same freshness ranking
    "t_frontier" ->
      s"""WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS m,
        |    CAST(doc_id // 8 AS VARCHAR) AS b
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |h(k, hst) AS (VALUES
        |  (0, 'alpha.example.com'), (1, 'site-b.co.uk'),
        |  (2, 'blog.blogspot.com'), (3, 'gamma.org')),
        |l AS (
        |  SELECT doc_id * 2 AS link_id, m, hst AS host,
        |    'https://' || hst || '/sec' || b || '/a' || b AS url,
        |    '/sec' || b || '/a' || b AS path
        |  FROM d JOIN h ON h.k = d.m
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, m, hst,
        |    'https://' || hst || CASE m
        |      WHEN 0 THEN '/private/doc' || b
        |      WHEN 1 THEN '/tmp' || b || '/f'
        |      WHEN 2 THEN '/x' || b
        |      ELSE '/a/b/c' || b END,
        |    CASE m WHEN 0 THEN '/private/doc' || b
        |      WHEN 1 THEN '/tmp' || b || '/f'
        |      WHEN 2 THEN '/x' || b
        |      ELSE '/a/b/c' || b END
        |  FROM d JOIN h ON h.k = d.m),
        |r(host, allow, rule_path, path_len, path_re) AS (VALUES
        |  ${graft.text.RobotsOps.rulesValuesSql(
             graft.text.RobotsOps.dimRows(RobotsFixture, "graftbot"))}),
        |mt AS (
        |  SELECT l.link_id, l.url, l.m, l.host,
        |    MAX(CASE WHEN r.path_len IS NULL THEN -1
        |      ELSE r.path_len * 2 +
        |        CASE WHEN r.allow THEN 1 ELSE 0 END END) AS code
        |  FROM l LEFT JOIN r ON r.host = l.host
        |    AND (CASE WHEN r.path_re IS NULL
        |      THEN starts_with(l.path, r.rule_path)
        |      ELSE regexp_matches(l.path, r.path_re) END)
        |  GROUP BY 1, 2, 3, 4),
        |dom AS (
        |  SELECT link_id, url, m,
        |    CASE host WHEN 'alpha.example.com' THEN 'example.com'
        |      ELSE host END AS registrable_domain
        |  FROM mt WHERE code = -1 OR code % 2 = 1),
        |cap AS (
        |  SELECT link_id, url, m, registrable_domain FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY registrable_domain
        |      ORDER BY ((link_id % 2147483647) * 2654435761)
        |        % 2147483647, link_id) AS rn
        |    FROM dom) WHERE rn <= 40),
        |sm AS (
        |  SELECT DISTINCT
        |    'https://' || hst || '/sec' || b || '/a' || b AS loc,
        |    CASE m WHEN 0 THEN TIMESTAMP '2026-01-01 00:00:00'
        |      WHEN 1 THEN TIMESTAMP '2026-04-01 00:00:00'
        |      WHEN 2 THEN TIMESTAMP '2026-04-15 08:30:00'
        |      ELSE TIMESTAMP '2026-04-15 06:30:45' END AS ts
        |  FROM d JOIN h ON h.k = d.m),
        |f AS (
        |  SELECT cap.url, cap.registrable_domain, sm.ts AS lastmod_ts
        |  FROM cap LEFT JOIN sm ON cap.url = sm.loc)
        |SELECT url, registrable_domain, lastmod_ts,
        |  CAST(rnk AS BIGINT) AS fetch_rank
        |FROM (SELECT *, row_number() OVER (
        |    PARTITION BY registrable_domain
        |    ORDER BY lastmod_ts DESC NULLS LAST, url) AS rnk
        |  FROM f)
        |WHERE rnk <= 25""".stripMargin,

    // the whole NB training run + scoring replayed: Laplace-smoothed
    // class-conditional grid over the corpus vocab, exact-decimal
    // score accumulation, tie-broken argmax
    "t_nb_classify" ->
      """WITH tk AS (
        |  SELECT doc_id, source AS act,
        |    unnest(list_filter(string_split_regex(trim(lower(text)),
        |      '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(act) AS act
        |       FROM tk GROUP BY 1, 2),
        |ct AS (SELECT act AS lab, term, COUNT(*) AS ct
        |       FROM tk GROUP BY 1, 2),
        |tot AS (SELECT lab, SUM(ct) AS tot FROM ct GROUP BY 1),
        |vocab AS (SELECT DISTINCT term FROM ct),
        |vs AS (SELECT COUNT(*) AS v FROM vocab),
        |pri AS (SELECT source AS lab, COUNT(*) AS nd
        |        FROM documents GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |lp0 AS (SELECT lab,
        |    CAST(ROUND(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS lp0
        |  FROM pri, nn),
        |grid AS (
        |  SELECT vocab.term, tot.lab,
        |    CAST(ROUND(ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) /
        |                  CAST(tot.tot + vs.v AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM vocab CROSS JOIN tot
        |  LEFT JOIN ct ON ct.lab = tot.lab AND ct.term = vocab.term
        |  CROSS JOIN vs),
        |sc AS (
        |  SELECT tf.doc_id, grid.lab,
        |    SUM(CAST(ROUND(tf.tf * grid.lp, 6) AS DECIMAL(18,6))) AS s,
        |    MAX(tf.act) AS act
        |  FROM tf JOIN grid ON grid.term = tf.term
        |  GROUP BY 1, 2),
        |fin AS (
        |  SELECT sc.doc_id, sc.lab,
        |    ROUND(CAST(sc.s + lp0.lp0 AS DOUBLE), 6) AS score, sc.act,
        |    ROW_NUMBER() OVER (PARTITION BY sc.doc_id
        |      ORDER BY ROUND(CAST(sc.s + lp0.lp0 AS DOUBLE), 6) DESC,
        |               sc.lab) AS rn
        |  FROM sc JOIN lp0 ON lp0.lab = sc.lab)
        |SELECT doc_id, lab AS label_pred, score, act AS label_actual,
        |  lab = act AS correct
        |FROM fin WHERE rn = 1""".stripMargin,

    "t_curate" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tl
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id,
        |    ROUND(
        |      0.4 * (CASE WHEN len(tk) BETWEEN 20 AND 100000 THEN 1.0
        |                  WHEN len(tk) >= 5 THEN 0.5 ELSE 0.0 END)
        |      + 0.4 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)
        |      + 0.2 * (CASE WHEN len(tl) > 0 AND
        |          CAST(len(list_filter(tl, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','this','that'))) AS DOUBLE) / len(tl) > 0.01
        |          THEN 1.0 ELSE 0.0 END), 6) AS q,
        |    CAST(len(list_filter(tl, x -> x IN ('the','and','of','to','a','in','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(tl, x -> x IN ('el','la','de','que','y','en','los'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(tl, x -> x IN ('le','la','de','et','un','les','des'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(tl, x -> x IN ('der','die','und','das','ein','ist','nicht'))) AS BIGINT) AS s_de
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        |edges AS (
        |  SELECT id1, id2 FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT id1, id1 FROM edges
        |  UNION
        |  SELECT e.id1, reach.r FROM edges e JOIN reach ON e.id2 = reach.id),
        |clusters AS (
        |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id FROM quality
        |WHERE q >= 0.5
        |  AND GREATEST(s_en, s_es, s_fr, s_de) > 0
        |  AND s_en = GREATEST(s_en, s_es, s_fr, s_de)
        |  AND doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin,

    "t_pack_chunks" ->
      """WITH wc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS shard
        |  FROM documents)
        |SELECT doc_id, n_tokens, shard,
        |  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
        |    AS chunk_in_shard
        |FROM wc""".stripMargin,

    // DuckDB's nfc_normalize is utf8proc — an independent NFC
    // implementation; byte-identical output is the real check
    "t_nfc_normalize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN replace(text, 'e', 'e' || chr(769))
        |         ELSE text END AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS nfc,
        |  CAST(length(raw) AS BIGINT) AS raw_len,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len
        |FROM r""".stripMargin,

    "t_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "t_dedup_norm" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS content_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1""".stripMargin,

    // the same dirty-url construction, then the canonicalization
    // contract step for step (lowercased scheme/host, www. off,
    // default port off, fragment off, tracking params off, params
    // sorted, trailing slash off) in RE2 regex — no lookaround, no
    // dialect-divergent classes
    "t_url_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'https://www.example.com/docs/page' ||
        |      CAST(doc_id // 7 AS VARCHAR) AS b,
        |    doc_id % 7 AS m
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
        |u AS (
        |  SELECT doc_id, CASE
        |    WHEN m = 0 THEN b
        |    WHEN m = 1 THEN upper(substring(b, 1, 12)) || substring(b, 13)
        |    WHEN m = 2 THEN replace(b, '.example.com/', '.example.com:443/')
        |    WHEN m = 3 THEN b || '?utm_source=x&b=2&a=1'
        |    WHEN m = 4 THEN b || '#sec-2'
        |    WHEN m = 5 THEN b || '/'
        |    ELSE b || '?a=1&b=2&utm_campaign=y' END AS url
        |  FROM d),
        |low AS (
        |  SELECT doc_id,
        |    CASE WHEN regexp_extract(trim(url),
        |        '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\.)?([^/?#]*)', 1) = ''
        |      THEN trim(url)
        |      ELSE lower(regexp_extract(trim(url),
        |          '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\.)?([^/?#]*)', 1))
        |        || '://' ||
        |        lower(regexp_extract(trim(url),
        |          '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\.)?([^/?#]*)', 2))
        |        || regexp_replace(trim(url),
        |          '^([A-Za-z][A-Za-z0-9+.-]*)://(?:[wW]{3}\.)?([^/?#]*)', '')
        |    END AS s
        |  FROM u),
        |nf AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(s,
        |          '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2'),
        |        '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2'),
        |      '#.*$', '') AS s
        |  FROM low),
        |parts AS (
        |  SELECT doc_id, strpos(s, '?') AS q,
        |    regexp_replace(CASE WHEN strpos(s, '?') > 0
        |      THEN split_part(s, '?', 1) ELSE s END, '/$', '') AS base,
        |    array_to_string(list_sort(list_filter(
        |      string_split(substring(s, strpos(s, '?') + 1), '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[^=]*|gclid|fbclid)(=|$)'))), '&') AS sq
        |  FROM nf)
        |SELECT CASE WHEN q > 0 AND sq <> '' THEN base || '?' || sq
        |         ELSE base END AS url,
        |  COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        |FROM parts GROUP BY 1""".stripMargin,

    // registrable domain: the oracle constructs each variant's
    // CANONICAL url directly (the canonicalization steps themselves
    // are t_url_dedup's oracle), then replays host extraction and the
    // full publicsuffix.org prevailing-rule walk — candidate suffix
    // explode, the engine's own rules snapshot as VALUES
    // (SuffixRulesValues — generated from DomainOps.suffixRulesSnapshot
    // so oracle and engine cannot drift), exception-first/longest-rule
    // pick, eTLD+1 assembly
    "t_registrable_domain" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(doc_id // 8 AS VARCHAR) AS b,
        |    doc_id % 8 AS m
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
        |c AS (
        |  SELECT doc_id, CASE
        |    WHEN m = 0 THEN 'https://a' || b || '.example.com/pg'
        |    WHEN m = 1 THEN 'http://news' || b || '.co.uk/story'
        |    WHEN m = 2 THEN 'https://deep.sub.site' || b || '.org/x?z=1'
        |    WHEN m = 3 THEN 'https://foo.bar' || b || '.ck/x'
        |    WHEN m = 4 THEN 'https://a' || b || '.www.ck/x'
        |    WHEN m = 5 THEN 'https://x.y.site' || b || '.ac.uk/x'
        |    WHEN m = 6 THEN 'https://host' || b || '.unknowntld/x'
        |    ELSE 'https://192.168.0.1/x' || b END AS url
        |  FROM d),
        |h AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
        |      '^[^/?#]*@', ''), ':[0-9]*$$', ''), '\\.+$$', '') AS h0
        |  FROM c),
        |hosts AS (
        |  SELECT doc_id, url,
        |    CASE WHEN h0 = '' OR regexp_matches(h0, '^[0-9.]+$$')
        |      OR contains(h0, '[') THEN NULL ELSE h0 END AS host
        |  FROM h),
        |lab AS (
        |  SELECT doc_id, url, host, string_split(host, '.') AS ls,
        |    len(string_split(host, '.')) AS n
        |  FROM hosts WHERE host IS NOT NULL),
        |sfx AS (
        |  SELECT doc_id, url, host, ls, n,
        |    unnest(range(1, n + 1)) AS i
        |  FROM lab),
        |s2 AS (
        |  SELECT doc_id, url, host, n,
        |    array_to_string(ls[i:n], '.') AS sf, n - i AS slen
        |  FROM sfx),
        |rules(rule, kind, rl) AS (VALUES $SuffixRulesValues),
        |cand AS (
        |  SELECT doc_id, url, host, n, sf, slen, sf AS k,
        |    'normal' AS want FROM s2
        |  UNION ALL
        |  SELECT doc_id, url, host, n, sf, slen, '!' || sf,
        |    'exception' FROM s2
        |  UNION ALL
        |  SELECT doc_id, url, host, n, sf, slen,
        |    '*.' || array_to_string(string_split(sf, '.')[2:], '.'),
        |    'wildcard' FROM s2 WHERE slen >= 1
        |  UNION ALL
        |  SELECT doc_id, url, host, n, host, n - 1, '*', 'default'
        |  FROM lab),
        |m2 AS (
        |  SELECT cd.doc_id, cd.url, cd.host, cd.n,
        |    CASE WHEN r.kind = 'exception'
        |      THEN array_to_string(string_split(cd.sf, '.')[2:], '.')
        |      WHEN r.kind = 'default'
        |      THEN string_split(cd.host, '.')[cd.n]
        |      ELSE cd.sf END AS ps,
        |    CASE WHEN r.kind = 'exception' THEN 1 ELSE 0 END AS exc,
        |    r.rl
        |  FROM cand cd JOIN rules r
        |    ON r.rule = cd.k AND r.kind = cd.want),
        |best AS (
        |  SELECT doc_id, url, host, n, ps,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY exc DESC, rl DESC) AS rn
        |  FROM m2)
        |SELECT doc_id, url, host, ps AS public_suffix,
        |  CASE WHEN n <= len(string_split(ps, '.')) THEN NULL
        |    ELSE array_to_string(string_split(host, '.')
        |      [n - len(string_split(ps, '.')):n], '.')
        |  END AS registrable_domain
        |FROM best WHERE rn = 1
        |UNION ALL
        |SELECT doc_id, url, NULL, NULL, NULL
        |FROM hosts WHERE host IS NULL""".stripMargin,

    // Brute-force near-dup pairs (t_minhash_lsh's oracle) + the same
    // double-hash bucket arithmetic for the deterministic negative.
    "t_contrastive_triplets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS anchor_id, b.doc_id AS positive_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        |reps AS (
        |  SELECT b, negative_id FROM (
        |    SELECT doc_id AS negative_id,
        |      CAST(floor((((doc_id % 2147483647) * 2654435761) % 2147483647)
        |        / 33554432.0) AS BIGINT) AS b,
        |      row_number() OVER (
        |        PARTITION BY CAST(floor((((doc_id % 2147483647) * 2654435761)
        |          % 2147483647) / 33554432.0) AS BIGINT)
        |        ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647,
        |          doc_id) AS rn
        |    FROM documents) WHERE rn = 1)
        |SELECT p.anchor_id, p.positive_id, r.negative_id
        |FROM pairs p JOIN reps r ON r.b = CAST(floor(
        |  ((((p.anchor_id % 2147483647) * 2654435761) % 2147483647)
        |    * 2654435761) % 2147483647 / 33554432.0) AS BIGINT)
        |WHERE r.negative_id <> p.anchor_id
        |  AND r.negative_id <> p.positive_id""".stripMargin,

    "t_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin,

    // Brute-force quadratic ground truth: the engine's prefix-filtered
    // join must reproduce it EXACTLY (completeness guarantee). The
    // threshold compare is on the UNROUNDED ratio on both sides
    // (rounding only in the projected column) so the boundary can't
    // diverge between engines.
    "t_jaccard_join" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)) >= 0.4""".stripMargin,

    "t_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin,

    // identical brute force: the bloom prune must not change the answer
    "t_decontaminate_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin,

    // partial-gram rule for docs shorter than n tokens matches the
    // engine's shingles(): greatest(len-12, 1) yields ONE short gram
    "t_contained_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([array_to_string(tk[i:i+12], ' ')
        |                          FOR i IN range(1, greatest(len(tk)-12, 1)+1)])) AS gram
        |  FROM toks)
        |SELECT a.doc_id AS train_id, COUNT(*) AS n_shared_grams
        |FROM (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 0) a
        |JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 1) b USING (gram)
        |GROUP BY a.doc_id""".stripMargin,

    // same char-fold poly-hash as t_dsir_weights, mod 1024; collisions
    // sum their counts
    "t_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM toks GROUP BY 1, 2),
        |vb AS (
        |  SELECT term,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647) % 1024 AS INT)
        |      AS idx
        |  FROM (SELECT DISTINCT term FROM tf))
        |SELECT tf.doc_id, vb.idx, CAST(SUM(tf.tf) AS BIGINT) AS tf
        |FROM tf JOIN vb USING (term)
        |GROUP BY 1, 2""".stripMargin,

    // brute-force quadratic containment: same distinct 3-gram sets,
    // same 1e-9 slack, ratio compared UNROUNDED then rounded for output
    "t_containment_join" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |      FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(a.sh), 6) AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(a.sh) >= 0.6 - 0.000000001""".stripMargin,

    // distinct (doc, gram) pairs; df per gram; novelty = share of
    // grams with df == 1
    "t_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([array_to_string(tk[i:i+7], ' ')
        |      FOR i IN range(1, greatest(len(tk)-7, 1)+1)])) AS gram
        |  FROM toks),
        |g AS (SELECT DISTINCT doc_id, gram FROM g0),
        |f AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  ROUND(CAST(1 AS DOUBLE) -
        |        CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)
        |             AS DOUBLE) / COUNT(*), 6) AS novelty
        |FROM g JOIN f USING (gram)
        |GROUP BY 1""".stripMargin,

    // distinct (source, gram) pairs, self-joined on the gram; overlap
    // coefficient = shared / min(|A|, |B|)
    "t_overlap_matrix" ->
      """WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |g0 AS (
        |  SELECT source,
        |    unnest(list_distinct([array_to_string(tk[i:i+7], ' ')
        |      FOR i IN range(1, greatest(len(tk)-7, 1)+1)])) AS gram
        |  FROM toks),
        |g AS (SELECT DISTINCT source, gram FROM g0),
        |tot AS (SELECT source, COUNT(*) AS t FROM g GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS shared_grams
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_grams,
        |  ROUND(CAST(shared_grams AS DOUBLE) /
        |        CAST(least(ta.t, tb.t) AS DOUBLE), 6) AS overlap_coef
        |FROM sh
        |JOIN tot ta ON ta.source = sh.source_a
        |JOIN tot tb ON tb.source = sh.source_b""".stripMargin,

    // intersection terms + ln(2)·exclusive-mass tail, contributions
    // and shares rounded to 6 then summed exact-decimal — the same
    // split the Spark side computes
    "t_jsd" ->
      """WITH toks AS (
        |  SELECT lang AS g, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents WHERE lang IS NOT NULL),
        |tf AS (SELECT g, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |tot AS (SELECT g, sum(tf) AS tot FROM tf GROUP BY 1),
        |sh AS (SELECT tf.g, term,
        |         CAST(tf AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |       FROM tf JOIN tot ON tf.g = tot.g),
        |inter AS (
        |  SELECT a.g AS grp_a, b.g AS grp_b,
        |    CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(SUM(CAST(ROUND(
        |      a.p * ln((2.0 * a.p) / (a.p + b.p)) +
        |      b.p * ln((2.0 * b.p) / (a.p + b.p)), 6)
        |      AS DECIMAL(28,6))) AS DOUBLE) AS ci,
        |    CAST(SUM(CAST(ROUND(a.p, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS sa,
        |    CAST(SUM(CAST(ROUND(b.p, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS sb
        |  FROM sh a JOIN sh b ON a.term = b.term AND a.g < b.g
        |  GROUP BY 1, 2),
        |gp AS (SELECT a.g AS grp_a, b.g AS grp_b
        |       FROM tot a JOIN tot b ON a.g < b.g)
        |SELECT gp.grp_a, gp.grp_b,
        |  COALESCE(n_common, 0) AS n_common,
        |  ROUND((COALESCE(ci, 0.0) + ln(2) *
        |    ((1.0 - COALESCE(sa, 0.0)) + (1.0 - COALESCE(sb, 0.0))))
        |    / 2.0, 6) AS jsd
        |FROM gp LEFT JOIN inter
        |  ON gp.grp_a = inter.grp_a AND gp.grp_b = inter.grp_b""".stripMargin,

    "t_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        |edges AS (
        |  SELECT id1, id2 FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT id1, id1 FROM edges
        |  UNION
        |  SELECT e.id1, reach.r FROM edges e JOIN reach ON e.id2 = reach.id)
        |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    // t_dedup_clusters' brute-force clustering + t_curate's quality
    // formula, canonicalized per cluster by (quality desc, id).
    "t_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tl
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id,
        |    ROUND(
        |      0.4 * (CASE WHEN len(tk) BETWEEN 20 AND 100000 THEN 1.0
        |                  WHEN len(tk) >= 5 THEN 0.5 ELSE 0.0 END)
        |      + 0.4 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)
        |      + 0.2 * (CASE WHEN len(tl) > 0 AND
        |          CAST(len(list_filter(tl, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','this','that'))) AS DOUBLE) / len(tl) > 0.01
        |          THEN 1.0 ELSE 0.0 END), 6) AS q
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        |edges AS (
        |  SELECT id1, id2 FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT id1, id1 FROM edges
        |  UNION
        |  SELECT e.id1, reach.r FROM edges e JOIN reach ON e.id2 = reach.id),
        |clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |assigned AS (
        |  SELECT q.doc_id, q.q, COALESCE(c.cluster_id, q.doc_id) AS cluster_id
        |  FROM quality q LEFT JOIN clusters c ON q.doc_id = c.id)
        |SELECT cluster_id, doc_id AS kept_doc_id, q, n_members FROM (
        |  SELECT cluster_id, doc_id, q,
        |    row_number() OVER (PARTITION BY cluster_id
        |                       ORDER BY q DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM assigned) WHERE rn = 1""".stripMargin,

    "t_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id, list_transform(tk, t -> [
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647),
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 131 + c) % 2147483647)]) AS hs
        |  FROM toks),
        |sim AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 31), j ->
        |      CASE WHEN list_sum(list_transform(hs, h -> ((h[1] >> j) & 1)*2 - 1)) > 0
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
        |    + CASE WHEN list_sum(list_transform(hs, h -> ((h[2] >> j) & 1)*2 - 1)) > 0
        |           THEN (CAST(1 AS BIGINT) << (j+31)) ELSE 0 END)) AS BIGINT) AS sh
        |  FROM hs)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,

    // per-prefix cosine top-10 vs the full-dim top-10, same rounded
    // ordering and id tiebreaks
    "e_prefix_recall" -> {
      def cos(a: String, b: String): String =
        s"""ROUND(list_sum(list_transform(list_zip($a, $b),
           |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           |  / (sqrt(list_sum(list_transform($a,
           |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           |   * sqrt(list_sum(list_transform($b,
           |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"""
          .stripMargin
      val pres = Seq(8, 16, 32).map { d =>
        s"""p$d AS MATERIALIZED (
           |  SELECT e.vec_id AS id
           |  FROM embeddings e, q
           |  WHERE e.vec_id <> 17
           |  ORDER BY ${cos(s"e.embedding[1:$d]", s"q.qe[1:$d]")} DESC,
           |    e.vec_id
           |  LIMIT 10),
           |r$d AS (
           |  SELECT $d AS prefix_dim, CAST(10 AS BIGINT) AS k,
           |    CAST(COUNT(*) AS BIGINT) AS hits
           |  FROM p$d WHERE id IN (SELECT id FROM ft))""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS MATERIALIZED (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
         |ft AS MATERIALIZED (
         |  SELECT e.vec_id AS id
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> 17
         |  ORDER BY ${cos("e.embedding", "q.qe")} DESC, e.vec_id
         |  LIMIT 10),
         |$pres
         |SELECT prefix_dim, k, hits,
         |  ROUND(CAST(hits AS DOUBLE) / 10, 6) AS recall
         |FROM (SELECT * FROM r8 UNION ALL SELECT * FROM r16
         |      UNION ALL SELECT * FROM r32)""".stripMargin
    },

    // all k-center rounds unrolled; MATERIALIZED (each round
    // references the cumulative selection twice)
    "e_kcenter" -> {
      def cos(a: String, b: String): String =
        s"""ROUND(1.0 - list_sum(list_transform(list_zip($a, $b),
           |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           |  / (sqrt(list_sum(list_transform($a,
           |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           |   * sqrt(list_sum(list_transform($b,
           |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"""
          .stripMargin
      val base =
        """WITH s1 AS MATERIALIZED (
          |  SELECT 1 AS rank, vec_id AS id,
          |    CAST(NULL AS DOUBLE) AS maximin
          |  FROM embeddings ORDER BY vec_id LIMIT 1),
          |sel1 AS MATERIALIZED (SELECT * FROM s1)""".stripMargin
      val steps = (2 to 6).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT e.vec_id AS id,
           |    MIN(${cos("e.embedding", "c.embedding")}) AS dm
           |  FROM embeddings e, embeddings c
           |  WHERE c.vec_id IN (SELECT id FROM sel${i - 1})
           |    AND e.vec_id NOT IN (SELECT id FROM sel${i - 1})
           |  GROUP BY e.vec_id),
           |s$i AS MATERIALIZED (
           |  SELECT $i AS rank, id, dm AS maximin FROM d$i
           |  ORDER BY dm DESC, id LIMIT 1),
           |sel$i AS MATERIALIZED (
           |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""$base,
         |$steps
         |SELECT rank, id AS vec_id, maximin FROM sel6""".stripMargin
    },
    // all 10 MMR rounds unrolled; MATERIALIZED CTEs (each round
    // references the cumulative selection twice)

    // the power-iteration structure replayed PER COMPONENT (cov1..cov3
    // via sign-explicit HUGEINT Hotelling deflation — Spark `div`
    // truncates toward zero, DuckDB `//` floors, hence the CASE),
    // covariance quantized once to micro-units, all 3x6 rounds
    // unrolled on EXACT INTEGERS (HUGEINT = the engine's
    // decimal(38,0)), v0 = round(1/sqrt(64), 6) micro; generated by
    // the same Scala loop shape the engine runs (pcaOracleCtes)
    "e_pca_topk" -> {
      val outs = (1 to 3).map { c =>
        s"""SELECT $c AS component, CAST(v.j AS INT) AS dim,
  CAST(v.vmu AS DOUBLE) / 1000000.0 AS loading,
  ROUND(CAST(l.lmu AS DOUBLE) / 1000000.0, 6) AS eigenvalue
FROM c${c}v6 v, c${c}lam l"""
      }.mkString("\nUNION ALL\n")
      s"${pcaOracleCtes(3)}\n$outs"
    },

    // the k=2 basis replayed via the same generator, then the
    // whitened projection: exact pico-unit (x−μ)·v sums per
    // (vec_id, component), ONE double chain /1e12 /sqrt(λ), round 6
    "e_pca_project" -> {
      val basis = (1 to 2).map { c =>
        s"""SELECT $c AS component, v.j AS dim, v.vmu,
  ROUND(CAST(l.lmu AS DOUBLE) / 1000000.0, 6) AS eigenvalue
FROM c${c}v6 v, c${c}lam l"""
      }.mkString("\nUNION ALL\n")
      s"""${pcaOracleCtes(2)},
pb AS MATERIALIZED (
$basis),
pe AS MATERIALIZED (
  SELECT vec_id, u['i'] AS dim,
    CAST(CAST(ROUND(CAST(u['x'] AS DOUBLE), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS xmu
  FROM (
    SELECT vec_id,
      unnest(list_transform(range(1, len(embedding) + 1),
        k -> {'i': k - 1, 'x': embedding[CAST(k AS INT)]})) AS u
    FROM embeddings
    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)),
pn AS (SELECT COUNT(*) AS n FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
pm AS MATERIALIZED (
  SELECT dim,
    CAST(CAST(ROUND(CAST(SUM(xmu) AS DOUBLE) / 1000000.0
      / CAST(pn.n AS DOUBLE), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS mmu
  FROM pe, pn GROUP BY dim, pn.n),
proj AS (
  SELECT pe.vec_id, pb.component, pb.eigenvalue,
    SUM((pe.xmu - pm.mmu) * pb.vmu) AS p
  FROM pe JOIN pm ON pm.dim = pe.dim
    JOIN pb ON pb.dim = pe.dim
  GROUP BY 1, 2, 3)
SELECT vec_id, component,
  CASE WHEN eigenvalue > 0 THEN
    ROUND((CAST(p AS DOUBLE) / 1000000000000.0)
      / sqrt(eigenvalue), 6) END AS coord
FROM proj"""
    },

    "e_mmr_rerank" -> {
      def cos(a: String, b: String): String =
        s"""ROUND(list_sum(list_transform(list_zip($a, $b),
           |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           |  / (sqrt(list_sum(list_transform($a,
           |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           |   * sqrt(list_sum(list_transform($b,
           |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"""
          .stripMargin
      val base =
        s"""WITH qv AS MATERIALIZED (
           |  SELECT embedding AS q FROM embeddings WHERE vec_id = 17),
           |rel0 AS MATERIALIZED (
           |  SELECT e.vec_id AS id, ${cos("e.embedding", "qv.q")} AS rel
           |  FROM embeddings e, qv WHERE e.vec_id <> 17
           |  ORDER BY rel DESC, id LIMIT 20),
           |cv AS MATERIALIZED (
           |  SELECT e.vec_id AS id, e.embedding AS v
           |  FROM embeddings e JOIN rel0 ON rel0.id = e.vec_id),
           |pr AS MATERIALIZED (
           |  SELECT a.id AS ia, b.id AS ib, ${cos("a.v", "b.v")} AS sim
           |  FROM cv a, cv b WHERE a.id <> b.id),
           |s1 AS MATERIALIZED (
           |  SELECT 1 AS rank, id, rel,
           |    ROUND(CAST(0.7 AS DOUBLE) * rel, 6) AS score
           |  FROM rel0 ORDER BY rel DESC, id LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT * FROM s1)""".stripMargin
      val steps = (2 to 10).map { i =>
        s"""s$i AS MATERIALIZED (
           |  SELECT $i AS rank, r.id, r.rel,
           |    ROUND(CAST(0.7 AS DOUBLE) * r.rel
           |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
           |        * red.red, 6) AS score
           |  FROM rel0 r JOIN (
           |    SELECT ia AS id, MAX(sim) AS red FROM pr
           |    WHERE ib IN (SELECT id FROM sel${i - 1}) GROUP BY ia) red
           |    ON red.id = r.id
           |  WHERE r.id NOT IN (SELECT id FROM sel${i - 1})
           |  ORDER BY score DESC, r.id LIMIT 1),
           |sel$i AS MATERIALIZED (
           |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""$base,
         |$steps
         |SELECT rank, id AS vec_id, rel AS relevance,
         |  score AS mmr_score
         |FROM sel10""".stripMargin
    },

    "e_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS ne,
        |    sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nq
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |SELECT neighbor_id, ROUND(dot/(ne*nq), 6) AS cos_sim FROM d
        |ORDER BY cos_sim DESC, neighbor_id LIMIT 10""".stripMargin,

    // the sign-bit index recomputed in SQL: 32 MSB-first sign bits
    // per word via 1::BIGINT << (31 - offset) — bit 63 never set, so
    // no engine sign wrap — then Hamming = SUM bit_count(xor) over
    // the word-aligned join
    "e_binary_topk" ->
      """WITH bits AS (
        |  SELECT vec_id, CAST(u['i'] AS INT) // 32 AS w,
        |    CASE WHEN CAST(u['x'] AS DOUBLE) > 0
        |      THEN CAST(1 AS BIGINT) << (31 - (CAST(u['i'] AS INT) % 32))
        |      ELSE CAST(0 AS BIGINT) END AS b
        |  FROM (
        |    SELECT vec_id,
        |      unnest(list_transform(range(1, len(embedding) + 1),
        |        k -> {'i': k - 1, 'x': embedding[CAST(k AS INT)]})) AS u
        |    FROM embeddings
        |    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)),
        |codes AS (
        |  SELECT vec_id, w, CAST(SUM(b) AS BIGINT) AS word
        |  FROM bits GROUP BY vec_id, w),
        |ham AS (
        |  SELECT c.vec_id,
        |    CAST(SUM(bit_count(xor(c.word, q.word))) AS BIGINT)
        |      AS hamming
        |  FROM codes c JOIN codes q ON q.vec_id = 17 AND q.w = c.w
        |  WHERE c.vec_id <> 17
        |  GROUP BY c.vec_id),
        |top AS (
        |  SELECT vec_id, hamming FROM ham
        |  ORDER BY hamming, vec_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY hamming, vec_id)
        |    AS INT) AS rank,
        |  vec_id, hamming
        |FROM top""".stripMargin,

    // stage 1 = the e_binary_topk replay at shortlist width; stage 2
    // = exact round-6 cosine over ONLY the shortlist, id tiebreak in
    // both stages
    "e_binary_rerank" ->
      """WITH bits AS (
        |  SELECT vec_id, CAST(u['i'] AS INT) // 32 AS w,
        |    CASE WHEN CAST(u['x'] AS DOUBLE) > 0
        |      THEN CAST(1 AS BIGINT) << (31 - (CAST(u['i'] AS INT) % 32))
        |      ELSE CAST(0 AS BIGINT) END AS b
        |  FROM (
        |    SELECT vec_id,
        |      unnest(list_transform(range(1, len(embedding) + 1),
        |        k -> {'i': k - 1, 'x': embedding[CAST(k AS INT)]})) AS u
        |    FROM embeddings
        |    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)),
        |codes AS (
        |  SELECT vec_id, w, CAST(SUM(b) AS BIGINT) AS word
        |  FROM bits GROUP BY vec_id, w),
        |ham AS (
        |  SELECT c.vec_id,
        |    CAST(SUM(bit_count(xor(c.word, q.word))) AS BIGINT)
        |      AS hamming
        |  FROM codes c JOIN codes q ON q.vec_id = 17 AND q.w = c.w
        |  WHERE c.vec_id <> 17
        |  GROUP BY c.vec_id),
        |short AS (
        |  SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 50),
        |q AS (SELECT embedding AS qe FROM embeddings
        |      WHERE vec_id = 17),
        |rr AS (
        |  SELECT e.vec_id,
        |    ROUND(
        |      list_sum(list_transform(list_zip(e.embedding, q.qe),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |      AS cos_sim
        |  FROM embeddings e JOIN short USING (vec_id), q),
        |top AS (
        |  SELECT vec_id, cos_sim FROM rr
        |  ORDER BY cos_sim DESC, vec_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
        |    AS INT) AS rank,
        |  vec_id, cos_sim
        |FROM top""".stripMargin,

    // the binary serve + the exact round-6 cosine top-10, hits via
    // the k-row join (the e_pq_recall audit shape)
    "e_binary_recall" ->
      """WITH bits AS (
        |  SELECT vec_id, CAST(u['i'] AS INT) // 32 AS w,
        |    CASE WHEN CAST(u['x'] AS DOUBLE) > 0
        |      THEN CAST(1 AS BIGINT) << (31 - (CAST(u['i'] AS INT) % 32))
        |      ELSE CAST(0 AS BIGINT) END AS b
        |  FROM (
        |    SELECT vec_id,
        |      unnest(list_transform(range(1, len(embedding) + 1),
        |        k -> {'i': k - 1, 'x': embedding[CAST(k AS INT)]})) AS u
        |    FROM embeddings
        |    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)),
        |codes AS (
        |  SELECT vec_id, w, CAST(SUM(b) AS BIGINT) AS word
        |  FROM bits GROUP BY vec_id, w),
        |approx AS (
        |  SELECT c.vec_id,
        |    CAST(SUM(bit_count(xor(c.word, q.word))) AS BIGINT)
        |      AS hamming
        |  FROM codes c JOIN codes q ON q.vec_id = 17 AND q.w = c.w
        |  WHERE c.vec_id <> 17
        |  GROUP BY c.vec_id
        |  ORDER BY hamming, c.vec_id LIMIT 10),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
        |exact AS (
        |  SELECT e.vec_id,
        |    ROUND(
        |      list_sum(list_transform(list_zip(e.embedding, q.qe),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding,
        |           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qe,
        |           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |      AS c
        |  FROM embeddings e, q WHERE e.vec_id <> 17
        |  ORDER BY c DESC, e.vec_id LIMIT 10)
        |SELECT CAST(10 AS INTEGER) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS hits,
        |  ROUND(COUNT(*) / CAST(10 AS DOUBLE), 6) AS recall
        |FROM approx JOIN exact USING (vec_id)""".stripMargin,

    "e_ivf_topk" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 256),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (
        |  SELECT cell FROM cents, q
        |  ORDER BY ROUND(
        |    list_sum(list_transform(list_zip(ce, qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |    DESC, cell
        |  LIMIT 16),
        |assign AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM cents
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(cents.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(cents.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e WHERE e.vec_id <> 0)
        |SELECT a.vec_id AS neighbor_id,
        |  ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |    AS cos_sim
        |FROM assign a, q
        |WHERE a.cell IN (SELECT cell FROM probed)
        |ORDER BY cos_sim DESC, neighbor_id LIMIT 10""".stripMargin,

    // Same index arithmetic as e_ivf_topk, but over the PERSISTED-index
    // corpus (vec_id <> 0 — the query vector is not indexed) at the
    // indexed query's knobs (nlist=64, nprobe=8). Bucketing by cell is
    // layout, not semantics, so the SQL recomputes assignment directly.
    "e_ivf_indexed" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (
        |  SELECT cell FROM cents, q
        |  ORDER BY ROUND(
        |    list_sum(list_transform(list_zip(ce, qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |    DESC, cell
        |  LIMIT 8),
        |assign AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM cents
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(cents.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(cents.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e WHERE e.vec_id <> 0)
        |SELECT a.vec_id AS neighbor_id,
        |  ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |    AS cos_sim
        |FROM assign a, q
        |WHERE a.cell IN (SELECT cell FROM probed)
        |ORDER BY cos_sim DESC, neighbor_id LIMIT 10""".stripMargin,

    // whole-algorithm replay: init sample, round-6 cosine argmax
    // (ties lowest cell), exact-decimal per-dim means narrowed to
    // REAL, empty clusters keep the init centroid, final argmax
    "e_kmeans" -> KmeansAssignOracle,

    // assignment replay + micro SUM-vector centroids + the same
    // round-6 cosine/silhouette arithmetic, sign-explicit means
    "e_silhouette" -> (
      s"""WITH asg AS MATERIALIZED (
         |$KmeansAssignOracle),
         |pts AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, a.cluster AS own
         |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
         |dims AS (SELECT unnest(range(0, 64)) AS dim),
         |sums AS (
         |  SELECT own, d.dim,
         |    SUM(CAST(CAST(ROUND(CAST(embedding[d.dim + 1] AS DOUBLE),
         |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS s
         |  FROM pts, dims d GROUP BY own, d.dim),
         |cv AS (
         |  SELECT own AS c, list(CAST(s AS DOUBLE) ORDER BY dim) AS cv
         |  FROM sums GROUP BY own),
         |dd AS (
         |  SELECT p.vec_id, p.own, c.c,
         |    ROUND(list_sum(list_transform(list_zip(c.cv, p.embedding),
         |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(c.cv,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(p.embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
         |      AS cos
         |  FROM pts p CROSS JOIN cv c),
         |pp AS (
         |  SELECT vec_id, own,
         |    MAX(CASE WHEN own = c THEN cos END) AS co,
         |    MAX(CASE WHEN own <> c THEN cos END) AS cb
         |  FROM dd GROUP BY vec_id, own),
         |si AS (
         |  SELECT own,
         |    CASE WHEN GREATEST(CAST(1 AS DOUBLE) - co,
         |        CAST(1 AS DOUBLE) - cb) > 0 THEN
         |      CAST(CAST(ROUND(((CAST(1 AS DOUBLE) - cb)
         |          - (CAST(1 AS DOUBLE) - co))
         |        / GREATEST(CAST(1 AS DOUBLE) - co,
         |            CAST(1 AS DOUBLE) - cb), 6) AS DECIMAL(18,6))
         |        * 1000000 AS BIGINT)
         |    ELSE 0 END AS sm
         |  FROM pp),
         |ag AS (
         |  SELECT own, COUNT(*) AS n, SUM(sm) AS ssum
         |  FROM si GROUP BY own)
         |SELECT CAST(own AS INT) AS cluster, CAST(n AS BIGINT) AS n,
         |  ROUND(CAST(CASE WHEN ssum >= 0 THEN ssum // n
         |    ELSE -((-ssum) // n) END AS DOUBLE) / 1e6, 6)
         |  AS mean_silhouette
         |FROM ag""".stripMargin),

    // assignment replay + purity + the a33 MI arithmetic on
    // (cluster, label)
    "e_cluster_purity" -> (
      s"""WITH asg AS MATERIALIZED (
         |$KmeansAssignOracle),
         |j AS (
         |  SELECT a.cluster AS ca, e.label AS lb
         |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id),
         |c AS (SELECT ca, lb, COUNT(*) AS nab FROM j GROUP BY 1, 2),
         |tots AS (SELECT CAST(SUM(nab) AS BIGINT) AS nt FROM c),
         |pur AS (
         |  SELECT ROUND(CAST((SELECT SUM(mx) FROM (
         |      SELECT ca, MAX(nab) AS mx FROM c GROUP BY ca)) AS DOUBLE)
         |    / CAST(nt AS DOUBLE), 6) AS purity
         |  FROM tots),
         |w AS (
         |  SELECT nab,
         |    SUM(nab) OVER (PARTITION BY ca) AS na,
         |    SUM(nab) OVER (PARTITION BY lb) AS nb,
         |    SUM(nab) OVER () AS n
         |  FROM c),
         |agg AS (
         |  SELECT CAST(SUM(nab) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS cells,
         |    SUM(CAST(nab * ROUND(ln(CAST(nab AS DOUBLE) * CAST(n AS DOUBLE)
         |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
         |      AS DECIMAL(28,6))) AS minum
         |  FROM w),
         |ma AS (
         |  SELECT SUM(CAST(na * ROUND(ln(CAST(na AS DOUBLE)), 6)
         |    AS DECIMAL(28,6))) AS sa
         |  FROM (SELECT ca, SUM(nab) AS na FROM c GROUP BY ca)),
         |mb AS (
         |  SELECT SUM(CAST(nb * ROUND(ln(CAST(nb AS DOUBLE)), 6)
         |    AS DECIMAL(28,6))) AS sb
         |  FROM (SELECT lb, SUM(nab) AS nb FROM c GROUP BY lb)),
         |f AS (
         |  SELECT n, cells,
         |    ROUND(CAST(minum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mi,
         |    ROUND(ln(CAST(n AS DOUBLE))
         |      - CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_a,
         |    ROUND(ln(CAST(n AS DOUBLE))
         |      - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_b
         |  FROM agg, ma, mb)
         |SELECT n, cells, purity, mi, h_a, h_b,
         |  CASE WHEN LEAST(h_a, h_b) > 0
         |       THEN ROUND(mi / LEAST(h_a, h_b), 6) END AS nmi
         |FROM f, pur""".stripMargin),

    // the whole PQ training run replayed per subspace: portable-hash
    // init slices, round-6 L2 argmin (lowest code ties), exact-decimal
    // per-dim means narrowed to REAL, final encode vs the trained books
    "e_pq_encode" ->
      """WITH init AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS code,
        |    embedding AS e
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 8),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |cb0 AS (
        |  SELECT subs.sub, init.code,
        |    init.e[subs.sub*16 + 1 : subs.sub*16 + 16] AS ce
        |  FROM init, subs),
        |a1 AS (
        |  SELECT e.vec_id, s.sub,
        |    (SELECT code FROM cb0 WHERE cb0.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb0.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM embeddings e, subs s),
        |m1 AS (
        |  SELECT a.sub, a.code, d.sd,
        |    CAST(CAST(SUM(CAST(ROUND(
        |        CAST(e.embedding[a.sub*16 + d.sd + 1] AS DOUBLE), 6)
        |        AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS mn
        |  FROM a1 a JOIN embeddings e USING (vec_id),
        |    (SELECT unnest(range(16)) AS sd) d
        |  GROUP BY 1, 2, 3),
        |cb1 AS (
        |  SELECT cb0.sub, cb0.code, COALESCE(l.ml, cb0.ce) AS ce
        |  FROM cb0 LEFT JOIN (
        |    SELECT sub, code, list(mn ORDER BY sd) AS ml
        |    FROM m1 GROUP BY 1, 2) l
        |  USING (sub, code)),
        |a2 AS (
        |  SELECT e.vec_id, s.sub,
        |    (SELECT code FROM cb1 WHERE cb1.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb1.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM embeddings e, subs s)
        |SELECT vec_id,
        |  array_to_string(list(CAST(code AS INT) ORDER BY sub), ',')
        |    AS codes
        |FROM a2 GROUP BY vec_id""".stripMargin,

    // the full IVFADC replay: coarse cells, EXACT-FLOAT residuals
    // (x[1]-x[2] on FLOAT lists = Spark's float zip_with), codebooks
    // trained on residuals, per-probed-cell query-residual tables
    "e_ivfpq_residual" ->
      """WITH ic AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 16),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
        |cells AS (
        |  SELECT e.vec_id,
        |    (SELECT cell FROM ic
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(ic.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(ic.ce,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e),
        |r AS (
        |  SELECT e.vec_id,
        |    list_transform(list_zip(e.embedding, ic.ce),
        |      x -> x[1] - x[2]) AS res
        |  FROM embeddings e
        |  JOIN cells c ON c.vec_id = e.vec_id
        |  JOIN ic ON ic.cell = c.cell),
        |init AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS code,
        |    res AS e
        |  FROM r
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 8),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |cb0 AS (
        |  SELECT subs.sub, init.code,
        |    init.e[subs.sub*16 + 1 : subs.sub*16 + 16] AS ce
        |  FROM init, subs),
        |a1 AS (
        |  SELECT r.vec_id, s.sub,
        |    (SELECT code FROM cb0 WHERE cb0.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb0.ce, r.res[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM r, subs s),
        |m1 AS (
        |  SELECT a.sub, a.code, d.sd,
        |    CAST(CAST(SUM(CAST(ROUND(
        |        CAST(r.res[a.sub*16 + d.sd + 1] AS DOUBLE), 6)
        |        AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS mn
        |  FROM a1 a JOIN r USING (vec_id),
        |    (SELECT unnest(range(16)) AS sd) d
        |  GROUP BY 1, 2, 3),
        |cb1 AS (
        |  SELECT cb0.sub, cb0.code, COALESCE(l.ml, cb0.ce) AS ce
        |  FROM cb0 LEFT JOIN (
        |    SELECT sub, code, list(mn ORDER BY sd) AS ml
        |    FROM m1 GROUP BY 1, 2) l
        |  USING (sub, code)),
        |a2 AS (
        |  SELECT r.vec_id, s.sub,
        |    (SELECT code FROM cb1 WHERE cb1.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb1.ce, r.res[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM r, subs s),
        |probed AS (
        |  SELECT ic.cell FROM ic, qv
        |  ORDER BY ROUND(
        |      list_sum(list_transform(list_zip(ic.ce, qv.qe),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(ic.ce,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(qv.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |    DESC, ic.cell
        |  LIMIT 4),
        |qres AS (
        |  SELECT ic.cell,
        |    list_transform(list_zip(qv.qe, ic.ce), x -> x[1] - x[2]) AS qr
        |  FROM ic, qv
        |  WHERE ic.cell IN (SELECT cell FROM probed)),
        |tbl AS (
        |  SELECT q2.cell, cb1.sub, cb1.code,
        |    ROUND(list_sum(list_transform(
        |      list_zip(cb1.ce, q2.qr[cb1.sub*16+1 : cb1.sub*16+16]),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM cb1, qres q2)
        |SELECT a.vec_id,
        |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        |FROM a2 a
        |JOIN cells c ON c.vec_id = a.vec_id
        |JOIN tbl t ON t.cell = c.cell AND t.sub = a.sub AND t.code = a.code
        |WHERE c.cell IN (SELECT cell FROM probed)
        |GROUP BY a.vec_id
        |ORDER BY adc_dist, a.vec_id
        |LIMIT 10""".stripMargin,

    // IVF replay (portable-hash centroid init, round-6 cosine argmax
    // cells, top-nprobe probe) composed with the full PQ replay; the
    // probed-cell filter gates the ADC scoring exactly as the engine's
    // isin does
    "e_ivfpq_topk" ->
      """WITH ic AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 16),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
        |cells AS (
        |  SELECT e.vec_id,
        |    (SELECT cell FROM ic
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(ic.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(ic.ce,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e),
        |probed AS (
        |  SELECT ic.cell FROM ic, qv
        |  ORDER BY ROUND(
        |      list_sum(list_transform(list_zip(ic.ce, qv.qe),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(ic.ce,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(qv.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |    DESC, ic.cell
        |  LIMIT 4),
        |init AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS code,
        |    embedding AS e
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 8),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |cb0 AS (
        |  SELECT subs.sub, init.code,
        |    init.e[subs.sub*16 + 1 : subs.sub*16 + 16] AS ce
        |  FROM init, subs),
        |a1 AS (
        |  SELECT e.vec_id, s.sub,
        |    (SELECT code FROM cb0 WHERE cb0.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb0.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM embeddings e, subs s),
        |m1 AS (
        |  SELECT a.sub, a.code, d.sd,
        |    CAST(CAST(SUM(CAST(ROUND(
        |        CAST(e.embedding[a.sub*16 + d.sd + 1] AS DOUBLE), 6)
        |        AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS mn
        |  FROM a1 a JOIN embeddings e USING (vec_id),
        |    (SELECT unnest(range(16)) AS sd) d
        |  GROUP BY 1, 2, 3),
        |cb1 AS (
        |  SELECT cb0.sub, cb0.code, COALESCE(l.ml, cb0.ce) AS ce
        |  FROM cb0 LEFT JOIN (
        |    SELECT sub, code, list(mn ORDER BY sd) AS ml
        |    FROM m1 GROUP BY 1, 2) l
        |  USING (sub, code)),
        |a2 AS (
        |  SELECT e.vec_id, s.sub,
        |    (SELECT code FROM cb1 WHERE cb1.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb1.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM embeddings e, subs s),
        |tbl AS (
        |  SELECT cb1.sub, cb1.code,
        |    ROUND(list_sum(list_transform(
        |      list_zip(cb1.ce,
        |        (SELECT qe FROM qv)[cb1.sub*16+1 : cb1.sub*16+16]),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM cb1)
        |SELECT a.vec_id,
        |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        |FROM a2 a
        |JOIN tbl t ON t.sub = a.sub AND t.code = a.code
        |JOIN cells c ON c.vec_id = a.vec_id
        |WHERE c.cell IN (SELECT cell FROM probed)
        |GROUP BY a.vec_id
        |ORDER BY adc_dist, a.vec_id
        |LIMIT 10""".stripMargin,

    // the persisted-index query must equal the end-to-end run: the
    // SAME SQL as e_pq_topk is the contract that persistence never
    // changes the answer
    "e_pq_indexed" ->
      """WITH init AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,
        |        vec_id) - 1 AS code,
        |    embedding AS e
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 8),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |cb0 AS (
        |  SELECT subs.sub, init.code,
        |    init.e[subs.sub*16 + 1 : subs.sub*16 + 16] AS ce
        |  FROM init, subs),
        |a1 AS (
        |  SELECT e.vec_id, s.sub,
        |    (SELECT code FROM cb0 WHERE cb0.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb0.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM embeddings e, subs s),
        |m1 AS (
        |  SELECT a.sub, a.code, d.sd,
        |    CAST(CAST(SUM(CAST(ROUND(
        |        CAST(e.embedding[a.sub*16 + d.sd + 1] AS DOUBLE), 6)
        |        AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS REAL) AS mn
        |  FROM a1 a JOIN embeddings e USING (vec_id),
        |    (SELECT unnest(range(16)) AS sd) d
        |  GROUP BY 1, 2, 3),
        |cb1 AS (
        |  SELECT cb0.sub, cb0.code, COALESCE(l.ml, cb0.ce) AS ce
        |  FROM cb0 LEFT JOIN (
        |    SELECT sub, code, list(mn ORDER BY sd) AS ml
        |    FROM m1 GROUP BY 1, 2) l
        |  USING (sub, code)),
        |a2 AS (
        |  SELECT e.vec_id, s.sub,
        |    (SELECT code FROM cb1 WHERE cb1.sub = s.sub
        |     ORDER BY ROUND(list_sum(list_transform(
        |         list_zip(cb1.ce, e.embedding[s.sub*16+1 : s.sub*16+16]),
        |         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6),
        |       code
        |     LIMIT 1) AS code
        |  FROM embeddings e, subs s),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 17),
        |tbl AS (
        |  SELECT cb1.sub, cb1.code,
        |    ROUND(list_sum(list_transform(
        |      list_zip(cb1.ce,
        |        (SELECT qe FROM q)[cb1.sub*16+1 : cb1.sub*16+16]),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM cb1)
        |SELECT a.vec_id,
        |  CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        |FROM a2 a JOIN tbl t ON t.sub = a.sub AND t.code = a.code
        |GROUP BY a.vec_id
        |ORDER BY adc_dist, a.vec_id
        |LIMIT 10""".stripMargin,

    // same trained books; ADC = exact-decimal sum of the round-6
    // per-subspace query-to-code distances
    "e_pq_topk" -> PqTopKOracle,

    // the PQ replay embedded as a subquery, overlapped with the exact
    // L2 top-10 (ties broken by id in both arms)
    "e_pq_recall" -> (
      s"""WITH approx AS (SELECT * FROM (
         |$PqTopKOracle
         |) pq),
         |q AS (SELECT embedding AS qe FROM embeddings
         |      WHERE vec_id = 17),
         |exact AS (
         |  SELECT vec_id,
         |    ROUND(list_sum(list_transform(list_zip(embedding, qe),
         |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6)
         |      AS d
         |  FROM embeddings, q
         |  ORDER BY d, vec_id LIMIT 10)
         |SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS hits,
         |  ROUND(COUNT(*) / CAST(10 AS DOUBLE), 6) AS recall
         |FROM approx JOIN exact USING (vec_id)""".stripMargin),

    "e_label_centroid" ->
      """WITH dims AS (
        |  SELECT unnest(range(0, (SELECT MAX(len(embedding))
        |                          FROM embeddings))) AS dim)
        |SELECT e.label, d.dim,
        |  CAST(SUM(CAST(ROUND(CAST(embedding[d.dim + 1] AS DOUBLE), 6)
        |      AS DECIMAL(20,6))) AS DOUBLE) AS sum_x,
        |  COUNT(*) AS n
        |FROM embeddings e JOIN dims d ON d.dim < len(e.embedding)
        |GROUP BY e.label, d.dim""".stripMargin,

    "e_quantize_int8" ->
      """WITH p AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS lo,
        |    CAST(list_max(embedding) AS DOUBLE) AS hi,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |     - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sc
        |  FROM embeddings)
        |SELECT vec_id,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(CASE WHEN hi = lo THEN 0 ELSE
        |      LEAST(255, GREATEST(0,
        |        CAST(floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) AS INT)))
        |    END AS VARCHAR)), ',') AS codes,
        |  ROUND(list_sum(list_transform(embedding, x ->
        |    abs(CAST(x AS DOUBLE) - (lo + CAST(CASE WHEN hi = lo THEN 0 ELSE
        |      LEAST(255, GREATEST(0,
        |        CAST(floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) AS INT)))
        |    END AS DOUBLE) * sc)))) / len(embedding), 6) AS mean_abs_err,
        |  ROUND(list_max(list_transform(embedding, x ->
        |    abs(CAST(x AS DOUBLE) - (lo + CAST(CASE WHEN hi = lo THEN 0 ELSE
        |      LEAST(255, GREATEST(0,
        |        CAST(floor((CAST(x AS DOUBLE) - lo) / sc + 0.5) AS INT)))
        |    END AS DOUBLE) * sc)))), 6) AS max_abs_err
        |FROM p""".stripMargin,

    // Same index arithmetic as e_ivf_topk generalized to a BATCH of
    // queries (every 100th vector), each probing its own top-8 cells.
    "e_ivf_knn_join" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |q AS (SELECT vec_id AS query_id, embedding AS qe
        |      FROM embeddings WHERE vec_id % 100 = 0),
        |probed AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cents.cell,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(ce, qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, cents.cell) AS pr
        |    FROM cents, q)
        |  WHERE pr <= 8),
        |assign AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM cents
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(cents.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(cents.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    ROUND(
        |      list_sum(list_transform(list_zip(a.embedding, q.qe),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |      AS cos_sim
        |  FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
        |  WHERE a.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin,

    // three covariance families (xy, xx, yy) through the e_pca_topk
    // cell discipline, Frobenius sums on HUGEINT, one double chain
    "e_cka" -> {
      def fam(name: String, la: String, lb: String, sa: String,
              sb: String) =
        s"""c$name AS MATERIALIZED (
  SELECT u['i'] AS i, u['j'] AS j, SUM(u['p']) AS sp
  FROM (
    SELECT unnest(flatten(list_transform(range(1, len($la) + 1),
      a -> list_transform(range(1, len($lb) + 1),
        b -> {'i': a - 1, 'j': b - 1,
              'p': CAST(ROUND(CAST($la[CAST(a AS INT)] AS DOUBLE)
                * CAST($lb[CAST(b AS INT)] AS DOUBLE), 6)
                AS DECIMAL(18,6))})))) AS u
    FROM e)
  GROUP BY 1, 2),
v$name AS MATERIALIZED (
  SELECT CAST(SUM(cmu * cmu) AS HUGEINT) AS f FROM (
    SELECT CAST(CAST(ROUND((CAST(sp AS DOUBLE)
        - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)
          / CAST(n.n AS DOUBLE))
        / (CAST(n.n AS DOUBLE) - 1.0), 6) AS DECIMAL(18,6))
      * 1000000 AS HUGEINT) AS cmu
    FROM c$name, n, $sa si, $sb sj
    WHERE si.i = c$name.i AND sj.i = c$name.j))"""
      s"""WITH e AS MATERIALIZED (
  SELECT embedding AS x, embedding[1:16] AS y FROM embeddings
  WHERE embedding IS NOT NULL),
n AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
sx AS MATERIALIZED (
  SELECT u['i'] AS i,
    SUM(CAST(ROUND(CAST(u['v'] AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
  FROM (
    SELECT unnest(list_transform(range(1, len(x) + 1),
      k -> {'i': k - 1, 'v': x[CAST(k AS INT)]})) AS u
    FROM e)
  GROUP BY 1),
sy AS MATERIALIZED (
  SELECT u['i'] AS i,
    SUM(CAST(ROUND(CAST(u['v'] AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
  FROM (
    SELECT unnest(list_transform(range(1, len(y) + 1),
      k -> {'i': k - 1, 'v': y[CAST(k AS INT)]})) AS u
    FROM e)
  GROUP BY 1),
${fam("xy", "x", "y", "sx", "sy")},
${fam("xx", "x", "x", "sx", "sx")},
${fam("yy", "y", "y", "sy", "sy")}
SELECT n.n AS n, 64 AS d_x, 16 AS d_y,
  CASE WHEN vxx.f > 0 AND vyy.f > 0 THEN
    ROUND(CAST(vxy.f AS DOUBLE) / (sqrt(CAST(vxx.f AS DOUBLE))
      * sqrt(CAST(vyy.f AS DOUBLE))), 6) END AS cka
FROM n, vxy, vxx, vyy"""
    },

    // brute top-10 + the e_ivf_knn_join IVF replay (derived nlist,
    // nprobe=8) + the RBO tail: per-item W(max(ra,rb)) weights as
    // term-wise round-6 decimals (the a58 POWER discipline), exact
    // decimal sum, one x0.1 product, one double round
    // the WHOLE IVF structure (derived nlist, centroid pick, probe
    // ranks, TWO-LEVEL cell assignment: ⌈√nlist⌉ supers → member→
    // super groups with supers self-pinned → per-vector super argmax
    // then within-group argmax, per-query top-10) + same-label
    // relevance + the nDCG tail — the e_rbo replay feeding the
    // e_ndcg chains
    "e_ndcg_ivf" ->
      """WITH src AS MATERIALIZED (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |q AS MATERIALIZED (
        |  SELECT vec_id AS query_id, embedding AS qe, label AS ql
        |  FROM src WHERE vec_id % 100 = 0),
        |cents AS MATERIALIZED (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM src
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT (SELECT GREATEST(16,
        |    CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) FROM src)),
        |probed AS MATERIALIZED (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cents.cell,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(ce, qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, cents.cell) AS pr
        |    FROM cents, q)
        |  WHERE pr <= 8),
        |nsup AS (
        |  SELECT CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
        |    AS ns FROM cents),
        |sup AS MATERIALIZED (
        |  SELECT cell, ce FROM cents
        |  WHERE cell < (SELECT ns FROM nsup)),
        |so0 AS (
        |  SELECT c.cell, s.cell AS sup,
        |    row_number() OVER (PARTITION BY c.cell ORDER BY ROUND(
        |      list_sum(list_transform(list_zip(c.ce, s.ce),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(s.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |      DESC, s.cell) AS pr
        |  FROM cents c, sup s),
        |superof AS MATERIALIZED (
        |  SELECT cell, CASE WHEN cell < (SELECT ns FROM nsup)
        |    THEN cell ELSE sup END AS sup
        |  FROM so0 WHERE pr = 1),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, embedding, label, sup FROM (
        |    SELECT e.vec_id, e.embedding, e.label, s.cell AS sup,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(s.ce, e.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(s.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, s.cell) AS pr
        |    FROM src e, sup s)
        |  WHERE pr = 1),
        |assign AS MATERIALIZED (
        |  SELECT vec_id, embedding, label, cell FROM (
        |    SELECT a.vec_id, a.embedding, a.label, so.cell,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(c.ce, a.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, so.cell) AS rn
        |    FROM a1 a JOIN superof so ON so.sup = a.sup
        |      JOIN cents c ON c.cell = so.cell)
        |  WHERE rn = 1),
        |ivf AS MATERIALIZED (
        |  SELECT query_id, ql, nl, rb FROM (
        |    SELECT p.query_id, q.ql, a.label AS nl,
        |      row_number() OVER (PARTITION BY p.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(a.embedding, q.qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, a.vec_id) AS rb
        |    FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
        |    WHERE a.vec_id <> p.query_id)
        |  WHERE rb <= 10),
        |rel AS (
        |  SELECT query_id, rb AS r,
        |    CASE WHEN ql = nl THEN 1 ELSE 0 END AS rel
        |  FROM ivf),
        |ir AS (SELECT query_id, r, rel,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, r ASC) AS irk
        |  FROM rel),
        |t AS (SELECT query_id,
        |    CAST(ROUND(CAST(rel AS DOUBLE) *
        |      (ln(2) / ln(CAST(r AS DOUBLE) + 1.0)), 6)
        |      AS DECIMAL(18,6)) AS g,
        |    CAST(ROUND(CAST(rel AS DOUBLE) *
        |      (ln(2) / ln(CAST(irk AS DOUBLE) + 1.0)), 6)
        |      AS DECIMAL(18,6)) AS ig,
        |    CASE WHEN rel > 0 THEN 1 ELSE 0 END AS isrel
        |  FROM ir),
        |agg AS (SELECT query_id AS query,
        |    CAST(COUNT(*) AS BIGINT) AS n_ranked,
        |    CAST(SUM(isrel) AS BIGINT) AS n_rel,
        |    CAST(SUM(g) AS DECIMAL(28,6)) AS dcg,
        |    CAST(SUM(ig) AS DECIMAL(28,6)) AS idcg
        |  FROM t GROUP BY 1)
        |SELECT query, n_ranked, n_rel,
        |  CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
        |  CASE WHEN idcg > 0 THEN
        |    ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
        |  END AS ndcg
        |FROM agg""".stripMargin,

    // the e_rbo brute top-10 replay + same-label relevance; gain
    // terms one rounded chain each, DCG/IDCG exact decimal sums
    "e_ndcg" ->
      """WITH src AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |q AS MATERIALIZED (
        |  SELECT vec_id AS query_id, embedding AS qe
        |  FROM src WHERE vec_id % 100 = 0),
        |brute AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, ra FROM (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(e.embedding, q.qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(q.qe,
        |             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, e.vec_id) AS ra
        |    FROM q, src e WHERE e.vec_id <> q.query_id)
        |  WHERE ra <= 10),
        |rel AS (
        |  SELECT b.query_id, b.ra AS r,
        |    CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
        |  FROM brute b
        |  JOIN embeddings ql ON ql.vec_id = b.query_id
        |  JOIN embeddings nl ON nl.vec_id = b.neighbor_id),
        |ir AS (SELECT query_id, r, rel,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, r ASC) AS irk
        |  FROM rel),
        |t AS (SELECT query_id,
        |    CAST(ROUND(CAST(rel AS DOUBLE) *
        |      (ln(2) / ln(CAST(r AS DOUBLE) + 1.0)), 6)
        |      AS DECIMAL(18,6)) AS g,
        |    CAST(ROUND(CAST(rel AS DOUBLE) *
        |      (ln(2) / ln(CAST(irk AS DOUBLE) + 1.0)), 6)
        |      AS DECIMAL(18,6)) AS ig,
        |    CASE WHEN rel > 0 THEN 1 ELSE 0 END AS isrel
        |  FROM ir),
        |agg AS (SELECT query_id AS query,
        |    CAST(COUNT(*) AS BIGINT) AS n_ranked,
        |    CAST(SUM(isrel) AS BIGINT) AS n_rel,
        |    CAST(SUM(g) AS DECIMAL(28,6)) AS dcg,
        |    CAST(SUM(ig) AS DECIMAL(28,6)) AS idcg
        |  FROM t GROUP BY 1)
        |SELECT query, n_ranked, n_rel,
        |  CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
        |  CASE WHEN idcg > 0 THEN
        |    ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
        |  END AS ndcg
        |FROM agg""".stripMargin,

    "e_rbo" ->
      """WITH src AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |q AS MATERIALIZED (
        |  SELECT vec_id AS query_id, embedding AS qe
        |  FROM src WHERE vec_id % 100 = 0),
        |brute AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, ra FROM (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(e.embedding, q.qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(q.qe,
        |             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, e.vec_id) AS ra
        |    FROM q, src e WHERE e.vec_id <> q.query_id)
        |  WHERE ra <= 10),
        |cents AS MATERIALIZED (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM src
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |probed AS MATERIALIZED (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cents.cell,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(ce, qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, cents.cell) AS pr
        |    FROM cents, q)
        |  WHERE pr <= 8),
        |assign AS MATERIALIZED (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM cents
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(cents.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(cents.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM src e),
        |ivf AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, rb FROM (
        |    SELECT p.query_id, a.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY p.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(a.embedding, q.qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, a.vec_id) AS rb
        |    FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
        |    WHERE a.vec_id <> p.query_id)
        |  WHERE rb <= 10),
        |wt AS (
        |  SELECT m, SUM(CAST(ROUND(POWER(CAST(0.9 AS DOUBLE), d - 1)
        |    / d, 6) AS DECIMAL(18,6))) AS w
        |  FROM range(1, 11) tm(m), range(1, 11) td(d)
        |  WHERE d >= m GROUP BY m),
        |com AS (
        |  SELECT b.query_id, greatest(b.ra, v.rb) AS m
        |  FROM brute b JOIN ivf v ON v.query_id = b.query_id
        |    AND v.neighbor_id = b.neighbor_id),
        |perq AS (
        |  SELECT query_id, COUNT(*) AS n_common, SUM(w.w) AS ws
        |  FROM com JOIN wt w ON w.m = com.m GROUP BY query_id),
        |allq AS (
        |  SELECT query_id FROM brute UNION SELECT query_id FROM ivf)
        |SELECT a.query_id,
        |  CAST(COALESCE(p.n_common, 0) AS BIGINT) AS n_common,
        |  ROUND(CAST(COALESCE(p.ws, CAST(0 AS DECIMAL(18,6)))
        |    * CAST(0.1 AS DECIMAL(18,6)) AS DOUBLE), 6) AS rbo
        |FROM allq a LEFT JOIN perq p USING (query_id)""".stripMargin,

    // The e_ivf_knn_join arithmetic over the PERSISTED-index corpus
    // (vec_id <> 0, nlist=64 — e_ivf_indexed's staging knobs).
    "e_ivf_knn_indexed" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |q AS (SELECT vec_id AS query_id, embedding AS qe
        |      FROM embeddings WHERE vec_id % 100 = 0),
        |probed AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cents.cell,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY ROUND(
        |        list_sum(list_transform(list_zip(ce, qe),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        DESC, cents.cell) AS pr
        |    FROM cents, q)
        |  WHERE pr <= 8),
        |assign AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT cell FROM cents
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(cents.ce, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(cents.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM embeddings e WHERE e.vec_id <> 0),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    ROUND(
        |      list_sum(list_transform(list_zip(a.embedding, q.qe),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |      AS cos_sim
        |  FROM probed p JOIN assign a USING (cell) JOIN q USING (query_id)
        |  WHERE a.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin,

    "e_sim_pairs" ->
      """SELECT a.label AS lbl, a.vec_id AS id1, b.vec_id AS id2,
        |  ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |    AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) >= 0.3""".stripMargin,

    // SemDeDup from scratch: centroids = first-64 in portable-hash
    // order over the SAME union, cells = round(cos,6) argmax with
    // ties to the lowest cell, kept = no earlier cell-mate at >= 0.8.
    "e_semdedup" ->
      """WITH inj AS (
        |  SELECT CAST(1000000 + i AS BIGINT) AS vec_id,
        |    list_transform(range(0, 64), d ->
        |      CAST(CAST((d*7) % 16 - 8 AS DOUBLE)/16.0
        |        + CASE WHEN d = i THEN 0.0625 ELSE 0.0 END AS FLOAT)) AS embedding
        |  FROM range(0, 5) t(i)),
        |allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM inj),
        |cents AS (
        |  SELECT row_number() OVER (
        |      ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id) - 1 AS cell,
        |    embedding AS ce
        |  FROM allv
        |  ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id
        |  LIMIT 64),
        |assign AS (
        |  SELECT v.vec_id, v.embedding,
        |    (SELECT cell FROM cents
        |     ORDER BY ROUND(
        |       list_sum(list_transform(list_zip(cents.ce, v.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(cents.ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |       DESC, cell
        |     LIMIT 1) AS cell
        |  FROM allv v)
        |SELECT b.vec_id AS id, CAST(b.cell AS BIGINT) AS cell,
        |  NOT EXISTS (SELECT 1 FROM assign a
        |    WHERE a.cell = b.cell AND a.vec_id < b.vec_id
        |      AND ROUND(
        |        list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |        >= 0.8) AS kept
        |FROM assign b""".stripMargin,

    "e_semantic_neardup" ->
      """WITH inj AS (
        |  SELECT CAST(1000000 + i AS BIGINT) AS vec_id,
        |    list_transform(range(0, 64), d ->
        |      CAST(CAST((d*7) % 16 - 8 AS DOUBLE)/16.0
        |        + CASE WHEN d = i THEN 0.0625 ELSE 0.0 END AS FLOAT)) AS embedding
        |  FROM range(0, 5) t(i)),
        |allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM inj)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
        |    AS cos_sim
        |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |WHERE ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) >= 0.8""".stripMargin,

    "w4_sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
        |       THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM (SELECT event_id, user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)""".stripMargin,

    "t_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
        |        x -> CAST(length(x) * 131 + ascii(x) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents""".stripMargin,

    "t_token_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |    AS n_bpe
        |FROM documents""".stripMargin,

    "t_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i+1])) AS bigram
        |  FROM toks WHERE len(ts) >= 2),
        |counts AS (
        |  SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram)
        |SELECT doc_id,
        |  ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_bigram_share,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS distinct_bigram_ratio
        |FROM counts GROUP BY doc_id""".stripMargin,

    "t_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || doc_id || '@example.com or +1 555 01'
        |        || (doc_id % 100) || ' now',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9 ]{5,}[0-9]', '<PHONE>', 'g') AS clean
        |FROM documents""".stripMargin,

    "t_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 2147483647) * 2654435761) % 2147483647 % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 50 END""".stripMargin,

    "t_mix_domains" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 2147483647) * 2654435761) % 2147483647 AS h
        |  FROM documents
        |  WHERE lang IN ('en', 'es', 'fr', 'de')),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c
        |WHERE cum_tokens <= CASE lang WHEN 'en' THEN 8000 WHEN 'es' THEN 3200
        |                              WHEN 'fr' THEN 2400 WHEN 'de' THEN 1600 END""".stripMargin,

    // domain-mix capstone: expected eTLD+1 hand-written per doc_id
    // class (PSL replay is t_registrable_domain's oracle), then the
    // quota (portable-hash row_number ≤ 40) and the greedy budget
    // fill (flat per-domain window vs the engine's sharded sum)
    "t_domain_mix" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |dom AS (
        |  SELECT doc_id, text, CASE doc_id % 4
        |    WHEN 0 THEN 'example.com'
        |    WHEN 1 THEN 'site-b.co.uk'
        |    WHEN 2 THEN 'blog.blogspot.com'
        |    ELSE 'gamma.org' END AS registrable_domain
        |  FROM d),
        |capped AS (
        |  SELECT doc_id, text, registrable_domain FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY registrable_domain
        |      ORDER BY ((doc_id % 2147483647) * 2654435761)
        |        % 2147483647, doc_id) AS rn
        |    FROM dom) WHERE rn <= 40),
        |tok AS (
        |  SELECT doc_id, registrable_domain,
        |    CAST(len(list_filter(string_split_regex(trim(text),
        |      '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 2147483647) * 2654435761) % 2147483647 AS h
        |  FROM capped),
        |c AS (
        |  SELECT doc_id, registrable_domain, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY registrable_domain
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_tokens
        |  FROM tok)
        |SELECT doc_id, registrable_domain, n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= CASE registrable_domain
        |  WHEN 'example.com' THEN 2400
        |  WHEN 'site-b.co.uk' THEN 1800
        |  WHEN 'blog.blogspot.com' THEN 1200
        |  ELSE 600 END""".stripMargin,

    "m_media_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS sha,
        |  CAST(32 + (octet_length(encode(text)) * 7919) % 4096 AS INT) AS width,
        |  CAST(32 + (octet_length(encode(text)) * 104729) % 4096 AS INT) AS height
        |FROM documents""".stripMargin,

    "m_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  unnest(range(0, 1 + octet_length(encode(text)) % 300, 7)) AS frame_index
        |FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin,

    // full aHash replay from the character stream (ASCII corpus:
    // chars == payload bytes), same integer block bounds and
    // cross-multiplied compare, then the identical band join
    "m_phash_neardup" ->
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
        |WHERE bit_count(xor(a.ah, b2.ah)) <= 3""".stripMargin,

    // the staged file tree is derived from documents, so the oracle
    // recomputes every ingested row from the table itself
    "m_media_ingest" ->
      """SELECT 's' || CAST(doc_id % 4 AS VARCHAR) || '/doc_' ||
        |    CAST(doc_id AS VARCHAR) || '.bin' AS rel_path,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS sha
        |FROM documents WHERE doc_id < 200""".stripMargin,

    // the decode is REAL (ImageIO pixel parse); the oracle recovers
    // every decoded value from the synthetic-PNG generation formula:
    // w=8+id%24, h=8+id%16, left w//2 columns gray id%256, the rest
    // 7id%256 — chan_sum = 3h(w//2·g1 + (w−w//2)·g2); integer
    // micro-unit mean (both engines truncate non-negative division)
    // what a REAL WAV parse must read back, derived from the
    // generation formula (positive ints: % and // are div-safe)
    "m_wav_decode" ->
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
        |FROM s""".stripMargin,

    "m_image_decode" ->
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
        |FROM c""".stripMargin,

    // frame count read back by ImageIO from real animated-GIF bytes;
    // the oracle replays the generation formula 1 + doc_id%7
    "m_gif_frames" ->
      """SELECT doc_id AS media_id,
        |  unnest(range(0, CAST(1 + doc_id % 7 AS BIGINT), 2)) AS frame_index
        |FROM documents WHERE doc_id < 120""".stripMargin,

    // the batch window+rank formulation the streaming heap agg must
    // reproduce
    "s_stream_topk" ->
      """SELECT window_start, event_type, CAST(rn AS INT) AS rank,
        |  event_id, value
        |FROM (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    event_id, value,
        |    row_number() OVER (
        |      PARTITION BY date_trunc('hour', ts), event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rn <= 3""".stripMargin,

    "s_stream_windowed" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // batch recomputation of the streamed per-day PSI: same reference
    // profile (first-half deciles, Laplace-guarded shares), same
    // per-term round-6 + fixed left-assoc bin fold; unrolled over the
    // 10 bins programmatically for readability
    "s_stream_psi" -> {
      val qs = (1 to 9).map(i =>
        s"quantile_cont(v, 0.$i) AS q$i").mkString(",\n  ")
      val binExpr = "1 " +
        (1 to 9).map(i => s"+ CAST(v > q$i AS INT)").mkString(" ")
      val ns = (1 to 10).map(i =>
        s"SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS n$i")
        .mkString(",\n  ")
      val rsp = (1 to 10).map(i =>
        s"MAX(CASE WHEN bin = $i THEN r END) AS r$i").mkString(",\n  ")
      def share(i: Int) =
        s"(n$i + CAST(0.5 AS DOUBLE)) / (tot + CAST(5.0 AS DOUBLE))"
      val terms = (1 to 10).map(i =>
        s"ROUND((${share(i)} - r$i) * ln((${share(i)}) / r$i), 6)")
        .mkString("\n  + ")
      s"""WITH r0 AS (
         |  SELECT CAST(value AS DOUBLE) AS v FROM events
         |  WHERE value IS NOT NULL AND day(ts) <= 15),
         |q AS (SELECT
         |  $qs
         |  FROM r0),
         |rb AS (SELECT $binExpr AS bin FROM r0, q),
         |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
         |tr AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS tr FROM r),
         |rs AS (SELECT i AS bin,
         |         (COALESCE(ref_n, 0) + CAST(0.5 AS DOUBLE)) /
         |           (tr + CAST(5.0 AS DOUBLE)) AS r
         |       FROM range(1, 11) t(i) LEFT JOIN r ON r.bin = i, tr),
         |rsp AS (SELECT
         |  $rsp
         |  FROM rs),
         |a0 AS (SELECT CAST(value AS DOUBLE) AS v,
         |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
         |       FROM events WHERE value IS NOT NULL),
         |ab AS (SELECT d, $binExpr AS bin FROM a0, q),
         |cnt AS (SELECT d,
         |  $ns,
         |  COUNT(*) AS tot FROM ab GROUP BY 1)
         |SELECT d AS window_start, CAST(tot AS BIGINT) AS n_events,
         |  ROUND($terms, 6) AS psi
         |FROM cnt, rsp""".stripMargin
    },

    // the frozen reference (plain shares) + per-window bins replayed;
    // per-bin sqrt(q·r) rounded once, BC an exact decimal fold
    "s_stream_hellinger" -> {
      val qs = (1 to 9).map(i =>
        s"quantile_cont(v, 0.$i) AS q$i").mkString(",\n  ")
      val binExpr = "1 " +
        (1 to 9).map(i => s"+ CAST(v > q$i AS INT)").mkString(" ")
      val ns = (1 to 10).map(i =>
        s"SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS n$i")
        .mkString(",\n  ")
      val rsp = (1 to 10).map(i =>
        s"MAX(CASE WHEN bin = $i THEN r END) AS r$i").mkString(",\n  ")
      val terms = (1 to 10).map(i =>
        s"""CAST(ROUND(sqrt(CAST(n$i AS DOUBLE) / CAST(tot AS DOUBLE)
           |    * r$i), 6) AS DECIMAL(18,6))""".stripMargin)
        .mkString("\n  + ")
      s"""WITH r0 AS (
         |  SELECT CAST(value AS DOUBLE) AS v FROM events
         |  WHERE value IS NOT NULL AND day(ts) <= 15),
         |q AS (SELECT
         |  $qs
         |  FROM r0),
         |rb AS (SELECT $binExpr AS bin FROM r0, q),
         |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
         |tr AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS tr FROM r),
         |rs AS (SELECT i AS bin,
         |         CAST(COALESCE(ref_n, 0) AS DOUBLE) /
         |           CAST(tr AS DOUBLE) AS r
         |       FROM range(1, 11) t(i) LEFT JOIN r ON r.bin = i, tr),
         |rsp AS (SELECT
         |  $rsp
         |  FROM rs),
         |a0 AS (SELECT CAST(value AS DOUBLE) AS v,
         |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
         |       FROM events WHERE value IS NOT NULL),
         |ab AS (SELECT d, $binExpr AS bin FROM a0, q),
         |cnt AS (SELECT d,
         |  $ns,
         |  COUNT(*) AS tot FROM ab GROUP BY 1),
         |fold AS (SELECT d, tot,
         |  CAST($terms AS DECIMAL(28,6)) AS bcd
         |  FROM cnt, rsp)
         |SELECT d AS window_start, CAST(tot AS BIGINT) AS n_events,
         |  CAST(bcd AS DOUBLE) AS bc,
         |  ROUND(sqrt(GREATEST(CAST(0.0 AS DOUBLE),
         |    CAST(1.0 AS DOUBLE) - CAST(bcd AS DOUBLE))), 6)
         |    AS hellinger
         |FROM fold""".stripMargin
    },

    // every event lands in exactly windowLen/slide = 2 sliding windows:
    // its 30-min bucket's window and the one starting 30 min earlier
    "s_stream_sliding" ->
      """WITH off AS (SELECT unnest(range(0, 2)) AS k)
        |SELECT time_bucket(INTERVAL '30 minutes', ts)
        |    - k * INTERVAL '30 minutes' AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, off GROUP BY 1, 2""".stripMargin,

    // gaps-and-islands with the session_window merge rule: a gap of
    // EXACTLY the 1800s threshold splits (merge iff start < prev end);
    // session end = last event + gap
    "w10_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '30 minutes' AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // funnel: identical greedy cascade — stage i's time is the MIN
    // event time of that type at-or-after stage i-1's time; epoch()
    // keeps sub-second precision like Spark's double cast
    "w11_funnel" -> FunnelOracle,

    // the streaming reach rows aggregated to the same funnel shape
    "s_stream_funnel" -> FunnelOracle,

    "t_next_event" ->
      """SELECT event_id, user_id,
        |  lag(event_type, 3) OVER w || ' ' ||
        |  lag(event_type, 2) OVER w || ' ' ||
        |  lag(event_type, 1) OVER w AS context,
        |  event_type AS label
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |QUALIFY lag(event_type, 3) OVER w IS NOT NULL""".stripMargin,

    // transition matrix: same lag-over-(ts, event_id) + per-source
    // share; window SUM cast BIGINT-safe in the probability
    "w15_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS next, COUNT(*) AS n
        |      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  ROUND(CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT), 6) AS p
        |FROM c""".stripMargin,

    // negative sampling: count^0.75 on the round-6 grid, decimal
    // running sum in the portable char-fold order
    "t_neg_sampling" ->
      """WITH cu AS (
        |  SELECT term, COUNT(*) AS n,
        |    ROUND(pow(CAST(COUNT(*) AS DOUBLE), 0.75), 6) AS w
        |  FROM (SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term FROM documents)
        |  GROUP BY term),
        |tw AS (SELECT SUM(CAST(w AS DECIMAL(28,6))) AS twt FROM cu),
        |h AS (
        |  SELECT term, n, w,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647) AS hh
        |  FROM cu)
        |SELECT term, n, w,
        |  ROUND(w / CAST(tw.twt AS DOUBLE), 6) AS p,
        |  ROUND(CAST(SUM(CAST(w AS DECIMAL(28,6)))
        |      OVER (ORDER BY hh, term
        |            ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cum_w
        |FROM h, tw""".stripMargin,

    // funnel latency: the same cascade, quantile_cont over the exact
    // double-epoch gaps — Spark percentile's interpolation twin
    "w14_funnel_latency" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(epoch(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t
        |  GROUP BY e.user_id),
        |conv AS (
        |  SELECT s3.user_id, s1.t AS t1, s2.t AS t2, s3.t AS t3
        |  FROM s3 JOIN s2 USING (user_id) JOIN s1 USING (user_id))
        |SELECT COUNT(*) AS n_converted,
        |  ROUND(quantile_cont(t2 - t1, 0.5), 6) AS p50_click_secs,
        |  ROUND(quantile_cont(t2 - t1, 0.9), 6) AS p90_click_secs,
        |  ROUND(quantile_cont(t3 - t1, 0.5), 6) AS p50_convert_secs,
        |  ROUND(quantile_cont(t3 - t1, 0.9), 6) AS p90_convert_secs
        |FROM conv""".stripMargin,

    // windowed funnel: the cascade plus the stage-1 anchor bound —
    // double epoch arithmetic identical on both engines
    "w13_funnel_windowed" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(epoch(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t
        |    AND epoch(e.ts) <= s1.t + 86400
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(epoch(e.ts)) AS t
        |  FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t
        |    AND epoch(e.ts) <= s1.t + 86400
        |  GROUP BY e.user_id),
        |c AS (SELECT (SELECT COUNT(*) FROM s1) AS c1,
        |             (SELECT COUNT(*) FROM s2) AS c2,
        |             (SELECT COUNT(*) FROM s3) AS c3)
        |SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage, c1 AS users,
        |  CASE WHEN c1 > 0 THEN ROUND(CAST(c1 AS DOUBLE) / c1, 6) END
        |    AS conversion FROM c
        |UNION ALL SELECT CAST(2 AS INT), 'click', c2,
        |  CASE WHEN c1 > 0 THEN ROUND(CAST(c2 AS DOUBLE) / c1, 6) END
        |  FROM c
        |UNION ALL SELECT CAST(3 AS INT), 'purchase', c3,
        |  CASE WHEN c1 > 0 THEN ROUND(CAST(c3 AS DOUBLE) / c1, 6) END
        |  FROM c""".stripMargin,

    // retention: offsets are exact epoch multiples of 604800 (both
    // engines truncate weeks to Monday 00:00; UTC has no DST), so
    // DuckDB's rounding INT cast and Spark's truncating one agree
    "w12_retention" ->
      """WITH c AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        |  FROM events GROUP BY user_id)
        |SELECT c.cohort AS cohort_week,
        |  CAST(datediff('day', c.cohort, date_trunc('week', e.ts))
        |       / 7 AS INT) AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS active_users
        |FROM events e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // half-open lookback mirrors rangeJoin's [start, end) filter
    "w17_attribution" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.purchase_id, c.click_id, c.ts
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts)
        |SELECT purchase_id, click_id,
        |  ROUND(CAST(1 AS DOUBLE) /
        |        COUNT(*) OVER (PARTITION BY purchase_id), 6) AS credit,
        |  (ROW_NUMBER() OVER (PARTITION BY purchase_id
        |     ORDER BY ts DESC, click_id DESC) = 1) AS last_touch
        |FROM j""".stripMargin,

    // identical digit-from-decimal-string extraction and IEEE term
    // sequence; p on the round-6 grid before the chi-square arithmetic
    "a21_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM g)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS obs_share,
        |  ROUND(log10(CAST(1 AS DOUBLE) +
        |              CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)
        |    AS benford_p,
        |  ROUND((CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) *
        |           ROUND(log10(CAST(1 AS DOUBLE) +
        |             CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)) *
        |        (CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) *
        |           ROUND(log10(CAST(1 AS DOUBLE) +
        |             CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)) /
        |        (CAST(nn AS DOUBLE) *
        |           ROUND(log10(CAST(1 AS DOUBLE) +
        |             CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)), 6)
        |    AS chi2_term
        |FROM g, t""".stripMargin,

    // the CM sketch replayed with its published hash constants; each
    // key's exact count lands in 4 cells, estimate = min over rows
    "a22_cms_topk" ->
      """WITH c AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS k, COUNT(*) AS exact
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |cells AS (
        |  SELECT c.k, c.exact, h.i,
        |    ((h.a * c.k + h.b) % 2147483647) % 1024 AS bucket
        |  FROM c, (VALUES (0, 1103515245, 12345),
        |                  (1, 69069, 362437),
        |                  (2, 1664525, 1013904223),
        |                  (3, 22695477, 1)) AS h(i, a, b)),
        |sketch AS (
        |  SELECT i, bucket, CAST(SUM(exact) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |est AS (
        |  SELECT ce.k, MIN(s.cnt) AS cms_est, MAX(ce.exact) AS exact
        |  FROM cells ce JOIN sketch s
        |    ON s.i = ce.i AND s.bucket = ce.bucket
        |  GROUP BY 1)
        |SELECT k AS l_partkey, cms_est, exact,
        |  cms_est - exact AS overcount
        |FROM est ORDER BY cms_est DESC, l_partkey LIMIT 20""".stripMargin,

    // Gini over the count-of-counts closed form: keys sharing count c
    // occupy a contiguous rank run starting at r0 = cum − f + 1
    "a23_skew_report" ->
      """WITH kc AS (
        |  SELECT CAST(user_id AS BIGINT) AS k, COUNT(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |f AS (SELECT cnt, COUNT(*) AS fr FROM kc GROUP BY 1),
        |w AS (SELECT cnt, fr, SUM(fr) OVER (ORDER BY cnt) AS cum FROM f),
        |g AS (SELECT CAST(SUM(fr) AS BIGINT) AS n_keys,
        |        CAST(SUM(cnt * fr) AS BIGINT) AS n_rows,
        |        CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
        |        SUM(cnt * (2 * fr * (cum - fr + 1) + fr * (fr - 1)))
        |          AS ga
        |      FROM w),
        |p AS (SELECT ROUND(quantile_cont(cnt, 0.5), 6) AS p50_key_rows,
        |        ROUND(quantile_cont(cnt, 0.99), 6) AS p99_key_rows
        |      FROM kc)
        |SELECT n_keys, n_rows, max_key_rows, p50_key_rows, p99_key_rows,
        |  ROUND(CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS top_key_share,
        |  ROUND((CAST(ga AS DOUBLE) -
        |         CAST(n_keys + 1 AS DOUBLE) * CAST(n_rows AS DOUBLE)) /
        |        (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6)
        |    AS gini
        |FROM g, p""".stripMargin,

    // reference deciles bin both halves; Laplace-guarded shares;
    // full outer keeps bins empty on either side
    "a29_psi" ->
      """WITH r0 AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND day(ts) <= 15),
        |c0 AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND day(ts) > 15),
        |q AS (SELECT quantile_cont(v, 0.1) AS q1,
        |  quantile_cont(v, 0.2) AS q2, quantile_cont(v, 0.3) AS q3,
        |  quantile_cont(v, 0.4) AS q4, quantile_cont(v, 0.5) AS q5,
        |  quantile_cont(v, 0.6) AS q6, quantile_cont(v, 0.7) AS q7,
        |  quantile_cont(v, 0.8) AS q8, quantile_cont(v, 0.9) AS q9
        |  FROM r0),
        |rb AS (SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
        |  + CAST(v > q3 AS INT) + CAST(v > q4 AS INT)
        |  + CAST(v > q5 AS INT) + CAST(v > q6 AS INT)
        |  + CAST(v > q7 AS INT) + CAST(v > q8 AS INT)
        |  + CAST(v > q9 AS INT) AS bin FROM r0, q),
        |cb AS (SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
        |  + CAST(v > q3 AS INT) + CAST(v > q4 AS INT)
        |  + CAST(v > q5 AS INT) + CAST(v > q6 AS INT)
        |  + CAST(v > q7 AS INT) + CAST(v > q8 AS INT)
        |  + CAST(v > q9 AS INT) AS bin FROM c0, q),
        |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
        |c AS (SELECT bin, COUNT(*) AS cur_n FROM cb GROUP BY 1),
        |t AS (SELECT (SELECT CAST(SUM(ref_n) AS BIGINT) FROM r) AS tr,
        |             (SELECT CAST(SUM(cur_n) AS BIGINT) FROM c) AS tc),
        |f AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |        CAST(COALESCE(ref_n, 0) AS BIGINT) AS ref_n,
        |        CAST(COALESCE(cur_n, 0) AS BIGINT) AS cur_n
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT bin, ref_n, cur_n,
        |  ROUND((ref_n + CAST(0.5 AS DOUBLE)) /
        |        (tr + CAST(5.0 AS DOUBLE)), 6) AS ref_share,
        |  ROUND((cur_n + CAST(0.5 AS DOUBLE)) /
        |        (tc + CAST(5.0 AS DOUBLE)), 6) AS cur_share,
        |  ROUND(((cur_n + CAST(0.5 AS DOUBLE)) /
        |           (tc + CAST(5.0 AS DOUBLE)) -
        |         (ref_n + CAST(0.5 AS DOUBLE)) /
        |           (tr + CAST(5.0 AS DOUBLE))) *
        |        ln(((cur_n + CAST(0.5 AS DOUBLE)) /
        |             (tc + CAST(5.0 AS DOUBLE))) /
        |           ((ref_n + CAST(0.5 AS DOUBLE)) /
        |             (tr + CAST(5.0 AS DOUBLE)))), 6) AS psi_term
        |FROM f, t""".stripMargin,

    // one global lag is the whole oracle; the Spark side must produce
    // the identical hole set from its bucketed two-path formulation
    "a31_seq_gaps" ->
      """WITH ids AS (
        |  SELECT DISTINCT event_id AS id FROM events
        |  WHERE event_type = 'click'),
        |g AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids)
        |SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
        |  CAST(id - 1 AS BIGINT) AS gap_end,
        |  CAST(id - prev - 1 AS BIGINT) AS missing
        |FROM g WHERE prev IS NOT NULL AND id - prev - 1 >= 20""".stripMargin,

    "a32_k_anon" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  count(*) AS n
        |FROM orders
        |GROUP BY 1, 2, 3, 4
        |HAVING count(*) < 5""".stripMargin,

    // same accumulation discipline as the Spark side: marginal
    // products through double BEFORE multiplying, per-cell
    // contributions rounded to 6 then summed exact-decimal
    "a30_chisq" ->
      """WITH observed AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS obs
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT g.o_orderpriority, g.o_orderstatus,
        |    COALESCE(o.obs, 0) AS obs
        |  FROM (SELECT a.o_orderpriority, b.o_orderstatus
        |        FROM (SELECT DISTINCT o_orderpriority FROM observed) a,
        |             (SELECT DISTINCT o_orderstatus FROM observed) b) g
        |  LEFT JOIN observed o
        |    ON o.o_orderpriority = g.o_orderpriority
        |   AND o.o_orderstatus = g.o_orderstatus),
        |dims AS (
        |  SELECT CAST(count(DISTINCT o_orderpriority) AS INT) AS na,
        |         CAST(count(DISTINCT o_orderstatus) AS INT) AS nb,
        |         CAST(sum(obs) AS DOUBLE) AS tot
        |  FROM cells),
        |m AS (
        |  SELECT o_orderpriority, o_orderstatus, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
        |      AS rt,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
        |      AS ct
        |  FROM cells),
        |e AS (
        |  SELECT o_orderpriority, o_orderstatus, obs,
        |    rt * ct / tot AS expd,
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) *
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) /
        |      (rt * ct / tot) AS contrib,
        |    na, nb
        |  FROM m, dims)
        |SELECT o_orderpriority, o_orderstatus,
        |  CAST(obs AS BIGINT) AS obs,
        |  ROUND(expd, 6) AS expected,
        |  ROUND(contrib, 6) AS contrib,
        |  ROUND(CAST(SUM(CAST(ROUND(contrib, 6) AS DECIMAL(28,6)))
        |    OVER () AS DOUBLE), 6) AS chi2,
        |  CAST((na - 1) * (nb - 1) AS INT) AS dof
        |FROM e""".stripMargin,

    // the a30 chi2 suite statistic folded into V; same round-6
    // contribution sum, one fixed-order sqrt at the end
    "a39_cramers_v" ->
      """WITH observed AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS obs
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT g.o_orderpriority, g.o_orderstatus,
        |    COALESCE(o.obs, 0) AS obs
        |  FROM (SELECT a.o_orderpriority, b.o_orderstatus
        |        FROM (SELECT DISTINCT o_orderpriority FROM observed) a,
        |             (SELECT DISTINCT o_orderstatus FROM observed) b) g
        |  LEFT JOIN observed o
        |    ON o.o_orderpriority = g.o_orderpriority
        |   AND o.o_orderstatus = g.o_orderstatus),
        |m AS (
        |  SELECT o_orderpriority, o_orderstatus, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
        |      AS rt,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
        |      AS ct,
        |    CAST(SUM(obs) OVER () AS DOUBLE) AS tot
        |  FROM cells),
        |e AS (
        |  SELECT obs,
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) *
        |    (CAST(obs AS DOUBLE) - rt * ct / tot) /
        |      (rt * ct / tot) AS contrib
        |  FROM m),
        |agg AS (
        |  SELECT CAST(SUM(obs) AS BIGINT) AS n,
        |    ROUND(CAST(SUM(CAST(ROUND(contrib, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS chi2
        |  FROM e),
        |dims AS (
        |  SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ra,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS rb
        |  FROM cells)
        |SELECT n, chi2,
        |  CAST((ra - 1) * (rb - 1) AS INT) AS dof,
        |  CASE WHEN LEAST(ra - 1, rb - 1) > 0 AND n > 0
        |       THEN ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
        |         * CAST(LEAST(ra - 1, rb - 1) AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM agg, dims""".stripMargin,

    // flat-window CDF replay (the bucketed hierarchy is a pure
    // refactoring of the same cumulative sums); exact-integer argmax
    "a38_ks_drift" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    EXTRACT(day FROM ts) <= 15 AS a
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |c AS (
        |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY v),
        |t AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb
        |  FROM c),
        |cum AS (
        |  SELECT v,
        |    SUM(ca) OVER (ORDER BY v) AS pa,
        |    SUM(cb) OVER (ORDER BY v) AS pb
        |  FROM c)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(CAST(abs(pa * nb - pb * na) AS DOUBLE)
        |    / CAST(na * nb AS DOUBLE), 6) AS d_stat,
        |  CAST(v AS DOUBLE) AS at_value
        |FROM cum, t
        |ORDER BY abs(pa * nb - pb * na) DESC, v LIMIT 1""".stripMargin,

    // doubled Mann-Whitney U replayed on exact integers (DuckDB sums
    // promote through HUGEINT); flat window = the bucketed hierarchy
    "a40_roc_auc" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT v, SUM(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS cn
        |  FROM s GROUP BY v),
        |cum AS (
        |  SELECT cp, cn,
        |    SUM(cn) OVER (ORDER BY v) - cn AS neg_below
        |  FROM c)
        |SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
        |  CAST(SUM(cn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(cp) > 0 AND SUM(cn) > 0 THEN
        |    ROUND(CAST(SUM(cp * (2 * neg_below + cn)) AS DOUBLE)
        |      / CAST(2 * SUM(cp) * SUM(cn) AS DOUBLE), 6) END AS auc
        |FROM cum""".stripMargin,

    // per-bin confidence/accuracy replayed in the same exact integer
    // micro-units (truncating //, both engines floor non-negatives)
    // concordant/tied pair counts on HUGEINT off the distinct-value
    // cumulative; delta = (2*conc + tied - tot)/tot, one division
    "a66_cliffs_delta" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT v, SUM(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS cn
        |  FROM s GROUP BY v),
        |cum AS (
        |  SELECT cp, cn,
        |    SUM(cn) OVER (ORDER BY v) - cn AS negBelow
        |  FROM c)
        |SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
        |  CAST(SUM(cn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(cp) > 0 AND SUM(cn) > 0 THEN
        |    ROUND(CAST(2 * SUM(CAST(cp AS HUGEINT) * negBelow)
        |        + SUM(CAST(cp AS HUGEINT) * cn)
        |        - CAST(SUM(cp) AS HUGEINT) * CAST(SUM(cn) AS HUGEINT)
        |      AS DOUBLE)
        |      / CAST(CAST(SUM(cp) AS HUGEINT)
        |        * CAST(SUM(cn) AS HUGEINT) AS DOUBLE), 6)
        |  END AS delta
        |FROM cum""".stripMargin,

    // exact doubled average ranks + HUGEINT U_k off window prefix
    // sums; one exp double chain for the p-value, rounded once
    "a67_pettitt" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS i,
        |    CAST(CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |        AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
        |      AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |vals AS (SELECT v, COUNT(*) AS t FROM daily GROUP BY v),
        |ranks AS (SELECT v,
        |    2*(SUM(t) OVER (ORDER BY v) - t) + t + 1 AS r2
        |  FROM vals),
        |sq AS (SELECT i, r2 FROM daily JOIN ranks USING (v)),
        |cum AS (SELECT i,
        |    SUM(r2) OVER (ORDER BY i) AS w,
        |    ROW_NUMBER() OVER (ORDER BY i) AS k
        |  FROM sq),
        |nn AS (SELECT COUNT(*) AS n FROM daily),
        |u AS (SELECT i, k, nn.n,
        |    abs(CAST(w AS HUGEINT) - CAST(k AS HUGEINT) * (nn.n + 1))
        |      AS au
        |  FROM cum, nn WHERE k < nn.n),
        |b AS (SELECT * FROM u ORDER BY au DESC, k ASC LIMIT 1)
        |SELECT CAST(n AS BIGINT) AS n, CAST(au AS BIGINT) AS u_max,
        |  CAST(i AS BIGINT) AS change_at,
        |  ROUND(LEAST(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE) * exp(
        |    CAST(-6.0 AS DOUBLE) * CAST(au AS DOUBLE) * CAST(au AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT)*n*n + CAST(n AS HUGEINT)*n
        |        AS DOUBLE))), 6) AS p_value
        |FROM b""".stripMargin,

    // a29's reference-percentile bins; per-bin √(p·q) rounded once,
    // BC an exact decimal sum, H and −ln BC one double step each
    "a68_hellinger" ->
      """WITH r0 AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND day(ts) <= 15),
        |c0 AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND day(ts) > 15),
        |q AS (SELECT quantile_cont(v, 0.1) AS q1,
        |  quantile_cont(v, 0.2) AS q2, quantile_cont(v, 0.3) AS q3,
        |  quantile_cont(v, 0.4) AS q4, quantile_cont(v, 0.5) AS q5,
        |  quantile_cont(v, 0.6) AS q6, quantile_cont(v, 0.7) AS q7,
        |  quantile_cont(v, 0.8) AS q8, quantile_cont(v, 0.9) AS q9
        |  FROM r0),
        |rb AS (SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
        |  + CAST(v > q3 AS INT) + CAST(v > q4 AS INT)
        |  + CAST(v > q5 AS INT) + CAST(v > q6 AS INT)
        |  + CAST(v > q7 AS INT) + CAST(v > q8 AS INT)
        |  + CAST(v > q9 AS INT) AS bin FROM r0, q),
        |cb AS (SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
        |  + CAST(v > q3 AS INT) + CAST(v > q4 AS INT)
        |  + CAST(v > q5 AS INT) + CAST(v > q6 AS INT)
        |  + CAST(v > q7 AS INT) + CAST(v > q8 AS INT)
        |  + CAST(v > q9 AS INT) AS bin FROM c0, q),
        |r AS (SELECT bin, COUNT(*) AS ref_n FROM rb GROUP BY 1),
        |c AS (SELECT bin, COUNT(*) AS cur_n FROM cb GROUP BY 1),
        |t AS (SELECT (SELECT CAST(COALESCE(SUM(ref_n), 0) AS BIGINT)
        |                FROM r) AS tr,
        |             (SELECT CAST(COALESCE(SUM(cur_n), 0) AS BIGINT)
        |                FROM c) AS tc),
        |f AS (SELECT CAST(COALESCE(ref_n, 0) AS BIGINT) AS ref_n,
        |        CAST(COALESCE(cur_n, 0) AS BIGINT) AS cur_n
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |terms AS (SELECT tr, tc,
        |    CAST(ROUND(sqrt(
        |      CAST(CAST(ref_n AS HUGEINT) * cur_n AS DOUBLE) /
        |      CAST(CAST(tr AS HUGEINT) * tc AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS bct
        |  FROM f, t),
        |agg AS (SELECT MAX(tr) AS n_ref, MAX(tc) AS n_cur,
        |    CAST(SUM(bct) AS DOUBLE) AS bc
        |  FROM terms)
        |SELECT n_ref, n_cur, bc,
        |  CASE WHEN bc IS NOT NULL THEN
        |    ROUND(sqrt(GREATEST(CAST(0.0 AS DOUBLE),
        |      CAST(1.0 AS DOUBLE) - bc)), 6) END AS hellinger,
        |  CASE WHEN bc > 0 THEN ROUND(-ln(bc), 6) + CAST(0.0 AS DOUBLE)
        |  END AS b_distance
        |FROM agg""".stripMargin,

    // exact HUGEINT per-group moments; each S²/n and Q term one
    // rounded double chain summed exactly; F/η² one step each
    "a69_anova" ->
      """WITH src AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |grp AS (
        |  SELECT g, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS q
        |  FROM src GROUP BY g),
        |termed AS (
        |  SELECT n, s,
        |    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 1e12), 6) AS DECIMAL(28,6)) AS t,
        |    CAST(ROUND(CAST(q AS DOUBLE) / 1e12, 6)
        |      AS DECIMAL(28,6)) AS qn
        |  FROM grp),
        |agg AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(s) AS stot,
        |    CAST(SUM(t) AS DECIMAL(38,6)) AS tsum,
        |    CAST(SUM(qn) AS DECIMAL(38,6)) AS qsum
        |  FROM termed),
        |g2 AS (
        |  SELECT k, n, tsum, qsum,
        |    CAST(ROUND(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 1e12), 6) AS DECIMAL(38,6)) AS g2n
        |  FROM agg),
        |ss AS (SELECT k, n, tsum - g2n AS ssb, qsum - tsum AS ssw
        |  FROM g2)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  CAST(ssb AS DOUBLE) AS ss_between,
        |  CAST(ssw AS DOUBLE) AS ss_within,
        |  CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        |    ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
        |          (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE)), 6)
        |  END AS f_stat,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    ROUND(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE), 6)
        |  END AS eta_sq
        |FROM ss""".stripMargin,

    // Cox partial-likelihood GD, all 3 steps + the final risk pass
    // unrolled and generated by the same loop shape the engine runs:
    // suffix-window risk-set sums (exact DECIMAL of round-6 terms),
    // one round-6 double division per event time, half-away HUGEINT
    // β steps with lr = 0.05/n_events
    "w38_cox" -> {
      def zExpr(b: String) =
        s"ROUND(x0 * (CAST($b.bm0 AS DOUBLE) / 1000000.0) + " +
          s"x1 * (CAST($b.bm1 AS DOUBLE) / 1000000.0), 6)"
      def riskPass(k: Int, b: String) =
        s"""w$k AS MATERIALIZED (
           |  SELECT dur, e, x0, x1, ${zExpr(b)} AS z,
           |    ROUND(exp(${zExpr(b)}), 6) AS w
           |  FROM sub, $b),
           |per$k AS MATERIALIZED (
           |  SELECT dur,
           |    CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS dt,
           |    SUM(CAST(w AS DECIMAL(18,6))) AS sw,
           |    SUM(CAST(CASE WHEN e THEN z ELSE 0.0 END
           |      AS DECIMAL(28,6))) AS sz,
           |    SUM(CAST(CASE WHEN e THEN x0 ELSE 0.0 END
           |      AS DECIMAL(28,6))) AS sx0,
           |    SUM(CAST(ROUND(w * x0, 6) AS DECIMAL(28,6))) AS st0,
           |    SUM(CAST(CASE WHEN e THEN x1 ELSE 0.0 END
           |      AS DECIMAL(28,6))) AS sx1,
           |    SUM(CAST(ROUND(w * x1, 6) AS DECIMAL(28,6))) AS st1
           |  FROM w$k GROUP BY dur),
           |sfx$k AS MATERIALIZED (
           |  SELECT dur, dt, sz, sx0, sx1,
           |    SUM(sw)  OVER sfx AS s0,
           |    SUM(st0) OVER sfx AS s10,
           |    SUM(st1) OVER sfx AS s11
           |  FROM per$k
           |  WINDOW sfx AS (ORDER BY dur DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
          .stripMargin
      def ratioTerm(s1: String) =
        s"SUM(CAST(ROUND(CAST(dt AS DOUBLE) * ROUND(CAST($s1 AS " +
          s"DOUBLE) / CAST(s0 AS DOUBLE), 6), 6) AS DECIMAL(28,6)))"
      def step(g: String) = {
        val gu = s"CAST($g * 1000000 AS HUGEINT)"
        val d = "CAST(20 * ne AS HUGEINT)"
        s"CASE WHEN $gu >= 0 THEN (2 * $gu + $d) // (2 * $d) " +
          s"ELSE -((2 * (-$gu) + $d) // (2 * $d)) END"
      }
      def gdStep(k: Int) =
        s"""g$k AS (
           |  SELECT CAST(SUM(dt) AS BIGINT) AS ne,
           |    SUM(sx0) - ${ratioTerm("s10")} AS g0,
           |    SUM(sx1) - ${ratioTerm("s11")} AS g1
           |  FROM sfx$k WHERE dt > 0),
           |b$k AS (
           |  SELECT bm0 + ${step("g0")} AS bm0,
           |    bm1 + ${step("g1")} AS bm1
           |  FROM b${k - 1}, g$k)""".stripMargin
      val iters = (1 to 3).map(k =>
        riskPass(k, s"b${k - 1}") + ",\n" + gdStep(k)).mkString(",\n")
      s"""WITH per AS MATERIALIZED (
         |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
         |    MIN(CASE WHEN event_type = 'purchase'
         |             THEN epoch_us(ts) END) AS p_us,
         |    COUNT(*) AS n_ev,
         |    SUM(CAST(value AS DECIMAL(18,6))) AS sv
         |  FROM events GROUP BY 1),
         |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
         |sub AS MATERIALIZED (
         |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
         |              ELSE end_us - first_us END AS dur,
         |    p_us IS NOT NULL AS e,
         |    ROUND(CAST(sv AS DOUBLE) / n_ev / 100.0, 6) AS x0,
         |    ROUND(ln(1.0 + n_ev), 6) AS x1
         |  FROM per, cns),
         |b0 AS (SELECT CAST(0 AS HUGEINT) AS bm0,
         |  CAST(0 AS HUGEINT) AS bm1),
         |$iters,
         |${riskPass(4, "b3")},
         |ll AS (
         |  SELECT CAST(SUM(dt) AS BIGINT) AS n_events,
         |    SUM(sz) - SUM(CAST(ROUND(CAST(dt AS DOUBLE) *
         |      ROUND(ln(CAST(s0 AS DOUBLE)), 6), 6)
         |      AS DECIMAL(28,6))) AS llv
         |  FROM sfx4 WHERE dt > 0)
         |SELECT (SELECT COUNT(*) FROM sub) AS n_subjects, ll.n_events,
         |  CAST(b3.bm0 AS BIGINT) AS b_val_c_micros,
         |  CAST(b3.bm1 AS BIGINT) AS b_log_n_micros,
         |  ROUND(CAST(ll.llv AS DOUBLE), 6) AS loglik
         |FROM ll, b3""".stripMargin
    },

    // Bradley–Terry MM, all 3 rounds unrolled (MATERIALIZED — every
    // round reads sym + the previous strengths twice); each pair term
    // is ONE round-6 double division summed exactly as DECIMAL(28,6)
    "a78_bradley_terry" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id IS NOT NULL),
        |pr AS (
        |  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
        |           ELSE b.source END AS w,
        |         CASE WHEN a.n_chars >= b.n_chars THEN b.source
        |           ELSE a.source END AS l
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  UNION ALL
        |  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
        |           ELSE b.source END AS w,
        |         CASE WHEN a.n_chars >= b.n_chars THEN b.source
        |           ELSE a.source END AS l
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 3),
        |cells AS MATERIALIZED (
        |  SELECT w, l, COUNT(*) AS wn FROM pr WHERE w <> l
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT i, j, CAST(SUM(wij) AS BIGINT) AS wij,
        |    CAST(SUM(wij) + SUM(wji) AS BIGINT) AS nij
        |  FROM (
        |    SELECT w AS i, l AS j, wn AS wij, 0 AS wji FROM cells
        |    UNION ALL
        |    SELECT l AS i, w AS j, 0 AS wij, wn AS wji FROM cells)
        |  GROUP BY 1, 2),
        |tot AS MATERIALIZED (
        |  SELECT i, CAST(SUM(wij) AS BIGINT) AS wins,
        |    CAST(SUM(nij) AS BIGINT) AS games
        |  FROM sym GROUP BY 1),
        |p0 AS MATERIALIZED (
        |  SELECT i, CAST(1.0 AS DOUBLE) AS p FROM tot),
        |t1 AS (
        |  SELECT s.i, SUM(CAST(ROUND(
        |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
        |    AS DECIMAL(28,6))) AS den
        |  FROM sym s JOIN p0 pi ON pi.i = s.i
        |    JOIN p0 pj ON pj.i = s.j
        |  GROUP BY 1),
        |p1 AS MATERIALIZED (
        |  SELECT t1.i, ROUND(CAST(tot.wins AS DOUBLE)
        |    / CAST(t1.den AS DOUBLE), 6) AS p
        |  FROM t1 JOIN tot USING (i)),
        |t2 AS (
        |  SELECT s.i, SUM(CAST(ROUND(
        |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
        |    AS DECIMAL(28,6))) AS den
        |  FROM sym s JOIN p1 pi ON pi.i = s.i
        |    JOIN p1 pj ON pj.i = s.j
        |  GROUP BY 1),
        |p2 AS MATERIALIZED (
        |  SELECT t2.i, ROUND(CAST(tot.wins AS DOUBLE)
        |    / CAST(t2.den AS DOUBLE), 6) AS p
        |  FROM t2 JOIN tot USING (i)),
        |t3 AS (
        |  SELECT s.i, SUM(CAST(ROUND(
        |      CAST(s.nij AS DOUBLE) / (pi.p + pj.p), 6)
        |    AS DECIMAL(28,6))) AS den
        |  FROM sym s JOIN p2 pi ON pi.i = s.i
        |    JOIN p2 pj ON pj.i = s.j
        |  GROUP BY 1),
        |p3 AS MATERIALIZED (
        |  SELECT t3.i, ROUND(CAST(tot.wins AS DOUBLE)
        |    / CAST(t3.den AS DOUBLE), 6) AS p
        |  FROM t3 JOIN tot USING (i)),
        |sumr AS (
        |  SELECT SUM(CAST(p AS DECIMAL(18,6))) AS sp FROM p3)
        |SELECT p3.i AS player, tot.wins, tot.games, p3.p AS strength,
        |  ROUND(p3.p / CAST(sumr.sp AS DOUBLE), 6) AS share
        |FROM p3 JOIN tot USING (i), sumr""".stripMargin,

    // Dawid–Skene items: the shared 2-round EM replay, then the
    // posterior argmax (ties to the lexicographically smallest class)
    "a79_dawid_skene" -> dsOracle(
      """SELECT i AS doc_id, c AS ds_label,
        |  CAST(post AS DOUBLE) / 1000000 AS ds_posterior
        |FROM (SELECT i, c, post, row_number() OVER
        |        (PARTITION BY i ORDER BY post DESC, c) AS rn
        |      FROM p2)
        |WHERE rn = 1""".stripMargin),

    // Dawid–Skene quality: the same run's last-round confusion
    // diagonal + smoothed priors
    "a80_annotator_quality" -> dsOracle(
      """SELECT pi2.k AS annotator, pi2.c AS label,
        |  CAST(pi2.pi AS DOUBLE) / 1000000 AS diag_rate,
        |  CAST(pr2.prior AS DOUBLE) / 1000000 AS prior
        |FROM pi2 JOIN pr2 ON pr2.c = pi2.c
        |WHERE pi2.c = pi2.l""".stripMargin),

    // pass@k: the same per-task (n, c) agg, then the falling-
    // factorial ratio written out with k literal factors — exact
    // integer products, one double ratio rounded 6 (n = 10 per task,
    // so every product sits far inside BIGINT)
    "a81_pass_at_k" ->
      """WITH s AS (
        |  SELECT doc_id // 10 AS task_id,
        |    ((doc_id % 2147483647) * 2654435761) % 2147483647 % 10
        |      < (doc_id // 10) % 9 + 1 AS passed
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
        |t AS (
        |  SELECT task_id, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM s GROUP BY 1),
        |u AS (SELECT task_id, n, c, n - c AS m FROM t)
        |SELECT task_id, n AS n_samples, c AS n_correct,
        |  CASE WHEN n < 1 THEN NULL WHEN m < 1 THEN CAST(1.0 AS DOUBLE)
        |    ELSE ROUND(1 - CAST(m AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |  END AS pass_at_1,
        |  CASE WHEN n < 5 THEN NULL WHEN m < 5 THEN CAST(1.0 AS DOUBLE)
        |    ELSE ROUND(1 -
        |      CAST(m*(m-1)*(m-2)*(m-3)*(m-4) AS DOUBLE) /
        |      CAST(n*(n-1)*(n-2)*(n-3)*(n-4) AS DOUBLE), 6)
        |  END AS pass_at_5,
        |  CASE WHEN n < 10 THEN NULL WHEN m < 10 THEN CAST(1.0 AS DOUBLE)
        |    ELSE ROUND(1 -
        |      CAST(m*(m-1)*(m-2)*(m-3)*(m-4)*(m-5)*(m-6)*(m-7)*(m-8)*(m-9)
        |        AS DOUBLE) /
        |      CAST(n*(n-1)*(n-2)*(n-3)*(n-4)*(n-5)*(n-6)*(n-7)*(n-8)*(n-9)
        |        AS DOUBLE), 6)
        |  END AS pass_at_10
        |FROM u""".stripMargin,

    // pairable units only (m ≥ 2); per-unit disagreement one rounded
    // chain summed exactly; D_o/D_e/α one fixed chain each
    "a77_krippendorff" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    length(replace(text, ' ', '')) AS ns,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS tc
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (
        |  SELECT doc_id, CASE WHEN n_chars < 300 THEN 'short'
        |    WHEN n_chars < 500 THEN 'mid' ELSE 'long' END AS rating
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN ns < 250 THEN 'short'
        |    WHEN ns < 420 THEN 'mid' ELSE 'long' END FROM d
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN tc < 50 THEN 'short'
        |    WHEN tc < 80 THEN 'mid' ELSE 'long' END FROM d
        |  WHERE doc_id % 3 = 0),
        |cells AS (
        |  SELECT doc_id, rating, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |items AS (
        |  SELECT doc_id, SUM(n) AS m,
        |    SUM(CAST(n AS HUGEINT) * n) AS s2
        |  FROM cells GROUP BY 1 HAVING SUM(n) >= 2),
        |top AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_ratings,
        |    CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS ts
        |  FROM (SELECT m,
        |      CAST(ROUND(CAST(CAST(m AS HUGEINT) * m - s2 AS DOUBLE)
        |        / CAST(m - 1 AS DOUBLE), 6) AS DECIMAL(18,6)) AS t
        |    FROM items)),
        |ct AS (SELECT COALESCE(SUM(CAST(cn AS HUGEINT) * cn), 0)
        |    AS c2
        |  FROM (SELECT rating, SUM(n) AS cn
        |    FROM cells JOIN items USING (doc_id) GROUP BY rating)),
        |f AS (SELECT n_units, n_ratings,
        |    CAST(ts AS DOUBLE) / CAST(n_ratings AS DOUBLE) AS do_,
        |    CAST(CAST(n_ratings AS HUGEINT) * n_ratings - c2
        |      AS DOUBLE) /
        |    CAST(CAST(n_ratings AS HUGEINT) * (n_ratings - 1)
        |      AS DOUBLE) AS de_
        |  FROM top, ct)
        |SELECT n_units, n_ratings,
        |  CASE WHEN n_ratings > 0 THEN ROUND(do_, 6) END AS d_o,
        |  CASE WHEN n_ratings > 1 THEN ROUND(de_, 6) END AS d_e,
        |  CASE WHEN n_ratings > 1 AND de_ > 0.0 THEN
        |    ROUND(CAST(1.0 AS DOUBLE) - do_ / de_, 6)
        |  END AS alpha
        |FROM f""".stripMargin,

    // exact counts; one double chain into ceil (engine-exact), the
    // z quantiles entering as the documented round-6 literals
    "a76_power" ->
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(COALESCE(SUM(conv), 0) AS BIGINT) AS cp
        |  FROM per),
        |c AS (
        |  SELECT n_obs,
        |    CAST(cp AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p1
        |  FROM m),
        |f AS (
        |  SELECT n_obs, p1, p1 + CAST(0.02 AS DOUBLE) AS p2,
        |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) *
        |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
        |      AS z2
        |  FROM c)
        |SELECT n_obs,
        |  CASE WHEN n_obs > 0 THEN ROUND(p1, 6) END AS p_baseline,
        |  CASE WHEN n_obs > 0 THEN ROUND(p2, 6) END AS p_target,
        |  CASE WHEN n_obs > 0 AND p2 > 0.0 AND p2 < 1.0 THEN
        |    CAST(ceil(z2 * (p1 * (CAST(1.0 AS DOUBLE) - p1)
        |      + p2 * (CAST(1.0 AS DOUBLE) - p2)) /
        |      (CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)))
        |      AS BIGINT)
        |  END AS n_per_arm,
        |  CASE WHEN n_obs > 0 AND p2 > 0.0 AND p2 < 1.0 THEN
        |    CAST(ceil(z2 * (p1 * (CAST(1.0 AS DOUBLE) - p1)
        |      + p2 * (CAST(1.0 AS DOUBLE) - p2)) /
        |      (CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)))
        |      AS BIGINT) * 2
        |  END AS total_n
        |FROM f""".stripMargin,

    // empirical shares as propensities; per-row w/wr/w² one rounded
    // chain each, exact decimal sums, one division per estimate
    "a75_offpolicy" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS r, user_id
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |sh AS (SELECT event_type, COUNT(*) AS c FROM ev GROUP BY 1),
        |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sh),
        |src AS (
        |  SELECT ev.event_type AS a, ev.r,
        |    CAST(sh.c AS DOUBLE) / CAST(tt.n AS DOUBLE) AS p,
        |    CASE WHEN ev.user_id % 2 = 0 THEN 'purchase'
        |         ELSE 'view' END AS t
        |  FROM ev JOIN sh USING (event_type), tt),
        |terms AS (
        |  SELECT CASE WHEN a = t THEN 1 ELSE 0 END AS m,
        |    CAST(ROUND(CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END, 6) AS DECIMAL(18,6)) AS w,
        |    CAST(ROUND((CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END) * r, 6) AS DECIMAL(18,6)) AS wr,
        |    CAST(ROUND((CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END) * (CASE WHEN a = t
        |      THEN CAST(1.0 AS DOUBLE) / p ELSE CAST(0.0 AS DOUBLE)
        |      END), 6) AS DECIMAL(18,6)) AS w2
        |  FROM src),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_matched,
        |    CAST(COALESCE(SUM(w), 0) AS DECIMAL(38,6)) AS sw,
        |    CAST(COALESCE(SUM(wr), 0) AS DECIMAL(38,6)) AS swr,
        |    CAST(COALESCE(SUM(w2), 0) AS DECIMAL(38,6)) AS sw2
        |  FROM terms)
        |SELECT n, n_matched,
        |  CASE WHEN n > 0 THEN ROUND(CAST(n_matched AS DOUBLE) /
        |    CAST(n AS DOUBLE), 6) END AS match_rate,
        |  CASE WHEN n > 0 THEN ROUND(CAST(swr AS DOUBLE) /
        |    CAST(n AS DOUBLE), 6) END AS ips_value,
        |  CASE WHEN sw > 0 THEN ROUND(CAST(swr AS DOUBLE) /
        |    CAST(sw AS DOUBLE), 6) END AS snips_value,
        |  CASE WHEN sw2 > 0 THEN ROUND(CAST(sw AS DOUBLE) *
        |    CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6) END AS ess
        |FROM agg""".stripMargin,

    // exact HUGEINT Σn²/Σc² moments off the stacked rater frame;
    // P̄/P̄e/κ one fixed double chain each
    "a73_fleiss" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    length(replace(text, ' ', '')) AS ns,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS tc
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (
        |  SELECT doc_id, CASE WHEN n_chars < 300 THEN 'short'
        |    WHEN n_chars < 500 THEN 'mid' ELSE 'long' END AS rating
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN ns < 250 THEN 'short'
        |    WHEN ns < 420 THEN 'mid' ELSE 'long' END FROM d
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN tc < 50 THEN 'short'
        |    WHEN tc < 80 THEN 'mid' ELSE 'long' END FROM d),
        |cells AS (
        |  SELECT doc_id, rating, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |it AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    MIN(m) AS mmin, MAX(m) AS mmax, SUM(s2i) AS s2
        |  FROM (SELECT doc_id, SUM(n) AS m,
        |      SUM(CAST(n AS HUGEINT) * n) AS s2i
        |    FROM cells GROUP BY 1)),
        |ct AS (SELECT SUM(CAST(cj AS HUGEINT) * cj) AS cj2
        |  FROM (SELECT rating, SUM(n) AS cj FROM cells GROUP BY 1)),
        |f AS (SELECT n_items, mmin, CAST(mmax AS BIGINT) AS m_raters,
        |    CAST(n_items AS HUGEINT) * mmax AS nm, s2, cj2
        |  FROM it, ct),
        |c AS (SELECT n_items, m_raters, mmin,
        |    (CAST(s2 AS DOUBLE) - CAST(nm AS DOUBLE)) /
        |      (CAST(nm AS DOUBLE) * CAST(m_raters - 1 AS DOUBLE))
        |      AS pbar,
        |    CAST(cj2 AS DOUBLE) / CAST(nm * nm AS DOUBLE) AS pe
        |  FROM f)
        |SELECT n_items, m_raters,
        |  ROUND(pbar, 6) AS p_bar, ROUND(pe, 6) AS p_e,
        |  CASE WHEN mmin = m_raters AND m_raters >= 2 AND pe <> 1.0
        |    THEN ROUND((pbar - pe) / (CAST(1.0 AS DOUBLE) - pe), 6)
        |  END AS kappa
        |FROM c""".stripMargin,

    // exact counts; Chapman/Lincoln/coverage one chain each
    "a74_capture" ->
      """WITH a AS (SELECT DISTINCT doc_id FROM documents
        |  WHERE doc_id % 10 < 6),
        |b AS (SELECT DISTINCT doc_id FROM documents
        |  WHERE doc_id % 10 >= 4),
        |m AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |     FROM a JOIN b USING (doc_id)) AS m_overlap),
        |c AS (SELECT n_a, n_b, m_overlap,
        |  CAST(CAST(n_a + 1 AS HUGEINT) * (n_b + 1) AS DOUBLE) /
        |    CAST(m_overlap + 1 AS DOUBLE) - CAST(1.0 AS DOUBLE)
        |    AS chap
        |  FROM m)
        |SELECT n_a, n_b, m_overlap, ROUND(chap, 6) AS chapman_n,
        |  CASE WHEN m_overlap > 0 THEN
        |    ROUND(CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) /
        |      CAST(m_overlap AS DOUBLE), 6) END AS lincoln_n,
        |  CASE WHEN chap > 0 THEN
        |    ROUND(CAST(n_a AS DOUBLE) / chap, 6) END AS coverage_a,
        |  CASE WHEN chap > 0 THEN
        |    ROUND(CAST(n_b AS DOUBLE) / chap, 6) END AS coverage_b
        |FROM c""".stripMargin,

    // reference LM frames + stupid-backoff chains; per-bigram -lnP
    // rounded once, exact decimal doc sums, one mean division
    "t_cross_surprise" ->
      """WITH rtk AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)),
        |    '\s+'), x -> x <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |rb AS (
        |  SELECT string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2, COUNT(*) AS cb FROM (
        |    SELECT unnest([array_to_string(tk[i:i+1], ' ')
        |                   FOR i IN range(1, len(tk))]) AS bg
        |    FROM rtk WHERE len(tk) >= 2)
        |  GROUP BY 1, 2),
        |rc AS (SELECT w1, SUM(cb) AS cu FROM rb GROUP BY 1),
        |ru AS (SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(tk) AS w FROM rtk) GROUP BY 1),
        |tv AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM ru),
        |tb AS (
        |  SELECT doc_id, string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2 FROM (
        |    SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ')
        |                   FOR i IN range(1, len(tk))]) AS bg
        |    FROM (SELECT doc_id, list_filter(string_split_regex(
        |        trim(lower(text)), '\s+'), x -> x <> '') AS tk
        |      FROM documents
        |      WHERE text IS NOT NULL AND doc_id % 2 = 1)
        |    WHERE len(tk) >= 2)),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN rb.cb IS NOT NULL THEN
        |      CAST(ROUND(-ln(CAST(rb.cb AS DOUBLE) /
        |        CAST(rc.cu AS DOUBLE)), 6) AS DECIMAL(18,6))
        |    ELSE
        |      CAST(ROUND(-ln(CAST(0.4 AS DOUBLE) *
        |        (CAST(COALESCE(ru.c, 0) + 1 AS DOUBLE) /
        |         CAST(tv.n + tv.v AS DOUBLE))), 6) AS DECIMAL(18,6))
        |    END AS s,
        |    CASE WHEN rb.cb IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tb
        |  LEFT JOIN rb ON rb.w1 = tb.w1 AND rb.w2 = tb.w2
        |  LEFT JOIN rc ON rc.w1 = tb.w1
        |  LEFT JOIN ru ON ru.w = tb.w2, tv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(oov) AS BIGINT) AS n_unseen,
        |  ROUND(CAST(CAST(SUM(s) AS DECIMAL(28,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS mean_surprise
        |FROM sc GROUP BY 1""".stripMargin,

    // the t_fingerprint fold + the portable Knuth hash split replay
    "t_leakage_split" ->
      """WITH fp AS (
        |  SELECT list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x <> ''),
        |        x -> CAST(length(x) * 131 + ascii(x) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS cl
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT cl,
        |  CASE WHEN ((cl % 2147483647) * 2654435761) % 2147483647
        |      % 1000000 < 100000
        |    THEN 'test' ELSE 'train' END AS split
        |  FROM fp)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT cl) AS BIGINT) AS n_clusters
        |FROM s GROUP BY split""".stripMargin,

    // exact discordant counts; Edwards-corrected chi2 one division
    "a71_mcnemar" ->
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      = 1 AS actual,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sv,
        |    COUNT(*) AS ne
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT (sv > 50.0) = actual AS a, (ne > 10) = actual AS b
        |  FROM per
        |  WHERE (sv > 50.0) IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_only,
        |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_only
        |  FROM p)
        |SELECT n, a_only, b_only,
        |  CASE WHEN a_only + b_only > 0 THEN
        |    ROUND(CAST(CAST(GREATEST(abs(a_only - b_only) - 1, 0)
        |        AS HUGEINT) *
        |      GREATEST(abs(a_only - b_only) - 1, 0) AS DOUBLE) /
        |      CAST(a_only + b_only AS DOUBLE), 6)
        |  END AS chi2
        |FROM m""".stripMargin,

    // five exact HUGEINT moments; T/Var/z one fixed double chain
    "a72_trend" ->
      """WITH src AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
        |      AS w,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS r
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS k_doses,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r) AS BIGINT) AS n_pos,
        |    SUM(CAST(w AS HUGEINT) * r) AS wr,
        |    SUM(CAST(w AS HUGEINT)) AS wn,
        |    SUM(CAST(w AS HUGEINT) * w) AS w2n
        |  FROM src),
        |c AS (
        |  SELECT k_doses, n, n_pos,
        |    CAST(wr AS DOUBLE) - CAST(n_pos AS DOUBLE) /
        |      CAST(n AS DOUBLE) * CAST(wn AS DOUBLE) AS t,
        |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) *
        |      (CAST(1.0 AS DOUBLE) - CAST(n_pos AS DOUBLE) /
        |        CAST(n AS DOUBLE)) *
        |      (CAST(w2n AS DOUBLE) - CAST(wn AS DOUBLE) *
        |        CAST(wn AS DOUBLE) / CAST(n AS DOUBLE)) AS v
        |  FROM m)
        |SELECT k_doses, n, n_pos, ROUND(t, 6) AS t_stat,
        |  CASE WHEN v > 0 THEN ROUND(t / sqrt(v), 6) END AS z
        |FROM c""".stripMargin,

    // entropies as exact decimal sums of rounded (c/n)ln(n/c) terms;
    // MI exact decimal on the sums, clamped at 0; U one division
    "a70_theil" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    COUNT(*) AS c
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        |hx AS (SELECT CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS h
        |  FROM (SELECT CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS t
        |    FROM (SELECT a, SUM(c) AS c FROM cells GROUP BY a), nn)),
        |hy AS (SELECT CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS h
        |  FROM (SELECT CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS t
        |    FROM (SELECT b, SUM(c) AS c FROM cells GROUP BY b), nn)),
        |hxy AS (SELECT CAST(COALESCE(SUM(t), 0) AS DECIMAL(28,6)) AS h
        |  FROM (SELECT CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS t
        |    FROM cells, nn)),
        |mi AS (SELECT GREATEST(CAST(0 AS DECIMAL(28,6)),
        |    hx.h + hy.h - hxy.h) AS m
        |  FROM hx, hy, hxy)
        |SELECT n, CAST(hx.h AS DOUBLE) AS h_x,
        |  CAST(hy.h AS DOUBLE) AS h_y,
        |  CAST(hxy.h AS DOUBLE) AS h_xy,
        |  CAST(m AS DOUBLE) AS mi,
        |  CASE WHEN hx.h > 0 THEN
        |    ROUND(CAST(m AS DOUBLE) / CAST(hx.h AS DOUBLE), 6)
        |  END AS theil_xy,
        |  CASE WHEN hy.h > 0 THEN
        |    ROUND(CAST(m AS DOUBLE) / CAST(hy.h AS DOUBLE), 6)
        |  END AS theil_yx
        |FROM nn, hx, hy, hxy, mi""".stripMargin,

    // exact HUGEINT (p_mu - y*1e6)^2 global sum; per-bin rel/res
    // terms rounded once then summed exactly in decimal
    "a65_brier" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu,
        |    CASE WHEN p THEN 1 ELSE 0 END AS y
        |  FROM s),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS pos,
        |    SUM(CAST(mu - y * 1000000 AS HUGEINT)
        |      * (mu - y * 1000000)) AS sq
        |  FROM b),
        |pb AS (
        |  SELECT bin, COUNT(*) AS nk, SUM(mu) AS sk, SUM(y) AS pk
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT
        |    SUM(CAST(ROUND(
        |      CAST(CAST(sk - pk * 1000000 AS HUGEINT)
        |        * (sk - pk * 1000000) AS DOUBLE)
        |      / CAST(nk AS DOUBLE) / CAST(g.n AS DOUBLE) / 1e12, 6)
        |      AS DECIMAL(18,6))) AS rels,
        |    SUM(CAST(ROUND(CAST(nk AS DOUBLE) *
        |      (CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
        |        - CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE)) *
        |      (CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
        |        - CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE))
        |      / CAST(g.n AS DOUBLE), 6) AS DECIMAL(18,6))) AS ress
        |  FROM pb, g)
        |SELECT g.n,
        |  ROUND(CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE), 6)
        |    AS base_rate,
        |  ROUND(CAST(g.sq AS DOUBLE) / CAST(g.n AS DOUBLE) / 1e12, 6)
        |    AS brier,
        |  CAST(t.rels AS DOUBLE) AS reliability,
        |  CAST(t.ress AS DOUBLE) AS resolution,
        |  ROUND((CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE))
        |    * (1.0 - CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE)), 6)
        |    AS uncertainty
        |FROM g, t""".stripMargin,

    "a41_calibration" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu, p
        |  FROM s)
        |SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(mu) // COUNT(*) AS BIGINT) AS conf_micros,
        |  CAST((SUM(CASE WHEN p THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS acc_micros
        |FROM b GROUP BY bin""".stripMargin,

    // both chi2 screens replayed with round-6 decimal contribution
    // sums; p = exp(-chi2/2) (exact df=2 survival); BH step-up on
    // exact micro-unit integers
    "a43_bh_fdr" ->
      """WITH e1 AS (
        |  SELECT 'type:' || event_type AS hyp,
        |    CASE WHEN CAST(value AS DOUBLE) < 33.333333 THEN 0
        |         WHEN CAST(value AS DOUBLE) < 66.666667 THEN 1
        |         ELSE 2 END AS bk
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |o1 AS (SELECT hyp, bk, count(*) AS o FROM e1 GROUP BY 1, 2),
        |c1 AS (
        |  SELECT g.hyp, b.bk, coalesce(o1.o, 0) AS o
        |  FROM (SELECT DISTINCT hyp FROM o1) g
        |  CROSS JOIN (SELECT DISTINCT bk FROM o1) b
        |  LEFT JOIN o1 ON o1.hyp = g.hyp AND o1.bk = b.bk),
        |k1 AS (SELECT CAST(count(DISTINCT bk) AS INT) AS k FROM o1),
        |n1 AS (SELECT hyp, SUM(o) AS n FROM c1 GROUP BY 1),
        |h1 AS (
        |  SELECT c1.hyp, n1.n, k1.k - 1 AS dof,
        |    ROUND(CAST(SUM(CAST(ROUND(
        |      (CAST(o AS DOUBLE) - CAST(n1.n AS DOUBLE)/k1.k)
        |      * (CAST(o AS DOUBLE) - CAST(n1.n AS DOUBLE)/k1.k)
        |        / (CAST(n1.n AS DOUBLE)/k1.k), 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS chi2
        |  FROM c1, k1, n1 WHERE n1.hyp = c1.hyp
        |  GROUP BY c1.hyp, n1.n, k1.k),
        |e2 AS (
        |  SELECT 'lang:' || lang AS hyp,
        |    CASE WHEN n_chars < 300 THEN 0
        |         WHEN n_chars < 500 THEN 1 ELSE 2 END AS bk
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |o2 AS (SELECT hyp, bk, count(*) AS o FROM e2 GROUP BY 1, 2),
        |c2 AS (
        |  SELECT g.hyp, b.bk, coalesce(o2.o, 0) AS o
        |  FROM (SELECT DISTINCT hyp FROM o2) g
        |  CROSS JOIN (SELECT DISTINCT bk FROM o2) b
        |  LEFT JOIN o2 ON o2.hyp = g.hyp AND o2.bk = b.bk),
        |k2 AS (SELECT CAST(count(DISTINCT bk) AS INT) AS k FROM o2),
        |g2 AS (SELECT bk, SUM(o) AS gb FROM o2 GROUP BY 1),
        |t2 AS (SELECT SUM(o) AS tn FROM o2),
        |n2 AS (SELECT hyp, SUM(o) AS n FROM c2 GROUP BY 1),
        |h2 AS (
        |  SELECT c2.hyp, n2.n, k2.k - 1 AS dof,
        |    ROUND(CAST(SUM(CAST(ROUND(
        |      (CAST(o AS DOUBLE) - CAST(n2.n AS DOUBLE)*g2.gb/t2.tn)
        |      * (CAST(o AS DOUBLE) - CAST(n2.n AS DOUBLE)*g2.gb/t2.tn)
        |        / (CAST(n2.n AS DOUBLE)*g2.gb/t2.tn), 6)
        |      AS DECIMAL(28,6))) AS DOUBLE), 6) AS chi2
        |  FROM c2, k2, t2, n2, g2
        |  WHERE n2.hyp = c2.hyp AND g2.bk = c2.bk
        |  GROUP BY c2.hyp, n2.n, k2.k),
        |hyps AS (
        |  SELECT hyp, CAST(n AS BIGINT) AS n, CAST(dof AS INT) AS dof,
        |    chi2, ROUND(exp(-chi2/2), 6) AS p
        |  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)),
        |pm AS (
        |  SELECT hyps.*,
        |    CAST(CAST(ROUND(p, 6) AS DECIMAL(18,6)) * 1000000
        |      AS BIGINT) AS pmu
        |  FROM hyps),
        |rk AS (
        |  SELECT pm.*, row_number() OVER (ORDER BY pmu) AS i,
        |    count(*) OVER () AS m
        |  FROM pm),
        |cut AS (
        |  SELECT MAX(pmu) AS c FROM rk WHERE pmu * m <= i * 50000)
        |SELECT hyp, n, dof, chi2, p FROM pm, cut
        |WHERE pm.pmu <= cut.c""".stripMargin,

    // frontier = distinct-x max-y rows not dominated by any
    // strictly-larger-x row (the NOT EXISTS definition, verbatim)
    "a44_pareto" ->
      """WITH pts AS (
        |  SELECT p_size, CAST(p_retailprice AS DOUBLE) AS price
        |  FROM part
        |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL),
        |m AS (SELECT p_size, MAX(price) AS price FROM pts GROUP BY 1)
        |SELECT p_size, price FROM m a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m b
        |  WHERE b.p_size > a.p_size AND b.price >= a.price)""".stripMargin,

    // the exact-integer kappa: S from cells-frame marginals joined on
    // the shared label, one double division at the end
    "a45_kappa" ->
      """WITH r AS (
        |  SELECT
        |    CASE WHEN n_chars < 300 THEN 'short'
        |         WHEN n_chars < 500 THEN 'mid' ELSE 'long' END AS a,
        |    CASE WHEN length(regexp_replace(text, ' ', '', 'g')) < 250
        |           THEN 'short'
        |         WHEN length(regexp_replace(text, ' ', '', 'g')) < 420
        |           THEN 'mid' ELSE 'long' END AS b
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT a, b, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |rt AS (SELECT a AS k, SUM(c) AS r FROM c GROUP BY 1),
        |ct AS (SELECT b AS k, SUM(c) AS ct FROM c GROUP BY 1),
        |s AS (
        |  SELECT COALESCE(SUM(rt.r * ct.ct), 0) AS s
        |  FROM rt JOIN ct ON rt.k = ct.k),
        |t AS (
        |  SELECT SUM(c) AS n,
        |    SUM(CASE WHEN a = b THEN c ELSE 0 END) AS agree
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
        |  CASE WHEN n * n <> s THEN
        |    ROUND(CAST(agree * n - s AS DOUBLE)
        |      / CAST(n * n - s AS DOUBLE), 6) END AS kappa
        |FROM t, s""".stripMargin,

    // rank-based replay: ROW_NUMBER ties order arbitrarily but the
    // rank-sum over a tie block is order-invariant, so SUM(i*x)
    // equals the closed-form tie-block arithmetic exactly
    "a46_gini" ->
      """WITH u AS (
        |  SELECT source,
        |    CAST(SUM(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
        |      AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS x
        |  FROM documents WHERE n_chars IS NOT NULL
        |  GROUP BY source),
        |nn AS (SELECT COUNT(*) AS nneg FROM u WHERE x < 0),
        |p AS (
        |  SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS i
        |  FROM u WHERE x >= 0),
        |t AS (
        |  SELECT COUNT(*) AS n, COALESCE(SUM(x), 0) AS tt,
        |    COALESCE(SUM(i * x), 0) AS s
        |  FROM p)
        |SELECT CAST(n AS BIGINT) AS n_units,
        |  CAST(nneg AS BIGINT) AS n_negative_excluded,
        |  CAST(tt AS BIGINT) AS total_micros,
        |  CASE WHEN n > 0 AND tt > 0 THEN
        |    ROUND(CAST(2 * s - (n + 1) * tt AS DOUBLE)
        |      / CAST(n * tt AS DOUBLE), 6) END AS gini
        |FROM t, nn""".stripMargin,

    // doubled average ranks via RANK + tie-block count (2·below+c+1);
    // HUGEINT moment sums, one double sqrt/division
    "a47_spearman" ->
      """WITH s AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x,
        |    CAST(length(text) -
        |      length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) AS y
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (
        |  SELECT 2 * RANK() OVER (ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
        |    2 * RANK() OVER (ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
        |  FROM s),
        |t AS (
        |  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
        |    SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx,
        |    SUM(ry * ry) AS syy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx > 0
        |        AND n * syy - sy * sy > 0 THEN
        |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS rho
        |FROM t""".stripMargin,

    // pico-grid truncating terms over the descending-threshold
    // cumulatives; HUGEINT // replays Spark's decimal div exactly
    "a48_avg_precision" ->
      """WITH s AS (
        |  SELECT CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT mu, SUM(CASE WHEN p THEN 1 ELSE 0 END) AS cp,
        |    COUNT(*) AS ct
        |  FROM s GROUP BY mu),
        |cum AS (
        |  SELECT cp,
        |    SUM(cp) OVER (ORDER BY mu DESC) AS cumpos,
        |    SUM(ct) OVER (ORDER BY mu DESC) AS cumtot
        |  FROM c),
        |t AS (SELECT COALESCE(SUM(cp), 0) AS np,
        |  COALESCE(SUM(ct), 0) AS nt FROM c),
        |term AS (
        |  SELECT (cp * cumpos * CAST(1000000000000 AS HUGEINT))
        |    // (t.np * cumtot) AS pico
        |  FROM cum, t WHERE t.np > 0 AND cp > 0)
        |SELECT CAST(t.np AS BIGINT) AS n_pos,
        |  CAST(t.nt - t.np AS BIGINT) AS n_neg,
        |  CASE WHEN t.np > 0 THEN
        |    ROUND(CAST((SELECT COALESCE(SUM(pico), 0) FROM term)
        |      AS DOUBLE) / 1e12, 6) END AS ap
        |FROM t""".stripMargin,

    // the k-th order statistic as "first cumulative >= k"; k in exact
    // micro-unit integers, groups too small for alpha keep k, null qhat
    "a49_conformal" ->
      """WITH s AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT g, mu, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, mu,
        |    SUM(c) OVER (PARTITION BY g ORDER BY mu) AS cum
        |  FROM c),
        |n AS (
        |  SELECT g, SUM(c) AS n,
        |    ((SUM(c) + 1) * 900000 + 999999) // 1000000 AS k
        |  FROM c GROUP BY 1),
        |q AS (
        |  SELECT cum.g, MIN(mu) AS qhat_micros
        |  FROM cum JOIN n ON n.g = cum.g
        |  WHERE cum.cum >= n.k GROUP BY 1)
        |SELECT n.g AS event_type, CAST(n.n AS BIGINT) AS n,
        |  CAST(n.k AS BIGINT) AS k, q.qhat_micros
        |FROM n LEFT JOIN q ON q.g = n.g""".stripMargin,

    // confusion counts per lang; each rate one round-6 double
    // division over exact longs; zero denominators stay NULL
    "a50_fairness" ->
      """WITH s AS (
        |  SELECT lang, n_chars >= 400 AS y,
        |    length(regexp_replace(text, ' ', '', 'g')) >= 330 AS h
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |    AND text IS NOT NULL),
        |c AS (
        |  SELECT lang, COUNT(*) AS n,
        |    SUM(CASE WHEN y AND h THEN 1 ELSE 0 END) AS tp,
        |    SUM(CASE WHEN NOT y AND h THEN 1 ELSE 0 END) AS fp,
        |    SUM(CASE WHEN y AND NOT h THEN 1 ELSE 0 END) AS fn,
        |    SUM(CASE WHEN NOT y AND NOT h THEN 1 ELSE 0 END) AS tn
        |  FROM s GROUP BY 1),
        |o AS (SELECT SUM(tp + fp) AS selall, SUM(n) AS nall FROM c)
        |SELECT lang, CAST(n AS BIGINT) AS n, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |  CAST(tn AS BIGINT) AS tn,
        |  CASE WHEN n > 0 THEN ROUND(CAST(tp + fp AS DOUBLE)
        |    / CAST(n AS DOUBLE), 6) END AS selection_rate,
        |  CASE WHEN tp + fn > 0 THEN ROUND(CAST(tp AS DOUBLE)
        |    / CAST(tp + fn AS DOUBLE), 6) END AS tpr,
        |  CASE WHEN fp + tn > 0 THEN ROUND(CAST(fp AS DOUBLE)
        |    / CAST(fp + tn AS DOUBLE), 6) END AS fpr,
        |  CASE WHEN tp + fp > 0 THEN ROUND(CAST(tp AS DOUBLE)
        |    / CAST(tp + fp AS DOUBLE), 6) END AS ppv,
        |  CASE WHEN n > 0 AND o.nall > 0 THEN
        |    ROUND(CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(o.selall AS DOUBLE) / CAST(o.nall AS DOUBLE), 6)
        |  END AS dp_gap
        |FROM c, o""".stripMargin,

    // both 256-hash sketches, the union sketch, and every estimate
    // replayed hash-for-hash (the a37 mixer fold + ORDER BY/LIMIT)
    "a51_kmv" ->
      """WITH ea AS (
        |  SELECT user_id FROM events
        |  WHERE user_id IS NOT NULL AND EXTRACT(day FROM ts) <= 15),
        |eb AS (
        |  SELECT user_id FROM events
        |  WHERE user_id IS NOT NULL AND EXTRACT(day FROM ts) > 15),
        |ma AS (
        |  SELECT (b & 2147483647) * 2654435761 AS c FROM (
        |    SELECT xor(a, a >> 31) AS b FROM (
        |      SELECT (((user_id % 2147483648) + 2147483648)
        |        % 2147483648) * 2654435761 AS a FROM ea))),
        |hha AS (
        |  SELECT DISTINCT (((xor(c, c >> 31) % 2147483648)
        |    + 2147483648) % 2147483648) + 1 AS h FROM ma),
        |mb AS (
        |  SELECT (b & 2147483647) * 2654435761 AS c FROM (
        |    SELECT xor(a, a >> 31) AS b FROM (
        |      SELECT (((user_id % 2147483648) + 2147483648)
        |        % 2147483648) * 2654435761 AS a FROM eb))),
        |hhb AS (
        |  SELECT DISTINCT (((xor(c, c >> 31) % 2147483648)
        |    + 2147483648) % 2147483648) + 1 AS h FROM mb),
        |ska AS (SELECT h FROM hha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hhb ORDER BY h LIMIT 256),
        |sku AS (
        |  SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
        |  ORDER BY h LIMIT 256),
        |ta AS (SELECT COUNT(*) AS ka, MAX(h) AS thra FROM ska),
        |tb AS (SELECT COUNT(*) AS kb, MAX(h) AS thrb FROM skb),
        |tu AS (SELECT COUNT(*) AS ku, MAX(h) AS thru FROM sku),
        |ti AS (
        |  SELECT COUNT(*) AS i
        |  FROM ska JOIN skb USING (h) CROSS JOIN tu
        |  WHERE ska.h <= tu.thru),
        |xi AS (
        |  SELECT COUNT(*) AS exact_intersection FROM
        |    (SELECT DISTINCT user_id FROM ea) da
        |    JOIN (SELECT DISTINCT user_id FROM eb) db
        |    USING (user_id)),
        |est AS (
        |  SELECT
        |    CASE WHEN ka < 256 THEN CAST(ka AS DOUBLE)
        |      ELSE ROUND(255.0 * 2147483648.0
        |        / CAST(thra AS DOUBLE), 6) END AS est_a,
        |    CASE WHEN kb < 256 THEN CAST(kb AS DOUBLE)
        |      ELSE ROUND(255.0 * 2147483648.0
        |        / CAST(thrb AS DOUBLE), 6) END AS est_b,
        |    CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
        |      ELSE ROUND(255.0 * 2147483648.0
        |        / CAST(thru AS DOUBLE), 6) END AS est_union,
        |    CASE WHEN ku > 0 THEN
        |      ROUND(CAST(i AS DOUBLE) / CAST(ku AS DOUBLE), 6)
        |    END AS jaccard_est, ku, i
        |  FROM ta, tb, tu, ti)
        |SELECT CAST(256 AS BIGINT) AS k, est_a, est_b, est_union,
        |  jaccard_est,
        |  CASE WHEN ku > 0 THEN
        |    ROUND(ROUND(CAST(i AS DOUBLE) / CAST(ku AS DOUBLE), 6)
        |      * est_union, 6) END AS est_intersection,
        |  CAST(exact_intersection AS BIGINT) AS exact_intersection
        |FROM est, xi""".stripMargin,

    // the PAV closed form on the bins-range frame; truncating //
    // range means mirror Spark's decimal div on the micro grid
    "a53_isotonic" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin, p
        |  FROM s),
        |g AS (
        |  SELECT bin, COUNT(*) AS n,
        |    SUM(CASE WHEN p THEN 1 ELSE 0 END) AS pos
        |  FROM b GROUP BY 1),
        |pfx AS (
        |  SELECT bin, n, pos, SUM(pos) OVER (ORDER BY bin) AS cp,
        |    SUM(n) OVER (ORDER BY bin) AS cn
        |  FROM g),
        |lo AS (SELECT bin AS j, cp - pos AS pj, cn - n AS nj FROM pfx),
        |hi AS (SELECT bin AS k, cp AS pk, cn AS nk FROM pfx),
        |r AS (
        |  SELECT j, k, ((pk - pj) * 1000000) // (nk - nj) AS m
        |  FROM lo JOIN hi ON j <= k),
        |mi AS (
        |  SELECT g.bin AS i, r.j, MIN(r.m) AS mn
        |  FROM g JOIN r ON r.j <= g.bin AND r.k >= g.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT i AS bin, MAX(mn) AS iso_micros FROM mi
        |  GROUP BY 1)
        |SELECT g.bin, CAST(g.n AS BIGINT) AS n,
        |  CAST(g.pos AS BIGINT) AS pos,
        |  CAST((g.pos * 1000000) // g.n AS BIGINT) AS raw_micros,
        |  CAST(iso.iso_micros AS BIGINT) AS iso_micros
        |FROM g JOIN iso ON iso.bin = g.bin""".stripMargin,

    // prefix-max episode detection replayed on exact integer micros
    "w36_interval_union" ->
      """WITH src AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS s,
        |    CAST(epoch_us(ts) AS BIGINT) + 600000000 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY user_id
        |        ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        IS NULL
        |      OR s > MAX(e) OVER (PARTITION BY user_id
        |        ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM src),
        |g AS (
        |  SELECT user_id, s, e,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS ep
        |  FROM f)
        |SELECT user_id, CAST(ep AS BIGINT) AS episode,
        |  MIN(s) AS episode_start,
        |  MAX(e) AS episode_end, COUNT(*) AS n_intervals
        |FROM g GROUP BY user_id, ep""".stripMargin,

    // four exact-moment cells in one conditional agg; every derived
    // statistic one fixed-order rounded chain
    "a64_did" ->
      """WITH s AS (
        |  SELECT user_id % 2 = 0 AS t, day(ts) > 15 AS p,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
        |    SUM(CASE WHEN t AND NOT p THEN v ELSE 0 END) AS s_tpre,
        |    SUM(CASE WHEN t AND NOT p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_tpre,
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
        |    SUM(CASE WHEN t AND p THEN v ELSE 0 END) AS s_tpost,
        |    SUM(CASE WHEN t AND p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_tpost,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
        |    SUM(CASE WHEN NOT t AND NOT p THEN v ELSE 0 END) AS s_cpre,
        |    SUM(CASE WHEN NOT t AND NOT p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_cpre,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
        |    SUM(CASE WHEN NOT t AND p THEN v ELSE 0 END) AS s_cpost,
        |    SUM(CASE WHEN NOT t AND p THEN CAST(v AS HUGEINT) * v ELSE CAST(0 AS HUGEINT) END) AS q_cpost
        |  FROM s),
        |m AS (
        |  SELECT *,
        |    n_tpre = 0 OR n_tpost = 0 OR n_cpre = 0 OR n_cpost = 0
        |      AS hole,
        |    n_tpre + n_tpost + n_cpre + n_cpost AS ntot
        |  FROM c),
        |o AS (
        |  SELECT n_tpre AS n_t_pre, n_tpost AS n_t_post,
        |    n_cpre AS n_c_pre, n_cpost AS n_c_post,
        |    CASE WHEN n_tpre > 0 THEN ROUND(CAST(s_tpre AS DOUBLE)
        |      / CAST(n_tpre AS DOUBLE) / 1000000.0, 6) END AS mean_t_pre,
        |    CASE WHEN n_tpost > 0 THEN ROUND(CAST(s_tpost AS DOUBLE)
        |      / CAST(n_tpost AS DOUBLE) / 1000000.0, 6) END AS mean_t_post,
        |    CASE WHEN n_cpre > 0 THEN ROUND(CAST(s_cpre AS DOUBLE)
        |      / CAST(n_cpre AS DOUBLE) / 1000000.0, 6) END AS mean_c_pre,
        |    CASE WHEN n_cpost > 0 THEN ROUND(CAST(s_cpost AS DOUBLE)
        |      / CAST(n_cpost AS DOUBLE) / 1000000.0, 6) END AS mean_c_post,
        |    CASE WHEN NOT hole THEN
        |      ROUND((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
        |        - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE)
        |        - (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
        |          - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)))
        |        / 1000000.0, 6) END AS did,
        |    CASE WHEN NOT hole AND ntot > 4 THEN
        |      ROUND(sqrt(
        |        ROUND(((CAST(q_tpre AS DOUBLE) - CAST(s_tpre AS DOUBLE)
        |            * CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
        |          + (CAST(q_tpost AS DOUBLE) - CAST(s_tpost AS DOUBLE)
        |            * CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE))
        |          + (CAST(q_cpre AS DOUBLE) - CAST(s_cpre AS DOUBLE)
        |            * CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE))
        |          + (CAST(q_cpost AS DOUBLE) - CAST(s_cpost AS DOUBLE)
        |            * CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)))
        |          / (CAST(ntot AS DOUBLE) - 4.0) / 1000000000000.0, 6)
        |        * (1.0 / CAST(n_tpre AS DOUBLE)
        |          + 1.0 / CAST(n_tpost AS DOUBLE)
        |          + 1.0 / CAST(n_cpre AS DOUBLE)
        |          + 1.0 / CAST(n_cpost AS DOUBLE))), 6) END AS se
        |  FROM m)
        |SELECT *,
        |  CASE WHEN se > 0 AND did IS NOT NULL THEN
        |    ROUND(did / se, 6) END AS t_stat
        |FROM o""".stripMargin,

    // exact cumulative moments (HUGEINT squares) on the day frame,
    // one rounded double chain per statistic, running max on the
    // rounded grid, exp for the always-valid p
    "a63_msprt" ->
      """WITH s AS (
        |  SELECT CAST(day(ts) AS BIGINT) AS p,
        |    user_id % 2 = 0 AS t,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |g AS (
        |  SELECT p,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN t THEN v ELSE 0 END) AS st,
        |    SUM(CASE WHEN t THEN CAST(v AS HUGEINT) * v
        |        ELSE CAST(0 AS HUGEINT) END) AS qt,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cc,
        |    SUM(CASE WHEN NOT t THEN v ELSE 0 END) AS sc,
        |    SUM(CASE WHEN NOT t THEN CAST(v AS HUGEINT) * v
        |        ELSE CAST(0 AS HUGEINT) END) AS qc
        |  FROM s GROUP BY 1),
        |cum AS (
        |  SELECT p,
        |    CAST(SUM(ct) OVER (ORDER BY p) AS BIGINT) AS nt,
        |    SUM(st) OVER (ORDER BY p) AS stc,
        |    SUM(qt) OVER (ORDER BY p) AS qtc,
        |    CAST(SUM(cc) OVER (ORDER BY p) AS BIGINT) AS nc,
        |    SUM(sc) OVER (ORDER BY p) AS scc,
        |    SUM(qc) OVER (ORDER BY p) AS qcc
        |  FROM g),
        |st1 AS (
        |  SELECT p, nt, nc,
        |    CASE WHEN nt > 0 AND nc > 0 THEN
        |      ROUND((CAST(stc AS DOUBLE) / CAST(nt AS DOUBLE)
        |        - CAST(scc AS DOUBLE) / CAST(nc AS DOUBLE))
        |        / 1000000.0, 6) END AS th,
        |    CASE WHEN nt + nc > 2 THEN
        |      ROUND(((CAST(qtc AS DOUBLE)
        |          - CAST(stc AS DOUBLE) * CAST(stc AS DOUBLE)
        |            / CAST(nt AS DOUBLE))
        |        + (CAST(qcc AS DOUBLE)
        |          - CAST(scc AS DOUBLE) * CAST(scc AS DOUBLE)
        |            / CAST(nc AS DOUBLE)))
        |        / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2.0)
        |        / 1000000000000.0, 6) END AS s2
        |  FROM cum),
        |st2 AS (
        |  SELECT p, nt, nc, th,
        |    CASE WHEN s2 > 0 THEN
        |      ROUND(s2 * (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE))
        |        / (CAST(nt AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
        |    END AS vv
        |  FROM st1),
        |st3 AS (
        |  SELECT p, nt, nc, th,
        |    CASE WHEN vv > 0 AND th IS NOT NULL THEN
        |      ROUND(0.5 * ln(vv / (vv + 1.0))
        |        + 1.0 * th * th / (2.0 * vv * (vv + 1.0)), 6)
        |    END AS log_lambda
        |  FROM st2),
        |st4 AS (
        |  SELECT p, nt, nc, th, log_lambda,
        |    MAX(log_lambda) OVER (ORDER BY p) AS mx
        |  FROM st3)
        |SELECT p AS period, nt AS n_t, nc AS n_c, th AS theta,
        |  log_lambda,
        |  CASE WHEN mx > 0 THEN ROUND(exp(-mx), 6)
        |       ELSE 1.0 END AS always_valid_p
        |FROM st4""".stripMargin,

    // descending cumulatives as total - strictly-below on the
    // distinct-score frame; two exact ratios, one rounded chain each
    "a62_uplift" ->
      """WITH s AS (
        |  SELECT CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS sc,
        |    user_id % 2 = 0 AS t,
        |    event_type = 'purchase' AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (
        |  SELECT sc,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cc,
        |    SUM(CASE WHEN t AND y THEN 1 ELSE 0 END) AS pt,
        |    SUM(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS pc
        |  FROM s GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(ct) AS BIGINT) AS tct,
        |    CAST(SUM(cc) AS BIGINT) AS tcc,
        |    CAST(SUM(pt) AS BIGINT) AS tpt,
        |    CAST(SUM(pc) AS BIGINT) AS tpc
        |  FROM g),
        |cum AS (
        |  SELECT sc,
        |    tct - (SUM(ct) OVER (ORDER BY sc) - ct) AS n_t,
        |    tcc - (SUM(cc) OVER (ORDER BY sc) - cc) AS n_c,
        |    tpt - (SUM(pt) OVER (ORDER BY sc) - pt) AS pos_t,
        |    tpc - (SUM(pc) OVER (ORDER BY sc) - pc) AS pos_c
        |  FROM g, tot)
        |SELECT CAST(sc AS DOUBLE) / 1000000.0 AS score,
        |  CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
        |  CAST(pos_t AS BIGINT) AS pos_t,
        |  CAST(pos_c AS BIGINT) AS pos_c,
        |  CASE WHEN n_t > 0 AND n_c > 0 THEN
        |    ROUND(CAST(pos_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
        |  END AS uplift,
        |  CASE WHEN n_c > 0 THEN
        |    ROUND(CAST(pos_t AS DOUBLE)
        |      - CAST(pos_c AS DOUBLE) * CAST(n_t AS DOUBLE)
        |        / CAST(n_c AS DOUBLE), 6)
        |  END AS qini
        |FROM cum""".stripMargin,

    // distinct-value frames end to end: doubled ranks off per-group
    // cumulatives, HUGEINT ceil-k, the k -> order-statistic interval
    // join; positive ints so // == div
    "a61_quantile_norm" ->
      """WITH s AS (
        |  SELECT lang AS g,
        |    CAST(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |cg AS (SELECT g, v, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |rg AS (
        |  SELECT g, v, c,
        |    2 * (SUM(c) OVER (PARTITION BY g ORDER BY v) - c) + c + 1
        |      AS r2
        |  FROM cg),
        |ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cg
        |  GROUP BY 1),
        |ca AS (SELECT v, COUNT(*) AS ca FROM s GROUP BY 1),
        |nn AS (SELECT CAST(SUM(ca) AS BIGINT) AS nt FROM ca),
        |ga AS (
        |  SELECT v AS nv, SUM(ca) OVER (ORDER BY v) - ca AS lo,
        |    SUM(ca) OVER (ORDER BY v) AS hi
        |  FROM ca),
        |kf AS (
        |  SELECT rg.g, rg.v, rg.c,
        |    CAST((CAST(r2 AS HUGEINT) * (nt + 1) + 2 * (n + 1) - 1)
        |      // (2 * (n + 1)) AS BIGINT) AS k
        |  FROM rg JOIN ng USING (g), nn)
        |SELECT kf.g AS lang, CAST(kf.v AS DOUBLE) / 1000000.0 AS value,
        |  kf.c AS n, kf.k,
        |  CAST(ga.nv AS DOUBLE) / 1000000.0 AS normalized
        |FROM kf JOIN ga ON kf.k > ga.lo AND kf.k <= ga.hi""".stripMargin,

    // the portable 31-poly char fold replayed as a list_reduce over
    // the identical canonical string (chr(1) separators, chr(0) null
    // sentinel, chr(2) salt); sums exact DECIMAL(38,0)
    "a60_dataset_fp" ->
      """WITH s AS (
        |  SELECT concat(
        |    COALESCE(CAST(c_custkey AS VARCHAR), chr(0)), chr(1),
        |    COALESCE(c_name, chr(0)), chr(1),
        |    COALESCE(c_mktsegment, chr(0))) AS canon
        |  FROM customer),
        |h AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon || chr(2), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h2
        |  FROM s)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(SUM(h1), 0) % 2305843009213693951
        |    AS BIGINT) AS hash_sum,
        |  CAST(COALESCE(SUM(h2), 0) % 2305843009213693951
        |    AS BIGINT) AS hash_sum_b
        |FROM h""".stripMargin,

    // every Sinkhorn scaling replayed on HUGEINT: round-6 masses and
    // kernel, micro-grid iterates (one double division each), exact
    // pico/1e18 sums; bin = truncating div (sign-explicit for //)
    "a59_sinkhorn" -> {
      val base =
        """WITH s AS MATERIALIZED (
          |  SELECT lang = 'en' AS a,
          |    CAST(CAST(ROUND(CAST(n_chars AS DOUBLE), 6)
          |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
          |  FROM documents
          |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
          |b AS MATERIALIZED (
          |  SELECT CASE WHEN vm >= 0 THEN vm // 50000000
          |    ELSE -((-vm) // 50000000) END AS bin,
          |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
          |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
          |  FROM s GROUP BY 1),
          |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
          |  CAST(SUM(cb) AS BIGINT) AS nb FROM b),
          |mass AS MATERIALIZED (
          |  SELECT bin,
          |    CAST(CAST(ROUND(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE),
          |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pm,
          |    CAST(CAST(ROUND(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE),
          |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qm
          |  FROM b, t),
          |k AS MATERIALIZED (
          |  SELECT i.bin AS i, j.bin AS j, abs(i.bin - j.bin) AS c,
          |    CAST(CAST(ROUND(exp(-CAST(abs(i.bin - j.bin) AS DOUBLE)
          |      / CAST(3.0 AS DOUBLE)), 6) AS DECIMAL(18,6))
          |      * 1000000 AS BIGINT) AS km
          |  FROM mass i, mass j),
          |v0 AS (SELECT bin AS j, CAST(1000000 AS BIGINT) AS vm
          |  FROM mass)""".stripMargin
      val rounds = (1 to 5).map { r =>
        s"""u$r AS MATERIALIZED (
  SELECT k.i, CASE WHEN SUM(CAST(k.km AS HUGEINT) * v.vm) > 0 THEN
    CAST(CAST(ROUND((CAST(m.pm AS DOUBLE) / 1000000.0)
      / (CAST(SUM(CAST(k.km AS HUGEINT) * v.vm) AS DOUBLE)
         / 1000000000000.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
    END AS um
  FROM k JOIN v${r - 1} v ON v.j = k.j
    JOIN mass m ON m.bin = k.i
  GROUP BY k.i, m.pm),
v$r AS MATERIALIZED (
  SELECT k.j, CASE WHEN SUM(CAST(k.km AS HUGEINT) * u.um) > 0 THEN
    CAST(CAST(ROUND((CAST(m.qm AS DOUBLE) / 1000000.0)
      / (CAST(SUM(CAST(k.km AS HUGEINT) * u.um) AS DOUBLE)
         / 1000000000000.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
    END AS vm
  FROM k JOIN u$r u ON u.i = k.i
    JOIN mass m ON m.bin = k.j
  GROUP BY k.j, m.qm)"""
      }.mkString(",\n")
      val tail =
        """pl AS (
          |  SELECT SUM(CAST(u.um AS HUGEINT) * k.km * v.vm * k.c)
          |      AS cost18,
          |    SUM(CAST(u.um AS HUGEINT) * k.km * v.vm) AS mass18
          |  FROM k JOIN u5 u ON u.i = k.i JOIN v5 v ON v.j = k.j),
          |bc AS (SELECT COUNT(*) AS bins FROM mass)
          |SELECT t.na AS n_a, t.nb AS n_b, bc.bins AS n_bins,
          |  ROUND(CAST(pl.cost18 AS DOUBLE) / 1e18, 6) AS cost,
          |  ROUND(CAST(pl.mass18 AS DOUBLE) / 1e18, 6)
          |    AS transported_mass
          |FROM t, bc, pl""".stripMargin
      s"$base,\n$rounds,\n$tail"
    },

    // round-6 POWER terms into an exact decimal denominator; every
    // share a single double division rounded once
    "a58_temperature_mix" ->
      """WITH g AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(ROUND(POWER(CAST(COUNT(*) AS DOUBLE), 0.3), 6)
        |      AS DECIMAL(18,6)) AS t
        |  FROM documents WHERE source IS NOT NULL
        |  GROUP BY source),
        |o AS (
        |  SELECT SUM(n) AS nt,
        |    CAST(SUM(t) AS DECIMAL(28,6)) AS tt
        |  FROM g)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS p_raw,
        |  ROUND(CAST(t AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS p_temp,
        |  ROUND((CAST(t AS DOUBLE) / CAST(tt AS DOUBLE))
        |    / (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
        |    AS weight_multiplier
        |FROM g, o""".stripMargin,

    // one HUGEINT moment agg; unrounded theta inside the adjusted
    // diff exactly as the engine computes it; reduction = corr^2
    "a57_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) <= 15
        |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS pre,
        |    COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) > 15
        |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS post
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(CAST(ROUND(CAST(pre AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x,
        |    CAST(CAST(ROUND(CAST(post AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y,
        |    user_id % 2 = 0 AS t
        |  FROM u),
        |a AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
        |    SUM(CASE WHEN t THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxt,
        |    SUM(CASE WHEN t THEN CAST(y AS HUGEINT) ELSE 0 END) AS syt,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nc,
        |    SUM(CASE WHEN NOT t THEN CAST(x AS HUGEINT) ELSE 0 END)
        |      AS sxc,
        |    SUM(CASE WHEN NOT t THEN CAST(y AS HUGEINT) ELSE 0 END)
        |      AS syc
        |  FROM s)
        |SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
        |  CASE WHEN nt > 0 AND nc > 0 THEN
        |    ROUND(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6
        |      - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6, 6)
        |  END AS raw_diff,
        |  CASE WHEN nt > 0 AND nc > 0 AND n * sxx - sx * sx > 0 THEN
        |    ROUND(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6
        |      - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6
        |      - (CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE))
        |        * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6
        |           - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6),
        |      6) END AS adjusted_diff,
        |  CASE WHEN n * sxx - sx * sx > 0
        |        AND n * syy - sy * sy > 0 THEN
        |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |        * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS variance_reduction
        |FROM a""".stripMargin,

    // exact integer S and tie-corrected 18-Var; sign-explicit
    // truncating pairwise slopes; lower-median Sen order statistic
    "a56_mann_kendall" ->
      """WITH d AS (
        |  SELECT EXTRACT(day FROM ts) AS i,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT CAST(i AS BIGINT) AS i,
        |    CAST(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS v
        |  FROM d),
        |p AS (
        |  SELECT CASE WHEN b.v > a.v THEN 1
        |              WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
        |    CASE WHEN b.v - a.v >= 0
        |      THEN (b.v - a.v) // (b.i - a.i)
        |      ELSE -((a.v - b.v) // (b.i - a.i)) END AS sl
        |  FROM s a JOIN s b ON a.i < b.i),
        |t AS (SELECT COALESCE(SUM(sgn), 0) AS s, COUNT(*) AS np
        |      FROM p),
        |n AS (SELECT COUNT(*) AS n FROM s),
        |tt AS (
        |  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
        |    AS tieterm
        |  FROM (SELECT COUNT(*) AS t FROM s GROUP BY v
        |        HAVING COUNT(*) > 1)),
        |v AS (
        |  SELECT n.n * (n.n - 1) * (2 * n.n + 5) - tt.tieterm
        |    AS var18
        |  FROM n, tt),
        |md AS (
        |  SELECT sl FROM
        |    (SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) AS r FROM p),
        |    t
        |  WHERE r = (t.np + 1) // 2)
        |SELECT CAST(n.n AS BIGINT) AS n, CAST(t.s AS BIGINT) AS s,
        |  CAST(v.var18 AS BIGINT) AS var18,
        |  CASE WHEN v.var18 > 0 THEN
        |    CASE WHEN abs(t.s) <= 1 THEN CAST(0 AS DOUBLE)
        |      ELSE ROUND((CAST(t.s AS DOUBLE)
        |          - CASE WHEN t.s > 0 THEN 1 ELSE -1 END)
        |        / SQRT(CAST(v.var18 AS DOUBLE) / 18.0), 6) END
        |  END AS z,
        |  (SELECT CAST(sl AS BIGINT) FROM md) AS sen_slope_micros
        |FROM n, t, v""".stripMargin,

    // round-6 decay weights from floor-truncated epoch ages (the
    // unix_timestamp convention), exact decimal sum, (score desc,
    // key) tiebreak
    "a55_decayed_topk" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(ROUND(POWER(0.5,
        |    CAST(1706745600 - CAST(floor(epoch(ts)) AS BIGINT)
        |      AS DOUBLE) / 604800.0), 6) AS DECIMAL(18,6)))
        |    AS DECIMAL(28,6)) AS DOUBLE) AS decayed_score
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  AND CAST(floor(epoch(ts)) AS BIGINT) <= 1706745600
        |GROUP BY event_type
        |ORDER BY decayed_score DESC, event_type
        |LIMIT 5""".stripMargin,

    // every Poisson weight replayed from the identical hash cutoffs;
    // sign-explicit truncating means; ceil-k order statistics
    "a54_bootstrap" ->
      """WITH s AS (
        |  SELECT event_id AS id,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |o AS (SELECT COUNT(*) AS n, COALESCE(SUM(v), 0) AS sv FROM s),
        |reps AS (
        |  SELECT b.b, s.v,
        |    (((((s.id % 2147483647) * 2654435761) % 2147483647)
        |      + b.b * 2654435761) % 2147483647) AS h
        |  FROM s CROSS JOIN (SELECT unnest(range(1, 101)) AS b) b),
        |w AS (
        |  SELECT b, v,
        |    CASE WHEN h < 790015083 THEN 0
        |         WHEN h < 1580030167 THEN 1
        |         WHEN h < 1975037709 THEN 2
        |         WHEN h < 2106706890 THEN 3
        |         WHEN h < 2139624185 THEN 4
        |         WHEN h < 2146207644 THEN 5
        |         WHEN h < 2147304887 THEN 6
        |         WHEN h < 2147461637 THEN 7
        |         ELSE 8 END AS w
        |  FROM reps),
        |r AS (SELECT b, SUM(w * v) AS ws, SUM(w) AS wn
        |      FROM w GROUP BY b),
        |m AS (
        |  SELECT CASE WHEN ws >= 0 THEN ws // wn
        |    ELSE -((-ws) // wn) END AS m
        |  FROM r WHERE wn > 0),
        |bu AS (SELECT COUNT(*) AS bu FROM m),
        |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM m),
        |k AS (
        |  SELECT GREATEST((bu * 25000 + 999999) // 1000000, 1) AS klo,
        |    (bu * 975000 + 999999) // 1000000 AS khi, bu
        |  FROM bu)
        |SELECT CAST(o.n AS BIGINT) AS n,
        |  CASE WHEN o.n > 0 THEN
        |    CAST(CASE WHEN o.sv >= 0 THEN o.sv // o.n
        |      ELSE -((-o.sv) // o.n) END AS BIGINT) END AS mean_micros,
        |  CAST(100 AS BIGINT) AS replicas,
        |  CAST(k.bu AS BIGINT) AS replicas_used,
        |  (SELECT CAST(m AS BIGINT) FROM rk, k WHERE rk.r = k.klo)
        |    AS ci_lo_micros,
        |  (SELECT CAST(m AS BIGINT) FROM rk, k WHERE rk.r = k.khi)
        |    AS ci_hi_micros
        |FROM o, k""".stripMargin,

    // every salted re-labeling replayed (the portable-hash chain);
    // HUGEINT cross-multiplies mirror the decimal(38,0) comparison
    "a52_randomization" ->
      """WITH s AS (
        |  SELECT event_id AS id,
        |    CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
        |    event_type = 'purchase' AS a
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id IS NOT NULL),
        |o AS (
        |  SELECT SUM(CASE WHEN a THEN v ELSE 0 END) AS sa,
        |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN NOT a THEN v ELSE 0 END) AS sb,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb
        |  FROM s),
        |reps AS (
        |  SELECT b.b, s.v,
        |    (((((s.id % 2147483647) * 2654435761) % 2147483647)
        |      + b.b * 2654435761) % 2147483647) % (o.na + o.nb)
        |      < o.na AS pa
        |  FROM s CROSS JOIN (SELECT unnest(range(1, 100)) AS b) b
        |  CROSS JOIN o),
        |r AS (
        |  SELECT b,
        |    SUM(CASE WHEN pa THEN v ELSE 0 END) AS rsa,
        |    SUM(CASE WHEN pa THEN 1 ELSE 0 END) AS rna,
        |    SUM(CASE WHEN NOT pa THEN v ELSE 0 END) AS rsb,
        |    SUM(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS rnb
        |  FROM reps GROUP BY b),
        |x AS (
        |  SELECT SUM(CASE WHEN rna = 0 OR rnb = 0 OR
        |      abs(CAST(rsa AS HUGEINT) * rnb
        |        - CAST(rsb AS HUGEINT) * rna)
        |        * CAST(o.na AS HUGEINT) * o.nb >=
        |      abs(CAST(o.sa AS HUGEINT) * o.nb
        |        - CAST(o.sb AS HUGEINT) * o.na)
        |        * CAST(rna AS HUGEINT) * rnb
        |    THEN 1 ELSE 0 END) AS n_extreme
        |  FROM r CROSS JOIN o)
        |SELECT CAST(o.na AS BIGINT) AS n_a, CAST(o.nb AS BIGINT) AS n_b,
        |  CASE WHEN o.na > 0 AND o.nb > 0 THEN
        |    ROUND(CAST(abs(CAST(o.sa AS HUGEINT) * o.nb
        |        - CAST(o.sb AS HUGEINT) * o.na) AS DOUBLE)
        |      / CAST(CAST(o.na AS HUGEINT) * o.nb AS DOUBLE)
        |      / 1e6, 6) END AS obs_diff,
        |  CAST(99 AS BIGINT) AS replicas,
        |  CAST(x.n_extreme AS BIGINT) AS n_extreme,
        |  ROUND(CAST(1 + x.n_extreme AS DOUBLE) / 100.0, 6) AS p_value
        |FROM o, x""".stripMargin,

    // slot-marginal PMI over the adjacent-bigram frame; ln on the
    // identical double ratio
    // segmentation replayed relationally: stopword-prefix-count
    // groups = maximal stopword-free runs (any adjacency depth);
    // round-6 word scores summed exactly per phrase
    "t_rake" ->
      """WITH cl AS (
        |  SELECT doc_id,
        |    list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |      ' '), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, u['i'] AS i, u['w'] AS w
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, len(toks) + 1),
        |      k -> {'i': k, 'w': toks[CAST(k AS INT)]})) AS u
        |    FROM cl)),
        |seg AS (
        |  SELECT doc_id, i, w,
        |    CASE WHEN w IN ('the','a','an','and','or','of','to','in',
        |      'is','are','was','for','on','with','as','by','at','it',
        |      'this','that') THEN 1 ELSE 0 END AS st
        |  FROM tok),
        |seg2 AS (
        |  SELECT doc_id, i, w, st,
        |    SUM(st) OVER (PARTITION BY doc_id ORDER BY i) AS g
        |  FROM seg),
        |ph AS (
        |  SELECT doc_id, g,
        |    array_to_string(list(w ORDER BY i), ' ') AS p,
        |    COUNT(*) AS l
        |  FROM seg2 WHERE st = 0 GROUP BY doc_id, g),
        |phf AS (SELECT p, l FROM ph WHERE l BETWEEN 1 AND 4),
        |ws AS (
        |  SELECT w,
        |    CAST(ROUND(CAST(SUM(l) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS s
        |  FROM (SELECT unnest(string_split(p, ' ')) AS w, l FROM phf)
        |  GROUP BY w),
        |pf AS (SELECT p, COUNT(*) AS n_occurrences FROM phf
        |  GROUP BY p),
        |sc AS (
        |  SELECT pw.p, pw.n_occurrences,
        |    CAST(SUM(ws.s) AS DOUBLE) AS score
        |  FROM (SELECT p, n_occurrences,
        |          unnest(string_split(p, ' ')) AS w
        |        FROM pf) pw
        |  JOIN ws ON ws.w = pw.w
        |  GROUP BY pw.p, pw.n_occurrences)
        |SELECT p AS phrase,
        |  CAST(len(string_split(p, ' ')) AS INT) AS n_words,
        |  n_occurrences, score
        |FROM sc
        |ORDER BY score DESC, phrase LIMIT 25""".stripMargin,

    "t_pmi_colloc" ->
      """WITH w AS (
        |  SELECT list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |      i -> {'w1': w[CAST(i AS INT)],
        |            'w2': w[CAST(i + 1 AS INT)]})) AS b
        |    FROM w WHERE len(w) >= 2)),
        |p AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY 1, 2),
        |l AS (SELECT w1, SUM(c_ab) AS ca FROM p GROUP BY 1),
        |r AS (SELECT w2, SUM(c_ab) AS cb FROM p GROUP BY 1),
        |t AS (SELECT SUM(c_ab) AS nb FROM p)
        |SELECT p.w1, p.w2, CAST(p.c_ab AS BIGINT) AS c_ab,
        |  ROUND(ln((CAST(p.c_ab AS DOUBLE) * CAST(t.nb AS DOUBLE))
        |    / (CAST(l.ca AS DOUBLE) * CAST(r.cb AS DOUBLE))), 6) AS pmi
        |FROM p, l, r, t
        |WHERE p.w1 = l.w1 AND p.w2 = r.w2 AND p.c_ab >= 5
        |ORDER BY pmi DESC, p.w1, p.w2 LIMIT 40""".stripMargin,

    "a42_ece" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |    AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu, p
        |  FROM s),
        |g AS (
        |  SELECT bin, COUNT(*) AS n, SUM(mu) AS smu,
        |    SUM(CASE WHEN p THEN 1 ELSE 0 END) AS pos
        |  FROM b GROUP BY bin)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(abs(pos * 1000000 - smu)) // SUM(n) AS BIGINT)
        |    AS ece_micros
        |FROM g""".stripMargin,

    // every HLL register replayed: same multiply-xorshift-fold mixer,
    // bit-op idx/rest, isolate-lowest-bit rho, exact scaled-integer Z
    "a37_hll_distinct" ->
      """WITH h0 AS (
        |  SELECT (((user_id % 2147483648) + 2147483648) % 2147483648)
        |    * 2654435761 AS a
        |  FROM events WHERE user_id IS NOT NULL),
        |h1 AS (SELECT xor(a, a >> 31) AS b FROM h0),
        |h2 AS (SELECT (b & 2147483647) * 2654435761 AS c FROM h1),
        |h AS (SELECT xor(c, c >> 31) AS w FROM h2),
        |r2 AS (
        |  SELECT w & 63 AS idx,
        |    CASE WHEN (w >> 6) = 0 THEN 57
        |         ELSE bit_count(((w >> 6) & -(w >> 6)) - 1) + 1
        |    END AS rho
        |  FROM h),
        |regs AS (SELECT idx, MAX(rho) AS rho FROM r2 GROUP BY idx),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS hit,
        |    SUM(CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS z
        |  FROM regs),
        |x AS (
        |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (
        |  SELECT hit, exact,
        |    CAST(z + (64 - hit) * 144115188075855872 AS DOUBLE)
        |      / CAST(144115188075855872 AS DOUBLE) AS zz
        |  FROM a, x),
        |e AS (
        |  SELECT hit, exact,
        |    CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) / zz AS eraw
        |  FROM f),
        |g AS (
        |  SELECT hit, exact,
        |    CASE WHEN eraw <= CAST(2.5 AS DOUBLE) * CAST(64 AS DOUBLE)
        |              AND (64 - hit) > 0
        |         THEN CAST(64 AS DOUBLE)
        |              * ROUND(ln(CAST(64 AS DOUBLE)
        |                  / CAST(64 - hit AS DOUBLE)), 6)
        |         ELSE eraw END AS est
        |  FROM e)
        |SELECT CAST(64 AS BIGINT) AS m, hit AS registers_hit,
        |  ROUND(est, 6) AS estimate, exact,
        |  ROUND(abs(ROUND(est, 6) - CAST(exact AS DOUBLE))
        |    / CAST(exact AS DOUBLE), 6) AS rel_error
        |FROM g""".stripMargin,

    // contingency MI: each ln rounded once to 6, per-cell/margin
    // products exact decimal, one double cast + round at the end;
    // nmi uses the ROUNDED mi/h values (the Spark column exprs)
    "a33_mutual_info" ->
      """WITH c AS (
        |  SELECT event_type AS a, EXTRACT(hour FROM ts) AS b,
        |    COUNT(*) AS nab
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT nab,
        |    SUM(nab) OVER (PARTITION BY a) AS na,
        |    SUM(nab) OVER (PARTITION BY b) AS nb,
        |    SUM(nab) OVER () AS n
        |  FROM c),
        |agg AS (
        |  SELECT CAST(SUM(nab) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS cells,
        |    SUM(CAST(nab * ROUND(ln(CAST(nab AS DOUBLE) * CAST(n AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
        |      AS DECIMAL(28,6))) AS minum
        |  FROM w),
        |ma AS (
        |  SELECT SUM(CAST(na * ROUND(ln(CAST(na AS DOUBLE)), 6)
        |    AS DECIMAL(28,6))) AS sa
        |  FROM (SELECT a, SUM(nab) AS na FROM c GROUP BY a)),
        |mb AS (
        |  SELECT SUM(CAST(nb * ROUND(ln(CAST(nb AS DOUBLE)), 6)
        |    AS DECIMAL(28,6))) AS sb
        |  FROM (SELECT b, SUM(nab) AS nb FROM c GROUP BY b)),
        |f AS (
        |  SELECT n, cells,
        |    ROUND(CAST(minum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mi,
        |    ROUND(ln(CAST(n AS DOUBLE))
        |      - CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_a,
        |    ROUND(ln(CAST(n AS DOUBLE))
        |      - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_b
        |  FROM agg, ma, mb)
        |SELECT n, cells, mi, h_a, h_b,
        |  CASE WHEN LEAST(h_a, h_b) > 0
        |       THEN ROUND(mi / LEAST(h_a, h_b), 6) END AS nmi
        |FROM f""".stripMargin,

    // distinct (user, day) + 7-day explode; inner join keeps days
    // with their own activity
    "a28_dau_wau" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d
        |  FROM events),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM pairs GROUP BY 1),
        |wau AS (
        |  SELECT day, CAST(COUNT(DISTINCT k) AS BIGINT) AS wau
        |  FROM (SELECT k,
        |          CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
        |            CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
        |            INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM pairs)
        |  GROUP BY 1)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau, wau
        |FROM dau JOIN wau USING (day)""".stripMargin,

    // expected calendar per user minus observed days (NOT EXISTS ==
    // the left_anti)
    "a26_gap_days" ->
      """WITH s AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0,
        |    MAX(CAST(ts AS DATE)) AS d1
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM s),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |      FROM events)
        |SELECT e.user_id, CAST(e.day AS VARCHAR) AS day FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM a
        |  WHERE a.user_id = e.user_id AND a.day = e.day)""".stripMargin,

    // streaming exact distinct == batch distinct per closed window
    "s_stream_distinct" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
        |FROM events GROUP BY 1""".stripMargin,

    // the batch HLL replay per hour window (the a37 register
    // arithmetic grouped by window)
    // the batch KMV replay per hour window (the a51 mixer fold +
    // per-window k smallest distinct hashes)
    "s_stream_kmv" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS ws, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |m AS (
        |  SELECT ws, (b & 2147483647) * 2654435761 AS c FROM (
        |    SELECT ws, xor(a, a >> 31) AS b FROM (
        |      SELECT ws, (((user_id % 2147483648) + 2147483648)
        |        % 2147483648) * 2654435761 AS a FROM e))),
        |hh AS (
        |  SELECT DISTINCT ws, (((xor(c, c >> 31) % 2147483648)
        |    + 2147483648) % 2147483648) + 1 AS h FROM m),
        |rk AS (
        |  SELECT ws, h,
        |    ROW_NUMBER() OVER (PARTITION BY ws ORDER BY h) AS r
        |  FROM hh),
        |sk AS (SELECT ws, h FROM rk WHERE r <= 256),
        |t AS (
        |  SELECT ws, COUNT(*) AS kept, MAX(h) AS thr
        |  FROM sk GROUP BY 1)
        |SELECT ws AS window_start, CAST(kept AS BIGINT) AS hashes_kept,
        |  thr AS threshold,
        |  CASE WHEN kept < 256 THEN CAST(kept AS DOUBLE)
        |    ELSE ROUND(255.0 * 2147483648.0 / CAST(thr AS DOUBLE), 6)
        |  END AS estimate
        |FROM t""".stripMargin,

    // the a41 bin arithmetic per hour window; sentinel windows are
    // beyond the corpus end, so the plain-events replay matches
    "s_stream_calibration" ->
      """WITH s AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    CAST(ROUND(LEAST(GREATEST(
        |      CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |      AS DECIMAL(18,6)) AS v,
        |    event_type = 'purchase' AS p
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (
        |  SELECT ws, LEAST(CAST(floor(v * 10) AS INT), 9) AS bin,
        |    CAST(v * 1000000 AS BIGINT) AS mu, p
        |  FROM s)
        |SELECT ws AS window_start, bin, COUNT(*) AS n,
        |  CAST(SUM(mu) // COUNT(*) AS BIGINT) AS conf_micros,
        |  CAST((SUM(CASE WHEN p THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS acc_micros
        |FROM b GROUP BY 1, 2""".stripMargin,

    // per-window replay of the a65 micro arithmetic
    "s_stream_brier" ->
      """WITH s AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    CAST(CAST(ROUND(LEAST(GREATEST(
        |        CAST(value AS DOUBLE) / CAST(100 AS DOUBLE), 0), 1), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL)
        |SELECT ws AS window_start, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS base_rate,
        |  ROUND(CAST(SUM(CAST(mu - y * 1000000 AS HUGEINT)
        |      * (mu - y * 1000000)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e12, 6) AS brier
        |FROM s GROUP BY ws""".stripMargin,

    // per-window replay of the a60 fold over the identical canonical
    "s_stream_fingerprint" ->
      """WITH s AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    concat(COALESCE(CAST(event_id AS VARCHAR), chr(0)), chr(1),
        |      COALESCE(event_type, chr(0))) AS canon
        |  FROM events),
        |h AS (
        |  SELECT ws,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(canon || chr(2), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h2
        |  FROM s)
        |SELECT ws AS window_start, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(h1) % 2305843009213693951 AS BIGINT) AS hash_sum,
        |  CAST(SUM(h2) % 2305843009213693951 AS BIGINT) AS hash_sum_b
        |FROM h GROUP BY ws""".stripMargin,

    "s_stream_hll" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS ws,
        |    (((user_id % 2147483648) + 2147483648) % 2147483648)
        |      * 2654435761 AS a
        |  FROM events WHERE user_id IS NOT NULL),
        |h2 AS (SELECT ws, xor(a, a >> 31) AS b FROM h),
        |h3 AS (SELECT ws, (b & 2147483647) * 2654435761 AS c FROM h2),
        |h4 AS (SELECT ws, xor(c, c >> 31) AS w FROM h3),
        |r AS (
        |  SELECT ws, w & 63 AS idx,
        |    CASE WHEN (w >> 6) = 0 THEN 57
        |         ELSE bit_count(((w >> 6) & -(w >> 6)) - 1) + 1
        |    END AS rho
        |  FROM h4),
        |regs AS (SELECT ws, idx, MAX(rho) AS rho FROM r GROUP BY 1, 2),
        |a AS (
        |  SELECT ws, CAST(COUNT(*) AS BIGINT) AS hit,
        |    SUM(CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS z
        |  FROM regs GROUP BY 1),
        |f AS (
        |  SELECT ws, hit,
        |    CAST(z + (64 - hit) * 144115188075855872 AS DOUBLE)
        |      / CAST(144115188075855872 AS DOUBLE) AS zz
        |  FROM a),
        |e AS (
        |  SELECT ws, hit,
        |    CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) / zz AS eraw
        |  FROM f)
        |SELECT ws AS window_start, hit AS registers_hit,
        |  ROUND(CASE WHEN eraw <= CAST(2.5 AS DOUBLE)
        |                  * CAST(64 AS DOUBLE) AND (64 - hit) > 0
        |             THEN CAST(64 AS DOUBLE)
        |                  * ROUND(ln(CAST(64 AS DOUBLE)
        |                      / CAST(64 - hit AS DOUBLE)), 6)
        |             ELSE eraw END, 6) AS estimate
        |FROM e""".stripMargin,

    // histogram-sketch quantiles: least bucket with cum >= p·N,
    // linear interpolation inside it — all double arithmetic forced
    "a24_hist_quantile" ->
      """WITH h AS (
        |  SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) /
        |    CAST(100.0 AS DOUBLE)) AS BIGINT) AS bucket,
        |    COUNT(*) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        SUM(cnt) OVER (ORDER BY bucket) AS cum FROM h),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
        |p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                     CAST(0.99 AS DOUBLE)]) AS p),
        |sel AS (
        |  SELECT p.p, c.bucket, c.cum - c.cnt AS cum_prev, c.cnt, n.n,
        |    ROW_NUMBER() OVER (PARTITION BY p.p ORDER BY c.bucket) AS rn
        |  FROM p, c, n WHERE CAST(c.cum AS DOUBLE) >= p.p * n.n)
        |SELECT p,
        |  ROUND(bucket * CAST(100.0 AS DOUBLE) + CAST(100.0 AS DOUBLE) *
        |        (p * n - CAST(cum_prev AS DOUBLE)) / cnt, 6) AS est,
        |  CAST(100.0 AS DOUBLE) AS err_bound
        |FROM sel WHERE rn = 1""".stripMargin,

    // WOE bins: percentile boundaries, Laplace +0.5 cells, IV from
    // the ROUNDED woe — double arithmetic forced throughout
    "a25_woe" ->
      """WITH src AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    o_orderstatus = 'F' AS bad
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |q AS (SELECT quantile_cont(v, 0.2) AS q1,
        |        quantile_cont(v, 0.4) AS q2,
        |        quantile_cont(v, 0.6) AS q3,
        |        quantile_cont(v, 0.8) AS q4 FROM src),
        |b AS (
        |  SELECT 1 + CAST(v > q1 AS INT) + CAST(v > q2 AS INT)
        |       + CAST(v > q3 AS INT) + CAST(v > q4 AS INT) AS bin, bad
        |  FROM src, q),
        |g AS (SELECT bin, COUNT(*) AS n,
        |        CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_bad
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |        CAST(SUM(n_bad) AS BIGINT) AS tb FROM g)
        |SELECT bin, n, n_bad,
        |  ROUND(CAST(n_bad AS DOUBLE) / n, 6) AS bad_rate,
        |  ROUND(ln(((n_bad + CAST(0.5 AS DOUBLE)) / tb) /
        |           ((n - n_bad + CAST(0.5 AS DOUBLE)) / (tn - tb))), 6)
        |    AS woe,
        |  ROUND((CAST(n_bad AS DOUBLE) / tb -
        |         CAST(n - n_bad AS DOUBLE) / (tn - tb)) *
        |        ROUND(ln(((n_bad + CAST(0.5 AS DOUBLE)) / tb) /
        |          ((n - n_bad + CAST(0.5 AS DOUBLE)) / (tn - tb))), 6), 6)
        |    AS iv_term
        |FROM g, t""".stripMargin,

    "a20_ab_test" ->
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT
        |    COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN conv END) AS BIGINT)
        |      AS c_a,
        |    COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN conv END) AS BIGINT)
        |      AS c_b
        |  FROM per)
        |SELECT n_a, c_a,
        |  ROUND(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  n_b, c_b,
        |  ROUND(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  ROUND((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |         CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) -
        |          CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |          CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))), 6) AS z,
        |  abs(ROUND((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |         CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) -
        |          CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |          CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))), 6)) > 1.96
        |    AS significant
        |FROM a""".stripMargin,

    // the window formulation IS the oracle — the aggregate must equal
    // what a full sort-and-rank computes
    "a19_topk_agg" ->
      """SELECT event_type, CAST(rn AS INT) AS rank, event_id, value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rn <= 3""".stripMargin,

    // DuckDB's native ASOF in BOTH directions (>= backward, <= forward)
    // brackets each grid instant; identical interpolation expression
    "w23_interp" ->
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b),
        |p AS (
        |  SELECT g.user_id, g.grid_ts, e.value AS pv,
        |    epoch_us(e.ts) AS pt
        |  FROM grid g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts >= e.ts),
        |nx AS (
        |  SELECT g.user_id, g.grid_ts, e.value AS nv,
        |    epoch_us(e.ts) AS nt
        |  FROM grid g ASOF LEFT JOIN e
        |    ON g.user_id = e.user_id AND g.grid_ts <= e.ts)
        |SELECT p.user_id, p.grid_ts,
        |  CASE WHEN pt IS NULL THEN NULL
        |       WHEN nt IS NULL OR nt = pt THEN CAST(pv AS DOUBLE)
        |       ELSE ROUND(CAST(pv AS DOUBLE) +
        |         (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
        |         ((CAST(epoch_us(p.grid_ts) AS DOUBLE) -
        |           CAST(pt AS DOUBLE)) /
        |          (CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE))), 6)
        |  END AS interp_value
        |FROM p JOIN nx
        |  ON p.user_id = nx.user_id AND p.grid_ts = nx.grid_ts""".stripMargin,

    // exact percentile bounds (quantile_cont) round-6 then compared —
    // the a8/a14 pairing; boundary ties take the lower score
    "w22_rfm" ->
      """WITH e AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |per AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_us,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p2 AS (
        |  SELECT user_id,
        |    CAST(floor((e.end_us - last_us) / 86400000000) AS BIGINT)
        |      AS recency_days,
        |    frequency, monetary
        |  FROM per, e),
        |b AS (
        |  SELECT
        |    ROUND(quantile_cont(recency_days, 0.2), 6) AS r20,
        |    ROUND(quantile_cont(recency_days, 0.4), 6) AS r40,
        |    ROUND(quantile_cont(recency_days, 0.6), 6) AS r60,
        |    ROUND(quantile_cont(recency_days, 0.8), 6) AS r80,
        |    ROUND(quantile_cont(frequency, 0.2), 6) AS f20,
        |    ROUND(quantile_cont(frequency, 0.4), 6) AS f40,
        |    ROUND(quantile_cont(frequency, 0.6), 6) AS f60,
        |    ROUND(quantile_cont(frequency, 0.8), 6) AS f80,
        |    ROUND(quantile_cont(monetary, 0.2), 6) AS m20,
        |    ROUND(quantile_cont(monetary, 0.4), 6) AS m40,
        |    ROUND(quantile_cont(monetary, 0.6), 6) AS m60,
        |    ROUND(quantile_cont(monetary, 0.8), 6) AS m80
        |  FROM p2),
        |s AS (
        |  SELECT user_id, recency_days, frequency, monetary,
        |    CAST(6 - (1 +
        |      CASE WHEN recency_days > r20 THEN 1 ELSE 0 END +
        |      CASE WHEN recency_days > r40 THEN 1 ELSE 0 END +
        |      CASE WHEN recency_days > r60 THEN 1 ELSE 0 END +
        |      CASE WHEN recency_days > r80 THEN 1 ELSE 0 END) AS INT)
        |      AS r_score,
        |    CAST(1 +
        |      CASE WHEN frequency > f20 THEN 1 ELSE 0 END +
        |      CASE WHEN frequency > f40 THEN 1 ELSE 0 END +
        |      CASE WHEN frequency > f60 THEN 1 ELSE 0 END +
        |      CASE WHEN frequency > f80 THEN 1 ELSE 0 END AS INT)
        |      AS f_score,
        |    CAST(1 +
        |      CASE WHEN monetary > m20 THEN 1 ELSE 0 END +
        |      CASE WHEN monetary > m40 THEN 1 ELSE 0 END +
        |      CASE WHEN monetary > m60 THEN 1 ELSE 0 END +
        |      CASE WHEN monetary > m80 THEN 1 ELSE 0 END AS INT)
        |      AS m_score
        |  FROM p2, b)
        |SELECT user_id, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM s""".stripMargin,

    // per-time risk sets from the cumulative window; the product-limit
    // curve replayed as a recursive decimal recurrence
    // same risk-set CTEs as w21 with a cumulative-sum hazard instead
    // of the recursive survival product
    "w33_nelson_aalen" ->
      """WITH per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t, COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |steps AS (
        |  SELECT t, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, CAST((SELECT nn FROM n) - before AS BIGINT)
        |    AS n_risk, d AS n_events
        |  FROM steps WHERE d > 0)
        |SELECT t, n_risk, n_events,
        |  CAST(SUM(CAST(ROUND(CAST(n_events AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE), 6) AS DECIMAL(18,6)))
        |    OVER (ORDER BY t) AS DOUBLE) AS hazard
        |FROM e""".stripMargin,

    // hypergeometric E/V per event time from the two-group risk sets,
    // round-6 decimal term sums, one chi-square expression
    "w34_logrank" ->
      """WITH per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs,
        |    user_id % 2 = 0 AS grp
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t,
        |    COUNT(CASE WHEN obs AND grp THEN 1 END) AS d1,
        |    COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(CASE WHEN grp THEN 1 END) AS m1,
        |    COUNT(*) AS m
        |  FROM subj WHERE grp IS NOT NULL AND dur IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT SUM(m1) AS nn1, SUM(m) AS nn FROM perT),
        |steps AS (
        |  SELECT t, d1, d,
        |    CAST(tot.nn1 - COALESCE(SUM(m1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1,
        |    CAST(tot.nn - COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n,
        |    tot.nn1, tot.nn
        |  FROM perT, tot),
        |terms AS (
        |  SELECT nn1, nn, d1,
        |    CAST(ROUND(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS et,
        |    CAST(CASE WHEN n > 1 THEN ROUND(
        |      (CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ((CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
        |         / (CAST(n AS DOUBLE) - 1.0)), 6)
        |    ELSE 0 END AS DECIMAL(18,6)) AS vt
        |  FROM steps WHERE d > 0),
        |agg AS (
        |  SELECT CAST(MAX(nn1) AS BIGINT) AS n_a,
        |    CAST(MAX(nn) - MAX(nn1) AS BIGINT) AS n_b,
        |    CAST(SUM(d1) AS BIGINT) AS observed_a,
        |    CAST(SUM(et) AS DOUBLE) AS expected_a,
        |    CAST(SUM(vt) AS DOUBLE) AS variance
        |  FROM terms)
        |SELECT agg.*,
        |  CASE WHEN variance > 0 THEN
        |    ROUND((CAST(observed_a AS DOUBLE) - expected_a)
        |      * (CAST(observed_a AS DOUBLE) - expected_a)
        |      / variance, 6) END AS chi2
        |FROM agg""".stripMargin,

    "w21_survival" ->
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t, COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |steps AS (
        |  SELECT t, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, (SELECT nn FROM n) - before AS n_risk, d AS n_events,
        |    ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS factor,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM steps WHERE d > 0),
        |km AS (
        |  SELECT t, n_risk, n_events, rn,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS s
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.t, e.n_risk, e.n_events, e.rn,
        |    CAST(ROUND(km.s * CAST(e.factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6))
        |  FROM e JOIN km ON e.rn = km.rn + 1)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
        |  CAST(s AS DOUBLE) AS survival
        |FROM km""".stripMargin,

    // the w21 KM recursion + the τ-clipped segment fold: exact
    // decimal (1−S)·Δt products, rmst = τ − Σ, one frac division
    "w37_rmst" ->
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE WHEN p_us IS NOT NULL THEN p_us - first_us
        |              ELSE end_us - first_us END AS dur,
        |    p_us IS NOT NULL AS obs
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t, COUNT(CASE WHEN obs THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |steps AS (
        |  SELECT t, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, (SELECT nn FROM n) - before AS n_risk, d AS n_events,
        |    ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS factor,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM steps WHERE d > 0),
        |km AS (
        |  SELECT t, rn,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS s
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.t, e.rn,
        |    CAST(ROUND(km.s * CAST(e.factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6))
        |  FROM e JOIN km ON e.rn = km.rn + 1),
        |seg AS (
        |  SELECT s, t,
        |    LEAST(COALESCE(LEAD(t) OVER (ORDER BY t), 604800000000),
        |      604800000000) AS tn
        |  FROM km WHERE t <= 604800000000),
        |dd AS (SELECT COUNT(*) AS n_steps,
        |    CAST(COALESCE(SUM(
        |      (CAST(1 AS DECIMAL(18,6)) - s) * (tn - t)), 0)
        |      AS DECIMAL(38,6)) AS dropped
        |  FROM seg)
        |SELECT CAST(604800000000 AS BIGINT) AS tau, n_steps,
        |  CAST((CAST(604800000000 AS DECIMAL(38,6)) - dropped)
        |    * 1000000 AS BIGINT) AS rmst_micros,
        |  ROUND(CAST(CAST(604800000000 AS DECIMAL(38,6)) - dropped
        |      AS DOUBLE) / CAST(604800000000 AS DOUBLE), 6)
        |    AS rmst_frac
        |FROM dd""".stripMargin,

    // the capstone replayed stage by stage: the w6 grid + ASOF LOCF,
    // two j10 staleness-bounded ASOF channel joins, the w7 rolling
    // numerics (decimal sum, one rounded double division), the
    // encounter label agg, and the t_hash_split portable-hash split
    "clif_blocked_dataset" -> blockedDatasetReplay,

    // the incrementally-maintained grid must equal the one-shot
    // batch build on the union of all arrival waves — the SAME
    // replay string bound to both keys, so they can never drift
    "clif_blocked_incremental" -> blockedDatasetReplay,

    // the hourly-SOFA capstone replayed: the w6 grid, THREE j10
    // staleness-bounded ASOF organ channels, the exact reference GCS
    // case_when over the micro-exact analog (3 + micros mod 13 — the
    // DECIMAL(18,6)·10⁶ grid is engine-portable; the mod is written
    // sign-safe as ((x % 13) + 13) % 13 so it matches Spark's pmod
    // for ANY sign, not just the non-negative corpus), the declared
    // resp/renal bands with an explicit IS NULL arm (stale organ →
    // NULL, never 0), and the present-organs composite
    "clif_sofa_hourly" ->
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
        |    MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b),
        |c1 AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1),
        |c2 AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view') WHERE rn = 1),
        |c3 AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |v1 AS (
        |  SELECT g.user_id, g.grid_ts,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(g.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS neuro_vital
        |  FROM grid g ASOF LEFT JOIN c1 w
        |    ON g.user_id = w.user_id AND g.grid_ts >= w.ts),
        |v2 AS (
        |  SELECT v.user_id, v.grid_ts, v.neuro_vital,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS resp_vital
        |  FROM v1 v ASOF LEFT JOIN c2 w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |v3 AS (
        |  SELECT v.user_id, v.grid_ts, v.neuro_vital, v.resp_vital,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
        |      THEN NULL ELSE w.value END AS renal_lab
        |  FROM v2 v ASOF LEFT JOIN c3 w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |sc AS (
        |  SELECT user_id, grid_ts,
        |    CASE WHEN g < 6 THEN 4 WHEN g < 10 THEN 3
        |         WHEN g < 13 THEN 2 WHEN g < 15 THEN 1
        |         WHEN g = 15 THEN 0 END AS sofa_neuro,
        |    CASE WHEN resp_vital IS NULL THEN NULL
        |         WHEN resp_vital >= 400 THEN 4
        |         WHEN resp_vital >= 300 THEN 3
        |         WHEN resp_vital >= 200 THEN 2
        |         WHEN resp_vital >= 100 THEN 1 ELSE 0 END AS sofa_resp,
        |    CASE WHEN renal_lab IS NULL THEN NULL
        |         WHEN renal_lab >= 440 THEN 4
        |         WHEN renal_lab >= 350 THEN 3
        |         WHEN renal_lab >= 170 THEN 2
        |         WHEN renal_lab >= 110 THEN 1 ELSE 0 END AS sofa_renal
        |  FROM (
        |    SELECT user_id, grid_ts, resp_vital, renal_lab,
        |      3 + ((CAST(CAST(neuro_vital AS DECIMAL(18,6)) * 1000000
        |           AS BIGINT) % 13) + 13) % 13 AS g
        |    FROM v3)),
        |lab AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS label
        |  FROM events GROUP BY user_id)
        |SELECT sc.user_id, sc.grid_ts, sc.sofa_neuro, sc.sofa_resp,
        |  sc.sofa_renal,
        |  CAST(sc.sofa_neuro IS NOT NULL AS INTEGER) +
        |  CAST(sc.sofa_resp IS NOT NULL AS INTEGER) +
        |  CAST(sc.sofa_renal IS NOT NULL AS INTEGER) AS n_organs,
        |  CASE WHEN CAST(sc.sofa_neuro IS NOT NULL AS INTEGER) +
        |            CAST(sc.sofa_resp IS NOT NULL AS INTEGER) +
        |            CAST(sc.sofa_renal IS NOT NULL AS INTEGER) > 0
        |    THEN COALESCE(sc.sofa_neuro, 0) +
        |         COALESCE(sc.sofa_resp, 0) +
        |         COALESCE(sc.sofa_renal, 0) END AS sofa_total,
        |  lab.label,
        |  CASE WHEN ((((((sc.user_id % 2147483647) * 2654435761)
        |         % 2147483647) + 2147483647) % 2147483647) % 100 + 100)
        |         % 100 < 80 THEN 'train'
        |       WHEN ((((((sc.user_id % 2147483647) * 2654435761)
        |         % 2147483647) + 2147483647) % 2147483647) % 100 + 100)
        |         % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM sc JOIN lab USING (user_id)""".stripMargin,

    // the whole training loop replayed: the capstone grid + channel
    // CTEs, per-encounter micro-unit features, then THREE unrolled
    // gradient-ascent steps (sigma the only float, round-6; gradient
    // division by the sign-explicit half-away integer pattern; beta
    // updates exact integer adds) and the exact z>=0 sign-test
    // accuracies
    "clif_mortality_model" ->
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
        |    MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b),
        |vit AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1),
        |v AS (
        |  SELECT g.user_id, g.grid_ts,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(g.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS vital_value
        |  FROM grid g ASOF LEFT JOIN vit w
        |    ON g.user_id = w.user_id AND g.grid_ts >= w.ts),
        |lb AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |l AS (
        |  SELECT v.user_id, v.grid_ts, v.vital_value,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
        |      THEN NULL ELSE w.value END AS lab_value
        |  FROM v ASOF LEFT JOIN lb w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |lbl AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'error' AND value > 150
        |      THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |feats AS MATERIALIZED (
        |  SELECT f.user_id, lbl.y,
        |    CASE WHEN ((f.user_id % 2147483647) * 2654435761)
        |           % 2147483647 % 100 < 80 THEN 'train'
        |         WHEN ((f.user_id % 2147483647) * 2654435761)
        |           % 2147483647 % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(CAST(ROUND(AVG(CASE WHEN f.vital_value IS NOT NULL
        |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xv,
        |    CAST(CAST(ROUND(AVG(CASE WHEN f.lab_value IS NOT NULL
        |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xl,
        |    CAST(CAST(ROUND(CAST(COUNT(*) AS DOUBLE) /
        |        CAST(COUNT(*) + 24 AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xh
        |  FROM l f JOIN lbl USING (user_id)
        |  GROUP BY f.user_id, lbl.y),
        |train AS MATERIALIZED (
        |  SELECT * FROM feats WHERE split = 'train'),
        |g1 AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
        |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
        |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
        |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
        |  FROM (
        |    SELECT t.*, t.y * 1000000 -
        |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |        + EXP(-(CAST(0 AS DOUBLE) / 1000000000000.0))), 6)
        |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
        |    FROM train t) z),
        |b1 AS (
        |  SELECT n,
        |    CASE WHEN s0 >= 0
        |      THEN (2*CAST(s0 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bi,
        |    CASE WHEN s1 >= 0
        |      THEN (2*CAST(s1 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bv,
        |    CASE WHEN s2 >= 0
        |      THEN (2*CAST(s2 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bl,
        |    CASE WHEN s3 >= 0
        |      THEN (2*CAST(s3 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bh
        |  FROM g1),
        |g2 AS (
        |  SELECT b.n,
        |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
        |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
        |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
        |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
        |  FROM (
        |    SELECT t.y, t.xv, t.xl, t.xh, b.n, t.y * 1000000 -
        |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |        + EXP(-(CAST(b.bi*1000000 + b.bv*t.xv + b.bl*t.xl
        |          + b.bh*t.xh AS DOUBLE) / 1000000000000.0))), 6)
        |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
        |    FROM train t, b1 b) b
        |  GROUP BY b.n),
        |b2 AS (
        |  SELECT g.n,
        |    b.bi + CASE WHEN s0 >= 0
        |      THEN (2*CAST(s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bi,
        |    b.bv + CASE WHEN s1 >= 0
        |      THEN (2*CAST(s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bv,
        |    b.bl + CASE WHEN s2 >= 0
        |      THEN (2*CAST(s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bl,
        |    b.bh + CASE WHEN s3 >= 0
        |      THEN (2*CAST(s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bh
        |  FROM g2 g, b1 b),
        |g3 AS (
        |  SELECT b.n,
        |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
        |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
        |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
        |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
        |  FROM (
        |    SELECT t.y, t.xv, t.xl, t.xh, b.n, t.y * 1000000 -
        |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |        + EXP(-(CAST(b.bi*1000000 + b.bv*t.xv + b.bl*t.xl
        |          + b.bh*t.xh AS DOUBLE) / 1000000000000.0))), 6)
        |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
        |    FROM train t, b2 b) b
        |  GROUP BY b.n),
        |b3 AS (
        |  SELECT
        |    b.bi + CASE WHEN s0 >= 0
        |      THEN (2*CAST(s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bi,
        |    b.bv + CASE WHEN s1 >= 0
        |      THEN (2*CAST(s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bv,
        |    b.bl + CASE WHEN s2 >= 0
        |      THEN (2*CAST(s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bl,
        |    b.bh + CASE WHEN s3 >= 0
        |      THEN (2*CAST(s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bh
        |  FROM g3 g, b2 b),
        |ev AS (
        |  SELECT f.split,
        |    CASE WHEN (CASE WHEN b.bi*1000000 + b.bv*f.xv + b.bl*f.xl
        |        + b.bh*f.xh >= 0 THEN 1 ELSE 0 END) = f.y
        |      THEN 1 ELSE 0 END AS ok
        |  FROM feats f, b3 b)
        |SELECT
        |  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  CAST(b.bi AS BIGINT) AS b_intercept_micros,
        |  CAST(b.bv AS BIGINT) AS b_f_vital_micros,
        |  CAST(b.bl AS BIGINT) AS b_f_lab_micros,
        |  CAST(b.bh AS BIGINT) AS b_f_len_micros,
        |  ROUND(CAST(SUM(CASE WHEN split = 'train' AND ok = 1
        |      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |      AS DOUBLE), 6) AS train_acc,
        |  ROUND(CAST(SUM(CASE WHEN split = 'test' AND ok = 1
        |      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |      AS DOUBLE), 6) AS test_acc
        |FROM ev, b3 b
        |GROUP BY b.bi, b.bv, b.bl, b.bh""".stripMargin,

    // capstone part 3 replayed: the same grid/feature/3-round GD
    // walk to b3, then the risk-quartile readout — sigma per test
    // encounter (the one float, round-6), quartile boundaries via
    // quantile_cont (== Spark percentile exactly), exact count/sum
    // ratios rounded once
    "clif_model_calibration" ->
      """WITH e AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
        |    MAX(ts) AS t1
        |  FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
        |      AS grid_ts
        |  FROM b),
        |vit AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1),
        |v AS (
        |  SELECT g.user_id, g.grid_ts,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(g.grid_ts)) - floor(epoch(w.ts)) > 7200
        |      THEN NULL ELSE w.value END AS vital_value
        |  FROM grid g ASOF LEFT JOIN vit w
        |    ON g.user_id = w.user_id AND g.grid_ts >= w.ts),
        |lb AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |l AS (
        |  SELECT v.user_id, v.grid_ts, v.vital_value,
        |    CASE WHEN w.ts IS NULL OR
        |      floor(epoch(v.grid_ts)) - floor(epoch(w.ts)) > 86400
        |      THEN NULL ELSE w.value END AS lab_value
        |  FROM v ASOF LEFT JOIN lb w
        |    ON v.user_id = w.user_id AND v.grid_ts >= w.ts),
        |lbl AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'error' AND value > 150
        |      THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |feats AS MATERIALIZED (
        |  SELECT f.user_id, lbl.y,
        |    CASE WHEN ((f.user_id % 2147483647) * 2654435761)
        |           % 2147483647 % 100 < 80 THEN 'train'
        |         WHEN ((f.user_id % 2147483647) * 2654435761)
        |           % 2147483647 % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(CAST(ROUND(AVG(CASE WHEN f.vital_value IS NOT NULL
        |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xv,
        |    CAST(CAST(ROUND(AVG(CASE WHEN f.lab_value IS NOT NULL
        |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xl,
        |    CAST(CAST(ROUND(CAST(COUNT(*) AS DOUBLE) /
        |        CAST(COUNT(*) + 24 AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xh
        |  FROM l f JOIN lbl USING (user_id)
        |  GROUP BY f.user_id, lbl.y),
        |train AS MATERIALIZED (
        |  SELECT * FROM feats WHERE split = 'train'),
        |g1 AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
        |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
        |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
        |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
        |  FROM (
        |    SELECT t.*, t.y * 1000000 -
        |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |        + EXP(-(CAST(0 AS DOUBLE) / 1000000000000.0))), 6)
        |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
        |    FROM train t) z),
        |b1 AS (
        |  SELECT n,
        |    CASE WHEN s0 >= 0
        |      THEN (2*CAST(s0 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bi,
        |    CASE WHEN s1 >= 0
        |      THEN (2*CAST(s1 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bv,
        |    CASE WHEN s2 >= 0
        |      THEN (2*CAST(s2 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bl,
        |    CASE WHEN s3 >= 0
        |      THEN (2*CAST(s3 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(n AS HUGEINT)*1000000)
        |        // (2*CAST(n AS HUGEINT)*1000000)) END AS bh
        |  FROM g1),
        |g2 AS (
        |  SELECT b.n,
        |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
        |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
        |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
        |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
        |  FROM (
        |    SELECT t.y, t.xv, t.xl, t.xh, b.n, t.y * 1000000 -
        |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |        + EXP(-(CAST(b.bi*1000000 + b.bv*t.xv + b.bl*t.xl
        |          + b.bh*t.xh AS DOUBLE) / 1000000000000.0))), 6)
        |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
        |    FROM train t, b1 b) b
        |  GROUP BY b.n),
        |b2 AS (
        |  SELECT g.n,
        |    b.bi + CASE WHEN s0 >= 0
        |      THEN (2*CAST(s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bi,
        |    b.bv + CASE WHEN s1 >= 0
        |      THEN (2*CAST(s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bv,
        |    b.bl + CASE WHEN s2 >= 0
        |      THEN (2*CAST(s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bl,
        |    b.bh + CASE WHEN s3 >= 0
        |      THEN (2*CAST(s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bh
        |  FROM g2 g, b1 b),
        |g3 AS (
        |  SELECT b.n,
        |    SUM(CAST(1000000 AS DECIMAL(38,0)) * r) AS s0,
        |    SUM(CAST(xv AS DECIMAL(38,0)) * r) AS s1,
        |    SUM(CAST(xl AS DECIMAL(38,0)) * r) AS s2,
        |    SUM(CAST(xh AS DECIMAL(38,0)) * r) AS s3
        |  FROM (
        |    SELECT t.y, t.xv, t.xl, t.xh, b.n, t.y * 1000000 -
        |      CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |        + EXP(-(CAST(b.bi*1000000 + b.bv*t.xv + b.bl*t.xl
        |          + b.bh*t.xh AS DOUBLE) / 1000000000000.0))), 6)
        |        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS r
        |    FROM train t, b2 b) b
        |  GROUP BY b.n),
        |b3 AS (
        |  SELECT
        |    b.bi + CASE WHEN s0 >= 0
        |      THEN (2*CAST(s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s0 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bi,
        |    b.bv + CASE WHEN s1 >= 0
        |      THEN (2*CAST(s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s1 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bv,
        |    b.bl + CASE WHEN s2 >= 0
        |      THEN (2*CAST(s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s2 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bl,
        |    b.bh + CASE WHEN s3 >= 0
        |      THEN (2*CAST(s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)
        |      ELSE -((2*CAST(-s3 AS HUGEINT) + CAST(g.n AS HUGEINT)*1000000)
        |        // (2*CAST(g.n AS HUGEINT)*1000000)) END AS bh
        |  FROM g3 g, b2 b),
        |pm AS MATERIALIZED (
        |  SELECT f.y,
        |    CAST(CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |      + EXP(-(CAST(b.bi*1000000 + b.bv*f.xv + b.bl*f.xl
        |        + b.bh*f.xh AS DOUBLE) / 1000000000000.0))), 6)
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pmu
        |  FROM feats f, b3 b WHERE f.split = 'test'),
        |bounds AS (
        |  SELECT quantile_cont(pmu, 0.25) AS q1,
        |    quantile_cont(pmu, 0.5) AS q2,
        |    quantile_cont(pmu, 0.75) AS q3
        |  FROM pm)
        |SELECT CAST(CASE WHEN pmu <= q1 THEN 1
        |    WHEN pmu <= q2 THEN 2
        |    WHEN pmu <= q3 THEN 3 ELSE 4 END AS INT) AS risk_quartile,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(pmu) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(1000000 AS DOUBLE)), 6)
        |    AS mean_pred,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS observed_rate
        |FROM pm, bounds GROUP BY 1""".stripMargin,

    // the Aalen–Johansen recursion replayed: all-cause KM state S
    // and both CIF prefix sums carried through one RECURSIVE walk of
    // the rn-ordered curve, every product/increment on the 6-dp grid
    "w35_cum_incidence" ->
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS p_us,
        |    MIN(CASE WHEN event_type = 'error'
        |             THEN epoch_us(ts) END) AS e_us
        |  FROM events GROUP BY 1),
        |cns AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |subj AS (
        |  SELECT CASE
        |      WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us)
        |        THEN p_us - first_us
        |      WHEN e_us IS NOT NULL THEN e_us - first_us
        |      ELSE end_us - first_us END AS dur,
        |    CASE
        |      WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us)
        |        THEN 1
        |      WHEN e_us IS NOT NULL THEN 2
        |      ELSE 0 END AS cause
        |  FROM per, cns),
        |perT AS (
        |  SELECT dur AS t,
        |    COUNT(CASE WHEN cause = 1 THEN 1 END) AS d1,
        |    COUNT(CASE WHEN cause = 2 THEN 1 END) AS d2,
        |    COUNT(CASE WHEN cause <> 0 THEN 1 END) AS d,
        |    COUNT(*) AS m
        |  FROM subj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM subj),
        |st AS (
        |  SELECT t, d1, d2, d,
        |    COALESCE(SUM(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM perT),
        |e AS (
        |  SELECT t, (SELECT nn FROM n) - before AS n_risk, d1, d2, d,
        |    ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS factor,
        |    ROUND(CAST(d1 AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS h1,
        |    ROUND(CAST(d2 AS DOUBLE) /
        |          CAST((SELECT nn FROM n) - before AS DOUBLE), 6)
        |      AS h2,
        |    ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM st WHERE d > 0),
        |aj AS (
        |  SELECT t, n_risk, d1, d2, d, rn,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS s,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(h1 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS cif1,
        |    CAST(ROUND(CAST(1 AS DECIMAL(18,6)) *
        |               CAST(h2 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)) AS cif2
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.t, e.n_risk, e.d1, e.d2, e.d, e.rn,
        |    CAST(ROUND(aj.s * CAST(e.factor AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)),
        |    CAST(aj.cif1 +
        |         ROUND(aj.s * CAST(e.h1 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6)),
        |    CAST(aj.cif2 +
        |         ROUND(aj.s * CAST(e.h2 AS DECIMAL(18,6)), 6)
        |         AS DECIMAL(18,6))
        |  FROM e JOIN aj ON e.rn = aj.rn + 1)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  d1 AS n_events_cause, d AS n_events_all,
        |  CAST(cif1 AS DOUBLE) AS cif, 1 AS cause
        |FROM aj
        |UNION ALL
        |SELECT t, CAST(n_risk AS BIGINT), d2, d,
        |  CAST(cif2 AS DOUBLE), 2
        |FROM aj""".stripMargin,

    "w19_debounce" ->
      """SELECT event_id, user_id, event_type, ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL
        |   OR epoch_us(ts) - epoch_us(prev) >= 600000000""".stripMargin,

    // seed s_1 = max(0, 0 + v - 60); each step joins the previous —
    // pure decimal arithmetic, engine-free
    "w20_cusum" ->
      """WITH RECURSIVE v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,6)),
        |                  CAST(0 AS DECIMAL(18,6)) + v -
        |                  CAST(60.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      AS s
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.event_id, v.rn,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,6)),
        |                  e.s + v.v - CAST(60.0 AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6))
        |  FROM v JOIN e ON v.user_id = e.user_id AND v.rn = e.rn + 1)
        |SELECT user_id, event_id, CAST(s AS DOUBLE) AS cusum,
        |  s > CAST(300.0 AS DECIMAL(18,6)) AS alarm
        |FROM e""".stripMargin,

    // the chunked streaming replay must reproduce the batch decimal
    // recurrence exactly — same recursive CTE as w20_cusum
    "s_stream_cusum" ->
      """WITH RECURSIVE v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,6)),
        |                  CAST(0 AS DECIMAL(18,6)) + v -
        |                  CAST(60.0 AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      AS s
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.event_id, v.rn,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,6)),
        |                  e.s + v.v - CAST(60.0 AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6))
        |  FROM v JOIN e ON v.user_id = e.user_id AND v.rn = e.rn + 1)
        |SELECT user_id, event_id, CAST(s AS DOUBLE) AS cusum,
        |  s > CAST(300.0 AS DECIMAL(18,6)) AS alarm
        |FROM e""".stripMargin,

    // token bucket replayed: bucket starts FULL (first event admits,
    // cap-1 left); each step refills (Δt µs)·1e-10, capped at 2,
    // debits 1 when >= 1 — all exact decimal
    "w26_rate_limit" -> RateLimitOracle,

    // trailing-frame stats excluding the current row; clamped
    // variance, unrounded std inside z, rounded std in the output
    "w28_roll_zscore" -> ZscoreOracle,

    // the chunked streaming replay must reproduce the batch rolling
    // z-score exactly — same SQL as w28_roll_zscore
    "s_stream_zscore" -> ZscoreOracle,

    // sessionize CTE (the w4 oracle) + ordered string_agg per
    // session + path count
    "w29_top_paths" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR epoch(ts) - epoch(prev_ts) > 1800
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (SELECT event_id, user_id, ts, event_type,
        |          lag(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path
        |LIMIT 20""".stripMargin,

    // Spark weekday() is 0=Monday; isodow−1 matches
    "a27_seasonal" ->
      """SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hod, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Holt recurrence: l=α·x+(1−α)(l₀+b₀), b=β(l−l₀)+(1−β)b₀, init
    // (x₁, 0); the new level is computed in the subquery so the
    // trend step reuses it — every assignment rounded once to 6
    "w27_holt" -> HoltOracle,

    // w27's recursive replay with the hour-of-day offsets subtracted
    // first and re-attached at the end; same decimal chain
    "w30_holt_seasonal" ->
      """WITH RECURSIVE vh AS (
        |  SELECT user_id, event_id, EXTRACT(hour FROM ts) AS h,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |off AS (
        |  SELECT user_id, h,
        |    SUM(CAST(vd * 1000000 AS BIGINT)) AS sv6, COUNT(*) AS cv
        |  FROM vh GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, SUM(sv6) AS st6, SUM(cv) AS ct
        |  FROM off GROUP BY 1),
        |sx AS (
        |  SELECT user_id, h,
        |    CAST(ROUND(CAST(CASE WHEN n < 0
        |             THEN -((2 * (-n) + d) // (2 * d))
        |             ELSE (2 * n + d) // (2 * d) END AS DOUBLE)
        |           / 1000000.0, 6) AS DECIMAL(18,6)) AS s
        |  FROM (
        |    SELECT off.user_id, off.h,
        |      CAST(sv6 AS HUGEINT) * ct - CAST(tot.st6 AS HUGEINT) * cv
        |        AS n,
        |      CAST(cv AS HUGEINT) * ct AS d
        |    FROM off JOIN tot ON tot.user_id = off.user_id)),
        |v AS (
        |  SELECT vh.user_id, vh.event_id, vh.rn, sx.s,
        |    CAST(ROUND(CAST(vh.vd - sx.s AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS v
        |  FROM vh JOIN sx ON sx.user_id = vh.user_id AND sx.h = vh.h),
        |e AS (
        |  SELECT user_id, event_id, rn, s, v AS l,
        |    CAST(0 AS DECIMAL(18,6)) AS b
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT user_id, event_id, rn, s, nl,
        |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * (nl - pl)
        |             + CAST(0.7 AS DECIMAL(10,8)) * pb, 6)
        |         AS DECIMAL(18,6))
        |  FROM (
        |    SELECT v.user_id, v.event_id, v.rn, v.s, e.l AS pl,
        |      e.b AS pb,
        |      CAST(ROUND(CAST(0.5 AS DECIMAL(10,8)) * v.v
        |               + CAST(0.5 AS DECIMAL(10,8)) * (e.l + e.b), 6)
        |           AS DECIMAL(18,6)) AS nl
        |    FROM v JOIN e ON v.user_id = e.user_id
        |      AND v.rn = e.rn + 1))
        |SELECT user_id, event_id, CAST(l AS DOUBLE) AS level,
        |  CAST(b AS DOUBLE) AS trend, CAST(s AS DOUBLE) AS seasonal,
        |  ROUND(CAST(l + b AS DOUBLE) + CAST(s AS DOUBLE), 6) AS fitted
        |FROM e""".stripMargin,

    // the chunked streaming replay must reproduce the batch Holt
    // recurrence exactly — same recursive CTE as w27_holt
    "s_stream_holt" -> HoltOracle,

    // the chunked streaming replay must reproduce the batch token
    // bucket exactly — same recursive CTE as w26_rate_limit
    "s_stream_rate" -> RateLimitOracle,

    // both power-iteration rounds unrolled; every π·p product rounded
    // to 6, decimal-accumulated, each round's π re-cast to (18,6)
    "w25_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS dst
        |  FROM events),
        |tr AS (SELECT src, dst, COUNT(*) AS c FROM seq
        |       WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(c) AS n FROM tr GROUP BY 1),
        |p AS (
        |  SELECT tr.src, tr.dst,
        |    CAST(ROUND(CAST(tr.c AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS p
        |  FROM tr JOIN tot ON tot.src = tr.src),
        |states AS (SELECT DISTINCT src AS state FROM tr
        |           UNION SELECT DISTINCT dst FROM tr),
        |k AS (SELECT COUNT(*) AS k FROM states),
        |pi0 AS (
        |  SELECT state,
        |    CAST(ROUND(CAST(1 AS DOUBLE) / CAST(k AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS pi
        |  FROM states, k),
        |pi1 AS (
        |  SELECT p.dst AS state,
        |    CAST(SUM(CAST(ROUND(pi0.pi * p.p, 6) AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6)) AS pi
        |  FROM p JOIN pi0 ON p.src = pi0.state GROUP BY 1),
        |pi2 AS (
        |  SELECT p.dst AS state,
        |    CAST(SUM(CAST(ROUND(pi1.pi * p.p, 6) AS DECIMAL(18,6)))
        |         AS DECIMAL(18,6)) AS pi
        |  FROM p JOIN pi1 ON p.src = pi1.state GROUP BY 1)
        |SELECT state, CAST(pi AS DOUBLE) AS pi FROM pi2""".stripMargin,

    // mean = double division of the exact decimal sum; products
    // rounded to 6 and decimal-accumulated — order-free both engines
    "w24_acf" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id, v,
        |    CAST(ROUND(CAST(SUM(v) OVER (PARTITION BY user_id)
        |                    AS DOUBLE) /
        |               COUNT(*) OVER (PARTITION BY user_id), 6)
        |         AS DECIMAL(18,6)) AS mean
        |  FROM v),
        |d AS (SELECT user_id, ts, event_id, v - mean AS d FROM m),
        |l AS (
        |  SELECT user_id, d,
        |    lead(d, 1) OVER w AS d1,
        |    lead(d, 2) OVER w AS d2,
        |    lead(d, 3) OVER w AS d3
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id,
        |    SUM(CAST(ROUND(d * d, 6) AS DECIMAL(18,6))) AS den,
        |    SUM(CAST(ROUND(d * d1, 6) AS DECIMAL(18,6))) AS n1,
        |    CAST(COUNT(d1) AS BIGINT) AS c1,
        |    SUM(CAST(ROUND(d * d2, 6) AS DECIMAL(18,6))) AS n2,
        |    CAST(COUNT(d2) AS BIGINT) AS c2,
        |    SUM(CAST(ROUND(d * d3, 6) AS DECIMAL(18,6))) AS n3,
        |    CAST(COUNT(d3) AS BIGINT) AS c3
        |  FROM l GROUP BY 1)
        |SELECT user_id, 1 AS lag, c1 AS n_pairs,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE ROUND(CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |  END AS acf FROM g
        |UNION ALL
        |SELECT user_id, 2, c2,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE ROUND(CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |  END FROM g
        |UNION ALL
        |SELECT user_id, 3, c3,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE ROUND(CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |  END FROM g""".stripMargin,

    "w18_assoc_rules" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |supp AS (SELECT i, COUNT(*) AS s FROM it GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT b) AS nb FROM it),
        |p AS (
        |  SELECT a.i AS x, c.i AS y, COUNT(*) AS sxy
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |r AS (
        |  SELECT x AS ante, y AS cons, sxy FROM p
        |  UNION ALL
        |  SELECT y, x, sxy FROM p)
        |SELECT ante, cons, sxy AS supp_pair,
        |  ROUND(CAST(sxy AS DOUBLE) / CAST(sa.s AS DOUBLE), 6)
        |    AS confidence,
        |  ROUND(CAST(sxy AS DOUBLE) * CAST(nb AS DOUBLE) /
        |        (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)), 6) AS lift
        |FROM r
        |JOIN supp sa ON sa.i = r.ante
        |JOIN supp sc ON sc.i = r.cons, n""".stripMargin,

    // the chunked streaming replay must reproduce the batch decimal
    // recurrence exactly — same recursive CTE as w16_ewma
    "s_stream_ewma" ->
      """WITH RECURSIVE v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, rn, v AS s FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.event_id, v.rn,
        |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * v.v +
        |               CAST(0.7 AS DECIMAL(10,8)) * e.s, 6)
        |         AS DECIMAL(18,6))
        |  FROM v JOIN e ON v.user_id = e.user_id AND v.rn = e.rn + 1)
        |SELECT user_id, event_id, CAST(s AS DOUBLE) AS ewma
        |FROM e""".stripMargin,

    // the identical recurrence replayed sequentially: rn=1 seeds, each
    // next step joins the previous — EXACT decimal steps (one input
    // round on the double, then decimal state), engine-free
    "w16_ewma" ->
      """WITH RECURSIVE v AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, rn, v AS s FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.event_id, v.rn,
        |    CAST(ROUND(CAST(0.3 AS DECIMAL(10,8)) * v.v +
        |               CAST(0.7 AS DECIMAL(10,8)) * e.s, 6)
        |         AS DECIMAL(18,6))
        |  FROM v JOIN e ON v.user_id = e.user_id AND v.rn = e.rn + 1)
        |SELECT user_id, event_id, CAST(s AS DOUBLE) AS ewma
        |FROM e""".stripMargin,

    "s_stream_dedup" ->
      "SELECT event_id, user_id, event_type FROM events",

    // a full stream replay must reproduce the batch LSH+verify answer:
    // the brute-force exact-jaccard ground truth (same as t_minhash_lsh)
    "s_stream_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin,

    // the staged input holds every event once plus 200 beyond-horizon
    // re-arrivals (content-identical in these columns); stream tier +
    // batch keep-first must reduce it back to exactly the corpus
    "s_two_tier_dedup" ->
      "SELECT event_id, user_id, event_type FROM events",

    // gaps-and-islands on second-truncated event time; keep each
    // user's last session (the one the stream's final state holds)
    "s_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |d AS (
        |  SELECT user_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, sec,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |g AS (
        |  SELECT user_id, sid, MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        |    COUNT(*) AS n
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id,
        |  make_timestamp(start_sec * 1000000) AS session_start,
        |  make_timestamp(end_sec * 1000000) AS session_end,
        |  CAST(n AS INT) AS n_events
        |FROM g
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY sid DESC) = 1""".stripMargin,

    // ALL sessions (not just the last): the retained-events stream
    // must reproduce the complete batch gaps-and-islands answer even
    // though its input arrived out of event-time order
    "s_stream_sessionize_ooo" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |d AS (
        |  SELECT user_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, sec,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |g AS (
        |  SELECT user_id, sid, MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        |    COUNT(*) AS n
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id,
        |  make_timestamp(start_sec * 1000000) AS session_start,
        |  make_timestamp(end_sec * 1000000) AS session_end,
        |  CAST(n AS INT) AS n_events
        |FROM g""".stripMargin,

    "j_bucketed_3way" ->
      """WITH clicks AS (
        |  SELECT user_id, COUNT(*) AS n_click FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |views AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id)
        |SELECT e.user_id, COUNT(*) AS n_events,
        |  MAX(c.n_click) AS n_click, MAX(v.view_value) AS view_value
        |FROM events e
        |JOIN clicks c ON e.user_id = c.user_id
        |JOIN views v ON e.user_id = v.user_id
        |GROUP BY e.user_id""".stripMargin,

    "s1_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "s_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id AS user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,

    // batch LEFT JOIN ground truth: right-side conditions stay in ON,
    // the left-side type filter in WHERE (the outer-join discipline)
    "s_stream_join_outer" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id AS user_id
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click'""".stripMargin,

    // batch FULL JOIN ground truth: both type filters must move into
    // the join INPUTS (a WHERE on either side would drop that side's
    // unmatched null rows — the full-outer discipline)
    "s_stream_join_full" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  COALESCE(c.user_id, p.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,

    "s_stream_enrich" ->
      """SELECT n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN nation ON n_nationkey = user_id % 25
        |GROUP BY n_name""".stripMargin,

    "s2_jsonl_roundtrip" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    // the SCD2 state recomputed: carried rows (changed ones closed at
    // t1) + opened rows (changed replacements and brand-new keys)
    "s14_scd2" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |j AS (
        |  SELECT b.o_orderkey AS bk, u.o_orderkey AS uk,
        |    b.o_orderstatus AS bs, b.o_totalprice AS bp,
        |    u.o_orderstatus AS us, u.o_totalprice AS up
        |  FROM b FULL JOIN u ON b.o_orderkey = u.o_orderkey),
        |c AS (
        |  SELECT *,
        |    (bk IS NOT NULL AND uk IS NOT NULL AND
        |     (bs IS DISTINCT FROM us OR bp IS DISTINCT FROM up)) AS chg
        |  FROM j)
        |SELECT bk AS o_orderkey, bs AS o_orderstatus,
        |  bp AS o_totalprice,
        |  TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |  CASE WHEN chg THEN TIMESTAMP '2024-02-01 00:00:00' END
        |    AS valid_to,
        |  NOT chg AS is_current
        |FROM c WHERE bk IS NOT NULL
        |UNION ALL
        |SELECT uk, us, up, TIMESTAMP '2024-02-01 00:00:00', NULL, true
        |FROM c WHERE uk IS NOT NULL AND (bk IS NULL OR chg)""".stripMargin,

    // the identical diff replayed: IS DISTINCT FROM = Spark's <=>
    // negated; concat_ws skips NULL arms in both engines
    "s13_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7),
        |j AS (
        |  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |    v1.o_orderkey IS NOT NULL AS in1,
        |    v2.o_orderkey IS NOT NULL AS in2,
        |    v1.o_orderstatus AS old_o_orderstatus,
        |    v2.o_orderstatus AS new_o_orderstatus,
        |    v1.o_totalprice AS old_o_totalprice,
        |    v2.o_totalprice AS new_o_totalprice
        |  FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey),
        |c AS (
        |  SELECT *,
        |    CASE WHEN NOT in1 THEN 'added'
        |         WHEN NOT in2 THEN 'removed'
        |         WHEN old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
        |           OR old_o_totalprice IS DISTINCT FROM new_o_totalprice
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM j)
        |SELECT o_orderkey, change,
        |  CASE WHEN change = 'changed' THEN concat_ws(',',
        |    CASE WHEN old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
        |         THEN 'o_orderstatus' END,
        |    CASE WHEN old_o_totalprice IS DISTINCT FROM new_o_totalprice
        |         THEN 'o_totalprice' END)
        |  ELSE '' END AS changed_cols,
        |  old_o_orderstatus, new_o_orderstatus,
        |  old_o_totalprice, new_o_totalprice
        |FROM c WHERE change <> 'unchanged'""".stripMargin,

    "s12_xml_roundtrip" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "s3_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "s4_schema_evolution" ->
      """SELECT lang, COUNT(*) AS n,
        |  COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_evolved,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN length(text) END), 0) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    // corrupt lines parse to all-null fields + the raw line, so they
    // group under NULL lang; valid lines keep their lang
    "s5_jsonl_corrupt" ->
      """WITH j AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS corrupt
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
        |  CAST(COUNT(*) - SUM(corrupt) AS BIGINT) AS n_good
        |FROM j GROUP BY lang""".stripMargin,

    // every xlsx cell surfaces as a STRING (the reader's contract), so
    // the oracle groups and aggregates over stringified nation columns
    "s8_xlsx_scan" ->
      """SELECT CAST(n_regionkey AS VARCHAR) AS n_regionkey,
        |  COUNT(*) AS n,
        |  MAX(n_name) AS max_name,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation GROUP BY 1""".stripMargin,

    // Brute force over the SAME portable 31-bit polynomial shingle-hash
    // sets the index persists (hash recomputed via list_reduce, exactly
    // the t_simhash fold): the probe's output is the hashed-set jaccard,
    // so the oracle recomputes that quantity — the gate is exact.
    "t_lsh_index_probe" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |shg AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   FOR i IN range(1, greatest(len(tk)-2, 1)+1)]) AS sh
        |  FROM toks),
        |hs AS (
        |  SELECT doc_id, list_distinct(list_transform(sh, s ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647))) AS hs
        |  FROM shg),
        |pairs AS (
        |  SELECT o.doc_id AS new_id, e.doc_id AS indexed_id,
        |    ROUND(CAST(len(list_intersect(o.hs, e.hs)) AS DOUBLE)
        |      / (len(o.hs) + len(e.hs) - len(list_intersect(o.hs, e.hs))),
        |      6) AS jaccard
        |  FROM hs o JOIN hs e ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0)
        |SELECT new_id, indexed_id, jaccard
        |FROM pairs WHERE jaccard >= 0.5""".stripMargin,

    // The http:// scan must agree with the source table it staged.
    "s9_http_scan" ->
      """SELECT CAST(s_nationkey AS VARCHAR) AS s_nationkey,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY 1""".stripMargin,

    // bit-for-bit Morton interleave replay: same mask-and-shift
    // spreading on BIGINT, bit i of x at 2i, bit i of y at 2i+1
    "s10_zorder_key" ->
      """WITH e AS (
        |  SELECT event_id, user_id % 65536 AS x,
        |    CAST(floor(epoch(ts)) AS BIGINT) % 65536 AS y
        |  FROM events),
        |a AS (SELECT event_id, (x | (x << 8)) & 16711935 AS x1,
        |             (y | (y << 8)) & 16711935 AS y1 FROM e),
        |b AS (SELECT event_id, (x1 | (x1 << 4)) & 252645135 AS x2,
        |             (y1 | (y1 << 4)) & 252645135 AS y2 FROM a),
        |c AS (SELECT event_id, (x2 | (x2 << 2)) & 858993459 AS x3,
        |             (y2 | (y2 << 2)) & 858993459 AS y3 FROM b),
        |d AS (SELECT event_id, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |             (y3 | (y3 << 1)) & 1431655765 AS y4 FROM c)
        |SELECT event_id, x4 | (y4 << 1) AS zkey FROM d""".stripMargin,

    // Recomputes the streamed-upsert final table state: revised events
    // carry the batch-2 value, everything else the original.
    "s7_stream_upsert" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_id % 50 = 0 THEN value + 1000.0 ELSE value END
        |    AS value
        |FROM events""".stripMargin,

    // Recomputes the post-merge table state from the source: updates
    // replace same-key rows, inserts add new keys.
    "s6_merge_upsert" ->
      """WITH upd AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    'UPDATED:' || lang AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'xx', source, n_chars, 'INSERTED'
        |  FROM documents WHERE doc_id % 97 = 0)
        |SELECT doc_id, lang, source, n_chars, text FROM upd
        |UNION ALL
        |SELECT d.doc_id, d.lang, d.source, d.n_chars, d.text
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)""".stripMargin,

    // the MV's three incremental loads must land exactly on the
    // one-shot full aggregation
    "s11_incremental_agg" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
        |  event_type,
        |  COUNT(event_id) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin
  )

}
