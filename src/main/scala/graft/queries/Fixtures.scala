package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staging and load helpers shared by more than one query family:
  * table loads, exact money sums, temp and checkpoint dirs removed at
  * JVM exit, and the per-JVM caches of staged crawl fixtures (WARC,
  * CDX) that the storage and text families both read. */
private[graft] object Fixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(GraftSession.tune(s), dir, name)

  /** [[t]] with the scale-adaptive scan fan-out
    * ([[Tables.fanOutScan]]): used by queries whose first stage does
    * CPU-heavy narrow work (shingling/minhash, exact-decimal moment
    * sums, per-vector arithmetic) that a single-row-group input would
    * otherwise pin to ONE task. No-op on inputs that already scan
    * wide (any production-scale table). */
  def tf(s: SparkSession, dir: String, name: String,
         key: String): DataFrame =
    Tables.loadFanned(GraftSession.tune(s), dir, name, key)

  /** Per-JVM cache of the staged WARC fixture file (s16/t_warc). */
  private val stagedWarc =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The WARC fixture's response-page template, split at its two
    * dynamic holes (doc id, doc text) so the Scala staging, the
    * t_html_extract variant-0 page, and the DuckDB oracles all render
    * the SAME bytes from one source of truth. No single quotes (SQL
    * literal safety); the style/script/comment content exercises the
    * swallow rules; the nav list and the short unpunctuated title
    * exercise the density filter; the punctuated tail survives it. */
  val WarcPage: (String, String, String) = (
    "<html><head><title>Doc ",
    "</title><style>body { margin: 0 }</style>" +
      "<script>var x = 1 < 2;</script></head><body>" +
      "<!-- chrome --><p>",
    "</p><ul><li>Home</li><li>About Us</li><li>Contact</li></ul>" +
      "<div>Short tail.</div></body></html>")

  private def warcPage(id: String, text: String): String =
    WarcPage._1 + id + WarcPage._2 + text + WarcPage._3

  /** [[warcPage]] as a DuckDB expression over id/text SQL exprs. */
  def warcPageSql(idExpr: String, textExpr: String): String =
    "'" + WarcPage._1 + "' || " + idExpr + " || '" + WarcPage._2 +
      "' || " + textExpr + " || '" + WarcPage._3 + "'"

  private val WarcHttpHead =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"

  /** [[WarcHttpHead]] as a DuckDB expression (chr-composed CRLFs). */
  val WarcHttpHeadSql =
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
  def warcFixture(s: SparkSession, dir: String): String =
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

  /** Per-JVM cache of the 3xx-redirect WARC fixture (t_redirects). */
  private val stagedWarcRedir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage the redirect fixture once per sf dir: one 3xx `response`
    * record per documents row with doc_id ≡ 4 (mod 5) — status and
    * `Location` SHAPE by variant r = (doc_id/5) % 4: 301 absolute,
    * 302 relative (`../…`), 307 root-relative, 308 protocol-relative
    * — the four URI-reference forms RFC 9110 allows in Location and
    * real servers all send. Bodies are the short notice pages real
    * 3xx responses carry. */
  def warcRedirFixture(s: SparkSession, dir: String): String =
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
  def warcHttpFixture(s: SparkSession, dir: String): String =
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
  def cdxFixture(s: SparkSession, dir: String): String =
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

  /** Temp dir REGISTERED FOR CLEANUP at JVM exit (round-3 ADVICE:
    * per-invocation checkpoint/staging dirs accumulated with no
    * cleanup across repeated bench/correctness runs in one JVM). */
  def tempDir(prefix: String): String =
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
  def ckptDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    cleanupAtExit(p)
  }

  /** Exact decimal accumulation -> one double cast (see [[Query]]). */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")
}
