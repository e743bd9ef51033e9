package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** [[WarcSource.withHttpMessage]] contract: chunked transfer
  * decoding (extensions, trailers, upper/lower hex, bare-LF ends),
  * gzip / zlib-deflate / raw-deflate content codings, their
  * composition (dechunk FIRST, then inflate), the quarantine
  * degradations (bad hex, truncated chunk, unknown coding, junk
  * gzip), the bomb cap, and the not-http passthrough. */
class WarcHttpSpec extends SparkSpec {

  private def gz(s: String): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(s.getBytes("UTF-8")); g.close()
    bo.toByteArray
  }

  private def zlib(s: String, raw: Boolean = false): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.util.zip.DeflaterOutputStream(bo, d)
    o.write(s.getBytes("UTF-8")); o.close()
    bo.toByteArray
  }

  /** Chunk `body` into `size`-byte chunks with an extension on the
    * first size line, an UPPERCASE hex size, and a trailer. */
  private def chunk(body: Array[Byte], size: Int): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    var i = 0
    var first = true
    while (i < body.length) {
      val n = math.min(size, body.length - i)
      val hex = if (first) n.toHexString + ";ext=1"
        else n.toHexString.toUpperCase(java.util.Locale.ROOT)
      bo.write(s"$hex\r\n".getBytes("UTF-8"))
      bo.write(body, i, n)
      bo.write("\r\n".getBytes("UTF-8"))
      i += n; first = false
    }
    bo.write("0\r\nX-Trailer: t\r\n\r\n".getBytes("UTF-8"))
    bo.toByteArray
  }

  private def msg(headers: Seq[String], body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\n${headers.map(_ + "\r\n").mkString}\r\n")
      .getBytes("UTF-8") ++ body

  private def decode(p: Array[Byte]): WarcSource.HttpDecoded =
    WarcSource.decodeHttp(p, maxBodyBytes = 1L << 20)

  private val Text =
    "The quick brown fox jumps over the lazy dog. " * 40

  test("identity body passes through; status/content-type parsed; " +
    "LF-only header end tolerated") {
    val d = decode(msg(Seq("Content-Type: text/html"),
      Text.getBytes("UTF-8")))
    assert(d.status == 200 && d.contentType == "text/html" &&
      d.error == null && new String(d.body, "UTF-8") == Text)
    val lf = ("HTTP/1.1 301 Moved\nLocation: /x\n\nbody here")
      .getBytes("UTF-8")
    val d2 = decode(lf)
    assert(d2.status == 301 &&
      new String(d2.body, "UTF-8") == "body here")
    // the redirect target surfaces AS SENT (a URI-reference — the
    // caller resolves it against the record's target URI)
    assert(d2.location == "/x")
    assert(decode(msg(Seq("Content-Type: text/html"),
      "x".getBytes("UTF-8"))).location == null)
  }

  test("chunked: extensions, trailers, upper/lowercase hex all " +
    "decode; size-171 chunks exercise hex letters") {
    val d = decode(msg(Seq("Transfer-Encoding: chunked"),
      chunk(Text.getBytes("UTF-8"), 171)))
    assert(d.error == null, s"${d.error}")
    assert(d.transferEncoding == "chunked")
    assert(new String(d.body, "UTF-8") == Text)
  }

  test("content codings: gzip, x-gzip, zlib-wrapped deflate AND raw " +
    "deflate all inflate; chunked+gzip composes (dechunk first)") {
    for (ce <- Seq("gzip", "x-gzip")) {
      val d = decode(msg(Seq(s"Content-Encoding: $ce"), gz(Text)))
      assert(d.error == null && new String(d.body, "UTF-8") == Text,
        s"$ce: error=${d.error}")
    }
    val dz = decode(msg(Seq("Content-Encoding: deflate"), zlib(Text)))
    assert(dz.error == null && new String(dz.body, "UTF-8") == Text,
      s"zlib: error=${dz.error}")
    val dr = decode(msg(Seq("Content-Encoding: deflate"),
      zlib(Text, raw = true)))
    assert(dr.error == null && new String(dr.body, "UTF-8") == Text,
      s"raw: error=${dr.error}")
    val both = decode(msg(
      Seq("Transfer-Encoding: chunked", "Content-Encoding: gzip"),
      chunk(gz(Text), 100)))
    assert(both.error == null &&
      new String(both.body, "UTF-8") == Text, s"both: error=${both.error}")
  }

  test("quarantine degradations: bad chunk hex and truncated chunks " +
    "keep the raw remainder + error; unknown coding keeps encoded " +
    "bytes + error; junk gzip reports, never throws") {
    val bad = decode(msg(Seq("Transfer-Encoding: chunked"),
      "zz\r\nnope".getBytes("UTF-8")))
    assert(bad.error != null && bad.error.contains("bad size"))
    assert(new String(bad.body, "UTF-8") == "zz\r\nnope")
    val trunc = decode(msg(Seq("Transfer-Encoding: chunked"),
      "ff\r\nonly a few bytes".getBytes("UTF-8")))
    assert(trunc.error != null && trunc.error.contains("truncated"))
    val unk = decode(msg(Seq("Content-Encoding: br"),
      Array[Byte](1, 2, 3)))
    assert(unk.error != null &&
      unk.error.contains("unsupported content-encoding"))
    assert(unk.body.toSeq == Seq[Byte](1, 2, 3))
    val junk = decode(msg(Seq("Content-Encoding: gzip"),
      "not gzip at all".getBytes("UTF-8")))
    assert(junk.error != null && junk.error.startsWith("gzip:"))
    assert(junk.body == null)
  }

  test("bomb cap: an inflated body past maxBodyBytes drops loudly " +
    "(null body + oversize error), not truncated silently") {
    val big = gz("A" * (2 << 20)) // 2 MiB inflated, tiny compressed
    val d = WarcSource.decodeHttp(
      msg(Seq("Content-Encoding: gzip"), big), maxBodyBytes = 1 << 20)
    assert(d.body == null && d.error != null &&
      d.error.startsWith("oversize"), s"${d.error}")
  }

  test("not-http payloads (WET conversion text) pass through with " +
    "the marker; null payload stays all-null") {
    val d = decode("plain extracted text, no HTTP head"
      .getBytes("UTF-8"))
    assert(d.status == null && d.error == "not-http" &&
      new String(d.body, "UTF-8").startsWith("plain"))
    val n = decode(null)
    assert(n.status == null && n.body == null && n.error == null)
  }

  test("withHttpMessage: one narrow mapPartitions appends the six " +
    "columns over a real scanned WARC (mixed codings per record)") {
    val recs = Seq(
      ("https://x/id", msg(Seq("Content-Type: text/html"),
        "<p>identity body.</p>".getBytes("UTF-8"))),
      ("https://x/gz", msg(Seq("Content-Type: text/html",
        "Content-Encoding: gzip"), gz("<p>gzip body.</p>"))),
      ("https://x/ch", msg(Seq("Transfer-Encoding: chunked"),
        chunk("<p>chunked body.</p>".getBytes("UTF-8"), 7))))
      .zipWithIndex.map { case ((uri, payload), i) =>
        WarcSource.record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:uuid:h-$i>",
          "WARC-Date" -> "2026-08-16T00:00:00Z",
          "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http; msgtype=response"),
          payload)
      }
    val dir = java.nio.file.Paths.get(tempDir("graft_http"))
    val p = dir.resolve("h.warc")
    java.nio.file.Files.write(p, WarcSource.writeWarc(recs))
    val df = WarcSource.withHttpMessage(
      WarcSource.readRecords(spark, p.toString))
    // narrow: no exchange between the scan and the decode
    assert(!df.queryExecution.executedPlan.toString
      .toLowerCase.contains("exchange"))
    val out = df.select(col("target_uri"), col("http_status"),
        col("http_error"),
        WarcSource.payloadText(col("http_body")).as("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getString(2), r.getString(3)))).toMap
    assert(out("https://x/id") == ((200, null, "<p>identity body.</p>")))
    assert(out("https://x/gz") == ((200, null, "<p>gzip body.</p>")))
    assert(out("https://x/ch") == ((200, null, "<p>chunked body.</p>")))
  }

  test("obs-fold (RFC 9112 §5.2): a header field folded across lines " +
    "unfolds to ONE space-joined value before matching — the coding " +
    "still decodes and the folded value survives intact") {
    // Content-Type folded mid-value; a folded Location; the fold
    // must NOT truncate the value or read as a malformed header line
    val d = decode(msg(Seq(
      "Content-Type: text/html;\r\n\tcharset=utf-8",
      "Location: /a/very/long\r\n   /target",
      "Content-Encoding: gzip"), gz("<p>folded ok.</p>")))
    assert(d.contentType == "text/html; charset=utf-8")
    assert(d.location == "/a/very/long /target")
    assert(d.error == null &&
      new String(d.body, "UTF-8") == "<p>folded ok.</p>")
    // a fold as the FIRST "header" joins the status line harmlessly
    val d2 = decode(("HTTP/1.1 200 OK\r\n continued\r\n" +
      "Content-Type: a/b\r\n\r\nx").getBytes("UTF-8"))
    assert(d2.status == 200 && d2.contentType == "a/b")
  }
}
