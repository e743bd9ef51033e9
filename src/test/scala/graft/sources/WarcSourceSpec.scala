package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** [[WarcSource]] contract: record roundtrip (headers + payload),
  * WET conversion records through the same reader, the quarantine
  * rows (truncation, bad Content-Length, junk-resync), the oversize
  * payload cap, gzip by magic, and the HTTP body split. */
class WarcSourceSpec extends SparkSpec {

  private def http(body: String): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
      .getBytes("UTF-8")

  private def rec(i: Int, typ: String, uri: String,
                  payload: Array[Byte]): Array[Byte] =
    WarcSource.record(Seq(
      "WARC-Type" -> typ,
      "WARC-Record-ID" -> s"<urn:uuid:rec-$i>",
      "WARC-Date" -> "2026-08-16T00:00:00Z",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> (if (typ == "conversion") "text/plain"
                         else "application/http; msgtype=response")),
      payload)

  private def stage(name: String, bytes: Array[Byte]): String = {
    val dir = java.nio.file.Paths.get(tempDir("graft_warc"))
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  test("roundtrip: response + conversion records come back with " +
    "headers, payloads and file-ordinal rec_index intact") {
    val bytes = WarcSource.writeWarc(Seq(
      rec(0, "warcinfo", "none", "software: graft-spec".getBytes("UTF-8")),
      rec(1, "response", "https://a.example.com/x",
        http("<html><body><p>hello world</p></body></html>")),
      rec(2, "conversion", "https://a.example.com/x",
        "hello world".getBytes("UTF-8"))))
    val out = WarcSource.readRecords(spark, stage("a.warc", bytes))
      .orderBy("rec_index").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[String]("warc_type")).toSeq ==
      Seq("warcinfo", "response", "conversion"))
    assert(out.forall(!_.getAs[Boolean]("malformed")))
    assert(out(1).getAs[String]("target_uri") ==
      "https://a.example.com/x")
    assert(out(1).getAs[String]("record_id") == "<urn:uuid:rec-1>")
    assert(out(1).getAs[String]("warc_date") ==
      "2026-08-16T00:00:00Z")
    val body = new String(out(2).getAs[Array[Byte]]("payload"), "UTF-8")
    assert(body == "hello world")
    assert(out(2).getAs[Long]("content_length") == 11L)
  }

  test("httpBody splits status line + headers off a response " +
    "payload; payloadText decodes") {
    val bytes = WarcSource.writeWarc(Seq(
      rec(0, "response", "https://x/", http("<p>B1</p>\r\nB2"))))
    val out = WarcSource.readRecords(spark, stage("b.warc", bytes))
      .select(WarcSource.httpBody(
        WarcSource.payloadText(col("payload"))).as("body"))
      .collect().head.getString(0)
    assert(out == "<p>B1</p>\r\nB2")
  }

  test("truncated final record quarantines (malformed=true, headers " +
    "kept) without killing the scan; earlier records unaffected") {
    val good = rec(0, "conversion", "https://x/1",
      "payload one".getBytes("UTF-8"))
    val bad = rec(1, "conversion", "https://x/2",
      "payload two full".getBytes("UTF-8"))
      .dropRight(12) // cut inside the payload
    val out = WarcSource.readRecords(spark,
        stage("c.warc", WarcSource.writeWarc(Seq(good, bad))))
      .orderBy("rec_index").collect()
    assert(out.length == 2)
    assert(!out(0).getAs[Boolean]("malformed"))
    assert(out(1).getAs[Boolean]("malformed"))
    assert(out(1).getAs[String]("target_uri") == "https://x/2")
    assert(out(1).getAs[String]("error").contains("truncated"))
    assert(out(1).getAs[Array[Byte]]("payload") == null)
  }

  test("junk between records resyncs to the next magic and is " +
    "recorded on the recovered row; bad Content-Length quarantines") {
    val r0 = rec(0, "conversion", "https://x/1", "one".getBytes("UTF-8"))
    val junk = "complete garbage, no warc magic\r\nmore junk\r\n"
      .getBytes("UTF-8")
    val r1 = rec(1, "conversion", "https://x/2", "two".getBytes("UTF-8"))
    val noCl = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://x/3\r\nContent-Length: NaN\r\n\r\n")
      .getBytes("UTF-8")
    val out = WarcSource.readRecords(spark, stage("d.warc",
        WarcSource.writeWarc(Seq(r0, junk, r1, noCl))))
      .orderBy("rec_index").collect()
    assert(out.length == 3)
    assert(!out(0).getAs[Boolean]("malformed") &&
      out(0).getAs[String]("error") == null)
    assert(!out(1).getAs[Boolean]("malformed"))
    assert(out(1).getAs[String]("error").startsWith("resync"))
    assert(new String(out(1).getAs[Array[Byte]]("payload"),
      "UTF-8") == "two")
    assert(out(2).getAs[Boolean]("malformed"))
    assert(out(2).getAs[String]("error").contains("Content-Length"))
  }

  test("resync through a newline-free binary run stays line-capped " +
    "(r19 ADVICE: an understated Content-Length lands the parser " +
    "inside payload junk; readLine must not buffer it all)") {
    // record DECLARES 5 payload bytes but carries ~300 KiB of
    // newline-free binary junk — the parser reads 5, then resyncs
    // through the remaining junk one capped line at a time
    val junkBody = Array.fill[Byte](300 * 1024)('J'.toByte)
    val lying = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://x/liar\r\nContent-Type: text/plain\r\n" +
      "Content-Length: 5\r\n\r\n").getBytes("UTF-8") ++
      junkBody ++ "\r\n\r\n".getBytes("UTF-8")
    val after = rec(1, "conversion", "https://x/after",
      "fine".getBytes("UTF-8"))
    val out = WarcSource.readRecords(spark, stage("cap.warc",
        lying ++ after)).orderBy("rec_index").collect()
    assert(out.length == 2)
    // the lying record yields its declared 5 bytes
    assert(new String(out(0).getAs[Array[Byte]]("payload"),
      "UTF-8") == "JJJJJ")
    // the next record is recovered, tagged with the resync
    assert(out(1).getAs[String]("error").startsWith("resync"))
    assert(new String(out(1).getAs[Array[Byte]]("payload"),
      "UTF-8") == "fine")
  }

  test("oversize payload keeps headers, drops bytes, and says so " +
    "loudly (observable cap, not an error); the stream stays in sync " +
    "for the next record") {
    val big = rec(0, "response", "https://x/big",
      http("B" * 4096))
    val after = rec(1, "conversion", "https://x/after",
      "small".getBytes("UTF-8"))
    val out = WarcSource.readRecords(spark,
        stage("e.warc", WarcSource.writeWarc(Seq(big, after))),
        maxPayloadBytes = 1024)
      .orderBy("rec_index").collect()
    assert(out.length == 2)
    assert(!out(0).getAs[Boolean]("malformed"))
    assert(out(0).getAs[String]("error").startsWith("oversize"))
    assert(out(0).getAs[Array[Byte]]("payload") == null)
    assert(out(0).getAs[Long]("content_length") > 1024)
    assert(new String(out(1).getAs[Array[Byte]]("payload"),
      "UTF-8") == "small")
  }

  test("charset-aware decode: a declared ISO-8859-1 payload decodes " +
    "its high bytes; cp1252 takes the latin-1 approximation; absent " +
    "charset falls back to UTF-8") {
    val latin1 = "café résumé".getBytes("ISO-8859-1")
    val utf8 = "café".getBytes("UTF-8")
    val bytes = WarcSource.writeWarc(Seq(
      WarcSource.record(Seq("WARC-Type" -> "conversion",
        "WARC-Target-URI" -> "https://x/1",
        "Content-Type" -> "text/plain; charset=ISO-8859-1"), latin1),
      WarcSource.record(Seq("WARC-Type" -> "conversion",
        "WARC-Target-URI" -> "https://x/2",
        "Content-Type" -> "text/plain; charset=windows-1252"), latin1),
      WarcSource.record(Seq("WARC-Type" -> "conversion",
        "WARC-Target-URI" -> "https://x/3",
        "Content-Type" -> "text/plain"), utf8)))
    val out = WarcSource.readRecords(spark, stage("h.warc", bytes))
      .select(col("rec_index"),
        WarcSource.charsetOf(col("content_type")).as("cs"),
        WarcSource.payloadTextCs(col("payload"), col("content_type"))
          .as("txt"))
      .orderBy("rec_index").collect()
    assert(out(0).getAs[String]("cs") == "iso-8859-1" &&
      out(0).getAs[String]("txt") == "café résumé")
    assert(out(1).getAs[String]("cs") == "windows-1252" &&
      out(1).getAs[String]("txt") == "café résumé")
    assert(out(2).getAs[String]("cs") == null &&
      out(2).getAs[String]("txt") == "café")
  }

  test("CJK charset decode (r19 verdict #5): declared Shift_JIS / " +
    "windows-31j (+cp932, exact MS932) / EUC-KR / GBK (+gb2312) / " +
    "Big5 payloads round-trip through payloadTextCs; malformed " +
    "bytes become U+FFFD, never a throw") {
    val samples = Seq(
      ("shift_jis", "Shift_JIS", "日本語のテキスト 123"),
      ("windows-31j", "windows-31j", "日本語①テキスト 123"),
      ("cp932", "windows-31j", "会社㈱ 123"),
      ("euc-kr", "EUC-KR", "한국어 텍스트 123"),
      ("gbk", "GBK", "中文文本 123"),
      ("gb2312", "GBK", "中文文本 123"),
      ("big5", "Big5", "中文測試 123"),
      ("utf-8", "UTF-8", "Ünïcode ✓ 123"))
    // staging guard: every sample must ENCODE losslessly in its
    // charset or the test would assert garbage against garbage
    samples.foreach { case (_, cs, s) =>
      assert(new String(s.getBytes(cs), cs) == s, s"$cs fixture")
    }
    // ① (U+2460) and ㈱ (U+3231) are MS932 vendor codepoints plain
    // Shift_JIS cannot represent — the windows-31j branch is
    // load-bearing, not an alias of the shift_jis one
    Seq("①", "㈱").foreach { c =>
      assert(new String(c.getBytes("Shift_JIS"), "Shift_JIS") != c)
    }
    val recs = samples.zipWithIndex.map { case ((decl, cs, s), i) =>
      WarcSource.record(Seq(
        "WARC-Type" -> "conversion",
        "WARC-Record-ID" -> s"<urn:uuid:cjk-$i>",
        "WARC-Date" -> "2026-08-16T00:00:00Z",
        "WARC-Target-URI" -> s"https://x/$decl",
        "Content-Type" -> s"text/plain; charset=$decl"),
        s.getBytes(cs))
    }
    val out = WarcSource.readRecords(spark,
        stage("cjk.warc", WarcSource.writeWarc(recs)))
      .select(col("target_uri"),
        WarcSource.payloadTextCs(col("payload"), col("content_type"))
          .as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    samples.foreach { case (decl, _, s) =>
      assert(out(s"https://x/$decl") == s, decl)
    }
    // malformed: Big5 lead byte with no trail → U+FFFD replacement
    import spark.implicits._
    val bad = Seq(Tuple2(Array[Byte](65, -92), "text/html; charset=big5"))
      .toDF("p", "ct")
      .select(WarcSource.payloadTextCs(col("p"), col("ct")))
      .collect().head.getString(0)
    assert(bad.startsWith("A") && bad.contains("�"))
  }

  test("revisit linkage headers surface as columns: payload_digest " +
    "and refers_to_uri on records that declare them, null " +
    "otherwise — the ISO 28500 archive-dedup join key") {
    val rv = WarcSource.record(Seq(
      "WARC-Type" -> "revisit",
      "WARC-Record-ID" -> "<urn:uuid:rv-0>",
      "WARC-Date" -> "2026-08-16T00:00:00Z",
      "WARC-Target-URI" -> "https://mirror/x",
      "WARC-Payload-Digest" -> "sha1:ABC",
      "WARC-Refers-To-Target-URI" -> "https://origin/x",
      "Content-Type" -> "application/http; msgtype=response"),
      "HTTP/1.1 200 OK\r\n\r\n".getBytes("UTF-8"))
    val plain = rec(1, "conversion", "https://origin/x",
      "text".getBytes("UTF-8"))
    val out = WarcSource.readRecords(spark,
        stage("rv.warc", WarcSource.writeWarc(Seq(rv, plain))))
      .orderBy("rec_index").collect()
    assert(out(0).getAs[String]("payload_digest") == "sha1:ABC" &&
      out(0).getAs[String]("refers_to_uri") == "https://origin/x")
    assert(out(1).getAs[String]("payload_digest") == null &&
      out(1).getAs[String]("refers_to_uri") == null)
  }

  test("a .warc.gz (whole-file gzip; JDK inflater also consumes " +
    "per-record concatenated members) parses identically") {
    val plain = WarcSource.writeWarc(Seq(
      rec(0, "conversion", "https://x/1", "gz one".getBytes("UTF-8")),
      rec(1, "conversion", "https://x/2", "gz two".getBytes("UTF-8"))))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain); gz.close()
    val out = WarcSource.readRecords(spark,
        stage("f.warc.gz", bos.toByteArray))
      .orderBy("rec_index").collect()
    assert(out.length == 2)
    assert(out.forall(!_.getAs[Boolean]("malformed")))
    assert(new String(out(1).getAs[Array[Byte]]("payload"),
      "UTF-8") == "gz two")
  }

  test("writeWet roundtrip: a (uri, text) frame written as WET " +
    "conversion records reads back exactly — plain and gzip, one " +
    "file per non-empty partition") {
    import spark.implicits._
    val rows = (1L to 40L).map(i =>
      (s"https://x/$i", s"text body $i with é"))
    val df = rows.toDF("uri", "txt").repartition(4)
    for (gz <- Seq(false, true)) {
      val dir = tempDir("graft_wet")
      WarcSource.writeWet(df, "uri", "txt", dir,
        warcDate = "2026-08-16T00:00:00Z", gzip = gz)
      val back = WarcSource.readRecords(spark, dir + "/*")
        .select(col("target_uri"),
          WarcSource.payloadText(col("payload")).as("txt"),
          col("warc_type"), col("malformed"))
        .collect()
      assert(back.length == 40)
      assert(back.forall(r => r.getAs[String]("warc_type") ==
        "conversion" && !r.getAs[Boolean]("malformed")))
      assert(back.map(r => r.getString(0) -> r.getString(1)).toSet ==
        rows.toSet)
    }
  }

  test("per-record gzip members (the Common Crawl layout) parse " +
    "through the same multi-member inflater path") {
    def gzOne(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b); gz.close(); bos.toByteArray
    }
    val bytes =
      gzOne(rec(0, "conversion", "https://x/1", "m one".getBytes("UTF-8"))) ++
      gzOne(rec(1, "conversion", "https://x/2", "m two".getBytes("UTF-8")))
    val out = WarcSource.readRecords(spark, stage("g.warc.gz", bytes))
      .orderBy("rec_index").collect()
    assert(out.length == 2)
    assert(new String(out(0).getAs[Array[Byte]]("payload"),
      "UTF-8") == "m one")
    assert(new String(out(1).getAs[Array[Byte]]("payload"),
      "UTF-8") == "m two")
  }
}
