package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** [[CdxSource]] + [[graft.text.UrlOps.surtKey]] contract: the SURT
  * canonicalization cases, the CDXJ line scan (typed columns, junk
  * quarantine), and the pointed record fetch (member-gzip inflate,
  * same-file handle reuse, byte-offset rec_index, stale-pointer
  * quarantine, shuffle-free plan). */
class CdxSpec extends SparkSpec {

  test("surtKey: lowercase, scheme/userinfo/fragment/default-port/" +
    "www dropped, host reversed with commas, non-default port kept, " +
    "empty path becomes /") {
    import spark.implicits._
    import graft.text.UrlOps
    val cases = Seq(
      "https://WWW.Example.COM/Path/To?q=1&B=2" ->
        "com,example)/path/to?q=1&b=2",
      "http://example.com:80/a" -> "com,example)/a",
      "https://example.com:443" -> "com,example)/",
      "https://example.com:8080/x" -> "com,example:8080)/x",
      "https://user:pw@a.b.example.co.uk/deep" ->
        "uk,co,example,b,a)/deep",
      "https://example.com/p#frag" -> "com,example)/p",
      "https://example.com/p?" -> "com,example)/p",
      "https://example.com?q=1" -> "com,example)/?q=1",
      "https://www.example.com" -> "com,example)/")
    val out = cases.map(_._1).toDF("url")
      .select(UrlOps.surtKey(col("url"))).as[String].collect()
    cases.map(_._2).zip(out).foreach { case (want, got) =>
      assert(got == want, s"want $want got $got")
    }
  }

  private def stageLines(name: String, lines: Seq[String]): String = {
    val dir = java.nio.file.Paths.get(tempDir("graft_cdx"))
    val p = dir.resolve(name)
    java.nio.file.Files.write(p,
      lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("readCdxj: typed columns off the three-field CDXJ line; a " +
    "junk line and a bad-timestamp line quarantine as malformed " +
    "with the raw line kept, never dropped or thrown") {
    val good = """com,example)/a 20260101000000 {"url": """ +
      """"https://example.com/a", "mime": "text/html", "status": """ +
      """"200", "digest": "sha1:X", "length": "123", "offset": """ +
      """"456", "filename": "shard-00.warc.gz"}"""
    val rows = CdxSource.readCdxj(spark, stageLines("i.cdxj", Seq(
        good,
        "this is not a cdx line",
        """com,example)/b NOTATIMESTAMP {"url": "https://example.com/b"}""")))
      .collect().map(r => r.getAs[Boolean]("malformed") -> r)
    assert(rows.length == 3 && rows.count(_._1) == 2)
    val ok = rows.find(!_._1).get._2
    assert(ok.getAs[String]("surt_key") == "com,example)/a" &&
      ok.getAs[String]("fetch_ts") == "20260101000000" &&
      ok.getAs[String]("url") == "https://example.com/a" &&
      ok.getAs[String]("mime") == "text/html" &&
      ok.getAs[Int]("status") == 200 &&
      ok.getAs[Long]("warc_length") == 123L &&
      ok.getAs[Long]("warc_offset") == 456L &&
      ok.getAs[String]("warc_file") == "shard-00.warc.gz")
    // the quarantined lines keep their raw text in url
    assert(rows.filter(_._1).map(_._2.getAs[String]("url")).toSet ==
      Set("this is not a cdx line",
        """com,example)/b NOTATIMESTAMP {"url": "https://example.com/b"}"""))
  }

  /** Gzip one record as its own member (the Common Crawl layout). */
  private def gzOne(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close(); bos.toByteArray
  }

  private def rec(i: Int, uri: String, text: String): Array[Byte] =
    WarcSource.record(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Record-ID" -> s"<urn:uuid:cdx-$i>",
      "WARC-Date" -> "2026-08-16T00:00:00Z",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "text/plain"),
      text.getBytes("UTF-8"))

  test("readRecordsAt: pointed fetch inflates each member, reuses " +
    "the file handle across same-file pointers, carries the byte " +
    "offset as rec_index, quarantines a stale pointer, and adds NO " +
    "exchange") {
    import spark.implicits._
    val members = Seq(
      gzOne(rec(0, "https://x/0", "zero")),
      gzOne(rec(1, "https://x/1", "one")),
      gzOne(rec(2, "https://x/2", "two")))
    val offsets = members.scanLeft(0L)(_ + _.length).init
    val dir = java.nio.file.Paths.get(tempDir("graft_cdxf"))
    val p = dir.resolve("s.warc.gz")
    java.nio.file.Files.write(p, members.flatten.toArray)
    // fetch records 0 and 2 only (skip 1 — that is the point),
    // plus a STALE pointer into the middle of member 1's bytes
    val pointers = Seq(
      (p.toString, offsets(0), members(0).length.toLong),
      (p.toString, offsets(2), members(2).length.toLong),
      (p.toString, offsets(1) + 3, 10L))
      .toDF("warc_file", "warc_offset", "warc_length")
    val df = CdxSource.readRecordsAt(spark, pointers)
    assert(!df.queryExecution.executedPlan.toString
      .toLowerCase.contains("exchange"))
    val out = df.collect()
    val good = out.filter(!_.getAs[Boolean]("malformed"))
      .map(r => r.getAs[String]("target_uri") ->
        ((r.getAs[Long]("rec_index"),
          new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))).toMap
    assert(good == Map(
      "https://x/0" -> ((offsets(0), "zero")),
      "https://x/2" -> ((offsets(2), "two"))))
    // the stale pointer yields quarantine rows, not a failed job
    assert(out.exists(_.getAs[Boolean]("malformed")))
  }

  test("readRecordsAt: a pointed length past the payload cap (or " +
    "negative) quarantines BEFORE allocating — a drifted index " +
    "cannot OOM the task") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(tempDir("graft_cdxb"))
    val p = dir.resolve("b.warc.gz")
    java.nio.file.Files.write(p, gzOne(rec(0, "https://x/0", "ok")))
    val out = CdxSource.readRecordsAt(spark,
        Seq((p.toString, 0L, 1L << 40), (p.toString, 0L, -5L))
          .toDF("warc_file", "warc_offset", "warc_length"))
      .collect()
    assert(out.length == 2 &&
      out.forall(_.getAs[Boolean]("malformed")) &&
      out.forall(_.getAs[String]("error").startsWith("stale pointer")))
  }
}
