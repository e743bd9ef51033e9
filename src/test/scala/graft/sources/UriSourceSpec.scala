package graft.sources

import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** URI-scheme reader smoke: `file://` proves the scheme-dispatch path the
  * object-store schemes (s3a://, gs://) share — same reader, connector
  * jar + credentials are deployment concerns. */
class UriSourceSpec extends SparkSpec {

  test("explicit file:// URI parquet read with schema (no inference scan)") {
    val df = UriSource.read(spark,
      "file:///root/testdata/sf0.001/region.parquet")
    assert(df.count() == 5)
    val schema = df.schema
    val again = UriSource.read(spark,
      "file:///root/testdata/sf0.001/region.parquet",
      schema = Some(schema))
    assert(again.count() == 5 && again.schema == schema)
  }

  test("delimited flavor matches ClifEtl read defaults over a URI") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_uri"))
    val f = tmp.resolve("x.txt")
    java.nio.file.Files.writeString(f, "a|b\n1|one\n2|two")
    val df = UriSource.delimited(spark, "file://" + f.toString)
    assert(df.count() == 2 && df.columns.toSeq == Seq("a", "b"))
  }

  // ---- http(s):// — the genuinely REMOTE scheme this sandbox can
  // execute: bytes stream over a socket with HEAD/Range semantics, the
  // same status+ranged-GET pattern the object-store connectors use ----

  /** [[HttpStaticServer]] with scoped lifecycle: loopback, no egress;
    * HEAD/Range semantics; request log passed through for assertions. */
  private def withHttpServer[T](path: String, body: Array[Byte])(
      f: (String, java.util.List[(String, String)]) => T): T = {
    val h = HttpStaticServer.serve(path, body)
    try f(h.uri, h.log) finally h.stop()
  }

  test("http:// delimited read through HttpFs: HEAD sizes the object, " +
    "GET streams it — UriSource entry point, zero local staging") {
    HttpFs.install(spark)
    val body = "a|b\n1|one\n2|two\n3|three".getBytes("UTF-8")
    withHttpServer("/extract.csv", body) { (uri, log) =>
      val df = UriSource.delimited(spark, uri)
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.collect().map(_.getString(1)).toSet ==
        Set("one", "two", "three"))
      val methods = log.toArray(Array.empty[(String, String)]).map(_._1)
      assert(methods.contains("HEAD") && methods.contains("GET"))
    }
  }

  test("http:// multi-split read: each split opens its own ranged GET " +
    "at its offset — the parallel object-store read pattern") {
    HttpFs.install(spark)
    // ~300 KB CSV so a 64 KB split size forces multiple partitions
    val sb = new StringBuilder("id|v\n")
    (1 to 20000).foreach(i => sb.append(i).append("|x").append(i).append("\n"))
    val body = sb.toString.getBytes("UTF-8")
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try withHttpServer("/big.csv", body) { (uri, log) =>
      val df = UriSource.delimited(spark, uri)
      assert(df.count() == 20000)
      val ranged = log.toArray(Array.empty[(String, String)])
        .filter { case (m, r) => m == "GET" && r != null && !r.contains("bytes=0-") }
      assert(ranged.nonEmpty, s"expected nonzero-offset ranged GETs, log=$log")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("http:// parquet read: footer-first access arrives as ranged " +
    "GETs at nonzero offsets (seek, not a byte-0 stream scan)") {
    HttpFs.install(spark)
    val body = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/region.parquet"))
    withHttpServer("/region.parquet", body) { (uri, log) =>
      val df = UriSource.read(spark, uri)
      assert(df.count() == 5)
      assert(df.columns.contains("r_name"))
      // parquet starts at the FOOTER: the reader must seek deep into
      // the object and the stream must turn that into a ranged GET —
      // a non-seekable stream would have to replay from byte 0
      val ranged = log.toArray(Array.empty[(String, String)])
        .filter { case (m, r) =>
          m == "GET" && r != null && r.matches("bytes=[1-9]\\d*-\\d*") }
      assert(ranged.nonEmpty, s"expected nonzero-offset range GETs, log=$log")
    }
  }

  test("HttpStaticServer: suffix ranges honored, malformed Range falls " +
    "back to 200 (no dropped connection)") {
    val body = (0 until 100).map(i => ('a' + i % 26).toChar).mkString
      .getBytes("UTF-8")
    withHttpServer("/o.bin", body) { (uri, _) =>
      val u = java.net.URI.create(uri).toURL
      def get(range: Option[String]): (Int, Array[Byte]) = {
        val c = u.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        range.foreach(c.setRequestProperty("Range", _))
        val code = c.getResponseCode
        val out = c.getInputStream.readAllBytes()
        c.disconnect()
        (code, out)
      }
      // suffix range: last 10 bytes (parquet footer readers issue these)
      val (c1, b1) = get(Some("bytes=-10"))
      assert(c1 == 206 && java.util.Arrays.equals(
        b1, java.util.Arrays.copyOfRange(body, 90, 100)))
      // over-long suffix clamps to the whole object
      val (c2, b2) = get(Some("bytes=-500"))
      assert(c2 == 206 && java.util.Arrays.equals(b2, body))
      // malformed Range: full 200, not an NPE'd connection
      val (c3, b3) = get(Some("bytes=oops"))
      assert(c3 == 200 && java.util.Arrays.equals(b3, body))
    }
  }

  // ---- scheme-dispatch contract: the path s3a://, gs://, abfss://
  // ride. Real object stores can't run offline, so a custom scheme
  // backed by a local FS pins the mechanism those connectors rely on:
  // setting `fs.<scheme>.impl` on the session's Hadoop conf is the
  // ENTIRE integration — UriSource needs no code change per scheme ----

  test("custom scheme dispatch: fs.<scheme>.impl registration alone " +
    "routes parquet AND csv reads through the registered filesystem") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftmock.impl", classOf[MockObjectStoreFs].getName)
    MockObjectStoreFs.opened.clear()
    // parquet through the fake scheme (footer seek + column chunks)
    val pq = UriSource.read(spark,
      "graftmock:///root/testdata/sf0.001/region.parquet")
    assert(pq.count() == 5 && pq.columns.contains("r_name"))
    // delimited through the same scheme
    val tmp = java.nio.file.Paths.get(tempDir("graft_mock"))
    val f = tmp.resolve("x.txt")
    java.nio.file.Files.writeString(f, "a|b\n1|one\n2|two")
    val csv = UriSource.delimited(spark, "graftmock://" + f.toString)
    assert(csv.count() == 2 && csv.columns.toSeq == Seq("a", "b"))
    // both reads actually dispatched through the registered class —
    // not silently resolved by file:// fallback
    val opened = MockObjectStoreFs.opened.toArray(Array.empty[String])
    assert(opened.exists(_.endsWith("region.parquet")) &&
      opened.exists(_.endsWith("x.txt")), opened.mkString(", "))
  }
}

/** Local-FS-backed fake object store under scheme `graftmock://` — the
  * offline stand-in that pins Hadoop's per-scheme dispatch contract
  * (`fs.<scheme>.impl`) which the real cloud connectors plug into. */
class MockObjectStoreFs
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    MockObjectStoreFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object MockObjectStoreFs {
  /** Paths opened through the scheme (concurrent: executor threads). */
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
