package graft

import java.sql.DriverManager
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** End-to-end JDBC: start the Thrift server on the shared session,
  * connect with the bundled hive-jdbc driver, run the flagship
  * aggregation over the wire, compare to the DataFrame result. */
class JdbcServerSpec extends SparkSpec {

  test("hive-jdbc client queries registered tables over the wire") {
    // keep derby/metastore scratch out of the repo tree
    System.setProperty("derby.system.home",
      tempDir("graft_derby"))
    // Hive metastore init PROBES the in-memory Derby db (create →
    // "already exists" → retry) by design: ~1600 ERROR/stack-trace
    // lines per run that carry zero signal and bury real failures.
    // Silenced in src/test/resources/log4j2.properties — a classpath
    // config reaches the ISOLATED Hive-client classloader's
    // LoggerContext, which Configurator.setLevel from here cannot.
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort.toString finally s.close()
    }
    val server = JdbcServer.start(spark, "/root/testdata/sf0.001", port)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // the server accepts connections slightly after start: retry briefly
      val conn = {
        var c: java.sql.Connection = null
        var attempts = 0
        while (c == null && attempts < 30) {
          try c = DriverManager.getConnection(
            s"jdbc:hive2://localhost:$port/default", "", "")
          catch { case _: Exception => attempts += 1; Thread.sleep(1000) }
        }
        assert(c != null, "could not connect to thrift server")
        c
      }
      try {
        val rs = conn.createStatement().executeQuery(
          """SELECT l_returnflag, COUNT(*) AS n
            |FROM global_temp.lineitem
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val viaJdbc = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toSeq
        val viaDf = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
          .groupBy("l_returnflag").count()
          .orderBy("l_returnflag")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(viaJdbc == viaDf && viaJdbc.nonEmpty)
      } finally conn.close()

      // native-function parity: a FRESH connection gets its own derived
      // session — the registered graft functions must be visible there,
      // not only on the hosting session
      val conn2 = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "", "")
      try {
        val rs = conn2.createStatement().executeQuery(
          "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
            "portable_simhash(array('x','y')) AS h, " +
            "normalize_spaces(lower('A,,B')) AS n")
        assert(rs.next())
        assert(math.abs(rs.getDouble(1) - 1.0) < 1e-12)
        assert(rs.getLong(2) != 0L)
        assert(rs.getString(3) == "a b")
      } finally conn2.close()

      // ---- concurrency: the 100 TB story is many analysts on one
      // server. 8 connections work in parallel, each mixing native-
      // function calls with table scans; each also sets a SESSION-local
      // conf to a distinct value and reads it back LAST — leakage
      // across derived sessions or a function-registry race fails the
      // thread, and any thread failure fails the test ----
      val nThreads = 8
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until nThreads).map { i =>
        new Thread(() => {
          try {
            val c = DriverManager.getConnection(
              s"jdbc:hive2://localhost:$port/default", "", "")
            try {
              val st = c.createStatement()
              // distinct per-connection session conf
              st.execute(s"SET spark.sql.shuffle.partitions=${10 + i}")
              for (_ <- 0 until 5) {
                val r1 = st.executeQuery(
                  s"SELECT cosine_sim(array(1.0D, ${i}D), array(1.0D, ${i}D)) AS c, " +
                    s"normalize_spaces(lower('T$i,,X')) AS n")
                assert(r1.next() && math.abs(r1.getDouble(1) - 1.0) < 1e-12
                  && r1.getString(2) == s"t$i x")
                val r2 = st.executeQuery(
                  "SELECT COUNT(*) AS n FROM global_temp.region")
                assert(r2.next() && r2.getLong(1) == 5L)
              }
              // isolation: the conf set FIRST must survive the other
              // threads' work — derived sessions don't share mutable conf
              // SET returns (key, value) rows
              val rs = st.executeQuery("SET spark.sql.shuffle.partitions")
              assert(rs.next() &&
                rs.getString(2) == s"${10 + i}", s"thread $i conf leaked")
            } finally c.close()
          } catch { case t: Throwable => errors.add(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(errors.isEmpty,
        errors.toArray(Array.empty[Throwable]).map(_.toString).mkString("\n"))

      // ---- SQL cookbook over the wire (round-10 verdict #6): a FRESH
      // connection pastes the README recipe DDL verbatim (global_temp
      // prefix — each derived session sees only the global views) and
      // calls the operator as a table function; the answer must equal
      // the DSL operator's ----
      val conn3 = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "", "")
      try {
        val st = conn3.createStatement()
        SqlRecipes.ddl("global_temp.").foreach { case (_, stmt) =>
          st.execute(stmt)
        }
        val rs = st.executeQuery(
          "SELECT COUNT(*) AS n, SUM(session_id) AS s " +
            "FROM graft_sessionize(1800)")
        assert(rs.next())
        val (viaJdbcN, viaJdbcS) = (rs.getLong(1), rs.getLong(2))
        val dsl = graft.ops.WindowOps.sessionize(
            Tables.load(spark, "/root/testdata/sf0.001", "events"),
            Seq("user_id"), "ts", 1800,
            tiebreak = Seq(org.apache.spark.sql.functions.col("event_id")))
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.col("session_id")))
          .head()
        assert(viaJdbcN == dsl.getLong(0) && viaJdbcS == dsl.getLong(1),
          s"wire ($viaJdbcN, $viaJdbcS) != dsl $dsl")
        // a second recipe exercising a native function over the wire
        val rs2 = st.executeQuery(
          "SELECT COUNT(*) AS n FROM graft_neardup(3)")
        assert(rs2.next() && rs2.getLong(1) > 0L)
        // an r12 recipe over the wire: the KS drift statistic must
        // equal the DSL operator's row exactly
        val rs3 = st.executeQuery(
          "SELECT n_a, n_b, d_stat, at_value FROM graft_ks_drift(15)")
        assert(rs3.next())
        val dslKs = graft.ops.Quality.ksTwoSample(
            Tables.load(spark, "/root/testdata/sf0.001", "events"),
            "value",
            org.apache.spark.sql.functions.dayofmonth(
              org.apache.spark.sql.functions.col("ts")) <= 15)
          .head()
        assert(rs3.getLong(1) == dslKs.getLong(0) &&
          rs3.getLong(2) == dslKs.getLong(1) &&
          rs3.getDouble(3) == dslKs.getDouble(2) &&
          rs3.getDouble(4) == dslKs.getDouble(3),
          s"wire KS != dsl $dslKs")
        // the round-12 conformal recipe over the wire: per-group k
        // and threshold must equal the DSL order statistic exactly
        val rs4 = st.executeQuery(
          "SELECT event_type, n, k, qhat_micros " +
            "FROM graft_conformal(100000) ORDER BY event_type")
        val wire = Iterator.continually(rs4)
          .takeWhile(_.next())
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
            Option(r.getObject(4)).map(_.toString.toLong)))
          .toSet
        val dslCf = graft.ops.Quality.conformalThreshold(
            Tables.load(spark, "/root/testdata/sf0.001", "events")
              .filter(org.apache.spark.sql.functions
                .col("event_type").isNotNull),
            "value", Seq("event_type"), alphaMicros = 100000L)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toSet
        assert(wire == dslCf && wire.nonEmpty,
          s"wire conformal $wire != dsl $dslCf")
        // a round-13 stats recipe over the wire: the bootstrap CI
        // (salted-hash Poisson weights) must equal the DSL bounds
        val rs5 = st.executeQuery(
          "SELECT n, mean_micros, replicas_used, ci_lo_micros, " +
            "ci_hi_micros FROM graft_bootstrap_ci(50, 25000)")
        assert(rs5.next())
        val dslB = graft.ops.Quality.bootstrapMeanCi(
            Tables.load(spark, "/root/testdata/sf0.001", "events"),
            "value", "event_id", replicas = 50)
          .head()
        assert(rs5.getLong(1) == dslB.getLong(0) &&
          rs5.getLong(2) == dslB.getLong(1) &&
          rs5.getLong(3) == dslB.getLong(3) &&
          rs5.getLong(4) == dslB.getLong(4) &&
          rs5.getLong(5) == dslB.getLong(5),
          s"wire bootstrap != dsl $dslB")
        // the round-13 drift recipe over the wire: the bounded
        // Hellinger metric must equal the DSL bit-for-bit
        val rs6 = st.executeQuery(
          "SELECT n_ref, n_cur, bc, hellinger FROM graft_hellinger(15)")
        assert(rs6.next())
        val evH = Tables.load(spark, "/root/testdata/sf0.001", "events")
        val dslH = graft.ops.Quality.hellingerDrift(
            evH.filter(org.apache.spark.sql.functions.dayofmonth(
              org.apache.spark.sql.functions.col("ts")) <= 15)
              .select(org.apache.spark.sql.functions.col("value")),
            evH.filter(org.apache.spark.sql.functions.dayofmonth(
              org.apache.spark.sql.functions.col("ts")) > 15)
              .select(org.apache.spark.sql.functions.col("value")),
            "value", bins = 10)
          .head()
        assert(rs6.getLong(1) == dslH.getLong(0) &&
          rs6.getLong(2) == dslH.getLong(1) &&
          rs6.getDouble(3) == dslH.getDouble(2) &&
          rs6.getDouble(4) == dslH.getDouble(3),
          s"wire hellinger != dsl $dslH")
      } finally conn3.close()
    } finally JdbcServer.stop(server)
  }
}
