package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-level engine defaults.
  *
  * The reference (kaveriC/CLIF) relies on R's silent `as.numeric` NA
  * coercion (`code/RCLIF_adt.Rmd:33`, `code/RCLIF_vitals.Rmd:137`); Spark 4
  * defaults to ANSI mode where such casts throw, so the engine runs with
  * ANSI off (SURVEY.md §7.4). AQE stays on for runtime shuffle coalescing
  * and skew-join handling — at 100 TB the static partition count is always
  * wrong somewhere, so let the runtime re-plan.
  *
  * The engine's sessions share one class loader: tune turns
  * `spark.sql.artifact.isolation.enabled` off. `CodeGenerator.compile`
  * caches a generated class by (thread context class loader, source).
  * With isolation on, Spark's default, every session's jobs carry its
  * own session UUID and the executor builds one class loader per UUID.
  * Every AvailableNow drain runs in a cloned session with a fresh UUID,
  * so each drain compiled again, and the JIT compiled again, classes
  * whose source matched the previous drain's byte for byte. Measured on
  * a 4-core host, one warm pass of clifbench's `blocked_dataset`
  * workload made 187–195 Janino compiles with isolation on and 57–60
  * with it off. Isolation only separates the jars, files and REPL
  * classes a session adds as artifacts; the engine adds none (no
  * `addArtifact` or `addJar` under src/main), so its sessions lose
  * nothing by sharing the loader.
  *
  * Sessions that clients drive keep isolation on: `local()`'s builder
  * does not set the flag, so a `newSession()` (JdbcServer's session for
  * each Thrift connection) starts with Spark's default. A jar one
  * connection adds with `ADD JAR` then reaches that connection's tasks
  * and not another connection's, as before. Spark also adds such a jar
  * to the SparkContext, so the tuned sessions' shared loader sees it
  * too, as the driver's jar class loader and `LIST JARS` already did;
  * executor classes load parent-first, so it cannot replace an engine
  * class. GraftSessionSpec pins both halves.
  */
object GraftSession {

  /** Runtime confs applied to any session the engine runs under. */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.ansi.enabled", "false")
    // Read lazily by the session's ArtifactManager, so this takes effect
    // before the first query; copied into the cloned session of every
    // streaming query started after this.
    c.set("spark.sql.artifact.isolation.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // The driver's events table stores TIMESTAMP(NANOS), which the Spark
    // parquet reader rejects by default; read as long and convert in
    // Tables.load (micros truncation matches DuckDB's µs timestamps).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Vocab/dim tables in this workload are tiny; keep the default 10MB
    // threshold but make the intent explicit.
    c.set("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
    // Runtime bloom-filter join pruning (SPARK-32268): a selective
    // filter on a join's small side injects a bloom of its keys into
    // the OTHER side's scan, cutting fact rows BEFORE the shuffle —
    // the 100 TB star-join reducer. Default eligibility thresholds
    // (application side ≥ 10 GB scan) mean it never fires at test
    // scale — zero local overhead — but the posture is on for the
    // cluster; PlanSpec proves the injection works with the
    // thresholds lowered.
    c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // SQL surface: cosine_sim / dot_product / portable_simhash /
    // normalize_spaces / intersect_size callable from spark.sql and
    // SqlRunner.
    graft.functions.NativeExpressions.registerAll(spark)
    spark
  }

  /** The tuned local session every main runs under (the only
    * `SparkSession.builder` in src/main; CatalogSpec keeps it so), on
    * `cores` cores, `SPARK_GRAFT_CPUS` by default (4 when unset).
    * GraftExtensions makes the native SQL functions part of every
    * session derived from this one (Thrift per-connection sessions
    * build fresh state; tune()'s registerAll only covers the host). */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS), surfaced as long via
    // nanosAsLong (GraftSession.tune); truncate to µs like DuckDB does.
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
      df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else df
  }

  /** Intrinsic scan parallelism of a parquet input: total ROW GROUPS
    * across its files. A parquet file is splittable only at row-group
    * boundaries, so this — not `maxPartitionBytes` — is the hard cap
    * on how many tasks a scan (and every narrow operator fused onto
    * it) can use. Footer metadata only: O(files) driver-side reads of
    * a few KB each, no row data touched. */
  def scanParallelism(spark: SparkSession, path: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(p))
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.size
      finally r.close()
    }.sum
  }

  /** Scale-ADAPTIVE scan fan-out (optimization-guide §2: derive
    * partitioning from the input, don't hard-code either scale): when
    * the input's intrinsic scan parallelism ([[scanParallelism]]) is
    * below the session's `defaultParallelism`, hash-repartition by
    * `key` so a CPU-heavy narrow pipeline (shingling, minhash, exact-
    * decimal moment sums, vector arithmetic) runs on every core
    * instead of the one task a single-row-group file pins it to. When
    * the input already carries >= defaultParallelism row groups — any
    * production-scale table — NO exchange is added: the decision is a
    * per-input metadata read, so the same code is a no-op at 100 TB
    * and a 32× fan-out on a one-row-group bench file. Hash (not
    * round-robin) partitioning: deterministic under task retry with
    * no sort-before-repartition pass (SPARK-23207). Callers pass a
    * unique-ish key so the spread is even. */
  def fanOutScan(spark: SparkSession, df: DataFrame, path: String,
                 key: org.apache.spark.sql.Column): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (scanParallelism(spark, path) < cores) df.repartition(cores, key)
    else df
  }

  /** [[fanOutScan]] for a driver-provided table: load + adaptive
    * fan-out keyed on `key`. */
  def loadFanned(spark: SparkSession, dir: String, name: String,
                 key: String): DataFrame =
    fanOutScan(spark, load(spark, dir, name), s"$dir/$name.parquet",
      org.apache.spark.sql.functions.col(key))

  /** Register every table as a temp view (the Spark SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Global-temp-view registration: visible to EVERY session derived
    * from this SparkContext as `global_temp.<name>` — what the Thrift
    * server's per-connection sessions resolve (plain temp views are
    * session-local; `singleSession` is a static conf the library can't
    * set on an existing session). */
  def registerAllGlobal(spark: SparkSession, dir: String): Unit =
    names.foreach(n =>
      load(spark, dir, n).createOrReplaceGlobalTempView(n))
}
