package clifbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark process: one JVM, Spark `local[N]` with N = the cores the
  * process may use, one closed-loop caller issuing ops one at a time.
  *
  *   clifbench.Main --workload W --seed S --seconds R --trace 0|1
  *                  --work DIR [--spans FILE] [--scale K]
  *
  * Set-up (session, input generation, the workload's warm-up) is
  * followed by passes over every op of the workload until R seconds have
  * passed; with --trace 1 a traced series of passes comes first. The
  * warm-up pass writes each op's output for the correctness check. The
  * last stdout line is a JSON summary that `run.py` completes with the
  * DuckDB oracle comparison. */
object Main {

  final case class OpRun(op: String, buildMs: Double, materializeMs: Double,
                         startMs: Long, endMs: Long,
                         events: Option[Recorder.Events])

  final case class Pass(wallS: Double, cpuS: Double, ops: Seq[OpRun],
                        startMs: Long, endMs: Long, writtenBytes: Long,
                        notes: OpNotesSnapshot)

  final case class OpNotesSnapshot(drainMs: Long,
                                   incremental: Map[String, Double])

  def main(args: Array[String]): Unit = {
    Memory.watch()
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work")).getAbsoluteFile
    val spans = a.get("spans").map(new File(_))
    val scale = a.getOrElse("scale", "1").toInt
    val cores = Runtime.getRuntime.availableProcessors

    val spark = session(cores, work)
    progress("session ready")
    try {
      val w = Workloads(workloadName, spark, seed, work, scale)
      val result = run(w, seconds, traced, cores, spans)
      println(Fs.json(result))
      progress("result printed")
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      progress("session stopped")
    }
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A time-stamped progress line on stderr (run.py relays these). */
  def progress(what: String): Unit = System.err.println(
    f"clifbench: [JVM ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%6.1f s] $what")

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("clifbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tune(spark)
  }

  def run(w: Workload, seconds: Double, traced: Boolean, cores: Int,
          spans: Option[File] = None): Map[String, Any] = {
    val inputs = w.prepare()
    progress("inputs ready")
    val ops = w.ops
    val executions = mutable.Map.empty[String, Int].withDefaultValue(0)
    val errors = mutable.Buffer.empty[String]

    // The first warm-up pass writes every output the oracle checks: it
    // runs the same builders as the timed passes, outside the timed
    // region. A traced run always warms up, so traced and untraced passes
    // compare.
    val checkDir = new File(w.work, "check")
    Fs.deleteTree(checkDir)
    require(w.warmUps > 0 || ops.forall(_.oracle.isEmpty),
      s"${w.name}: oracle-checked ops need a warm-up pass")
    w.setUp()
    (1 to (if (traced) w.warmUps.max(1) else w.warmUps)).foreach { i =>
      pass(w, ops, None, executions, errors,
        if (i == 1) Some(checkDir) else None)
    }
    // JVM start -> first timed op, as one measured interval.
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    progress("set-up done")

    def series(rec: Option[Recorder]): Seq[Pass] = {
      val t0 = System.nanoTime()
      val out = mutable.Buffer.empty[Pass]
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        out += pass(w, ops, rec, executions, errors)
        progress(f"pass ${out.size}: ${out.last.wallS}%.2f s")
      }
      out.toSeq
    }
    // Traced passes run first and the untraced ones after them, so the
    // overhead compares neighbouring passes of one warmed-up JVM.
    val tracedPasses = if (traced) {
      val rec = new Recorder(w.spark)
      try series(Some(rec)) finally rec.close()
    } else Nil
    // Lost attribution fails the traced run (see Layers.attributionGaps).
    errors ++= tracedPasses.flatMap(Layers.attributionGaps(_, cores))
    val untraced = series(None)
    progress(s"${tracedPasses.size + untraced.size} passes done")

    val checks = ops.filter(_.oracle.isDefined).map { op =>
      Map("op" -> op.name, "dir" -> new File(checkDir, op.name).getPath,
        "oracle" -> op.oracle.get, "executions" -> executions(op.name))
    }
    val selfFailures = w.selfCheck()
    val failedSelf = selfFailures.size.min(1) *
      ops.filterNot(_.oracle.isDefined).map(o => executions(o.name)).sum
    errors ++= selfFailures

    val inputRows = inputs.map(_.rows).sum
    val inputBytes = inputs.map(_.bytes).sum
    val wallS = median(untraced.map(_.wallS))
    val e2e = Map(
      "wall_s" -> (wallS, "s"),
      "rows_per_s" -> (inputRows / wallS, "rows/s"),
      "cpu_s" -> (median(untraced.map(_.cpuS)), "s"),
      "peak_memory_mb" -> (Memory.peakMb, "MB"),
      "setup_s" -> (setupS, "s"),
      "output_bytes_per_input_byte" ->
        (median(untraced.map(_.writtenBytes.toDouble)) / inputBytes, "ratio"))
    val layers =
      if (traced) Layers.metrics(tracedPasses, wallS, cores)
      else Map.empty[String, (Double, String)]
    spans.filter(_ => traced).foreach(writeSpans(_, tracedPasses))

    val failedRuns = errors.size - selfFailures.size
    Map(
      "workload" -> w.name, "seed" -> w.seed, "cores" -> cores,
      "passes" -> untraced.size, "traced_passes" -> tracedPasses.size,
      "inputs" -> inputs, "input_rows" -> inputRows,
      "input_bytes" -> inputBytes,
      "attempted" -> executions.values.sum,
      "failed" -> (failedRuns + failedSelf),
      "errors" -> errors.toSeq,
      "metrics" -> e2e.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "checks" -> checks,
      "oracle_sql" -> checks.map(c => c("oracle").toString).distinct
        .map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap,
      "oracle_tables" -> w.oracleTables)
  }

  /** One pass: every op once, in order, each fully materialised: into
    * the noop sink, or as parquet under `checkDir` for the oracle. */
  def pass(w: Workload, ops: Seq[Op], rec: Option[Recorder],
           executions: mutable.Map[String, Int],
           errors: mutable.Buffer[String],
           checkDir: Option[File] = None): Pass = {
    w.notes.drainMs = 0L; w.notes.incremental.clear()
    rec.foreach(_.cut())
    val cpu0 = processCpuNs
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val runs = ops.map { op =>
      val s = System.currentTimeMillis()
      val b0 = System.nanoTime()
      executions(op.name) += 1
      var b1 = -1L
      try {
        val df = op.build()
        b1 = System.nanoTime()
        df.foreach { d => checkDir match {
          case Some(c) => d.write.parquet(new File(c, op.name).getPath)
          case None => d.write.format("noop").mode("overwrite").save()
        } }
      } catch { case NonFatal(e) => errors += s"${op.name}: ${e.toString}" }
      val b2 = System.nanoTime()
      if (b1 < 0) b1 = b2 // a build that failed counts as build time
      val ev = rec.map(_.cut())
      OpRun(op.name, (b1 - b0) / 1e6, (b2 - b1) / 1e6, s,
        System.currentTimeMillis(), ev)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (processCpuNs - cpu0) / 1e9
    val end = System.currentTimeMillis()
    val written = w.writtenBytes
    val notes = OpNotesSnapshot(w.notes.drainMs, w.notes.incremental.toMap)
    w.cleanup()
    Pass(wallS, cpuS, runs, start, end, written, notes)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Memory the program holds, as the collector sees it: the largest heap
    * occupancy right after a collection, plus the peak non-heap use
    * (metaspace, code cache). Unlike the resident set, it does not follow
    * how far the collector chose to grow the heap. */
  object Memory {
    import scala.jdk.CollectionConverters._
    import java.lang.management.MemoryType
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo

    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    private val heapPools = pools.filter(_.getType == MemoryType.HEAP)
      .map(_.getName).toSet
    private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong

    private val listener: NotificationListener = (n, _) =>
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val used = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(used, math.max)
      }

    /** Start following collections; call once, first thing. */
    def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach { case e: NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ => }

    /** Peak heap after a collection plus peak non-heap use, in MB. */
    def peakMb: Double = (peakAfterGc.get + pools
      .filter(_.getType == MemoryType.NON_HEAP)
      .map(_.getPeakUsage.getUsed).sum) / 1e6
  }

  /** The traced passes' op spans, written once the run ends. */
  private def writeSpans(out: File, passes: Seq[Pass]): Unit = {
    out.getParentFile.mkdirs()
    val spans = passes.zipWithIndex.flatMap { case (p, i) =>
      Map("span" -> s"pass-$i", "parent" -> null, "start_ms" -> p.startMs,
        "end_ms" -> p.endMs) +: p.ops.map { o =>
        val ev = o.events
        Map("span" -> s"pass-$i/${o.op}", "parent" -> s"pass-$i",
          "start_ms" -> o.startMs, "end_ms" -> o.endMs,
          "build_ms" -> o.buildMs, "materialize_ms" -> o.materializeMs,
          "executions" -> ev.map(_.execs.size).getOrElse(0),
          "jobs" -> ev.map(_.jobs.size).getOrElse(0),
          "tasks" -> ev.map(_.tasks.n).getOrElse(0L),
          "batches" -> ev.map(_.batches.size).getOrElse(0))
      }
    }
    java.nio.file.Files.writeString(out.toPath, Fs.json(spans))
  }
}
