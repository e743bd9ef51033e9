package clifbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.clif.{BlockedDataset, BlockedDatasetIncremental, ClifEtl}
import graft.streaming.EventStreams

/** One op of a workload. `build` does the driver-side work (for an
  * operator with eager rounds this includes them and their checkpoints;
  * for a stream op, the whole AvailableNow drain) and returns the output
  * to materialise, or None when the op writes its own sinks. */
final case class Op(name: String, build: () => Option[DataFrame],
                    oracle: Option[String])

/** Per-op timings an op records about its own sub-steps (stream drains
  * and the incremental build's phases), read by the traced run. */
final class OpNotes {
  var drainMs = 0L
  val incremental = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def drain[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally drainMs += (System.nanoTime() - t0) / 1000000L
  }
}

/** A workload: its inputs (made from the seed by [[prepare]]) and ops. */
abstract class Workload(val name: String, val spark: SparkSession,
                        val seed: Long, val work: File) {
  val notes = new OpNotes

  /** Generate or stage the inputs; returns their stats. */
  def prepare(): Seq[Generators.InputStat]
  def ops: Seq[Op]

  /** Full warm-up passes set-up runs before timing. The first pass after
    * one warm-up still ran 15-40% slower than the passes after it. */
  def warmUps: Int = 2

  /** One-off set-up after [[prepare]], before any pass. */
  def setUp(): Unit = ()

  /** Files the ops left behind that one pass of the workload writes
    * (sinks, checkpoints, state), measured before [[cleanup]]. */
  def writtenBytes: Long = 0L

  /** Remove per-pass scratch; runs outside the timed region. */
  def cleanup(): Unit = ()

  /** Check outputs that do not go through the DuckDB oracle (the ETL's
    * contract checks). Returns one failure message per failed check. */
  def selfCheck(): Seq[String] = Nil

  /** DuckDB views the oracle needs, name -> parquet glob. */
  def oracleTables: Map[String, String] = Map.empty

  protected def dir(rel: String): File = {
    val f = new File(work, rel); f.mkdirs(); f
  }
}

object Workloads {
  val names: Seq[String] = Seq("etl_raw_to_clif", "blocked_dataset")

  /** Encounters per generated input; see the README for the sizing.
    * `scale` multiplies them, for sizing sweeps. */
  val etlEncounters = 160
  val icuEncounters = 150

  def apply(name: String, spark: SparkSession, seed: Long, work: File,
            scale: Int = 1): Workload = name match {
    case "etl_raw_to_clif" => new Etl(spark, seed, work, etlEncounters * scale)
    case "blocked_dataset" =>
      new Blocked(spark, seed, work, icuEncounters * scale)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }

  private def queryOp(spark: SparkSession, q: String, dir: File): Op =
    Op(q, () => Some(SparkEntry.queries(q)(spark, dir.getPath)), Some(q))

  /** The paper's pipeline: raw extracts -> ClifEtl.run -> 15 tables. */
  final class Etl(spark: SparkSession, seed: Long, work: File,
                  encounters: Int)
      extends Workload("etl_raw_to_clif", spark, seed, work) {
    private val in = dir("raw")
    private val out = dir("clif")
    private var extract: Generators.RawExtract = _
    private var last: Seq[(String, Long, String)] = Nil

    def prepare(): Seq[Generators.InputStat] = {
      extract = Generators.rawExtracts(in, seed, encounters)
      extract.inputs
    }

    def ops: Seq[Op] = Seq(Op("clif_etl", () => {
      last = Nil
      last = ClifEtl.run(spark, in.getPath, out.getPath)
      None
    }, None))

    /** A daily ETL runs once per JVM: the timed pass is the process's
      * first, after the one-off schema snapshot of every raw extract. */
    override def warmUps: Int = 0
    override def setUp(): Unit = extract.inputs.foreach(i =>
      ClifEtl.rawExtract(spark, in.getPath, out.getPath, i.name))

    override def writtenBytes: Long =
      Fs.treeBytes(out) - Fs.treeBytes(new File(out, "_schemas"))

    override def selfCheck(): Seq[String] = {
      val byName = last.map(r => r._1 -> r).toMap
      val missing = EtlTables.filterNot(byName.contains)
        .map(t => s"$t: not produced")
      missing ++ last.flatMap { case (t, rows, note) =>
        Seq(
          if (note != "contract-ok") Some(s"$t: $note") else None,
          if (rows <= 0) Some(s"$t: empty") else None,
          extract.expectedRows.get(t).filter(_ != rows)
            .map(e => s"$t: $rows rows, generator fixed $e"))
          .flatten
      }
    }
  }

  /** The 15 contract tables ClifEtl.run writes. */
  val EtlTables: Seq[String] = Seq("vitals", "respiratory_support", "scores",
    "scores_sofa", "labs", "adt", "patient_demographics",
    "limited_identifiers", "encounter_demographics_dispo", "disposition",
    "admission_diagnosis", "dialysis", "medication_admin_continuous",
    "medication_admin_intermittent", "medication_orders")

  /** The paper's downstream goal over seeded ICU-shaped observations:
    * the blocked dataset (batch, through SparkEntry.queries), the same
    * dataset maintained incrementally by AvailableNow waves, and a
    * stateful bounded drain over the same events: SparkEntry's
    * s_stream_dedup, driven through EventStreams so its checkpoint stays
    * inside the work directory. */
  final class Blocked(spark: SparkSession, seed: Long, work: File,
                      encounters: Int)
      extends Workload("blocked_dataset", spark, seed, work) {
    private val data = dir("events")
    private def events = s"${data.getPath}/events.parquet"
    private val dupIn = dir("stage/dup")
    private val scratch = new File(work, "scratch")
    private val seq = new java.util.concurrent.atomic.AtomicLong
    private val memoryTables = mutable.Buffer.empty[String]

    private def fresh(p: String): String = {
      val f = new File(scratch, s"$p-${seq.incrementAndGet()}")
      f.mkdirs(); f.getPath
    }

    def prepare(): Seq[Generators.InputStat] = {
      val stat = Generators.writeIcuEvents(spark, data, seed, encounters)
      val e = graft.Tables.load(spark, data.getPath, "events")
      e.union(e).write.mode("overwrite").parquet(dupIn.getPath)
      Seq(stat)
    }

    private def drain(op: String, df: DataFrame,
                      mode: org.apache.spark.sql.streaming.OutputMode)
        : DataFrame = notes.drain {
      val q = s"${op}_${seq.incrementAndGet()}"
      memoryTables += q
      EventStreams.runAvailableNow(df, q, fresh(op), mode,
        statePartitions = Some(2))
    }

    def ops: Seq[Op] = Layers.OpQueries.map(queryOp(spark, _, data)) ++ Seq(
      Op("clif_blocked_incremental", () => Some(incremental()),
        Some("clif_blocked_incremental")),
      Op("s_stream_dedup", () => Some(drain("s_stream_dedup",
        EventStreams.dedupStream(
          EventStreams.readStream(spark, dupIn.getPath), Seq("event_id"))
          .select("event_id", "user_id", "event_type"),
        org.apache.spark.sql.streaming.OutputMode.Append())),
        Some("s_stream_dedup")))

    /** The capstone maintained by two AvailableNow invocations over two
      * arrival waves, with a compaction between them: the call sequence
      * of SparkEntry's clif_blocked_incremental query. */
    private def incremental(): DataFrame = {
      val n = notes.incremental
      def step[T](k: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally n(k) += (System.nanoTime() - t0) / 1e9
      }
      val root = fresh("clif_blocked_incremental")
      val in = s"$root/in"; val workDir = s"$root/work"
      val e = graft.Tables.load(spark, data.getPath, "events")
      val late = coalesce(pmod(graft.text.TextOps.portableHash(
        col("user_id")), lit(8L)), lit(0L)) === 0
      step("wave1_s") {
        e.filter(!late).write.mode("overwrite").parquet(in)
        notes.drain {
          BlockedDatasetIncremental.runOnce(spark, in, workDir,
            spark.read.parquet(in).schema, IncrementalParams, buckets = 8)
        }
      }
      step("compact_s") {
        BlockedDatasetIncremental.compactRaw(spark, workDir,
          IncrementalParams)
      }
      val wave2Start = System.currentTimeMillis()
      step("wave2_s") {
        e.filter(late).write.mode("append").parquet(in)
        notes.drain {
          BlockedDatasetIncremental.runOnce(spark, in, workDir,
            spark.read.parquet(in).schema, IncrementalParams, buckets = 8)
        }
      }
      n("buckets_rewritten") += Option(new File(workDir, "grid").listFiles)
        .getOrElse(Array.empty[File])
        .count(b => b.getName.startsWith("__bucket=") &&
          Option(b.listFiles).exists(_.exists(_.lastModified >= wave2Start)))
      step("grid_s")(BlockedDatasetIncremental.grid(spark, workDir))
    }

    override def writtenBytes: Long = Fs.treeBytes(scratch)

    override def cleanup(): Unit = {
      memoryTables.foreach(spark.catalog.dropTempView)
      memoryTables.clear()
      Fs.deleteTree(scratch)
    }

    override def oracleTables: Map[String, String] =
      Map("events" -> s"$events/*.parquet")
  }

  /** clif_blocked_incremental's parameters (those of the batch capstone,
    * so the same oracle applies). */
  val IncrementalParams: BlockedDatasetIncremental.Params =
    BlockedDatasetIncremental.Params(
      encCol = "user_id", tsCol = "ts", channelCol = "event_type",
      valueCol = "value", tiebreak = "event_id",
      channels = Seq(
        BlockedDataset.Channel("click", "vital_value",
          toleranceSeconds = 7200L),
        BlockedDataset.Channel("purchase", "lab_value",
          toleranceSeconds = 86400L)),
      stepSeconds = 3600L,
      outcome = col("event_type") === "error", rollRows = 4,
      trainPct = 80, valPct = 10)
}
