package graft.clif

import java.util.UUID
import java.util.concurrent.{Callable, CancellationException, Executors,
  TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** End-to-end CLIF ETL entry point: raw `C19_*_LDS`-style delimited
  * extracts in --in <dir> -> all contract tables as partitioned parquet
  * (+ CSV) under --out <dir>.
  *
  * Usage: runMain graft.clif.ClifEtl <inDir> <outDir>
  *
  * Reads are header CSV with explicit delimiter (SURVEY.md §2.1 S1 — the
  * reference's chunked big_fread1 is subsumed by partitioned file splits).
  * Each output is validated against its ClifSchemas contract column set.
  * The 15 tables are written `max(1, cores / 2)` at a time ([[run]]).
  */
object ClifEtl {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val spark = GraftSession.local()
    run(spark, inDir, outDir).foreach { case (name, rows, note) =>
      println(s"[etl] $name rows=$rows $note")
    }
    spark.stop()
  }

  /** Run the full ETL; returns (table, rows written, contract note) per
    * output, in the declared table order. Session-agnostic so specs
    * drive it end-to-end.
    *
    * The raw reads (and their schema snapshots), the vocab frames and
    * the two cached med intermediates are set up on the calling thread.
    * The 15 per-table blocks (conform, parquet sink, CSV sink, read
    * back, validate, count) are independent, so they then run
    * [[poolSize]] at a time: the pass is bound by per-job latency, not
    * by work, and jobs submitted from different threads share the
    * slots (Spark's scheduling within an application). The first table
    * to fail cancels the others' running jobs, tables not yet started
    * never start, and `run` rethrows naming that table. */
  def run(spark: SparkSession, inDir: String, outDir: String)
      : Seq[(String, Long, String)] =
    run(spark, inDir, outDir, poolSize(spark), (_, df) => df)

  /** Tables in flight at once: half the session's cores. Each busy sort
    * or aggregation task holds a 32 MB Tungsten page, so the heap grows
    * with the busy slots. On a 4-core host (`local[4]`, `-Xmx3g`, the
    * clifbench ETL workload), 2 tables at a time cut the median pass
    * wall by 24% for +15% peak heap; 4 at a time cut it no further for
    * +23% to +35%. */
  private[clif] def poolSize(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism / 2)

  /** [[run]] on `threads` threads, with `tamper(table, conformed)` as
    * what the sinks write (the seam specs inject a failing table
    * through). */
  private[clif] def run(spark: SparkSession, inDir: String, outDir: String,
                        threads: Int,
                        tamper: (String, DataFrame) => DataFrame)
      : Seq[(String, Long, String)] = {
    def raw(name: String): DataFrame = rawExtract(spark, inDir, outDir, name)

    val allVitals = raw("C19_FLOW_LDS")
    // Shared intermediates, each feeding 2-3 outputs below: cache once,
    // release when the tables are done or one failed (SURVEY.md §4 — the
    // round-1 version re-scanned the med CSVs per output).
    val medAdmin = raw("C19_RX_ADMIN_LDS")
    val medOutSub = Pipelines.medOutSubset(raw("C19_RX_OUT_LDS"))
    medAdmin.cache()
    medOutSub.cache()
    try {
      val mapped = Pipelines.matchContinuousMeds(medAdmin,
        Vocabularies.medsVocab(spark))

      val outputs: Seq[(String, DataFrame, Option[String])] = Seq(
        ("vitals",
          Pipelines.vitals(allVitals, Vocabularies.vitalsVocab(spark)),
          Some("recorded_time")),
        ("respiratory_support",
          Pipelines.respSupport(allVitals, Vocabularies.ventModeVocab(spark)),
          Some("recorded_time")),
        ("scores", Pipelines.scores(allVitals), Some("score_time")),
        ("scores_sofa", Pipelines.scoresSofa(allVitals), Some("score_time")),
        ("labs",
          Pipelines.labs(raw("C19_LAB_LDS"), Vocabularies.labsVocab(spark)),
          Some("lab_result_time")),
        ("adt", Pipelines.adt(raw("C19_ADT_LDS")), Some("start_time")),
        ("patient_demographics",
          Pipelines.patientDemographics(raw("C19_PATIENT_DEMO_LDS")), None),
        ("limited_identifiers",
          Pipelines.limitedIdentifiers(raw("C19_ENC_LDS"),
            raw("C19_PATIENT_DEMO_LDS"), raw("C19_PATIENT_ZIP_CODE_LDS")),
          None),
        ("encounter_demographics_dispo",
          Pipelines.encounterDemographicsDispo(raw("C19_ENC_XTRA_LDS"),
            raw("C19_ENC_LDS"), raw("C19_PATIENT_DEMO_LDS")), None),
        ("disposition", Pipelines.disposition(raw("C19_ENC_XTRA_LDS")), None),
        ("admission_diagnosis",
          Pipelines.admissionDiagnosis(raw("C19_DX_LDS")), None),
        ("dialysis", {
          val io = raw("C19_FLOW_IO_LDS")
            .withColumn("recorded_time", to_timestamp(col("recorded_time")))
          DialysisPipeline.build(io)
        }, Some("start_time")),
        ("medication_admin_continuous",
          Pipelines.medicationAdminContinuous(medAdmin, medOutSub, mapped),
          Some("admin_dttm")),
        ("medication_admin_intermittent",
          Pipelines.medicationAdminIntermittent(medAdmin, medOutSub, mapped),
          Some("admin_dttm")),
        ("medication_orders",
          Pipelines.medicationOrders(raw("C19_RX_ORDER_LDS"), medOutSub), None))

      inPool(spark, threads, outputs.map(_._1)) { (i, stopIfFailed) =>
        val (name, df0, eventCol) = outputs(i)
        // "dynamic at source, fixed at sink": cast to the contract schema
        val df = tamper(name, ClifSchemas.all.get(name)
          .map(c => ClifSchemas.conform(df0, c)).getOrElse(df0))
        ClifSink.parquet(df, s"$outDir/$name.parquet", eventCol)
        stopIfFailed()
        ClifSink.csv(df, s"$outDir/$name.csv")
        stopIfFailed()
        val written = spark.read.parquet(s"$outDir/$name.parquet")
        val contractIssues = ClifSchemas.all.get(name)
          .map(c => ClifSchemas.validate(
            // partition column is layout, not contract
            written.drop("p_date"), c))
          .getOrElse(Seq("no contract"))
        val note =
          if (contractIssues.isEmpty) "contract-ok"
          else s"contract: ${contractIssues.mkString("; ")}"
        (name, written.count(), note)
      }
    } finally {
      medAdmin.unpersist()
      medOutSub.unpersist()
    }
  }

  /** Runs `block(i, stopIfFailed)` for every table `i` on a pool of
    * `threads` threads and returns the results in `tables` order. Each
    * table's jobs carry one job tag. The first block to throw cancels
    * every table's tagged jobs; a block not yet started is skipped,
    * and `stopIfFailed()` throws in a running one, so it starts no
    * further action. Once every block has stopped, the first failure is
    * rethrown, naming its table. */
  private def inPool[T](spark: SparkSession, threads: Int,
                        tables: Seq[String])
                       (block: (Int, () => Unit) => T): Seq[T] = {
    val sc = spark.sparkContext
    val runTag = s"graft-clif-etl-${UUID.randomUUID()}"
    def tag(table: String) = s"$runTag-$table"
    val failed = new AtomicReference[(String, Throwable)]()
    def stopIfFailed(): Unit =
      if (failed.get != null) throw new CancellationException(
        s"ClifEtl: table ${failed.get._1} failed")
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "clif-etl")
      t.setDaemon(true)
      t
    })
    try {
      val futures = tables.zipWithIndex.map { case (table, i) =>
        val task: Callable[T] = () => {
          stopIfFailed()
          sc.addJobTag(tag(table))
          try block(i, stopIfFailed _)
          catch {
            case e: Throwable =>
              if (failed.compareAndSet(null, table -> e)) tables.foreach(t =>
                sc.cancelJobsWithTag(tag(t), s"ClifEtl: table $table failed"))
              throw e
          } finally sc.removeJobTag(tag(table))
        }
        pool.submit(task)
      }
      futures.foreach(f => Try(f.get()))
      Option(failed.get).foreach { case (table, e) =>
        throw new RuntimeException(s"ClifEtl: table $table failed", e)
      }
      futures.map(_.get())
    } finally {
      // all blocks are done unless this thread was interrupted; then
      // interrupt theirs too, and wait before the caches are released
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Publish ETL outputs as encounter-key-BUCKETED (+sorted) catalog
    * tables (SURVEY.md §4; C19_HAR_ID is the contract's encounter
    * key): the entity-key equi-joins the reference
    * runs daily (vitals⋈labs⋈adt⋈meds "longitudinal assembly") then
    * execute with ZERO exchanges — co-location is paid once at write
    * time, not per query. The date-partitioned parquet from [[run]]
    * stays the archival/pruning layout; this is the join-serving
    * layout. At 100 TB pick `buckets` so one bucket ≈ a task's worth
    * of rows (128-512MB). */
  def publishBucketed(spark: SparkSession, outDir: String,
                      tables: Seq[String] = Seq("vitals", "labs"),
                      buckets: Int = 32,
                      keys: Seq[String] = Seq("C19_HAR_ID")): Seq[String] =
    tables.map { name =>
      val df = spark.read.parquet(s"$outDir/$name.parquet")
      val tbl = s"clif_${name}_bucketed"
      graft.ops.Scale.writeBucketed(df, tbl, keys, buckets, sortCols = keys)
      tbl
    }

  /** Raw delimited extract read with a SCHEMA SNAPSHOT: the first run
    * infers types (one extra parse pass) and pins the result as DDL
    * under `<outDir>/_schemas/`; later runs read with the pinned schema
    * and skip inference entirely. At 100 TB schema inference is a full
    * additional scan of every extract — pay it once, never again. A
    * stale snapshot surfaces as a loud analysis error, not silent
    * misreads (CSV schemas bind by position; never pin fewer columns
    * than the file has — the snapshot always captures all of them). */
  def rawExtract(spark: SparkSession, inDir: String, outDir: String,
                 name: String): DataFrame = {
    val snapDir = java.nio.file.Paths.get(outDir, "_schemas")
    val snap = snapDir.resolve(s"$name.ddl")
    val base = spark.read.option("header", true).option("delimiter", "|")
    if (java.nio.file.Files.exists(snap)) {
      base.schema(java.nio.file.Files.readString(snap))
        .csv(s"$inDir/$name.txt")
    } else {
      val df = base.option("inferSchema", true).csv(s"$inDir/$name.txt")
      java.nio.file.Files.createDirectories(snapDir)
      java.nio.file.Files.writeString(snap, df.schema.toDDL)
      df
    }
  }
}
