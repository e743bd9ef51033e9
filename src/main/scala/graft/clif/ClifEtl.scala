package graft.clif

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
    * output. Session-agnostic so specs drive it end-to-end. */
  def run(spark: SparkSession, inDir: String, outDir: String)
      : Seq[(String, Long, String)] = {
    def raw(name: String): DataFrame = rawExtract(spark, inDir, outDir, name)

    val allVitals = raw("C19_FLOW_LDS")
    // Shared intermediates, each feeding 2-3 outputs below: cache once,
    // release after the write loop (SURVEY.md §4 — the round-1 version
    // re-scanned the med CSVs per output).
    val medAdmin = raw("C19_RX_ADMIN_LDS").cache()
    val medOutSub = Pipelines.medOutSubset(raw("C19_RX_OUT_LDS")).cache()
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
          raw("C19_PATIENT_DEMO_LDS"), raw("C19_PATIENT_ZIP_CODE_LDS")), None),
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

    val results = outputs.map { case (name, df0, eventCol) =>
      // "dynamic at source, fixed at sink": cast to the contract schema
      val df = ClifSchemas.all.get(name)
        .map(c => ClifSchemas.conform(df0, c)).getOrElse(df0)
      ClifSink.parquet(df, s"$outDir/$name.parquet", eventCol)
      ClifSink.csv(df, s"$outDir/$name.csv")
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
    medAdmin.unpersist()
    medOutSub.unpersist()
    results
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
