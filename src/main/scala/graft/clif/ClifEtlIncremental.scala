package graft.clif

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.streaming.Drain

/** Incremental CLIF ETL: the batch vitals pipeline run as a Structured
  * Streaming job with `Trigger.AvailableNow` — new raw extract files
  * landing in `<inDir>` are processed EXACTLY ONCE per invocation, with
  * progress checkpointed under the output dir. This is the Spark-first
  * answer to the reference's "re-run the Rmd over the whole extract"
  * model: the same `Pipelines.vitalsCore` transform (vocab join, BP
  * split, epoch normalize) runs unchanged; only the source/sink change.
  * Requires a schema snapshot from a prior batch [[ClifEtl]] run (file
  * streams need an explicit schema — inference is batch-only).
  *
  * Usage: runMain graft.clif.ClifEtlIncremental <inDir> <outDir>
  */
object ClifEtlIncremental {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val spark = GraftSession.local()
    val rows = runVitals(spark, inDir, outDir)
    println(s"[etl-inc] vitals appended-output rows=$rows")
    spark.stop()
  }

  /** Stream the .txt files under `<inDir>/C19_FLOW_LDS/` through the
    * vitals transform
    * into `<outDir>/vitals_incremental.parquet`; returns total rows in
    * the output after the run. Idempotent across invocations: processed
    * files are tracked in the checkpoint, so a re-run with no new files
    * appends nothing. */
  def runVitals(spark: SparkSession, inDir: String, outDir: String): Long = {
    val snap = java.nio.file.Paths.get(outDir, "_schemas", "C19_FLOW_LDS.ddl")
    require(java.nio.file.Files.exists(snap),
      s"schema snapshot $snap missing — run the batch ClifEtl once first")
    val raw = spark.readStream
      .schema(java.nio.file.Files.readString(snap))
      .option("header", true).option("delimiter", "|")
      .csv(s"$inDir/C19_FLOW_LDS")
    val out = s"$outDir/vitals_incremental.parquet"
    val checkpoint = s"$outDir/_checkpoints/vitals"
    val q = Pipelines.vitalsCore(raw, Vocabularies.vitalsVocab(spark))
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    Drain.availableNow(q, checkpoint)
    spark.read.parquet(out).count()
  }
}
