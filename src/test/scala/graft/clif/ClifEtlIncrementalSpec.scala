package graft.clif

import java.nio.file.{Files, Path}
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** The incremental vitals ETL: exactly-once file processing across
  * invocations, same transform as batch. */
class ClifEtlIncrementalSpec extends SparkSpec {

  private val header =
    "C19_PATIENT_ID|C19_HAR_ID|recorded_time|flo_meas_name|meas_value|meas_site_name"

  private def rows(base: Long): Seq[String] = Seq(
    s"1|10|${1583020800L + base}|BLOOD PRESSURE|120/80|arm",
    s"1|10|${1583020860L + base}|PULSE|72|",
    s"1|10|${1583020920L + base}|NOT A VITAL|9|")

  test("AvailableNow runs process each landed file exactly once") {
    val in = java.nio.file.Paths.get(tempDir("graft_inc_in"))
    val out = tempDir("graft_inc_out")
    // batch-shaped extract pins the schema snapshot
    Files.writeString(in.resolve("C19_FLOW_LDS.txt"),
      (header +: rows(0)).mkString("\n"))
    ClifEtl.rawExtract(spark, in.toString, out, "C19_FLOW_LDS").count()

    val streamDir: Path = in.resolve("C19_FLOW_LDS")
    Files.createDirectories(streamDir)
    Files.writeString(streamDir.resolve("part1.txt"),
      (header +: rows(0)).mkString("\n"))

    // BP row splits to 2 (sbp+dbp), pulse passes, unmapped drops -> 3
    assert(ClifEtlIncremental.runVitals(spark, in.toString, out) == 3L)
    // no new files -> nothing reprocessed
    assert(ClifEtlIncremental.runVitals(spark, in.toString, out) == 3L)
    // one new file -> only its delta appends
    Files.writeString(streamDir.resolve("part2.txt"),
      (header +: rows(3600)).mkString("\n"))
    assert(ClifEtlIncremental.runVitals(spark, in.toString, out) == 6L)
  }
}
