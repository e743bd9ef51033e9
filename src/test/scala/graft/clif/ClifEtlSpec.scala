package graft.clif

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.queries.Fixtures.tempDir

/** End-to-end drive of the ETL entry point over a generated raw extract:
  * every contract table is produced, contract-conform, and non-empty
  * where the fixture feeds it. This is the test that would have caught
  * round 1's missing medication_admin_intermittent output. Both runs
  * here overlap two tables at a time (the test session has 2 cores, so
  * `run` itself would take them one at a time).
  */
class ClifEtlSpec extends SparkSpec {

  private def write(dir: Path, name: String, header: String,
                    rows: Seq[String]): Unit =
    Files.writeString(dir.resolve(s"$name.txt"),
      (header +: rows).mkString("\n"))

  // epoch seconds for 2020-03-01 00:00:00 / +1h / +2h
  private val T0 = 1583020800L
  private val T1 = T0 + 3600
  private val T2 = T0 + 7200

  private lazy val inDir: Path = {
    val dir = java.nio.file.Paths.get(tempDir("graft_etl_in"))
    write(dir, "C19_FLOW_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|recorded_time|flo_meas_name|meas_value|meas_site_name",
      Seq(
        s"1|10|$T0|BLOOD PRESSURE|120/80|arm",
        s"1|10|$T1|NUR RS ARTERIAL BLOOD PRESSURE|118/78|arm", // full-sheet name
        s"1|10|$T0|PULSE|72|",
        s"1|10|$T0|RT RS OXYGEN DEVICE|Nasal Cannula|",
        s"1|10|$T0|RT RS OXYGEN FLOW|4|",
        s"1|10|$T0|NUR RA GLASGOW ADULT SCORING|9|",
        s"1|10|$T1|NUR RA GLASGOW ADULT SCORING|15|",
        s"2|20|$T0|UCMC_ANES R ANESTHESIA PULSE|88|"))
    write(dir, "C19_LAB_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|component_id|component_name|proc_name|order_time|result_time|ord_value|reference_value|reference_unit|lab_type_name",
      Seq(
        s"1|10|1|HEMOGLOBIN|CBC PANEL|$T0|$T1|12.1|g/dL|g/dL|numeric",
        // a component the round-1 inline 10-row vocab subset MISSED:
        s"1|10|2|ALT (SGPT)|LFT PANEL|$T0|$T1|33|U/L|U/L|numeric",
        s"2|20|3|UNMAPPED THING|MISC|$T0|$T1|1||x|numeric"))
    write(dir, "C19_ADT_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|in_time|out_time|adt_department_name|adt_room_nm_wid",
      Seq(
        s"1|10|$T0|$T2|T6IC UNIT|D410",
        s"2|20|$T0||N08E WARD|3021"))
    write(dir, "C19_PATIENT_DEMO_LDS",
      "C19_PATIENT_ID|race|ethnic|sex|birth_date",
      Seq(
        "1|White|Hispanic or Latino|Female|" + (T0 - 40L * 365 * 86400),
        "2|Other Asian|Not Hispanic, Latino/a, or Spanish origin|Male|" +
          (T0 - 70L * 365 * 86400)))
    write(dir, "C19_ENC_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|record_type|adm_date|disc_date",
      Seq(s"1|10|hb|$T0|$T2", s"2|20|hb|$T0|$T2", s"2|21|pb|$T0|$T2"))
    write(dir, "C19_PATIENT_ZIP_CODE_LDS",
      "C19_PATIENT_ID|zip_code", Seq("1|60637", "2|60615"))
    write(dir, "C19_ENC_XTRA_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|record_type|discharge_dispo",
      Seq(
        "1|10|hb|Discharged to Home or Self Care (Routine Discharge)",
        "2|20|hb|Expired"))
    write(dir, "C19_DX_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|dx_name|icd10_code|poa",
      Seq("1|10|Sepsis|A41.9|Y"))
    write(dir, "C19_FLOW_IO_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|recorded_time|flo_group_name|flo_meas_name|meas_value",
      Seq(
        s"1|10|2020-03-01 01:00:00|Fluid Delivered (L/Hr)|CRRT DIALYSIS FLOW|1.8",
        s"1|10|2020-03-01 01:00:00|Actual Fluid Removed (mL)|CRRT DIALYSIS REMOVED|120"))
    write(dir, "C19_RX_ADMIN_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|medication_id|medication_name|order_med_freq|take_med_dttm|take_med_dose|dose_units|order_start_time|prescript_sig|prescript_quantity|prescript_refills|mar_action|ordering_mode|rxnorm_code",
      Seq(
        // continuous: rate unit + CONTINUOUS freq + vocab-matched name
        s"1|10|100|norepinephrine 8mg/250ml|IV CONTINUOUS|$T1|5 mcg/min|mcg/min|$T0||||Given|Inpatient|1",
        // intermittent: a BOLUS of a continuous-vocab med (non-rate unit,
        // non-CONTINUOUS freq, name in the mapped set via the row above —
        // the reference semi-joins intermittent against the SAME
        // continuous-matched names, RCLIF_medications.Rmd:126-190)
        s"1|10|100|norepinephrine 8mg/250ml|ONCE|$T2|8 mg|mg|$T0||||Given|Inpatient|1",
        // insulin has no CONTINUOUS order -> not in mapped set -> excluded
        s"1|10|101|insulin aspart|TID|$T1|4 Units|Units|$T0||||Given|Inpatient|2",
        // unmatched med name -> excluded by the vocab semi-join
        s"2|20|102|obscuredrug 10mg|BID|$T1|10 mg|mg|$T0||||Given|Inpatient|3"))
    write(dir, "C19_RX_OUT_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|MED_ID|ORDER_START_TIME|ORDER_END_TIME|MEDICATION|MED_ROUTE|QUANTITY",
      Seq(
        s"1|10|100|$T0|$T2|norepinephrine 8mg/250ml|Intravenous|250",
        s"1|10|101|$T0|$T2|insulin aspart|Subcutaneous|10"))
    write(dir, "C19_RX_ORDER_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|medication_id|order_start_time|order_end_time|medication_name|order_med_freq|dose|dose_units",
      Seq(
        s"1|10|100|$T0|$T2|norepinephrine 8mg/250ml|IV CONTINUOUS|8|mg",
        s"1|10|101|$T0|$T2|insulin aspart|TID|4|Units"))
    dir
  }

  private def runOverlapped(outDir: String,
      tamper: (String, DataFrame) => DataFrame = (_, df) => df) =
    ClifEtl.run(spark, inDir.toString, outDir, threads = 2, tamper)

  private def poolThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName == "clif-etl")

  test("ClifEtl produces all 15 contract tables, contract-ok, expected rows") {
    assert(ClifEtl.poolSize(spark) == 1) // local[2]: cores / 2
    val outDir = tempDir("graft_etl_out")
    val results = runOverlapped(outDir)
    val byName = results.map(r => r._1 -> ((r._2, r._3))).toMap

    val expectedNonEmpty = Seq("vitals", "respiratory_support", "scores",
      "scores_sofa", "labs", "adt", "patient_demographics",
      "limited_identifiers", "encounter_demographics_dispo", "disposition",
      "admission_diagnosis", "dialysis", "medication_admin_continuous",
      "medication_admin_intermittent", "medication_orders")
    assert(results.map(_._1) == expectedNonEmpty) // the declared order
    expectedNonEmpty.foreach { n =>
      assert(byName(n)._2 == "contract-ok", s"$n: ${byName(n)._2}")
      assert(byName(n)._1 > 0, s"$n rows")
    }

    // the round-1 gaps, specifically:
    assert(byName("medication_admin_intermittent")._1 == 1L) // norepi bolus
    assert(byName("medication_admin_continuous")._1 == 1L)   // norepi drip
    // full-sheet vocab rows map names the inline subset missed
    val labs = spark.read.parquet(s"$outDir/labs.parquet")
    assert(labs.filter(org.apache.spark.sql.functions.col("lab_name") === "alt")
      .count() == 1)
    val vitals = spark.read.parquet(s"$outDir/vitals.parquet")
    // 2 BP rows split into sbp+dbp (4) + pulse rows (2) = 6
    assert(vitals.count() == 6)
    // sofa banding end-to-end: gcs 9 -> 3, gcs 15 -> 0
    val sofa = spark.read.parquet(s"$outDir/scores_sofa.parquet")
      .orderBy("score_time")
      .select("sofa_neuro")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(sofa.toSeq == Seq(Some(3), Some(0)))

    // sink layout: a date filter on the partition column prunes at plan
    // time (the property that makes "last week's vitals" cheap at 100 TB)
    val pruned = spark.read.parquet(s"$outDir/vitals.parquet")
      .filter(org.apache.spark.sql.functions.col("p_date") === "2020-03-01")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().mkString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("p_date"), scan.take(500))
    assert(pruned.count() == 6)

    // schema snapshots pinned for every raw extract (inference runs once)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(outDir, "_schemas")).count() >= 12)

    // bucketed publish: the daily vitals⋈labs⋈adt longitudinal
    // assembly (the reference's encounter_id join spine) on the
    // co-located layout runs with ZERO exchanges
    val Seq(vTbl, lTbl, aTbl) =
      ClifEtl.publishBucketed(spark, outDir, Seq("vitals", "labs", "adt"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force non-broadcast so bucketing is what saves the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(vTbl).select("C19_HAR_ID", "vital_name")
        .join(spark.table(lTbl).select("C19_HAR_ID", "lab_name"),
          Seq("C19_HAR_ID"))
        .join(spark.table(aTbl).select("C19_HAR_ID", "dept_name"),
          Seq("C19_HAR_ID"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a failing table fails the run, naming it, and leaves no running " +
    "job, cached intermediate or pool thread behind") {
    val outDir = tempDir("graft_etl_fail")
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.isEmpty, "a suite before this one left cached data")
    // a runtime failure in vitals' first job, while respiratory_support
    // runs beside it; the other 13 tables are still queued
    val boom = raise_error(lit("injected")).cast("string")
    val e = SparkSpec.withExpectedTaskFailures(intercept[RuntimeException](
      runOverlapped(outDir, (name, df) =>
        if (name == "vitals") df.withColumn("boom", boom) else df)))
    assert(e.getMessage.contains("table vitals failed"), e.getMessage)
    assert(!Files.exists(Paths.get(outDir, "medication_orders.parquet")),
      "a queued table started after the failure")
    // job ends reach the status store through the async listener bus
    eventually(timeout(Span(10, Seconds))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
    assert(cache.isEmpty, "the run left its med intermediates cached")
    poolThreads.foreach(_.join(10000))
    assert(poolThreads.isEmpty, poolThreads)
  }
}
