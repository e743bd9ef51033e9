package graft.clif

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Joins, Reshape, Scalars, WindowOps}

/** The nine CLIF ETL pipelines re-expressed Spark-first (SURVEY.md §3).
  *
  * Each pipeline is a pure function from raw-extract DataFrames to contract
  * DataFrames — sources injected for testability, lazy plans throughout,
  * no driver-side iteration. Timestamps stay `TimestampType` internally
  * (the reference formats to string at every write site; we format only at
  * the CSV sink — SURVEY.md §1.2).
  *
  * Scale notes: vocab joins broadcast; every window/join keys on
  * (patient, encounter) so one upstream repartition serves the chain.
  * [[ClifEtl.run]] writes each output as parquet partitioned by
  * event-time date where the table has one, neither bucketed nor
  * sorted; [[ClifEtl.publishBucketed]] is the opt-in encounter-bucketed
  * copy (SURVEY.md §4).
  */
object Pipelines {

  private val PID = "C19_PATIENT_ID"
  private val ENC = "C19_HAR_ID"

  /** Vitals long table (`code/RCLIF_vitals.Rmd:40-61`): vocab join,
    * blood-pressure split into sbp/dbp rows, epoch normalize, sort.
    * [[vitalsCore]] is the sort-free transform — the part that runs
    * identically over a STREAM (orderBy is a batch-only total sort; the
    * sink partitioning carries the physical order at scale anyway). */
  def vitals(allVitals: DataFrame, vitalsVocab: DataFrame): DataFrame =
    vitalsCore(allVitals, vitalsVocab).orderBy(ENC, "recorded_time")

  def vitalsCore(allVitals: DataFrame, vitalsVocab: DataFrame): DataFrame = {
    val reqd = Joins.broadcastLeft(allVitals, vitalsVocab, Seq("flo_meas_name"))
      .filter(col("vital_name").isNotNull)

    val bp = Reshape.unpivot(
      Reshape.separate(
        reqd.filter(col("vital_name") === "blood_pressure"), "meas_value", "/",
        Seq("sbp", "dbp"))
        .select(PID, ENC, "recorded_time", "sbp", "dbp", "meas_site_name"),
      ids = Seq(PID, ENC, "recorded_time", "meas_site_name"),
      values = Seq("sbp", "dbp"),
      nameCol = "vital_name", valueCol = "vital_value")

    val rest = reqd.filter(col("vital_name") =!= "blood_pressure")
      .select(col(PID), col(ENC), col("recorded_time"), col("vital_name"),
        col("meas_value").as("vital_value"), col("meas_site_name"))

    rest.unionByName(bp.select(rest.columns.map(col): _*))
      .withColumn("recorded_time", Scalars.epochToTs(col("recorded_time")))
  }

  /** Respiratory-support wide table (`code/RCLIF_vitals.Rmd:97-166`):
    * pivot 10 settings to columns, classify device, clean lpm, coalesce
    * FiO2 variants, fill device/mode down-then-up per encounter. */
  def respSupport(allVitals: DataFrame, ventModeVocab: DataFrame): DataFrame = {
    val rawNames = Vocabularies.respSupportColumns.map(_._1)
    val wide0 = Reshape.pivotWider(
      allVitals.filter(col("flo_meas_name").isin(rawNames: _*))
        .select(PID, ENC, "recorded_time", "flo_meas_name", "meas_value"),
      ids = Seq(PID, ENC, "recorded_time"),
      nameCol = "flo_meas_name", valueCol = "meas_value",
      names = rawNames,
      // reference pivot_wider would list-collide on dup keys; we pin max
      // (deterministic) per SURVEY §7.1
      agg = c => max(c))
    val wide = Vocabularies.respSupportColumns.foldLeft(wide0) {
      case (d, (raw, nice)) => d.withColumnRenamed(raw, nice)
    }.withColumn("recorded_time", Scalars.epochToTs(col("recorded_time")))

    val joined = wide.join(broadcast(ventModeVocab), Seq("mode_name"),
      "full_outer")

    val derived = joined
      .withColumn("device_name", Vocabularies.classifyDevice(col("o2_device")))
      .withColumn("lpm", Vocabularies.cleanLpm(
        Scalars.toNumeric(col("oxygen_flow")), col("device_name")))
      .withColumn("fio2",
        Scalars.toNumeric(
          Scalars.priorityPick(col("fio2_raw"), col("vent_fio2"),
            col("ni_fio2"))) / 100)

    WindowOps.fillDownUp(derived, Seq(PID, ENC), Seq(col("recorded_time")),
        Seq("mode_name", "device_name", "mode_category"))
      .select(col(PID), col(ENC), col("recorded_time"), col("device_name"),
        col("mode_name"), col("mode_category"), col("set_volume"),
        col("pressure_support"), col("set_resp_rate"), col("lpm"),
        col("fio2"), col("peep"))
      .orderBy(PID, "recorded_time")
  }

  /** Labs long table (`code/RCLIF_labs.Rmd:46-76`). */
  def labs(labsAll: DataFrame, labsVocab: DataFrame): DataFrame =
    Joins.broadcastLeft(labsAll, labsVocab, Seq("component_name"))
      .filter(col("lab_name").isNotNull)
      .withColumn("lab_result_time", Scalars.epochToTs(col("result_time")))
      .withColumn("lab_order_time", Scalars.epochToTs(col("order_time")))
      .withColumnRenamed("ord_value", "lab_value")
      .select(PID, ENC, "lab_order_time", "lab_result_time", "lab_group",
        "proc_name", "lab_name", "component_name", "lab_value",
        "reference_value", "reference_unit", "lab_type_name")
      .dropDuplicates()
      .orderBy(PID, "lab_result_time")

  /** ADT location intervals (`code/RCLIF_adt.Rmd:30-92`): numeric-id
    * guard, department/room regex classification. Timestamps are EPOCH
    * SECONDS in the reference extract (`as.POSIXct(in_time,
    * origin="1970-01-01")`, `RCLIF_adt.Rmd:88-89`) — parsed epoch-first
    * with ISO fallback so both extract shapes survive the null guard. */
  def adt(adtRaw: DataFrame): DataFrame =
    adtRaw
      .withColumn("in_ts", Scalars.flexibleTs(col("in_time")))
      .withColumn("out_ts", Scalars.flexibleTs(col("out_time")))
      .filter(Scalars.isNumeric(col(PID)) && Scalars.isNumeric(col(ENC)) &&
        col("in_ts").isNotNull)
      .withColumn("dept_name",
        Vocabularies.classifyDepartment(col("adt_department_name")))
      .withColumn("room_name", Vocabularies.classifyRoom(col("adt_room_nm_wid")))
      .select(col(PID), col(ENC), col("in_ts").as("start_time"),
        col("out_ts").as("end_time"), col("adt_department_name"),
        col("adt_room_nm_wid"), col("dept_name"), col("room_name"))
      .orderBy(PID, "start_time")

  /** Scores long table (`code/RCLIF_scores.Rmd:49-56`). */
  def scores(allVitals: DataFrame): DataFrame =
    allVitals.filter(col("flo_meas_name").isin(Vocabularies.gcsScoreNames: _*))
      .select(col(PID), col(ENC),
        Scalars.epochToTs(col("recorded_time")).as("score_time"),
        col("flo_meas_name").as("score_name"),
        col("meas_value").as("score_value"))
      .orderBy(PID, "score_time")

  /** SOFA-neuro wide table (`code/RCLIF_scores.Rmd:86-92`): the 4 GCS
    * components pivoted wide per (patient, encounter, time) — declared
    * names, single-pass — then the GCS total banded into sofa_neuro 0-4.
    * Non-numeric/absent totals yield null, matching the reference
    * case_when with no catch-all. */
  def scoresSofa(allVitals: DataFrame): DataFrame = {
    val contractNames = Seq(
      "gcs_total", "gcs_motor", "gcs_eye", "gcs_verbal")
    val wide0 = Reshape.pivotWider(scores(allVitals),
      ids = Seq(PID, ENC, "score_time"),
      nameCol = "score_name", valueCol = "score_value",
      names = Vocabularies.gcsScoreNames,
      // duplicate (key, name) measurements pin max — deterministic
      agg = c => max(c))
    val wide = Vocabularies.gcsScoreNames.zip(contractNames)
      .foldLeft(wide0) { case (d, (raw, nice)) => d.withColumnRenamed(raw, nice) }
    wide
      .withColumn("sofa_neuro", Vocabularies.sofaNeuro(col("gcs_total")))
      .orderBy(PID, "score_time")
  }

  /** Hourly SOFA composition over the blocked-dataset grid — the
    * reference's scores promise (`code/RCLIF_scores.Rmd:86-92`)
    * carried onto the per-(encounter, hour) capstone matrix: each
    * LOCF'd, staleness-bounded organ channel bands into a 0–4 organ
    * score, and the hourly composite `sofa_total` sums the PRESENT
    * scores — a stale channel contributes NOTHING rather than zero
    * (the missing-organ convention; `n_organs` records how many
    * organs were actually measured that hour, so a composite of 4
    * from one organ is distinguishable from 4 across three).
    *
    * Neuro uses the EXACT reference GCS banding
    * ([[Vocabularies.sofaNeuro]]: <6→4, <10→3, <13→2, <15→1, 15→0 —
    * no catch-all, absent→null) over a micro-exact GCS analog of the
    * vital channel (3 + micros(value) mod 13 ∈ 3..15; the micro
    * quantization `value → decimal(18,6) → ×10⁶ → long` is the
    * engine-portable exact grid, so the analog — and therefore every
    * band — replays bit-identically in SQL). Resp/renal band on
    * declared value thresholds with an explicit isNotNull arm so a
    * stale channel scores null, never 0.
    *
    * Scale shape: ZERO new shuffles — banding is per-row on the
    * already-assembled grid and the composite is row-local, so this
    * adds nothing to the capstone's one-exchange-family plan at any
    * width (the wide15 sweep's marginal-cost-~0 contract). */
  def sofaHourly(bd: DataFrame, neuroCol: String, respCol: String,
                 renalCol: String): DataFrame = {
    val gcs = lit(3) + pmod((col(neuroCol).cast("decimal(18,6)") *
      lit(1000000L)).cast("long"), lit(13))
    def band(c: Column, t4: Int, t3: Int, t2: Int, t1: Int): Column =
      when(c >= t4, 4).when(c >= t3, 3).when(c >= t2, 2)
        .when(c >= t1, 1).when(c.isNotNull, 0)
    val scored = bd
      .withColumn("sofa_neuro", Vocabularies.sofaNeuro(gcs))
      .withColumn("sofa_resp", band(col(respCol), 400, 300, 200, 100))
      .withColumn("sofa_renal", band(col(renalCol), 440, 350, 170, 110))
    val organs = Seq("sofa_neuro", "sofa_resp", "sofa_renal")
    scored
      .withColumn("n_organs",
        organs.map(o => col(o).isNotNull.cast("int")).reduce(_ + _))
      .withColumn("sofa_total",
        when(col("n_organs") > 0,
          organs.map(o => coalesce(col(o), lit(0))).reduce(_ + _)))
  }

  /** med_out projection shared by the three medication outputs
    * (`code/RCLIF_medications.Rmd:40-49`) — cache the result when feeding
    * multiple sinks (SURVEY.md §4 shared-intermediate note). */
  def medOutSubset(medOut: DataFrame): DataFrame =
    medOut.select(
      col(PID), col(ENC), col("MED_ID").as("medication_id"),
      Scalars.epochToTs(col("ORDER_START_TIME")).as("order_start_dttm"),
      Scalars.epochToTs(col("ORDER_END_TIME")).as("order_end_dttm"),
      col("MEDICATION").as("medication_name"),
      col("MED_ROUTE").as("med_route"), col("QUANTITY").as("quantity"))

  /** Medication orders (`code/RCLIF_medications.Rmd:53-69`): 5-key left
    * join with explicit disambiguation of the duplicate order_end_dttm
    * (R's `.x` suffix -> alias). */
  def medicationOrders(medOrders: DataFrame, medOutSub: DataFrame): DataFrame = {
    val orders = medOrders.select(
      col(PID), col(ENC), col("medication_id"),
      Scalars.epochToTs(col("order_start_time")).as("order_start_dttm"),
      Scalars.epochToTs(col("order_end_time")).as("order_end_dttm"),
      col("medication_name"), col("order_med_freq").as("med_frequency"),
      col("dose").as("med_dose"), col("dose_units").as("med_dose_units"))
    orders.as("o")
      .join(medOutSub.as("m"),
        Seq(PID, ENC, "medication_id", "order_start_dttm", "medication_name"),
        "left")
      .select(col(PID).as("patient_id"), col(ENC).as("encounter_id"),
        col("medication_id"), col("order_start_dttm"),
        col("o.order_end_dttm").as("order_end_dttm"),
        col("medication_name").as("med_name"), col("m.med_route"),
        col("med_dose"), col("med_dose_units"), col("med_frequency"))
  }

  /** Vocab regex match (`code/RCLIF_medications.Rmd:98-128`): distinct
    * (id, name, freq) triples matched against med vocab on the first two
    * words, word-boundary, case-insensitive; keep CONTINUOUS freq. */
  def matchContinuousMeds(medAdmin: DataFrame, medsVocab: DataFrame)
      : DataFrame = {
    val names = medAdmin
      .select("medication_id", "medication_name", "order_med_freq").distinct()
      .withColumn("first_two", Scalars.firstWords(col("medication_name"), 2))
    Joins.regexVocabJoin(names, medsVocab, "first_two", "med_name")
      .filter(col("order_med_freq").contains("CONTINUOUS"))
      .drop("first_two")
  }

  private def parseAdminDoses(medAdmin: DataFrame): DataFrame =
    medAdmin
      .drop("prescript_sig", "prescript_quantity", "prescript_refills",
        "mar_action", "ordering_mode", "rxnorm_code")
      .withColumn("admin_dttm", Scalars.epochToTs(col("take_med_dttm")))
      .withColumn("order_start_dttm", Scalars.epochToTs(col("order_start_time")))
      .withColumn("med_dose_unit",
        trim(Scalars.fallbackIfBlank(col("dose_units"),
          Scalars.stripNumber(col("take_med_dose")))))
      .withColumn("med_dose",
        array_join(regexp_extract_all(col("take_med_dose"),
          lit("[-+]?[0-9]*\\.?[0-9]+([eE][-+]?[0-9]+)?"), lit(0)), ""))

  /** Continuous medication administrations
    * (`code/RCLIF_medications.Rmd:133-159`): rate-unit filter, 5-key join
    * to med_out, semi-join to the matched vocab, category attach. */
  def medicationAdminContinuous(medAdmin: DataFrame, medOutSub: DataFrame,
                                medNamesMapped: DataFrame): DataFrame = {
    val reqd = parseAdminDoses(medAdmin)
      .filter(col("med_dose_unit").rlike("(?i)min|hr|day"))
      .as("a")
      .join(medOutSub.as("m"),
        Seq(PID, ENC, "medication_id", "order_start_dttm", "medication_name"),
        "left")
      .join(medNamesMapped.select("medication_name").distinct(),
        Seq("medication_name"), "left_semi")
      .select(col(PID), col(ENC), col("admin_dttm"), col("medication_name"),
        col("m.med_route").as("med_route"), col("med_dose"),
        col("med_dose_unit"))
    Joins.broadcastLeft(reqd,
        medNamesMapped.select(col("medication_name"), col("med_name"),
          col("med_category")).distinct(),
        Seq("medication_name"))
      .select(col(PID), col(ENC).as("encounter_id"), col("admin_dttm"),
        col("med_name"), col("med_route"), col("med_category"),
        col("med_dose"), col("med_dose_unit"))
      .orderBy(PID, "encounter_id", "admin_dttm")
  }

  /** Intermittent administrations (`code/RCLIF_medications.Rmd:176-192`):
    * negated rate-unit filter and non-CONTINUOUS frequency. */
  def medicationAdminIntermittent(medAdmin: DataFrame, medOutSub: DataFrame,
                                  medNamesMapped: DataFrame): DataFrame =
    parseAdminDoses(medAdmin)
      .filter(!col("med_dose_unit").rlike("(?i)min|hr|day") &&
        !col("order_med_freq").contains("CONTINUOUS"))
      .as("a")
      .join(medOutSub.as("m"),
        Seq(PID, ENC, "medication_id", "order_start_dttm", "medication_name"),
        "left")
      .join(medNamesMapped.select("medication_name").distinct(),
        Seq("medication_name"), "left_semi")
      .select(col(PID), col(ENC), col("admin_dttm"), col("medication_name"),
        // med_route rides in from the med_out join, as in the reference's
        // select (RCLIF_medications.Rmd:191)
        col("m.med_route").as("med_route"), col("med_dose"),
        col("med_dose_unit"))

  /** Patient demographics (`code/RCLIF_demographics.Rmd:53-80`). */
  def patientDemographics(demo: DataFrame): DataFrame =
    demo.select(
      col(PID),
      when(col("race").isNull, lit(null))
        .otherwise(Scalars.recode(col("race"), Vocabularies.raceRecode,
          lit("Other"))).as("race"),
      when(col("race").isNull, lit(null))  // reference keys BOTH on race-null
        .otherwise(Scalars.recode(col("ethnic"),
          Vocabularies.ethnicityRecode, lit(null))).as("ethnicity"),
      col("sex"))
      .orderBy(PID)

  /** Limited identifiers (`code/RCLIF_demographics.Rmd:93-99`). */
  def limitedIdentifiers(encounters: DataFrame, demo: DataFrame,
                         zipcodes: DataFrame): DataFrame = {
    val enc = encounters.filter(col("record_type") === "hb")
      .select(col(PID), col(ENC),
        Scalars.epochToTs(col("adm_date")).as("admission_date"),
        Scalars.epochToTs(col("disc_date")).as("discharge_date"))
    // demo/zipcodes are one row per PATIENT — they scale with the data,
    // unlike bounded vocab dims, so no broadcast hint: a shuffle join on
    // the patient key (AQE still broadcasts if the side is actually
    // small) avoids the driver/executor OOM an explicit broadcast of a
    // patient table guarantees at 100×.
    enc
      .join(demo.select(col(PID),
        Scalars.epochToTs(col("birth_date")).as("birth_date")), Seq(PID), "left")
      .join(zipcodes.select(col(PID), col("zip_code")), Seq(PID), "left")
      .select(PID, ENC, "admission_date", "discharge_date", "birth_date",
        "zip_code")
  }

  /** Encounter demographics + disposition
    * (`code/RCLIF_demographics.Rmd:110-163`): age at admission (whole
    * calendar years) + harmonized disposition. */
  def encounterDemographicsDispo(dispo: DataFrame, encounters: DataFrame,
                                 demo: DataFrame): DataFrame = {
    val encAge = encounters.filter(col("record_type") === "hb")
      .select(col(PID), col(ENC),
        Scalars.epochToTs(col("adm_date")).as("adm_ts"))
      // patient-level side: plain join, AQE decides (see limitedIdentifiers)
      .join(demo.select(col(PID),
        Scalars.epochToTs(col("birth_date")).as("birth_ts")), Seq(PID), "left")
      .filter(col("adm_ts").isNotNull)
      .withColumn("age_at_admission",
        Scalars.ageYears(to_date(col("birth_ts")), to_date(col("adm_ts"))))
    dispo.filter(col("record_type") === "hb")
      .select(col(PID), col(ENC),
        Vocabularies.classifyDisposition(col("discharge_dispo"))
          .as("disposition"))
      .join(encAge.select(PID, ENC, "age_at_admission"), Seq(PID, ENC), "left")
      .select(col(PID), col(ENC), col("age_at_admission"), col("disposition"))
      .orderBy(PID, ENC)
  }

  /** Standalone disposition table (`code/RCLIF_disposition.Rmd:44-92`):
    * hb rows, keep-LAST per patient (explicit order + tiebreak — SURVEY
    * §7.2), harmonize, pseudonymize ids. */
  def disposition(dispoRaw: DataFrame): DataFrame =
    WindowOps.dedupKeepLast(
      dispoRaw.filter(col("record_type") === "hb")
        .select(col(PID), col(ENC), col("discharge_dispo")),
      keys = Seq(PID), orderBy = Seq(col(ENC), col("discharge_dispo")))
      .select(
        Scalars.hashId(col(PID)).as("patient_ID"),
        Scalars.hashId(col(ENC)).as("encounter_ID"),
        Vocabularies.classifyDisposition(col("discharge_dispo"))
          .as("disposition_name"))

  /** Admission diagnosis (`code/RCLIF_admission_diagnosis.Rmd:23-35`).
    * The `dianosis_code` typo is the reference's contract; kept. */
  def admissionDiagnosis(dxAll: DataFrame): DataFrame =
    dxAll.select(col(PID), col(ENC),
      col("dx_name").as("diagnosis_name"),
      col("icd10_code").as("dianosis_code"),
      col("poa").as("pta"))
      .orderBy(PID, ENC)
}
