package clifbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators owned by the benchmark. Every generator is
  * sized by encounter count, so doubling the encounters roughly doubles
  * every generated table, and is a pure function of (seed, size): the
  * same seed writes the same rows.
  *
  * Both generators share one ICU encounter model: heavy-tailed stays
  * (log-normal, median ~40 h, capped at 21 days), patients with one to
  * three encounters, admissions in the week from 2020-03-01. */
object Generators {

  /** Rows and bytes of one generated input file or directory. */
  final case class InputStat(name: String, rows: Long, bytes: Long)

  /** What a raw-extract generation wrote, with the row counts the
    * generator fixes for five output tables. */
  final case class RawExtract(inputs: Seq[InputStat],
                              expectedRows: Map[String, Long])

  private val T0 = 1583020800L // 2020-03-01 00:00:00 UTC

  /** Admissions fall in one week, the span of a weekly extract. */
  val AdmitDays = 7

  private final case class Encounter(pid: Long, har: Long, admit: Long,
                                     losHours: Int)

  /** Stay lengths in hours: the n stratified quantiles of a log-normal
    * (median 40 h, sigma 0.9) in [4 h, 21 days], dealt out in a seeded
    * order. The multiset depends on n only, so the input size does not
    * swing with the seed while the tail stays heavy. */
  private def stays(rnd: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val normal = new org.apache.commons.math3.distribution
      .NormalDistribution(null, 0.0, 1.0)
    val los = Array.tabulate(n) { i =>
      val z = normal.inverseCumulativeProbability((i + 0.5) / n)
      math.min(21 * 24, math.max(4, math.exp(math.log(40.0) + 0.9 * z).toInt))
    }
    shuffle(rnd, los).toIndexedSeq
  }

  /** Seeded Fisher-Yates shuffle, in place. */
  private def shuffle[T](rnd: SplittableRandom, a: Array[T]): Array[T] = {
    var k = a.length - 1
    while (k > 0) {
      val j = rnd.nextInt(k + 1)
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    a
  }

  private def encounters(rnd: SplittableRandom, n: Int): Seq[Encounter] = {
    val los = stays(rnd, n)
    var pid = 100000L
    var left = 0
    (0 until n).map { e =>
      if (left == 0) { pid += 1 + rnd.nextInt(3); left = 1 + rnd.nextInt(3) }
      left -= 1
      Encounter(pid, 5000000L + e * 7L, T0 + rnd.nextLong(AdmitDays * 86400L),
        los(e))
    }
  }

  private def pick[T](rnd: SplittableRandom, xs: IndexedSeq[T]): T =
    xs(rnd.nextInt(xs.size))

  private def resourceColumn(path: String, column: Int,
                             where: Array[String] => Boolean = _ => true)
      : IndexedSeq[String] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing vocab resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().drop(1)
      .filter(_.nonEmpty).map(_.split(",", -1)).filter(where)
      .map(_(column)).toVector.distinct
    finally in.close()
  }

  private def fixed(x: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, x)

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  private def isoTs(epoch: Long): String =
    fmt.format(java.time.Instant.ofEpochSecond(epoch))

  /** Pipe-delimited extract writer counting rows and bytes. */
  private final class Extract(dir: File, val name: String, header: String) {
    private val file = new File(dir, s"$name.txt")
    private val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    private var n = 0L
    out.write(header); out.write('\n')
    def row(fields: Any*): Unit = {
      out.write(fields.mkString("|")); out.write('\n'); n += 1
    }
    def close(): InputStat = { out.close(); InputStat(name, n, file.length) }
  }

  /** The twelve raw `C19_*_LDS` extracts (FIXTURES.md §1 columns),
    * written to `dir`. Carries the shapes the pipelines must survive:
    * blood pressure as "120/80" strings, malformed numerics, empty
    * strings, exact duplicate rows, non-numeric ADT ids, and a mix of
    * epoch-second and "yyyy-MM-dd HH:mm:ss" times. */
  def rawExtracts(dir: File, seed: Long, encounterCount: Int): RawExtract = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val encs = encounters(rnd, encounterCount)
    val patients = encs.map(_.pid).distinct

    val vitalsCsv = "/graft/clif/vitals_flowsheet_names.csv"
    val bpNames = resourceColumn(vitalsCsv, 0, _(1) == "blood_pressure")
    val vitalNames = resourceColumn(vitalsCsv, 0,
      r => Set("pulse", "temperature", "spo2", "respirations")(r(1)))
    val labComponents = resourceColumn("/graft/clif/labs_component_map.csv", 0)
    val gcsNames = graft.clif.Vocabularies.gcsScoreNames.toVector
    val races = graft.clif.Vocabularies.raceRecode.keys.toVector.sorted :+ ""
    val ethnics = graft.clif.Vocabularies.ethnicityRecode.keys.toVector.sorted
    val dispos = (graft.clif.Vocabularies.homeCategories ++
      graft.clif.Vocabularies.deathCategories ++
      graft.clif.Vocabularies.hospiceCategories ++
      graft.clif.Vocabularies.admittedCategories :+
      "Discharged/transferred to a Skilled Nursing Facility").toVector
    val depts = Vector("T6IC MICU", "N08S SURG", "D410 ICU", "ED CCD",
      "N04W WARD", "CD MAIN OR", "T5NE WARD")
    val rooms = Vector("3021", "D410", "OTFA", "10035", "TS612", "4045")

    def num(mean: Double, sd: Double): String = {
      val u = rnd.nextInt(100)
      if (u == 0) "7..2" else if (u == 1) "" else
        fixed(mean + sd * rnd.nextGaussian(), 1)
    }

    val flow = new Extract(dir, "C19_FLOW_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|recorded_time|flo_meas_name|meas_value|meas_site_name")
    val labs = new Extract(dir, "C19_LAB_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|component_id|component_name|proc_name|order_time|result_time|ord_value|reference_value|reference_unit|lab_type_name")
    val adt = new Extract(dir, "C19_ADT_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|in_time|out_time|adt_department_name|adt_room_nm_wid")
    val demo = new Extract(dir, "C19_PATIENT_DEMO_LDS",
      "C19_PATIENT_ID|race|ethnic|sex|birth_date")
    val enc = new Extract(dir, "C19_ENC_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|record_type|adm_date|disc_date")
    val zip = new Extract(dir, "C19_PATIENT_ZIP_CODE_LDS",
      "C19_PATIENT_ID|zip_code")
    val xtra = new Extract(dir, "C19_ENC_XTRA_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|record_type|discharge_dispo")
    val dx = new Extract(dir, "C19_DX_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|dx_name|icd10_code|poa")
    val io = new Extract(dir, "C19_FLOW_IO_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|recorded_time|flo_group_name|flo_meas_name|meas_value")
    val admin = new Extract(dir, "C19_RX_ADMIN_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|medication_id|medication_name|order_med_freq|take_med_dttm|take_med_dose|dose_units|order_start_time|prescript_sig|prescript_quantity|prescript_refills|mar_action|ordering_mode|rxnorm_code")
    val out = new Extract(dir, "C19_RX_OUT_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|MED_ID|ORDER_START_TIME|ORDER_END_TIME|MEDICATION|MED_ROUTE|QUANTITY")
    val orders = new Extract(dir, "C19_RX_ORDER_LDS",
      "C19_PATIENT_ID|C19_HAR_ID|medication_id|order_start_time|order_end_time|medication_name|order_med_freq|dose|dose_units")

    var adtRows = 0L
    var hbPatients = Set.empty[Long]
    var hbEncounters = 0L
    var dxRows = 0L
    encs.foreach { e =>
      val end = e.admit + e.losHours * 3600L
      // vitals hourly, respiratory support every 2 h, GCS every 4 h
      (0 until e.losHours).foreach { h =>
        val t = e.admit + h * 3600L + rnd.nextInt(600)
        val site = pick(rnd, Vector("arm", "leg", ""))
        val bp = if (rnd.nextInt(100) == 0) "" else
          s"${100 + rnd.nextInt(60)}/${55 + rnd.nextInt(35)}"
        flow.row(e.pid, e.har, t, pick(rnd, bpNames), bp, site)
        val vital = Seq(e.pid, e.har, t, pick(rnd, vitalNames), num(85, 15),
          site)
        flow.row(vital: _*)
        if (rnd.nextInt(200) == 0) flow.row(vital: _*) // exact duplicate
        if (h % 2 == 0) {
          val rt = t + 60
          val device = pick(rnd,
            Vector("Vent", "Nasal Cannula", "High Flow NC", "Room Air", "Bipap"))
          flow.row(e.pid, e.har, rt, "RT RS OXYGEN DEVICE", device, "")
          flow.row(e.pid, e.har, rt, "RT RS OXYGEN FLOW", num(4, 2), "")
          flow.row(e.pid, e.har, rt, "RT RS FIO2", num(40, 10), "")
          if (device == "Vent") {
            flow.row(e.pid, e.har, rt, "RT RS CONVENTIONAL VENT MODES",
              pick(rnd, Vector("SIMV", "AC/VC", "PRVC", "PS")), "")
            flow.row(e.pid, e.har, rt, "RT RS VENT PRESSURES PEEP/CPAP",
              num(8, 2), "")
          }
        }
        if (h % 4 == 1) {
          val gt = t + 120
          val (m, ey, v) = (1 + rnd.nextInt(6), 1 + rnd.nextInt(4),
            1 + rnd.nextInt(5))
          flow.row(e.pid, e.har, gt, gcsNames(0), m + ey + v, "")
          flow.row(e.pid, e.har, gt, gcsNames(1), m, "")
          flow.row(e.pid, e.har, gt, gcsNames(2), ey, "")
          flow.row(e.pid, e.har, gt, gcsNames(3), v, "")
        }
      }
      // labs every 6-24 h, a small panel each time
      var lt = e.admit + 3600L
      while (lt < end) {
        (0 until 4).foreach { _ =>
          val comp = if (rnd.nextInt(20) == 0) "UNMAPPED COMPONENT"
            else pick(rnd, labComponents)
          val v = rnd.nextInt(50) match {
            case 0 => "<0.5"
            case 1 => ""
            case _ => fixed(rnd.nextDouble() * 100, 2)
          }
          labs.row(e.pid, e.har, 1000 + comp.length, comp, "PANEL",
            lt, lt + 1800 + rnd.nextInt(3600), v, "", "mg/dL", "numeric")
        }
        lt += 6 * 3600L + rnd.nextLong(18 * 3600L)
      }
      // ADT: 1-4 moves; even rows epoch, odd rows formatted strings;
      // 1 in 50 rows carries a non-numeric id the pipeline drops
      val moves = 1 + rnd.nextInt(4)
      (0 until moves).foreach { m =>
        val in = e.admit + m * (e.losHours * 3600L / moves)
        val outT = if (m == moves - 1) end else in + e.losHours * 3600L / moves
        val ts = (x: Long) => if (m % 2 == 0) x.toString else isoTs(x)
        val bad = rnd.nextInt(50) == 0
        adt.row(if (bad) s"X${e.pid}" else e.pid, e.har, ts(in),
          if (m == moves - 1 && rnd.nextBoolean()) "" else ts(outT),
          pick(rnd, depts), pick(rnd, rooms))
        if (!bad) adtRows += 1
      }
      val hb = rnd.nextInt(10) != 0
      enc.row(e.pid, e.har, if (hb) "hb" else "pb", e.admit, end)
      xtra.row(e.pid, e.har, if (hb) "hb" else "pb", pick(rnd, dispos))
      if (hb) { hbPatients += e.pid; hbEncounters += 1 }
      (0 until 1 + rnd.nextInt(3)).foreach { i =>
        val line = Seq(e.pid, e.har, pick(rnd,
          Vector("Sepsis", "Pneumonia", "ARDS", "Acute kidney injury")),
          s"J${10 + i}.${rnd.nextInt(10)}", pick(rnd, Vector("Y", "N", "")))
        dx.row(line: _*); dxRows += 1
        if (rnd.nextInt(40) == 0) { dx.row(line: _*); dxRows += 1 }
      }
      // dialysis for ~1 in 8 encounters: CRRT, intermittent HD or PD
      if (rnd.nextInt(8) == 0) {
        val d0 = e.admit + 7200L
        rnd.nextInt(3) match {
          case 0 => (0 until math.min(12, e.losHours - 2)).foreach { h =>
            val t = isoTs(d0 + h * 3600L)
            io.row(e.pid, e.har, t, "Fluid Delivered (L/Hr)",
              "CRRT DIALYSIS FLOW", num(1.8, 0.3))
            io.row(e.pid, e.har, t, "Actual Fluid Removed (mL)",
              "CRRT DIALYSIS REMOVED", num(120, 30))
          }
          case 1 =>
            io.row(e.pid, e.har, isoTs(d0), "Machine Number",
              "HD DIALYSIS MACHINE", 7)
            io.row(e.pid, e.har, isoTs(d0 + 4 * 3600L),
              "aUltra Filtration Net Loss", "HD DIALYSIS NET", num(2000, 300))
          case _ =>
            io.row(e.pid, e.har, isoTs(d0), "Initial Drain",
              "PD DIALYSIS DRAIN", num(500, 50))
            io.row(e.pid, e.har, isoTs(d0 + 6 * 3600L),
              "Total Ultrafiltration", "PD DIALYSIS UF", num(700, 80))
        }
      }
      // medications: a continuous drip, a bolus of the same drug, and an
      // unrelated intermittent drug
      val drip = pick(rnd, Vector("norepinephrine 8mg/250ml",
        "propofol 10 mg/ml", "heparin 25000 units/250ml", "fentanyl 2500 mcg/250ml"))
      val medId = 100 + drip.length
      val os = e.admit + 1800L
      val oe = math.max(os + 3600L, end - 3600L)
      out.row(e.pid, e.har, medId, os, oe, drip, "Intravenous", 250)
      out.row(e.pid, e.har, 900, os, oe, "vancomycin 1 g", "Intravenous", 1)
      orders.row(e.pid, e.har, medId, os, oe, drip, "IV CONTINUOUS", 8, "mg")
      orders.row(e.pid, e.har, 900, os, oe, "vancomycin 1 g", "Q12H", 1, "g")
      var at = os + 600L
      while (at < oe) {
        val rate = fixed(rnd.nextDouble() * 20, 1)
        admin.row(e.pid, e.har, medId, drip, "IV CONTINUOUS", at,
          s"$rate mcg/min", if (rnd.nextInt(10) == 0) "" else "mcg/min", os,
          "", "", "", "Given", "Inpatient", 1)
        at += 2 * 3600L
      }
      admin.row(e.pid, e.har, medId, drip, "ONCE", os + 900L, "2 mg", "mg",
        os, "", "", "", "Given", "Inpatient", 1)
      admin.row(e.pid, e.har, 900, "vancomycin 1 g", "Q12H", os + 1200L,
        "1 g", "g", os, "", "", "", "Given", "Inpatient", 2)
    }
    patients.foreach { p =>
      demo.row(p, pick(rnd, races), pick(rnd, ethnics),
        pick(rnd, Vector("Female", "Male")),
        T0 - (18L * 365 + rnd.nextInt(70 * 365)) * 86400L)
      zip.row(p, 60600 + rnd.nextInt(60))
    }
    val stats = Seq(flow, labs, adt, demo, enc, zip, xtra, dx, io, admin,
      out, orders).map(_.close())
    RawExtract(stats, Map(
      "patient_demographics" -> patients.size.toLong,
      "limited_identifiers" -> hbEncounters,
      "disposition" -> hbPatients.size.toLong,
      "admission_diagnosis" -> dxRows,
      "adt" -> adtRows))
  }

  /** Schema of the `events` table of the synthetic test data
    * (TESTDATA.md), which the graft operator queries read; its parquet
    * `ts` is a timestamp without time zone. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** ICU-shaped observations in the `events` schema: user_id is the
    * encounter; `click` rows are hourly vitals, `view` rows respiratory
    * readings every ~2 h, `purchase` rows labs every 6-24 h, `error`
    * rows adverse events (value > 150 = severe). About 1 in 200 rows
    * has a null encounter key and 1 in 50 vitals repeats its timestamp
    * with another value. Rows are returned in a seeded shuffle. */
  def icuEvents(seed: Long, encounterCount: Int): IndexedSeq[Row] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val encs = encounters(rnd, encounterCount)
    val rows = Vector.newBuilder[Row]
    var id = 0L
    def emit(user: java.lang.Long, t: Long, kind: String, v: Double): Unit = {
      id += 1
      val u: java.lang.Long = if (rnd.nextInt(200) == 0) null else user
      rows += Row(id, java.time.LocalDateTime.ofEpochSecond(t, 0,
          java.time.ZoneOffset.UTC), u, kind,
        math.rint(v * 100) / 100, s"""{"unit":"${kind.take(1)}"}""")
    }
    encs.zipWithIndex.foreach { case (e, i) =>
      val user = java.lang.Long.valueOf(i + 1L)
      val end = e.admit + e.losHours * 3600L
      (0 until e.losHours).foreach { h =>
        val t = e.admit + h * 3600L + rnd.nextInt(900)
        emit(user, t, "click", 80 + 15 * rnd.nextGaussian())
        if (rnd.nextInt(50) == 0)
          emit(user, t, "click", 80 + 15 * rnd.nextGaussian())
      }
      var t = e.admit + rnd.nextInt(3600)
      while (t < end) {
        emit(user, t, "view", 300 + 80 * rnd.nextGaussian())
        t += 5400L + rnd.nextInt(3600)
      }
      t = e.admit + 1800L + rnd.nextInt(7200)
      while (t < end) {
        emit(user, t, "purchase", 100 + 150 * rnd.nextDouble())
        t += 6 * 3600L + rnd.nextLong(18 * 3600L)
      }
      if (rnd.nextInt(3) == 0)
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          emit(user, e.admit + rnd.nextLong(e.losHours * 3600L), "error",
            300 * rnd.nextDouble())
        }
    }
    shuffle(rnd, rows.result().toArray).toIndexedSeq
  }

  /** Write [[icuEvents]] as an `events.parquet` directory of `files`
    * files under `dir`; returns its stat. */
  def writeIcuEvents(spark: SparkSession, dir: File, seed: Long,
                     encounterCount: Int, files: Int = 4): InputStat = {
    val rows = icuEvents(seed, encounterCount)
    val path = new File(dir, "events.parquet")
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, files), eventsSchema)
      .write.mode("overwrite").parquet(path.getPath)
    InputStat("events", rows.size.toLong, Fs.treeBytes(path))
  }
}
