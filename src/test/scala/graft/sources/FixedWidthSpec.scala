package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class FixedWidthSpec extends SparkSpec {
  import spark.implicits._

  test("fixed-width write→read roundtrip is value-lossless, including " +
    "negatives, short strings and boundary-width fields") {
    val rows = Seq(
      (1L, "Customer#000000001", 7, -994.28, "BUILDING"),
      (42L, "X", 0, 0.0, "AUTOMOBILE"),          // shortest name
      (999999999L, "Customer#999999999", 24, 9997.41, "MACHINERY")
    ).toDF("k", "name", "nk", "bal", "seg")
    val dir = tempDir("graft_fw_spec") + "/data"
    FixedWidth.write(rows,
      Seq("%09d", "%-25s", "%03d", "%12.2f", "%-10s"), dir)
    val back = FixedWidth.read(spark, dir, Seq(
        FixedWidth.FwCol("k", 1, 9, "bigint"),
        FixedWidth.FwCol("name", 10, 25),
        FixedWidth.FwCol("nk", 35, 3, "int"),
        FixedWidth.FwCol("bal", 38, 12, "double"),
        FixedWidth.FwCol("seg", 50, 10)))
      .as[(Long, String, Int, Double, String)].collect().toSet
    assert(back == rows.as[(Long, String, Int, Double, String)]
      .collect().toSet, back.toString)
    // every rendered line has the exact layout width
    val widths = spark.read.text(dir)
      .select(length(col("value"))).as[Int].collect().toSet
    assert(widths == Set(59), widths.toString)
  }

  test("malformed numeric slices become null (cast-to-null), not errors") {
    val dir = tempDir("graft_fw_bad") + "/data"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.txt"),
      "0000000XY" + "garbled".padTo(25, ' ') + "0ZZ" +
        "     oops.xx" + "SEGMENT".padTo(10, ' ') + "\n" +
      String.format("%09d%-25s%03d%12.2f%-10s%n",
        Long.box(2L), "ok", Int.box(1), Double.box(10.5), "BUILDING"))
    val back = FixedWidth.read(spark, dir, Seq(
        FixedWidth.FwCol("k", 1, 9, "bigint"),
        FixedWidth.FwCol("name", 10, 25),
        FixedWidth.FwCol("nk", 35, 3, "int"),
        FixedWidth.FwCol("bal", 38, 12, "double"),
        FixedWidth.FwCol("seg", 50, 10)))
    val bad = back.filter(col("k").isNull || col("bal").isNull).count()
    val good = back.filter(col("k") === 2L && col("bal") === 10.5).count()
    assert(bad == 1 && good == 1)
  }
}
