package graft.sources

import graft.SparkSpec
import graft.queries.Fixtures.tempDir

class XlsxSourceSpec extends SparkSpec {
  import spark.implicits._

  test("roundtrip: writeXlsx -> readSheet preserves cells, gaps, escapes") {
    val rows = Seq(
      Seq("name", "group", "note"),
      Seq("pao2", "ABG", "a <b> & \"c\""),
      Seq("sodium", null, "x"), // gap cell -> null
      Seq("ph", "VBG", null))
    val bytes = XlsxSource.writeXlsx(rows, "vocab")
    val dir = tempDir("graft_xlsx")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "v.xlsx"), bytes)
    assert(XlsxSource.sheetNames(bytes) == Seq("vocab"))
    val df = XlsxSource.readSheet(spark, s"$dir/v.xlsx")
    assert(df.columns.toSeq == Seq("name", "group", "note"))
    val got = df.as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("pao2", "ABG", "a <b> & \"c\""),
      ("sodium", null, "x"),
      ("ph", "VBG", null)))
  }

  test("colIndex: A1-style letters to 0-based columns") {
    assert(XlsxSource.colIndex("A1") == 0)
    assert(XlsxSource.colIndex("Z9") == 25)
    assert(XlsxSource.colIndex("AA12") == 26)
    assert(XlsxSource.colIndex("AB1") == 27)
  }

  test("reads the reference's real lab vocabulary workbook (shared " +
    "strings, multi-sheet, BOM-polluted cells) and matches the " +
    "classpath CSV rendering") {
    // the workbook the reference feeds to read_excel
    // (code/RCLIF_labs.Rmd:38) — the gap this source closes
    val path = "/root/reference/rclif_data/lab_name_lab_group_units.xlsx"
    assume(new java.io.File(path).exists())
    val fileBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    assert(XlsxSource.sheetNames(fileBytes) ==
      Seq("lab_name_lab_group", "units"))
    val df = XlsxSource.readSheet(spark, path,
      sheet = Some("lab_name_lab_group"))
    // header cells carry a real-world mess (trailing spaces); the
    // reader cleans header names only, data cells stay verbatim
    assert(df.columns.take(4).toSeq ==
      Seq("lab_name", "lab_group", "reference_value", "lab_type_name"))
    // data cells keep their BOM pollution (cleaning is an explicit
    // downstream op, not reader magic) — strip it here and the sheet
    // must agree with the checked-in CSV rendering of the same sheet
    // (one name differs by the CSV's space->underscore normalization)
    val xlsxNames = df.select("lab_name").as[String].collect()
      .map(_.filterNot("﻿".contains(_)).trim.replace(' ', '_')).toSet
    val csvNames = spark.read.option("header", "true")
      .csv(getClass.getResource("/graft/clif/labs_analytes.csv").toString)
      .select("lab_name").as[String].collect().toSet
    assert(xlsxNames == csvNames && xlsxNames.size == 44)
  }

  test("readDistributed: a tree of workbooks, columns aligned by " +
    "header name per file, reordered columns still align") {
    val dir = tempDir("graft_xlsx2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "shard0"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "shard1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard0", "a.xlsx"),
      XlsxSource.writeXlsx(Seq(
        Seq("k", "v"), Seq("a", "1"), Seq("b", "2"))))
    // second workbook: columns REVERSED plus an extra one
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard1", "b.xlsx"),
      XlsxSource.writeXlsx(Seq(
        Seq("v", "extra", "k"), Seq("3", "x", "c"))))
    val df = XlsxSource.readDistributed(spark, dir, columns = Seq("k", "v"))
    val got = df.select("k", "v").as[(String, String)].collect().toSet
    assert(got == Set(("a", "1"), ("b", "2"), ("c", "3")))
    assert(df.select("_source_file").as[String].collect()
      .count(_.endsWith("b.xlsx")) == 1)
  }

  test("sharedStrings: phonetic <rPh> guide runs (Japanese workbooks) " +
    "are NOT concatenated into the cell value") {
    // hand-built minimal OOXML zip: Excel stores 東京 as rich runs plus
    // an <rPh> furigana run — the reader must keep only the base text
    def entry(name: String, content: String): (String, Array[Byte]) =
      name -> content.getBytes("UTF-8")
    val parts = Seq(
      entry("xl/workbook.xml",
        """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      entry("xl/_rels/workbook.xml.rels",
        """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>"""),
      entry("xl/sharedStrings.xml",
        """<sst count="2" uniqueCount="2">""" +
          """<si><t>plain</t></si>""" +
          """<si><r><t>東京</t></r>""" +
          """<rPh sb="0" eb="2"><t>トウキョウ</t></rPh>""" +
          """<phoneticPr fontId="1"/></si></sst>"""),
      entry("xl/worksheets/sheet1.xml",
        """<worksheet><sheetData>""" +
          """<row r="1"><c r="A1" t="s"><v>0</v></c>""" +
          """<c r="B1" t="s"><v>1</v></c></row>""" +
          """</sheetData></worksheet>"""))
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    parts.foreach { case (n, b) =>
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(b); z.closeEntry()
    }
    z.close()
    val rows = XlsxSource.parseSheet(bos.toByteArray)
    assert(rows.map(_.toSeq) == Seq(Seq("plain", "東京")),
      rows.map(_.toSeq).toString)
  }
}
