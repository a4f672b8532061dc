package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.Xlsx

class XlsxSpec extends SparkSpec {

  private val dir = s"${Q.scratch}/test/xlsx"

  test("write→read round-trip: strings (escapes, unicode), numbers, booleans, nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain", Some(1.5), Some(true)),
      (2L, "esc <&> \"q\" 'a'", Some(-0.25), Some(false)),
      (3L, "unicode é↔中文", None, None),
      (4L, "tab\tand\nnewline", Some(1.0e7), Some(true))
    ).toDF("id", "s", "x", "b")
      .select(col("id"), col("s"), col("x"), col("b"))
    Files.createDirectories(Paths.get(dir))
    val path = s"$dir/rt.xlsx"
    Xlsx.write(df, path, sheet = "data")

    val back = Xlsx.read(spark, path, sheet = Some("data"))
    assert(back.columns.toSeq == Seq("id", "s", "x", "b"))
    val rows = back
      .select(col("id").cast("long"), col("s"), col("x").cast("double"),
        col("b").cast("boolean"))
      .orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0) == Row(1L, "plain", 1.5, true))
    assert(rows(1) == Row(2L, "esc <&> \"q\" 'a'", -0.25, false))
    assert(rows(2).getString(1) == "unicode é↔中文" && rows(2).isNullAt(2) && rows(2).isNullAt(3))
    // \t and \n survive (xml:space="preserve"); \r is normalized by XML
    // line-end rules — acceptable container semantics
    assert(rows(3).getString(1) == "tab\tand\nnewline")
    assert(rows(3).getDouble(2) == 1.0e7)
  }

  test("reader handles sharedStrings, rich-text runs, and gap cells (foreign writer shape)") {
    // hand-build the layout pandas/openpyxl emit: sharedStrings + t="s"
    // cells + a skipped column (B absent on row 3)
    def entry(z: ZipOutputStream, name: String, s: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(s.getBytes(UTF_8)); z.closeEntry()
    }
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, UTF_8)
    entry(z, "[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    entry(z, "_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry(z, "xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="other" sheetId="1" r:id="rId1"/><sheet name="tbl" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    entry(z, "xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/></Relationships>""")
    entry(z, "xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3"><si><t>k</t></si><si><t>v</t></si><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>""")
    entry(z, "xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>wrong</t></is></c></row></sheetData></worksheet>""")
    entry(z, "xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42</v></c></row>
        |<row r="3"><c r="A3" t="str"><v>formula-str</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.close()

    val (header, rowsIt) = Xlsx.parseRows(bos.toByteArray, sheet = Some("tbl"))
    val rows = rowsIt.toVector
    assert(header.toSeq == Seq("k", "v"))
    assert(rows(0).toSeq == Seq("rich", "42")) // rich-text runs concatenate
    assert(rows(1).toSeq == Seq("formula-str", null)) // gap cell -> null
    // default sheet = first in workbook order
    assert(Xlsx.parseRows(bos.toByteArray)._1.toSeq == Seq("wrong"))
  }

  test("partitioned write: one part per non-empty partition, glob read unions them") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("id", "name", "v")
    val out = s"$dir/parts"
    Xlsx.writePartitioned(df.repartition(4, col("id")), out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.length == 4)
    val back = Xlsx.read(spark, s"$out/*.xlsx")
      .select(col("id").cast("long"), col("name"), col("v").cast("double"))
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).head.getLong(0) == 500500L)
    // full-fidelity equality against the source
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("header mismatch across files fails fast with the offending path") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((1, "x")).toDF("id", "OTHER")
    val out = s"$dir/mismatch"
    Files.createDirectories(Paths.get(out))
    Xlsx.write(a, s"$out/a.xlsx")
    Xlsx.write(b, s"$out/b.xlsx")
    val e = intercept[org.apache.spark.SparkException] {
      Xlsx.read(spark, s"$out/*.xlsx").count()
    }
    assert(e.getMessage.contains("header mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("header mismatch")))
  }

  test("sheet cap enforced on write") {
    val big = spark.range(0, 1048577L).toDF("id")
    val e = intercept[Exception] { Xlsx.write(big, s"$dir/toobig.xlsx") }
    assert(e.getMessage.contains("sheet cap"))
  }
}
