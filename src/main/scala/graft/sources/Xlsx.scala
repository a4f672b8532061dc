package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** XLSX container source + sink (SURVEY.md §2.1 S2/S8) with zero extra
  * dependencies: an .xlsx file is a ZIP of SpreadsheetML XML parts
  * (ECMA-376 / ISO 29500, the public OOXML spec), so `java.util.zip` +
  * the JDK's StAX parser cover the whole container.
  *
  * The reference round-trips every intermediate table through Excel
  * (`pd.read_excel` at /root/reference/filter.py:11, combat_norm.py:10-11,
  * top10k.py:5, bmiq_processing.py:9, pca_analysis.py:13;
  * `to_excel`/`write.xlsx` at filter.py:22,48, combat_norm.py:81,
  * DoBMIQ.R:196). Semantically those are rectangular header+rows tables;
  * this module reproduces that contract.
  *
  * Scale posture:
  *   - '''read''' is distributed: files arrive through
  *     [[BinaryFiles.read]] (one task per file, executor-side unzip+parse); only one
  *     file's header is peeked on the driver to fix the schema. A 100 TB
  *     corpus of many xlsx exports parallelizes by file exactly like any
  *     other non-splittable container (gzip CSV et al).
  *   - '''write''' is either (a) a driver-side bounded export — the xlsx
  *     format itself hard-caps a sheet at 1,048,576 rows, so "one Excel
  *     file" is inherently a bounded-export container, same posture as the
  *     bounded pivot export r04 — or (b) `writePartitioned`, one xlsx part
  *     file per Spark partition written executor-side through the Hadoop
  *     FileSystem API (the distributed path; each part respects the cap).
  *
  * Values are carried as strings on read (header-named, all-nullable) and
  * the caller casts — the same contract as Spark's CSV reader without
  * inferSchema, and the only honest option given xlsx cells are untyped
  * text/number unions. The writer emits numbers as native numeric cells
  * (`<v>`) and strings as inline strings (no sharedStrings part needed),
  * booleans as t="b", null as an omitted cell (reads back as NULL).
  */
object Xlsx {

  // ---------------------------------------------------------------- write

  private def colLetter(i: Int): String = {
    // 0 -> A, 25 -> Z, 26 -> AA ... (bijective base-26)
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      // literal control chars are illegal in XML 1.0 — drop them (they
      // cannot round-trip through the container at all)
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' => ()
      case c => sb.append(c)
    }
    sb.toString
  }

  private def isNumeric(v: Any): Boolean = v match {
    case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
         _: java.math.BigDecimal | _: BigDecimal => true
    case _ => false
  }

  /** Serialize header+rows to xlsx bytes (one sheet). Pure function of its
    * input — usable on the driver or inside an executor task.
    */
  def bytes(header: Seq[String], rows: Iterator[Row], sheet: String = "Sheet1"): Array[Byte] = {
    val sheetXml = new StringBuilder(1 << 16)
    sheetXml.append(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""".stripMargin)
    def cell(r: Int, c: Int, v: Any): Unit = {
      val ref = s"${colLetter(c)}$r"
      v match {
        case null => () // omitted cell -> NULL on read
        case b: Boolean =>
          sheetXml.append(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
        case n if isNumeric(n) =>
          sheetXml.append(s"""<c r="$ref"><v>${n.toString}</v></c>""")
        case other => // strings, dates, anything else -> inline string
          sheetXml.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xmlEscape(other.toString)}</t></is></c>""")
      }
    }
    sheetXml.append("""<row r="1">""")
    header.zipWithIndex.foreach { case (h, c) => cell(1, c, h) }
    sheetXml.append("</row>")
    var r = 2
    rows.foreach { row =>
      sheetXml.append(s"""<row r="$r">""")
      var c = 0
      while (c < row.length) { cell(r, c, row.get(c)); c += 1 }
      sheetXml.append("</row>")
      r += 1
      require(r <= 1048576 + 1, "xlsx sheet cap (1,048,576 rows) exceeded — use writePartitioned or a columnar sink")
    }
    sheetXml.append("</sheetData></worksheet>")

    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |</Types>""".stripMargin
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets><sheet name="${xmlEscape(sheet)}" sheetId="1" r:id="rId1"/></sheets>
         |</workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin

    ZipArchive.bytes(Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rootRels,
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> wbRels,
      "xl/worksheets/sheet1.xml" -> sheetXml.toString
    ).map { case (name, xml) => name -> xml.getBytes(UTF_8) })
  }

  /** S8 driver-side bounded sink: one xlsx file. The format's own
    * 1,048,576-row sheet cap makes this a bounded export by construction
    * (enforced, not assumed); the reference's `to_excel` calls all emit
    * small result tables (top-10k probes, DMP lists).
    */
  def write(df: DataFrame, path: String, sheet: String = "Sheet1"): Unit = {
    import scala.jdk.CollectionConverters._
    val header = df.columns.toSeq
    val data = bytes(header, df.toLocalIterator().asScala, sheet)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    // write-then-rename: a killed run must never leave a half-written
    // container at the published path (readers guard on file existence)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    val out = fs.create(tmp, true)
    out.write(data); out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** S8 distributed sink: one xlsx part per Spark partition, written
    * executor-side via the Hadoop FileSystem API (works on file:// here and
    * any cluster DFS unchanged). Each part independently respects the sheet
    * cap, so total exportable volume scales with partition count.
    */
  def writePartitioned(df: DataFrame, dir: String): Unit = {
    val header = df.columns.toSeq
    BinaryFiles.write(df, dir) { (it, open) =>
      if (it.hasNext) {
        val data = bytes(header, it)
        open(f"part-${org.apache.spark.TaskContext.getPartitionId()}%05d.xlsx")(_.write(data))
      }
    }
  }

  // ----------------------------------------------------------------- read

  /** A1-style reference -> 0-based column index ("C7" -> 2). */
  private def refToCol(ref: String): Int = {
    var i = 0; var n = 0
    while (i < ref.length && ref.charAt(i).isLetter) { n = n * 26 + (ref.charAt(i) - 'A' + 1); i += 1 }
    n - 1
  }

  private def secureFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** sharedStrings.xml -> indexed strings; each <si> concatenates all its
    * <t> runs (rich-text cells carry several).
    */
  private def parseSharedStrings(xml: Array[Byte]): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val r = secureFactory().createXMLStreamReader(new ByteArrayInputStream(xml))
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t"  => inT = true
            case _    => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inT && cur != null) cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t"  => inT = false
            case "si" => out += cur.toString; cur = null
            case _    => ()
          }
        case _ => ()
      }
    }
    r.close()
    out.toIndexedSeq
  }

  /** Resolve the sheet part path for `sheet` (None -> first sheet in
    * workbook order) via workbook.xml + its rels — the container's own
    * indirection, not a guessed "sheet1.xml".
    */
  private def sheetPart(ps: Map[String, Array[Byte]], sheet: Option[String]): String = {
    val wb = ps("xl/workbook.xml")
    val r = secureFactory().createXMLStreamReader(new ByteArrayInputStream(wb))
    var sheets = List.empty[(String, String)] // (name, rId)
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        var name = ""; var rid = ""
        for (i <- 0 until r.getAttributeCount) {
          r.getAttributeLocalName(i) match {
            case "name" => name = r.getAttributeValue(i)
            case "id"   => rid = r.getAttributeValue(i) // r:id
            case _      => ()
          }
        }
        sheets ::= (name, rid)
      }
    }
    r.close()
    sheets = sheets.reverse
    val rid = sheet match {
      case Some(n) => sheets.find(_._1 == n)
        .getOrElse(throw new IllegalArgumentException(s"sheet '$n' not found; have ${sheets.map(_._1)}")) ._2
      case None => sheets.head._2
    }
    val rels = ps("xl/_rels/workbook.xml.rels")
    val rr = secureFactory().createXMLStreamReader(new ByteArrayInputStream(rels))
    var target = ""
    while (rr.hasNext) {
      if (rr.next() == XMLStreamConstants.START_ELEMENT && rr.getLocalName == "Relationship") {
        var id = ""; var t = ""
        for (i <- 0 until rr.getAttributeCount) {
          rr.getAttributeLocalName(i) match {
            case "Id" => id = rr.getAttributeValue(i)
            case "Target" => t = rr.getAttributeValue(i)
            case _ => ()
          }
        }
        if (id == rid) target = t
      }
    }
    rr.close()
    if (target.startsWith("/")) target.drop(1) else s"xl/$target"
  }

  /** Parse one xlsx file's chosen sheet into (header row, data rows), every
    * cell rendered to its string form (numbers keep their raw <v> text).
    */
  def parseRows(content: Array[Byte], sheet: Option[String] = None): (Array[String], Iterator[Array[String]]) = {
    // xlsx parts are small relative to the file, and the file is already
    // the unit of parallelism
    val ps = ZipArchive.members(content).toMap
    val shared = ps.get("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(IndexedSeq.empty)
    val sheetXml = ps(sheetPart(ps, sheet))
    val r = secureFactory().createXMLStreamReader(new ByteArrayInputStream(sheetXml))

    val rows = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[(Int, String)]]
    var cells: mutable.ArrayBuffer[(Int, String)] = null
    var cellCol = -1; var autoCol = 0
    var cellType = ""
    var text: StringBuilder = null
    var capture = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => cells = mutable.ArrayBuffer.empty; autoCol = 0
            case "c" =>
              cellCol = -1; cellType = ""
              for (i <- 0 until r.getAttributeCount) {
                r.getAttributeLocalName(i) match {
                  case "r" => cellCol = refToCol(r.getAttributeValue(i))
                  case "t" => cellType = r.getAttributeValue(i)
                  case _ => ()
                }
              }
              if (cellCol < 0) cellCol = autoCol // cells without r= run left-to-right
            case "v" | "t" => capture = true; text = new StringBuilder
            case _ => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (capture) text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" | "t" =>
              capture = false
              if (cells != null && cellCol >= 0) {
                val raw = text.toString
                val value = cellType match {
                  case "s" => shared(raw.trim.toInt)
                  case "b" => if (raw.trim == "1") "true" else "false"
                  case _   => raw // n (default), str, inlineStr's <t>
                }
                cells += ((cellCol, value))
              }
            case "c" => autoCol = cellCol + 1
            case "row" => if (cells != null) { rows += cells; cells = null }
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    if (rows.isEmpty) (Array.empty, Iterator.empty)
    else {
      val width = rows.iterator.flatMap(_.iterator.map(_._1)).max + 1
      def densify(cs: mutable.ArrayBuffer[(Int, String)]): Array[String] = {
        val a = new Array[String](width)
        cs.foreach { case (i, v) => if (i < width) a(i) = v }
        a
      }
      (densify(rows.head), rows.iterator.drop(1).map(densify))
    }
  }

  /** S2 distributed scan: header from a single driver-side peek fixes the
    * schema (all string, caller casts — the CSV-without-inferSchema
    * contract); every `*.xlsx` at `pathGlob` (a file, a directory or a
    * path glob) then parses executor-side, one task per file
    * ([[BinaryFiles.read]]). Files whose header differs fail fast with the
    * offending file name (schema drift surfaces, not silently misaligns).
    */
  def read(spark: SparkSession, pathGlob: String, sheet: Option[String] = None): DataFrame = {
    val bin = BinaryFiles.read(spark, pathGlob, "*.xlsx")
    val first = bin.select("content").head.getAs[Array[Byte]](0)
    val header = parseRows(first, sheet)._1
    val schema = StructType(header.map(h => StructField(h, StringType, nullable = true)))
    val headerB = spark.sparkContext.broadcast(header)
    val rowRdd = bin.rdd.flatMap { fileRow =>
      val file = fileRow.getString(0)
      val (h, rows) = parseRows(fileRow.getAs[Array[Byte]](1), sheet)
      require(java.util.Arrays.equals(h.asInstanceOf[Array[AnyRef]],
        headerB.value.asInstanceOf[Array[AnyRef]]),
        s"xlsx header mismatch in $file: ${h.toSeq} vs ${headerB.value.toSeq}")
      rows.map(a => Row.fromSeq(a.toSeq))
    }
    spark.createDataFrame(rowRdd, schema)
  }
}
