package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Instrument-export parsers (SURVEY.md §2.1 S3/S4).
  *
  * S3 — GenomeStudio FinalReport: a semi-structured text file where a
  * `[Sample Methylation Profile]` marker line is followed by a
  * tab-separated header, then data rows (reference
  * /root/reference/preprocessing/data_parsing.py:7-33). Sample identity is
  * carried in the header (`<sample>.AVG_Beta`), so parsing melts columns to
  * the long model on ingest (R5).
  *
  * S4 — per-run sample reports: the header line is *discovered* by keyword
  * membership, and each row's Index is prefixed with the run number parsed
  * from the filename (reference data_parsing.py:35-95, prefix at :84).
  */
object SectionedReport {

  /** S3: parse one FinalReport into long `(target_id, sample_id, beta)`.
    * Line order comes from zipWithIndex over the text RDD — stable for a
    * file read (per-file line order is preserved); the marker/header scan
    * touches only two driver-collected lines, rows stay distributed.
    */
  def parseFinalReport(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.textFile(path).rdd.zipWithIndex()
    val markerIdx = lines.filter(_._1.trim == "[Sample Methylation Profile]").map(_._2).first()
    val header = lines.filter(_._2 == markerIdx + 1).map(_._1).first().split("\t")
    val keyCol = header.head
    val sampleCols = header.tail

    val rows = lines.filter(_._2 > markerIdx + 1).map(_._1)
    import spark.implicits._
    val raw = rows.toDF("line")
      .withColumn("f", split(col("line"), "\t"))
    // get() (not getItem) tolerates short rows — trailing empty fields are
    // simply absent from the split and must surface as NULL, not error.
    val cols = get(col("f"), lit(0)).as(keyCol) +:
      sampleCols.zipWithIndex.map { case (c, i) => get(col("f"), lit(i + 1)).as(c) }
    val wide = raw.select(cols: _*)
    // melt + header-as-data normalization: strip the .AVG_Beta suffix (F2),
    // empty string → NULL (P13), cast to double. Backticks: instrument
    // headers contain dots, which are NOT nested-field accessors here.
    wide.unpivot(Array(col(s"`$keyCol`")),
        sampleCols.map(c => col(s"`$c`")).toArray, "sample_col", "beta_str")
      .select(col(keyCol).as("target_id"),
        regexp_replace(col("sample_col"), "\\.AVG_Beta$", "").as("sample_id"),
        nullif(col("beta_str"), lit("")).cast(DoubleType).as("beta"))
  }

  /** S4: parse every report in `dirGlob`. Run number = first integer in the
    * file name; header row = first line whose tab-split fields contain
    * both "Index" and "Sample ID"; each data row's Index is emitted as
    * "{run}_{Index}".
    */
  def parseSampleReports(spark: SparkSession, dirGlob: String): DataFrame = {
    import spark.implicits._
    val requiredKeywords = Set("Index", "Sample ID")
    val files = spark.sparkContext.wholeTextFiles(dirGlob)
    files.flatMap { case (file, content) =>
      // bounded digit run: a timestamp-style 14-digit filename must not
      // overflow the Int run id
      val run = "(\\d{1,9})".r.findFirstIn(file.split("/").last).getOrElse("0")
      val lines = content.split("\r?\n").filter(_.nonEmpty)
      val headerIdx = lines.indexWhere(l => requiredKeywords.subsetOf(l.split("\t").toSet))
      if (headerIdx < 0) Iterator.empty
      else {
        val header = lines(headerIdx).split("\t")
        val iIndex = header.indexOf("Index")
        val iSample = header.indexOf("Sample ID")
        val need = math.max(iIndex, iSample) + 1
        lines.drop(headerIdx + 1).iterator
          // footers/summary lines with fewer tab fields end the table
          // data for this parser — skip them instead of crashing the job
          .map(_.split("\t"))
          .filter(_.length >= need)
          .map(f => (run.toInt, s"${run}_${f(iIndex)}", f(iSample)))
      }
    }.toDF("run", "prefixed_index", "sample_id")
  }

  /** Schema helper for S1 CSV round-trips with explicit types. */
  def csvSchema(fields: (String, org.apache.spark.sql.types.DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
}
