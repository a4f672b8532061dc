package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IDAT binary source + sink (SURVEY.md §2.1 S5) with zero extra
  * dependencies. The Illumina IDAT container is a PUBLIC format, fully
  * documented by the open-source illuminaio parser (Smith ML et al.,
  * "illuminaio: An open source IDAT parsing tool for Illumina microarrays",
  * F1000Research 2013; Bioconductor `illuminaio::readIDAT`): little-endian,
  * magic `IDAT`, version 3, a field directory of (code:uint16,
  * offset:int64) entries, and per-field payloads — int32 bead count (code
  * 1000), int32[] bead addresses (102), uint16[] SD (103), uint16[] Mean
  * (104), byte[] NBeads (107), and .NET-style 7-bit-length-prefixed strings
  * for Barcode (402) / ChipType (403).
  *
  * The reference ingests exactly these files: `openSesame(idat_dir, ...)`
  * over `{sample}_Grn.idat` / `{sample}_Red.idat` pairs
  * (/root/reference/idat.r:38,67; sample names recovered by stripping the
  * channel suffix, idat.r:38 `gsub("_(Red|Grn)\\.idat$", ...)`). This
  * module reproduces that contract engine-side: the scanner's two color
  * channels arrive as one binary file per (sample, channel), and the scan
  * recovers the long intensity model (sample, channel, address, mean, sd,
  * nbeads).
  *
  * Scale posture:
  *   - '''read''' is distributed: files arrive through
  *     [[BinaryFiles.read]] (one task per file, executor-side parse). An IDAT file is
  *     array-size bounded (~1M beads ≈ 13 MB) — the file is the natural,
  *     well-balanced unit of parallelism, exactly the xlsx/gzip-CSV shape.
  *   - '''write''' shuffles rows to co-locate each (sample, channel) group
  *     on one task (`repartition` on the pair) and serializes each group
  *     executor-side via the Hadoop FileSystem API. Per-task memory is one
  *     sample-channel's bead vector — the same per-sample bound every
  *     per-sample kernel in this engine documents (BMIQ, quantile norm).
  *
  * Intensities are carried as Int in the DataFrame model but enforced to
  * the container's own ranges on write (Mean/SD: uint16, NBeads: uint8) —
  * out-of-range values fail fast rather than truncate silently.
  */
object Idat {

  private val Magic = "IDAT".getBytes(UTF_8)
  private val Version = 3L

  // Field codes per illuminaio::readIDAT (public format registry).
  private val FieldNBeadsTotal = 1000 // int32 count, must precede arrays
  private val FieldIlluminaId = 102 // int32[]
  private val FieldSd = 103 // uint16[]
  private val FieldMean = 104 // uint16[]
  private val FieldNBeads = 107 // byte[]
  private val FieldBarcode = 402 // 7-bit-length-prefixed string
  private val FieldChipType = 403 // 7-bit-length-prefixed string

  /** One bead row inside a single-channel scan. */
  final case class Bead(address: Int, mean: Int, sd: Int, nbeads: Int)

  // ---------------------------------------------------------------- write

  /** .NET BinaryReader/Writer 7-bit varint length prefix + UTF-8 bytes —
    * the string encoding illuminaio documents for IDAT string fields.
    */
  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val bytes = s.getBytes(UTF_8)
    var n = bytes.length
    while (n >= 0x80) { out.write((n & 0x7f) | 0x80); n >>>= 7 }
    out.write(n)
    out.write(bytes)
  }

  /** Serialize one channel scan to IDAT bytes. Pure function of its input —
    * usable on the driver or inside an executor task. Beads are written in
    * ascending address order (the order real scanners emit).
    */
  def bytes(beads: Seq[Bead], barcode: String, chipType: String): Array[Byte] = {
    val sorted = beads.sortBy(_.address)
    val n = sorted.length
    sorted.foreach { b =>
      require(b.mean >= 0 && b.mean <= 0xffff, s"Mean ${b.mean} outside uint16")
      require(b.sd >= 0 && b.sd <= 0xffff, s"SD ${b.sd} outside uint16")
      require(b.nbeads >= 0 && b.nbeads <= 0xff, s"NBeads ${b.nbeads} outside uint8")
    }

    // Payloads first (so offsets are known), directory second.
    val fields = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    def intLe(v: Int): Array[Byte] =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    fields += FieldNBeadsTotal -> intLe(n)
    val ids = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
    sorted.foreach(b => ids.putInt(b.address))
    fields += FieldIlluminaId -> ids.array()
    val sds = ByteBuffer.allocate(2 * n).order(ByteOrder.LITTLE_ENDIAN)
    sorted.foreach(b => sds.putShort(b.sd.toShort))
    fields += FieldSd -> sds.array()
    val means = ByteBuffer.allocate(2 * n).order(ByteOrder.LITTLE_ENDIAN)
    sorted.foreach(b => means.putShort(b.mean.toShort))
    fields += FieldMean -> means.array()
    fields += FieldNBeads -> sorted.map(_.nbeads.toByte).toArray
    val bc = new ByteArrayOutputStream(); writeString(bc, barcode)
    fields += FieldBarcode -> bc.toByteArray
    val ct = new ByteArrayOutputStream(); writeString(ct, chipType)
    fields += FieldChipType -> ct.toByteArray

    val headerLen = Magic.length + 8 + 4 + fields.length * (2 + 8)
    val out = new ByteArrayOutputStream(headerLen + fields.map(_._2.length).sum)
    out.write(Magic)
    val hdr = ByteBuffer.allocate(8 + 4).order(ByteOrder.LITTLE_ENDIAN)
    hdr.putLong(Version).putInt(fields.length)
    out.write(hdr.array())
    var offset = headerLen.toLong
    fields.foreach { case (code, payload) =>
      val e = ByteBuffer.allocate(2 + 8).order(ByteOrder.LITTLE_ENDIAN)
      e.putShort(code.toShort).putLong(offset)
      out.write(e.array())
      offset += payload.length
    }
    fields.foreach { case (_, payload) => out.write(payload) }
    out.toByteArray
  }

  /** S5 distributed sink: the long intensity model written as one
    * `{sample_id}_{channel}.idat` per (sample, channel) group, serialized
    * executor-side after a co-locating shuffle ([[BinaryFiles.write]]:
    * `_SUCCESS` marks completion). Expects columns
    * `sample_id, channel, address, mean, sd, nbeads, barcode, chip_type`.
    */
  def writeFiles(df: DataFrame, dir: String): Unit =
    BinaryFiles.write(df.select("sample_id", "channel", "address", "mean", "sd",
        "nbeads", "barcode", "chip_type")
      .repartition(col("sample_id"), col("channel")), dir) { (it, open) =>
      // One partition holds whole (sample, channel) groups (hash
      // co-location); group in memory — bounded by bead-vector size.
      val groups = mutable.Map.empty[(String, String), (mutable.ArrayBuffer[Bead], String, String)]
      it.foreach { r =>
        val key = (r.getString(0), r.getString(1))
        val g = groups.getOrElseUpdate(key,
          (mutable.ArrayBuffer.empty[Bead], r.getString(6), r.getString(7)))
        g._1 += Bead(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      }
      groups.foreach { case ((sample, channel), (beads, barcode, chipType)) =>
        val data = bytes(beads.toSeq, barcode, chipType)
        open(s"${sample}_$channel.idat")(_.write(data))
      }
    }

  // ----------------------------------------------------------------- read

  private def readString(buf: ByteBuffer): String = {
    var len = 0; var shift = 0; var b = 0
    do {
      b = buf.get() & 0xff
      len |= (b & 0x7f) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    val bytes = new Array[Byte](len)
    buf.get(bytes)
    new String(bytes, UTF_8)
  }

  /** Parse one IDAT file. Unknown field codes are skipped (the directory
    * carries offsets, so tolerance is free — real files carry RunInfo,
    * MidBlock and other fields this engine does not need).
    */
  def parse(content: Array[Byte]): (Seq[Bead], String, String) = {
    val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); buf.get(magic)
    require(java.util.Arrays.equals(magic, Magic), "not an IDAT file (bad magic)")
    val version = buf.getLong
    require(version == Version, s"unsupported IDAT version $version")
    val nFields = buf.getInt
    val dir = (0 until nFields).map { _ =>
      val code = buf.getShort & 0xffff
      val offset = buf.getLong
      code -> offset
    }.toMap
    def at(code: Int): Option[ByteBuffer] = dir.get(code).map { off =>
      val b = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      b.position(off.toInt); b
    }
    val n = at(FieldNBeadsTotal).map(_.getInt)
      .getOrElse(throw new IllegalArgumentException("IDAT missing bead count field (1000)"))
    def ints(code: Int): Array[Int] = {
      val b = at(code).getOrElse(throw new IllegalArgumentException(s"IDAT missing field $code"))
      Array.fill(n)(b.getInt)
    }
    def ushorts(code: Int): Array[Int] = {
      val b = at(code).getOrElse(throw new IllegalArgumentException(s"IDAT missing field $code"))
      Array.fill(n)(b.getShort & 0xffff)
    }
    def ubytes(code: Int): Array[Int] = {
      val b = at(code).getOrElse(throw new IllegalArgumentException(s"IDAT missing field $code"))
      Array.fill(n)(b.get() & 0xff)
    }
    val ids = ints(FieldIlluminaId)
    val sds = ushorts(FieldSd)
    val means = ushorts(FieldMean)
    val nbeads = ubytes(FieldNBeads)
    val barcode = at(FieldBarcode).map(readString).getOrElse("")
    val chipType = at(FieldChipType).map(readString).getOrElse("")
    val beads = (0 until n).map(i => Bead(ids(i), means(i), sds(i), nbeads(i)))
    (beads, barcode, chipType)
  }

  /** S5 distributed scan: every `*.idat` under the glob parses in its own
    * task ([[BinaryFiles.read]]); sample id and channel are recovered from the
    * `{sample}_{Grn|Red}.idat` filename — the reference's own convention
    * (idat.r:38). Returns the long intensity model:
    * `(sample_id, channel, address, mean, sd, nbeads, barcode, chip_type)`.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BinaryFiles.read(spark, dir, "*.idat")
      .as[(String, Array[Byte])]
      .flatMap { case (file, content) =>
        val m = "^(.*)_(Grn|Red)\\.idat$".r.findFirstMatchIn(file)
          .getOrElse(throw new IllegalArgumentException(s"unexpected idat filename: $file"))
        val (beads, barcode, chipType) = parse(content)
        beads.iterator.map(b =>
          (m.group(1), m.group(2), b.address, b.mean, b.sd, b.nbeads, barcode, chipType))
      }
      .toDF("sample_id", "channel", "address", "mean", "sd", "nbeads",
        "barcode", "chip_type")
  }
}
