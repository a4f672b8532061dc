package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ZIP archive ingestion (reference health_check.py:40-63
  * `unzip_all_in_directory` — the raw EPIC deliveries arrive as ZIP files
  * that are unpacked before IDAT discovery). Engine-side the unpack is not
  * a filesystem mutation but a SCAN: every `*.zip` under a directory
  * parses in its own task ([[BinaryFiles.read]], the xlsx/idat shape) and its
  * members surface as rows `(archive, member, size, content)` — so
  * downstream discovery (S6) and codec parses (S5) compose directly on the
  * member rows without ever materializing an extracted tree.
  *
  * Scale posture: archives are the unit of parallelism (non-splittable
  * container, like gzip CSV); per-task memory is one archive's members.
  * java.util.zip only — zero extra dependencies.
  */
object ZipArchive {

  /** Serialize members to one zip (driver-side fixture/bounded export). */
  def bytes(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, UTF_8)
    members.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** Every non-directory member of one zip, in archive order, unpacked
    * into memory (one archive per task, so a task holds one archive's
    * members).
    */
  private[sources] def members(content: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(content), UTF_8)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var e = zis.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += ((e.getName, zis.readAllBytes()))
      e = zis.getNextEntry
    }
    out.toSeq
  }

  /** Distributed member scan: `(archive, member, size, content)`, one
    * parse task per archive. `archive` is the file name (path tail).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BinaryFiles.read(spark, dir, "*.zip")
      .as[(String, Array[Byte])]
      .flatMap { case (archive, content) =>
        members(content).map { case (m, bytes) => (archive, m, bytes.length.toLong, bytes) }
      }
      .toDF("archive", "member", "size", "content")
  }
}
