package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col

import graft.sources.BinaryFiles

/** sources/BinaryFiles: the sinks' reset → write → `_SUCCESS` protocol,
  * the marker guard of [[BinaryFiles.once]] and the `(file, content)` scan.
  */
class BinaryFilesSpec extends SparkSpec {
  import spark.implicits._

  private def names(dir: Path): Set[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet

  /** One file `part-<partition>.txt` per partition, holding its ids. */
  private def writeIds(dir: String, failOn: Option[Long] = None): Unit =
    BinaryFiles.write((1L to 6L).toDF("id").repartition(3, col("id")), dir) { (it, open) =>
      // the marker of an earlier write is gone before any partition runs
      require(!new java.io.File(s"$dir/_SUCCESS").exists(), "marker present mid-job")
      val ids = it.map(_.getLong(0)).toSeq
      open(s"part-${org.apache.spark.TaskContext.getPartitionId()}.txt") { out =>
        if (failOn.exists(ids.contains)) throw new IllegalStateException("planted failure")
        out.write(ids.sorted.mkString(",").getBytes(UTF_8))
      }
    }

  test("write resets the directory and marks it complete only after every partition") {
    val dir = Files.createTempDirectory("bfwrite")
    Files.writeString(dir.resolve("stale.txt"), "left by an earlier write")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    writeIds(dir.toString)
    val parts = names(dir).filter(_.endsWith(".txt"))
    assert(!parts.contains("stale.txt"))
    assert(parts.size == 3)
    assert(names(dir).contains("_SUCCESS"))
    val ids = parts.toSeq.flatMap(p =>
      Files.readString(dir.resolve(p)).split(",").filter(_.nonEmpty).map(_.toLong))
    assert(ids.sorted == (1L to 6L))
  }

  test("write leaves no marker when a partition's block throws") {
    val dir = Files.createTempDirectory("bffail")
    writeIds(dir.toString)
    assert(names(dir).contains("_SUCCESS"))
    val e = intercept[SparkException](writeIds(dir.toString, failOn = Some(4L)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("planted failure")))
    assert(!names(dir).contains("_SUCCESS"))
  }

  test("once builds while the marker is absent, partial directory included, then skips") {
    val dir = Files.createTempDirectory("bfonce").resolve("out")
    var runs = 0
    BinaryFiles.once(spark, dir.toString) {
      runs += 1
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("a.txt"), "a")
    }
    assert(runs == 1)
    assert(names(dir) == Set("a.txt", "_SUCCESS", "._SUCCESS.crc"))
    BinaryFiles.once(spark, dir.toString) { runs += 1 }
    assert(runs == 1)

    // a killed build: files present, marker absent → rebuilt
    Files.delete(dir.resolve("_SUCCESS"))
    BinaryFiles.once(spark, dir.toString) { runs += 1 }
    assert(runs == 2)

    // a failing build writes no marker, so the next call builds again
    Files.delete(dir.resolve("_SUCCESS"))
    intercept[IllegalStateException](
      BinaryFiles.once(spark, dir.toString)(throw new IllegalStateException("boom")))
    assert(!names(dir).contains("_SUCCESS"))
    BinaryFiles.once(spark, dir.toString) { runs += 1 }
    assert(runs == 3)
  }

  test("once sees the marker of a file: URI directory") {
    val dir = Files.createTempDirectory("bfuri")
    val uri = dir.toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"))
    Files.writeString(dir.resolve("_SUCCESS"), "")
    // java.io.File reads the URI as a relative path and misses the marker
    assert(!new java.io.File(s"$uri/_SUCCESS").exists())
    BinaryFiles.once(spark, uri)(fail("built over a present marker"))
    Files.delete(dir.resolve("_SUCCESS"))
    var built = false
    BinaryFiles.once(spark, uri) { built = true }
    assert(built && Files.exists(dir.resolve("_SUCCESS")))
  }

  test("read returns path tails and contents, applies the glob and skips _SUCCESS") {
    val dir = Files.createTempDirectory("bfread")
    Files.writeString(dir.resolve("a.bin"), "AA")
    Files.writeString(dir.resolve("b.bin"), "BBB")
    Files.writeString(dir.resolve("c.txt"), "C")
    Files.writeString(dir.resolve(".d.bin"), "hidden")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    def scan(glob: String): Map[String, String] = {
      val df = BinaryFiles.read(spark, dir.toString, glob)
      assert(df.columns.toSeq == Seq("file", "content"))
      df.as[(String, Array[Byte])].collect()
        .map { case (f, c) => f -> new String(c, UTF_8) }.toMap
    }
    assert(scan("*.bin") == Map("a.bin" -> "AA", "b.bin" -> "BBB"))
    assert(scan("*") == Map("a.bin" -> "AA", "b.bin" -> "BBB", "c.txt" -> "C"))
  }
}
