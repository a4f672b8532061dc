package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.llm.Multimodal
import graft.sources.BinaryFiles

class MultimodalSpec extends SparkSpec {

  private def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 131 + y * 17) & 0xffffff)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("decodeImageMeta parses real PNG/JPEG/GIF headers") {
    assert(Multimodal.decodeImageMeta(encode(13, 7, "png")) == Some(("png", 13, 7)))
    assert(Multimodal.decodeImageMeta(encode(31, 9, "jpg")) == Some(("jpeg", 31, 9)))
    assert(Multimodal.decodeImageMeta(encode(5, 21, "gif")) == Some(("gif", 5, 21)))
  }

  test("decodeImageMeta rejects junk, truncation, and empty payloads") {
    assert(Multimodal.decodeImageMeta("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageMeta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImageMeta(encode(13, 7, "png").take(10)).isEmpty)
    // JPEG SOI marker with no SOF segment behind it
    assert(Multimodal.decodeImageMeta(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("imageMeta streams binaryFile rows through the partition-batched decode") {
    val dir = java.nio.file.Files.createTempDirectory("mmspec")
    java.nio.file.Files.write(dir.resolve("x.png"), encode(3, 4, "png"))
    java.nio.file.Files.write(dir.resolve("y.gif"), encode(6, 2, "gif"))
    java.nio.file.Files.writeString(dir.resolve("z.txt"), "decoy")
    val rows = Multimodal.imageMeta(BinaryFiles.read(spark, dir.toString, "*"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(rows == Set(("x.png", "png", 3, 4), ("y.gif", "gif", 6, 2)))
  }

  test("imagePixelFeatures recovers exact channel sums from a lossless round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("mmpix")
    val w = 9; val h = 5
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var (er, eg, eb) = (0L, 0L, 0L)
    for (x <- 0 until w; y <- 0 until h) {
      val v = ((x.toLong * 104729L + y.toLong * 7919L) & 0xffffff).toInt
      img.setRGB(x, y, v)
      er += (v >> 16) & 0xff; eg += (v >> 8) & 0xff; eb += v & 0xff
    }
    javax.imageio.ImageIO.write(img, "png", dir.resolve("t.png").toFile)
    java.nio.file.Files.writeString(dir.resolve("bad.txt"), "decoy")
    val rows = Multimodal.imagePixelFeatures(BinaryFiles.read(spark, dir.toString, "*"))
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getInt(1), r.getInt(2)) == (("t.png", w, h)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((er, eg, eb)))
  }

  test("decodeWavPcm16 round-trips the canonical encoder and rejects junk") {
    val samples = Array.tabulate(64)(i => ((i * 523) % 4096 - 2048).toShort)
    val bytes = Multimodal.encodeWavPcm16Mono(samples, 44100)
    val Some((ch, rate, n, sumAbs, peak)) = Multimodal.decodeWavPcm16(bytes)
    assert((ch, rate, n) == ((1, 44100, 64L)))
    assert(sumAbs == samples.map(s => math.abs(s.toLong)).sum)
    assert(peak == samples.map(s => math.abs(s.toLong)).max)
    assert(Multimodal.decodeWavPcm16("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Multimodal.decodeWavPcm16(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeWavPcm16(bytes.take(30)).isEmpty)
  }

  test("gifFrameFeatures samples frames losslessly at the given stride") {
    val (w, h, nFrames) = (4, 3, 6)
    val palette = Array.tabulate(16)(i => (i * 17, 255 - i * 17, (i * 37) % 256))
    def idx(f: Int) = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      (f * 5 + x * 3 + y * 7) % 16
    }
    val dir = java.nio.file.Files.createTempDirectory("mmgif")
    java.nio.file.Files.write(dir.resolve("anim.gif"),
      Multimodal.encodeAnimatedGif16(w, h, palette, (0 until nFrames).map(idx)))
    val rows = Multimodal.gifFrameFeatures(BinaryFiles.read(spark, dir.toString, "*"), stride = 2)
      .orderBy("frame_id").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    // expected sums computed directly from the palette formula
    def sums(f: Int) = {
      val s = idx(f).map(palette)
      (s.map(_._1.toLong).sum, s.map(_._2.toLong).sum, s.map(_._3.toLong).sum)
    }
    rows.foreach { row =>
      val f = row.getInt(1)
      assert((row.getLong(4), row.getLong(5), row.getLong(6)) == sums(f),
        s"frame $f")
    }
  }

  test("imageDHash is invariant to uniform brightness shift and pixel doubling") {
    def png(w: Int, h: Int)(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pix(x, y))
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def base(x: Int, y: Int): Int =
      (((x * 7 + y * 3) & 0xff) << 16) | (((x * 5 + y * 11) & 0xff) << 8) |
        ((x * 13 + y * 2) & 0xff)
    val dir = java.nio.file.Files.createTempDirectory("mmdhash")
    java.nio.file.Files.write(dir.resolve("orig.png"), png(32, 32)(base))
    java.nio.file.Files.write(dir.resolve("bright.png"), png(32, 32) { (x, y) =>
      val v = base(x, y)
      (math.min(255, ((v >> 16) & 0xff) + 10) << 16) |
        (math.min(255, ((v >> 8) & 0xff) + 10) << 8) | math.min(255, (v & 0xff) + 10)
    })
    // pixel doubling: floor(floor(2a)/2) == floor(a), so the 9×8 sample
    // grid lands on the same source pixels → identical hash by construction
    java.nio.file.Files.write(dir.resolve("doubled.png"),
      png(64, 64)((x, y) => base(x / 2, y / 2)))
    val got = Multimodal.imageDHash(BinaryFiles.read(spark, dir.toString, "*"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 3)
    assert(got("bright.png") == got("orig.png"))
    assert(got("doubled.png") == got("orig.png"))
  }

  test("dHash near-dup pairs via banded Hamming blocking find only true near-dups") {
    val dir = java.nio.file.Files.createTempDirectory("mmdhashpairs")
    Multimodal.writeDHashFixtures(dir)
    val hashes = Multimodal.imageDHash(BinaryFiles.read(spark, dir.toString, "*"))
    val pairs = graft.llm.Dedup
      .simhashPairs(hashes, maxHamming = 10, idCol = "file", hashCol = "dhash")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(pairs == Set(
      ("a_base.png", "a_bright.png", 0),
      ("a_base.png", "a_neardup.png", 1),
      ("a_bright.png", "a_neardup.png", 1)))
  }
}
