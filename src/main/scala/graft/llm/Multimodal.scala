package graft.llm

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` payloads with typed
  * metadata, processed per-partition in batches (the Scala analog of
  * mapInPandas).
  *
  * Real decode tier: [[decodeImageMeta]] parses actual image container
  * headers (PNG IHDR, JPEG SOFn, GIF logical screen descriptor) from raw
  * bytes — no codec dependency, pure JVM — and [[imagePixelFeatures]] runs
  * a full pixel decode through the JDK's built-in ImageIO codecs with
  * exact integer channel sums as features. Decode for formats the JRE has
  * no codec for (audio/video) would slot into the same per-partition
  * iterator; only that external-codec case remains a clearly-marked
  * deterministic STUB ([[extractFeatures]]).
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte], kind: String,
                            meta_len: Long)
  final case class MediaFeat(doc_id: Long, payload_len: Long, stub_feature: Long)
  final case class ImageMeta(file: String, format: String, width: Int,
                             height: Int, payload_len: Long)

  /** Pack a text column as the opaque binary payload + metadata struct.
    * In a real pipeline this is the parquet `binary` column written at
    * ingest (image bytes, audio frames, …).
    */
  def packBinary(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("bigint").as("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("text/plain").as("kind"),
      length(col("text").cast("binary")).cast("bigint").as("meta_len"))

  /** STUB decode: a real deployment decodes/resizes/frame-samples here.
    * Deterministic fake so the batch plumbing is verifiable end-to-end:
    * feature = (len·31 + first code point) mod 997. Uses the Unicode code
    * point (not the raw first byte) so the DuckDB oracle's
    * `ascii(substr(text,1,1))` matches for non-ASCII-leading documents.
    */
  private def decodeStub(payload: Array[Byte]): Long = {
    val firstCp =
      if (payload.nonEmpty) new String(payload, StandardCharsets.UTF_8).codePointAt(0)
      else 0
    (payload.length.toLong * 31 + firstCp) % 997
  }

  /** Per-partition batched feature extraction over the binary column —
    * the iterator shape is what a vectorized decode (mapInPandas /
    * mapPartitions with a native lib handle per partition) needs: one
    * expensive init per partition, streaming rows through it.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      // per-partition init point (codec handle / model session goes here)
      it.map(m => MediaFeat(m.doc_id, m.payload.length.toLong, decodeStub(m.payload)))
    }.toDF()
  }

  /** Convenience: text table → packed binary → features. */
  def stubPipeline(docs: DataFrame): DataFrame =
    extractFeatures(packBinary(docs))

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Real (non-stub) header decode: format + dimensions from raw image
    * bytes. Supports PNG (IHDR chunk, RFC 2083 §4.1.1), JPEG (first SOFn
    * segment, ITU T.81 §B.2.2 — APPn/quantization segments are skipped via
    * their big-endian lengths), and GIF (logical screen descriptor,
    * GIF89a spec §18). Returns None for anything unrecognized/truncated.
    */
  def decodeImageMeta(payload: Array[Byte]): Option[(String, Int, Int)] = {
    if (payload.length >= 24 && (payload(0) & 0xff) == 0x89 &&
        payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G') {
      Some(("png", be32(payload, 16), be32(payload, 20)))
    } else if (payload.length >= 4 &&
        (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 < payload.length) {
        if ((payload(i) & 0xff) != 0xff) return None
        // ITU T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker
        while (i + 9 < payload.length && (payload(i + 1) & 0xff) == 0xff) i += 1
        val marker = payload(i + 1) & 0xff
        if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2 // standalone
        else {
          // SOF0..SOF15 carry dimensions; DHT(C4)/JPG(C8)/DAC(CC) do not.
          if (marker >= 0xc0 && marker <= 0xcf &&
              marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
            return Some(("jpeg", be16(payload, i + 7), be16(payload, i + 5)))
          i += 2 + be16(payload, i + 2)
        }
      }
      None
    } else if (payload.length >= 13 &&
        payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F') {
      Some(("gif", le16(payload, 6), le16(payload, 8)))
    } else None
  }

  /** binaryFile-ingested images → per-file metadata rows. Same shape as
    * [[extractFeatures]]: one per-partition init point, rows streamed
    * through it; unrecognized payloads are dropped (a real pipeline would
    * route them to a quarantine sink).
    */
  def imageMeta(binaryFiles: DataFrame): DataFrame = {
    val spark = binaryFiles.sparkSession
    import spark.implicits._
    binaryFiles
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point (codec handle / model session goes here)
        it.flatMap { case (file, bytes) =>
          decodeImageMeta(bytes).map { case (fmt, w, h) =>
            ImageMeta(file, fmt, w, h, bytes.length.toLong)
          }
        }
      }.toDF()
  }

  final case class ImagePixelFeat(file: String, width: Int, height: Int,
                                  sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real pixel decode via the JDK's own ImageIO codecs (PNG/GIF/JPEG
    * readers ship with the JRE — no external dependency): per-partition
    * batched decode over binaryFile payloads, exact integer per-channel
    * sums as the extracted feature (deterministic, unlike float means, so
    * it is VALUES-oracle-checkable for lossless formats). This fills the
    * decode slot [[extractFeatures]] reserves: same iterator shape, real
    * bytes → real pixels. Unreadable payloads are dropped (quarantine sink
    * in a real pipeline).
    */
  def imagePixelFeatures(binaryFiles: DataFrame): DataFrame = {
    val spark = binaryFiles.sparkSession
    import spark.implicits._
    binaryFiles
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point (decoder handle reuse goes here)
        it.flatMap { case (file, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case _: java.io.IOException => None }
          img.map { im =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < im.getHeight) {
              var x = 0
              while (x < im.getWidth) {
                val v = im.getRGB(x, y)
                sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
                x += 1
              }
              y += 1
            }
            ImagePixelFeat(file, im.getWidth, im.getHeight, sr, sg, sb)
          }
        }
      }.toDF()
  }

  final case class ThumbRow(file: String, t_width: Int, t_height: Int,
                            sum_r: Long, sum_g: Long, sum_b: Long, thumb_fp: String)

  /** Deterministic nearest-neighbor resize (the thumbnail/downsample step
    * of an image-ingest pipeline): decode via JDK ImageIO, sample source
    * pixel `(tx·w/tw, ty·h/th)` for each target pixel — explicit integer
    * index arithmetic, no interpolation, so the thumbnail is bit-exact
    * reproducible across JVMs (Graphics2D filtering would not be). Emits
    * exact channel sums plus an md5 fingerprint of the raw thumbnail
    * pixels. Same per-partition batched iterator shape as the other
    * decode ops.
    */
  def resizeNearest(binaryFiles: DataFrame, tw: Int, th: Int): DataFrame = {
    val spark = binaryFiles.sparkSession
    import spark.implicits._
    binaryFiles
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
        it.flatMap { case (file, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case _: java.io.IOException => None }
          img.map { im =>
            var sr = 0L; var sg = 0L; var sb = 0L
            val parts = new StringBuilder
            var ty = 0
            while (ty < th) {
              var tx = 0
              while (tx < tw) {
                val v = im.getRGB(tx * im.getWidth / tw, ty * im.getHeight / th)
                val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
                sr += r; sg += g; sb += b
                if (parts.nonEmpty) parts.append(';')
                parts.append(r).append(',').append(g).append(',').append(b)
                tx += 1
              }
              ty += 1
            }
            md.reset()
            val fp = md.digest(parts.toString.getBytes(StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            ThumbRow(file, tw, th, sr, sg, sb, fp)
          }
        }
      }.toDF()
  }

  final case class DHashRow(file: String, dhash: Long, dhash_hex: String)

  /** 64-bit perceptual difference hash (dHash) per image — the image-side
    * analog of text SimHash, the standard cheap near-duplicate signature
    * for media corpora. Decode via JDK ImageIO, nearest-neighbor sample to
    * a 9×8 grayscale grid with the same integer index arithmetic as
    * [[resizeNearest]] (bit-exact across JVMs), ITU-R BT.601 integer luma
    * `(299·R + 587·G + 114·B) / 1000`, then bit `y·8+x` is set iff
    * `gray(x,y) > gray(x+1,y)`. Robust to uniform brightness shifts
    * (gradients preserved) and to resizing (fixed 9×8 grid); pairs come
    * from [[graft.llm.Dedup.simhashPairs]] banded Hamming blocking, so the
    * corpus-level join never goes all-pairs.
    */
  def imageDHash(binaryFiles: DataFrame): DataFrame = {
    val spark = binaryFiles.sparkSession
    import spark.implicits._
    binaryFiles
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (file, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case _: java.io.IOException => None }
          img.map { im =>
            val g = Array.ofDim[Int](8, 9)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 9) {
                val v = im.getRGB(x * im.getWidth / 9, y * im.getHeight / 8)
                g(y)(x) = (((v >> 16) & 0xff) * 299 + ((v >> 8) & 0xff) * 587 +
                  (v & 0xff) * 114) / 1000
                x += 1
              }
              y += 1
            }
            var h = 0L
            var j = 0
            while (j < 64) {
              if (g(j / 8)(j % 8) > g(j / 8)(j % 8 + 1)) h |= (1L << j)
              j += 1
            }
            DHashRow(file, h, f"$h%016x")
          }
        }
      }.toDF()
  }

  /** dHash demo fixtures (32×32 PNGs, lossless): a base gradient pattern,
    * a +10-uniform-brightness copy (hash-identical — dHash keys on
    * gradients, not levels), a locally-perturbed copy (+4 over a 12×4
    * patch, one hash bit flips), and an unrelated pattern (hamming 26).
    */
  def writeDHashFixtures(dir: java.nio.file.Path): Unit = {
    def png(name: String)(pix: (Int, Int) => Int): Unit = {
      val b = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 32; y <- 0 until 32) b.setRGB(x, y, pix(x, y))
      javax.imageio.ImageIO.write(b, "png", dir.resolve(name).toFile)
    }
    def base(x: Int, y: Int): Int =
      (((x * 7 + y * 3) & 0xff) << 16) | (((x * 5 + y * 11) & 0xff) << 8) |
        ((x * 13 + y * 2) & 0xff)
    def brighten(v: Int, d: Int): Int =
      (math.min(255, ((v >> 16) & 0xff) + d) << 16) |
        (math.min(255, ((v >> 8) & 0xff) + d) << 8) |
        math.min(255, (v & 0xff) + d)
    png("a_base.png")(base)
    png("a_bright.png")((x, y) => brighten(base(x, y), 10))
    png("a_neardup.png")((x, y) =>
      if (x >= 20 && y < 4) brighten(base(x, y), 4) else base(x, y))
    png("b_other.png")((x, y) =>
      (((x * x * 3 + y * 17) & 0xff) << 16) | (((x * 29 + y * y * 5) & 0xff) << 8) |
        ((x * 3 + y * 31) & 0xff))
    java.nio.file.Files.writeString(dir.resolve("junk.txt"), "not an image")
  }

  final case class WavMeta(file: String, channels: Int, sample_rate: Int,
                           n_samples: Long, sum_abs: Long, peak: Long)

  /** Real audio decode: RIFF/WAVE PCM parser over raw bytes (RIFF spec:
    * "RIFF"+size+"WAVE", then chunks; "fmt " carries format 1 = integer
    * PCM with channels/rate/bits, "data" carries little-endian samples).
    * Pure byte arithmetic — 16-bit PCM needs no codec — emitting exact
    * integer loudness features (abs-sum, peak). Non-PCM or malformed
    * payloads are dropped. Same per-partition batched iterator shape as
    * the image decodes.
    */
  def decodeWavPcm16(b: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    def tag(i: Int) = new String(b, i, 4, StandardCharsets.US_ASCII)
    def le32(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var fmt: Option[(Int, Int, Int)] = None // (audioFormat, channels, rate)
    var bits = 0
    while (i + 8 <= b.length) {
      val id = tag(i)
      val size = le32(i + 4)
      // a negative declared size (malformed/adversarial) would stall or
      // walk the cursor backwards; a fmt chunk whose declared body extends
      // past the file would read out of bounds — both are "drop payload"
      if (size < 0) return None
      if (id == "fmt " && size >= 16) {
        if (i + 24 > b.length) return None
        fmt = Some((le16(b, i + 8), le16(b, i + 10), le32(i + 12)))
        bits = le16(b, i + 22)
      } else if (id == "data") {
        return fmt.collect { case (1, ch, rate) if bits == 16 && ch > 0 =>
          val n = math.min(size, b.length - i - 8) / 2
          var s = 0L; var peak = 0L
          var k = 0
          while (k < n) {
            val v = ((b(i + 8 + 2 * k) & 0xff) | (b(i + 9 + 2 * k) << 8)).toLong
            val a = math.abs(v)
            s += a
            if (a > peak) peak = a
            k += 1
          }
          (ch, rate, n.toLong / ch, s, peak)
        }
      }
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** binaryFile-ingested WAVs → exact loudness/metadata features. */
  def wavFeatures(binaryFiles: DataFrame): DataFrame = {
    val spark = binaryFiles.sparkSession
    import spark.implicits._
    binaryFiles
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point (decoder handle reuse goes here)
        it.flatMap { case (file, bytes) =>
          decodeWavPcm16(bytes).map { case (ch, rate, n, sumAbs, peak) =>
            WavMeta(file, ch, rate, n, sumAbs, peak)
          }
        }
      }.toDF()
  }

  /** Serialize mono 16-bit PCM to a canonical RIFF/WAVE byte array (the
    * fixture writer for [[wavFeatures]]; also usable as a sink encoder).
    */
  def encodeWavPcm16Mono(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes(StandardCharsets.US_ASCII)).putInt(36 + dataLen)
      .put("WAVE".getBytes(StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(StandardCharsets.US_ASCII)).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes(StandardCharsets.US_ASCII)).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  final case class FrameFeat(file: String, frame_id: Int, width: Int,
                             height: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Frame sampling over animated GIFs (the video-style temporal decode,
    * via the JDK's multi-image GIF reader): keep every `stride`-th frame,
    * emit exact per-frame channel sums. Palette-indexed GIF frames decode
    * losslessly, so the features are bit-exact. Per-partition batched:
    * one reader instance per partition, payloads streamed through it.
    */
  def gifFrameFeatures(binaryFiles: DataFrame, stride: Int): DataFrame = {
    val spark = binaryFiles.sparkSession
    import spark.implicits._
    binaryFiles
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next() // per-partition init
        val out = it.flatMap { case (file, bytes) =>
          // memory-backed input stream: the default createImageInputStream
          // wraps a ByteArrayInputStream in a FILE-cache stream whose temp
          // file + fd live until JVM exit — one leak per payload
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis, false, true)
            val n = reader.getNumImages(true)
            (0 until n by stride).map { f =>
              val im = reader.read(f)
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < im.getHeight) {
                var x = 0
                while (x < im.getWidth) {
                  val v = im.getRGB(x, y)
                  sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
                  x += 1
                }
                y += 1
              }
              FrameFeat(file, f, im.getWidth, im.getHeight, sr, sg, sb)
            }
          } catch { case _: java.io.IOException => Seq.empty }
          finally iis.close()
        }
        out
      }.toDF()
  }

  /** Minimal GIF89a encoder for 16-color palette-indexed animated frames
    * (fixture writer / sink encoder for [[gifFrameFeatures]]). Bit-exact
    * by construction: the global color table is written verbatim and each
    * pixel is emitted as a literal LZW code with a clear code every few
    * symbols (the standard "uncompressed GIF" technique), so no quantizer
    * ever touches the colors — unlike the JDK's GIF *writer*, whose
    * palette handling is lossy (its *reader*, the operator under test,
    * decodes this stream exactly). GIF89a spec: header/LSD §17-18, image
    * descriptor §20, LZW data §22.
    */
  def encodeAnimatedGif16(width: Int, height: Int,
                          palette: Array[(Int, Int, Int)],
                          frames: Seq[Array[Int]]): Array[Byte] = {
    require(palette.length == 16)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
    le16(width); le16(height)
    out.write(0xf3) // global table, 8-bit color resolution, 16 entries
    out.write(0); out.write(0)
    palette.foreach { case (r, g, b) => out.write(r); out.write(g); out.write(b) }
    frames.foreach { px =>
      require(px.length == width * height)
      out.write(0x2c); le16(0); le16(0); le16(width); le16(height); out.write(0)
      out.write(4) // LZW min code size for a 16-color palette
      // 5-bit codes, LSB-first; clear(16) resets the table before it can
      // force a width bump, so every pixel index is a literal code.
      val data = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nbits = 0
      def put(code: Int): Unit = {
        acc |= (code.toLong << nbits); nbits += 5
        while (nbits >= 8) { data.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
      }
      put(16) // initial clear
      px.grouped(10).foreach { chunk => chunk.foreach(put); put(16) }
      put(17) // end of information
      if (nbits > 0) data.write((acc & 0xff).toInt)
      data.toByteArray.grouped(255).foreach { blk =>
        out.write(blk.length); out.write(blk)
      }
      out.write(0) // block terminator
    }
    out.write(0x3b)
    out.toByteArray
  }
}
