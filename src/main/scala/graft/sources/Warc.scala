package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** WARC (ISO 28500 / WARC/1.0) web-archive container — the format web-scale
  * training corpora actually arrive in (Common Crawl ships response records
  * as per-record gzip members concatenated into `.warc.gz` files). The
  * reference ingests its raw deliveries from containers it unpacks first
  * (health_check.py:40-63); at corpus scale the same ingest boundary is a
  * WARC scan, so the engine treats it like xlsx/IDAT/zip: a dependency-free
  * codec behind the binaryFile source.
  *
  * Scale posture (the zip/idat shape): files are the unit of parallelism —
  * a gzip-member stream is not block-splittable, so one file parses in one
  * task and throughput comes from file count, which Common Crawl fixes at
  * ~1 GiB/file precisely for this reason. Per-task memory is one record's
  * block (bounded by the writer's truncation policy, not corpus size).
  * java.util.zip only — zero extra dependencies.
  *
  * Record layout written and parsed (response records wrap an HTTP/1.1
  * message, the Common Crawl convention):
  * {{{
  *   WARC/1.0\r\n  <warc-headers>\r\n \r\n  <block>\r\n\r\n
  *   block = HTTP/1.1 200 OK\r\n <http-headers>\r\n \r\n <body>
  * }}}
  */
object Warc {

  private val Crlf = "\r\n"

  /** Serialize ONE record (driver-side fixture building / the per-record
    * unit the distributed sink gzips). `httpContentType = None` writes a
    * non-HTTP block verbatim (resource/warcinfo-style records).
    */
  private[graft] def recordBytes(warcType: String, recordId: String,
      targetUri: Option[String], warcDate: String,
      httpContentType: Option[String], body: Array[Byte]): Array[Byte] = {
    val block = httpContentType match {
      case Some(ct) =>
        val h = s"HTTP/1.1 200 OK${Crlf}Content-Type: $ct$Crlf" +
          s"Content-Length: ${body.length}$Crlf$Crlf"
        h.getBytes(UTF_8) ++ body
      case None => body
    }
    val ctHeader = httpContentType match {
      case Some(_) => "application/http; msgtype=response"
      case None => "application/octet-stream"
    }
    val h = new StringBuilder()
      .append("WARC/1.0").append(Crlf)
      .append(s"WARC-Type: $warcType").append(Crlf)
      .append(s"WARC-Record-ID: <$recordId>").append(Crlf)
      .append(s"WARC-Date: $warcDate").append(Crlf)
    targetUri.foreach(u => h.append(s"WARC-Target-URI: $u").append(Crlf))
    h.append(s"Content-Type: $ctHeader").append(Crlf)
      .append(s"Content-Length: ${block.length}").append(Crlf).append(Crlf)
    h.toString.getBytes(UTF_8) ++ block ++ s"$Crlf$Crlf".getBytes(UTF_8)
  }

  private def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(record); gz.close()
    bos.toByteArray
  }

  /** Distributed sink: one `.warc.gz` per input partition, every record its
    * own gzip member (the Common Crawl layout — members are independently
    * decompressible, so a future range reader can seek). Input columns:
    * `target_uri, warc_date, record_id, http_content_type, body` (binary).
    * Written executor-side through the Hadoop FS API with the SESSION's
    * conf shipped to the tasks (a bare `new Configuration()` would drop
    * spark.hadoop.* settings); `_SUCCESS` marks completion — callers guard
    * on the marker, not directory existence.
    */
  def writeFiles(df: DataFrame, dir: String): Unit = {
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    val fs0 = new org.apache.hadoop.fs.Path(dir).getFileSystem(hadoopConf)
    fs0.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs0.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val confProps: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      hadoopConf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    }
    df.select("target_uri", "warc_date", "record_id", "http_content_type",
        "body")
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confProps.foreach { case (k, v) => conf.set(k, v) }
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(f"$dir/part-$pid%05d.warc.gz")
          val out = p.getFileSystem(conf).create(p, true)
          it.foreach { r =>
            out.write(gzipMember(recordBytes("response", r.getString(2),
              Some(r.getString(0)), r.getString(1), Some(r.getString(3)),
              r.getAs[Array[Byte]](4))))
          }
          out.close()
        }
      }
    fs0.create(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"), true).close()
  }

  private type Rec = (String, String, String, Option[String], String, Long,
    Option[Int], Option[String], Array[Byte])

  /** Split an HTTP response block into (status, content-type, payload);
    * non-HTTP blocks pass through verbatim.
    */
  private def splitBlock(name: String, hs: Map[String, String],
      block: Array[Byte]): (Option[Int], Option[String], Array[Byte]) =
    if (hs.get("content-type").exists(_.startsWith("application/http"))) {
      val bEnd = {
        var i = 0
        while (i + 3 < block.length &&
          !(block(i) == '\r' && block(i + 1) == '\n' &&
            block(i + 2) == '\r' && block(i + 3) == '\n')) i += 1
        if (i + 3 < block.length) i else -1
      }
      require(bEnd >= 0, s"$name: http block without header terminator")
      val httpLines = new String(block, 0, bEnd, UTF_8).split("\r\n")
      val st = httpLines.head.split(" ")(1).toInt
      val ct = httpLines.tail.collectFirst {
        case l if l.toLowerCase.startsWith("content-type:") =>
          l.substring(l.indexOf(':') + 1).trim
      }
      (Some(st), ct,
        java.util.Arrays.copyOfRange(block, bEnd + 4, block.length))
    } else (None, None, block)

  /** Parse a (possibly multi-record, possibly gzip-member-concatenated)
    * WARC stream RECORD AT A TIME: read header bytes up to the blank-line
    * separator, then exactly Content-Length block bytes, emit, repeat. At
    * no point is more than one record's block resident — a ~1 GiB gz /
    * multi-GiB raw Common Crawl file streams through in bounded memory
    * (the whole-file byte-array approach would hit the 2 GiB Int-indexed
    * array limit first). Fails fast on malformed framing (bad version
    * line, missing separators, short block) — a silently skipped record
    * is a corpus-count bug downstream. The underlying stream is closed at
    * clean EOF; the Spark scan additionally closes it via a
    * task-completion listener so early-stopping consumers (LIMIT/take)
    * and framing failures cannot leak handles.
    */
  private[graft] def parseStream(name: String, in0: java.io.InputStream)
      : Iterator[Rec] = {
    val pb = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(in0, 65536), 2)
    val b0 = pb.read(); val b1 = pb.read()
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    // concatenated gzip members: java's GZIPInputStream reads across member
    // boundaries (it probes for the next header at each trailer)
    val in: java.io.InputStream =
      if (b0 == 0x1f && b1 == 0x8b) new GZIPInputStream(pb, 65536) else pb

    new Iterator[Rec] {
      private var nextRec: Rec = _
      private var done = { if (b0 < 0) in.close(); b0 < 0 }
      private var fetched = false
      private var offset = 0L

      /** Read bytes until CRLFCRLF; returns null at clean EOF (only before
        * any header byte). Leading padding CRLFs between records are
        * tolerated, never content corruption.
        */
      private def readHeader(): String = {
        var c = in.read(); offset += 1
        while (c == '\r' || c == '\n') { c = in.read(); offset += 1 }
        if (c < 0) return null
        val bos = new ByteArrayOutputStream(512)
        var state = 0 // count of consecutive \r\n\r\n bytes matched
        while (state < 4) {
          require(c >= 0, s"$name: unterminated WARC header near offset $offset")
          bos.write(c)
          state = (state, c) match {
            case (0, '\r') | (2, '\r') => state + 1
            case (1, '\n') | (3, '\n') => state + 1
            case (_, '\r') => 1
            case _ => 0
          }
          if (state < 4) { c = in.read(); offset += 1 }
        }
        val all = bos.toByteArray
        new String(all, 0, all.length - 4, UTF_8) // drop the \r\n\r\n terminator
      }

      private def readFully(len: Int): Array[Byte] = {
        val buf = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(buf, off, len - off)
          require(n >= 0,
            s"$name: truncated block near offset $offset (need $len bytes, got $off)")
          off += n; offset += n
        }
        buf
      }

      private def fetch(): Unit = {
        fetched = true
        val header = readHeader()
        if (header == null) { done = true; in.close(); return }
        val lines = header.split("\r\n")
        require(lines.head.startsWith("WARC/"),
          s"$name: bad version line '${lines.head.take(40)}' near offset $offset")
        val hs = lines.tail.flatMap { l =>
          val i = l.indexOf(':')
          if (i < 0) None else Some(l.take(i).trim.toLowerCase -> l.drop(i + 1).trim)
        }.toMap
        val len = hs.getOrElse("content-length",
          sys.error(s"$name: record without Content-Length near offset $offset")).toLong
        require(len <= Int.MaxValue - 8,
          s"$name: single record block of $len bytes exceeds the per-record limit")
        val block = readFully(len.toInt)
        val (status, httpCt, body) = splitBlock(name, hs, block)
        nextRec = (name,
          hs.getOrElse("warc-record-id", "").stripPrefix("<").stripSuffix(">"),
          hs.getOrElse("warc-type", ""), hs.get("warc-target-uri"),
          hs.getOrElse("warc-date", ""), len, status, httpCt, body)
      }

      override def hasNext: Boolean = {
        if (!fetched && !done) fetch()
        !done
      }
      override def next(): Rec = {
        if (!hasNext) throw new NoSuchElementException(name)
        fetched = false
        nextRec
      }
    }
  }

  /** Byte-array convenience over [[parseStream]] (spec fixtures). */
  private[graft] def parseFile(name: String, raw: Array[Byte]): Seq[Rec] =
    parseStream(name, new ByteArrayInputStream(raw)).toSeq

  /** Distributed scan: every `*.warc` / `*.warc.gz` under `dir` parses in
    * its own task. Columns: `file, record_id, warc_type, target_uri,
    * warc_date, content_length, http_status, http_content_type, body` —
    * HTTP response records arrive with the status line and headers split
    * off (`body` is the payload a text pipeline consumes); non-HTTP blocks
    * pass through verbatim with null status.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val confProps: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    }
    // binaryFile does the (driver-cheap, executor-parallel) LISTING; only
    // `path` is selected so the file contents are never materialized as a
    // column — each task opens its files as Hadoop streams and parses
    // record-at-a-time, so per-task memory is one record's block even for
    // multi-GiB members.
    spark.read.format("binaryFile").option("pathGlobFilter", "*.warc*")
      .load(dir)
      .select("path")
      .as[String]
      .mapPartitions { paths =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confProps.foreach { case (k, v) => conf.set(k, v) }
        paths.flatMap { path =>
          val p = new org.apache.hadoop.fs.Path(path)
          val name = path.substring(path.lastIndexOf('/') + 1)
          val in = p.getFileSystem(conf).open(p)
          // the iterator's own clean-EOF close only runs on a full drain;
          // a consumer that stops early (LIMIT/take) or a framing require
          // failure would otherwise leak one handle per file for the life
          // of the executor — close at task end regardless (idempotent,
          // so the drained case double-closes harmlessly)
          // swallow only the expected close-time I/O failure (already
          // closed by a full drain) — a fatal VM error or interrupt must
          // propagate, not vanish in a cleanup hook
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ =>
              try in.close()
              catch { case scala.util.control.NonFatal(_) => () }))
          parseStream(name, in)
        }
      }
      .toDF("file", "record_id", "warc_type", "target_uri", "warc_date",
        "content_length", "http_status", "http_content_type", "body")
  }
}
