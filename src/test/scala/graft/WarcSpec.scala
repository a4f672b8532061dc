package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import graft.sources.Warc

/** WARC codec: distributed roundtrip, gzip-member concatenation, non-HTTP
  * blocks, mixed record types, and fail-fast framing on truncation.
  */
class WarcSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val p = s"${Q.scratch}/warcspec_$tag"
    val f = new java.io.File(p)
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    f.mkdirs()
    p
  }

  test("distributed write -> scan roundtrip preserves every payload byte") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "plain ascii body"),
      (2L, "unicode: héllo … 名前"),
      (3L, ""), // empty body is a legal zero-length block payload
      (4L, "x" * 10000))
      .toDF("id", "text")
      .select(
        concat(lit("https://t.example/"), col("id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        concat(lit("urn:uuid:"), col("id")).as("record_id"),
        lit("text/plain; charset=utf-8").as("http_content_type"),
        encode(col("text"), "UTF-8").as("body"))
    val dir = tmpDir("roundtrip")
    Warc.writeFiles(docs.repartition(3), dir)
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    val back = Warc.read(sp, dir)
      .select("record_id", "target_uri", "warc_type", "http_status",
        "http_content_type", "body")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2),
        r.getInt(3), r.getString(4), new String(r.getAs[Array[Byte]](5), UTF_8))))
      .toMap
    assert(back.size == 4)
    assert(back("urn:uuid:2") == (("https://t.example/2", "response", 200,
      "text/plain; charset=utf-8", "unicode: héllo … 名前")))
    assert(back("urn:uuid:3")._5 == "")
    assert(back("urn:uuid:4")._5 == "x" * 10000)
  }

  test("concatenated gzip members and multi-record plain files both parse") {
    val r1 = Warc.recordBytes("response", "urn:uuid:a", Some("https://a"),
      "2026-01-01T00:00:00Z", Some("text/plain"), "alpha".getBytes(UTF_8))
    val r2 = Warc.recordBytes("response", "urn:uuid:b", Some("https://b"),
      "2026-01-01T00:00:00Z", Some("text/plain"), "beta".getBytes(UTF_8))
    // plain multi-record .warc
    val plain = Warc.parseFile("two.warc", r1 ++ r2)
    assert(plain.map(_._2) == Seq("urn:uuid:a", "urn:uuid:b"))
    // .warc.gz with one gzip member per record (the Common Crawl layout)
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val both = Warc.parseFile("two.warc.gz", gz(r1) ++ gz(r2))
    assert(both.map(_._2) == Seq("urn:uuid:a", "urn:uuid:b"))
    assert(new String(both(1)._9, UTF_8) == "beta")
  }

  test("non-HTTP records pass blocks through verbatim with null status") {
    val info = Warc.recordBytes("warcinfo", "urn:uuid:info", None,
      "2026-01-01T00:00:00Z", None, "software: graft".getBytes(UTF_8))
    val res = Warc.recordBytes("resource", "urn:uuid:res",
      Some("https://r.example/x"), "2026-01-01T00:00:00Z", None,
      Array[Byte](0, 1, 2, 3))
    val parsed = Warc.parseFile("mixed.warc", info ++ res)
    assert(parsed.map(_._3) == Seq("warcinfo", "resource"))
    assert(parsed.forall(_._7.isEmpty)) // http_status
    assert(parsed.head._4.isEmpty && parsed(1)._4.contains("https://r.example/x"))
    assert(new String(parsed.head._9, UTF_8) == "software: graft")
    assert(parsed(1)._9.toSeq == Seq[Byte](0, 1, 2, 3))
  }

  test("truncated block and bad version line fail fast, not silently skip") {
    val rec = Warc.recordBytes("response", "urn:uuid:t", Some("https://t"),
      "2026-01-01T00:00:00Z", Some("text/plain"), "full body".getBytes(UTF_8))
    val cut = rec.take(rec.length - 15) // cut inside the block
    val eTrunc = intercept[IllegalArgumentException] {
      Warc.parseFile("cut.warc", cut)
    }
    assert(eTrunc.getMessage.contains("truncated"))
    val eVer = intercept[IllegalArgumentException] {
      Warc.parseFile("bad.warc", "HTTP/1.1 200 OK\r\n\r\n\r\n\r\n".getBytes(UTF_8))
    }
    assert(eVer.getMessage.contains("bad version line"))
  }

  test("s13 scan reads back exactly the documents corpus at sf0.001") {
    val sp = spark
    val out = SparkEntry.queries("s13_warc_roundtrip")(sp, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val docs = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(out.map(_.getAs[Long]("n")).sum == docs.count())
    assert(out.forall(r => r.getAs[Int]("min_status") == 200
      && r.getAs[Int]("max_status") == 200))
  }
}
