package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.ops.Poobah
import graft.sources.{Idat, SectionedReport, Warc, Xlsx, ZipArchive}
import graft.streaming.QcMonitor

/** Source/sink queries (SURVEY.md §2.1): CSV round-trip, sectioned
  * FinalReport + sample-report parsers over deterministic fixtures written
  * under target/qtmp, binaryFile discovery, and the batch flavor of the
  * streaming QC window. Fixture-based oracles are literal VALUES lists.
  */
object QueriesSources {

  private def writeFixture(relPath: String, content: String): String = {
    val p = Paths.get(s"${Q.scratch}/$relPath")
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    p.toString
  }

  def all: Seq[Q] = Seq(

    // S1+S7 — CSV sink then scan with an explicit schema; result must equal
    // the parquet original (round-trip fidelity).
    Q("s01_csv_roundtrip", (s, d) => {
      val out = s"${Q.scratch}/s01_region_csv"
      Tables.table(s, d, "region")
        .write.mode("overwrite").option("header", true).csv(out)
      s.read.option("header", true)
        .schema(SectionedReport.csvSchema("r_regionkey" -> IntegerType, "r_name" -> StringType))
        .csv(out)
        .orderBy("r_regionkey")
    }, Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // ORC sink + source roundtrip (Spark's second columnar format, free
    // via the same DataSource API — predicate pushdown and column pruning
    // apply to the re-read exactly as for parquet). The oracle aggregates
    // the original parquet: a lossless roundtrip is indistinguishable.
    Q("s07_orc_roundtrip", (s, d) => {
      val out = s"${Q.scratch}/s07_nation_orc"
      Tables.table(s, d, "nation").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_name"))
        .orderBy("n_regionkey")
    }, Some(
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |       min(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Schema evolution: a dataset written in two generations (the lang
    // column added later) read back as ONE table via mergeSchema —
    // pre-evolution rows surface the new column as NULL. The production
    // shape for any long-lived corpus: at 100 TB schema merging happens
    // on file FOOTERS (bounded metadata), never by rewriting old data.
    Q("s08_schema_evolution", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val dir = s"${Q.scratch}/s08_docs"
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/gen=1", s"$dir/gen=2")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
        .orderBy(col("lang").asc_nulls_first)
    }, Some(
      """WITH merged AS (
        |  SELECT doc_id, text, NULL AS lang FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM merged GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),

    // S3 — sectioned FinalReport parse → long model (marker scan, header
    // split, melt, .AVG_Beta strip, empty→NULL).
    Q("s03_final_report", (s, _) => {
      val path = writeFixture("s03/final_report.txt",
        """GenomeStudio Methylation Module
          |[Header]
          |Date	2024-01-01
          |[Sample Methylation Profile]
          |TargetID	S1.AVG_Beta	S2.AVG_Beta
          |cg000001	0.25	0.5
          |cg000002	0.75
          |cg000003	0.125	0.375
          |""".stripMargin)
      SectionedReport.parseFinalReport(s, path)
        .orderBy("target_id", "sample_id")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('cg000001', 'S1', CAST(0.25 AS DOUBLE)),
        |  ('cg000001', 'S2', CAST(0.5 AS DOUBLE)),
        |  ('cg000002', 'S1', CAST(0.75 AS DOUBLE)),
        |  ('cg000002', 'S2', CAST(NULL AS DOUBLE)),
        |  ('cg000003', 'S1', CAST(0.125 AS DOUBLE)),
        |  ('cg000003', 'S2', CAST(0.375 AS DOUBLE))
        |) t(target_id, sample_id, beta) ORDER BY target_id, sample_id""".stripMargin)),

    // S4 — multi-file sample reports: keyword header detection + run-prefix.
    Q("s04_sample_report", (s, _) => {
      writeFixture("s04/reports/run1_report.txt",
        """Illumina Sample Report
          |Generated	2024
          |Index	Sample ID	Sample Group	Sentrix Barcode
          |1	A01	G1	205001
          |2	A02	G1	205001
          |""".stripMargin)
      writeFixture("s04/reports/run2_report.txt",
        """Illumina Sample Report
          |Index	Sample ID	Sample Group	Sentrix Barcode
          |1	B01	G2	205002
          |""".stripMargin)
      SectionedReport.parseSampleReports(s, s"${Q.scratch}/s04/reports/*.txt")
        .orderBy("prefixed_index")
    }, Some(
      """SELECT * FROM (VALUES
        |  (1, '1_1', 'A01'),
        |  (1, '1_2', 'A02'),
        |  (2, '2_1', 'B01')
        |) t(run, prefixed_index, sample_id) ORDER BY prefixed_index""".stripMargin)),

    // S6 — directory discovery via the binaryFile source + glob filter
    // (reference health_check.py:67-76 find_all_idat_files).
    Q("s06_binary_discovery", (s, _) => {
      writeFixture("s06/idats/a_Grn.idat", "AAAAA")
      writeFixture("s06/idats/b_Red.idat", "BBBBBBB")
      writeFixture("s06/idats/notes.txt", "ignored")
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.idat")
        .load(s"${Q.scratch}/s06/idats")
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("length"))
        .orderBy("file")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('a_Grn.idat', CAST(5 AS BIGINT)),
        |  ('b_Red.idat', CAST(7 AS BIGINT))
        |) t(file, length) ORDER BY file""".stripMargin)),

    // ZIP archive ingestion (reference health_check.py:40-63 — EPIC
    // deliveries arrive zipped and are unpacked before IDAT discovery):
    // engine-side the unpack is a distributed member SCAN (one parse task
    // per archive, the xlsx/idat container shape) — no extracted tree is
    // ever materialized. Fixture archives derive from the nation dim
    // (bounded, write-once); the oracle recomputes member names and exact
    // byte sizes from the parquet directly.
    Q("s12_zip_members", (s, d) => {
      val dir = s"${Q.scratch}/s12_zip_${Integer.toHexString(d.hashCode)}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        val rows = Tables.table(s, d, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long")).collect()
        Files.createDirectories(Paths.get(dir))
        rows.groupBy(r => s"arch_${r.getLong(0) % 2}.zip").foreach {
          case (name, rs) =>
            val members = rs.sortBy(_.getLong(0)).map { r =>
              (s"nation_${r.getLong(0)}.txt",
                s"${r.getString(1)},${r.getLong(2)}\n".getBytes("UTF-8"))
            }.toSeq
            Files.write(Paths.get(s"$dir/$name"), ZipArchive.bytes(members))
        }
        Files.write(Paths.get(s"$dir/_SUCCESS"), Array.emptyByteArray)
      }
      ZipArchive.read(s, dir)
        .groupBy("archive")
        .agg(count(lit(1)).as("n_members"), sum("size").as("total_bytes"),
          min("member").as("first_member"), max("member").as("last_member"))
        .orderBy("archive")
    }, Some(
      """WITH zm AS (
        |  SELECT 'arch_' || CAST(n_nationkey % 2 AS VARCHAR) || '.zip' AS archive,
        |         'nation_' || CAST(n_nationkey AS VARCHAR) || '.txt' AS member,
        |         CAST(length(n_name || ',' || CAST(n_regionkey AS VARCHAR)) + 1 AS BIGINT) AS size
        |  FROM nation)
        |SELECT archive, count(*) AS n_members,
        |       CAST(sum(size) AS BIGINT) AS total_bytes,
        |       min(member) AS first_member, max(member) AS last_member
        |FROM zm GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WARC round-trip (sources/Warc.scala — the Common Crawl container,
    // per-record gzip members): the documents corpus is serialized once as
    // HTTP-response records across 4 .warc.gz files (commit-marker
    // guarded), then the distributed scan — gzip-member decode, WARC
    // framing, HTTP status/header/body split included — must reproduce
    // every payload byte-for-byte: per doc_id-bucket counts, body byte
    // totals, the parsed HTTP status (a 200 literal in the oracle — a
    // mis-split would surface it), and an order-canonical md5-of-md5s
    // against DuckDB computing straight from the parquet text.
    Q("s13_warc_roundtrip", (s, d) => {
      val dir = s"${Q.scratch}/s13_docs_warc_${Integer.toHexString(d.hashCode)}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        val recs = Tables.table(s, d, "documents").select(
          concat(lit("https://corpus.example/doc/"), col("doc_id")).as("target_uri"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          concat(lit("urn:uuid:doc-"), col("doc_id")).as("record_id"),
          lit("text/plain; charset=utf-8").as("http_content_type"),
          encode(col("text"), "UTF-8").as("body"))
        Warc.writeFiles(recs.repartition(4, col("target_uri")), dir)
      }
      Warc.read(s, dir)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("http_status"), length(col("body")).as("nbytes"),
          md5(col("body")).as("doc_fp"))
        .groupBy((col("doc_id") % 8).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("nbytes").cast("long")).as("total_bytes"),
          min("http_status").as("min_status"),
          max("http_status").as("max_status"),
          md5(concat_ws(" ", array_sort(collect_list("doc_fp")))).as("fp"))
        .orderBy("g")
    }, Some(
      """WITH wr AS (
        |  SELECT doc_id % 8 AS g, octet_length(encode(text)) AS nbytes,
        |         md5(text) AS doc_fp
        |  FROM documents)
        |SELECT g, count(*) AS n, CAST(sum(nbytes) AS BIGINT) AS total_bytes,
        |       CAST(200 AS INTEGER) AS min_status,
        |       CAST(200 AS INTEGER) AS max_status,
        |       md5(string_agg(doc_fp, ' ' ORDER BY doc_fp)) AS fp
        |FROM wr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S5 — IDAT round-trip through the dependency-free binary codec
    // (sources/Idat.scala, format per the public illuminaio spec): the
    // long intensity fixture (Tables.idatLong) is serialized to real
    // {sample}_{Grn|Red}.idat files once (executor-side, commit-marker
    // guarded), then the DISTRIBUTED binaryFile-based scan parses every
    // file in its own task and the per-(sample, channel) aggregate must
    // hash-match DuckDB's direct computation on the same derivation — a
    // lossless roundtrip is indistinguishable from no roundtrip.
    Q("s05_idat_roundtrip", (s, d) => {
      val dir = s"${Q.scratch}/s05_idat_${Integer.toHexString(d.hashCode)}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Idat.writeFiles(Tables.idatLong(s, d), dir)
      Idat.read(s, dir)
        .groupBy("sample_id", "channel")
        .agg(count(lit(1)).as("n_beads"),
          sum(col("mean").cast("long")).as("sum_mean"),
          sum(col("sd").cast("long")).as("sum_sd"),
          sum(col("nbeads").cast("long")).as("sum_nbeads"),
          min("address").as("min_address"), max("address").as("max_address"),
          min("barcode").as("barcode"), min("chip_type").as("chip_type"))
        .orderBy("sample_id", "channel")
    }, Some(SqlOracles.ctes +
      """SELECT sample_id, channel, count(*) AS n_beads,
        |       CAST(sum(mean) AS BIGINT) AS sum_mean,
        |       CAST(sum(sd) AS BIGINT) AS sum_sd,
        |       CAST(sum(nbeads) AS BIGINT) AS sum_nbeads,
        |       min(address) AS min_address, max(address) AS max_address,
        |       min(barcode) AS barcode, min(chip_type) AS chip_type
        |FROM idat GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // S5+K7 end-to-end — the reference's whole IDAT lifecycle
    // (/root/reference/idat.r): scan binary Grn/Red pairs → pOOBAH
    // detection p-values from the out-of-band background ecdf → β = M/(M+U)
    // → mask probes at detP > 0.05 (idat.r:71) → combine across samples and
    // runs, dropping probes with no surviving sample (idat.r:80-125; free
    // in the long model — absent rows). Every stage is SQL-expressible, so
    // the whole DAG — binary parse included — is hash-checked against
    // DuckDB recomputing from the parquet derivation directly.
    Q("e09_idat_lifecycle", (s, d) => {
      val dir = s"${Q.scratch}/s05_idat_${Integer.toHexString(d.hashCode)}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Idat.writeFiles(Tables.idatLong(s, d), dir)
      // betas + detectionP consume `dec` four ways (oob/sigI/sigII union
      // branches + the beta aggregate); re-parsing per branch was MEASURED
      // cheaper than persisting the decoded rows here (16×: 20.3 s
      // re-parsed vs 23.9 s persisted — local small files, row-local
      // codegen decode beats a 38M-row cache materialization). Re-A/B'd in
      // r10 under the blocking cache release, same verdict, worse: at
      // sf0.1 the decoded-row persist benched 7.25 s and a narrow RAW-row
      // persist (sample, channel, address, mean before decode) 3.53 s,
      // vs 2.75 s re-parsed — the trade did not flip. On remote object
      // storage it would: wrap `dec` in Caches.track(
      // dec.persist(MEMORY_AND_DISK)) there.
      val dec = Poobah.decodeAddress(Idat.read(s, dir))
      Poobah.betas(dec)
        .join(Poobah.detectionP(dec), Seq("sample_id", "probe_id"))
        .filter(col("detp") <= 0.05)
        .join(broadcast(Tables.sampleSheet(s, d)), "sample_id")
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_pass"),
          countDistinct("run").as("n_runs"),
          min("beta").as("min_beta"), max("beta").as("max_beta"))
        .orderBy("probe_id")
    }, Some(SqlOracles.ctes +
      """SELECT b.probe_id, count(*) AS n_pass,
        |       CAST(count(DISTINCT sh.run) AS BIGINT) AS n_runs,
        |       min(b.beta) AS min_beta, max(b.beta) AS max_beta
        |FROM idat_beta b
        |JOIN idat_detp p ON p.sample_id = b.sample_id AND p.probe_id = b.probe_id
        |JOIN sheet sh ON sh.sample_id = b.sample_id
        |WHERE p.detp <= 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S2+S8 — XLSX round-trip through the dependency-free OOXML
    // reader/writer (sources/Xlsx.scala): driver-side bounded sink (the
    // reference's to_excel contract — filter.py:22,48, combat_norm.py:81),
    // then the DISTRIBUTED binaryFile-based scan (one parse task per file,
    // reference read_excel — filter.py:11, top10k.py:5). All cells come
    // back as strings (CSV-without-inferSchema contract) and are cast;
    // money flows as exact integer cents so the oracle is fp-order-proof.
    Q("s09_xlsx_roundtrip", (s, d) => {
      val path = s"${Q.scratch}/s09_supplier_${Integer.toHexString(d.hashCode)}.xlsx"
      if (!new java.io.File(path).exists())
        Xlsx.write(Tables.table(s, d, "supplier"), path, sheet = "suppliers")
      Xlsx.read(s, path, sheet = Some("suppliers"))
        .select(col("s_nationkey").cast("int").as("s_nationkey"),
          col("s_name"),
          round(col("s_acctbal").cast("double") * 100).cast("bigint").as("cents"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), min("s_name").as("first_name"),
          sum("cents").as("acctbal_cents"))
        .orderBy("s_nationkey")
    }, Some(
      """SELECT s_nationkey, count(*) AS n, min(s_name) AS first_name,
        |       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S8 distributed flavor: one xlsx part per Spark partition written
    // executor-side (Hadoop FS API), then the glob scan parses all parts in
    // parallel — the shape that scales an xlsx export beyond the format's
    // 1,048,576-row single-sheet cap.
    Q("s10_xlsx_partitioned", (s, d) => {
      val dir = s"${Q.scratch}/s10_lineitem_xlsx_${Integer.toHexString(d.hashCode)}"
      // guard on the sink's commit marker, not bare directory existence — a
      // failed/killed earlier run leaves a partial dir that must be redone
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        val li = Tables.table(s, d, "lineitem")
          .filter(col("l_linenumber") === 1 && col("l_orderkey") % 4 === 0)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        Xlsx.writePartitioned(li.repartition(4, col("l_orderkey")), dir)
      }
      Xlsx.read(s, s"$dir/*.xlsx")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity").cast("double") * 100).cast("bigint")).as("qty_cents"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // E — batch flavor of the streaming QC window (same transform the
    // Structured Streaming monitor uses; StreamingSpec drives the
    // streaming flavor through a file-source stream).
    // Session windows (2h inactivity gap) — the other streaming-capable
    // grouping; oracle is the classic gaps-and-islands formulation.
    Q("e03_session_windows", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "2 hours"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
        .orderBy("user_id"),
      Some(
        """WITH s AS (
          |  SELECT user_id,
          |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 2 HOUR
          |              THEN 1 ELSE 0 END AS new_session
          |  FROM events)
          |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
          |       count(*) AS n_events
          |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Stream-stream interval join (purchase→view attribution) — the batch
    // run of the SAME watermarked transform StreamingSpec drives live
    // (`QcMonitor.attributionJoin`; watermarks are inert on batch input),
    // so the join semantics are DuckDB-oracle-checked here and the bounded
    // streaming state is spec-checked there.
    Q("e05_attribution_join", (s, d) => {
      val ev = Tables.events(s, d)
      QcMonitor.attributionJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"))
        .select(col("purchase_id"), col("user_id"), col("view_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          unix_micros(col("view_ts")).as("view_us"))
        .orderBy("purchase_id", "view_id")
    }, Some(
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
        |       epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id AND v.ts <= p.ts
        | AND v.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |ORDER BY 1, 3""".stripMargin)),

    // E13 — attribution, LEFT-OUTER flavor: every purchase comes out, the
    // unattributed ones with view_id NULL ("how much revenue has no
    // preceding view" — the first attribution question). Batch flavor of
    // QcMonitor.attributionJoinOuter (StreamingSpec drives the live form:
    // the null row is held until both watermarks close the purchase's
    // match window, late by one delay but never wrong). The view filter
    // rides the JOIN condition, not a WHERE — a WHERE on the right side
    // would silently turn the join inner (the classic outer-join bug,
    // asserted here by the oracle's unmatched rows).
    Q("e13_attribution_outer", (s, d) => {
      val ev = Tables.events(s, d)
      QcMonitor.attributionJoinOuter(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"))
        .select(col("purchase_id"), col("user_id"), col("view_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          unix_micros(col("view_ts")).as("view_us"))
        .orderBy(col("purchase_id").asc, col("view_id").asc_nulls_first)
    }, Some(
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
        |       epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON v.user_id = p.user_id AND v.ts <= p.ts
        | AND v.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY 1, 3 NULLS FIRST""".stripMargin)),

    // Streaming drift monitor, batch flavor (same transform StreamingSpec
    // drives live through MemoryStream): training-time reference = first
    // time half (binning range + Laplace-smoothed bin shares — bounded
    // 1-row/10-row driver reads, the PQ-codebook literal policy), then
    // QcMonitor.driftMonitor computes per-hour PSI of the second half in
    // ONE windowed aggregation (10 conditional-sum bins, PSI row-local as
    // a fixed left-associative 10-term expression — mirrored by the
    // oracle's bin-ordered running sum).
    // E11 — streaming watchlist monitor, batch flavor (the e10 pattern):
    // per event-time hour, a count-min sketch of the user stream with the
    // watch keys' estimates read off the finalized sketch. State per
    // window = depth×width longs regardless of user cardinality — the
    // sketch-state-in-streaming shape; estimates are collision-free at
    // this width (4×4096 vs ~10² active users/window), so the oracle
    // checks them against EXACT per-hour counts. Live MemoryStream drive
    // in StreamingSpec.
    Q("e11_watchlist_monitor", (s, d) => {
      val ev = Tables.events(s, d).select(col("ts"),
        format_string("U%05d", col("user_id")).as("uid"))
      val watch = (1 to 5).map(i => f"U$i%05d")
      QcMonitor.watchlistMonitor(ev, watch)
        .orderBy("hour", "watch_key")
    }, Some(
      """WITH wm_e AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |         printf('U%05d', user_id) AS uid
        |  FROM events),
        |wm_h AS (SELECT DISTINCT hour FROM wm_e),
        |wm_w AS (SELECT printf('U%05d', unnest(range(1, 6))) AS watch_key),
        |wm_c AS (SELECT hour, uid, CAST(count(*) AS BIGINT) AS n
        |         FROM wm_e GROUP BY 1, 2)
        |SELECT h.hour, w.watch_key, CAST(coalesce(c.n, 0) AS BIGINT) AS est_count
        |FROM wm_h h CROSS JOIN wm_w w
        |LEFT JOIN wm_c c ON c.hour = h.hour AND c.uid = w.watch_key
        |ORDER BY 1, 2""".stripMargin)),

    Q("e10_drift_monitor", (s, d) => {
      val ev = Tables.events(s, d).select(col("ts"),
        unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("bigint").as("c"))
      val rng = ev.agg(min("t").as("a"), max("t").as("b")).head()
      val (tmin, tmax) = (rng.getLong(0), rng.getLong(1))
      val isRef = expr(s"((t - ${tmin}L) * 2) div ${tmax - tmin + 1}L") === 0
      val refC = ev.filter(isRef)
        .agg(min("c").as("a"), max("c").as("b")).head()
      val (cmin, cmax) = (refC.getLong(0), refC.getLong(1))
      val binOf = least(greatest(
        expr(s"((c - ${cmin}L) * 10) div ${cmax - cmin + 1}L"), lit(0L)), lit(9L))
      val refCnt = ev.filter(isRef).withColumn("bin", binOf)
        .groupBy("bin").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nRef = refCnt.values.sum
      val shares = (0 until 10).map(i =>
        (refCnt.getOrElse(i.toLong, 0L) + 1.0) / (nRef + 10.0))
      QcMonitor.driftMonitor(ev.filter(!isRef).select("ts", "c"),
          cmin, cmax, shares)
        .orderBy("hour")
    }, Some(
      """WITH dm_e AS (
        |  SELECT ts, epoch_us(ts) AS t, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |dm_r AS (SELECT min(t) AS tmin, max(t) AS tmax FROM dm_e),
        |dm_h AS (
        |  SELECT ts, c, ((t - tmin) * 2) // (tmax - tmin + 1) = 0 AS is_ref
        |  FROM dm_e CROSS JOIN dm_r),
        |dm_cr AS (SELECT min(c) AS cmin, max(c) AS cmax FROM dm_h WHERE is_ref),
        |dm_bins AS (SELECT unnest(range(0, 10)) AS bin),
        |dm_refcnt AS (
        |  SELECT least(greatest(((c - cmin) * 10) // (cmax - cmin + 1), 0), 9) AS bin,
        |         count(*) AS n
        |  FROM dm_h CROSS JOIN dm_cr WHERE is_ref GROUP BY 1),
        |dm_reftot AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM dm_h WHERE is_ref),
        |dm_pr AS (
        |  SELECT b.bin,
        |         (CAST(coalesce(r.n, 0) AS DOUBLE) + 1.0) / (CAST(t.nr AS DOUBLE) + 10.0) AS pr
        |  FROM dm_bins b LEFT JOIN dm_refcnt r USING (bin) CROSS JOIN dm_reftot t),
        |dm_cnt AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |         least(greatest(((c - cmin) * 10) // (cmax - cmin + 1), 0), 9) AS bin,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM dm_h CROSS JOIN dm_cr WHERE NOT is_ref GROUP BY 1, 2),
        |dm_grid AS (
        |  SELECT h.hour, b.bin, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM (SELECT DISTINCT hour FROM dm_cnt) h
        |  CROSS JOIN dm_bins b
        |  LEFT JOIN dm_cnt c ON c.hour = h.hour AND c.bin = b.bin),
        |dm_tot AS (SELECT hour, CAST(sum(n) AS BIGINT) AS total FROM dm_grid GROUP BY 1),
        |dm_term AS (
        |  SELECT g.hour, g.bin,
        |         ((CAST(g.n AS DOUBLE) + 1.0) / (CAST(t.total AS DOUBLE) + 10.0) - p.pr)
        |           * ln(((CAST(g.n AS DOUBLE) + 1.0) / (CAST(t.total AS DOUBLE) + 10.0)) / p.pr) AS term
        |  FROM dm_grid g JOIN dm_tot t USING (hour) JOIN dm_pr p USING (bin)),
        |dm_run AS (
        |  SELECT hour, bin,
        |         sum(term) OVER (PARTITION BY hour ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS psi
        |  FROM dm_term)
        |SELECT r.hour, t.total AS n, round(r.psi, 6) AS psi
        |FROM dm_run r JOIN dm_tot t USING (hour)
        |WHERE r.bin = 9 ORDER BY 1""".stripMargin)),

    // Streaming near-dup monitor, batch flavor (StreamingSpec drives the
    // live flatMapGroupsWithState form through MemoryStream and asserts it
    // emits exactly these pairs on the same fixture): per-(band, bucket)
    // LSH candidates with ESTIMATED similarity (matching MinHash
    // components / numPerm — the decision a stream can afford; no shingle
    // re-join), ordered older→newer on a synthetic doc_id-minute
    // event-time axis. Rows-only: the xxhash64 signature family has no
    // DuckDB analog (same reason d03 is rows-only); DedupSpec pins
    // planted-duplicate recall and the signature/banding lockstep with
    // the batch minhashSignatures path.
    Q("e12_neardup_monitor", (s, d) => {
      val docsTs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"),
          timestamp_millis(col("doc_id") * 60000L).as("ts"))
      graft.llm.Dedup.estimatedNearDupPairs(docsTs, numPerm = 16, minSim = 0.5)
        .select(col("doc_a"), col("doc_b"), col("band"),
          round(col("est_sim"), 6).as("est_sim"))
        .orderBy("doc_a", "doc_b", "band")
    }, None),

    Q("e01_streaming_window_qc", (s, d) =>
      QcMonitor.windowedQc(Tables.events(s, d))
        .orderBy("hour", "event_type"),
      Some(
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
          |       event_type, count(*) AS n, round(avg(value), 6) AS avg_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
