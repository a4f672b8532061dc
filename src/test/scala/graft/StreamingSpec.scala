package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.QcMonitor

class StreamingSpec extends SparkSpec {

  test("windowedQc aggregates a live stream into hourly windows") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")

    val q = QcMonitor.windowedQc(df).writeStream
      .format("memory").queryName("qc_out").outputMode("complete").start()
    try {
      ms.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 3.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 5.0),
        (Timestamp.valueOf("2024-01-01 10:30:00"), "error", 7.0))
      q.processAllAvailable()
      val out = sp.table("qc_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(out(("2024-01-01 10:00:00", "click")) == ((2L, 2.0)))
      assert(out(("2024-01-01 11:00:00", "click")) == ((1L, 5.0)))
      assert(out(("2024-01-01 10:00:00", "error")) == ((1L, 7.0)))
    } finally q.stop()
  }

  test("driftMonitor: live per-window PSI against a fixed reference distribution") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val df = ms.toDF().toDF("ts", "c")
    // reference: uniform over bins (already smoothed) — cmin 0, cmax 99,
    // so bin = c div 10
    val refShares = Seq.fill(10)(0.1)
    val q = QcMonitor.driftMonitor(df, 0L, 99L, refShares).writeStream
      .format("memory").queryName("drift_out").outputMode("complete").start()
    try {
      // window 1: all mass in bin 0 (max drift); window 2: spread evenly
      ms.addData((0 until 20).map(_ =>
        (Timestamp.valueOf("2024-01-01 10:05:00"), 3L)): _*)
      ms.addData((0 until 10).map(i =>
        (Timestamp.valueOf("2024-01-01 11:05:00"), i * 10L + 5L)): _*)
      q.processAllAvailable()
      val out = sp.table("drift_out").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // hand PSI, window 1: n0=20 → pc0=21/30, others pc=1/30, pr=0.1
      val w1 = (21.0 / 30 - 0.1) * math.log(21.0 / 30 / 0.1) +
        9 * ((1.0 / 30 - 0.1) * math.log(1.0 / 30 / 0.1))
      assert(out("2024-01-01 10:00:00")._1 == 20L)
      assert(math.abs(out("2024-01-01 10:00:00")._2 - w1) < 1e-5)
      // window 2: every bin has 1 of 10 → pc = 2/20 = 0.1 = pr → PSI = 0
      assert(out("2024-01-01 11:00:00")._1 == 10L)
      assert(math.abs(out("2024-01-01 11:00:00")._2) < 1e-12)
    } finally q.stop()
  }

  test("watchlistMonitor: live per-window CMS estimates equal exact counts") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val df = ms.toDF().toDF("ts", "uid")
    val q = QcMonitor.watchlistMonitor(df, Seq("U1", "U2", "U3")).writeStream
      .format("memory").queryName("watch_out").outputMode("complete").start()
    try {
      // window 1: U1×3, U2×1, noise from 50 other users; window 2: U3×2
      val w1 = Timestamp.valueOf("2024-01-01 10:10:00")
      val w2 = Timestamp.valueOf("2024-01-01 11:10:00")
      ms.addData(Seq.fill(3)((w1, "U1")) ++ Seq((w1, "U2")) ++
        (0 until 50).map(i => (w1, s"noise$i")): _*)
      ms.addData(Seq((w2, "U3"), (w2, "U3")): _*)
      q.processAllAvailable()
      val out = sp.table("watch_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out(("2024-01-01 10:00:00", "U1")) == 3L)
      assert(out(("2024-01-01 10:00:00", "U2")) == 1L)
      assert(out(("2024-01-01 10:00:00", "U3")) == 0L)
      assert(out(("2024-01-01 11:00:00", "U3")) == 2L)
      assert(out(("2024-01-01 11:00:00", "U1")) == 0L)
      // sketch merge across triggers: more U1 arriving in window 1 later
      ms.addData((w1, "U1"))
      q.processAllAvailable()
      assert(sp.table("watch_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        .apply(("2024-01-01 10:00:00", "U1")) == 4L)
    } finally q.stop()
  }

  test("ProgressMonitor rolls up batches, input rows, state and watermark") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val monitor = new QcMonitor.ProgressMonitor
    monitor.register(sp)
    val ms = MemoryStream[(Timestamp, String, Double)]
    val q = ms.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "2 hours") // the production stream()'s watermark
      .transform(QcMonitor.windowedQc)
      .writeStream.format("memory").queryName("qc_monitored")
      .outputMode("complete").start()
    try {
      ms.addData((Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 3.0))
      q.processAllAvailable()
      ms.addData((Timestamp.valueOf("2024-01-01 11:05:00"), "click", 5.0))
      q.processAllAvailable()
      // listener delivery is async — poll until both batches are folded in
      val deadline = System.nanoTime() + 10000000000L
      def prog = monitor.summary.get("qc_monitored")
      while (prog.forall(p => p.inputRows < 3 || p.batches < 2) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val p = prog.get
      assert(p.batches >= 2 && p.inputRows == 3)
      assert(p.maxStateRows > 0)          // the window aggregate keeps state
      assert(p.lastWatermark.nonEmpty)    // watermark advanced past batch 1
    } finally { q.stop(); monitor.unregister(sp) }
  }

  test("ewmaAnomalyStream flags spikes against state learned in earlier batches") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[(Long, String, Double)]
    val q = QcMonitor.ewmaAnomalyStream(ms.toDS())
      .toDF("seq", "key", "value", "ewma_before", "anomalous")
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    try {
      // batch 1: a stable baseline (warmup) on one key, noise on another
      ms.addData((1L to 6L).map(i => (i, "lat", 10.0 + 0.1 * (i % 3))): _*)
      q.processAllAvailable()
      // batch 2: one spike on the trained key, normal value after it;
      // the other key is still warming up, so its spike must NOT alarm
      ms.addData((7L, "lat", 100.0), (8L, "lat", 10.1),
        (9L, "errs", 500.0))
      q.processAllAvailable()
      val out = sp.table("ewma_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      assert(out(7L), "spike after warmup must alarm")
      assert(!out(8L), "normal value after the spike must not alarm")
      assert(!out(9L), "key still in warmup must not alarm")
      assert((1L to 6L).forall(i => !out(i)), "baseline must not alarm")
    } finally q.stop()
  }

  test("stateful dedup behaves identically on the RocksDB state-store backend") {
    // The disk-backed provider is what a production job runs when keyed
    // state outgrows executor heap; results must not depend on the backend.
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, String)]
    val q = QcMonitor.dedupStream(ms.toDS()).toDF("event_id", "payload")
      .writeStream.format("memory").queryName("dedup_rocks")
      .outputMode("append").start()
    try {
      ms.addData((1L, "a"), (2L, "b"), (1L, "a-dup"))
      q.processAllAvailable()
      ms.addData((1L, "a-replay"), (3L, "c"))
      q.processAllAvailable()
      val out = sp.table("dedup_rocks").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    } finally {
      q.stop()
      prev.fold(sp.conf.unset(key))(sp.conf.set(key, _))
    }
  }

  test("dedupStream emits each key once across micro-batches (custom state)") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = QcMonitor.dedupStream(ms.toDS()).toDF("event_id", "payload")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
      q.processAllAvailable()
      ms.addData((1L, "a-dup-later-batch"), (3L, "c"))
      q.processAllAvailable()
      val out = sp.table("dedup_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.keySet == Set(1L, 2L, 3L))
      assert(out(1L) == "a") // first occurrence wins, replays suppressed
    } finally q.stop()
  }

  test("dedupStreamTtl suppresses within the TTL and re-admits after state expiry") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = QcMonitor.dedupStreamTtl(
        ms.toDF().toDF("key", "ts", "payload"), ttlMs = 20000L)
      .toDF("key", "payload")
      .writeStream.format("memory").queryName("ttl_dedup_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(10), "a"), (2L, ts(10), "x"))
      q.processAllAvailable()
      ms.addData((1L, ts(11), "a-dup")) // within TTL: suppressed
      q.processAllAvailable()
      // advance the watermark far past key 1's expiry (60-10s delay = 50s
      // watermark > 10s+20s TTL); no key-1 data, so the timeout fires
      ms.addData((9L, ts(60), "w"))
      q.processAllAvailable()
      ms.addData((9L, ts(70), "w2")) // one more batch to process the timeout
      q.processAllAvailable()
      ms.addData((1L, ts(80), "a-again")) // state expired → re-admitted
      q.processAllAvailable()
      val out = sp.table("ttl_dedup_out").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(out.count(_._1 == 1L) == 2, s"key 1 rows: ${out.toSeq}")
      assert(out.toSet == Set((1L, "a"), (2L, "x"), (9L, "w"), (1L, "a-again")))
    } finally q.stop()
  }

  test("nearDupMonitor pairs LSH bucket collisions across triggers, expires by TTL") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "bank while morning light settles on the quiet water and nothing moves"
    val other = "completely unrelated text about distributed query engines " +
      "optimizing shuffle topology under adaptive execution with skew handling"
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = QcMonitor.nearDupMonitor(
        ms.toDF().toDF("doc_id", "ts", "text"), ttlMs = 20000L)
      .toDF("doc_a", "doc_b", "band", "est_sim")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(10), base), (2L, ts(10), other))
      q.processAllAvailable()
      // near-identical doc in a LATER trigger: bucket state from trigger 1
      // must produce the (1, 3) pair; unrelated doc 2 never pairs
      ms.addData((3L, ts(12), base))
      q.processAllAvailable()
      val mid = sp.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      assert(mid.forall(p => p._1 == 1L && p._2 == 3L), s"pairs: ${mid.toSeq}")
      assert(mid.length == 4 && mid.forall(_._4 == 1.0),
        s"identical docs must collide in all 4 bands at est 1.0: ${mid.toSeq}")
      // advance the watermark past expiry (90-10s delay = 80s watermark >
      // 12s+20s TTL), let the timeout fire, then replay the same text: the
      // bucket state is gone, so NO pair against doc 1/3 appears
      ms.addData((8L, ts(90), other + " trailing churn"))
      q.processAllAvailable()
      ms.addData((9L, ts(95), other + " more churn"))
      q.processAllAvailable()
      ms.addData((4L, ts(100), base))
      q.processAllAvailable()
      val fin = sp.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(!fin.exists(_._2 == 4L), s"expired state must not pair: ${fin.toSeq}")
      // the live drive emitted exactly what the batch flavor computes on
      // the same fixture (pairs within TTL only — (1,4)/(3,4) are outside)
      val batch = graft.llm.Dedup.estimatedNearDupPairs(
          Seq((1L, ts(10), base), (2L, ts(10), other), (3L, ts(12), base),
            (8L, ts(90), other + " trailing churn"),
            (9L, ts(95), other + " more churn"), (4L, ts(100), base))
            .toDF("doc_id", "ts", "text"),
          numPerm = 16, minSim = 0.5, ttlMs = 20000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      assert(batch.toSet == sp.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet,
        s"batch flavor diverged: batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("nearDupMonitor: adversarial all-identical corpus keeps state and work capped") {
    // the mass-collision pathology: EVERY doc is identical, so all
    // signatures land in ONE bucket per band. The twin bounds under test:
    // (a) state groups stay at `bands` (the ProgressMonitor peak-state
    // rollup — collisions collapse into existing groups, they don't mint
    // new ones), and (b) maxPerBucket caps the per-newcomer comparison
    // fan-out to keep-most-recent — so the emitted pair count is the
    // capped arithmetic EXACTLY, not the n²/2 blowup. Removing the
    // .take(maxPerBucket) cap fails the exact-count assertion.
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val text = "identical adversarial document body repeated verbatim across " +
      "the whole corpus to force every minhash band into a single bucket"
    val monitor = new QcMonitor.ProgressMonitor
    monitor.register(sp)
    val ms = MemoryStream[(Long, Timestamp, String)]
    val n = 12
    val cap = 3
    val q = QcMonitor.nearDupMonitor(
        ms.toDF().toDF("doc_id", "ts", "text"), ttlMs = 3600000L, maxPerBucket = cap)
      .toDF("doc_a", "doc_b", "band", "est_sim")
      .writeStream.format("memory").queryName("neardup_adversarial")
      .outputMode("append").start()
    try {
      // one doc per trigger: newcomer i sees exactly the cap most recent
      (1 to n).foreach { i =>
        ms.addData((i.toLong, ts(10 + i), text))
        q.processAllAvailable()
      }
      val pairs = sp.table("neardup_adversarial").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      // capped arithmetic: per band, doc i pairs against max(1, i-cap)..i-1
      val expected = for {
        band <- 0 until 4
        i <- 2 to n
        j <- math.max(1, i - cap) to (i - 1)
      } yield (j.toLong, i.toLong, band)
      assert(pairs.length == expected.length,
        s"pair count ${pairs.length} != capped ${expected.length} " +
          "(cap removed => n^2/2 blowup)")
      assert(pairs.map(p => (p._1, p._2, p._3)).toSet == expected.toSet,
        "capped keep-most-recent pairing diverged")
      // doc n must never reach entries older than the cap window
      assert(!pairs.exists(p => p._2 == n.toLong && p._1 < (n - cap).toLong),
        s"evicted entries still pairing: ${pairs.filter(_._2 == n.toLong).toSeq}")
      // state never grows past one group per band despite n docs
      val peak = monitor.summary.get("neardup_adversarial").map(_.maxStateRows)
      assert(peak.exists(p => p > 0 && p <= 4), s"peak state groups $peak not in (0, 4]")
    } finally { q.stop(); monitor.unregister(sp) }
  }

  test("funnelStream advances the chained stage across micro-batches, monotonically") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[(Long, Long, String)] // (user, ts_us, type)
    val q = QcMonitor.funnelStream(ms.toDS(), Seq("view", "click", "purchase"))
      .toDF("user_id", "funnel_stage")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      // u1: click BEFORE any view must not count; then view+click chain
      ms.addData((1L, 5L, "click"), (1L, 10L, "view"), (1L, 20L, "click"),
        (2L, 1L, "purchase"))
      q.processAllAvailable()
      val b1 = sp.table("funnel_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(b1 == Map(1L -> 2, 2L -> 0))
      // next batch: u1 completes; u2 still stuck at 0 (purchase-first)
      ms.addData((1L, 30L, "purchase"), (2L, 2L, "view"))
      q.processAllAvailable()
      val b2 = sp.table("funnel_out").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getInt(1)).max }
      assert(b2 == Map(1L -> 3, 2L -> 1))
    } finally q.stop()
  }

  test("incrementalDedupStream admits only corpus-novel, stream-unique content") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val corpus = Seq((100L, "existing corpus document about rivers"))
      .toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val q = QcMonitor.incrementalDedupStream(
        ms.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("inc_dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, "Existing corpus document about RIVERS!"), // known → dropped
        (2L, "fresh new content"))
      q.processAllAvailable()
      ms.addData(
        (3L, "FRESH   new content"), // replay of 2 (normalizes equal) → dropped
        (4L, "another novel doc"))
      q.processAllAvailable()
      val got = sp.table("inc_dedup_out").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(2L, 4L))
    } finally q.stop()
  }

  test("attributionJoin matches purchases to same-user views within the hour") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val views = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = QcMonitor.attributionJoin(
        purchases.toDF().toDF("event_id", "ts", "user_id"),
        views.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      views.addData(
        (11L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L), // in window
        (12L, Timestamp.valueOf("2024-01-01 09:00:00"), 1L), // > 1h before
        (13L, Timestamp.valueOf("2024-01-01 10:15:00"), 2L)) // other user
      purchases.addData((21L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L))
      q.processAllAvailable()
      val got = sp.table("attr_out")
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((21L, 11L)))
    } finally q.stop()
  }

  test("attributionJoinOuter emits unattributed purchases after the watermark closes the window") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val views = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = QcMonitor.attributionJoinOuter(
        purchases.toDF().toDF("event_id", "ts", "user_id"),
        views.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode("append").start()
    try {
      views.addData((11L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
      purchases.addData(
        (21L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L), // attributed
        (22L, Timestamp.valueOf("2024-01-01 10:30:00"), 2L)) // no view ever
      q.processAllAvailable()
      def got() = sp.table("attr_outer_out")
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet
      // matched row emits immediately; the null row must NOT yet (a view
      // for user 2 could still arrive inside 22's match window)
      assert(got() == Set((21L, Some(11L))))
      // advance both watermarks far past 10:30 + delay → window closed
      views.addData((99L, Timestamp.valueOf("2024-01-01 14:00:00"), 9L))
      purchases.addData((98L, Timestamp.valueOf("2024-01-01 14:00:00"), 9L))
      q.processAllAvailable()
      assert(got().contains((22L, None)),
        s"unattributed purchase never emitted: ${got()}")
    } finally q.stop()
  }

  test("upsertSink applies I/U/D micro-batches to the parquet table, idempotent per batch") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val dir = s"${Q.scratch}/upsert_sink_${System.nanoTime()}"
    val ms = MemoryStream[(Long, String, String)]
    val q = QcMonitor.upsertSink(ms.toDF().toDF("id", "op", "v"),
      dir, s"$dir/ckpt", "id", "op", Seq("v"))
    def tableNow(): Map[Long, String] =
      sp.read.parquet(s"$dir/data").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    try {
      ms.addData((1L, "I", "a"), (2L, "I", "b"))
      q.processAllAvailable()
      assert(tableNow() == Map(1L -> "a", 2L -> "b"))
      ms.addData((2L, "U", "b2"), (3L, "I", "c"), (1L, "D", null))
      q.processAllAvailable()
      assert(tableNow() == Map(2L -> "b2", 3L -> "c"))
      // replay of an applied batch (restart between merge and checkpoint
      // commit) must be a no-op: the _applied marker short-circuits it
      QcMonitor.applyChangeBatch(
        Seq((2L, "U", "CLOBBER"), (3L, "D", null)).toDF("id", "op", "v"),
        batchId = 1L, tableDir = dir, markerDir = s"$dir/ckpt/_applied",
        key = "id", opCol = "op", valueCols = Seq("v"))
      assert(tableNow() == Map(2L -> "b2", 3L -> "c"))
    } finally q.stop()
  }
}
