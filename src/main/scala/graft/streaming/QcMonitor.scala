package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M6 / SURVEY.md §2.10 — streaming QC monitor: watermarked tumbling-window
  * per-event-type counts and means over the `events` stream. The reference
  * is batch-only; this is the engine's incremental restatement of its QC
  * profiling (A4/A5), shared between batch and streaming so the batch
  * flavor is DuckDB-oracle-checked and the streaming flavor reuses the
  * exact same transform.
  */
object QcMonitor {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The shared transform: 1-hour tumbling window × event_type →
    * count + mean value. Works on both batch and streaming inputs.
    */
  def windowedQc(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("avg_value"))

  /** Streaming entry: file-source stream over a parquet directory with a
    * 2-hour watermark (late events beyond it are dropped from state —
    * bounded state is what makes this run forever at scale).
    */
  def stream(spark: SparkSession, dir: String): DataFrame =
    windowedQc(
      spark.readStream.schema(eventsSchema).parquet(dir)
        .withWatermark("ts", "2 hours"))

  /** Streaming exact dedup with custom state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): emit each event_id
    * the first time it is seen, suppress replays. State per key is one
    * boolean; with a real watermark + state timeout this is the bounded
    * streaming analog of the batch keep-first dedup (llm/Dedup.exactDedup).
    */
  def dedupStream(events: org.apache.spark.sql.Dataset[(Long, String)]):
      org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // Intra-batch arrival order is undefined after the groupByKey
            // shuffle, so "first" within one micro-batch is resolved by a
            // total order on the payload — deterministic run-to-run.
            var best: (Long, String) = null
            rows.foreach(r => if (best == null || r._2 < best._2) best = r)
            Iterator.single(best)
          }
      }
  }

  /** Stream-stream interval join (attribution): each purchase joins the
    * views by the same user within the preceding hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered rows — per-key state is one hour of views
    * plus the watermark delays, independent of stream length. That bounded
    * state is the whole design: an unconstrained stream-stream join would
    * buffer both streams forever.
    */
  def attributionJoin(purchases: DataFrame, views: DataFrame): DataFrame =
    attributionJoinImpl(purchases, views, "inner")

  /** Shared body of the inner and left-outer attribution joins — one
    * definition of the watermark delays, match window, and projection, so
    * the two flavors (and the e05/e13 oracles asserting them) can never
    * drift.
    */
  private def attributionJoinImpl(purchases: DataFrame, views: DataFrame,
                                  joinType: String): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "30 minutes")
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("ts") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("view_id"), col("ts").as("purchase_ts"), col("v_ts").as("view_ts"))
  }

  /** LEFT-OUTER watermarked stream-stream attribution — the semantic
    * [[attributionJoin]] cannot give: purchases with NO qualifying view
    * must still come out (as `view_id = NULL`), because "how much revenue
    * is unattributed" is usually the first question asked of an
    * attribution pipeline. In streaming, Spark holds the purchase in join
    * state until BOTH watermarks pass the end of its match window and only
    * then emits the null row — so unmatched results are late by one
    * watermark delay but never wrong (a purchase can't be declared
    * unattributed while a matching view could still arrive). Same state
    * bound as the inner form: both sides' state expire by the watermark +
    * the 1-hour range condition.
    */
  def attributionJoinOuter(purchases: DataFrame, views: DataFrame): DataFrame =
    attributionJoinImpl(purchases, views, "left_outer")

  /** Streaming incremental dedup: the streaming flavor of
    * llm/Curation.incrementalDedup — an incoming document stream is
    * fingerprinted, anti-joined against the STATIC corpus fingerprint set
    * (stream-static joins are stateless: each micro-batch probes the
    * static side, which at scale is a bucketed-by-fingerprint table), then
    * within-stream replays are suppressed by dropDuplicates on the
    * fingerprint. NOTE the dedup state here grows with distinct
    * fingerprints seen (cross-history dedup is inherently stateful; the
    * corpus table IS that state at rest) — a production deployment
    * periodically folds admitted fingerprints into the corpus table and
    * restarts the window, or bounds in-stream state with
    * [[dedupStreamTtl]]'s event-time TTL when a sliding window suffices.
    */
  def incrementalDedupStream(stream: DataFrame, corpus: DataFrame): DataFrame = {
    val fp = graft.llm.TextAnalysis.fingerprint(col("text"))
    val corpusFp = corpus.select(fp.as("fp")).distinct()
    stream.withColumn("fp", fp)
      .join(corpusFp, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
  }

  /** How late an event may arrive before the TTL monitors' watermark
    * passes it. */
  private val WatermarkDelay = "10 seconds"

  /** Watermark-bounded streaming dedup — the production form of
    * [[dedupStream]]: per-key state carries an event-time TTL
    * (`GroupStateTimeout.EventTimeTimeout`), so a key seen once is
    * suppressed for `ttlMs` of event time and then EXPIRES — total state
    * is bounded by keys-per-TTL-window, not stream lifetime. A key
    * reappearing after expiry is admitted again (the semantics of a
    * sliding dedup window, which is what unbounded streams actually
    * want; unexpiring state would OOM at stream scale).
    */
  def dedupStreamTtl(events: DataFrame, ttlMs: Long):
      org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.withWatermark("ts", WatermarkDelay)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // suppress the replay — but RE-ARM the timeout: Spark clears a
            // group's timeout on every data invocation, so returning
            // without setting it would make the state immortal
            state.setTimeoutTimestamp(
              math.max(state.get + ttlMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          } else {
            val rs = rows.toSeq
            val maxTs = rs.map(_._2.getTime).max
            state.update(maxTs)
            // expire after event-time TTL; never at-or-behind the watermark
            state.setTimeoutTimestamp(
              math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            val best = rs.minBy(r => (r._2.getTime, r._3))
            Iterator.single((key, best._3))
          }
      }
  }

  /** Live conversion funnel — the streaming dual of the batch
    * `ops/Timeseries.funnel`. Per-user state is ONE fixed-size array (the
    * earliest chained timestamp per stage, -1 = not reached), updated by
    * `mapGroupsWithState`: events apply in event-time order within each
    * batch, and a stage-i timestamp is set only when stage i-1 is already
    * set at an earlier-or-equal time — so `funnel_stage` (the reached
    * prefix length) is monotone across batches. State is O(stages) per
    * user regardless of event volume; with a watermark + state timeout the
    * user population itself is also bounded. Emits the user's current
    * stage each batch (Update-mode sink).
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[(Long, Long, String)],
                   stages: Seq[String]):
      org.apache.spark.sql.Dataset[(Long, Int)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (Long, Int)](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, String)], state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array.fill(stages.length)(-1L))
          // ts-sorted apply makes intra-batch shuffle order irrelevant
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, tp) =>
            val i = stages.indexOf(tp)
            if (i >= 0 && st(i) < 0 && (i == 0 || (st(i - 1) >= 0 && ts >= st(i - 1))))
              st(i) = ts
          }
          state.update(st)
          (user, st.segmentLength(_ >= 0, 0))
      }
  }

  /** Streaming MERGE sink: each micro-batch of keyed I/U/D changes is
    * applied to a parquet table directory through
    * [[graft.ops.Relational.upsertMerge]] inside `foreachBatch` — the
    * streaming CDC-apply pattern. Exactly-once comes from batch-id
    * idempotence: a replayed batch (restart between merge and checkpoint
    * commit) finds its `_applied/<id>` marker and is skipped, so the merge
    * is applied at most once per id and the checkpoint guarantees at least
    * once. The merge itself is the one-full-outer-join shape (shuffle ∝
    * base+changes on the key); the directory swap stands in for a table
    * format's atomic metadata commit (Delta/Iceberg), which is what the
    * full-file rewrite would be replaced by at scale.
    */
  def upsertSink(changes: DataFrame, tableDir: String, checkpointDir: String,
                 key: String, opCol: String, valueCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // markers live under the CHECKPOINT dir: batch ids are meaningful
        // only within one checkpoint lineage — tableDir-scoped markers
        // would silently skip a fresh query's first batches (its ids
        // restart at 0) against an existing table
        applyChangeBatch(batch, batchId, tableDir,
          s"$checkpointDir/_applied", key, opCol, valueCols)
      }
      .start()

  /** One micro-batch of [[upsertSink]]: merge + publish + mark applied.
    * Exposed for the replay-idempotence assertion in StreamingSpec.
    *
    * A micro-batch carrying TWO changes for one key would emit two table
    * rows from the full-outer merge (permanent duplicate-key corruption
    * compounding on every later merge), so the batch is checked and the
    * sink fails loudly instead — a CDC source that can emit several
    * changes per key per batch must pre-collapse them on its sequence
    * column before this sink (ordering is the source's knowledge, not
    * ours to invent).
    */
  private[graft] def applyChangeBatch(batch: DataFrame, batchId: Long,
                                      tableDir: String, markerDir: String,
                                      key: String, opCol: String,
                                      valueCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val table = new org.apache.hadoop.fs.Path(s"$tableDir/data")
    val fs = table.getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(s"$markerDir/$batchId")
    if (fs.exists(marker)) return // replayed batch: merge already published
    val dupKeys = batch.groupBy(key).count().filter(col("count") > 1).count()
    if (dupKeys > 0)
      throw new IllegalStateException(
        s"micro-batch $batchId carries $dupKeys keys with multiple change " +
          "rows; collapse to latest-per-key upstream before upsertSink")
    val next = new org.apache.hadoop.fs.Path(s"$tableDir/data_next_$batchId")
    // Crash recovery: a COMPLETE staged merge (_SUCCESS present) means the
    // old table may already be deleted — publish it instead of re-merging;
    // a partial one implies the table is untouched, so rewrite the stage.
    if (!fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) {
      val cols = key +: valueCols
      val current =
        if (fs.exists(table)) spark.read.parquet(table.toString)
        else batch.select(cols.map(col): _*).filter(lit(false))
      graft.ops.Relational.upsertMerge(current, batch, key, opCol, valueCols)
        .write.mode("overwrite").parquet(next.toString)
    }
    fs.delete(table, true)
    fs.rename(next, table)
    fs.mkdirs(marker)
  }

  /** EWMA smoothing weight of [[ewmaAnomalyStream]]'s mean/variance. */
  private val EwmaAlpha = 0.2
  /** Alarm width in weighted standard deviations. */
  private val EwmaK = 4.0
  /** Observations per key that only train the state. */
  private val EwmaWarmup = 5L

  /** Streaming EWMA control chart (anomaly monitor): per key, keep an
    * exponentially-weighted mean/variance as O(1) state and flag each
    * observation whose deviation from the running mean exceeds
    * [[EwmaK]] weighted standard deviations — the online analog of the
    * batch QC thresholds, with state that never grows with stream length.
    * The first [[EwmaWarmup]] observations per key only train the state (a
    * control chart needs a baseline before it can alarm). Intra-batch arrival
    * order is undefined after the groupByKey shuffle, so rows carry a
    * sequence number and each micro-batch is processed in sequence order
    * — deterministic run-to-run.
    *
    * @return (seq, key, value, ewma_before, anomalous)
    */
  def ewmaAnomalyStream(events: org.apache.spark.sql.Dataset[(Long, String, Double)])
      : org.apache.spark.sql.Dataset[(Long, String, Double, Double, Boolean)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._2)
      .flatMapGroupsWithState[(Double, Double, Long), (Long, String, Double, Double, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(Long, String, Double)],
         state: GroupState[(Double, Double, Long)]) =>
          var (m, v, n) = state.getOption.getOrElse((0.0, 0.0, 0L))
          val out = rows.toSeq.sortBy(_._1).map { case (seq, _, x) =>
            val anomalous =
              n >= EwmaWarmup && math.abs(x - m) > EwmaK * math.sqrt(math.max(v, 1e-12))
            val mBefore = m
            if (n == 0L) { m = x; v = 0.0 }
            else {
              val d = x - m
              m += EwmaAlpha * d
              v = (1 - EwmaAlpha) * (v + EwmaAlpha * d * d)
            }
            n += 1
            (seq, key, x, mBefore, anomalous)
          }
          state.update((m, v, n))
          out.iterator
      }
  }

  /** Streaming feature-drift monitor: per event-time window, the PSI of
    * the live feature distribution against a TRAINING-TIME reference
    * (a36's batch audit as a continuous monitor — the alert that a model's
    * serving inputs have drifted). Binning parameters and smoothed
    * reference shares are precomputed constants (broadcast literals), so
    * the whole monitor is ONE windowed aggregation — 10 fixed
    * conditional-sum bin columns — with PSI assembled ROW-LOCALLY from
    * them: chained aggregations are illegal in Structured Streaming, and
    * this shape needs none. State per window is 10 longs; with a watermark
    * it is dropped at window close, so the monitor runs forever.
    *
    * Input needs `ts` (timestamp) and `c` (integer feature, e.g. cents);
    * `refShares` must be the 10 ALREADY-SMOOTHED reference shares. The
    * PSI term sum is a fixed left-associative 10-term expression —
    * deterministic, and mirrored exactly by the batch oracle.
    */
  def driftMonitor(events: DataFrame, cmin: Long, cmax: Long,
                   refShares: Seq[Double]): DataFrame = {
    require(refShares.length == 10, "expect 10 reference shares")
    val binned = events.withColumn("bin",
      least(greatest(expr(s"((c - ${cmin}L) * 10) div ${cmax - cmin + 1}L"),
        lit(0L)), lit(9L)))
    val aggCols = (0 until 10).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"n$i"))
    val agged = binned
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(aggCols.head, aggCols.tail: _*)
    val total = (0 until 10).map(i => col(s"n$i")).reduce(_ + _)
    val psi = (0 until 10).map { i =>
      val pc = (col(s"n$i").cast("double") + lit(1.0)) /
        (total.cast("double") + lit(10.0))
      val pr = lit(refShares(i))
      (pc - pr) * log(pc / pr)
    }.reduce(_ + _)
    agged.select(
      date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
      total.as("n"), round(psi, 6).as("psi"))
  }

  /** Streaming heavy-hitter watchlist monitor: per hourly event-time window, a
    * count-min sketch of the key stream with watchlist estimates read off
    * the finalized sketch. The window state is the sketch buffer —
    * 4×4096 longs REGARDLESS of key cardinality (the property that
    * matters when the keyed alternative would hold one state row per user)
    * — and CMS merge is elementwise addition, so partial sketches combine
    * associatively across partitions and triggers. ONE windowed
    * aggregation; the watchlist explode and estimate lookup are row-local
    * projections after it (chained aggregations stay illegal in
    * streaming; this shape needs none). With 4096 columns the
    * watch-key estimates are collision-free at realistic per-window
    * cardinalities — the t13 posture — which is what the batch oracle
    * asserts against exact counts.
    *
    * Input needs `ts` (timestamp) and `uid` (string key).
    */
  def watchlistMonitor(events: DataFrame, watch: Seq[String]): DataFrame = {
    val (depth, width) = (4, 4096)
    val cms = udaf(new graft.functions.CountMinAgg(depth, width))
    val est = udf((counts: Seq[Long], key: String) =>
      graft.functions.CountMinSketch(depth, width, counts.toArray).estimate(key))
    events.select(col("ts"), col("uid"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(cms(col("uid")).as("sk"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("sk.counts").as("counts"),
        explode(typedlit(watch)).as("watch_key"))
      .select(col("hour"), col("watch_key"),
        est(col("counts"), col("watch_key")).as("est_count"))
  }

  /** Streaming NEAR-dup monitor — the LSH-banded complement of
    * [[dedupStreamTtl]]'s exact-hash dedup: each arriving document's
    * row-local MinHash signature ([[graft.llm.Dedup.minhashSignatureArray]]
    * — no per-doc shuffle) lands in its [[graft.llm.Dedup.NearDupBands]]
    * (band, bucket) groups, and
    * per-bucket state holds the recent entries' (doc_id, ts, signature)
    * so a newcomer is compared against exactly its bucket collisions —
    * work ∝ collisions, the batch LSH contract carried into streaming.
    * Emits one row per (older, newer, band) whose estimated similarity
    * (matching signature components / [[graft.llm.Dedup.NearDupPerm]])
    * clears [[graft.llm.Dedup.NearDupMinSim]]; a pair
    * caught by k bands appears k times (downstream dedups if it cares —
    * chaining a second stateful op here would be the wrong default).
    *
    * State bound, twice over: entries expire after `ttlMs` of EVENT time
    * (GroupStateTimeout.EventTimeTimeout + in-state pruning against the
    * bucket's newest ts), and `maxPerBucket` caps a pathological bucket
    * (the full-band mass-collision residual the batch path documents —
    * here it degrades to keep-most-recent instead of OOM).
    *
    * Input needs `doc_id` (long), `ts` (timestamp), `text` (string).
    * Batch flavor (e12): [[graft.llm.Dedup.estimatedNearDupPairs]] — same
    * signatures, same banding, same gate, so the live drive and the
    * oracle-able batch restatement can never drift.
    */
  def nearDupMonitor(docs: DataFrame, ttlMs: Long, maxPerBucket: Int = 64):
      org.apache.spark.sql.Dataset[(Long, Long, Int, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    import graft.llm.Dedup.{NearDupMinSim, NearDupPerm}
    graft.llm.Dedup.bandedSignatureRows(docs, NearDupPerm)
      .withWatermark("ts", WatermarkDelay)
      .select("doc_id", "ts", "band", "sig", "sigv")
      .as[(Long, java.sql.Timestamp, Int, Long, Seq[Long])]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[List[(Long, Long, Seq[Long])],
        (Long, Long, Int, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long),
         it: Iterator[(Long, java.sql.Timestamp, Int, Long, Seq[Long])],
         state: GroupState[List[(Long, Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // event-time order within the batch (id tie-break) so the
            // older→newer pair orientation is deterministic
            val incoming = it.toSeq.sortBy(r => (r._2.getTime, r._1))
            var entries = state.getOption.getOrElse(Nil) // newest first
            val out = List.newBuilder[(Long, Long, Int, Double)]
            incoming.foreach { case (id, ts, band, _, sv) =>
              val tMs = ts.getTime
              entries.foreach { case (oid, oms, osv) =>
                // abs: a LATE arrival (within the watermark delay) compares
                // against state entries NEWER than itself — the signed gate
                // would wave the pair through at any gap
                if (oid != id && math.abs(tMs - oms) <= ttlMs) {
                  var m = 0
                  var i = 0
                  while (i < NearDupPerm) { if (sv(i) == osv(i)) m += 1; i += 1 }
                  val est = m.toDouble / NearDupPerm
                  if (est >= NearDupMinSim) {
                    // orient older→newer by (event time, id), not by who
                    // happened to be in state first
                    val stateIsOlder =
                      oms < tMs || (oms == tMs && oid < id)
                    out += (if (stateIsOlder) (oid, id, band, est)
                            else (id, oid, band, est))
                  }
                }
              }
              // insert preserving newest-first order — the TTL prune and
              // maxPerBucket keep-most-recent cap both rely on it; a bare
              // prepend would let a late arrival shield newer entries from
              // eviction and evict the wrong (non-oldest) tail
              val (newer, olderOrEq) = entries.span(e =>
                e._2 > tMs || (e._2 == tMs && e._1 > id))
              entries = (newer ::: (id, tMs, sv) :: olderOrEq)
                .take(maxPerBucket)
            }
            val newest = math.max(incoming.map(_._2.getTime).max,
              entries.headOption.map(_._2).getOrElse(Long.MinValue))
            entries = entries.filter(newest - _._2 <= ttlMs)
            state.update(entries)
            state.setTimeoutTimestamp(
              math.max(newest + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Rolled-up live metrics of one streaming query. */
  final case class Progress(batches: Long, inputRows: Long,
                            maxStateRows: Long, lastWatermark: String)

  /** Production monitoring for the streaming tier — the streaming analog
    * of the batch curation funnel (`Pipelines.CurationFunnel`): a
    * `StreamingQueryListener` folding every `QueryProgressEvent` into
    * per-query totals (micro-batches, input rows, peak state size, last
    * watermark). These are the numbers an operator alerts on — state
    * growth says a watermark is wrong, input-rate says a source stalled —
    * and they come from the engine's own progress events: no extra query,
    * no extra action. Delivery is on the listener bus thread; read
    * [[summary]] after `processAllAvailable()` (poll briefly, as the
    * funnel's consumers do).
    */
  final class ProgressMonitor
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val seen = scala.collection.concurrent.TrieMap.empty[String, Progress]
    def register(spark: SparkSession): Unit = spark.streams.addListener(this)
    def unregister(spark: SparkSession): Unit = spark.streams.removeListener(this)
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      val wm = Option(p.eventTime.get("watermark")).getOrElse("")
      seen.updateWith(name) {
        case Some(prev) => Some(Progress(prev.batches + 1,
          prev.inputRows + p.numInputRows,
          math.max(prev.maxStateRows, state),
          if (wm.nonEmpty) wm else prev.lastWatermark))
        case None => Some(Progress(1, p.numInputRows, state, wm))
      }
    }
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    def summary: Map[String, Progress] = seen.toMap
  }
}
