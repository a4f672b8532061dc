package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** E2 — the reference's flagship end-to-end lifecycle, QC as one Spark
  * DAG (reference /root/reference/workflow.R:1-722: "IDAT -> QC -> BMIQ
  * (per run) -> ComBat (across all runs) -> PCA"), the post-QC chain on
  * the driver or as distributed transforms by the QC'd table's size.
  * Where the reference crosses Python↔R process boundaries and
  * round-trips CSV/RData temp files between stages (workflow.R:86-91),
  * the engine chains the same stages in one process.
  */
object Pipelines {

  /** The QC'd rows at or below which [[fullWorkflow]] runs its post-QC
    * chain on the driver. Driver memory sets it, not speed: over
    * ScaleSmoke replicas of sf0.1 (4 CPUs, 6 GB heap, warm runs) the local
    * chain was faster at every size measured, and its largest after-GC
    * heap grew past the distributed chain's:
    *
    * | replica | QC'd rows | local           | distributed     |
    * |---------|-----------|-----------------|-----------------|
    * | 32×     |   940,964 | 30–34 s, 4.0 GB | 37–39 s, 3.8 GB |
    * | 64×     | 1,883,514 | 44–47 s, 5.2 GB | 54–57 s, 4.4 GB |
    *
    * At 64× the local chain filled 86% of the heap; the gate sits above
    * 32× and below 64×, whose replica stays distributed.
    */
  private val LocalMaxRows = 1000000L

  /** Mean detection p-value a sample and every observation of a probe
    * must stay under. The reference's 0.05 (workflow.R:44-53) passes
    * almost nothing on the synthetic detP, which is uniform-ish on
    * [0, 0.1]; 0.09 keeps a realistic surviving fraction. */
  private val QcThr = 0.09
  /** Probes per design type a sample needs for its BMIQ fit, lowered
    * from the reference's 50 (DoBMIQ.R:135) to the post-QC per-sample
    * probe counts. */
  private val BmiqMinPerType = 10
  /** The most variable probes PCA runs on, and the components kept. */
  private val TopK = 50
  private val Pcs = 3

  /** QC'd → BMIQ-normalized → ComBat-adjusted → top-k → PCA coordinates.
    *
    * QC runs in Spark. Its output is joined once with the manifest's
    * `design_type` and goes through the [[SizeGate]] `Pipelines.fullWorkflow`
    * (persisted, counted, released before returning); the sheet is
    * collected once. At most [[LocalMaxRows]] (1,000,000) rows are
    * collected into primitive arrays and run BMIQ → M-values → ComBat →
    * top-k → PCA on the driver; larger tables run the same steps as
    * distributed transforms over the persisted table. Both paths call the
    * same per-sample BMIQ, per-probe ComBat, M-value and PCA functions, so
    * they differ only in summation order. Either way the driver holds the
    * samples × [[TopK]] matrix PCA runs on.
    *
    * @return PCA coordinates per surviving sample (the workflow's final
    *         plot-ready table, workflow.R:229-237).
    */
  def fullWorkflow(beta: DataFrame, detp: DataFrame, sheet: DataFrame,
                   manifest: DataFrame): DataFrame = {
    // The sheet (one row per sample) as a local relation: both chains
    // read ComBat's batch and group axes and each sample's run and group
    // from it without another job.
    val dims = sheet.select("sample_id", "run", "group")
    val localDims = dims.sparkSession.createDataFrame(
      java.util.Arrays.asList(dims.collect(): _*), dims.schema)
    // 1. per-run QC (workflow.R:43-75): sample mean-detP filter + probe
    // filter (observed-entry semantics — long model)
    val typed = Qc.qcBetas(beta, detp, nSamples = -1, thr = QcThr)
      .join(broadcast(manifest.select("probe_id", "design_type")), "probe_id")
      .select("probe_id", "sample_id", "beta", "design_type")
    SizeGate.counted("Pipelines.fullWorkflow", typed, LocalMaxRows)(
      local(_, localDims), distributed(_, localDims))
  }

  /** The post-QC chain as distributed transforms. */
  private def distributed(typed: DataFrame, sheet: DataFrame): DataFrame = {
    // 2. BMIQ intra-sample normalization (workflow.R:84-108)
    val normalized = Bmiq.normalizeTyped(typed, BmiqMinPerType)
      .select(col("probe_id"), col("sample_id"), col("beta_norm").as("beta"))

    // 3. ComBat across runs on M-values (workflow.R:112-150), back to betas.
    // ComBat consumes its input twice (cell-moment pass + adjustment join);
    // persist the normalized chain so the BMIQ flatMapGroups runs once, not
    // twice — the same in-memory-intermediate posture as the adjusted
    // persist below.
    val m = normalized.withColumn("m", Fns.mValueClamped(col("beta")))
      .select("probe_id", "sample_id", "m")
      .persist()
    val adjusted = Combat.combat(m, sheet)
      .withColumn("beta", Fns.inverseMValue(col("m_adj")))
      .select("probe_id", "sample_id", "beta")
      // PCA reads its input twice (top-k selection, then the pivot); persist
      // so the QC→BMIQ→ComBat chain isn't recomputed — the reference's
      // in-memory reuse of intermediates (SURVEY.md §4).
      .persist()

    // 4-5. top-k variable probes + PCA (workflow.R:155-237). pcaCoords
    // materializes its bounded result eagerly, so the chain cache can be
    // dropped before returning — nothing leaks past the call.
    try Pca.pcaCoords(adjusted, TopK, Pcs, scale = true)
    finally { adjusted.unpersist(false); m.unpersist(false) }
  }

  /** The post-QC chain on the driver, over one collect of `typed`. As
    * ComBat's sheet join does, it drops the samples the sheet lacks.
    * Samples and probes are dictionary-encoded in sorted id order and every
    * step visits them in that order, so the result is the same on every run.
    */
  private def local(typed: DataFrame, sheet: DataFrame): DataFrame = {
    val (batches, groups) = Combat.axes(sheet)
    val runGroup = sheet.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    val (sIds, pIds, normalized) = localBmiq(typed, runGroup.contains)
    val (nS, nP, bN, gN) = (sIds.length, pIds.length, batches.length, groups.length)
    val pIndex = pIds.zipWithIndex.toMap
    val batchOf = sIds.map(s => batches.indexOf(runGroup(s)._1))
    val groupOf = sIds.map(s => groups.indexOf(runGroup(s)._2))

    // 2. BMIQ ran in localBmiq. M-values in sample order, then a stable
    // counting sort by probe: probe p's cells are start(p) until
    // start(p + 1), samples ascending
    val probe0 = Array.newBuilder[Int]
    val m0 = Array.newBuilder[Double]
    val sample0 = Array.newBuilder[Int]
    for (s <- 0 until nS; o <- normalized(s)) {
      probe0 += pIndex(o.probe_id); sample0 += s; m0 += Fns.mValueOf(o.beta_norm)
    }
    val (probeOf, sampleOf, mOf) = (probe0.result(), sample0.result(), m0.result())
    val len = probeOf.length
    val start = new Array[Int](nP + 1)
    probeOf.foreach(p => start(p + 1) += 1)
    for (p <- 0 until nP) start(p + 1) += start(p)
    val (sample, m) = (new Array[Int](len), new Array[Double](len))
    val fill = start.clone()
    for (i <- 0 until len) {
      val at = fill(probeOf(i))
      sample(at) = sampleOf(i); m(at) = mOf(i); fill(probeOf(i)) += 1
    }

    // 3. ComBat: per-probe standardization, per-batch hyperpriors, EB
    val stand = Array.tabulate(nP) { p =>
      val n = new Array[Long](bN * gN)
      val sum = new Array[Double](bN * gN)
      val ss = new Array[Double](bN * gN)
      for (i <- start(p) until start(p + 1)) {
        val c = batchOf(sample(i)) * gN + groupOf(sample(i))
        n(c) += 1; sum(c) += m(i); ss(c) += m(i) * m(i)
      }
      Combat.standardize((0 until bN * gN).filter(n(_) > 0)
        .map(c => Combat.Cell(c / gN, c % gN, n(c), sum(c), ss(c))).toArray, bN, gN)
    }
    val survivors = stand.flatten
    val hyper = Array.tabulate(bN) { b =>
      val st = survivors.filter(_.nB(b) > 0)
      Combat.hyperpriorOf(st.map(_.gammaHat(b)), st.map(_.delta2Hat(b)))
    }
    val adj = new Array[Double](len)
    for (p <- 0 until nP; st <- stand(p)) {
      val eb = Array.tabulate(bN)(b =>
        if (st.nB(b) > 0) Combat.ebSolve(hyper(b), st.gammaHat(b), st.delta2Hat(b),
          st.nB(b), st.zs(b), st.zss(b)) else (0.0, 1.0))
      for (i <- start(p) until start(p + 1)) {
        val (g, d) = eb(batchOf(sample(i)))
        adj(i) = Fns.inverseMValueOf(
          Combat.adjust(m(i), st.standMean(groupOf(sample(i))), st.varPooled, g, d))
      }
    }

    // 4. top-k surviving probes by the variance of their adjusted betas
    val live = (0 until nP).filter(stand(_).isDefined).toArray
    val top = Analytic.topKIndices(
      live.map(p => Analytic.meanVar(adj.slice(start(p), start(p + 1)))._2), TopK)
      .map(live).sorted
    val column = top.zipWithIndex.toMap

    // 5. PCA over the samples with at least one top-k probe
    val wide = Array.fill(nS)(null: Array[Double])
    for (p <- top; i <- start(p) until start(p + 1)) {
      if (wide(sample(i)) == null) wide(sample(i)) = Array.fill(top.length)(Pca.AbsentCell)
      wide(sample(i))(column(p)) = adj(i)
    }
    val kept = (0 until nS).filter(wide(_) != null)
    Pca.coords(typed.sparkSession, kept.map(sIds).toArray, kept.map(wide).toArray, Pcs, scale = true)
  }

  /** The local chain's collect and its step 2, BMIQ per sample: the
    * sorted sample and probe ids of the rows whose sample `keep`s, and
    * each sample's normalized rows in sample-id order. The collected rows
    * are unreachable once this returns, so they never share the heap with
    * ComBat's and PCA's arrays.
    */
  private def localBmiq(typed: DataFrame, keep: String => Boolean)
      : (Array[String], Array[String], Array[Array[Bmiq.Out]]) = {
    val rows = typed.collect().filter(r => keep(r.getString(1)))
    val sIds = rows.map(_.getString(1)).distinct.sorted
    val pIds = rows.map(_.getString(0)).distinct.sorted
    // samples are independent, so they run in parallel on the common
    // fork-join pool, each into its own slot
    val bySample = rows.groupBy(_.getString(1))
    val normalized = new Array[Array[Bmiq.Out]](sIds.length)
    java.util.stream.IntStream.range(0, sIds.length).parallel().forEach { s =>
      normalized(s) = Bmiq.normalizeSample(bySample(sIds(s)).map(r =>
          Bmiq.In(r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))),
        BmiqMinPerType).toArray
    }
    (sIds, pIds, normalized)
  }

  /** The LLM-data analog of [[fullWorkflow]]: the whole curation tier as
    * ONE DAG — exact dedup → near-dup clusters → best-of-cluster keep →
    * heuristic quality gate → benchmark decontamination → context-window
    * chunking → sequence packing. Returns the packed training sequences
    * with their provenance (doc, chunk, bin).
    *
    * Scale posture is inherited from each stage (see their scaladoc); the
    * one cross-stage concern is that the survivor set feeds three
    * consumers (decontaminate's shingles, the chunker, and the final
    * join), so it is persisted once and released before returning.
    */
  def curationPipeline(docs: org.apache.spark.sql.DataFrame,
                       benchmark: org.apache.spark.sql.DataFrame,
                       funnel: Option[CurationFunnel] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.llm.{Curation, Dedup, TextAnalysis}
    funnel.foreach(_.register(docs.sparkSession))
    def observed(df: org.apache.spark.sql.DataFrame, stage: String) =
      funnel.fold(df)(_ => df.observe(s"curation_$stage", count(lit(1)).as("rows")))
    // exact-dedup survivors feed three consumers (the cluster-map build,
    // the scored side, and the provenance join) — persist like `survivors`.
    val exact = Caches.track(
      observed(Dedup.exactDedup(docs), "after_exact_dedup").persist())
    // kept feeds two consumers (decontaminate's shingle build and the
    // survivor join) — without a persist the lazy bestOfCluster residue
    // (the qualityScore regex over every doc + the cluster rank window)
    // re-evaluated under both branches (r9: one full regex pass saved).
    val kept = Caches.track(observed(
      Curation.bestOfCluster(exact, TextAnalysis.qualityScore(col("text")))
        .select(col("kept_doc").as("doc_id"), col("score"))
        .join(exact, "doc_id")
        .filter(col("score") >= 0.3), "after_quality_gate")
      .persist())
    // survivors feed two consumers (chunk text + provenance join); the
    // cache is registered in Caches and released by the harness.
    val survivors = Caches.track(
      observed(
        kept.join(Curation.decontaminate(kept, benchmark, minOverlap = 5)
            .filter(!col("contaminated")).select("doc_id"), "doc_id"),
        "after_decontamination")
        .persist())
    val chunks = Curation.chunkDocuments(survivors, chunkSize = 50, stride = 40)
      .withColumn("chunk_key",
        col("doc_id") * 10000L + col("chunk_id")) // chunk count/doc is bounded
    val packed = Curation.packSequences(
      chunks.select(col("chunk_key").as("doc_id"), col("chunk").as("text")),
      capacity = 512).toDF()
    val meta = chunks.select(col("chunk_key"), col("doc_id").as("src_doc"),
      col("chunk_id"))
    packed.join(meta, packed.col("doc_id") === meta.col("chunk_key"))
      .select(col("src_doc"), col("chunk_id"), col("tokens"), col("bin_id"))
  }

  /** Per-stage row counts of [[curationPipeline]] via named
    * `Dataset.observe` — the funnel a production curation job reports
    * (after exact dedup → after cluster-keep + quality gate → after
    * decontamination). Observed metrics piggyback on the pipeline's own
    * actions (no extra job, no extra scan, exact counts at task commit);
    * this collector is a QueryExecutionListener because the pipeline's
    * internal persists/size-dispatch collects mean a stage can complete
    * under any of several actions — the listener keeps the max per stage
    * (every full pass reports the same value; CollectMetrics is a pushdown
    * barrier, so no partial-flow count can exceed it). Delivery is on the
    * listener thread: read [[summary]] after the pipeline action returns
    * (StreamingSpec-style polling in tests).
    */
  final class CurationFunnel
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val seen = scala.collection.concurrent.TrieMap.empty[String, Long]
    private[Pipelines] def register(spark: org.apache.spark.sql.SparkSession): Unit =
      spark.listenerManager.register(this)
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit =
      qe.observedMetrics.foreach {
        case (name, row) if name.startsWith("curation_") &&
            row.schema.fieldNames.contains("rows") =>
          val n = row.getAs[Long]("rows")
          seen.updateWith(name.stripPrefix("curation_")) {
            case Some(prev) => Some(math.max(prev, n))
            case None => Some(n)
          }
        case _ =>
      }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
    def summary: Map[String, Long] = seen.toMap
  }
}
