package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.llm.{Dedup, TextAnalysis}
import graft.ops.{Bmiq, Caches, Poobah, Qc}
import graft.sources.Idat

/** One benchmark run of one workload in one `local[cpus]` Spark process,
  * driven by `perfbench/run.py`, which generates the inputs and the DuckDB
  * oracle results first. Writes its measurements as one JSON object to
  * `--result`.
  *
  * Untraced (`--trace 0`): set-up, one cold iteration, then warm
  * iterations until `--seconds` of warm wall time have passed (at least
  * one).
  * Traced (`--trace 1`): the same, with listeners attached; warm
  * iterations run in untraced/traced/traced/untraced blocks so the run
  * also measures its own tracing overhead. After the last iteration, one
  * probe pass runs each module the iteration uses only as a lazy plan on
  * its own, so that module gets jobs of its own.
  *
  * Usage (normally via run.py): PipelineBench --workload W --data DIR
  *   --oracle DIR --digests FILE --scratch DIR --result FILE --seconds S
  *   --trace 0|1 --launch-ns EPOCH_NS --cpus N
  *   [--trace-file FILE]
  * or: PipelineBench --export-oracle W FILE
  */
object PipelineBench {

  /** Warm time after which a traced run stops before completing its
    * untraced/traced block, once both kinds have run.
    */
  val MaxTracedWarmS = 60.0

  final case class Output(name: String, rows: Array[Row], columns: Seq[String]) {
    lazy val digest: String = Canon.digest(rows, columns)
  }

  /** What one workload builds in set-up and runs per iteration. */
  trait Workload {
    /** Tables.* views persisted and counted in set-up. */
    def views(spark: SparkSession, dir: String): Seq[DataFrame]
    /** Raw input tables counted, not persisted, in set-up. */
    def inputs(spark: SparkSession, dir: String): Seq[DataFrame] = Nil
    /** The stated input rows behind `rows_per_s`. */
    def inputRows(spark: SparkSession, dir: String): Long
    def iterate(b: Run): Seq[Output]
    /** Outputs compared with the DuckDB oracle (SparkEntry.oracleSql). */
    def oracleNames: Seq[String]
    /** The input scale an oracle-backed output is computed at, when it is
      * not the workload's own (see [[AtScale]]).
      */
    def scaleOf(name: String): Option[String] = None
    /** An invariant violation of an output without an oracle, if any. */
    def invariant(o: Output): Option[String] = None
    /** Modules whose work an iteration runs only inside other modules'
      * jobs (they build lazy plans); the traced run measures them in
      * [[probe]] instead.
      */
    def probed: Seq[String] = Nil
    /** Runs each of [[probed]] once on its own, inside a span of its name,
      * over the inputs the last iteration left.
      */
    def probe(b: Run): Unit = ()
  }

  /** Runs a plan to its end, every column, without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs a registered query inside a span named for the module that does
    * its work, then materializes it as the benchmark's terminal action.
    */
  def query(b: Run, name: String, module: String): Output = b.step(name) {
    val df = b.trace.span(module)(SparkEntry.queries(name)(b.spark, b.dir))
    val rows = b.trace.span("action")(df.collect())
    b.release()
    Output(name, rows, df.columns.toSeq)
  }

  object MethylStudy extends Workload {
    def views(spark: SparkSession, dir: String): Seq[DataFrame] = Seq(
      Tables.betaLong(spark, dir), Tables.detpLong(spark, dir),
      Tables.sampleSheet(spark, dir), Tables.probeManifest(spark, dir))
    def inputRows(spark: SparkSession, dir: String): Long =
      Tables.betaLong(spark, dir).count()
    def iterate(b: Run): Seq[Output] = Seq(
      query(b, "e02_full_workflow", "ops.Pipelines"),
      query(b, "k03_dmp_moderated", "ops.Dmp"))
    val oracleNames = Seq("k03_dmp_moderated")

    /** QC, then BMIQ over the cached QC output, with e02's parameters. */
    override val probed = Seq("ops.Qc", "ops.Bmiq")
    override def probe(b: Run): Unit = {
      val (s, d) = (b.spark, b.dir)
      val qc = Qc.qcBetas(Tables.betaLong(s, d), Tables.detpLong(s, d), nSamples = -1,
        thr = 0.09).persist()
      try {
        b.trace.span("ops.Qc")(qc.count())
        b.trace.span("ops.Bmiq")(noop(Bmiq.bmiq(qc, Tables.probeManifest(s, d), minPerType = 10)))
      } finally qc.unpersist(true)
    }

    /** PCA scores: one row per distinct sample; pc1..pc3 finite, centred
      * and in non-increasing variance order; evr1..evr3 (explained variance
      * ratios) constant per column, non-increasing, summing to at most 1.
      */
    override def invariant(o: Output): Option[String] =
      if (o.name == "e02_full_workflow") pcaScores(o) else None

    private def pcaScores(o: Output): Option[String] = {
      def column(c: String) = o.rows.map(_.getAs[Double](c))
      val pcs = Seq("pc1", "pc2", "pc3").map(column)
      val evr = Seq("evr1", "evr2", "evr3").map(column)
      val ids = o.rows.map(_.getAs[String]("sample_id"))
      val vars = pcs.map(x => x.map(v => v * v).sum / x.length)
      def ordered(xs: Seq[Double]) = xs.zip(xs.tail).forall { case (a, c) => c <= a * (1 + 1e-9) }
      if (o.rows.length < 3) Some(s"${o.rows.length} PCA rows")
      else if (ids.distinct.length != ids.length) Some("duplicate sample_id")
      else if ((pcs ++ evr).exists(_.exists(v => v.isNaN || v.isInfinite))) Some("non-finite value")
      else if (pcs.exists(x => math.abs(x.sum / x.length) > 1e-6 * (x.map(math.abs).max + 1)))
        Some("scores not centred")
      else if (!ordered(vars)) Some(s"PC variances not ordered: ${vars.mkString(",")}")
      else if (evr.exists(x => x.distinct.length != 1)) Some("evr not constant")
      else if (!ordered(evr.map(_.head)) || evr.map(_.head).sum > 1 + 1e-9 ||
          evr.exists(_.head < 0)) Some(s"evr ${evr.map(_.head).mkString(",")}")
      else None
    }
  }

  object Curation extends Workload {
    def views(spark: SparkSession, dir: String): Seq[DataFrame] = Nil
    override def inputs(spark: SparkSession, dir: String): Seq[DataFrame] =
      Seq(Tables.table(spark, dir, "documents"))
    def inputRows(spark: SparkSession, dir: String): Long =
      Tables.table(spark, dir, "documents").count()
    def iterate(b: Run): Seq[Output] =
      Seq(query(b, "e04_curation_pipeline", "ops.Pipelines"))
    val oracleNames = Nil

    /** e04's exact dedup and quality score over its training documents. */
    override val probed = Seq("llm.Dedup", "llm.TextAnalysis")
    override def probe(b: Run): Unit = {
      val docs = Tables.table(b.spark, b.dir, "documents").filter(col("doc_id") >= 5)
      b.trace.span("llm.Dedup")(noop(Dedup.exactDedup(docs)))
      b.trace.span("llm.TextAnalysis")(
        noop(docs.select(TextAnalysis.qualityScore(col("text")).as("score"))))
    }

    /** Packed sequences: training docs only (ids ≥ 5 are the non-benchmark
      * set), unique (doc, chunk) pairs, positive token counts, and no bin
      * above the 512-token capacity.
      */
    override def invariant(o: Output): Option[String] = {
      val doc = o.rows.map(_.getAs[Long]("src_doc"))
      val key = o.rows.map(r => (r.getAs[Long]("src_doc"), r.getAs[Long]("chunk_id")))
      val bins = o.rows.groupBy(_.getAs[Long]("bin_id"))
        .map { case (_, rs) => rs.map(_.getAs[Long]("tokens")).sum }
      if (o.rows.isEmpty) Some("no packed sequences")
      else if (doc.exists(_ < 5)) Some("benchmark document in the training set")
      else if (key.distinct.length != key.length) Some("duplicate (src_doc, chunk_id)")
      else if (o.rows.exists(_.getAs[Long]("tokens") <= 0)) Some("empty chunk")
      else if (bins.exists(_ > 512)) Some(s"bin over capacity: ${bins.max}")
      else None
    }
  }

  /** The IDAT codec both ways: write the bead-level intensity model as
    * binary `{sample}_{Grn|Red}.idat` files, then the e09 read path over
    * the files just written (e09 itself skips the write once its files
    * exist, so it is not called).
    */
  object IdatIngest extends Workload {
    def views(spark: SparkSession, dir: String): Seq[DataFrame] =
      Seq(Tables.idatLong(spark, dir), Tables.sampleSheet(spark, dir))
    def inputRows(spark: SparkSession, dir: String): Long =
      Tables.idatLong(spark, dir).count()
    def iterate(b: Run): Seq[Output] = {
      val files = s"${b.scratch}/idat"
      b.step("write")(b.trace.phase("write") {
        b.trace.span("sources.Idat")(Idat.writeFiles(Tables.idatLong(b.spark, b.dir), files))
      })
      b.idatWritten = directoryBytes(new File(files))
      Seq(b.step("read")(b.trace.phase("read") {
        val raw = b.trace.span("sources.Idat")(Idat.read(b.spark, files))
        val passed = b.trace.span("ops.Poobah") {
          val dec = Poobah.decodeAddress(raw)
          Poobah.betas(dec).join(Poobah.detectionP(dec), Seq("sample_id", "probe_id"))
        }
        val df = passed.filter(col("detp") <= 0.05)
          .join(broadcast(Tables.sampleSheet(b.spark, b.dir)), "sample_id")
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_pass"), countDistinct("run").as("n_runs"),
            min("beta").as("min_beta"), max("beta").as("max_beta"))
          .orderBy("probe_id")
        val rows = b.trace.span("action")(df.collect())
        b.release()
        Output("e09_idat_lifecycle", rows, df.columns.toSeq)
      }))
    }
    val oracleNames = Seq("e09_idat_lifecycle")

    /** Decode, betas and detection p-values over the cached raw records of
      * the files the last iteration wrote.
      */
    override val probed = Seq("ops.Poobah")
    override def probe(b: Run): Unit = {
      val raw = Idat.read(b.spark, s"${b.scratch}/idat").persist()
      try {
        b.trace.span("probe.input")(raw.count())
        b.trace.span("ops.Poobah") {
          val dec = Poobah.decodeAddress(raw)
          noop(Poobah.betas(dec).join(Poobah.detectionP(dec), Seq("sample_id", "probe_id")))
        }
      } finally raw.unpersist(true)
    }
  }

  /** Oracle-backed relational queries; each is tiny, so the per-query
    * floor (planning, job launch, size-gate counts) dominates. Their
    * bodies only build plans, which the terminal action runs; the probe
    * runs each plan once more under `queries`. The stated input rows are
    * those of `rowsTable`.
    */
  final class Relational(names: => Seq[String], rowsTable: String) extends Workload {
    def views(spark: SparkSession, dir: String): Seq[DataFrame] = Seq(
      Tables.betaLong(spark, dir), Tables.detpLong(spark, dir),
      Tables.sampleSheet(spark, dir), Tables.probeManifest(spark, dir))
    def inputRows(spark: SparkSession, dir: String): Long =
      Tables.table(spark, dir, rowsTable).count()
    def iterate(b: Run): Seq[Output] = names.map(query(b, _, "queries"))
    def oracleNames: Seq[String] = names
    override val probed = Seq("queries")
    override def probe(b: Run): Unit = names.foreach { n =>
      b.trace.span("queries")(noop(SparkEntry.queries(n)(b.spark, b.dir)))
      b.release()
    }
  }

  /** Every relational query named p*, f*, j*, w* or so*. */
  val RelationalFloor = new Relational(SparkEntry.queries.keys.toSeq.sorted
    .filter(n => Seq("p", "f", "j", "w", "so").exists(n.startsWith))
    .filter(SparkEntry.oracleSql.contains), "lineitem")

  /** The floor queries that run the engine's planner extensions (j12: the
    * RangeJoinBinning rule, j13: the AsOfJoin strategy) and a size gate
    * (w03: BH's row-count dispatch).
    */
  val PlannerFloor = new Relational(
    Seq("j12_range_join_auto", "j13_asof_join_exec", "w03_bh_adjust"), "events")

  /** A workload over the inputs of another scale: the sibling `sf<scale>`
    * directory of the same seed, which run.py generates alongside.
    */
  final class AtScale(part: Workload, scale: String) extends Workload {
    private def at(dir: String) = new File(new File(dir).getParentFile, s"sf$scale").getPath
    def views(spark: SparkSession, dir: String): Seq[DataFrame] = part.views(spark, at(dir))
    override def inputs(spark: SparkSession, dir: String): Seq[DataFrame] =
      part.inputs(spark, at(dir))
    def inputRows(spark: SparkSession, dir: String): Long = part.inputRows(spark, at(dir))
    def iterate(b: Run): Seq[Output] = b.at(at(b.dir))(part.iterate(b))
    def oracleNames: Seq[String] = part.oracleNames
    override def scaleOf(name: String): Option[String] =
      if (oracleNames.contains(name)) Some(scale) else None
    override def invariant(o: Output): Option[String] = part.invariant(o)
    override def probed: Seq[String] = part.probed
    override def probe(b: Run): Unit = b.at(at(b.dir))(part.probe(b))
  }

  /** Workloads run back to back in one iteration. */
  final class Sequence(parts: Workload*) extends Workload {
    def views(spark: SparkSession, dir: String): Seq[DataFrame] =
      parts.flatMap(_.views(spark, dir))
    override def inputs(spark: SparkSession, dir: String): Seq[DataFrame] =
      parts.flatMap(_.inputs(spark, dir))
    def inputRows(spark: SparkSession, dir: String): Long =
      parts.map(_.inputRows(spark, dir)).sum
    def iterate(b: Run): Seq[Output] = parts.flatMap(_.iterate(b))
    def oracleNames: Seq[String] = parts.flatMap(_.oracleNames)
    override def scaleOf(name: String): Option[String] =
      parts.iterator.flatMap(_.scaleOf(name)).nextOption()
    override def invariant(o: Output): Option[String] =
      parts.iterator.flatMap(_.invariant(o)).nextOption()
    override def probed: Seq[String] = parts.flatMap(_.probed)
    override def probe(b: Run): Unit = parts.foreach(_.probe(b))
  }

  /** methyl_study is the study as the pipeline runs it, IDAT ingest first,
    * then e02 and k03, followed by the planner floor; ingest and floor run
    * on the sf0.01 inputs (IDAT panel: 4 samples) to keep a run short.
    */
  val workloads: Map[String, Workload] = Map(
    "methyl_study" -> new Sequence(new AtScale(IdatIngest, "0.01"), MethylStudy,
      new AtScale(PlannerFloor, "0.01")),
    "curation" -> Curation,
    "idat_ingest" -> IdatIngest, "relational_floor" -> RelationalFloor)

  def directoryBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(directoryBytes).sum
    else f.length

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Mutable state of one run, handed to the workload each iteration. */
  final class Run(val spark: SparkSession, var dir: String, val scratch: String,
                  val trace: Trace) {
    /** Runs `f` with `dir` set to another input directory. */
    def at[A](other: String)(f: => A): A = {
      val own = dir
      dir = other
      try f finally dir = own
    }
    var releaseS = 0.0
    var idatWritten = 0L
    /** Wall seconds of each step of the current iteration. */
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def step[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally steps(name) = (System.nanoTime() - t0) / 1e9
    }
    /** Caches.releaseAll(), as Bench and Verify call it between queries. */
    def release(): Unit = trace.span("caches") {
      val t0 = System.nanoTime()
      Caches.releaseAll()
      releaseS += (System.nanoTime() - t0) / 1e9
    }
  }

  final case class Iter(index: Int, traced: Boolean, wallS: Double,
                        outputs: Seq[(String, String)], error: Option[String],
                        invariantErrors: Seq[String], releaseS: Double,
                        leakedRdds: Int, idatWriteBytes: Long,
                        steps: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--export-oracle")) {
      val w = workloads(argv(1))
      java.nio.file.Files.writeString(new File(argv(2)).toPath,
        Json.value(w.oracleNames.map(n => n -> Map("sql" -> SparkEntry.oracleSql(n),
          "scale" -> w.scaleOf(n).orNull)).toMap))
      return
    }
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val w = workloads(a("workload"))
    val dir = a("data")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt

    // the session Bench and Verify build
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() * 1000000L - a("launch-ns").toLong) / 1e9

    // set-up, once and cold: persist and count the input views
    val tablesT0 = System.nanoTime()
    (w.views(spark, dir) ++ w.inputs(spark, dir)).foreach(_.count())
    val tablesS = (System.nanoTime() - tablesT0) / 1e9
    val inputRows = w.inputRows(spark, dir)
    val sc = spark.sparkContext
    val cachedMb = sc.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum / 1048576.0
    val baselineRdds = sc.getPersistentRDDs.size

    val trace = new Trace(spark)
    val run = new Run(spark, dir, a("scratch"), trace)
    val iters = mutable.ArrayBuffer.empty[Iter]

    def iterate(traceIt: Boolean): Unit = {
      val i = iters.size + 1
      deleteTree(new File(run.scratch)) // every iteration starts with empty scratch
      trace.enable(traceIt)
      run.releaseS = 0.0
      run.idatWritten = 0L
      run.steps.clear()
      val t0 = System.nanoTime()
      val result =
        try Right(trace.iteration(i)(w.iterate(run)))
        catch { case e: Throwable =>
          e.printStackTrace()
          Left(e.toString)
        } finally Caches.releaseAll()
      val wall = (System.nanoTime() - t0) / 1e9
      val outs = result.toOption.getOrElse(Nil)
      iters += Iter(i, traceIt, wall, outs.map(o => o.name -> o.digest),
        result.left.toOption, outs.flatMap(o =>
          scala.util.Try(w.invariant(o)).fold(e => Some(e.toString), identity)
            .map(o.name + ": " + _)),
        run.releaseS, sc.getPersistentRDDs.size - baselineRdds, run.idatWritten,
        run.steps.toMap)
    }

    iterate(traced) // cold: pays codegen and JIT
    def warmS = iters.drop(1).map(_.wallS).sum
    if (!traced) while (iters.size < 2 || warmS < seconds) iterate(false)
    else {
      // untraced/traced/traced/untraced, so JIT drift across the block
      // cancels in the overhead estimate; a workload whose iterations are
      // too long for a whole block stops once both kinds have run
      val block = Seq(false, true, true, false)
      var k = 0
      def done = (k % 4 == 0 && k > 0 && warmS >= seconds) || (k >= 2 && warmS > MaxTracedWarmS)
      while (!done) { iterate(block(k % 4)); k += 1 }
    }
    trace.enable(false)
    // whole-process totals, taken before the probe pass adds to them
    val process = Layers.processTotals()
    if (traced && w.probed.nonEmpty) {
      trace.enable(true)
      try trace.iteration(Trace.ProbeIter)(trace.phase(Trace.ProbePhase)(w.probe(run)))
      finally { Caches.releaseAll(); trace.enable(false) }
    }
    deleteTree(new File(run.scratch))

    // output checks: oracle digests for oracle-backed outputs, otherwise
    // the digest pinned for this input (first run) or the first iteration's
    val oracle = w.oracleNames.map { n =>
      val df = spark.read.parquet(s"${a("oracle")}/$n.parquet")
      n -> Canon.digest(df.collect(), df.columns.toSeq)
    }.toMap
    val digestFile = new File(a("digests"))
    val pinned: Map[String, String] =
      if (!digestFile.exists()) Map.empty
      else java.nio.file.Files.readAllLines(digestFile.toPath).asScala
        .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
    val firstOk = iters.find(_.error.isEmpty).map(_.outputs.toMap).getOrElse(Map.empty)
    val expected = firstOk ++ pinned ++ oracle
    val failures = iters.flatMap { it =>
      val bad = it.error.toSeq ++ it.invariantErrors ++ it.outputs.collect {
        case (n, d) if expected.get(n).exists(_ != d) =>
          s"$n digest $d, expected ${expected(n)}" +
            (if (oracle.contains(n)) " (DuckDB oracle)" else "")
      }
      bad.headOption.map(m => s"iteration ${it.index}: $m")
    }
    if (!digestFile.exists() && failures.isEmpty && firstOk.nonEmpty)
      java.nio.file.Files.writeString(digestFile.toPath,
        firstOk.map { case (k, v) => s"$k\t$v\n" }.mkString)

    val warm = iters.drop(1)
    val e2e = Map(
      "setup_s" -> (sessionS + tablesS),
      "first_iter_s" -> iters.head.wallS,
      "iter_s_p50" -> Stats.median(warm.map(_.wallS).toSeq),
      "rows_per_s" -> inputRows * warm.size / warm.map(_.wallS).sum,
      "peak_rss_mb" -> peakRssMb(),
      "ok_frac" -> (1.0 - failures.size.toDouble / iters.size))
    val layers =
      if (traced) Layers(trace, warm.filter(_.traced).toSeq, warm.filter(!_.traced).toSeq,
        w.probed, cpus, process, tablesS, cachedMb, iters.last.leakedRdds)
      else Map.empty[String, Double]
    if (traced && a.contains("trace-file")) trace.write(a("trace-file"))

    java.nio.file.Files.writeString(new File(a("result")).toPath, Json.obj(
      "attempted" -> iters.size, "failed" -> failures.size, "failures" -> failures,
      "end_to_end" -> e2e, "per_layer" -> layers, "input_rows" -> inputRows,
      "session_s" -> sessionS, "tables_build_s" -> tablesS,
      "iterations" -> iters.map(it => Json.Raw(Json.obj("i" -> it.index,
        "traced" -> it.traced, "wall_s" -> it.wallS, "release_s" -> it.releaseS,
        "leaked_rdds" -> it.leakedRdds, "steps_s" -> it.steps,
        "digests" -> it.outputs.toMap))),
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}
