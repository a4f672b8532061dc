package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans, job attribution and listener counters for the traced run.
  *
  * Everything stays in memory until [[Trace.write]] at the end of the run.
  * A job is attributed to the innermost benchmark span open when it was
  * submitted (carried in a local property, so broadcast threads inherit
  * it), then refined by the innermost listed module on its call-site stack:
  * `collect at Combat.scala:NN` lands in `ops.Combat` even though the
  * benchmark's span was `ops.Pipelines`. Jobs that adaptive execution
  * submits from its own threads carry no user frames; they take the call
  * site of the SQL execution that owns them. In the probe pass the
  * benchmark's own terminal action yields to the span, so a probed
  * module keeps the jobs that run its plan.
  */
object Trace {
  val SpanKey = "perfbench.span"
  val IterKey = "perfbench.iter"
  val PhaseKey = "perfbench.phase"
  /** Iteration index and phase of the traced run's probe pass. */
  val ProbeIter = 0
  val ProbePhase = "probe"

  /** Module names in report order, with the source files that refine to
    * them. `action` is the benchmark's own terminal action.
    */
  val modules: Seq[(String, String => Boolean)] = Seq(
    "ops.Qc" -> (_ == "Qc.scala"),
    "ops.Bmiq" -> (_ == "Bmiq.scala"),
    "ops.Combat" -> (_ == "Combat.scala"),
    "ops.Pca" -> (_ == "Pca.scala"),
    "ops.Dmp" -> (_ == "Dmp.scala"),
    "ops.Analytic" -> (_ == "Analytic.scala"),
    "ops.Pipelines" -> (_ == "Pipelines.scala"),
    "ops.Poobah" -> (_ == "Poobah.scala"),
    "sources.Idat" -> (_ == "Idat.scala"),
    "llm.Dedup" -> (_ == "Dedup.scala"),
    "llm.Curation" -> (_ == "Curation.scala"),
    "llm.TextAnalysis" -> (_ == "TextAnalysis.scala"),
    "queries" -> (f => f.startsWith("Queries") && f.endsWith(".scala")),
    "action" -> (_ == "PipelineBench.scala"))
  val moduleNames: Seq[String] = modules.map(_._1)

  private val frameFile = """\(([^():]+\.scala):\d+\)""".r

  /** The innermost listed module in a long-form call site (the user stack
    * from the frame that called into Spark outwards): a job whose short
    * call site is `first at RowMatrix.scala:62` lands in `ops.Pca`.
    */
  def moduleOf(longForm: String): Option[String] =
    frameFile.findAllMatchIn(Option(longForm).getOrElse("")).map(_.group(1))
      .flatMap(f => modules.collectFirst { case (m, owns) if owns(f) => m })
      .nextOption()

  final class Span(val id: Int, val name: String, val parent: Int,
                   val iter: Int, val startNs: Long) {
    var endNs: Long = startNs
  }

  final class Job(val id: Int, val iter: Int, val span: String,
                  val callSite: String, val module: String, val phase: String,
                  val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = startMs
    var tasks, retries = 0L
    var runMs, cpuNs, shuffleWrite, spill, fetchWaitMs, bytesRead,
        recordsRead = 0L
  }
}

final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var iter = 0
  @volatile private var on = false

  // listener state; written on the listener-bus thread, read after drain()
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val executionSite = mutable.HashMap.empty[String, (String, String)]
  val stageTasks = mutable.HashMap.empty[Int, (Int, Int)] // stage → (iter, tasks)
  val submitted = mutable.HashSet.empty[Int]
  /** (end ms, analysis ms, optimization ms, planning ms) per traced action;
    * matched to an iteration window by its end time.
    */
  val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  /** (iter, start ms, end ms) per traced iteration. */
  val iterWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      val span = p.getProperty(SpanKey)
      val own = e.stageInfos.maxByOption(_.stageId).map(s => (s.name, s.details))
      val sql = Option(p.getProperty("spark.sql.execution.id")).flatMap(executionSite.get)
      val sites = own.toSeq ++ sql
      val phase = p.getProperty(PhaseKey)
      val module = sites.flatMap(s => moduleOf(s._2)).headOption
        .filterNot(m => m == "action" && phase == ProbePhase)
        .orElse(Option(span)).getOrElse("unattributed")
      val site = sites.find(s => moduleOf(s._2).isDefined).orElse(sites.headOption)
        .map(_._1).getOrElse("")
      val iter = Option(p.getProperty(IterKey)).map(_.toInt).getOrElse(-1)
      val job = new Job(e.jobId, iter, span, site, module,
        phase, e.time, e.stageIds)
      jobs(e.jobId) = job
      e.stageIds.foreach(stageJob(_) = job)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        executionSite(x.executionId.toString) = (x.description, x.details)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      submitted += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stageJob.get(s.stageId).foreach(j => stageTasks(s.stageId) = (j.iter, s.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) j.retries += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.bytesRead += m.inputMetrics.bytesRead
          j.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      plans += ((end, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Attach or detach both listeners; spans are only recorded while on. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    on = flag
    if (flag) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else {
      drain()
      sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener)
    }
  }

  /** Tag every job submitted inside `f` with iteration `i`. */
  def iteration[A](i: Int)(f: => A): A = {
    iter = i
    sc.setLocalProperty(IterKey, i.toString)
    val t0 = System.currentTimeMillis()
    try f finally {
      if (on) synchronized { iterWindows += ((i, t0, System.currentTimeMillis())) }
      sc.setLocalProperty(IterKey, null)
    }
  }

  def phase[A](name: String)(f: => A): A = {
    sc.setLocalProperty(PhaseKey, name)
    try f finally sc.setLocalProperty(PhaseKey, null)
  }

  def span[A](name: String)(f: => A): A = if (!on) f else {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      iter, System.nanoTime())
    spans += s
    stack ::= s
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try f finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def drain(): Unit = org.apache.spark.BusDrain(sc)

  /** A span's duration minus the part of it covered by its child spans. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs) - Stats.unionLength(kids)
  }

  /** Writes spans (with self time) and attributed jobs as one JSON file. */
  def write(path: String): Unit = {
    val sp = spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "iter" -> s.iter, "dur_ms" -> (s.endNs - s.startNs) / 1e6,
      "self_ms" -> selfNs(s) / 1e6))
    val jb = jobs.values.map(j => Json.obj("job" -> j.id, "iter" -> j.iter,
      "span" -> j.span, "call_site" -> j.callSite, "module" -> j.module,
      "ms" -> (j.endMs - j.startMs), "tasks" -> j.tasks,
      "exec_run_ms" -> j.runMs, "shuffle_write_bytes" -> j.shuffleWrite))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      Json.obj("spans" -> Json.arr(sp.toSeq), "jobs" -> Json.arr(jb.toSeq)))
  }
}
