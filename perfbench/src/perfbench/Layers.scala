package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** Per-layer metrics of a traced run. Module and scheduler figures are
  * means per warm traced iteration, except that a probed module's figures
  * come from its one probe pass; codegen and GC are whole-process totals
  * up to the probe pass (they move the cold iteration and set-up);
  * tables.* come from set-up.
  */
object Layers {
  private val MiB = 1048576.0

  /** Codegen compiles, codegen compile ms and GC ms of the process so far.
    * Above the histogram's sample size (1028) the compile time is its
    * sampled mean times the count.
    */
  def processTotals(): (Long, Double, Long) = {
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles = hist.getCount
    val snap = hist.getSnapshot
    val compileMs =
      if (compiles <= snap.size) snap.getValues.sum.toDouble else snap.getMean * compiles
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    (compiles, compileMs, gcMs)
  }

  def apply(t: Trace, tracedWarm: Seq[PipelineBench.Iter],
            untracedWarm: Seq[PipelineBench.Iter], probed: Seq[String], cpus: Int,
            process: (Long, Double, Long), tablesBuildS: Double,
            tablesCachedMb: Double, leakedRdds: Int): Map[String, Double] = {
    t.drain()
    val its = tracedWarm.map(_.index).toSet
    val n = math.max(its.size, 1).toDouble
    val windows = t.iterWindows.filter(w => its(w._1))
    val wallMs = windows.map(w => (w._3 - w._2).toDouble).sum
    val jobs = t.jobs.values.filter(j => its(j.iter)).toSeq
    val probeJobs = t.jobs.values.filter(_.iter == Trace.ProbeIter).toSeq
    def perIter(x: Double) = x / n

    val modules = Trace.moduleNames.flatMap { m =>
      val (js, k) =
        if (probed.contains(m)) (probeJobs.filter(_.module == m), 1.0)
        else (jobs.filter(_.module == m), n)
      def perIter(x: Double) = x / k
      val busyMs = js.groupBy(_.iter).values
        .map(g => Stats.unionLength(g.map(j => (j.startMs, j.endMs)))).sum
      Seq(
        s"$m.jobs" -> perIter(js.size),
        s"$m.tasks" -> perIter(js.map(_.tasks).sum),
        s"$m.busy_s" -> perIter(busyMs / 1e3),
        s"$m.exec_run_s" -> perIter(js.map(_.runMs).sum / 1e3),
        s"$m.exec_cpu_s" -> perIter(js.map(_.cpuNs).sum / 1e9),
        s"$m.shuffle_write_mb" -> perIter(js.map(_.shuffleWrite).sum / MiB),
        s"$m.spill_mb" -> perIter(js.map(_.spill).sum / MiB))
    }

    val jobMs = windows.map { w =>
      Stats.unionLength(jobs.filter(_.iter == w._1).map(j => (j.startMs, j.endMs)))
    }.sum
    val referenced = jobs.flatMap(_.stages).distinct
    val plans = t.plans.filter(p => windows.exists(w => p._1 >= w._2 && p._1 <= w._3))
    val plannerMs = plans.map(p => p._2 + p._3 + p._4).sum
    val (compiles, compileMs, gcMs) = process
    val read = jobs.filter(_.phase == "read")
    val allTraced = t.jobs.values.filter(_.iter > 0)
    val median = (s: Seq[PipelineBench.Iter]) => Stats.median(s.map(_.wallS))

    (modules ++ Seq(
      "planner.analysis_ms" -> perIter(plans.map(_._2).sum.toDouble),
      "planner.optimize_ms" -> perIter(plans.map(_._3).sum.toDouble),
      "planner.physical_ms" -> perIter(plans.map(_._4).sum.toDouble),
      "planner.actions" -> perIter(plans.size),
      "planner.share" -> (if (wallMs > 0) plannerMs / wallMs else 0.0),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_ms" -> compileMs,
      "jvm.gc_s" -> gcMs / 1e3,
      "driver.idle_s" -> perIter((wallMs - jobMs) / 1e3),
      "core_util" -> (if (wallMs > 0) jobs.map(_.runMs).sum / (wallMs * cpus) else 0.0),
      "sched.single_task_stages" ->
        perIter(t.stageTasks.values.count { case (i, k) => its(i) && k == 1 }),
      "sched.skipped_stage_ratio" -> (if (referenced.isEmpty) 0.0
        else referenced.count(s => !t.submitted(s)).toDouble / referenced.size),
      "sched.task_retries" -> perIter(jobs.map(_.retries).sum),
      "shuffle.fetch_wait_s" -> perIter(jobs.map(_.fetchWaitMs).sum / 1e3),
      "tables.build_s" -> tablesBuildS,
      "tables.cached_mb" -> tablesCachedMb,
      "caches.release_s" -> perIter(tracedWarm.map(_.releaseS).sum),
      "caches.leaked_rdds" -> leakedRdds.toDouble,
      "sources.Idat.write_mb" -> perIter(tracedWarm.map(_.idatWriteBytes).sum / MiB),
      "sources.Idat.read_mb" -> perIter(read.map(_.bytesRead).sum / MiB),
      "sources.Idat.records" -> perIter(read.map(_.recordsRead).sum),
      "trace.overhead_frac" -> (median(tracedWarm) / median(untracedWarm) - 1),
      "trace.unattributed_frac" -> (if (allTraced.isEmpty) 0.0
        else allTraced.count(_.module == "unattributed").toDouble / allTraced.size)
    )).toMap
  }
}
