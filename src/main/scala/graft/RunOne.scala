package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Developer tool: run one registered query N times and print row counts or
  * full stack traces — for chasing intermittent failures under a given
  * parallelism. Each rep also prints the Spark jobs it ran (the `count()`
  * included; those the query function ran before returning its frame in
  * brackets), the generated classes it compiled and their compile time, so
  * a cut in eager jobs or a warm rep that recompiles shows up without a
  * trace, and then one line per [[graft.ops.SizeGate]] decision the rep
  * made: the gate, the side it took and its (measure,limit) pairs.
  * Usage: runMain graft.RunOne <sfDir> <query> [reps]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local(Sessions.envCpus(4))
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    (1 to reps).foreach { i =>
      try {
        ListenerBus.drain(spark.sparkContext)
        val j0 = jobs.get
        val t0 = System.nanoTime()
        val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val ((built, n), gates) = graft.ops.SizeGate.recording {
          val df = SparkEntry.queries(name)(spark, sfDir)
          ListenerBus.drain(spark.sparkContext)
          (jobs.get - j0, df.count())
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
        ListenerBus.drain(spark.sparkContext)
        println(f"[runone] $name rep $i OK rows=$n ($secs%.2f s, ${jobs.get - j0} jobs ($built building), " +
          f"codegen $compiles compiles $compileMs%.0f ms)")
        gates.foreach(d => println(s"[runone] $name rep $i gate ${d.gate} ${d.side} ${d.checks.mkString(" ")}"))
      } catch {
        case e: Throwable =>
          println(s"[runone] $name rep $i FAILED")
          e.printStackTrace(System.out)
      } finally graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }
}
