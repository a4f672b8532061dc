package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class TablesSpec extends SparkSpec {

  test("Tables.table reads a raw table once per session and directory") {
    val dir = java.nio.file.Files.createTempDirectory("tables").toString
    spark.range(5).toDF("id").write.parquet(s"$dir/t.parquet")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def withJobs[T](f: => T): (T, Int) = {
        ListenerBus.drain(spark.sparkContext)
        val j0 = jobs.get
        val out = f
        ListenerBus.drain(spark.sparkContext)
        (out, jobs.get - j0)
      }
      // the first read infers the parquet schema with a job; the second
      // call returns the same DataFrame and runs none
      val (first, firstJobs) = withJobs(Tables.table(spark, dir, "t"))
      val (second, secondJobs) = withJobs(Tables.table(spark, dir, "t"))
      assert(firstJobs >= 1 && secondJobs == 0)
      assert(second eq first)
      assert(second.count() == 5)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
