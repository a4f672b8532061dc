package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.{Caches, Graph, SizeGate}
import graft.ops.SizeGate.{Distributed, Local}

/** ops/SizeGate: pins are scoped to their body and thread, the counted
  * form runs one job and never leaves its frame cached, and a recording
  * region holds exactly the decisions made inside it.
  */
class SizeGateSpec extends SparkSpec {
  import spark.implicits._

  test("a pin holds only inside its body and on its own thread, and ends after a throw") {
    def gate() = SizeGate("spec.gate", 1L -> 10L)
    assert(gate() == Local)
    SizeGate.pinned("spec.gate" -> Distributed) {
      assert(gate() == Distributed)
      assert(SizeGate("spec.other", 1L -> 10L) == Local)
      var other: SizeGate.Side = null
      val t = new Thread(() => other = gate())
      t.start(); t.join()
      assert(other == Local)
      SizeGate.pinned("spec.gate" -> Local)(assert(gate() == Local))
      assert(gate() == Distributed)
    }
    assert(gate() == Local)
    intercept[ArithmeticException] {
      SizeGate.pinned("spec.gate" -> Distributed) {
        assert(gate() == Distributed)
        throw new ArithmeticException("in the body")
      }
    }
    assert(gate() == Local)
    // a pin that nothing consults is a broken spec, not a silent pass
    intercept[IllegalArgumentException](SizeGate.pinned("spec.never" -> Local)(gate()))
  }

  test("the counted form runs one job and releases its frame when the chosen side throws") {
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val df = spark.range(100).toDF("x").where(col("x") % 3 === 0)
    try {
      ListenerBus.drain(spark.sparkContext)
      val j0 = jobs.get
      val side = SizeGate.counted("spec.counted", df, 34L)(_ => Local, _ => Distributed)
      ListenerBus.drain(spark.sparkContext)
      assert(side == Local && jobs.get - j0 == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(df.storageLevel == StorageLevel.NONE)
    intercept[IllegalStateException] {
      SizeGate.counted("spec.counted", df, 33L)(_ => (), _ => throw new IllegalStateException("side"))
    }
    assert(df.storageLevel == StorageLevel.NONE)
    // A graph kernel whose local side fails (a seeds frame without `id`)
    // leaves no edge list cached behind it.
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    intercept[AnalysisException] {
      Graph.shortestPaths(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        Seq(1L).toDF("node"), maxHops = 2)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
  }

  test("a recording holds e02's one decision, shows a pin, and nothing is kept outside it") {
    def e02Gates() = SizeGate.recording {
      SparkEntry.queries("e02_full_workflow")(spark, "/root/testdata/sf0.001").count()
    }._2.filter(_.gate == "Pipelines.fullWorkflow")
    try {
      val local = e02Gates()
      assert(local.length == 1)
      assert(local.head.side == Local)
      val Seq((rows, limit)) = local.head.checks
      assert(rows > 0 && limit == 1000000L)
      val pinned = SizeGate.pinned("Pipelines.fullWorkflow" -> Distributed)(e02Gates())
      assert(pinned.length == 1)
      assert(pinned.head.side == Distributed)
      assert(pinned.head.checks == local.head.checks)
    } finally Caches.releaseAll()
    assert(SizeGate("spec.outside", 1L -> 2L) == Local)
    assert(SizeGate.recording(())._2.isEmpty)
  }
}
