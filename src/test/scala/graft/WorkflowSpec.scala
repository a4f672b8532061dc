package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.ops.{Pipelines, SizeGate}

/** e02's two post-QC chains: the driver-local chain that runs below the
  * size gate and the distributed chain above it call the same BMIQ,
  * ComBat, M-value and PCA functions and differ only in summation order,
  * so they must agree on the samples and components they emit and on
  * every rounded score and ratio within 2e-6.
  */
class WorkflowSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(local: DataFrame, distributed: DataFrame): Unit = {
    assert(local.columns.toSeq == distributed.columns.toSeq)
    def byId(df: DataFrame): Map[String, Row] = df.collect().map(r => r.getString(0) -> r).toMap
    val (a, b) = (byId(local), byId(distributed))
    assert(a.keySet == b.keySet, s"samples differ: ${a.keySet.diff(b.keySet)} / ${b.keySet.diff(a.keySet)}")
    assert(a.nonEmpty)
    for ((id, ra) <- a; j <- 1 until local.columns.length) {
      val (x, y) = (ra.getDouble(j), b(id).getDouble(j))
      assert(math.abs(x - y) <= 2e-6, s"$id ${local.columns(j)}: $x vs $y")
    }
  }

  private def both(beta: DataFrame, detp: DataFrame, sheet: DataFrame, manifest: DataFrame) = (
    Pipelines.fullWorkflow(beta, detp, sheet, manifest),
    SizeGate.pinned("Pipelines.fullWorkflow" -> SizeGate.Distributed)(
      Pipelines.fullWorkflow(beta, detp, sheet, manifest)))

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"e02's driver-local chain matches the distributed chain at $sf") {
      val d = s"/root/testdata/$sf"
      val (local, distributed) = both(Tables.betaLong(spark, d), Tables.detpLong(spark, d),
        Tables.sampleSheet(spark, d), Tables.probeManifest(spark, d))
      try assertSame(local, distributed) finally ops.Caches.releaseAll()
    }
  }

  test("e02's two chains agree when ComBat drops probes") {
    // 16 samples in two runs and two groups, 30 type-I and 30 type-II
    // probes with a run shift. ComBat drops cg_flat (beta 0.5 everywhere:
    // M-value 0, zero pooled variance) and cg_thin (3 observations < p + 2 = 5).
    val samples = (0 until 16).map(s => f"S$s%02d")
    val probes = (0 until 60).map(p => f"cg$p%03d")
    val cells = for ((sid, s) <- samples.zipWithIndex; (pid, p) <- probes.zipWithIndex) yield {
      val level = Seq(0.1, 0.5, 0.85)(p % 3) + (if (p >= 30) 0.05 else 0.0)
      val shift = if (s % 2 == 0) 0.04 else -0.03
      (pid, sid, math.min(math.max(level + shift + 0.04 * math.sin(p * 1.3 + s * 2.1), 0.01), 0.99))
    }
    val flat = samples.map(sid => ("cg_flat", sid, 0.5))
    val thin = samples.take(3).map(sid => ("cg_thin", sid, 0.3 + sid.takeRight(1).toInt * 0.1))
    val beta = (cells ++ flat ++ thin).toDF("probe_id", "sample_id", "beta")
    val detp = beta.select($"probe_id", $"sample_id", ($"beta" * 0.01).as("pval"))
    val sheet = samples.zipWithIndex.map { case (sid, s) =>
      (sid, if (s % 2 == 0) "run_a" else "run_b", if (s % 4 < 2) "WT" else "MUT")
    }.toDF("sample_id", "run", "group")
    val manifest = (probes.zipWithIndex.map { case (pid, p) => (pid, if (p < 30) 1 else 2) } ++
      Seq(("cg_flat", 1), ("cg_thin", 1))).toDF("probe_id", "design_type")
    val (local, distributed) = both(beta, detp, sheet, manifest)
    try assertSame(local, distributed) finally ops.Caches.releaseAll()
    // both dropped probes really leave ComBat
    val m = beta.filter($"probe_id".isin("cg_flat", "cg_thin"))
      .select($"probe_id", $"sample_id", graft.functions.Fns.mValueClamped($"beta").as("m"))
    assert(ops.Combat.standStats(m, sheet).count() == 0)
  }
}
