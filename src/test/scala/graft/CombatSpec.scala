package graft

import org.apache.spark.sql.functions._
import graft.ops.Combat

class CombatSpec extends SparkSpec {
  import spark.implicits._

  // 40 probes × 20 samples: batch_b carries a +3.0 location shift plus a
  // per-batch scale difference; group MUT carries a real +0.5 effect that
  // ComBat must PRESERVE while removing the batch effect.
  private def fixture = {
    val rows = for {
      p <- 0 until 40
      s <- 0 until 20
    } yield {
      val batch = if (s < 10) "batch_a" else "batch_b"
      val group = if (s % 2 == 0) "WT" else "MUT"
      val noise = math.sin(p * 7.3 + s * 1.7) * 0.3
      val shift = if (batch == "batch_b") 3.0 + noise * 0.5 else 0.0
      val eff = if (group == "MUT") 0.5 else 0.0
      (f"p$p%03d", s"s$s", batch, group, p * 0.05 + eff + shift + noise)
    }
    val df = rows.toDF("probe_id", "sample_id", "run", "group", "m")
    (df.select("probe_id", "sample_id", "m"),
      df.select("sample_id", "run", "group").distinct())
  }

  test("batch-mean spread shrinks >5x and grand means are preserved") {
    val (m, sheet) = fixture
    val adj = Combat.combat(m, sheet).persist()

    val spread = adj.groupBy("probe_id", "run")
      .agg(avg("m").as("mb"), avg("m_adj").as("ma"))
      .groupBy("probe_id")
      .agg((max("mb") - min("mb")).as("before"), (max("ma") - min("ma")).as("after"))
      .agg(avg("before").as("b"), avg("after").as("a"))
      .head()
    val (before, after) = (spread.getDouble(0), spread.getDouble(1))
    assert(before > 2.5, s"fixture batch effect missing: $before")
    assert(before / after > 5, s"shrink only ${before / after}x ($before -> $after)")

    // reference invariant (test.R:149-181 analog): per-probe overall means move little
    val drift = adj.groupBy("probe_id")
      .agg(abs(avg("m") - avg("m_adj")).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(drift < 0.6, s"grand-mean drift $drift")
  }

  test("group effect survives batch adjustment") {
    val (m, sheet) = fixture
    val adj = Combat.combat(m, sheet)
    val diff = adj.groupBy("group").agg(avg("m_adj").as("mu"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(diff("MUT") - diff("WT") > 0.3,
      s"group effect lost: ${diff("MUT") - diff("WT")}")
  }

  // pycombat flavor (combat_norm.py:41-73): raw betas, batch-only design.
  test("combatBetas shrinks batch-mean spread on betas and preserves grand means") {
    val rows = for {
      p <- 0 until 40
      s <- 0 until 20
    } yield {
      val batch = if (s < 10) "file1_2" else "file3_4"
      val noise = math.sin(p * 5.1 + s * 2.3) * 0.05
      val shift = if (batch == "file3_4") 0.25 else 0.0
      (f"p$p%03d", s"s$s", batch, 0.3 + p * 0.005 + shift + noise)
    }
    val betas = rows.toDF("probe_id", "sample_id", "batch", "beta")
    val batchOf = betas.select("sample_id", "batch").distinct()
    val adj = Combat.combatBetas(betas.select("probe_id", "sample_id", "beta"),
      batchOf).persist()

    val spread = adj.groupBy("probe_id", "batch")
      .agg(avg("beta").as("bb"), avg("beta_adj").as("ba"))
      .groupBy("probe_id")
      .agg((max("bb") - min("bb")).as("before"), (max("ba") - min("ba")).as("after"))
      .agg(avg("before").as("b"), avg("after").as("a"))
      .head()
    val (before, after) = (spread.getDouble(0), spread.getDouble(1))
    assert(before > 0.2, s"fixture batch effect missing: $before")
    assert(before / after > 5, s"shrink only ${before / after}x ($before -> $after)")

    val drift = adj.groupBy("probe_id")
      .agg(abs(avg("beta") - avg("beta_adj")).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(drift < 0.05, s"grand-mean drift $drift")
    adj.unpersist()
  }

  test("combatBetas drops probes not observed in every sample (complete cases)") {
    val full = for (s <- 0 until 6)
      yield ("p_full", s"s$s", if (s < 3) "a" else "b", 0.4 + s * 0.01)
    val partial = for (s <- 0 until 4) // missing in s4, s5
      yield ("p_partial", s"s$s", if (s < 3) "a" else "b", 0.5 + s * 0.01)
    val betas = (full ++ partial).toDF("probe_id", "sample_id", "batch", "beta")
    val batchOf = betas.select("sample_id", "batch").distinct()
    val out = Combat.combatBetas(betas.select("probe_id", "sample_id", "beta"),
      batchOf).select("probe_id").distinct().collect().map(_.getString(0))
    assert(out.sameElements(Array("p_full")), out.mkString(","))
  }

  test("scalar adjust carries the Column adjustment's bits") {
    // pooled variances and EB scales span the clamps standardize and
    // ebSolve leave (> 1e-12, ≥ 1e-8); the rest is seeded noise
    val rnd = new scala.util.Random(11)
    val grid = (for (v <- Seq(1.1e-12, 1e-6, 0.3, 4.0, 250.0);
                     d <- Seq(1e-8, 0.01, 1.0, 37.0);
                     _ <- 0 until 20)
      yield (rnd.nextGaussian() * 6, rnd.nextGaussian() * 3, v, rnd.nextGaussian(), d))
      .toDF("m", "sm", "v", "g", "d")
    val rows = grid.select(col("m"), col("sm"), col("v"), col("g"), col("d"),
      Combat.adjustCol(col("m"), col("sm"), col("v"), col("g"), col("d"))).collect()
    def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    rows.foreach { r =>
      val (m, sm, v, g, d) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(bits(Combat.adjust(m, sm, v, g, d)) == bits(r.getDouble(5)), s"adjust($m, $sm, $v, $g, $d)")
    }
  }
}
