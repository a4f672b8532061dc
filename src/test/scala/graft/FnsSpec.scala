package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

class FnsSpec extends SparkSpec {
  import spark.implicits._

  test("M-value transform round-trips through its inverse on (0,1)") {
    // deterministic pseudo-random betas across the full clamp range
    val betas = (1 to 1000).map(i => (math.sin(i * 12.9898) * 43758.5453) % 1.0)
      .map(x => math.abs(x)).map(x => math.min(math.max(x, 1e-6), 1 - 1e-6))
    val df = betas.toDF("beta")
      .withColumn("m", Fns.mValueClamped(col("beta")))
      .withColumn("b2", Fns.inverseMValue(col("m")))
      .withColumn("err", abs(col("b2") - Fns.clamp(col("beta"), 0.001, 0.999)))
    val maxErr = df.agg(max("err")).head().getDouble(0)
    assert(maxErr < 1e-12, s"round-trip error $maxErr")
  }

  test("clamp bounds and M-value known values") {
    val r = Seq(( -0.5, 0.0, 1.5)).toDF("a", "b", "c")
      .select(Fns.clamp(col("a"), 0.001, 0.999).as("ca"),
        Fns.clamp(col("c"), 0.001, 0.999).as("cc"),
        Fns.mValue(lit(0.5)).as("m50"), Fns.mValue(lit(0.8)).as("m80"))
      .head()
    assert(r.getDouble(0) == 0.001 && r.getDouble(1) == 0.999)
    assert(math.abs(r.getDouble(2)) < 1e-12) // log2(0.5/0.5) = 0
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-12) // log2(0.8/0.2) = 2
  }

  test("scalar M-value and inverse carry the column functions' bits") {
    // 0 and 1, both clamps and their neighbours, the interior, the
    // inverse's saturation and NaN (greatest/least clamp NaN to the top)
    val grid = (Seq(0.0, 1.0, 0.001, 0.999, Math.nextUp(0.001), Math.nextDown(0.001),
        Math.nextUp(0.999), Math.nextDown(0.999), -0.5, 1.5, 0.5, -12.0, 12.0,
        1100.0, -1100.0, Double.NaN) ++ (0 to 400).map(_ / 400.0) ++
      (-200 to 200).map(_ * 0.07)).toDF("x")
    val rows = grid.select(col("x"), Fns.mValueClamped(col("x")).as("m"),
      Fns.inverseMValue(col("x")).as("b")).collect()
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    rows.foreach { r =>
      val x = r.getDouble(0)
      assert(bits(Fns.mValueOf(x)) == bits(r.getDouble(1)), s"mValue($x)")
      assert(bits(Fns.inverseMValueOf(x)) == bits(r.getDouble(2)), s"inverseMValue($x)")
    }
  }

  test("varFromMoments equals textbook sample variance") {
    val xs = Seq(3L, 7L, 7L, 19L)
    val mean = xs.map(_.toDouble).sum / xs.length
    val expected = xs.map(x => math.pow(x - mean, 2)).sum / (xs.length - 1)
    val got = xs.toDF("x")
      .agg(count(lit(1)).as("n"), sum("x").as("s"), sum(col("x") * col("x")).as("ss"))
      .select(Fns.varFromMoments(col("n"), col("s"), col("ss")).as("v"))
      .head().getDouble(0)
    assert(math.abs(got - expected) < 1e-9)
  }

  test("negLog10 guards non-positive input with NULL") {
    val rows = Seq(0.01, 0.0, -1.0).toDF("p")
      .select(Fns.negLog10(col("p")).as("nl")).collect()
    assert(math.abs(rows(0).getDouble(0) - 2.0) < 1e-12)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }
}
