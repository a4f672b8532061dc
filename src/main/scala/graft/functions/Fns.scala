package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column functions mirroring the reference pipeline's math.
  * All are pure Column expressions (no UDFs) so they stay inside
  * whole-stage codegen and remain pushdown/prune-friendly.
  *
  * Reference semantics: clamp /root/reference/plots.R:106-107, M-value
  * transform /root/reference/workflow.R:135-136, inverse M-value
  * /root/reference/workflow.R:147-149, -log10 /root/reference/volcano.R:166.
  */
object Fns {

  /** P12 — clamp to [lo, hi] (reference pmax/pmin 0.001/0.999). */
  def clamp(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** F7 — M-value transform log2(b/(1-b)). */
  def mValue(beta: Column): Column = log2(beta / (lit(1.0) - beta))

  /** F7 with the reference's pre-clamp so exact-0/1 betas stay finite. */
  def mValueClamped(beta: Column): Column = mValue(clamp(beta, 0.001, 0.999))

  /** F8 — inverse M-value 2^m/(1+2^m), clipped back into [0,1]. */
  def inverseMValue(m: Column): Column =
    clamp(pow(lit(2.0), m) / (lit(1.0) + pow(lit(2.0), m)), 0.0, 1.0)

  /** [[mValueClamped]] on one double, evaluated as Spark evaluates the
    * column: the clamp, then `Log2` as `StrictMath.log(x) / StrictMath.log(2)`.
    * The driver-local e02 chain uses it, so its M-values carry the bits
    * the distributed chain computes.
    */
  def mValueOf(beta: Double): Double = {
    val b = clampOf(beta, 0.001, 0.999)
    StrictMath.log(b / (1.0 - b)) / StrictMath.log(2)
  }

  /** [[inverseMValue]] on one double, with `Pow` as `StrictMath.pow`. */
  def inverseMValueOf(m: Double): Double = {
    val p = StrictMath.pow(2.0, m)
    clampOf(p / (1.0 + p), 0.0, 1.0)
  }

  /** [[clamp]] on one double: `greatest`/`least` order NaN above every
    * number, so NaN clamps to `hi`.
    */
  private def clampOf(x: Double, lo: Double, hi: Double): Double =
    if (x.isNaN || x > hi) hi else if (x < lo) lo else x

  /** F9 — -log10(p); NULL where p <= 0 (volcano y-axis guard). */
  def negLog10(p: Column): Column = when(p > 0, -log10(p))

  /** Sample variance from exact integer moment columns (n, sum, sum-of-squares).
    *
    * Summing integers is exact and order-independent, so the three inputs are
    * bit-identical in any engine; the final expression is a fixed sequence of
    * double ops, making the result reproducible across Spark and the DuckDB
    * oracle (unlike var_samp over doubles, whose accumulation order varies).
    */
  def varFromMoments(n: Column, s: Column, ss: Column): Column =
    (ss.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
      (n - lit(1)).cast("double")

  /** Exact integer cent count for a currency double that carries 2 decimals. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")
}
