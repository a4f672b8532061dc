package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Add, Divide, Expression, GreaterThan,
  Greatest, If, Least, Literal, Log10, Log2, Pow, Subtract, UnaryMinus}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType

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
  def clamp(c: Column, lo: Double, hi: Double): Column = lift(clamp(_, lo, hi))(c)

  /** F7 — M-value transform log2(b/(1-b)). */
  def mValue(beta: Column): Column = lift(mValue)(beta)

  /** F7 with the reference's pre-clamp so exact-0/1 betas stay finite. */
  def mValueClamped(beta: Column): Column = lift(mValueClamped)(beta)

  /** F8 — inverse M-value 2^m/(1+2^m), clipped back into [0,1]. */
  def inverseMValue(m: Column): Column = lift(inverseMValue)(m)

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
  def negLog10(p: Column): Column = lift(negLog10)(p)

  /** The Catalyst trees behind the columns above, one definition each;
    * `GraftExtensions` injects them as SQL functions over a double cast
    * of the argument.
    */
  private[graft] def clamp(e: Expression, lo: Double, hi: Double): Expression =
    Least(Seq(Greatest(Seq(e, Literal(lo))), Literal(hi)))

  private[graft] def mValue(b: Expression): Expression =
    Log2(Divide(b, Subtract(Literal(1.0), b)))

  private[graft] def mValueClamped(beta: Expression): Expression =
    mValue(clamp(beta, 0.001, 0.999))

  private[graft] def inverseMValue(m: Expression): Expression = {
    val p = Pow(Literal(2.0), m)
    clamp(Divide(p, Add(Literal(1.0), p)), 0.0, 1.0)
  }

  private[graft] def negLog10(p: Expression): Expression =
    If(GreaterThan(p, Literal(0.0)), UnaryMinus(Log10(p)), Literal.create(null, DoubleType))

  private def lift(f: Expression => Expression)(c: Column): Column =
    ColumnBridge.column(f(ColumnBridge.expression(c)))

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

  /** A column as a double: where every fixed double sequence over exact
    * integer moments starts.
    */
  def d2(c: String): Column = col(c).cast("double")
  def d2(c: Column): Column = c.cast("double")

  /** Beta on its exact integer grid: every synthetic beta is j/997 for an
    * integer j in 0..996, so round(beta·997) recovers j, and sums of it are
    * exact bigints whatever the summation order.
    */
  val betaK: Column = round(col("beta") * 997).cast("bigint")

  /** Exact integer cent count for a currency double that carries 2 decimals. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")
}
