package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

/** Optimizer rule: rewrite a pure range join (point-in-interval inner join
  * with no equi-key) into a binned equi-join, so Spark plans a hash join
  * on the bin instead of a BroadcastNestedLoopJoin/cartesian that compares
  * every pair.
  *
  * This automates what `ops/Relational.rangeJoinBinned` does by hand (and
  * what production engines ship as their range-join optimization): the
  * interval side explodes into the fixed-width bins it overlaps, the point
  * side computes its single bin, the join becomes an equi-join on the bin
  * with the original predicates re-applied as the exactness filter. Output
  * rows and columns are identical to the naive join — only the join
  * strategy changes; every candidate pair now comes through a hash-
  * partitioned key, never a broadcast loop over all pairs.
  *
  * Trigger: set `spark.graft.rangeJoin.binWidth` to a positive long (same
  * units as the range bounds). Inert when unset — the rule inspects the
  * conf at optimization time. The rewrite fires only when the ENTIRE join
  * condition is one lower bound + one upper bound on the same integral
  * point expression (a join that also carries an equi-key already hash-
  * partitions fine without help). Bin width choice is the caller's skew
  * knob: bins per interval ≈ interval span / width.
  *
  * Registered by [[graft.GraftExtensions]] via `injectOptimizerRule` —
  * the library's demonstration of the whole extension stack: injected
  * functions (scalar tier) + injected optimizer rule (plan tier).
  */
case class RangeJoinBinning(spark: SparkSession) extends Rule[LogicalPlan] {

  private val confKey = "spark.graft.rangeJoin.binWidth"

  private def binWidth: Long =
    try spark.conf.get(confKey, "0").toLong catch { case _: NumberFormatException => 0L }

  /** lo/point/hi must be integral — the closed-bin arithmetic on `hi`
    * assumes integer granularity (the rangeJoinBinned contract).
    */
  private def integral(e: Expression): Boolean =
    Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType)

  private def floorDiv(e: Expression, w: Long): Expression =
    Cast(Floor(Divide(Cast(e, DoubleType), Literal(w.toDouble))), LongType)

  /** Split `cond` into (point, lower, upper, strictLower, strictUpper)
    * when it is exactly `lo ≤/< point AND point </≤ hi` with the point on
    * one child and both bounds on the other.
    */
  private def rangeShape(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Boolean, Boolean)] = {

    def sideOf(e: Expression): Option[Boolean] = {
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(left.outputSet)) Some(true)
      else if (refs.subsetOf(right.outputSet)) Some(false)
      else None
    }

    // normalize every conjunct to (smaller, larger, strict)
    def asBound(e: Expression): Option[(Expression, Expression, Boolean)] = e match {
      case LessThan(a, b) => Some((a, b, true))
      case LessThanOrEqual(a, b) => Some((a, b, false))
      case GreaterThan(a, b) => Some((b, a, true))
      case GreaterThanOrEqual(a, b) => Some((b, a, false))
      case _ => None
    }

    val conjuncts = {
      def split(e: Expression): Seq[Expression] = e match {
        case And(a, b) => split(a) ++ split(b)
        case x => Seq(x)
      }
      split(cond)
    }
    if (conjuncts.size != 2) return None
    val shape = (asBound(conjuncts(0)), asBound(conjuncts(1))) match {
      case (Some((a1, b1, s1)), Some((a2, b2, s2))) =>
        // one conjunct's larger side must be the other's smaller side —
        // that shared expression is the point; the outer two are lo/hi
        if (b1.semanticEquals(a2)) Some((b1, a1, b2, s1, s2))
        else if (b2.semanticEquals(a1)) Some((b2, a2, b1, s2, s1))
        else None
      case _ => None
    }
    shape match {
      case Some((point, lo, hi, sLo, sHi))
        if integral(point) && integral(lo) && integral(hi) &&
          sideOf(point).isDefined && sideOf(lo).isDefined &&
          sideOf(lo) == sideOf(hi) && sideOf(point) != sideOf(lo) =>
        Some((point, lo, hi, sLo, sHi))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = binWidth
    if (w <= 0) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        rangeShape(cond, left, right) match {
          case Some((point, lo, hi, _, strictHi)) =>
            val intervalOnLeft = lo.references.subsetOf(left.outputSet)
            val (intervalSide, pointSide) = if (intervalOnLeft) (left, right) else (right, left)
            // interval side: explode the overlapped bin range. A strict
            // upper bound `point < hi` ends at bin(hi - 1); an inclusive
            // one at bin(hi). A strict lower bound still starts at
            // bin(lo) — the bin is a superset, exactness comes from the
            // re-applied predicate.
            val hiAdj = if (strictHi) Subtract(hi, Cast(Literal(1), hi.dataType)) else hi
            // guard the degenerate interval (lo > adjusted hi — possible
            // for an empty `[x, x)` range): Sequence(2, 1, 1) throws, so
            // such rows get an empty bin array and explode drops them,
            // matching the naive join (no point can satisfy the bounds)
            val (loBin, hiBin) = (floorDiv(lo, w), floorDiv(hiAdj, w))
            // Sequence is TimeZoneAwareExpression — without an explicit
            // timeZoneId the node stays unresolved and the optimizer's
            // plan-validation rejects the rewrite
            val binSeq = If(LessThanOrEqual(loBin, hiBin),
              Sequence(loBin, hiBin, Some(Literal(1L)),
                Some(conf.sessionLocalTimeZone)),
              Literal.create(Array.empty[Long],
                org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
            val binAttr = AttributeReference("__graft_bin", LongType, nullable = true)()
            val gen = Generate(Explode(binSeq), unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(binAttr), child = intervalSide)
            // point side: its single bin, projected alongside the output
            val pointBin = Alias(floorDiv(point, w), "__graft_bin_p")()
            val proj = Project(pointSide.output :+ pointBin, pointSide)
            val (newLeft, newRight, leftBin, rightBin) =
              if (intervalOnLeft) (gen, proj, binAttr, pointBin.toAttribute)
              else (proj, gen, pointBin.toAttribute, binAttr)
            val newJoin = Join(newLeft, newRight, Inner,
              Some(And(EqualTo(leftBin, rightBin), cond)), hint)
            Project(j.output, newJoin)
          case None => j
        }
    }
  }
}
