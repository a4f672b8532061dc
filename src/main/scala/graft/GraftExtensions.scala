package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.Fns

/** Session-extension entry point: installs the engine's native SQL
  * functions into every session built with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (the standard way a
  * Spark library ships Catalyst additions — no imperative registration
  * call needed on the user side). The same descriptors back
  * [[GraftExtensions.registerAll]] for sessions that already exist.
  *
  * Every function is a pure Catalyst expression tree (custom codegen
  * expressions or compositions of built-ins) — they stay inside
  * whole-stage codegen and fold when given literal inputs.
  *
  * The extension also sets one session default:
  * `spark.sql.codegen.cache.maxEntries` (Spark's generated-class cache,
  * default 100) to [[GraftExtensions.CodegenCacheEntries]] unless the user
  * set it. One e02 run alone needs about 150 generated classes, so under
  * Spark's default every warm run of the pipeline evicts its own classes
  * and compiles them again. Spark reads the bound once per JVM, at the
  * first compile, so it is set here: this hook runs inside
  * `SparkSession.Builder.getOrCreate` after the SparkContext exists and
  * before the session's SQL configuration is built. [[registerAll]] on a
  * session that already exists cannot change it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Option(SparkEnv.get).foreach(_.conf.setIfMissing(
      "spark.sql.codegen.cache.maxEntries", GraftExtensions.CodegenCacheEntries.toString))
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // SQL-surface tier (r8): the flagship pipelines as table-valued
    // functions, so the engine is usable from pure SQL — the shape a
    // platform team actually exposes (`SELECT * FROM graft_dmp('<dir>')`
    // runs the k03 moderated-DMP lifecycle end-to-end in spark-sql).
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // plan-tier extension: the range-join binning rewrite (inert unless
    // spark.graft.rangeJoin.binWidth is set — see plans/RangeJoinBinning)
    ext.injectOptimizerRule(plans.RangeJoinBinning)
    // physical-tier extension: the as-of join operator (logical node +
    // strategy + merge-scan exec, plans/AsOfJoin.scala)
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** The generated-class cache bound the extension sets: about 3× the
    * classes a whole `methyl_study` benchmark process compiles (322), and
    * bounded so a long-lived session cannot grow metaspace without limit.
    */
  private[graft] val CodegenCacheEntries = 1024

  private def dbl(e: Expression): Expression = Cast(e, DoubleType)

  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    es => {
      require(es.size == n, s"$name expects $n argument(s), got ${es.size}")
      b(es)
    }

  /** (name, arity, builder) for every injected function. `graft_t_pvalue`
    * is the custom codegen expression ([[graft.functions.StudentTPValue]]);
    * the rest compose built-in Catalyst nodes.
    */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, Int, Seq[Expression] => Expression)](
      ("graft_t_pvalue", 2,
        es => functions.StudentTPValue(dbl(es.head), dbl(es(1)))),
      ("graft_chisq_sf", 2,
        es => functions.ChiSquaredSf(dbl(es.head), dbl(es(1)))),
      ("graft_f_sf", 3,
        es => functions.FDistSf(dbl(es.head), dbl(es(1)), dbl(es(2)))),
      ("graft_ks_sf", 1, es => functions.KolmogorovSf(dbl(es.head))),
      ("graft_nfc", 1, es => functions.NfcNormalize(es.head)),
      ("graft_jaro_winkler", 2, es => functions.JaroWinklerExpr(es.head, es(1))),
      ("graft_dot", 2, es => functions.VecDotProduct(es.head, es(1))),
      ("graft_nearest", 2, es => functions.VecNearestCenter(es.head, es(1))),
      ("graft_digamma", 1, es => functions.DigammaExpr(dbl(es.head))),
      ("graft_trigamma", 1, es => functions.TrigammaExpr(dbl(es.head))),
      ("graft_lgamma", 1, es => functions.LogGammaExpr(dbl(es.head))),
      ("graft_shingles", 2, es => {
        require(es(1).foldable, "graft_shingles: n must be a literal")
        functions.DistinctShingles(es.head,
          es(1).eval().asInstanceOf[Number].intValue())
      }),
      ("graft_minhash_sigs", 2, es => {
        require(es(1).foldable, "graft_minhash_sigs: numPerm must be a literal")
        functions.MinhashSigs(es.head,
          es(1).eval().asInstanceOf[Number].intValue())
      }),
      ("graft_winnow", 3, es => {
        require(es(1).foldable && es(2).foldable,
          "graft_winnow: k and w must be literals")
        functions.WinnowSelect(es.head,
          es(1).eval().asInstanceOf[Number].intValue(),
          es(2).eval().asInstanceOf[Number].intValue())
      }),
      // F7 with the reference's 0.001/0.999 pre-clamp, F8 clipped to
      // [0,1], F9 NULL for p <= 0: the trees behind the Fns columns
      ("graft_mvalue", 1, es => Fns.mValueClamped(dbl(es.head))),
      ("graft_inverse_mvalue", 1, es => Fns.inverseMValue(dbl(es.head))),
      ("graft_neglog10", 1, es => Fns.negLog10(dbl(es.head)))
    ).map { case (name, n, b) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        arity(name, n)(b))
    }

  /** Table-valued functions (r8): the flagship transforms surfaced to pure
    * SQL through [[SparkSessionExtensions.injectTableFunction]]. Each
    * builder runs at ANALYSIS time on the driver: it materializes nothing,
    * just constructs the same DataFrame the Scala API would and hands its
    * logical plan to the analyzer — Catalyst then optimizes the TVF body
    * and the outer query as ONE plan (filters/projections over the TVF
    * prune into the parquet scans like any other subquery).
    *
    * `graft_dmp(dir)` = the k03 moderated-DMP lifecycle end-to-end
    * (lmFit/eBayes surface); `graft_dmp_pass1(dir)` = its exact-moment
    * first pass (the oracle-checkable slice — e14 hash-checks this TVF
    * against the identical k03_dmp_pass1 DuckDB SQL).
    */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    def literalDir(name: String, es: Seq[Expression]): String = {
      require(es.size == 1 && es.head.foldable,
        s"$name(dir) takes exactly one literal directory path")
      String.valueOf(es.head.eval())
    }
    import org.apache.spark.sql.functions.{col, round}
    Seq[(String, Seq[Expression] => org.apache.spark.sql.DataFrame)](
      ("graft_dmp", es => {
        val bg = Tables.betaGrid(SparkSession.active, literalDir("graft_dmp", es))
        ops.Dmp.dmp(bg, "WT", "MUT")
          .select(col("probe_id"), col("n1"), col("n2"),
            round(col("logfc"), 6).as("logfc"),
            round(col("t_mod"), 6).as("t_mod"),
            round(col("p_value"), 6).as("p_value"),
            round(col("fdr"), 6).as("fdr"),
            col("significant"))
      }),
      ("graft_dmp_pass1", es => {
        val bg = Tables.betaGrid(SparkSession.active, literalDir("graft_dmp_pass1", es))
        ops.Dmp.moments(bg, "WT", "MUT")
          .select(col("probe_id"), col("n1"), col("n2"),
            round(col("logfc"), 4).as("logfc"),
            round(col("s2"), 4).as("s2_pooled"))
      })
    ).map { case (name, build) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        // The kernel behind the build may persist intermediates (Dmp's
        // moments cache) for its eager prior fit — in the pure-SQL
        // audience of this TVF nothing ever calls releaseAll, so a leaked
        // cache would accumulate per analysis. Release the caches this
        // build tracked, and only those: the returned plan stays valid
        // (unpersist only costs one recompute at execution), and other
        // queries' kernel caches stay resident.
        (es: Seq[Expression]) =>
          ops.Caches.releasing(build(es).queryExecution.logical))
    }
  }

  /** Imperative flavor for sessions built without the extensions conf
    * (e.g. notebook sessions): registers the same functions as temp
    * functions and installs the plan-tier extensions through the
    * `experimental` hooks. Idempotent.
    */
  def registerAll(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    tableFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraStrategies.contains(plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[plans.RangeJoinBinning]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.RangeJoinBinning(spark)
  }
}
