package graft.llm

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the classifier step of CCNet/GPT-3-style
  * pipelines (a linear model scores every document; low scorers are dropped
  * or downsampled), restated on Spark ML. A logistic regression is trained
  * on weak labels from the engine's own heuristic quality rule, then scores
  * the full corpus; swapping the weak labels for human/reference labels
  * changes nothing structurally.
  *
  * Scale shape: features are pure row-local Column expressions (one
  * codegen'd projection, no shuffle); training is Spark ML's distributed
  * L-BFGS over the assembled vectors (treeAggregate passes, nothing
  * driver-side but the coefficient vector); scoring is a broadcast of that
  * coefficient vector into one more projection. The corpus is never
  * collected.
  */
object QualityModel {

  /** Row-local feature columns: word count (log-scaled), mean word length,
    * type-token ratio, digit fraction, and the heuristic composite.
    */
  def featureFrame(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = split(TextAnalysis.normalized(t), " ")
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val alpha = length(regexp_replace(lower(t), "[^a-z0-9]", "")).cast("double")
    val digits = length(regexp_replace(lower(t), "[^0-9]", "")).cast("double")
    docs.withColumn("f_logwords", log(nToks + 1.0))
      .withColumn("f_mwl", alpha / nToks)
      .withColumn("f_ttr", size(array_distinct(toks)).cast("double") / nToks)
      .withColumn("f_digit", digits / greatest(alpha, lit(1.0)))
      .withColumn("f_heur", TextAnalysis.qualityScore(t))
  }

  val featureCols: Array[String] =
    Array("f_logwords", "f_mwl", "f_ttr", "f_digit", "f_heur")

  /** Weak label: the heuristic quality rule's verdict (stand-in for a
    * curated label set).
    */
  def weakLabel(text: Column): Column =
    (TextAnalysis.qualityScore(text) >= 0.6).cast("double")

  /** Train on the weak labels and score every document. Returns
    * (doc_id, label, quality_prob, prediction).
    */
  def trainScore(docs: DataFrame): DataFrame = {
    val labeled = featureFrame(docs)
      .withColumn("label", weakLabel(col("text")))
    val assembled0 = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
      // null text propagates null features; skip such rows instead of
      // aborting the whole training job (the assembler's default "error")
      .setHandleInvalid("skip")
      .transform(labeled)
    // Size-adaptive training parallelism (the bhAdjust dispatch pattern):
    // every L-BFGS iteration is one treeAggregate job over the instance
    // partitions, so a small corpus on a wide session pays
    // iterations × cores of task overhead for microseconds of per-task
    // math (measured: most of t10's wall at sf0.1). Persist the features
    // (scoring re-reads them too — Spark ML only caches its internal
    // instance RDD), count once, and aim for ≥ ~64k rows per training
    // partition, capped at the session's parallelism so a 100 TB corpus
    // still trains at full width.
    val spark = docs.sparkSession
    val assembled = {
      val a = graft.ops.Caches.track(assembled0.persist())
      val n = a.count()
      val target = math.max(1L,
        math.min(spark.sparkContext.defaultParallelism.toLong, n / 65536L + 1L))
      a.coalesce(target.toInt)
    }
    val model = new LogisticRegression()
      .setMaxIter(100).setRegParam(1e-3).setStandardization(true)
      .fit(assembled)
    model.transform(assembled)
      .select(col("doc_id"), col("label"),
        vector_to_array(col("probability")).getItem(1).as("quality_prob"),
        col("prediction"))
  }

  /** Isotonic (pool-adjacent-violators) calibration of the heuristic
    * quality score against a binary target: fits the monotone step
    * function mapping score → P(target) via the engine's DISTRIBUTED
    * exact-integer PAV ([[isotonicFit]] — per-partition pooling + a
    * bounded driver merge; the driver sees only pooled blocks, never the
    * corpus). Returns the bounded model surface
    * `(idx, boundary, calibrated)` — the table a serving layer broadcasts
    * to turn scores into admission probabilities.
    */
  def isotonicCalibration(docs: DataFrame, target: Column): DataFrame =
    isotonicFit(docs.select(
      TextAnalysis.qualityScore(col("text")).as("score"),
      target.cast("double").as("label")))

  /** PAV fit over a `(score: double, label: double)` frame → the
    * `(idx, boundary, calibrated)` step table.
    *
    * Exact-integer engine semantics (r9, replacing the Spark ML fit whose
    * incremental double pooling is partition-order sensitive at the last
    * ulp): scores and labels quantize to the 1e-9 grid at entry
    * (k9 = ⌊1e9·score⌋, l9 = ⌊1e9·label⌋ — lossless for the 0/1 labels
    * calibration uses), pooling and all block state are exact BIGINT
    * sums, and violation checks are cross-multiplied integer comparisons
    * — so the fit is bit-stable across partitionings AND engines, and
    * the whole operator replays in DuckDB via the minimax
    * characterization ŷᵢ = max_{j≤i} min_{k≥i} mean(j..k) (the t26
    * oracle). A block's fitted value is the fixed double sequence
    * Σl9 / w / 1e9.
    *
    * Output is the CANONICAL collapsed form: maximal runs of equal
    * fitted value (the fit is monotone, so equal values are contiguous)
    * emit their first and last boundary — value-identical as a step/
    * interpolation model to the uncollapsed form, with no
    * representation-dependent duplicate-prediction pairs.
    *
    * Scale shape: one distinct-score hash aggregate (score-vocabulary
    * bounded), one range shuffle; partition-local PAV reduces each
    * sorted run to its blocks (strict-violation pooling is confluent —
    * pooling any adjacent violating pair first never changes the unique
    * L2-projection fixpoint, so local-then-merge equals global
    * sequential PAV), and the driver merges the collected block lists —
    * bounded by pooled-score count in the worst (already-isotonic) case,
    * the same contract as Spark ML's collect of the pooled set.
    */
  def isotonicFit(data: DataFrame): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    // (klo, khi, l9, w) block; fitted value = l9/w/1e9
    type B = (Long, Long, Long, Long)
    def pool(stack: scala.collection.mutable.ArrayBuffer[B], b0: B): Unit = {
      var cur = b0
      while (stack.nonEmpty &&
             BigInt(stack.last._3) * cur._4 > BigInt(cur._3) * stack.last._4) {
        val t = stack.remove(stack.length - 1)
        cur = (t._1, cur._2, t._3 + cur._3, t._4 + cur._4)
      }
      stack += cur
    }
    def pav(it: Iterator[B]): Iterator[B] = {
      val stack = scala.collection.mutable.ArrayBuffer.empty[B]
      it.foreach(pool(stack, _))
      stack.iterator
    }
    val localBlocks = data.select(
        floor(col("score") * 1e9).cast("long").as("k9"),
        floor(col("label") * 1e9).cast("long").as("l9"))
      .groupBy("k9").agg(sum("l9").as("l9"), count(lit(1)).as("w"))
      .repartitionByRange(col("k9"))
      .sortWithinPartitions("k9")
      .as[(Long, Long, Long)]
      .mapPartitions[(Long, Long, Long, Long)](
        (it: Iterator[(Long, Long, Long)]) =>
          pav(it.map(p => (p._1, p._1, p._2, p._3))))
    // collect() concatenates partitions in range order → globally sorted
    // block lists; the final stack pass merges across partition seams.
    val merged = scala.collection.mutable.ArrayBuffer.empty[B]
    localBlocks.collect().foreach(pool(merged, _))
    def v(b: B): Double = b._3.toDouble / b._4.toDouble / 1e9
    // collapse maximal runs of equal fitted value (contiguous: monotone)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    merged.foreach { b =>
      if (runs.nonEmpty && runs.last._3 == v(b)) {
        val t = runs.remove(runs.length - 1)
        runs += ((t._1, b._2, t._3))
      } else runs += ((b._1, b._2, v(b)))
    }
    runs.toSeq
      .flatMap { case (klo, khi, value) =>
        if (klo == khi) Seq((klo, value)) else Seq((klo, value), (khi, value))
      }
      .zipWithIndex
      .map { case ((k9, value), i) => (i.toLong, k9.toDouble / 1e9, value) }
      .toDF("idx", "boundary", "calibrated")
  }
}
