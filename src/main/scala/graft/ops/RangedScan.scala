package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, spark_partition_id, sum}
import org.apache.spark.sql.types.{StructField, StructType}

/** The one prefix scan behind BH, BY, Holm and the greedy token budget,
  * and the one size gate in front of it. A scan walks every row in a
  * single global order and carries state from each row to the next: one
  * range shuffle and sort on the scan order, then a partition-local emit
  * seeded with the weight and fold of the partitions ahead. The gate only
  * picks the partition count: up to [[SinglePartitionMaxRows]] rows one
  * range partition, where nothing runs ahead and only a fold's total is
  * left to find; above that `spark.sql.shuffle.partitions`, so no task
  * ever holds more than one range partition. Every partition count
  * computes the identical double-op sequence (PropertySpec compares 1
  * against N), so the gate picks a plan, never a result.
  */
object RangedScan {

  /** Rows up to which the scan runs in one range partition. */
  private val SinglePartitionMaxRows = 5000000L

  /** A per-row value folded in scan order by an exact associative
    * `combine` (a min or a max) whose identity is `zero`.
    * `value(key, before, total)` sees the row's key and its weight
    * offsets (see [[Scan]]).
    */
  final case class Fold(value: (Any, Long, Long) => Double, zero: Double,
                        combine: (Double, Double) => Double)

  /** One prefix scan.
    *
    * @param order  the global scan order: range shuffle and per-partition sort
    * @param key    the column the scan reads, replaced by `keyExpr` (a
    *               normalizing cast)
    * @param out    the appended columns
    * @param weight a row's weight, over the input with `key` replaced; its
    *               `before` is the summed weight of all rows ahead of it,
    *               `total` that of every row
    * @param fold   the optional running fold; its `run` covers the rows
    *               ahead of a row and the row itself
    * @param emit   the appended values from (key, before, run)
    */
  final case class Scan(order: Seq[Column], key: String, keyExpr: Column,
                        out: Seq[StructField], weight: Column, fold: Option[Fold],
                        emit: (Any, Long, Double) => Seq[Any])

  /** The [[SizeGate]] `RangedScan.run`, whose local side is one range
    * partition. `counted` is an exact row count the caller already holds;
    * without one the plan estimate decides, which needs no job.
    */
  def run(df: DataFrame, scan: Scan, counted: Option[Long] = None): DataFrame =
    ranged(df, scan, if (SizeGate("RangedScan.run", counted.getOrElse(planRowEstimate(df)) ->
      SinglePartitionMaxRows) == SizeGate.Local) 1 else 0)

  /** Row-count ESTIMATE from plan statistics — no job. Sums the leaf
    * relations' sizeInBytes (cached relations report their real in-memory
    * bytes; file relations their on-disk bytes) and divides by 48 ≈ the
    * bytes/row of this engine's long tables in either representation
    * (~56 B UnsafeRow in cache, ~30–60 B compressed on disk), i.e. the
    * estimate approximates the LEAF row count. That still over-counts
    * the dispatch-relevant quantity: every adjusted input here is a
    * per-key aggregate of its leaves (rows ≪ leaf rows), and self-joined
    * leaves are summed once per appearance. (An /8 divisor was measured
    * to shunt the k-tier's ~130 MB multi-leaf inputs onto the
    * multi-partition path at sf0.1 — k22_mk_inference 1.48 → 1.82 s — for
    * scans that fit one task with 10× headroom.) A cached relation not
    * yet filled has no bytes of its own: Spark reports its cached plan's
    * statistics, which multiply a join's children sizes, so it counts as
    * the leaves of the plan it caches instead. Suitable only for
    * plan-equivalent dispatches (every partition count is bit-equal);
    * never use where the count affects a result.
    */
  private def planRowEstimate(df: DataFrame): Long =
    (leafBytes(df.queryExecution.optimizedPlan) / 48).min(BigInt(Long.MaxValue)).toLong

  private def leafBytes(plan: LogicalPlan): BigInt = plan.collectLeaves().map {
    case cached: InMemoryRelation if !cached.cacheBuilder.isCachedColumnBuffersLoaded =>
      leafBytes(cached.cacheBuilder.logicalPlan)
    case leaf => leaf.stats.sizeInBytes
  }.sum

  private val WeightCol = "__scan_weight"
  private val SeedCol = "__scan_seed"

  /** The range-partitioned kernel. One range shuffle and sort on `order`,
    * then one partition-local emit pass seeded per partition with
    * `before` (the weight of the partitions ahead), the fold's carry from
    * them, and `total`.
    *
    * On one partition nothing runs ahead, so the seed is 0 and
    * `fold.zero`, and only a fold needs `total`: an execution-time scalar
    * subquery, so building the plan runs no job. The subquery and the
    * emit both read the sorted rows persisted (tracked) in front of them,
    * so the caller's input is evaluated once. Above one partition, the
    * sorted rows persist too and two O(partitions) driver reduces compute
    * the seeds (per-partition weights → offsets; per-partition folds →
    * carry), broadcast to the emit. Driver state is O(partitions), never
    * O(rows).
    *
    * @param numPartitions range partitions; 0 takes spark.sql.shuffle.partitions
    */
  private[graft] def ranged(df: DataFrame, scan: Scan, numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (width, fold) = (df.schema.length, scan.fold)
    val sorted = df.withColumn(scan.key, scan.keyExpr).withColumn(WeightCol, scan.weight)
      .repartitionByRange(parts, scan.order: _*)
      .sortWithinPartitions(scan.order: _*)
    // Tracked, not try/finally-released: the returned emit plan is lazy
    // and still reads the cache — an eager unpersist here would force the
    // caller's action to redo the range shuffle and sort. The harness
    // releases it after the query's final action (ops.Caches contract).
    def cache(df: DataFrame) = Caches.track(df.persist())
    // The seed column follows the weight: the scalar total on one
    // partition, the range partition id above. Each row carries its
    // partition id, so the emit finds its offsets even where the caller
    // coalesces or unions the result.
    val (seeded, seed) =
      if (parts == 1) {
        val zero = fold.fold(Double.NaN)(_.zero)
        if (fold.isEmpty) (sorted, (_: Row) => (0L, zero, 0L))
        else {
          val cached = cache(sorted)
          (cached.withColumn(SeedCol, cached.agg(sum(col(WeightCol))).scalar()),
            (r: Row) => (0L, zero, r.getLong(width + 1)))
        }
      } else {
        val cached = cache(sorted.withColumn(SeedCol, spark_partition_id()))
        // the summary passes read the cache pruned to key and weight
        val keys = cached.select(scan.key, WeightCol).rdd
        def perPartition[A: ClassTag](zero: A)(f: (Int, Iterator[Row]) => A): Array[A] = {
          val out = Array.fill(parts)(zero)
          keys.mapPartitionsWithIndex((p, it) => Iterator.single(p -> f(p, it)))
            .collect().foreach { case (p, a) => out(p) = a }
          out
        }
        // Pass 1: the weight of each partition; offsets(p) is the weight
        // of all partitions ahead of p, offsets(parts) the total.
        val offsets = perPartition(0L)((_, it) => it.map(_.getLong(1)).sum).scanLeft(0L)(_ + _)
        val total = offsets(parts)
        // Pass 2: each partition's fold from `zero`; carry(p) folds the
        // partitions ahead of p.
        val carry = fold.map { f =>
          perPartition(f.zero) { (p, it) =>
            var before = offsets(p)
            var run = f.zero
            it.foreach { r =>
              run = f.combine(run, f.value(r.get(0), before, total))
              before += r.getLong(1)
            }
            run
          }.scanLeft(f.zero)(f.combine)
        }.getOrElse(Array.fill(parts)(Double.NaN))
        val sc = spark.sparkContext
        val (bOffsets, bCarry) = (sc.broadcast(offsets), sc.broadcast(carry))
        (cached, (r: Row) => {
          val p = r.getInt(width + 1)
          (bOffsets.value(p), bCarry.value(p), total)
        })
      }
    // The partition-local emit, seeded from the partition's first row.
    val k = seeded.schema.fieldIndex(scan.key)
    val emit = scan.emit
    seeded.mapPartitions { it =>
      val rows = it.buffered
      if (!rows.hasNext) Iterator.empty
      else {
        val (b0, r0, total) = seed(rows.head)
        var (before, run) = (b0, r0)
        rows.map { r =>
          val v = r.get(k)
          fold.foreach(f => run = f.combine(run, f.value(v, before, total)))
          val row = Row.fromSeq(r.toSeq.take(width) ++ emit(v, before, run))
          before += r.getLong(width)
          row
        }
      }
    }(Encoders.row(StructType(seeded.schema.take(width) ++ scan.out)))
  }
}
