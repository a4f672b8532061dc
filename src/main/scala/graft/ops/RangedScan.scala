package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.types.{StructField, StructType}

/** The one prefix scan behind BH, BY, Holm and the greedy token budget,
  * and the one size gate in front of it. A scan walks every row in a
  * single global order and carries state from each row to the next. Up to
  * [[WindowMaxRows]] rows its single-partition window twin is cheapest;
  * above that the range-partitioned kernel takes over, and no task ever
  * holds more than one range partition. Both paths compute the identical
  * double-op sequence, asserted bit-equal in PropertySpec, so the gate
  * picks a plan, never a result.
  */
object RangedScan {

  /** Rows up to which the single-partition window runs. */
  private val WindowMaxRows = 5000000L

  /** A per-row value folded in scan order by an exact associative
    * `combine` (a min or a max) whose identity is `zero`.
    * `value(key, before, total)` sees the row's key and its weight
    * offsets (see [[Scan]]).
    */
  final case class Fold(value: (Any, Long, Long) => Double, zero: Double,
                        combine: (Double, Double) => Double)

  /** One prefix scan.
    *
    * @param windowed the single-partition window twin
    * @param order    the global scan order: range shuffle and per-partition sort
    * @param key      the column the scan reads, replaced on the ranged path
    *                 by `keyExpr` (a normalizing cast)
    * @param out      the appended columns
    * @param weight   a row's weight; its `before` is the summed weight of all
    *                 rows ahead of it, `total` that of every row
    * @param fold     the optional running fold; its `run` covers the rows
    *                 ahead of a row and the row itself
    * @param emit     the appended values from (key, before, run)
    */
  final case class Scan(windowed: DataFrame => DataFrame, order: Seq[Column],
                        key: String, keyExpr: Column, out: Seq[StructField],
                        weight: Any => Long, fold: Option[Fold],
                        emit: (Any, Long, Double) => Seq[Any])

  /** The size gate. `counted` is an exact row count the caller already
    * holds; without one the plan estimate decides, which needs no job.
    */
  def run(df: DataFrame, scan: Scan, counted: Option[Long] = None): DataFrame =
    if (counted.getOrElse(planRowEstimate(df)) <= WindowMaxRows) scan.windowed(df)
    else ranged(df, scan)

  /** Row-count ESTIMATE from plan statistics — no job. Sums the leaf
    * relations' sizeInBytes (cached relations report their real in-memory
    * bytes; file relations their on-disk bytes) and divides by 48 ≈ the
    * bytes/row of this engine's long tables in either representation
    * (~56 B UnsafeRow in cache, ~30–60 B compressed on disk), i.e. the
    * estimate approximates the LEAF row count. That still over-counts
    * the dispatch-relevant quantity: every adjusted input here is a
    * per-key aggregate of its leaves (rows ≪ leaf rows), and self-joined
    * leaves are summed once per appearance. (An /8 divisor was measured
    * to shunt the k-tier's ~130 MB multi-leaf inputs onto the ranged
    * path at sf0.1 — k22_mk_inference 1.48 → 1.82 s — for windows that
    * fit one task with 10× headroom.) Suitable only for plan-equivalent
    * dispatches (windowed vs ranged are bit-equal); never use where the
    * count affects a result.
    */
  private[graft] def planRowEstimate(df: DataFrame): Long = {
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    (leafBytes / 48).min(BigInt(Long.MaxValue)).toLong
  }

  private val PidCol = "__scan_pid"

  /** The range-partitioned kernel — the 100 TB path. One range shuffle and
    * sort on `order`, then two O(partitions) driver reduces (per-partition
    * weights → `before` offsets; per-partition folds → the carry from the
    * partitions ahead) and one partition-local emit pass. Driver state is
    * O(partitions), never O(rows).
    *
    * @param numPartitions range partitions; 0 takes spark.sql.shuffle.partitions
    */
  private[graft] def ranged(df: DataFrame, scan: Scan, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Tracked, not try/finally-released: the returned emit plan is lazy and
    // still reads `sorted` — an eager unpersist here would force the
    // caller's action to redo the range shuffle and sort. The harness
    // releases it after the query's final action (ops.Caches contract).
    // Each row carries its range partition id, so the emit finds its
    // offsets even where the caller coalesces or unions the result.
    val sorted = Caches.track(df.withColumn(scan.key, scan.keyExpr)
      .repartitionByRange(parts, scan.order: _*)
      .sortWithinPartitions(scan.order: _*)
      .withColumn(PidCol, spark_partition_id())
      .persist())
    val (weight, fold, emit) = (scan.weight, scan.fold, scan.emit)
    // the summary passes read the cache pruned to the key column
    val keys = sorted.select(scan.key).rdd
    def perPartition[A: ClassTag](zero: A)(f: (Int, Iterator[Any]) => A): Array[A] = {
      val out = Array.fill(parts)(zero)
      keys.mapPartitionsWithIndex((p, it) => Iterator.single(p -> f(p, it.map(_.get(0)))))
        .collect().foreach { case (p, a) => out(p) = a }
      out
    }
    // Pass 1: the weight of each partition; offsets(p) is the weight of
    // all partitions ahead of p, offsets(parts) the total.
    val offsets = perPartition(0L) { (_, it) =>
      var w = 0L
      it.foreach(v => w += weight(v))
      w
    }.scanLeft(0L)(_ + _)
    val total = offsets(parts)
    // Pass 2: each partition's fold from `zero`; carry(p) folds the
    // partitions ahead of p.
    val carry = fold.map { f =>
      perPartition(f.zero) { (p, it) =>
        var before = offsets(p)
        var run = f.zero
        it.foreach { v =>
          run = f.combine(run, f.value(v, before, total))
          before += weight(v)
        }
        run
      }.scanLeft(f.zero)(f.combine)
    }.getOrElse(Array.fill(parts)(Double.NaN))
    val sc = spark.sparkContext
    val (bOffsets, bCarry) = (sc.broadcast(offsets), sc.broadcast(carry))
    // Pass 3: the partition-local emit, seeded by the offsets and carry.
    // The partition id is the last column (withColumn appends).
    val k = sorted.schema.fieldIndex(scan.key)
    val pid = sorted.schema.length - 1
    val outSchema = StructType(sorted.schema.init ++ scan.out)
    sorted.mapPartitions { it =>
      val rows = it.buffered
      if (!rows.hasNext) Iterator.empty
      else {
        val p = rows.head.getInt(pid)
        var before = bOffsets.value(p)
        var run = bCarry.value(p)
        rows.map { r =>
          val v = r.get(k)
          fold.foreach(f => run = f.combine(run, f.value(v, before, total)))
          val row = Row.fromSeq(r.toSeq.init ++ emit(v, before, run))
          before += weight(v)
          row
        }
      }
    }(Encoders.row(outSchema))
  }
}
