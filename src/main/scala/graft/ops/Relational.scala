package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-tier operators (SURVEY.md §2.2, §2.3, §2.6, §2.8), each a
  * generic `DataFrame => DataFrame` transform parameterized by column names
  * so the same code serves the methylation model and the TPC-H-ish oracle
  * tables.
  *
  * Scale notes are inline per operator — every transform here is a single
  * declarative plan node sequence; Catalyst handles pushdown/pruning, and the
  * only shuffles are the ones the semantics require (join/groupBy keys).
  */
object Relational {

  /** J1/J2 — N-way full-outer merge on a key (reference
    * /root/reference/filter.py:45 reduce(pd.merge(..., how='outer'))).
    * Joins are left-deep; with AQE on, small sides broadcast automatically.
    * At 100 TB the preferred form is the long-model union (see queries), but
    * the wide merge is part of the reference surface.
    */
  def outerMergeByKey(key: String, dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq(key), "full_outer"))

  /** J5 — broadcast lookup-rename (reference /root/reference/main.py:144-153
    * header-rename dict): rows joined against a small old→new mapping,
    * unmatched keys keep their original value.
    */
  def lookupRename(df: DataFrame, mapping: DataFrame,
                   keyCol: String, oldCol: String, newCol: String): DataFrame = {
    val m = broadcast(mapping.select(col(oldCol).as("__old"), col(newCol).as("__new")))
    df.join(m, df(keyCol) === m("__old"), "left")
      .withColumn(keyCol, coalesce(col("__new"), col(keyCol)))
      .drop("__old", "__new")
  }

  /** P16 — keep the first occurrence per key under an explicit deterministic
    * order (reference /root/reference/workflow.R:32 `!duplicated(...)`;
    * pandas keep='first'). Deterministic unlike dropDuplicates.
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** R5 — melt wide → long (reference header-as-data normalization,
    * /root/reference/main.py:153-156): sample columns become rows.
    */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
           varName: String, valName: String): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, varName, valName)

  /** P3 — complete-cases in the long model: keys having a (non-null) value
    * for every one of `expectedCount` columns/samples
    * (reference /root/reference/combat_norm.py:28-30 complete.cases).
    */
  def completeKeys(long: DataFrame, keyCol: String, valCol: String,
                   expectedCount: Long): DataFrame =
    long.groupBy(keyCol)
      .agg(count(col(valCol)).as("__n"))
      .filter(col("__n") === expectedCount)
      .select(keyCol)

  /** J7 — column-concat of aligned groups re-expressed long: union with a
    * group literal (reference /root/reference/volcano.R:77 cbind).
    */
  def unionWithTag(tagCol: String, tagged: Seq[(String, DataFrame)]): DataFrame =
    tagged.map { case (tag, df) => df.withColumn(tagCol, lit(tag)) }
      .reduce(_.unionByName(_))

  /** As-of join (point-in-time lookup): for every left row, the single
    * right row with the greatest `tsCol` ≤ the left row's `tsCol` within the
    * same `keyCol` group — the temporal analog of the reference's match()
    * alignment (beyond-reference scale operator; DuckDB/kdb ASOF JOIN
    * semantics, ties inclusive).
    *
    * Implemented as union + running `last(_, ignoreNulls)` window rather
    * than an inequality join: ONE hash shuffle on the key, a per-partition
    * sort, constant state per group (the running last), zero join fan-out.
    * A naive `l.ts >= r.ts` join is O(|L|·|R|) per key and collapses at
    * scale; a sort-merge band join still re-scans the right side per left
    * row. At equal timestamps the right row sorts first (`__side` 0 < 1),
    * making the match inclusive like DuckDB's `ON l.ts >= r.ts`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns
    // the payload rides in ONE struct: right rows carry a non-null struct
    // (even when individual payload FIELDS are null), left placeholder
    // rows carry a null struct — so last(ignoreNulls) skips exactly the
    // placeholders, never a matched right row whose value is a genuine
    // NULL (per-column ignoreNulls would resurrect a stale older value).
    val structT = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c)))
    val l = left.select(
      (leftCols.map(col) :+ lit(1).as("__side")) :+
        lit(null).cast(structT).as("__asof"): _*)
    val r = right.select(
      (Seq(col(keyCol), col(tsCol), lit(0).as("__side")) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c))) :+
        struct(payload.map(col): _*).as("__asof"): _*)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = l.unionByName(r)
      .withColumn("__f", last(col("__asof"), ignoreNulls = true).over(w))
    joined.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(c => col("__f").getField(c).as(s"asof_$c")): _*)
  }

  /** Binned range join: match probe points `p.tsCol ∈ [i.loCol, i.hiCol)`
    * against arbitrary (possibly overlapping) intervals WITHOUT a key — the
    * classic O(n·m) inequality-join trap. Each interval explodes into the
    * fixed-width bins it covers (`ceil(span / binWidth)` rows, ~2 for
    * 1-hour intervals on a 1-hour grid) and probes land in exactly one bin,
    * so the match becomes a hash equi-join on bin id + a residual range
    * refine. Shuffle volume is |intervals|·spanBins + |probes|; fan-out is
    * bounded by true matches per bin, never the cross product. Each true
    * match surfaces exactly once (a probe's bin is unique), so no dedup
    * pass is needed. Pick `binWidth` ≈ median interval span.
    */
  def rangeJoinBinned(intervals: DataFrame, probes: DataFrame,
                      loCol: String, hiCol: String, tsCol: String,
                      binWidth: Long): DataFrame = {
    // the (hi - 1) closed-bin arithmetic assumes integer-granularity
    // bounds; fractional bounds would under-cover the interval's last bin
    {
      import org.apache.spark.sql.types._
      Seq(intervals.schema(loCol), intervals.schema(hiCol),
          probes.schema(tsCol)).foreach { f =>
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
          s"rangeJoinBinned needs integral bounds; ${f.name} is ${f.dataType}")
      }
    }
    val i = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor((col(hiCol) - 1) / binWidth).cast("long"))))
    val p = probes.withColumn("__bin", floor(col(tsCol) / binWidth).cast("long"))
    i.join(p, Seq("__bin"))
      .filter(col(tsCol) >= col(loCol) && col(tsCol) < col(hiCol))
      .drop("__bin")
  }

  /** Bloom-pruned join: build a BloomFilter sketch over the dim side's join
    * keys (one aggregation pass, sketch size ∝ expected keys, not data),
    * broadcast it, and pre-filter the big side BEFORE the shuffle join —
    * the runtime-filter pattern Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter` applies, made explicit so
    * it also fires when the optimizer's heuristics decline. The exact join
    * afterwards removes the sketch's false positives, so the result is
    * bit-identical to the plain join; what changes is shuffle volume — at
    * a 1% hit rate, 99% of the big side is dropped at the scan instead of
    * being shuffled.
    */
  def bloomPruneJoin(big: DataFrame, dim: DataFrame, bigKey: String,
                     dimKey: String): DataFrame = {
    val expected = math.max(dim.count(), 64L)
    // 1% false positives: the exact join drops them, so this only sizes
    // the sketch against the surviving shuffle volume
    val bf = dim.stat.bloomFilter(dimKey, expected, 0.01)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    // probe with the SAME hash domain the sketch was built with: string
    // keys insert string bytes, so probing them as longs silently prunes
    // every match. (bloomFilter() itself accepts only string/integral.)
    val mightContain = big.schema(bigKey).dataType match {
      case org.apache.spark.sql.types.StringType =>
        udf((k: String) => k != null && bc.value.mightContainString(k))
      case _ =>
        udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
    }
    // frame-qualified references keep same-named keys unambiguous
    big.filter(mightContain(col(bigKey))).join(dim, big(bigKey) === dim(dimKey))
  }

  /** Data-lake MERGE/upsert: apply a change batch (op = I/U/D per row) to
    * a base table in ONE full-outer join on the key — inserts surface from
    * the change side, updates prefer change values, deletes drop the row,
    * untouched base rows pass through. The relational core of Delta/
    * Iceberg MERGE INTO restated as a plain join: shuffle ∝ base+changes
    * on the key (co-partitionable/bucketable at scale), never a rewrite
    * of unmatched data. `valueCols` are the payload columns shared by both
    * sides.
    */
  def upsertMerge(base: DataFrame, changes: DataFrame, key: String,
                  opCol: String, valueCols: Seq[String]): DataFrame = {
    val c = changes.select(
      col(key) +: col(opCol).as("__op") +:
        valueCols.map(v => col(v).as(s"__c_$v")): _*)
    base.join(c, Seq(key), "full_outer")
      .filter(coalesce(col("__op"), lit("")) =!= "D")
      .select(col(key) +: valueCols.map(v =>
        when(col("__op").isin("I", "U"), col(s"__c_$v"))
          .otherwise(col(v)).as(v)): _*)
  }

  /** Skew-mitigated equi-join: the skewed (large) side's key is salted into
    * `salts` shards and the small-but-not-broadcastable side is replicated
    * across the shards, so one hot key spreads over `salts` tasks instead
    * of landing on one. Complements AQE's skew-join split for the case
    * where a single key exceeds what one task can hold.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val salted = large.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val replicated = small
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Blocked fuzzy join (record linkage): match left strings to right
    * strings at Levenshtein distance ≤ `maxDist` without an all-pairs
    * cross. Blocking key = string length: edit distance ≤ k implies the
    * lengths differ by ≤ k, so exploding each left string into its 2k+1
    * candidate length buckets and equi-joining on the right side's exact
    * length is LOSSLESS (every true match survives blocking). Each
    * candidate pair lands in exactly one bucket (the right string's
    * length), so no dedup pass is needed. The exact distance then filters
    * candidates — Spark's codegen'd `levenshtein` ≡ DuckDB's, integer on
    * both engines.
    *
    * Scale note: length-only blocking is coarse when many strings share a
    * length — at corpus scale compose the block key with a cheap second
    * discriminator (first q-gram, soundex-like bucket) the same way the
    * SimHash band tables compose slices; the join shape is unchanged.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame, lCol: String, rCol: String,
                maxDist: Int): DataFrame = {
    val lx = left.withColumn("__lb",
      explode(sequence(greatest(length(col(lCol)) - maxDist, lit(0)),
        length(col(lCol)) + maxDist)))
    val rx = right.withColumn("__lb", length(col(rCol)))
    lx.join(rx, "__lb")
      .withColumn("dist", levenshtein(col(lCol), col(rCol)))
      .filter(col("dist") <= maxDist)
      .drop("__lb")
  }

  /** Small-file compaction — the table-maintenance primitive every
    * long-lived 100 TB lake needs (streaming ingest and fine-grained
    * partitioned writes accumulate files far below the ideal scan size;
    * scan cost then scales with FILE COUNT, not bytes). Reads the
    * fragmented layout, coalesces to `targetFiles` without a shuffle
    * (`coalesce`, not `repartition` — compaction must not pay a full
    * exchange just to merge files), and rewrites. Content is preserved
    * bit-for-bit; only the layout changes. At real scale this runs
    * per-partition-directory with `targetFiles` derived from bytes /
    * `maxPartitionBytes`.
    */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                   dstDir: String, targetFiles: Int): DataFrame = {
    spark.read.parquet(srcDir).coalesce(targetFiles)
      .write.mode("overwrite").parquet(dstDir)
    spark.read.parquet(dstDir)
  }

  /** Z-order curve value of two `bits`-bit keys: a's bits on even
    * positions, b's on odd. Clustering a table by this key makes BOTH
    * dimensions simultaneously locality-preserving, so per-file min/max
    * statistics prune scans filtered on either column — the multi-column
    * layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`. Built from
    * disjoint bit contributions summed together (each bit lands on its
    * own position, so `+` == bitwise-or), which keeps the expression pure
    * integer arithmetic — codegen-friendly here, and restatable verbatim
    * in any engine's SQL for the oracle.
    *
    * Keys are taken modulo 2^bits (only bits 0..bits-1 are interleaved);
    * the mask is applied here so a caller passing a wider key gets the
    * documented truncation instead of silent aliasing of high bits.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    val mask = lit((1L << bits) - 1L)
    val (am, bm) = (a.bitwiseAND(mask), b.bitwiseAND(mask))
    (0 until bits).map { i =>
      (shiftright(am, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(bm, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }
}
