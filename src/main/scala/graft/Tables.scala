package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (TESTDATA.md) plus deterministic
  * synthetic methylation views derived from it.
  *
  * The reference pipeline's core object is a long/tidy beta table
  * `beta(probe_id, sample_id, beta)` (SURVEY.md §1.1; wide matrices at
  * /root/reference/main.py:240-241 re-expressed long). The driver testdata
  * has no methylation tables, so the views below derive deterministic
  * beta/detP/sample-sheet tables from `lineitem`/`supplier` with pure
  * integer arithmetic — bit-exact reproducible in ANSI SQL for the DuckDB
  * oracle (SqlOracles.ctes), and scale-proportional (rows grow with the
  * scale factor).
  */
object Tables {

  /** A raw table, read once per session and directory: parquet's schema
    * inference runs a Spark job per read, so later calls reuse the first
    * DataFrame (memoized in [[viewCache]] under the file name, unpersisted).
    * A directory read here must not be rewritten in the same session.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    viewCache.getOrElseUpdate((System.identityHashCode(spark), dir, s"$name.parquet"),
      spark.read.parquet(s"$dir/$name.parquet"))

  /** The events table is written with TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects unless nanos are surfaced as longs; normalize
    * back to a timestamp with integer division (no double round-trip —
    * nanos since epoch exceed 2^53).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  /** Memoized+persisted derived views. Verify/Bench run dozens of queries
    * against the same views in one session; without this every query would
    * re-aggregate lineitem from parquet (the reference's analog is keeping
    * the combined matrix in memory across steps, workflow.R throughout).
    * Keyed by session so test-local sessions don't leak cache entries.
    */
  private val viewCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String), DataFrame]

  private def cached(spark: SparkSession, dir: String, key: String)
                    (build: => DataFrame): DataFrame =
    viewCache.getOrElseUpdate((System.identityHashCode(spark), dir, key), {
      val df = build
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    })

  /** Long-form beta matrix (SURVEY.md §1.1): probe = part, sample =
    * supplier, beta = exact-integer hash of the line item mapped into
    * (0,1). Duplicate (probe, sample) pairs are deduplicated with min()
    * (exact, order-independent — no float-summation nondeterminism).
    *
    * DuckDB-equivalent SQL: the `beta` CTE in [[SqlOracles.ctes]].
    */
  def betaLong(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "beta") {
      // group on the integer keys, format the string ids after — the id
      // mapping is injective, so the groups (and the min) are identical,
      // but the shuffle carries 16 bytes/row instead of two strings.
      table(spark, dir, "lineitem")
        .select(
          col("l_partkey"), col("l_suppkey"),
          (((graft.functions.Fns.cents(col("l_extendedprice")) + col("l_linenumber")) % 997)
            .cast("double") / 997.0).as("beta_raw"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min("beta_raw").as("beta"))
        .select(
          format_string("cg%07d", col("l_partkey")).as("probe_id"),
          format_string("S%03d", col("l_suppkey")).as("sample_id"),
          col("beta"))
    }

  /** [[betaLong]] joined to the broadcast [[sampleSheet]] (adds run and
    * group), with beta's exact grid value `k` ([[graft.functions.Fns.betaK]]):
    * the one input of the K-tier statistics. Deliberately not [[cached]]:
    * both sides are cached already, and a persisted join would outlive
    * `Caches.releaseAll` at the size of the beta table.
    */
  def betaGrid(spark: SparkSession, dir: String): DataFrame =
    betaLong(spark, dir).join(broadcast(sampleSheet(spark, dir)), "sample_id")
      .withColumn("k", graft.functions.Fns.betaK)

  /** Long-form detection p-value matrix (reference `detP`,
    * /root/reference/workflow.R:24-25) with the same keys as [[betaLong]].
    */
  def detpLong(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "detp") {
      table(spark, dir, "lineitem")
        .select(
          col("l_partkey"), col("l_suppkey"),
          (((col("l_orderkey") * 7 + col("l_linenumber")) % 101)
            .cast("double") / 1010.0).as("pval_raw"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min("pval_raw").as("pval"))
        .select(
          format_string("cg%07d", col("l_partkey")).as("probe_id"),
          format_string("S%03d", col("l_suppkey")).as("sample_id"),
          col("pval"))
    }

  /** Sample sheet (reference samplesheet flavors, SURVEY.md §1.2):
    * one row per sample with run/batch and a two-level group assignment —
    * the dims the QC/ComBat/DMP kernels join against.
    */
  def sampleSheet(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "sheet") {
      table(spark, dir, "supplier")
        .select(
          format_string("S%03d", col("s_suppkey")).as("sample_id"),
          concat(lit("run_"), (col("s_suppkey") % 3).cast("string")).as("run"),
          when(col("s_suppkey") % 2 === 0, "WT").otherwise("MUT").as("group"))
    }

  /** Probe manifest (reference /root/reference/bmiq/DoBMIQ.R:46-54 — design
    * type encoded in the last two chars of `targetid`): probe = part,
    * Infinium type I/II from the part key parity.
    */
  def probeManifest(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "manifest") {
      table(spark, dir, "part")
        .select(
          format_string("cg%07d", col("p_partkey")).as("probe_id"),
          when(col("p_partkey") % 2 === 0, 1).otherwise(2).as("design_type"))
    }

  /** Long IDAT intensity model (SURVEY.md §2 S5/K7, reclaimed round 6):
    * one row per (sample, channel, bead address) with integer Mean/SD/
    * NBeads — the content of a `{sample}_{Grn|Red}.idat` pair
    * (/root/reference/idat.r:38,67). Probe = part; Type I/II from partkey
    * parity (lockstep with [[probeManifest]]); Type I probes carry TWO
    * bead addresses (U at 1e8+k, M at 2e8+k) read in BOTH channels — the
    * design channel in-band, the other channel out-of-band (the pOOBAH
    * background, `ops/Poobah.scala`); Type II carry one address (k) with
    * M in Grn and U in Red. Intensities are pure integer arithmetic on
    * (address, suppkey, channel) — bit-exact in ANSI SQL (the `idat` CTE
    * in [[SqlOracles.ctes]]) — with in-band means on a wider range
    * (0..28000) than out-of-band background (0..6000), so detection
    * p-values discriminate. The sample panel is the bounded `s_suppkey %
    * 25 = 3` slice (4 samples at sf0.01, 40 at sf0.1) — broadcast against
    * the address grid.
    */
  def idatLong(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "idat") {
      val parts = table(spark, dir, "part").select(col("p_partkey").as("k"))
      val t2 = parts.filter(col("k") % 2 === 1)
      val typeII = t2.select(col("k"), col("k").as("addr"),
          lit(2).as("design_type"), lit("Grn").as("channel"),
          lit(true).as("in_band"), lit("M").as("bead"))
        .unionAll(t2.select(col("k"), col("k").as("addr"), lit(2), lit("Red"),
          lit(true), lit("U")))
      val t1 = parts.filter(col("k") % 2 === 0)
        .withColumn("c1", when(col("k") % 4 === 0, "Grn").otherwise("Red"))
        .withColumn("c2", when(col("k") % 4 === 0, "Red").otherwise("Grn"))
      val typeI = t1.select(col("k"), (col("k") + 100000000).as("addr"),
          lit(1).as("design_type"), col("c1").as("channel"),
          lit(true).as("in_band"), lit("U").as("bead"))
        .unionAll(t1.select(col("k"), (col("k") + 200000000).as("addr"),
          lit(1), col("c1"), lit(true), lit("M")))
        .unionAll(t1.select(col("k"), (col("k") + 100000000).as("addr"),
          lit(1), col("c2"), lit(false), lit("U")))
        .unionAll(t1.select(col("k"), (col("k") + 200000000).as("addr"),
          lit(1), col("c2"), lit(false), lit("M")))
      val samples = table(spark, dir, "supplier")
        .filter(col("s_suppkey") % 25 === 3)
        .select(col("s_suppkey").cast("long").as("sk"))
      val chO = when(col("channel") === "Grn", 0L).otherwise(13L)
      val h = col("addr").cast("long") * 7919L + col("sk") * 104729L + chO
      typeII.unionAll(typeI)
        // chip-batch pairing, not a full cross join: a sample carries ONLY
        // its own batch's bead-address universe (replica r = key div
        // offset; 0 = 0 on the plain testdata, so every pair is kept
        // there). Physical arrays are fixed-size — the model must grow
        // LINEARLY in samples, the domain's real growth axis, or a 16×
        // ScaleSmoke replica (parts AND samples ×16) would grow 256×.
        .join(broadcast(samples),
          expr("(k div 1000000) = (sk div 100000)"))
        .select(
          format_string("S%03d", col("sk")).as("sample_id"),
          col("sk"), col("channel"),
          col("addr").cast("int").as("address"),
          when(col("in_band"), h % 28000 + 1).otherwise(h % 6000 + 1)
            .cast("int").as("mean"),
          ((col("addr").cast("long") * 31L + col("sk") * 17L + chO) % 400 + 20)
            .cast("int").as("sd"),
          ((col("addr").cast("long") + col("sk")) % 16 + 4)
            .cast("int").as("nbeads"),
          format_string("2052439%05d", col("sk")).as("barcode"),
          lit("BeadChip-8x5").as("chip_type"),
          format_string("cg%07d", col("k")).as("probe_id"),
          col("design_type"), col("in_band"), col("bead"))
    }

  /** Chip annotation (reference /root/reference/workflow.R:16,61-62):
    * probe → chromosome, including chrX/chrY for the sex-probe anti-join.
    */
  def chipAnnotation(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "anno") {
      table(spark, dir, "part")
        .select(
          format_string("cg%07d", col("p_partkey")).as("probe_id"),
          when(col("p_partkey") % 23 === 21, "chrX")
            .when(col("p_partkey") % 23 === 22, "chrY")
            .otherwise(concat(lit("chr"), (col("p_partkey") % 23 + 1)
              .cast("string"))).as("chr"))
    }
}
