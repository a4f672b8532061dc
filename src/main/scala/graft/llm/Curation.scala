package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField}

/** Corpus-curation operators a training-data pipeline runs after dedup pair
  * generation: grouping near-dup pairs into clusters (connected components,
  * `ops.Graph.connectedComponents`), deterministic stratified sampling,
  * per-stratum quantile thresholds, and benchmark decontamination.
  * Everything here is join/aggregate-shaped.
  */
object Curation {

  /** Sentinel value for the exact-Jaccard document-frequency cap: derive
    * it from the corpus's MEASURED duplication factor. The unguarded
    * inverted-index self-join emits df² pair rows per shingle, and the
    * r7/r8 64× ScaleSmoke sweeps proved that OOMs a default 8 g heap on a
    * mass-duplicated corpus — exactly the corpus a dedup operator exists
    * for. No FIXED cap is safe: under reps-fold duplication the genuine
    * dup shingles sit at df = reps (a cap below that silently loses
    * exactly the most-duplicated content — the r7 ADVICE cliff) while
    * junk/boilerplate sits at df = reps·(base df), so a cap generous
    * enough for high-replication corpora (e.g. 4096) re-admits
    * reps²-scaled junk fan-out on moderately-replicated ones (measured:
    * the 64× corpus tops out at df 1600 < 4096, and keeping it all is
    * the OOM). [[resolveMaxDf]] therefore measures the duplication
    * factor (docs / approx-distinct 256-char text prefix — near-dup
    * copies share prefixes) and caps at max(256, 4·dupFactor): genuine
    * df = reps is always kept, junk admission stays at base-df ≤ 4, the
    * family the sweeps measured survivable (72 s at 64× on 8 g).
    */
  val AutoMaxDf: Long = -1L

  /** Default cap policy for [[dedupClusters]], and the one
    * [[bestOfCluster]] and `Pipelines.curationPipeline` always use:
    * auto-derive (see [[AutoMaxDf]]).
    * `maxDf = None` is the explicit unguarded escape hatch (the c01/c07
    * oracles use it — their DuckDB closure replays exact semantics);
    * `Some(k)` with k > 0 pins a fixed cap.
    */
  val DefaultMaxDf: Option[Long] = Some(AutoMaxDf)

  /** Resolve a maxDf policy against a corpus: pass-through for None and
    * fixed positive caps; one count + HLL pass over the text column for
    * [[AutoMaxDf]] (a few seconds at sf0.1 — the price of a default that
    * survives mass duplication instead of silently mis-sizing). The
    * duplication factor is the MAX over a prefix and a suffix fingerprint:
    * near-dup copies that differ by an appended token collapse under the
    * prefix, copies that differ by a PREPENDED token (timestamp, id,
    * title variant) collapse under the suffix — either view measuring the
    * duplication is enough to raise the cap. Copies edited in BOTH their
    * first and last 256 characters still fall back to the 256 floor: the
    * estimator is a heuristic, and `maxDf = None` remains the correct
    * call when the corpus's duplication structure is known to defeat it.
    */
  def resolveMaxDf(docs: DataFrame, maxDf: Option[Long]): Option[Long] =
    maxDf.map { v =>
      if (v != AutoMaxDf) v
      else {
        val stats = docs.agg(count(lit(1)).as("n"),
          approx_count_distinct(substring(col("text"), 1, 256)).as("dp"),
          approx_count_distinct(substring(col("text"), -256, 256)).as("ds"))
          .head()
        val n = stats.getLong(0)
        if (n == 0L) 256L
        else {
          val dupFactor = math.max(
            n / math.max(1L, stats.getLong(1)),
            n / math.max(1L, stats.getLong(2)))
          math.max(256L, 4L * math.max(1L, dupFactor))
        }
      }
    }

  /** Near-dup clustering: n-gram Jaccard pairs above `minJaccard` become
    * edges, components become dedup clusters; emits each doc with its
    * cluster id (min doc_id of the cluster — the kept representative) and
    * the cluster size. This is the keep-one-per-cluster step every
    * large-scale dedup pipeline runs after pair generation.
    */
  def dedupClusters(docs: DataFrame, minJaccard: Double,
                    maxDf: Option[Long] = DefaultMaxDf): DataFrame = {
    // The Jaccard kernel reads the shingle strings once (one aggregate
    // into dense ids) and caches only its longs. maxDf = the d10
    // document-frequency guard (Dedup.jaccardPairsDfPruned): bounds the
    // per-shingle pair fan-out at maxDf² against boilerplate/duplication
    // blowup. SAFE BY DEFAULT since r8, and the default ADAPTS to the
    // corpus's measured duplication factor (see [[AutoMaxDf]] — no fixed
    // cap survives both the lose-genuine-dups cliff and the junk-fan-out
    // OOM); pass None explicitly for the exact unguarded semantics
    // (c01's oracle does).
    val pairs = Dedup.jaccard(Dedup.shingles(docs), minJaccard, resolveMaxDf(docs, maxDf))
    val cc = graft.ops.Graph.connectedComponents(pairs, docs.select("doc_id"))
    // cluster_size via a window on the cluster key: one shuffle, vs the
    // two (aggregate + join back) of the groupBy/join formulation.
    cc.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .select("doc_id", "cluster", "cluster_size")
  }

  /** Deterministic stratified sample: up to `perStratum` rows per stratum,
    * chosen by md5 of the id (a uniform, engine-portable, seedless hash
    * order — rerunning always picks the same rows). The window partitions
    * by stratum, so the sort is per-stratum, never global; skewed strata
    * cost only their own partition's top-k.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       perStratum: Int): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }

  /** Total rows up to which [[quantileProfile]] runs exact percentiles. */
  private val ExactMaxRows = 10000000L

  /** Per-stratum quantile profile of a score column — the distribution
    * report a curation run uses to pick quality cutoffs. Size-dispatched
    * by the [[graft.ops.SizeGate]] `Curation.quantileProfile`: exact
    * `percentile` buffers every value of a stratum in its aggregation
    * buffer (right answer, bounded memory only while strata are small), so
    * above [[ExactMaxRows]] TOTAL rows the profile switches to
    * `approx_percentile` — a t-digest sketch with constant per-group memory
    * and mergeable partials, the only shape that survives a 100 TB stratum.
    */
  def quantileProfile(df: DataFrame, strataCol: String,
                      scoreCol: String): DataFrame = {
    // Dispatch count WITHOUT persisting: the input is the caller's frame
    // (persisting it here would register a cache we don't own — see the
    // ops.Caches ownership contract — and materializing a 100 TB input to
    // storage is exactly the cost the sketch path avoids). The price is
    // one extra scan pass; callers with an expensive upstream should
    // persist it themselves.
    val exact = graft.ops.SizeGate("Curation.quantileProfile",
      df.count() -> ExactMaxRows) == graft.ops.SizeGate.Local
    // the column name is quoted into the SQL string — backticks keep
    // non-identifier names (e.g. "quality-score") as one column reference
    // instead of parsing as arbitrary SQL
    def pct(q: Double): Column =
      if (exact) expr(s"percentile(`$scoreCol`, $q)")
      else expr(s"approx_percentile(`$scoreCol`, $q, 10000)")
    df.groupBy(strataCol).agg(
      count(lit(1)).as("n"),
      pct(0.25).as("p25"), pct(0.50).as("p50"), pct(0.75).as("p75"))
  }

  /** Split assignment over a precomputed `(doc_id, cluster, …)` table —
    * see [[leakageFreeSplit]]. md5 hex is uniform, and an 8-char
    * lowercase-hex prefix compares the same lexically as numerically — one
    * string comparison, portable across engines, seedless. valFrac >= 1
    * would format as 9 hex chars and invert the 8-char lexical compare, so
    * the degenerate all-val / all-train cases short-circuit.
    */
  def splitByCluster(clustered: DataFrame, valFrac: Double): DataFrame = {
    val splitCol =
      if (valFrac >= 1.0) lit("val")
      else if (valFrac <= 0.0) lit("train")
      else {
        val cut = f"${(valFrac * 4294967296.0).toLong}%08x"
        when(substring(md5(col("cluster").cast("string")), 1, 8) < cut, "val")
          .otherwise("train")
      }
    clustered.withColumn("split", splitCol)
  }

  /** The shingle Jaccard at which [[bestOfCluster]] and
    * [[leakageFreeSplit]] call two docs near-duplicates: at least half of
    * their shingles shared. A constant because every caller passed 0.5.
    */
  private val NearDupJaccard = 0.5

  /** Keep the best member of each near-dup cluster ([[NearDupJaccard]]) by
    * a quality score (descending, doc_id tiebreak) — production dedup keeps
    * the highest-quality copy, not an arbitrary one. The rank window is
    * per-cluster, bounded by the largest cluster. Scores are rounded
    * before ranking so the kept doc is stable under last-ulp noise.
    */
  def bestOfCluster(docs: DataFrame, scoreCol: Column): DataFrame =
    bestOfClusterFrom(dedupClusters(docs, NearDupJaccard),
      docs.select(col("doc_id"), round(scoreCol, 6).as("score")))

  /** [[bestOfCluster]] over a precomputed cluster table and a
    * `(doc_id, score)` table (a session that keeps its cluster map
    * materialized — the production shape — pays only the rank window).
    */
  def bestOfClusterFrom(clustered: DataFrame, scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("doc_id").asc)
    clustered
      .join(scored, "doc_id")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("cluster"), col("doc_id").as("kept_doc"),
        col("cluster_size"), col("score"))
  }

  /** Incremental dedup: admit only new-batch docs whose content
    * fingerprint is absent from the existing corpus (anti-join against the
    * corpus fingerprint set) and not already taken by an earlier doc of
    * the same batch (keep-first window per fingerprint). The shape of
    * continuous ingest at scale: the corpus side reduces to DISTINCT
    * fingerprints — at 100 TB that set lives as a bucketed table keyed by
    * fingerprint, so the anti-join is shuffle-free.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusFp = corpus.select(
      TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val w = Window.partitionBy("fp").orderBy(col("doc_id").asc)
    batch.withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .join(corpusFp, Seq("fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "fp") // both working columns — admitted rows keep the batch schema
  }

  /** Mixture sampling: downsample each source to hit a target token
    * mixture (the data-mixing step before training — fixed domain weights
    * à la The Pile). Per-source keep fraction = min(1, budget·w_s /
    * tokens_s), computed from one token aggregate and broadcast back; a
    * doc is kept when its md5 hash bucket (first 8 hex chars as an
    * integer, uniform in [0, 2^32)) falls under the fraction — seedless,
    * deterministic, and each source's sample is a subset of any larger
    * budget's sample (nested samples, the property reweighting sweeps
    * need). One aggregate + one broadcast join; no shuffle of the corpus.
    */
  def mixtureSample(docs: DataFrame, weights: Seq[(String, Double)],
                    tokenBudget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toDF("source", "weight")
    // Read twice (fraction aggregate + output join) — persist so the
    // corpus scan and tokenization run once. Internal frame, so tracking
    // it for harness release is ours to do.
    val sized = graft.ops.Caches.track(
      docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("tokens")).persist())
    val fracs = sized.groupBy("source").agg(sum("tokens").as("src_tokens"))
      .join(broadcast(w), "source")
      .withColumn("frac",
        least(lit(1.0),
          lit(tokenBudget.toDouble) * col("weight") / col("src_tokens").cast("double")))
      .select("source", "frac")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("bigint").cast("double") / 4294967296.0
    sized.join(broadcast(fracs), "source")
      .filter(bucket < col("frac"))
      .select(col("doc_id"), col("source"), col("tokens"))
  }

  /** Benchmark decontamination: flag training docs sharing >= `minOverlap`
    * word n-gram shingles with any benchmark document (the n-gram-overlap
    * test-set contamination check of Brown et al., NeurIPS'20 appendix C).
    * The benchmark shingle set is DISTINCT'ed and joined on the shingle —
    * benchmark suites are tiny next to the corpus, so at scale this join
    * broadcasts; the per-doc overlap count is one hash aggregate.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
                    minOverlap: Int): DataFrame = {
    val benchSh = Dedup.shingles(benchmark).select("shingle").distinct()
    val overlap = Dedup.shingles(docs)
      .join(broadcast(benchSh), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    docs.select("doc_id").join(overlap, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** Leakage-free train/validation split: assign every doc the split of its
    * near-dup CLUSTER (deterministic md5 of the cluster id against a
    * threshold), so two near-duplicates can never land on opposite sides —
    * the train/test contamination a naive per-doc hash split silently
    * creates. `valFrac` is approximate (hash-uniform over clusters).
    * Builds on [[dedupClusters]] at [[NearDupJaccard]]; one extra column
    * expression, no extra shuffle.
    */
  def leakageFreeSplit(docs: DataFrame, valFrac: Double): DataFrame =
    splitByCluster(dedupClusters(docs, NearDupJaccard), valFrac)

  final case class PackedDoc(doc_id: Long, tokens: Long, bin_id: Long)

  /** Sequence packing: greedy best-fit-decreasing of documents into
    * fixed-capacity token bins (context-window packing for training).
    * Deterministic and distributed: docs are hash-partitioned by doc_id,
    * each partition packs its own docs independently (sorted tokens-desc,
    * tightest bin with room via a capacity-indexed TreeMap — O(log bins)
    * per doc, so a partition of millions of docs stays CPU-cheap), and bin
    * ids are namespaced by partition. BFD shares FFD's 11/9·OPT+1 bound;
    * cross-partition packing loss is bounded by one non-full bin per
    * partition, which at scale is noise. Oversized docs get a singleton
    * bin (a real pipeline chunks them upstream).
    */
  def packSequences(docs: DataFrame, capacity: Long,
                    numPartitions: Int = 0): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sized = docs
      .select(col("doc_id").cast("bigint").as("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("tokens"))
      .repartition(parts, col("doc_id"))
      .sortWithinPartitions(col("tokens").desc, col("doc_id").asc)
    sized.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      // remaining capacity -> bin ids at that capacity (LIFO within a
      // bucket: deterministic given the sorted input order). ceilingEntry
      // = tightest bin with room (best fit), O(log bins) per doc.
      val byCapacity = new java.util.TreeMap[Long, java.util.ArrayDeque[Long]]()
      var nBins = 0L
      def takeBin(cap: Long): (Long, Long) = {
        val e = byCapacity.ceilingEntry(cap)
        if (e == null) { val id = pid * 1000000000L + nBins; nBins += 1; (id, capacity) }
        else {
          val id = e.getValue.pollLast()
          if (e.getValue.isEmpty) byCapacity.remove(e.getKey)
          (id, e.getKey)
        }
      }
      it.map { r =>
        val id = r.getLong(0)
        val tok = r.getLong(1)
        val (binId, cap) = takeBin(tok)
        val remaining = math.max(cap - tok, 0L)
        byCapacity.computeIfAbsent(remaining, _ => new java.util.ArrayDeque[Long]())
          .addLast(binId)
        PackedDoc(id, tok, binId)
      }
    }(Encoders.product[PackedDoc])
  }

  /** Split each document into fixed-size token windows with overlap (the
    * context-window chunking step upstream of sequence packing; stride =
    * chunkSize − overlap). Row-local: tokenization, chunk-count arithmetic
    * and the per-chunk slice all happen inside one projection + a bounded
    * explode (≈ tokens/stride rows per doc) — no shuffle at all until a
    * consumer aggregates, and chunk boundaries are deterministic pure
    * arithmetic, so the operator is embarrassingly parallel at corpus
    * scale.
    */
  def chunkDocuments(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunkSize)
    val toks = split(TextAnalysis.normalized(col("text")), " ")
    val n = size(toks)
    val k = when(n <= chunkSize, lit(1L))
      .otherwise(ceil((n - chunkSize).cast("double") / stride).cast("long") + 1L)
    docs.select(col("doc_id"), toks.as("__toks"), k.as("__k"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("__k") - 1L)).as("chunk_id"),
        col("__toks"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize))
          .as("__chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("__chunk")).cast("bigint").as("n_toks"),
        array_join(col("__chunk"), " ").as("chunk"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006, A-Res in exponential form): each row draws
    * `key = -ln(u)/w` with `u` derived from the row id's md5 (seedless and
    * identical across engines/runs, the c02 convention), and the k
    * SMALLEST keys win — a weight-w row's key is Exp(w), so heavier rows
    * are proportionally likelier. This is the resampling step that
    * consumes [[importanceWeights]].
    *
    * Scale shape: the key is one row-local projection; selection is
    * orderBy+limit = `TakeOrderedAndProject` (per-partition top-k, k rows
    * to the driver, no global sort).
    */
  def weightedSample(docs: DataFrame, weightCol: Column, k: Int): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("bigint") + 1L).cast("double") / 4294967297.0
    docs.withColumn("skey", -log(u) / weightCol)
      .orderBy(col("skey").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Deterministic global training shuffle into fixed shards: every doc
    * gets a seedless permutation key (md5 of its id), a shard (key mod
    * `nShards`), and its position within the shard — the
    * shuffle-then-shard step that fixes a training run's data order.
    * Seedless md5 keys make the permutation reproducible across runs and
    * engines and independent of input partitioning.
    *
    * Scale shape: ONE shuffle (the window partitions by shard), and each
    * shard sorts independently — there is never a global sort. Shards are
    * hash-uniform (≈ corpus/nShards each); at 100 TB this materializes as
    * `write.partitionBy("shard")` with `sortWithinPartitions(key)` so the
    * on-disk file order IS the training order, and a trainer streams shard
    * files with no further shuffle.
    */
  def shuffleShards(docs: DataFrame, nShards: Int): DataFrame = {
    val key = md5(col("doc_id").cast("string"))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("bigint"),
      lit(nShards.toLong))
    val w = Window.partitionBy("shard").orderBy(col("__key").asc, col("doc_id").asc)
    docs.select(col("doc_id"), key.as("__key"), shard.as("shard"))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** DSIR-style importance weights (Xie et al., NeurIPS'23, "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by the log-likelihood ratio of its tokens under a target-subset
    * unigram LM vs the rest-of-corpus LM, add-1 smoothed over the shared
    * vocabulary. High-weight raw documents "look like" the target domain;
    * resampling by these weights (e.g. via [[stratifiedSample]]'s ordering
    * trick on weight-tilted keys) is the selection step.
    *
    * Scale shape: two shuffles total — the (word → target/rest count)
    * aggregate, then the token→model equi-join re-aggregated per doc
    * (identical shape to the TF-IDF and unigram-LM operators). The model
    * totals are a single broadcast row. The word-level model is exact; at
    * 100 TB DSIR hashes n-grams into a fixed bucket count so the model
    * side becomes a broadcast-able constant-size table — same plan, bounded
    * build side.
    */
  def importanceWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val toks = docs.select(col("doc_id"), isTarget.as("__t"),
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = toks.groupBy("w").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("cr"))
    val totals = tf.agg(sum("ct").as("nt"), sum("cr").as("nr"),
      count(lit(1)).as("v"))
    toks.join(tf, "w")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(log((col("ct") + 1L).cast("double") / (col("nt") + col("v"))) -
          log((col("cr") + 1L).cast("double") / (col("nr") + col("v"))))
          .as("log_ratio"))
  }

  /** Feature buckets of [[hashedImportanceWeights]]' model: the model table
    * has this many rows whatever the corpus vocabulary. */
  private val HashedBuckets = 1024

  /** HASHED importance weights — the DSIR scale path proper (Xie et al.
    * 2023, "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169): unigram AND bigram features hash into a FIXED
    * bucket count, so the target/raw model is a constant-size table
    * regardless of corpus vocabulary — at 100 TB the word-level model of
    * [[importanceWeights]] grows with the (unbounded) vocab while this
    * model stays [[HashedBuckets]] rows, broadcast everywhere. Weights are the
    * log-likelihood ratio of each document's hashed feature bag under the
    * add-half-smoothed target vs raw bucket multinomials.
    *
    * Scale shape: feature extraction is row-local (one array build per
    * doc, md5 buckets — seedless, rerunnable); ONE corpus shuffle builds
    * the B-row model; scoring is a broadcast equi-join on the bucket id +
    * one doc-keyed aggregate. Per-bucket contributions are pre-quantized
    * to exact floor(1e9·logw) integers so the per-doc sum is
    * partial-aggregation-order-free (the t25 decimal-sum pattern) — the
    * returned `weight_1e9` is bit-stable across partitionings AND engines.
    *
    * Contract: exactly ONE output row per input document — a zero-token
    * document scores `(n_feats, weight_1e9) = (0, 0)` via a spine
    * left-join rather than silently disappearing (r9 ADVICE fix).
    */
  def hashedImportanceWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    // the token array MUST be a materialized column before the bigram
    // lambda touches it: a lambda body referencing the raw
    // filter(split(normalized(...))) expression re-evaluates that whole
    // tree per element access (higher-order functions sit outside
    // subexpression elimination), turning the bigram build O(tokens²·regex)
    // per document — measured 25 s vs sub-second at sf0.1
    val ws = col("__ws")
    val feats = concat(ws,
      when(size(ws) >= 2,
        zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>")))
    // persisted: the bucketed stream feeds the model build AND the scoring
    // join — without it the explode+md5 scan runs three times (hist for
    // totals, hist for the model, scoring), the dominant cost here
    val toks = graft.ops.Caches.track(docs
      .select(col("doc_id"), isTarget.as("__t"),
        filter(split(TextAnalysis.normalized(col("text")), " "),
          w => w =!= "").as("__ws"))
      .select(col("doc_id"), col("__t"), explode(feats).as("f"))
      .withColumn("b", pmod(conv(substring(md5(col("f")), 1, 8), 16, 10)
        .cast("long"), lit(HashedBuckets.toLong)))
      .drop("f")
      .persist())
    val hist = toks.groupBy("b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val totals = hist.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val half = HashedBuckets / 2.0
    val model = hist.crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log((col("ct") + 0.5) / (col("nt") + half)) -
          log((col("cr") + 0.5) / (col("nr") + half))) * 1e9)
          .cast("long").as("contrib"))
    val scored = toks.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("contrib").as("weight_1e9"))
    // one row per INPUT document (r9): a zero-token document has no
    // features to explode, so the aggregate alone would silently drop it —
    // left-join back to the doc spine with (n_feats, weight) = (0, 0),
    // the same spine contract as removeDuplicateSpans. Co-keyed doc_id
    // join, no broadcast (both sides are corpus-sized).
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight_1e9"), lit(0L)).as("weight_1e9"))
  }

  /** Greedy TOKEN-BUDGET selection: order documents by (score desc, id
    * asc) and keep every document that STARTS before the budget boundary —
    * the "fill a 1T-token training mix with the best documents first" step
    * that turns a scored corpus into a pretraining set of a fixed size.
    * Appends `cum_before` (exact exclusive prefix sum of `tokenCol` in the
    * greedy order — integer, so no float-order hazard) and `selected`
    * (`cum_before < budget`).
    *
    * A prefix scan ([[tokenBudgetScan]]) through the
    * [[graft.ops.RangedScan]] size gate, the one BH uses: one range
    * partition at small sizes, `spark.sql.shuffle.partitions` above.
    * Exact-integer either way, so every partition count gives the same
    * result (PropertySpec); a null token count reads as 0.
    */
  def tokenBudgetSelect(docs: DataFrame, scoreCol: String, tokenCol: String,
                        idCol: String, budget: Long): DataFrame =
    graft.ops.RangedScan.run(docs, tokenBudgetScan(scoreCol, tokenCol, idCol, budget))

  /** The token budget as a prefix scan: each document weighs its tokens,
    * so its `before` offset is `cum_before`.
    */
  private[graft] def tokenBudgetScan(scoreCol: String, tokenCol: String,
      idCol: String, budget: Long): graft.ops.RangedScan.Scan =
    graft.ops.RangedScan.Scan(
      Seq(col(scoreCol).desc, col(idCol).asc), tokenCol,
      coalesce(col(tokenCol).cast("long"), lit(0L)),
      Seq(StructField("cum_before", LongType, nullable = false),
        StructField("selected", BooleanType, nullable = false)),
      weight = col(tokenCol), fold = None,
      emit = (_, before, _) => Seq(before, before < budget))
}
