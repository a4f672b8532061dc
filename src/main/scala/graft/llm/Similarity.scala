package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding array<float>, label)`).
  *
  * Two tiers: brute-force cosine top-k (the correctness baseline — one
  * scan, no shuffle, TakeOrderedAndProject) and a sign-bit LSH-bucketed
  * variant (the scale path: the scan prunes to one bucket ≈ 1/2^LshBits of
  * the data before scoring; at 100 TB the bucket id becomes a partition
  * column so pruning happens at the file level).
  */
object Similarity {

  private def withVec(emb: DataFrame): DataFrame =
    emb.withColumn("v", col("embedding").cast("array<double>"))

  /** `graft_dot` as a Column (functions/VecDot.scala): the same left-fold
    * arithmetic as `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — bit-equal,
    * oracle-compatible — but one codegen'd primitive loop instead of
    * CodegenFallback lambda dispatch per element. `dotC(v, v)` is the
    * squared norm.
    */
  private def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.VecDotProduct(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** dot(v, q) and |v|² via the native `graft_dot` loop (see [[dotC]] —
    * no UDF, no HOF fallback). A zero-norm vector (or query) gets cos =
    * −1, not the NaN that 0/0 would produce — Spark orders NaN ABOVE every
    * real value, so an unguarded zero vector would outrank all true
    * matches and pass every `cos >= threshold` filter.
    */
  private def scored(e: DataFrame, qArr: Seq[Double]): DataFrame = {
    val qLit = typedLit(qArr)
    val qNorm = math.sqrt(qArr.map(x => x * x).sum)
    e.withColumn("dot", dotC(col("v"), qLit))
      .withColumn("nrm", dotC(col("v"), col("v")))
      .withColumn("cos",
        when(col("nrm") > 0 && lit(qNorm) > 0,
          round(col("dot") / sqrt(col("nrm")) / lit(qNorm), 6))
          .otherwise(lit(-1.0)))
  }

  private def queryVec(e: DataFrame, queryId: Long): Seq[Double] =
    e.filter(col("vec_id") === queryId).select("v").head().getSeq[Double](0)

  /** Brute-force cosine top-k against the embedding of `queryId`. */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val e = withVec(emb)
    scored(e.filter(col("vec_id") =!= queryId), queryVec(e, queryId))
      .select("vec_id", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Sign bits of the LSH bucket: 2^4 = 16 cells. */
  private val LshBits = 4

  /** Sign-bit bucket of `v`'s first [[LshBits]] dimensions. */
  private def signBucket =
    (1 to LshBits).map { i =>
      when(element_at(col("v"), i) >= 0, lit(1 << (LshBits - i))).otherwise(lit(0))
    }.reduce(_ + _)

  /** Neighbors [[lshTopK]] returns: the top 5 that n02, its one caller, reports. */
  private val LshK = 5

  /** LSH-bucketed ANN: score only vectors in the query's sign bucket and
    * keep the [[LshK]] nearest.
    */
  def lshTopK(emb: DataFrame, queryId: Long): DataFrame = {
    val e = withVec(emb).withColumn("bucket", signBucket)
    val q = queryVec(e, queryId)
    require(LshBits <= q.length,
      s"signBucket needs $LshBits leading dims, embedding has ${q.length}")
    val qBucket = (1 to LshBits).map(i => if (q(i - 1) >= 0) 1 << (LshBits - i) else 0).sum
    scored(e.filter(col("vec_id") =!= queryId && col("bucket") === qBucket), q)
      .select("vec_id", "bucket", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(LshK)
  }

  /** MMR's relevance weight λ; redundancy weighs 1 − λ. */
  private val MmrLambda = 0.7

  /** Maximal-marginal-relevance diversity re-rank (Carbonell & Goldstein
    * 1998): fetch the top-`candidates` cosine neighbors with the
    * distributed n01 scan, then run the greedy selection
    * `argmax_i λ·cos(q,i) − (1−λ)·max_{j∈S} cos(i,j)` (λ = [[MmrLambda]])
    * driver-side on that
    * BOUNDED candidate set (the PQ-codebook policy: the corpus-sized scan
    * is distributed, the k·candidates² greedy loop is a driver constant).
    * Deterministic: candidate order is (cos desc, vec_id asc) and ties in
    * the MMR score break toward the lower vec_id.
    *
    * @return (rank, vec_id, relevance, redundancy, mmr_score), rank 1..k
    */
  def mmrRerank(emb: DataFrame, queryId: Long, k: Int, candidates: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = withVec(emb)
    val q = queryVec(e, queryId)
    val cand = scored(e.filter(col("vec_id") =!= queryId), q)
      .filter(col("nrm") > 0)
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(candidates)
      .select(col("vec_id"), col("cos"), col("v"))
      .collect()
    val ids = cand.map(_.getLong(0))
    val rel = cand.map(_.getDouble(1))
    val unit = cand.map { r =>
      val a = r.getSeq[Double](2).toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n > 0) a.map(_ / n) else a
    }
    def sim(i: Int, j: Int): Double = {
      var s = 0.0; var x = 0
      while (x < unit(i).length) { s += unit(i)(x) * unit(j)(x); x += 1 }
      s
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double, Double)]
    while (selected.length < math.min(k, cand.length)) {
      var best = -1; var bestScore = Double.NegativeInfinity; var bestRed = 0.0
      var i = 0
      while (i < cand.length) {
        if (!selected.contains(i)) {
          val red = if (selected.isEmpty) 0.0
            else selected.map(j => sim(i, j)).max
          val sc = MmrLambda * rel(i) - (1.0 - MmrLambda) * red
          if (sc > bestScore ||
              (sc == bestScore && best >= 0 && ids(i) < ids(best))) {
            best = i; bestScore = sc; bestRed = red
          }
        }
        i += 1
      }
      selected += best
      out += ((selected.length, ids(best), rel(best),
        math.rint(bestRed * 1e6) / 1e6, math.rint(bestScore * 1e6) / 1e6))
    }
    out.toSeq.toDF("rank", "vec_id", "relevance", "redundancy", "mmr_score")
  }

  /** Deterministic driver-local Lloyd's k-means for quantizer training.
    * Codebooks/centroid tables are tiny offline artifacts at corpus scale —
    * training them needs a bounded sample, not a distributed fit, so this
    * replaces Spark ML KMeans in the ANN quantizers: zero Spark jobs for
    * training, and the learned centers ship to executors as expression
    * literals. Farthest-first init (greedy 2-approx k-center seeding from
    * the first point) makes it seed-free and run-to-run identical.
    */
  /** Lloyd rounds of [[localKMeans]] when assignments keep changing. */
  private val KMeansMaxIter = 25

  private[llm] def localKMeans(points: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty training sample")
    val dim = points(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // farthest-first seeding
    val centers = Array.fill(math.min(k, points.length))(new Array[Double](dim))
    points(0).copyToArray(centers(0))
    val minD = points.map(d2(_, centers(0)))
    for (c <- 1 until centers.length) {
      val next = minD.indexOf(minD.max)
      points(next).copyToArray(centers(c))
      var i = 0
      while (i < points.length) {
        minD(i) = math.min(minD(i), d2(points(i), centers(c))); i += 1
      }
    }
    // Lloyd's iterations until assignments stabilize
    val assign = Array.fill(points.length)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < KMeansMaxIter) {
      changed = false
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = d2(points(i), centers(0)); var c = 1
        while (c < centers.length) {
          val d = d2(points(i), centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.fill(centers.length)(new Array[Double](dim))
        val counts = new Array[Int](centers.length)
        var j = 0
        while (j < points.length) {
          val a = assign(j); counts(a) += 1
          var x = 0
          while (x < dim) { sums(a)(x) += points(j)(x); x += 1 }
          j += 1
        }
        for (c <- centers.indices if counts(c) > 0; x <- 0 until dim)
          centers(c)(x) = sums(c)(x) / counts(c) // empty cell keeps its center
      }
      iter += 1
    }
    centers
  }

  /** Bounded deterministic training sample: every `stride`-th vec_id, so
    * the quantizer sees ≈`maxTrain` spread-out rows with no seed and no
    * shuffle, out of `unit`'s `total` rows. Returns rows sorted by vec_id
    * (collection order must not depend on partitioning).
    */
  private def trainSample(unit: DataFrame, vecCol: String, maxTrain: Long,
                          total: Long): Array[Array[Double]] = {
    val sampled =
      if (total <= maxTrain) unit
      else unit.filter(pmod(col("vec_id"), lit((total + maxTrain - 1) / maxTrain)) === 0)
    val rows = sampled.select(col("vec_id"), col(vecCol)).collect()
    // id schemes correlated with the stride (all-odd ids, sharded ranges)
    // can make the modular filter select nothing — fall back to the first
    // maxTrain rows by id rather than crash the quantizer fit.
    val picked =
      if (rows.nonEmpty) rows
      else unit.select(col("vec_id"), col(vecCol))
        .orderBy("vec_id").limit(maxTrain.toInt).collect()
    picked.sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
  }

  /** Codebook/centroid training dispatch (r8), the
    * [[graft.ops.SizeGate]] `Similarity.trainCenters`. Below `maxTrain` corpus
    * rows the quantizer trains driver-locally ([[localKMeans]] on the
    * whole corpus via [[trainSample]] — zero distributed fits, seed-free
    * deterministic, the oracle-friendly path). ABOVE it, a bounded driver
    * sample caps index quality — the r7 n09 eval showed a starved center
    * set under-coding a corpus with more distinct clusters than the
    * sample can witness — so the fit moves to Spark ML KMeans (seeded
    * k-means||, one distributed fit over every row) while the learned
    * centers still ship to executors as literal codebooks: training
    * scales with the corpus, the encode pass stays one codegen'd map
    * projection either way, and the stored index shape (cell/code
    * columns) is identical. Centers are sorted lexicographically so cell
    * numbering does not depend on the fit's internal (partitioning-
    * dependent) center order.
    */
  private[graft] def trainCenters(unit: DataFrame, vecCol: String, k: Int,
      maxTrain: Long): Array[Array[Double]] = {
    val total = unit.count()
    val centers =
      if (graft.ops.SizeGate("Similarity.trainCenters", total -> maxTrain) ==
          graft.ops.SizeGate.Local)
        localKMeans(trainSample(unit, vecCol, maxTrain, total), k)
      else {
        import org.apache.spark.ml.clustering.KMeans
        val feats = unit.select(org.apache.spark.ml.functions
          .array_to_vector(col(vecCol).cast("array<double>")).as("__feat"))
        new KMeans().setK(k).setSeed(7L).setMaxIter(25)
          .setFeaturesCol("__feat")
          .fit(feats).clusterCenters.map(_.toArray)
      }
    centers.sortWith { (a, b) =>
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i < a.length && i < b.length && a(i) < b(i)
    }
  }

  /** Per-row squared-L2 distances to each center of a literal codebook,
    * as one codegen'd array expression over the sub-vector columns.
    */
  /** 1-based nearest-center index, fused (functions/VecDot.scala
    * `graft_nearest`): same per-center fold order and first-minimum tie
    * rule as the composed array_position(array_min) over a
    * transform/zip_with distance array — bit-identical assignment — but
    * one codegen'd loop with no intermediate array and no interpreted
    * lambda dispatch (the HOF chain is CodegenFallback).
    */
  private def nearestC(centers: Array[Array[Double]],
                       v: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.VecNearestCenter(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          typedLit(centers.map(_.toSeq).toSeq)),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(v)))

  /** Cells an IVF query probes. */
  private val IvfProbes = 4

  /** IVF-style ANN: a k-means coarse quantizer partitions the corpus into
    * nlist cells; a query scores only the [[IvfProbes]] cells whose centroids are
    * closest to it. The quantizer trains via the [[trainCenters]]
    * dispatch (driver-local deterministic Lloyd's below the bounded-
    * sample threshold, seeded Spark ML KMeans over every row above it)
    * and cell assignment is a pure codegen'd map pass either way. The
    * 100 TB shape: cell id becomes a partition column at ingest, so probing
    * is file-level partition pruning and each query touches IvfProbes/nlist
    * of the data.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nlist: Int): DataFrame = {
    val e = graft.ops.Caches.track(withVec(emb).persist())
    val centers = trainCenters(e, "v", nlist, 200L * nlist)
    val assigned = e.withColumn("cell", nearestC(centers, col("v")) - 1)
    val q = queryVec(e, queryId)
    val probeCells = centers.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy(_._2).take(IvfProbes).map(_._1).toSeq
    scored(assigned.filter(col("vec_id") =!= queryId &&
        col("cell").isin(probeCells: _*)), q)
      .select("vec_id", "cell", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Product-quantization ANN (Jégou et al., TPAMI'11): vectors are
    * L2-normalized, split into `m` = 8 subspaces, and each subspace is
    * vector-quantized by its own small k-means codebook of `codebookSize`
    * = 16 centroids — a D-float vector compresses to m small ints (m bytes
    * at nbits=8). A query scores codes by ADC (asymmetric distance
    * computation): per subspace, the exact distance from the query
    * sub-vector to each centroid is precomputed driver-side
    * (m × codebookSize doubles), and a row's approximate
    * squared L2 distance is the sum of m table lookups. On unit vectors
    * ‖q−v‖² = 2−2·cos, so ascending ADC distance approximates descending
    * cosine — comparable against [[cosineTopK]].
    *
    * The 100 TB shape: codebooks are trained ONCE on a bounded sample and
    * shipped as literals (exactly what this does — [[localKMeans]] on an
    * id-stride sample, no distributed fit); the stored table keeps only
    * (vec_id, code) — a 32× scan-size reduction at D=64/m=4 — and the
    * whole shortlist scan is codegen'd int lookups + adds with a
    * TakeOrderedAndProject top-(k·rerank); only the shortlist's real
    * vectors are then read for an exact cosine re-rank (the standard
    * two-stage ADC + re-rank design). IVF (coarse cell = partition
    * pruning) composes with PQ (small codes) in a production IVFADC
    * index; both halves are here.
    */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int, rerank: Int = 5): DataFrame = {
    val (m, codebookSize) = (8, 16)
    val unit = graft.ops.Caches.track(
      withVec(emb).withColumn("nrm", sqrt(dotC(col("v"), col("v"))))
        .withColumn("vn", transform(col("v"), x => x / col("nrm")))
        .persist())
    // dim read off the persisted frame — no separate scan of the raw input
    val dim = unit.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // Codebooks via the r8 [[trainCenters]] dispatch, one per subspace
    // over that subspace's slice column: below the bounded-sample
    // threshold this is the deterministic driver-local Lloyd's on an
    // id-stride sample; above it each subspace codebook is a seeded
    // Spark ML KMeans fit over every row (the FAISS-style per-subspace
    // training), because a bounded sample caps code quality once the
    // corpus has more distinct structure than the sample can witness.
    // The ENCODE pass below is one codegen'd map projection either way.
    val codebooks = (0 until m).map { i =>
      trainCenters(unit.select(col("vec_id"),
          slice(col("vn"), i * sub + 1, sub).as("sv")),
        "sv", codebookSize, 200L * codebookSize)
    }
    // (vec_id, c_0..c_{m-1}) — the PQ code table; all a query scan reads
    val codes = unit.select(
      (col("vec_id") +: (0 until m).map(i =>
        nearestC(codebooks(i),
          slice(col("vn"), i * sub + 1, sub)).as(s"c_$i"))): _*)
    val q = unit.filter(col("vec_id") === queryId).select("vn").head().getSeq[Double](0)
    val dtabs = (0 until m).map { i =>
      val qs = q.slice(i * sub, (i + 1) * sub)
      codebooks(i).map { c =>
        c.zip(qs).map { case (a, b) => (a - b) * (a - b) }.sum
      }.toSeq
    }
    // c_i is the 1-based nearest-center index, matching element_at
    val adist = (0 until m).map(i =>
      element_at(typedLit(dtabs(i)), col(s"c_$i"))).reduce(_ + _)
    val shortlist = codes.filter(col("vec_id") =!= queryId)
      .withColumn("adist", round(adist, 6))
      .select("vec_id", "adist")
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(k * rerank)
    // Exact re-rank of the ADC shortlist — the standard second stage: the
    // cheap code scan prunes the corpus to k·rerank ids, and only those
    // rows' real vectors are read (a semi-join; at scale a bucketed point
    // lookup). Quantization error then only costs recall when a true
    // neighbor misses the WHOLE shortlist.
    shortlist.join(unit.select(col("vec_id"), col("vn")), "vec_id")
      .withColumn("cos", // dot of unit vectors = cosine
        round(dotC(col("vn"), typedLit(q)), 6))
      .select("vec_id", "adist", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space into `ncells` cells,
    * then inside each cell drop every vector that has a lower-id near-
    * duplicate at cosine ≥ `minCos`. Clustering is what makes the pair
    * search tractable — pairs are only formed within a cell, so the join
    * is per-cell, never global n², and at corpus scale `ncells` grows
    * with the data to keep cell population bounded (the paper runs 50k
    * clusters over LAION; the cell id doubles as a partition column so
    * each cell's pair join is partition-local).
    *
    * Keep rule: lowest vec_id in the cell wins (the repo-wide keep-first
    * convention — deterministic, join-free). This drops y whenever ANY
    * lower-id x in the cell has cos(x,y) ≥ minCos; versus a sequential
    * greedy scan it can over-drop only when a dropped vector is the sole
    * witness for another — rare inside an ε-ball, and over-dropping is
    * the conservative direction for training-data curation.
    *
    * Quantizer training follows the repo's ANN pattern: driver-local
    * deterministic Lloyd's ([[localKMeans]]) on a bounded id-stride
    * sample, centers shipped as expression literals, assignment as one
    * codegen'd map pass.
    *
    * Returns every vector with its cell, a `dropped` flag, and for
    * dropped rows the keeper id and the qualifying cosine.
    */
  def semanticDedup(emb: DataFrame, ncells: Int, minCos: Double): DataFrame = {
    val e = graft.ops.Caches.track(
      withVec(emb)
        .withColumn("nrm", sqrt(dotC(col("v"), col("v"))))
        .persist())
    val centers = localKMeans(trainSample(e, "v", 200L * ncells, e.count()), ncells)
    val assigned = e
      .withColumn("cell", nearestC(centers, col("v")) - 1)
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
    val pairs = assigned.as("x").join(assigned.as("y"), "cell")
      .filter(col("x.vec_id") < col("y.vec_id"))
      .withColumn("dot", dotC(col("x.v"), col("y.v")))
      .withColumn("cos", round(col("dot") / col("x.nrm") / col("y.nrm"), 6))
      .filter(col("cos") >= minCos)
    val droppedRows = pairs
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("kept_as"), max(col("cos")).as("max_cos"))
    assigned.select("vec_id", "cell")
      .join(droppedRows, Seq("vec_id"), "left")
      .withColumn("dropped", col("kept_as").isNotNull)
  }

  /** Embedding-cosine near-dup pairs, blocked by label (or any coarse
    * bucket column) so the pair join is per-block, never global n².
    */
  def cosineNearDups(emb: DataFrame, blockCol: String, minCos: Double): DataFrame = {
    val e = withVec(emb)
      .withColumn("nrm", sqrt(dotC(col("v"), col("v"))))
      .select(col("vec_id"), col(blockCol).as("block"), col("v"), col("nrm"))
    e.as("x").join(e.as("y"), "block")
      .filter(col("x.vec_id") < col("y.vec_id"))
      .withColumn("dot", dotC(col("x.v"), col("y.v")))
      .withColumn("cos", round(col("dot") / col("x.nrm") / col("y.nrm"), 6))
      .filter(col("cos") >= minCos)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("block"), col("cos"))
  }

  /** ANN index-quality evaluation harness: recall@k, MRR, and nDCG@k of
    * THREE approximate retrieval rules against brute-force cosine ground
    * truth, over the first `nQueries` vectors as query points — the
    * measurement that decides whether an approximate index is good enough
    * to ship. One output row per (index_kind, qid):
    *
    *  - `lsh` — the sign-bit bucket rule of [[lshTopK]] (candidates =
    *    same bucket, ranked by cosine);
    *  - `ivf` — the cell-probe rule of [[ivfTopK]] (candidates = the
    *    `nprobe` = 2 cells nearest the query, ranked by cosine), with the
    *    coarse quantizer HELD FIXED at `nlist` = 8 deterministic seed
    *    centers (the vectors at ids `[nQueries, nQueries+nlist)`) — the standard
    *    eval simplification: grade the cell-probe structure with the
    *    codebook pinned, so the whole panel stays SQL-expressible and
    *    fully oracle-checkable (Lloyd-trained codebooks are spec-graded
    *    separately in SimilaritySpec);
    *  - `pq` — the ADC rule of [[pqTopK]] (rank ALL codes by asymmetric
    *    distance, take top-k), with `m` = 4 per-subspace codebooks of
    *    `codebookSize` = 8 centroids likewise pinned at the seed vectors'
    *    sub-slices, on L2-normalized vectors so ascending ADC ≈
    *    descending cosine.
    *
    * Scale shape: ground truth on a BOUNDED query sample (the standard
    * protocol — nobody brute-forces every query), computed as one
    * broadcast(sample)×corpus scan with the codegen `graft_dot` loop;
    * every quantizer table (centers, probe lists, distance tables) is a
    * broadcast-sized frame derived in-engine — no driver collect at all.
    *
    * Hash-exact by construction: per-query metrics derive from INTEGER
    * state only — hit count, first-hit rank (min), and a rank BITMASK
    * built with integer `shiftleft` (exact to rank 63, enforced by the
    * `k` guard — `power(2, ·)` doubles would silently corrupt past 53) —
    * and the nDCG fold expands the bitmask in fixed ascending-rank order
    * (Σ bit_r·1/log2(r+1) as a literal left-associated chain), so no
    * float accumulates in engine-dependent order (the t25 rule applied to
    * ranking metrics). Every argmin/rank runs on round(·, 6) values with
    * an id tie-break, the repo-wide cross-engine determinism rule.
    */
  def annEvalMetrics(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val (nlist, nprobe, m, codebookSize) = (8, 2, 4, 8)
    require(k >= 1 && k <= 63,
      s"k=$k outside [1, 63]: the rank bitmask lives in one BIGINT")
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    // norms once per VECTOR (not per pair — nQueries× less norm work)
    val e = graft.ops.Caches.track(
      withVec(emb).withColumn("bucket", signBucket)
        .withColumn("nrm", dotC(col("v"), col("v")))
        .select("vec_id", "v", "bucket", "nrm")
        .persist())
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("bucket").as("qbucket"), col("nrm").as("qnrm"))
    // persisted: the truth and the three system rankings below are
    // separate window consumers of this scan, each behind its own filter
    // so ReuseExchange can't dedupe them — without the persist the
    // broadcast(sample)×corpus dot scan runs four times (the w18 rule)
    val pairs = graft.ops.Caches.track(
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("dot", dotC(col("v"), col("qv")))
        .withColumn("cos",
          when(col("nrm") > 0 && col("qnrm") > 0,
            round(col("dot") / sqrt(col("nrm")) / sqrt(col("qnrm")), 6))
            .otherwise(lit(-1.0)))
        .select("qid", "vec_id", "bucket", "qbucket", "cos")
        .persist())
    val wQ = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    val truth = pairs.withColumn("rank_t", row_number().over(wQ))
      .filter(col("rank_t") <= k).select("qid", "vec_id")

    // --- lsh: same-bucket candidates, cosine rank -----------------------
    val lshSys = pairs.filter(col("bucket") === col("qbucket"))
      .withColumn("rank_s", row_number().over(wQ))
      .filter(col("rank_s") <= k)
      .select("qid", "vec_id", "rank_s")

    // --- ivf: seed-center cells, nprobe probing, cosine rank ------------
    // squared L2 via the dot identity ‖a−b‖² = ‖a‖² − 2a·b + ‖b‖², rounded
    // before the argmin so both engines pick the same cell under float
    // jitter (cid breaks exact ties)
    val centers = e.filter(col("vec_id") >= nQueries &&
        col("vec_id") < nQueries + nlist)
      .select((col("vec_id") - nQueries).as("cid"),
        col("v").as("cv"), col("nrm").as("cnrm"))
    val cellDist = graft.ops.Caches.track(
      e.select("vec_id", "v", "nrm").crossJoin(broadcast(centers))
        .withColumn("cdist", round(
          col("nrm") - lit(2.0) * dotC(col("v"), col("cv")) + col("cnrm"), 6))
        .select("vec_id", "cid", "cdist")
        .persist()) // consumed twice: corpus cells + query probe lists
    val wCell = Window.partitionBy("vec_id")
      .orderBy(col("cdist").asc, col("cid").asc)
    val cells = cellDist.withColumn("rk", row_number().over(wCell))
      .filter(col("rk") === 1).select("vec_id", "cid")
    val probed = cellDist.filter(col("vec_id") < nQueries)
      .withColumn("rk", row_number().over(wCell))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid"))
    val ivfSys = pairs.join(cells, Seq("vec_id")).join(probed, Seq("qid", "cid"))
      .withColumn("rank_s", row_number().over(wQ))
      .filter(col("rank_s") <= k)
      .select("qid", "vec_id", "rank_s")

    // --- pq: seed codebooks per subspace, ADC rank ----------------------
    val sDf = spark.range(0, m).select(col("id").cast("int").as("s"))
    // per-(vector, subspace) slice of the L2-normalized vector + its norm.
    // The subspace width derives PER ROW from the vector length — no
    // driver action at plan-construction time (the Survival.scala
    // convention) and no crash on an empty frame; the divisibility guard
    // is the explicit otherwise-branch of the width expression itself
    // (when divisible → width, else raise_error), so column pruning can
    // never elide it and an indivisible dim fails with the intended
    // message (SimilaritySpec pins the failure path).
    val svs = graft.ops.Caches.track(
      e.withColumn("vn",
          when(col("nrm") > 0, transform(col("v"), x => x / sqrt(col("nrm"))))
            .otherwise(col("v")))
        .select("vec_id", "vn")
        .crossJoin(broadcast(sDf))
        .withColumn("sub",
          when(size(col("vn")) % m === 0,
              expr(s"CAST(size(vn) DIV $m AS INT)"))
            .otherwise(raise_error(concat(
              lit("pq: vector dim "), size(col("vn")).cast("string"),
              lit(s" must divide into $m subspaces"))).cast("int")))
        .withColumn("sv",
          slice(col("vn"), (col("s") * col("sub") + 1).cast("int"), col("sub")))
        .withColumn("svv", dotC(col("sv"), col("sv")))
        .select("vec_id", "s", "sv", "svv")
        .persist()) // consumed twice: corpus codes + query distance tables
    val seedsC = svs.filter(col("vec_id") >= nQueries &&
        col("vec_id") < nQueries + codebookSize)
      .select(col("s"), (col("vec_id") - nQueries).as("cid"),
        col("sv").as("sc"), col("svv").as("scc"))
    val wCode = Window.partitionBy("vec_id", "s")
      .orderBy(col("dsub").asc, col("cid").asc)
    val codes = svs.join(broadcast(seedsC), Seq("s"))
      .withColumn("dsub", round(
        col("svv") - lit(2.0) * dotC(col("sv"), col("sc")) + col("scc"), 6))
      .withColumn("rk", row_number().over(wCode))
      .filter(col("rk") === 1)
      .select("vec_id", "s", "cid")
    // query-to-center distance table (qid, s, cid) — the ADC lookup table
    val qd = svs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("s"),
        col("sv").as("qsv"), col("svv").as("qsvv"))
      .join(broadcast(seedsC), Seq("s"))
      .withColumn("qdsub", round(
        col("qsvv") - lit(2.0) * dotC(col("qsv"), col("sc")) + col("scc"), 6))
      .select("qid", "s", "cid", "qdsub")
    // ADC = fixed-order sum of the m per-subspace lookups (each when-sum
    // sees exactly one non-null row, so no engine-order float hazard)
    val perSub = (0 until m).map(i =>
      sum(when(col("s") === i, col("qdsub"))).as(s"d_$i"))
    val adist = codes.join(broadcast(qd), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(perSub.head, perSub.tail: _*)
      .withColumn("adist", round(
        (0 until m).map(i => col(s"d_$i")).reduceLeft(_ + _), 6))
    val wPq = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id").asc)
    val pqSys = adist.withColumn("rank_s", row_number().over(wPq))
      .filter(col("rank_s") <= k)
      .select("qid", "vec_id", "rank_s")

    // --- shared metric fold over the three system rankings --------------
    val sys = lshSys.withColumn("index_kind", lit("lsh"))
      .unionByName(ivfSys.withColumn("index_kind", lit("ivf")))
      .unionByName(pqSys.withColumn("index_kind", lit("pq")))
    val hits = sys.join(truth.withColumn("hit", lit(1)),
      Seq("qid", "vec_id"), "left")
    val mt = hits.groupBy("index_kind", "qid").agg(
      count(lit(1)).as("n_sys"),
      sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"),
      min(when(col("hit") === 1, col("rank_s"))).as("first_rank"),
      sum(when(col("hit") === 1,
        expr("shiftleft(CAST(1 AS BIGINT), rank_s - 1)")).otherwise(0L)).as("mask"))
    val kindsDf = spark.createDataFrame(
      Seq("lsh", "ivf", "pq").map(Tuple1.apply)).toDF("index_kind")
    val filled = q.select("qid").crossJoin(broadcast(kindsDf))
      .join(mt, Seq("index_kind", "qid"), "left")
      .withColumn("n_sys", coalesce(col("n_sys"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("mask", coalesce(col("mask"), lit(0L)))
    val dcg = (1 to k).map(r =>
      s"(CASE WHEN (mask DIV ${1L << (r - 1)}) % 2 = 1 " +
        s"THEN 1.0 / log2(${r + 1}.0) ELSE 0.0 END)").mkString(" + ")
    val idcg = (1 to k).map(r => s"(1.0 / log2(${r + 1}.0))").mkString(" + ")
    filled
      .withColumn("recall", round(col("n_hits").cast("double") / k, 6))
      .withColumn("mrr", round(coalesce(
        lit(1.0) / col("first_rank").cast("double"), lit(0.0)), 6))
      .withColumn("ndcg", round(expr(s"($dcg) / ($idcg)"), 6))
      .select("index_kind", "qid", "n_sys", "n_hits", "recall", "mrr", "ndcg")
      .orderBy("index_kind", "qid")
  }
}
