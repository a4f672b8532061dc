package graft

import graft.llm.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** A Spearman kernel on its distributed plan at bigint width. */
  private def distributed[T](body: => T): T = graft.ops.SizeGate.pinned(
    "Analytic.spearman" -> graft.ops.SizeGate.Distributed,
    "Analytic.spearmanWidth" -> graft.ops.SizeGate.Local)(body)

  private val emb = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Seq(1.0f, 1.0f, 0.0f, 0.0f), 0), // cos with q = 1/sqrt(2)
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0), // cos 0
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f), 1) // cos -1, different sign bucket
  ).toDF("vec_id", "embedding", "label")

  test("cosineTopK ranks by exact cosine") {
    val got = Similarity.cosineTopK(emb, 0L, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(got(0)._2 - math.sqrt(0.5)) < 1e-5)
    assert(math.abs(got(1)._2) < 1e-9)
    assert(math.abs(got(2)._2 + 1.0) < 1e-9)
  }

  test("a zero-norm embedding ranks last, never NaN-first") {
    val withZero = emb.union(
      Seq((9L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val got = Similarity.cosineTopK(withZero, 0L, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // Spark sorts NaN above every value — the guard must pin cos(0-vec) to
    // -1 so the zero vector sorts last (ties with vec 3 broken by id)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(got.forall(!_._2.isNaN))
    assert(got.last._2 == -1.0)
  }

  test("lshTopK only scores the query's sign bucket") {
    val got = Similarity.lshTopK(emb, 0L)
      .select("vec_id").as[Long].collect().toSet
    // vec 3 has a negative first dim → different bucket → excluded
    assert(got.contains(1L) && !got.contains(3L))
  }

  test("ivfTopK finds the brute-force top hit on real embeddings") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.cosineTopK(real, 0L, 1).head().getLong(0)
    val ivf = Similarity.ivfTopK(real, 0L, 5, nlist = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.contains(brute), s"IVF candidates $ivf miss brute-force top $brute")
  }

  test("pqTopK: near-perfect recall on planted clusters") {
    // 16 tight blobs on the unit sphere — the regime PQ is built for.
    // Deterministic: fixed-seed generation, fixed-seed codebooks.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(16)(unit())
    val rows = (0 until 480).map { i =>
      val c = centers(i % 16)
      val p = c.zip(unit()).map { case (a, e) => (a + 0.05 * e).toFloat }
      (i.toLong, p.toSeq, i % 16)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val brute = Similarity.cosineTopK(df, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.pqTopK(df, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    graft.ops.Caches.releaseAll()
    val recall = brute.intersect(pq).size / 10.0
    assert(recall >= 0.9, s"planted recall@10 $recall < 0.9 (pq=$pq brute=$brute)")
  }

  test("pqTopK: beats random-chance recall on the near-random real embeddings") {
    // sf0.001 embeddings are ~isotropic (top-10 cosine ≈ 0.33 vs median
    // 0.01) — the worst case for vector quantization, so the bar here is
    // "far above chance" (chance recall@10 = 10/500 = 2%), not "high".
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.cosineTopK(real, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.pqTopK(real, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    graft.ops.Caches.releaseAll()
    val recall = brute.intersect(pq).size / 10.0
    assert(recall >= 0.3, s"PQ recall@10 $recall < 0.3 (pq=$pq brute=$brute)")
  }

  test("annEvalMetrics grades the three index kinds; ordering is ivf >= lsh >> pq on planted clusters") {
    // same 16-blob fixture as the pqTopK test. Expected ordering with the
    // eval's SEED-PINNED quantizers (centers = vecs 20..27, NOT Lloyd-
    // trained): ivf is near-perfect (cluster-mates co-assign to the same
    // coarse cell, and probing 2 of 8 cells keeps them), lsh is high
    // (tight blobs share their 4 leading signs), and pq is WEAK — 8
    // pinned centers per subspace cannot code 16 clusters, and ADC ranks
    // the whole corpus through that starved code space. This is a
    // property of pinning, not of PQ: the production Lloyd-trained
    // pqTopK achieves >= 0.9 recall on this exact corpus (test above),
    // which is why the oracle-able eval and the spec-graded production
    // path are both kept.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(16)(unit())
    val rows = (0 until 480).map { i =>
      val c = centers(i % 16)
      val p = c.zip(unit()).map { case (a, e) => (a + 0.05 * e).toFloat }
      (i.toLong, p.toSeq, i % 16)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val recalls = Similarity.annEvalMetrics(df, nQueries = 20, k = 10)
      .groupBy("index_kind")
      .agg(org.apache.spark.sql.functions.avg("recall").as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    graft.ops.Caches.releaseAll()
    assert(recalls.keySet == Set("lsh", "ivf", "pq"), s"kinds: $recalls")
    assert(recalls("ivf") >= 0.95, s"ivf recall ${recalls("ivf")} < 0.95")
    assert(recalls("lsh") >= 0.8, s"lsh recall ${recalls("lsh")} < 0.8")
    assert(recalls("ivf") >= recalls("lsh"), s"ordering: $recalls")
    assert(recalls("lsh") >= recalls("pq") + 0.2,
      s"pinned-codebook pq should trail clearly: $recalls")
    // starved or not, pq must still beat chance (10/480 ~ 2%) by 10x
    assert(recalls("pq") >= 0.2, s"pq recall ${recalls("pq")} < 0.2")
  }

  test("annEvalMetrics rejects k outside the bitmask-exact range") {
    intercept[IllegalArgumentException] {
      Similarity.annEvalMetrics(emb, nQueries = 2, k = 64)
    }
    intercept[IllegalArgumentException] {
      Similarity.annEvalMetrics(emb, nQueries = 2, k = 0)
    }
  }

  test("trainCenters dispatch: local below threshold (bit-equal to forced), distributed above beats a starved sample") {
    // 40 tight blobs on the unit sphere, dim 16, 100 points each = 4000
    // rows. Deterministic fixture (fixed-seed generation).
    val rnd = new scala.util.Random(11)
    def unit(dim: Int): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(40)(unit(16))
    val rows = (0 until 4000).map { i =>
      val c = centers(i % 40)
      (i.toLong, c.zip(unit(16)).map { case (a, e) => (a + 0.02 * e).toFloat }.toSeq, i % 40)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val unitDf = df.select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding",
        x => x.cast("double")).as("v"))
    // below threshold (maxTrain >= total): default == pinned local exactly
    def pinnedLocal[T](body: => T) =
      graft.ops.SizeGate.pinned("Similarity.trainCenters" -> graft.ops.SizeGate.Local)(body)
    val below = Similarity.trainCenters(unitDf, "v", 8, maxTrain = 5000L)
    val belowForced = pinnedLocal(Similarity.trainCenters(unitDf, "v", 8, maxTrain = 5000L))
    assert(below.map(_.toSeq).toSeq == belowForced.map(_.toSeq).toSeq)
    // above threshold: the distributed Spark ML fit sees every row; the
    // pinned-local path trains on a 16-point stride sample that cannot
    // witness 40 clusters. Quantization distortion (the k-means
    // objective, which bounds ADC/coarse-cell error — "index quality")
    // must not be worse than the starved sample's.
    val dist = Similarity.trainCenters(unitDf, "v", 16, maxTrain = 16L)
    val starved = pinnedLocal(Similarity.trainCenters(unitDf, "v", 16, maxTrain = 16L))
    graft.ops.Caches.releaseAll()
    assert(dist.length == 16 && starved.length == 16)
    val pts = rows.map(_._2.map(_.toDouble).toArray)
    def distortion(cs: Array[Array[Double]]): Double = pts.map { p =>
      cs.map { c =>
        var s = 0.0; var i = 0
        while (i < p.length) { val t = p(i) - c(i); s += t * t; i += 1 }
        s
      }.min
    }.sum / pts.length
    val (dDist, dStarved) = (distortion(dist), distortion(starved))
    assert(dDist <= dStarved,
      f"distributed-trained distortion $dDist%.5f worse than starved-local $dStarved%.5f")
  }

  test("pqTopK above the training threshold: distributed codebooks keep near-perfect recall") {
    // 4000 rows > 200*16 = 3200 ⇒ the per-subspace codebooks train via
    // the distributed Spark ML path; end-to-end ADC + re-rank recall must
    // hold just like the below-threshold planted-cluster test.
    val rnd = new scala.util.Random(13)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(16)(unit())
    val rows = (0 until 4000).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.zip(unit()).map { case (a, e) => (a + 0.05 * e).toFloat }.toSeq, i % 16)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    // rerank=30 ⇒ shortlist 300 ≥ the 250-member cluster: the distributed
    // codebooks code each blob onto ONE code word (ADC ties the whole
    // cluster exactly), so the shortlist must span the tie group for the
    // exact re-rank to recover the true top-10 — the documented two-stage
    // contract (quantization only costs recall when a true neighbor
    // misses the whole shortlist).
    val got = Similarity.pqTopK(df, 0L, 10, rerank = 30)
      .select("vec_id").as[Long].collect().toSet
    val brute = Similarity.cosineTopK(df, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    graft.ops.Caches.releaseAll()
    val recall = got.intersect(brute).size / 10.0
    assert(recall >= 0.9, s"distributed-trained pq recall $recall < 0.9")
  }

  test("annEvalMetrics pq guard: an indivisible vector dim fails loudly") {
    // dim 6 does not divide into annEvalMetrics's m = 4 subspaces — the
    // per-row raise_error guard (not silent truncation) must fire at
    // action time with the intended message. Pins the failure path the
    // r7 ADVICE flagged as untested.
    val bad = (0 until 20).map(i =>
      (i.toLong, Seq.fill(6)((i + 1).toFloat), 0)).toDF("vec_id", "embedding", "label")
    val ex = intercept[Throwable] {
      Similarity.annEvalMetrics(bad, nQueries = 2, k = 3).collect()
    }
    graft.ops.Caches.releaseAll()
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("must divide into 4 subspaces")),
      s"expected the pq divisibility message, got: ${messages(ex)}")
  }

  test("cosineNearDups blocks by the given column") {
    val pairs = Similarity.cosineNearDups(emb, "label", -2.0)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // only same-label pairs can appear
    assert(pairs.forall { case (a, b) => Set(a, b).subsetOf(Set(0L, 1L, 2L)) })
    assert(pairs.contains((0L, 1L)))
  }

  test("semanticDedup drops planted copies, keeps the lowest id, keeps originals") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // exact copies of vecs 0-4 — same vector ⇒ same k-means cell, cos = 1
    val planted = real.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding", $"label")
    val out = Similarity.semanticDedup(real.union(planted), ncells = 8, minCos = 0.995)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("dropped")),
          if (r.isNullAt(r.fieldIndex("kept_as"))) -1L
          else r.getLong(r.fieldIndex("kept_as"))))
      .toMap
    graft.ops.Caches.releaseAll()
    assert(out.size == real.count() + 5)
    (0L to 4L).foreach { i =>
      assert(out(i + 1000000) == ((true, i)),
        s"copy of $i should drop with keeper $i, got ${out(i + 1000000)}")
      assert(!out(i)._1, s"original $i must survive")
    }
    // the near-random real embeddings have no 0.995-cosine pairs of their
    // own — nothing else drops
    assert(out.count(_._2._1) == 5)
  }

  test("mmrRerank: first pick is the top-cosine hit, planted redundancy demotes") {
    // q = e1; vecs 1,2 nearly identical (cos(1,2) ≈ 0.99996), vec 3 equally
    // relevant but on the OTHER side of q (cos(1,3) ≈ 0.9802 — lower
    // redundancy). Pure relevance order: 1, 2, 3 (by id tie-break on the
    // rounded cos). MMR at λ=0.7 must pick 1 first, then prefer the
    // diverse 3 (0.7·0.995 − 0.3·0.9802) over the redundant near-copy 2
    // (0.7·0.994 − 0.3·0.99996).
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(1.0f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.11f, 0.0f, 0.0f), 0),
      (3L, Seq(1.0f, -0.1f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrRerank(e, queryId = 0L, k = 3, candidates = 10).collect()
    val order = got.sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    assert(order.head == 1L, s"first MMR pick must be the top-cosine hit: $order")
    assert(order == Seq(1L, 3L, 2L),
      s"redundant near-copy must be demoted below the diverse vec: $order")
    // rank-1 redundancy is 0 by definition; later picks carry max-sim to S
    val byRank = got.map(r => r.getInt(0) ->
      (r.getDouble(3), r.getDouble(4))).toMap
    assert(byRank(1)._1 == 0.0)
    assert(byRank(2)._1 > 0.0 && byRank(2)._1 < 1.0)
  }

  test("spearman kernels skip rows with a null sample id, local and distributed") {
    import graft.ops.Analytic
    val clean = (for (p <- 0 until 20; s <- 0 until 4) yield
      (f"p$p%03d", s"s$s", ((p * 7 + s * s * 3) % 11) / 11.0))
      .toDF("probe_id", "sample_id", "beta")
    val withNull = clean.union(Seq(("p000", null: String, 0.3), ("p001", null: String, 0.9))
      .toDF("probe_id", "sample_id", "beta"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("sa", "sb").collect().toSeq
    val expected = rows(Analytic.spearmanMatrix(clean, "probe_id", "sample_id", "beta"))
    assert(expected.nonEmpty)
    // the small input takes the driver-local path; the pin takes the distributed one
    assert(rows(Analytic.spearmanMatrix(withNull, "probe_id", "sample_id", "beta")) == expected)
    assert(rows(distributed(Analytic.spearmanMatrix(withNull, "probe_id", "sample_id",
      "beta"))) == expected)
    val thresholded = rows(Analytic.spearmanThresholded(clean, "probe_id", "sample_id",
      "beta", tau = 0.2))
    assert(rows(Analytic.spearmanThresholded(withNull, "probe_id", "sample_id",
      "beta", tau = 0.2)) == thresholded)
    assert(rows(distributed(Analytic.spearmanThresholded(withNull, "probe_id", "sample_id",
      "beta", tau = 0.2))) == thresholded)
    graft.ops.Caches.releaseAll()
  }

  test("spearman kernels skip rows with a null probe id, local and distributed") {
    import graft.ops.Analytic
    // the null-probe rows still take ranks in their samples, but they share
    // no probe: s0 and s1 must not gain a shared "null" probe on either path
    val df = (for (p <- 0 until 20; s <- 0 until 4) yield
      (f"p$p%03d", s"s$s", ((p * 7 + s * s * 3) % 11) / 11.0))
      .toDF("probe_id", "sample_id", "beta")
      .union(Seq((null: String, "s0", 0.3), (null: String, "s1", 0.9))
        .toDF("probe_id", "sample_id", "beta"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("sa", "sb").collect().toSeq
    val local = rows(Analytic.spearmanMatrix(df, "probe_id", "sample_id", "beta"))
    assert(local.nonEmpty && local.forall(_.getLong(2) == 20L))
    assert(rows(distributed(Analytic.spearmanMatrix(df, "probe_id", "sample_id",
      "beta"))) == local)
    assert(rows(Analytic.spearmanThresholded(df, "probe_id", "sample_id", "beta",
      tau = 0.2)) == rows(distributed(Analytic.spearmanThresholded(df, "probe_id",
      "sample_id", "beta", tau = 0.2))))
    graft.ops.Caches.releaseAll()
  }
}
