package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Curation
import graft.ops.{Graph, SizeGate}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** The distributed label-propagation path, at any size. */
  private def distributedComponents(edges: DataFrame, verts: DataFrame) =
    SizeGate.pinned("Graph.connectedComponents" -> SizeGate.Distributed)(
      Graph.connectedComponents(edges, verts))

  test("connected components labels chains, pairs and singletons") {
    // graph: 1-2-3 chain, 5-4 pair (reversed direction), 6 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("doc_a", "doc_b")
    val verts = (1L to 6L).toDF("doc_id")
    val got = Graph.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("connected components converges on a long chain within maxIter") {
    val n = 40L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val verts = (1L to n).toDF("doc_id")
    // the distributed label-propagation path
    val got = distributedComponents(edges, verts)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 1L))
  }

  test("connected components survives hashed 64-bit ids (no Long-sum overflow)") {
    // magnitudes ~1e18, mixed sign — a Long sum of these overflows (and
    // throws under ANSI); the decimal-sum convergence check must not.
    val base = 4000000000000000000L
    val ids = Seq(base, base - 7, -base, -base + 11, base - 1000)
    val edges = Seq((ids(0), ids(1)), (ids(2), ids(3))).toDF("doc_a", "doc_b")
    val verts = ids.toDF("doc_id")
    val got = distributedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap
    assert(got(ids(0)) == ids(1) && got(ids(1)) == ids(1)) // min of the pair
    assert(got(ids(2)) == ids(2) && got(ids(3)) == ids(2))
    assert(got(ids(4)) == ids(4)) // untouched singleton
  }

  test("stratified sample takes min(quota, stratum size) deterministically") {
    val df = (1L to 25L).map(i => (i, if (i <= 20) "big" else "small"))
      .toDF("doc_id", "source")
    val s1 = Curation.stratifiedSample(df, "source", "doc_id", 8)
      .as[(Long, String)].collect().sorted.toSeq
    val s2 = Curation.stratifiedSample(df, "source", "doc_id", 8)
      .as[(Long, String)].collect().sorted.toSeq
    assert(s1 == s2) // seedless determinism: same rows every run
    val bySrc = s1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc == Map("big" -> 8, "small" -> 5)) // 5 rows < quota → all kept
  }

  test("quantile profile approx path tracks the exact path") {
    val df = (1L to 2000L).map(i => (if (i % 2 == 0) "a" else "b", (i % 97).toDouble))
      .toDF("lang", "score")
    val exact = Curation.quantileProfile(df, "lang", "score")
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val approx = SizeGate.pinned("Curation.quantileProfile" -> SizeGate.Distributed)(
      Curation.quantileProfile(df, "lang", "score"))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for (k <- Seq("a", "b"); i <- 0 until 3) {
      val e = exact(k).productElement(i).asInstanceOf[Double]
      val a = approx(k).productElement(i).asInstanceOf[Double]
      assert(math.abs(e - a) <= 2.0, s"$k q$i exact=$e approx=$a") // t-digest on 1k rows is near-exact
    }
  }

  test("decontamination flags a planted benchmark copy and not clean docs") {
    val bench = Seq((100L, "the secret benchmark question about ancient rivers and mountain passes"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "the secret benchmark question about ancient rivers and mountain passes rephrased"),
      (2L, "totally unrelated training text mentioning spark shuffles and joins only")
    ).toDF("doc_id", "text")
    val got = Curation.decontaminate(train, bench, minOverlap = 3)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(got(1L) && !got(2L))
  }

  test("mixture sampling is nested across budgets and respects full-keep sources") {
    val docs = (1L to 400L).map(i =>
      (i, if (i <= 300) "big" else "small", "some text of a handful tokens here"))
      .toDF("doc_id", "source", "text")
    val small = Curation.mixtureSample(docs, Seq(("big", 0.5), ("small", 0.5)), 500L)
      .select("doc_id").as[Long].collect().toSet
    val large = Curation.mixtureSample(docs, Seq(("big", 0.5), ("small", 0.5)), 1500L)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large)) // nested: a larger budget only adds docs
    // "small" source: 100 docs × 7 tokens = 700 < 1500·0.5 → frac 1, all kept
    assert((301L to 400L).forall(large.contains))
    // "big" source: 300 docs × 7 tokens = 2100 > 750 → downsampled
    assert(large.count(_ <= 300) < 300 && large.count(_ <= 300) > 0)
  }

  test("incremental dedup drops corpus-known and within-batch duplicate content") {
    val corpus = Seq((100L, "existing corpus document about rivers")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "Existing corpus document about RIVERS!"), // known (normalizes equal)
      (2L, "genuinely new content first copy"),
      (3L, "genuinely   new content FIRST copy"), // within-batch dup of 2
      (4L, "another new doc entirely")
    ).toDF("doc_id", "text")
    val kept = Curation.incrementalDedup(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("best-of-cluster keeps the highest-scoring member") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today and more of the usual text to extend it"),
      (3L, "unrelated standalone document")
    ).toDF("doc_id", "text")
    // score = text length (longer near-dup wins)
    val got = Curation.bestOfCluster(docs, length(col("text")).cast("double"))
      .select("cluster", "kept_doc").as[(Long, Long)].collect().toMap
    assert(got(1L) == 2L) // cluster {1,2} keeps the longer doc 2
    assert(got(3L) == 3L)
  }

  test("dedupClusters df guard: no-op above max df, prunes boilerplate below it") {
    // 6 docs sharing one boilerplate sentence (its shingles have df = 6);
    // docs 1/2 are additionally genuine near-dups through unique content.
    val boiler = "subscribe to our newsletter for updates every single day"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta. $boiler"),
      (2L, s"alpha beta gamma delta epsilon zeta eta theta iota. $boiler"),
      (3L, s"completely different content about mountain weather patterns. $boiler"),
      (4L, s"a treatise on medieval agriculture and crop rotation cycles. $boiler"),
      (5L, s"notes from the harbor master regarding tide tables. $boiler"),
      (6L, s"recipe for sourdough bread with a long fermentation. $boiler")
    ).toDF("doc_id", "text")
    def clusters(maxDf: Option[Long]) =
      Curation.dedupClusters(docs, minJaccard = 0.5, maxDf)
        .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    // cap >= max df: bit-identical to the unguarded exact path
    assert(clusters(Some(100L)) == clusters(None))
    // cap below the boilerplate df: the shared-boilerplate shingles are
    // pruned from BOTH the pair join and the Jaccard sizes, so only the
    // genuine near-dup pair {1,2} still clears 0.5
    val guarded = clusters(Some(5L))
    assert(guarded(1L) == guarded(2L))
    assert(Seq(3L, 4L, 5L, 6L).map(guarded).distinct.size == 4)
  }

  test("exact-Jaccard cluster entry points are guarded by default (r8)") {
    // The r7/r8 64x sweeps proved the unguarded df² fan-out OOMs a
    // default heap on a mass-duplicated corpus, so dedupClusters/
    // bestOfCluster/curationPipeline default to the AUTO cap (derived
    // from the measured duplication factor — no FIXED cap survives both
    // the lose-genuine-dups cliff and the junk fan-out); None is the
    // explicit escape hatch (c01/c07 oracles pass it). Pin the default's
    // value, the resolution rule, and that a defaulted call equals the
    // equivalent explicit cap — a future edit can't silently flip the
    // default back to unguarded.
    assert(Curation.DefaultMaxDf == Some(Curation.AutoMaxDf))
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "completely different content about mountain weather patterns")
    ).toDF("doc_id", "text")
    // undupicated corpus: dupFactor 1 → the 256 floor binds
    assert(Curation.resolveMaxDf(docs, Curation.DefaultMaxDf) == Some(256L))
    assert(Curation.resolveMaxDf(docs, None).isEmpty)
    assert(Curation.resolveMaxDf(docs, Some(7L)) == Some(7L))
    val defaulted = Curation.dedupClusters(docs, minJaccard = 0.5)
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    val explicit = Curation.dedupClusters(docs, minJaccard = 0.5,
        maxDf = Some(256L))
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert(defaulted == explicit)
    assert(defaulted(1L) == defaulted(2L) && defaulted(3L) == 3L)
  }

  test("auto df cap scales with measured duplication: genuine replica clusters survive, boilerplate is pruned") {
    // 20 base docs, each near-duplicated 70x (distinct replica suffix —
    // exact dedup would NOT collapse these), every doc carrying one
    // corpus-wide boilerplate sentence. Duplication factor ≈ 70 (the
    // 256-char prefix collapses replicas) → derived cap = max(256, 280)
    // = 280: genuine replica shingles (df = 70) are KEPT — a sweep at
    // ANY replication level keeps df = reps ≤ 4·reps — while the
    // boilerplate shingles (df = 1400 > 280) are pruned from the join,
    // the fan-out family the r7/r8 sweeps measured as the OOM. The
    // clusters must come out exactly base-shaped.
    // 30 body words ≈ 350 chars push the replica marker PAST the 256-char
    // prefix window, so prefixes collapse replicas (the duplication the
    // estimator is built to see) while the full texts stay distinct
    val boiler = "subscribe to the corpus newsletter for daily updates and announcements"
    val docs = (0 until 20).flatMap { b =>
      val body = (0 until 30).map(w => s"base${b}word$w").mkString(" ")
      (0 until 70).map { r =>
        ((b * 1000 + r).toLong, s"$body. $boiler. replica marker $r")
      }
    }.toDF("doc_id", "text")
    val cap = Curation.resolveMaxDf(docs, Curation.DefaultMaxDf).get
    assert(cap > 256L && cap < 1400L,
      s"derived cap $cap must exceed the floor (duplication measured), " +
        "keep genuine df=70, and prune boilerplate df=1400")
    val got = Curation.dedupClusters(docs, minJaccard = 0.5)
      .select("doc_id", "cluster").as[(Long, Long)].collect()
    graft.ops.Caches.releaseAll()
    // every replica of base b clusters with base b's representative
    val byBase = got.groupBy(_._1 / 1000)
    assert(byBase.size == 20)
    byBase.foreach { case (b, rows) =>
      assert(rows.map(_._2).distinct.length == 1,
        s"base $b fragmented: ${rows.map(_._2).distinct.toSeq}")
      assert(rows.length == 70)
    }
    // and no two bases merge through the shared boilerplate
    assert(got.map(_._2).distinct.length == 20)
  }

  test("sequence packing respects capacity, covers every doc, and is BFD-tight") {
    val docs = (1L to 200L).map(i => (i, ("word " * (i % 37 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val packed = Curation.packSequences(docs, capacity = 100, numPartitions = 4)
      .collect()
    assert(packed.map(_.doc_id).sorted.toSeq == (1L to 200L)) // exactly once
    val byBin = packed.groupBy(_.bin_id).map { case (_, ds) => ds.map(_.tokens).sum }
    assert(byBin.forall(_ <= 100)) // no oversized docs here → hard cap holds
    // BFD utilization: total bins can't exceed 2×(total tokens / capacity)+parts
    val totalTokens = packed.map(_.tokens).sum
    val nBins = packed.map(_.bin_id).distinct.length
    assert(nBins <= 2 * totalTokens / 100 + 4)
  }

  test("connected components on an empty edge list returns all singletons") {
    val edges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val verts = (1L to 5L).toDF("doc_id")
    val got = Graph.connectedComponents(edges, verts).as[(Long, Long)].collect().toMap
    assert(got == (1L to 5L).map(i => i -> i).toMap)
  }

  test("connected components drop edges with a null endpoint on both paths") {
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (None, None)).toDF("doc_a", "doc_b")
    val verts = (1L to 4L).toDF("doc_id")
    val local = Graph.connectedComponents(edges, verts)
    val dist = distributedComponents(edges, verts)
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L)
    assert(local.as[(Long, Long)].collect().toMap == expected)
    assert(dist.as[(Long, Long)].collect().toMap == expected)
    assert(local.schema == dist.schema)
  }

  test("connected components fails loudly when maxIter is exhausted") {
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val verts = (1L to 10L).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponentsLoop(edges, verts, maxIter = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("leakage-free split degenerate fractions: all val / all train") {
    val docs = Seq((1L, "alpha beta gamma delta words here"),
      (2L, "other totally different tokens")).toDF("doc_id", "text")
    val allVal = Curation.leakageFreeSplit(docs, valFrac = 1.0)
      .select("split").as[String].collect()
    assert(allVal.forall(_ == "val"))
    val allTrain = Curation.leakageFreeSplit(docs, valFrac = 0.0)
      .select("split").as[String].collect()
    assert(allTrain.forall(_ == "train"))
  }

  test("connected components matches brute-force union-find on random graphs") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)((rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
        .filter(e => e._1 != e._2)
      // brute-force union-find ground truth
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map(i => i.toLong -> find(i).toLong).toMap
      // both size-dispatch paths must match the ground truth bit-for-bit
      val local = Graph.connectedComponents(
          edges.toDF("doc_a", "doc_b"), (1L to n.toLong).toDF("doc_id"))
        .as[(Long, Long)].collect().toMap
      val dist = distributedComponents(
          edges.toDF("doc_a", "doc_b"), (1L to n.toLong).toDF("doc_id"))
        .as[(Long, Long)].collect().toMap
      assert(local == expected)
      assert(dist == expected)
    }
  }

  test("leakage-free split keeps near-duplicates on the same side") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark engines and distributed shuffles here")
    ).toDF("doc_id", "text")
    val got = Curation.leakageFreeSplit(docs, valFrac = 0.5)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got(1L) == got(2L)) // same cluster → same side, whatever side it is
    assert(got.size == 3)
  }

  test("repetition profile counts duplicate trigrams") {
    // "a b c a b c a b c": 9 words → 7 trigrams, 3 distinct → ratio 4/7
    val docs = Seq((1L, "a b c a b c a b c"), (2L, "all unique words here now"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.repetitionProfile(docs)
      .select("doc_id", "n_grams", "n_distinct", "rep_ratio")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 7L, 3L, 4.0 / 7)))
    assert(got(2L) == ((2L, 3L, 3L, 0.0)))
  }

  test("weightedSample is deterministic and favors heavy weights") {
    val docs = ((1L to 200L).map(i => (i, 1.0)) :+ (999L, 1e9)).toDF("doc_id", "w")
    def run() = Curation.weightedSample(docs, col("w"), k = 20)
      .select("doc_id").as[Long].collect().toSeq
    val got = run()
    assert(got.size == 20)
    assert(got == run()) // seedless md5 keys → identical across runs
    assert(got.contains(999L), "a 1e9x weight must dominate the sample")
  }

  test("curationPipeline removes dup/near-dup/low-quality/contaminated docs end-to-end") {
    import graft.ops.Pipelines
    def prose(tag: String, reps: Int): String =
      (0 until reps).map(j => s"the quick brown $tag fox $j jumps over the lazy dog " +
        s"and the story of the $tag is told in text $j").mkString(" ")
    val benchSentence = "the secret benchmark evaluation question about seven distant planets"
    val docs = Seq(
      (10L, prose("alpha", 10)),                             // clean, survives
      (11L, prose("alpha", 10)),                             // exact dup of 10 → dropped
      (12L, prose("alpha", 8)),                              // near-dup, shorter/lower quality → dropped
      (13L, Seq.fill(40)("zz").mkString(" ")),               // low quality → dropped
      (14L, (0 until 8).map(j => s"the silver ship $j sails beyond the cold dark " +
        s"sea and the crew of the ship sings in verse $j").mkString(" ") +
        " " + benchSentence),                                // contaminated → dropped
      (15L, (0 until 10).map(j => s"a wise old turtle $j walks across the wide " +
        s"green field and carries a tale of rivers in line $j").mkString(" "))
    ).toDF("doc_id", "text")
    val bench = Seq((0L, benchSentence)).toDF("doc_id", "text")
    val out = Pipelines.curationPipeline(docs, bench).collect()
    assert(out.map(_.getLong(0)).toSet == Set(10L, 15L),
      s"survivors: ${out.map(_.getLong(0)).toSet}")
    // every chunk landed in a bin, capacity respected per bin
    val binTotals = out.groupBy(_.getLong(3)).view.mapValues(_.map(_.getLong(2)).sum)
    binTotals.foreach { case (bin, total) =>
      assert(total <= 512 || out.count(_.getLong(3) == bin) == 1, s"bin $bin over capacity")
    }
  }

  test("curationPipeline funnel observes per-stage counts without extra actions") {
    import graft.ops.Pipelines
    def prose(tag: String, reps: Int): String =
      (0 until reps).map(j => s"the quick brown $tag fox $j jumps over the lazy dog " +
        s"and the story of the $tag is told in text $j").mkString(" ")
    val benchSentence = "the secret benchmark evaluation question about seven distant planets"
    val docs = Seq(
      (10L, prose("alpha", 10)),
      (11L, prose("alpha", 10)),               // exact dup → dropped at stage 1
      (13L, Seq.fill(40)("zz").mkString(" ")), // low quality → dropped at stage 2
      (14L, (0 until 8).map(j => s"the silver ship $j sails beyond the cold dark " +
        s"sea and the crew of the ship sings in verse $j").mkString(" ") +
        " " + benchSentence)                   // contaminated → dropped at stage 3
    ).toDF("doc_id", "text")
    val bench = Seq((0L, benchSentence)).toDF("doc_id", "text")
    val funnel = new Pipelines.CurationFunnel
    Pipelines.curationPipeline(docs, bench, funnel = Some(funnel)).collect()
    // listener delivery is async — poll briefly
    val expected = Map(
      "after_exact_dedup" -> 3L,        // 11 dropped
      "after_quality_gate" -> 2L,       // 13 dropped
      "after_decontamination" -> 1L)    // 14 dropped; 10 survives
    val deadline = System.nanoTime() + 10000000000L
    while (funnel.summary != expected && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(funnel.summary == expected)
  }

  test("compression ratio ranks boilerplate far below varied prose, deterministically") {
    val boiler = Seq.fill(60)("buy now limited offer").mkString(" ")
    val varied = (1 to 60).map(i => s"sentence $i carries fresh token x$i").mkString(" ")
    val docs = Seq((1L, boiler), (2L, varied)).toDF("doc_id", "text")
    def run() = graft.llm.TextAnalysis.compressionRatio(docs)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val got = run()
    assert(got(0)._4 < 0.2, s"boilerplate ratio ${got(0)._4}")   // compresses hard
    assert(got(1)._4 > got(0)._4 * 3, s"varied ratio ${got(1)._4}")
    assert(got.map(_._2).sameElements(Array(boiler.length.toLong, varied.length.toLong)))
    assert(run().toSeq == got.toSeq) // bit-stable across runs
  }

  test("oversized docs get singleton bins") {
    val docs = Seq((1L, ("tok " * 50).trim), (2L, ("tok " * 3).trim))
      .toDF("doc_id", "text")
    val packed = Curation.packSequences(docs, capacity = 10, numPartitions = 1).collect()
    val oversizedBin = packed.find(_.doc_id == 1L).get.bin_id
    assert(packed.count(_.bin_id == oversizedBin) == 1)
  }

  test("shuffleShards: a reproducible permutation with contiguous per-shard positions") {
    val docs = (1L to 200L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = Curation.shuffleShards(docs, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // same result on a different input partitioning (partition-order blind)
    val b = Curation.shuffleShards(docs.repartition(7), nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sorted.toSeq == b.sorted.toSeq)
    assert(a.map(_._1).toSet == (1L to 200L).toSet, "every doc placed exactly once")
    // positions are 1..size within every shard
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.size).toSeq,
        s"shard $shard positions not contiguous")
    }
    // hash-uniform-ish: no shard hoards the corpus
    assert(a.groupBy(_._2).values.map(_.size).max < 80)
  }

  test("chunkDocuments covers every token with the declared overlap") {
    // 12 tokens, chunk 5, stride 3 → ceil((12-5)/3)+1 = 4 chunks
    val words = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words), (2L, "a b c")).toDF("doc_id", "text")
    val got = Curation.chunkDocuments(docs, chunkSize = 5, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_toks", "chunk")
      .as[(Long, Long, Long, String)].collect()
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._4).toSeq == Seq(
      "w1 w2 w3 w4 w5", "w4 w5 w6 w7 w8", "w7 w8 w9 w10 w11", "w10 w11 w12"))
    // short doc → one whole-doc chunk
    assert(got.filter(_._1 == 2L).map(_._4).toSeq == Seq("a b c"))
    // every source token appears in some chunk (full coverage)
    val covered = d1.flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 12).map(i => s"w$i").toSet)
  }

  test("c19 negative sampling: cross-source only, ≤4 per anchor, deterministic across runs") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val run1 = SparkEntry.queries("c19_negative_sampling")(spark, sf).collect()
    val run2 = SparkEntry.queries("c19_negative_sampling")(spark, sf).collect()
    assert(run1.map(_.toSeq).toSeq == run2.map(_.toSeq).toSeq, "not deterministic")
    assert(run1.nonEmpty)
    run1.groupBy(_.getLong(0)).foreach { case (anchor, rows) =>
      assert(rows.length <= 4)
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
      rows.foreach { r =>
        val neg = r.getLong(2)
        assert(neg != anchor)
        assert(docs(neg) != docs(anchor), s"anchor $anchor drew same-source negative $neg")
        assert(r.getString(3) == docs(neg))
      }
    }
  }

  test("c20 preference pairs: chosen strictly outscores rejected, same source, gap > 0.05") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("c20_preference_pairs")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (chosen, rejected) = (r.getLong(2), r.getLong(3))
      assert(chosen != rejected)
      val gap = r.getAs[Double]("gap")
      assert(gap > 0.05 - 1e-9)
      assert(math.abs(r.getAs[Double]("score_chosen")
        - r.getAs[Double]("score_rejected") - gap) < 2e-6)
    }
    // a doc appears at most once on each side within its source
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).distinct.length == rs.length)
      assert(rs.map(_.getLong(3)).distinct.length == rs.length)
    }
  }

  test("hashedImportanceWeights: target-vocab docs outrank off-target, exact and rerunnable") {
    import spark.implicits._
    // target domain speaks vocab A; the raw pool has one doc in vocab A
    // (should score high) and one in vocab B (should score low)
    val corpus = Seq(
      (1L, true, "alpha beta gamma delta epsilon alpha beta gamma"),
      (2L, true, "beta gamma delta epsilon alpha delta gamma beta"),
      (3L, false, "alpha beta gamma delta epsilon beta alpha gamma"),
      (4L, false, "zeta eta theta iota kappa zeta eta theta iota"),
      (5L, false, "   ") // zero tokens — must still get a (0, 0) row
    ).toDF("doc_id", "is_target", "text")
    val w = graft.llm.Curation
      .hashedImportanceWeights(corpus, col("is_target"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // n_feats = unigrams + bigrams: 8 tokens → 8 + 7 = 15
    assert(w(3L)._1 == 15L)
    assert(w(4L)._1 == 17L)
    // one row per INPUT doc: the zero-token doc scores (0, 0), not absent
    assert(w.size == 5)
    assert(w(5L) == ((0L, 0L)))
    // the target-like raw doc outranks the off-target one decisively
    assert(w(3L)._2 > w(4L)._2)
    assert(w(4L)._2 < 0L) // off-target vocab is target-improbable
    // seedless md5 buckets + integer contributions → bit-identical reruns
    val again = graft.llm.Curation
      .hashedImportanceWeights(corpus, col("is_target"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again == w)
  }
}
