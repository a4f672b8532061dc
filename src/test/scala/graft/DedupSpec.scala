package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different words about spark engines and distributed shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact Jaccard on shingles matches hand computation") {
    // docs 1 and 4 identical → jaccard 1.0; docs 1 and 2 (14 words → 12
    // trigrams) differ in the last word → 11 shared, union 13
    val pairs = Dedup.jaccardPairs(Dedup.shingles(docs), 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(math.abs(pairs((1L, 4L)) - 1.0) < 1e-9)
    assert(math.abs(pairs((1L, 2L)) - 11.0 / 13) < 1e-9)
    assert(!pairs.contains((1L, 3L)))
  }

  test("minhash LSH recovers the planted near-dup and exact-dup pairs") {
    val found = Dedup.minhashNearDups(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 4L)))
    assert(found.contains((1L, 2L)))
    assert(!found.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: identical docs collide at hamming 0, unrelated docs don't pair") {
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhash banding catches near-dups whose differing bits are in the top band") {
    // hamming(a,b)=2, both differing bits inside bits 48..63: the old
    // top-16-prefix blocking could never pair these; bands 0-2 still agree.
    val base = 0x5a5a1234abcd9876L
    val sim = Seq(
      (10L, base),
      (11L, base ^ (1L << 60) ^ (1L << 50)),
      (12L, ~base) // far from both
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairs(sim, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((10L, 11L)) == 2)
    assert(pairs.size == 1)
  }

  test("row-local signature array is in lockstep with the batch signature path") {
    // the streaming monitor's per-row signature must equal the batch
    // explode/groupBy signature component-for-component — same seeded
    // hashes, same minima — or the stream and its batch flavor drift
    val rowLocal = docs
      .select(col("doc_id"), Dedup.minhashSignatureArray(col("text"), 8).as("sigv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batch = Dedup.minhashSignatures(Dedup.shingles(docs), 8)
      .collect()
      .map(r => r.getLong(0) -> (0 until 8).map(i => r.getLong(i + 1)))
      .toMap
    assert(rowLocal == batch)
    // short text (< 3 words): no shingles → NULL signature, matching the
    // batch path's absence of signature rows
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(Dedup.minhashSignatureArray(col("text"), 8).as("sigv")).head()
    assert(short.isNullAt(0))
    // estimated pairs: identical docs 1/4 at est 1.0 in every band;
    // unrelated doc 3 pairs with nothing
    val est = Dedup.estimatedNearDupPairs(
        docs.withColumn("ts", timestamp_millis(col("doc_id") * 1000L)),
        numPerm = 8, minSim = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(est.count(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0) == 4)
    assert(!est.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exactDedup keeps the lowest doc_id per content hash") {
    val kept = Dedup.exactDedup(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("incrementalNearDupAdmit rejects corpus near-copies, admits novel docs") {
    def prose(tag: String): String =
      (0 until 12).map(j => s"the $tag ship $j sails beyond the cold dark sea " +
        s"and the crew of the $tag sings in verse $j").mkString(" ")
    val corpus = Seq((1L, prose("silver")), (2L, prose("golden")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, prose("silver") + " one extra trailing clause"), // near-copy of 1
      (102L, prose("crimson"))) // novel
      .toDF("doc_id", "text")
    val admitted = Dedup.incrementalNearDupAdmit(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(102L))
    // empty corpus admits everything
    val all = Dedup.incrementalNearDupAdmit(batch, corpus.filter(lit(false)))
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(101L, 102L))
  }

  test("DF pruning drops boilerplate-only pairs but keeps true near-dups") {
    val boiler = "click here to subscribe to our newsletter today friends"
    // 6 docs share only the boilerplate 3-grams (df=6); docs 20/21 also
    // share rare content and are true near-dups.
    val corpus = ((10L to 15L).map(i => (i, s"$boiler unique token$i tail$i end$i")) ++
      Seq((20L, s"$boiler the rare silver fox runs through the misty valley"),
          (21L, s"$boiler the rare silver fox runs through the misty valley again")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(corpus)
    val pruned = Dedup.jaccardPairsDfPruned(sh, 0.01, maxDf = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // boilerplate-only pairs (any pair among 10..15) are gone entirely
    assert(pruned.forall { case (a, b) => !(a <= 15 && b <= 15) })
    // the true near-dup pair survives on its rare shingles
    assert(pruned.contains((20L, 21L)))
    // with the cap above every df, pruning is the identity
    val all = Dedup.jaccardPairs(sh, 0.01)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val noCap = Dedup.jaccardPairsDfPruned(sh, 0.01, maxDf = 1000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(noCap == all)
  }

  /** The string-keyed formulation the dense-id kernel replaced: sizes,
    * the inverted-index self-join and the pair count on the shingle
    * strings, the df prune as a shingle-keyed join. */
  private def referencePairs(sh: DataFrame, minJaccard: Double,
                             maxDf: Option[Long]): DataFrame = {
    val kept = maxDf.fold(sh) { c =>
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      sh.join(df.filter(col("df") <= c).select("shingle"), "shingle")
    }
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    kept.as("x").join(kept.as("y"), "shingle")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  private def sortedRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  /** Planted corpus: shingles in 4 documents ("aa bb cc", "dd ee ff"),
    * in 3 ("bb cc dd", "gg hh ii") and in 2 ("hh ii one") around a cap of
    * 3, exact duplicates, one-shingle documents, empty and null text, and
    * sparse doc ids near 2^62 and Long.MaxValue. */
  private val planted = {
    val big = 1L << 62
    Seq[(Long, String)](
      (big + 7, "aa bb cc dd ee ff gg hh ii one two three"),
      (big + 1000003, "aa bb cc dd ee ff gg hh ii one two three"),
      (5L, "aa bb cc dd ee ff four five six seven"),
      (big + 99, "aa bb cc eight nine ten"),
      (Long.MaxValue - 2, "gg hh ii"),
      (11L, "solo shingle here"),
      (12L, "solo shingle here"),
      (13L, ""),
      (14L, null),
      (15L, "two words"),
      (big, "dd ee ff gg hh")
    ).toDF("doc_id", "text")
  }

  test("dense-id Jaccard matches the string-keyed formulation row for row") {
    val sh = Dedup.shingles(planted)
    // a raw shingle table with a NULL shingle, a NULL doc_id and a
    // repeated (doc, shingle) row: the kernel keeps the string joins'
    // multiset and NULL semantics, not just those of shingles()' output
    val raw = Seq[(java.lang.Long, String)](
      (1L, "a"), (1L, "b"), (1L, null), (2L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, null), (null, "a"), (null, "c"), (4L, "c"))
      .toDF("doc_id", "shingle")
    try {
      for (in <- Seq(sh, raw); minJ <- Seq(0.0, 0.3)) {
        assert(sortedRows(Dedup.jaccardPairs(in, minJ)) ==
          sortedRows(referencePairs(in, minJ, None)))
        for (cap <- Seq(1L, 2L, 3L, 4L, 1000L))
          assert(sortedRows(Dedup.jaccardPairsDfPruned(in, minJ, cap)) ==
            sortedRows(referencePairs(in, minJ, Some(cap))), s"maxDf=$cap minJaccard=$minJ")
      }
      // the planted cases are present: duplicates at 1.0, one-shingle
      // duplicates, and the above-cap shingle pruned at cap 3
      val all = sortedRows(Dedup.jaccardPairs(sh, 0.0)).map(r => (r._1, r._2) -> r._3).toMap
      assert(all((11L, 12L)) == 1L)
      assert(all(((1L << 62) + 7, (1L << 62) + 1000003)) == 10L)
      val capped = sortedRows(Dedup.jaccardPairsDfPruned(sh, 0.0, 3))
        .map(r => (r._1, r._2) -> r._3).toMap
      // 5 and 2^62+7 share "aa bb cc" and "dd ee ff" (df 4, pruned) and
      // "bb cc dd" and "cc dd ee" (df 3, kept)
      assert(all((5L, (1L << 62) + 7)) == 4L && capped((5L, (1L << 62) + 7)) == 2L)
      assert(!capped.contains((5L, (1L << 62) + 99))) // shared only "aa bb cc"
    } finally graft.ops.Caches.releaseAll()
  }

  test("the Jaccard kernel joins and caches longs, never shingle strings") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.types.{LongType, StringType}
    val helper = new AdaptiveSparkPlanHelper {}
    val outs = Seq(
      Dedup.jaccardPairs(Dedup.shingles(planted), 0.0),
      Dedup.jaccardPairsDfPruned(Dedup.shingles(planted), 0.0, 3),
      graft.llm.Curation.dedupClusters(planted, 0.3, None),
      graft.llm.Curation.dedupClusters(planted, 0.3))
    try outs.foreach { out =>
      out.collect()
      val plan = out.queryExecution.executedPlan
      val keys = helper.collectWithSubqueries(plan) {
        case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      }.flatten
      assert(keys.nonEmpty && keys.forall(_.dataType == LongType), plan.toString)
      val cached = helper.collectWithSubqueries(plan) {
        case s: InMemoryTableScanExec => s.relation.output
      }.flatten
      assert(!cached.exists(a => a.name == "shingle" || a.dataType == StringType),
        plan.toString)
    } finally graft.ops.Caches.releaseAll()
  }

  test("shingle ids are injective and the same on every evaluation") {
    val sh = Dedup.shingles(planted)
    for (cap <- Seq(None, Some(3L))) {
      def once() = Dedup.shingleIds(sh, cap).as[(Long, Long)].collect().toSet
      val ids = once()
      assert(ids == once())
      // one id per distinct shingle: the (doc, id) pairs map back onto
      // the (doc, shingle) pairs one for one
      val names = sh.as[(Long, String)].collect().groupBy(_._2).view
        .mapValues(_.map(_._1).toSet).toMap
        .filter { case (_, d) => cap.forall(d.size <= _) }
      val byId = ids.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      assert(byId.size == names.size)
      assert(byId.values.toSet == names.values.toSet)
    }
  }

  test("removeDuplicateSpans: keep-first span removal with interval union") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),   // corpus-first owner of every span
      (2L, "x y c d e f z"),     // embeds doc 1's [c..f] via 2 OVERLAPPING 3-grams
      (3L, "p q r s t"),         // clean
      (4L, "a b c d e f g h"),   // exact copy — removed entirely
      (5L, "m n o m n o")        // within-doc repeat only → NOT cross-doc dup
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: every occurrence is corpus-first → fully kept
    assert(out(1L) == ((8L, 0L, 8L, "a b c d e f g h")))
    // doc 2: spans "c d e"@3 and "d e f"@4 union to positions 3..6 —
    // four tokens removed ONCE despite the overlap
    assert(out(2L) == ((7L, 4L, 3L, "x y z")))
    // doc 3 untouched
    assert(out(3L) == ((5L, 0L, 5L, "p q r s t")))
    // doc 4: every 3-gram is a later occurrence of doc 1's → all removed
    assert(out(4L) == ((8L, 8L, 0L, "")))
    // doc 5: "m n o" repeats only WITHIN the doc — d09's cross-doc
    // criterion (count(DISTINCT doc_id) >= 2) leaves it intact
    assert(out(5L) == ((6L, 0L, 6L, "m n o m n o")))
  }

  test("removeDuplicateSpans: per-span targeting, NOT a global survival guarantee") {
    // the scaladoc's fragmentation example as executable truth: "q r s" is
    // corpus-first in doc 1, so doc 2's occurrence is masked — and that
    // mask covers positions 1..3 of doc 2, destroying "r s t"'s OWN
    // corpus-first occurrence (doc 2 @ 2). "r s t" survives nowhere.
    val corpus = Seq(
      (1L, "p q r s"),
      (2L, "q r s t"),
      (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out(1L) == "p q r s")          // all spans corpus-first here
    assert(out(2L) == "t")                // "q r s" mask covers 1..3
    assert(out(3L) == "")                 // every span duplicated earlier
    // the invariant that does NOT hold: no document retains "r s t"
    assert(out.values.forall(!_.contains("r s t")))
  }

  test("winnowing: shift-invariant fingerprints, containment, determinism") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      // same text behind a position-shifting prefix — every window of
      // doc 1 exists (shifted) in doc 2, so doc 1's selected fingerprint
      // VALUES must be a subset of doc 2's (winnowing selects by window
      // content, not position)
      (2L, "prefix shift marker the quick brown fox jumps over the lazy dog near the river"),
      (3L, "entirely unrelated words about catalyst plans and shuffles")
    ).toDF("doc_id", "text")
    def run() = Dedup.winnowFingerprints(corpus, k = 5)
      .select("doc_id", "fp").as[(Long, Long)].collect()
    val sel = run().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sel(1L).nonEmpty && sel(3L).nonEmpty)
    assert(sel(1L).subsetOf(sel(2L)))
    // unrelated docs share nothing (60-bit hashes; no common 5-grams of note)
    assert((sel(1L) intersect sel(3L)).isEmpty)
    // seedless md5 hashes + deterministic tie rule → bit-identical reruns
    assert(run().sorted.toSeq == run().sorted.toSeq)
  }
}
