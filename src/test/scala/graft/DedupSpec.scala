package graft

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
