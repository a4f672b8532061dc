package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators, exact through near-dup. Scale design: every
  * pairwise step is blocked — candidates only ever meet through a join key
  * (content hash, shared shingle, LSH band bucket), never a cross join, so
  * the shuffles stay proportional to collisions rather than n².
  *
  * The shingle, MinHash and winnowing steps call native expressions by
  * name (`graft_shingles`, `graft_minhash_sigs`, `graft_winnow`), so the
  * session must be built with `graft.GraftExtensions` (as
  * `graft.Sessions.local` builds it) or have had
  * `GraftExtensions.registerAll` called on it.
  */
object Dedup {

  /** Words per shingle, in the batch shingle table and the streaming
    * signature alike. */
  private val ShingleWords = 3

  /** MinHash near-dup settings every near-dup caller shares: 16
    * permutations in 4 bands of 4, pairs kept at (exact or estimated)
    * similarity ≥ 0.5. */
  private[graft] val NearDupPerm = 16
  private[graft] val NearDupBands = 4
  private[graft] val NearDupMinSim = 0.5

  /** Winnowing window: 4 consecutive k-gram hashes, one fingerprint per
    * window — expected density 2/5 of the k-gram positions. */
  private val WinnowWindow = 4

  /** Word tokens with positions from normalized text. */
  def words(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(TextAnalysis.normalized(col("text")), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")

  /** Distinct word n-gram shingles per document via the native
    * [[graft.functions.DistinctShingles]] codegen Expression — row-local
    * (no token-stream shuffle, no per-doc window sort; a document's
    * shingle set never leaves its input partition until a caller joins on
    * it), and the per-doc dedup happens before the explode, so the explode
    * fan-out is the distinct-shingle count, not the token count.
    */
  def shingles(docs: DataFrame): DataFrame = {
    docs
      .withColumn("__norm", TextAnalysis.normalized(col("text")))
      .select(col("doc_id"),
        explode(expr(s"graft_shingles(__norm, $ShingleWords)")).as("shingle"))
  }

  /** Exact n-gram Jaccard similarity for documents sharing >=1 shingle
    * (inverted-index blocking: the self-join key is the shingle's long
    * id, see [[shingleIds]]).
    */
  def jaccardPairs(sh: DataFrame, minJaccard: Double): DataFrame = jaccard(sh, minJaccard, None)

  /** [[jaccardPairs]] with document-frequency pruning: shingles appearing
    * in more than `maxDf` documents are dropped before the inverted-index
    * self-join. High-DF "stopword shingles" (boilerplate, templates) are
    * what makes the self-join quadratic on a real corpus — one shingle in
    * df docs emits df² pair rows — while contributing almost nothing to a
    * near-dup decision (they are shared by everything). Pruning bounds
    * the per-shingle fan-out at maxDf² by construction, which is the
    * standard production guard in front of exact-Jaccard verification.
    * The pruning is deterministic and part of the operator's semantics:
    * Jaccard is computed over the pruned shingle sets (sizes included),
    * so the result is bit-reproducible and SQL-expressible.
    */
  def jaccardPairsDfPruned(sh: DataFrame, minJaccard: Double, maxDf: Long): DataFrame =
    jaccard(sh, minJaccard, Some(maxDf))

  /** The `(doc_id, sid)` table behind both Jaccard entry points: ONE
    * shingle-keyed aggregate reads the shingle strings, drops the
    * shingles in more than `maxDf` documents (`shingles()` emits
    * per-doc-distinct rows, so the row count is the document frequency),
    * and gives each kept shingle a long id, dense within its partition.
    * The id is injective (`monotonically_increasing_id` is partition
    * index ⊕ row number) and deterministic: the aggregate's rows are
    * sorted by shingle within their hash partition before numbering, so
    * every evaluation numbers the same shingle alike. A NULL shingle keeps a NULL sid — counted in
    * its document's size, never joined — and is dropped with the pruned
    * shingles, as the string-keyed joins treated it.
    */
  private[graft] def shingleIds(sh: DataFrame, maxDf: Option[Long]): DataFrame =
    sh.groupBy("shingle").agg(collect_list(col("doc_id")).as("docs"), count(lit(1)).as("df"))
      .filter(maxDf.fold(lit(true))(c => col("shingle").isNotNull && col("df") <= c))
      .sortWithinPartitions("shingle")
      .withColumn("sid", when(col("shingle").isNotNull, monotonically_increasing_id()))
      .select(explode(col("docs")).as("doc_id"), col("sid"))

  /** The one exact-Jaccard kernel: sizes, the inverted-index self-join
    * and the pair count all run on [[shingleIds]]' longs. */
  private[llm] def jaccard(sh: DataFrame, minJaccard: Double, maxDf: Option[Long]): DataFrame = {
    // Persisted: the id table feeds three consumers (doc-keyed sizes and
    // both self-join sides), and without the cache each re-ran the
    // shingle aggregate. It holds two longs per (doc, shingle) row and
    // replaces the callers' caches of the shingle STRINGS, one of which
    // squeezed d02 into an OOM on the 64× replica (r10). With it, e04 and
    // d10 ran at 64× on an 8 g heap (PERF.md, "Exact Jaccard on dense
    // shingle ids"); d02's pair stream stays quadratic in duplication,
    // outside that envelope with or without a cache.
    val ids = graft.ops.Caches.track(shingleIds(sh, maxDf).persist())
    val sizes = ids.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = ids.as("x").join(ids.as("y"), "sid")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** MinHash signatures: numPerm independent permutations simulated by
    * seeded xxhash64 of the shingle; per-doc minimum per permutation.
    * Deterministic (fixed seeds), unlike sampling-based approaches.
    */
  def minhashSignatures(sh: DataFrame, numPerm: Int): DataFrame = {
    val aggs = (0 until numPerm).map { i =>
      min(xxhash64(concat_ws("#", lit(s"perm$i"), col("shingle")))).as(s"h$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Banded bucket table of a [[NearDupPerm]]-permutation signature
    * table: one row per (doc, band) with the band's hash — the STORED
    * near-dup index shape at scale (a corpus keeps this table
    * materialized, keyed/bucketed by (band, sig), and appends each
    * admitted batch's rows).
    */
  def bandTable(sig: DataFrame): DataFrame = {
    val rowsPerBand = NearDupPerm / NearDupBands
    val bandCols = (0 until NearDupBands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i")): _*).as("sig"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
  }

  /** Row-local MinHash signature as ONE array column — value-identical to
    * [[minhashSignatures]] (same per-shingle `perm#i`-seeded xxhash64,
    * same per-permutation minimum over the doc's distinct shingles) but
    * computed without the shingle explode/groupBy: the shape a per-row
    * STREAMING transform needs (a stream can't re-aggregate a doc's
    * shingles without a stateful shuffle per doc). NULL when the text has
    * fewer than 3 words (no shingles — such docs have no signature rows
    * in the batch path either).
    */
  def minhashSignatureArray(text: org.apache.spark.sql.Column, numPerm: Int): org.apache.spark.sql.Column =
    // ONE compiled pass over the shingle array (functions/MinhashSigs —
    // NULL for empty arrays, so the old when(size > 0) guard is folded
    // into the kernel). The previous numPerm × transform/array_min HOF
    // formulation ran interpreted per element (HOFs never codegen) and
    // was the dominant row-local cost of the e12/streaming monitor plans;
    // DedupSpec pins value parity with the batch minhashSignatures
    // aggregate, permutation by permutation.
    call_function("graft_minhash_sigs",
      call_function("graft_shingles", TextAnalysis.normalized(text), lit(ShingleWords)),
      lit(numPerm))

  /** Per-(band, bucket) rows with the full signature carried along:
    * `(doc_id, ts, band, sig, sigv)` — the row-local
    * analog of [[bandTable]] (same per-band murmur3 over the same
    * signature slice), shared by the streaming near-dup monitor and its
    * batch flavor so the two can never drift.
    */
  def bandedSignatureRows(docs: DataFrame, numPerm: Int): DataFrame = {
    require(numPerm % NearDupBands == 0,
      s"bands ($NearDupBands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / NearDupBands
    val withSig = docs
      .withColumn("sigv", minhashSignatureArray(col("text"), numPerm))
      .filter(col("sigv").isNotNull)
    val bandCols = (0 until NearDupBands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sigv"), i + 1)): _*).as("sig"))
    }
    withSig.select(col("doc_id"), col("ts"), col("sigv"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("ts"), col("bk.band").as("band"),
        col("bk.sig").as("sig"), col("sigv"))
  }

  /** Batch flavor of the streaming near-dup monitor: per-(band, bucket)
    * candidate pairs with the ESTIMATED similarity (matching signature
    * components / numPerm — no shingle re-join, the decision a stream can
    * afford), ordered older→newer by the `ts` column and gated at
    * `ttlMs` of event time — exactly the pairs the monitor's bucket state
    * would emit. One shuffle on (band, sig); fan-out bounded by bucket
    * collisions.
    */
  def estimatedNearDupPairs(docs: DataFrame, numPerm: Int, minSim: Double,
      ttlMs: Long = Long.MaxValue): DataFrame = {
    // persist: the self-join consumes the signature subtree twice, and the
    // 16-permutation row-local hashing is the expensive part of the plan
    val banded = graft.ops.Caches.track(
      bandedSignatureRows(docs, numPerm).persist())
    val matches = aggregate(
      zip_with(col("x.sigv"), col("y.sigv"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    banded.as("x").join(banded.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") =!= col("y.doc_id") &&
        (col("x.ts") < col("y.ts") ||
          (col("x.ts") === col("y.ts") && col("x.doc_id") < col("y.doc_id"))))
      .filter(unix_millis(col("y.ts")) - unix_millis(col("x.ts")) <= ttlMs)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("band"), (matches.cast("double") / numPerm).as("est_sim"))
      .filter(col("est_sim") >= minSim)
  }

  /** LSH banding: split the signature into bands, hash each band, and
    * self-join on (band, bandHash) — candidate pairs are docs agreeing on
    * at least one full band. This is the 100 TB path: the join fan-out is
    * bounded by bucket collisions, never all-pairs.
    */
  def minhashCandidates(sig: DataFrame): DataFrame = {
    val banded = bandTable(sig)
    banded.as("x").join(banded.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental NEAR-dup admission — the continuous-ingest analog of
    * [[graft.llm.Curation.incrementalDedup]]'s exact path: a new batch is
    * admitted only where it is not a near-duplicate of the existing
    * corpus. Candidates come from joining the batch's band table against
    * the corpus's (at scale the corpus side is the materialized
    * [[bandTable]] index bucketed by (band, sig) — no corpus rescan,
    * work ∝ batch × collisions), then exact Jaccard verifies only those
    * candidate cross pairs. Batch and corpus doc_ids must be disjoint
    * (they key one shared shingle table for the verify step).
    */
  def incrementalNearDupAdmit(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val shB = graft.ops.Caches.track(shingles(batch).persist())
    val shC = graft.ops.Caches.track(shingles(corpus).persist())
    val cand = bandTable(minhashSignatures(shB, NearDupPerm)).as("x")
      .join(bandTable(minhashSignatures(shC, NearDupPerm)).as("y"),
        Seq("band", "sig"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val near = jaccardForPairs(shB.unionByName(shC), cand)
      .filter(col("jaccard") >= NearDupMinSim)
    batch.join(near.select(col("doc_a").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Exact Jaccard restricted to an explicit candidate-pair set: shingle
    * stats are joined onto the pairs, so the work is O(candidates ×
    * shingles-per-doc) — never the all-shared-shingle pair explosion that
    * a duplicate-heavy corpus produces (on an 8× replicated corpus the
    * unrestricted inverted-index join emits 77M pairs; the banded
    * candidate set stays proportional to true near-dups).
    */
  def jaccardForPairs(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from banding, exact
    * Jaccard computed ONLY for candidate pairs.
    */
  def minhashNearDups(docs: DataFrame): DataFrame = {
    val sh = graft.ops.Caches.track(shingles(docs).persist())
    val cand = minhashCandidates(minhashSignatures(sh, NearDupPerm))
    jaccardForPairs(sh, cand).filter(col("jaccard") >= NearDupMinSim)
  }

  /** 64-bit SimHash per document: sign of the per-bit weighted sum of word
    * hashes. One groupBy with 64 conditional aggregates — no row blow-up.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val wh = words(docs).groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("w")))
    val bitAggs = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$j")
    }
    val sums = wh.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    sums.select(col("doc_id"),
      (0 until 64).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs via banded tables (the multi-table design of
    * Manku et al., WWW'07 §3): the 64-bit signature is split into four
    * 16-bit slices, each slice a separate blocking table; candidates agree
    * on at least one full slice. Unlike single-prefix blocking, a near-dup
    * whose differing bits fall in the prefix is still caught by another
    * band (pigeonhole: ≤3 differing bits always leave one band intact).
    * Verification is exact Hamming (bit_count of xor) on the deduplicated
    * candidate set. Residual scale risk, inherent to any banding scheme:
    * candidate count is Σ C(bucket,2) per band, so a corpus whose mass
    * agrees on one full 16-bit slice still pairs quadratically inside that
    * bucket — at 100 TB, run exact/fingerprint dedup first (collapses
    * identical-content mass) and cap pathological buckets if the corpus is
    * adversarial.
    */
  def simhashPairs(sim: DataFrame, maxHamming: Int,
                   idCol: String = "doc_id", hashCol: String = "simhash"): DataFrame = {
    val width = 16
    val mask = (1L << width) - 1
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask)).as("key"))
    }
    val banded = sim.select(col(idCol).as("__id"), col(hashCol).as("__h"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("__id"), col("__h"),
        col("b.band").as("band"), col("b.key").as("key"))
    banded.as("x").join(banded.as("y"), Seq("band", "key"))
      .filter(col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"),
        col("x.__h").as("__sa"), col("y.__h").as("__sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact duplicate-span detection — the candidate step of exact-substring
    * dedup (Lee et al., ACL'22, "Deduplicating Training Data Makes
    * Language Models Better": repeated long substrings across documents
    * are removed span-wise, not doc-wise). Emits every (doc, position)
    * whose length-`n` token span also occurs in at least one OTHER
    * document, with the span fingerprint and its cross-doc frequency —
    * the removal mask a span-level deduper consumes.
    *
    * Scale shape: span extraction is row-local (index explode + slice
    * over the token array); the spans table is the only shuffled volume —
    * once for the cross-doc frequency aggregate, and the dup-filter join
    * back is co-keyed on the same span hash partitioning (AQE reuses the
    * exchange). The spans table is persisted across its two consumers. At
    * 100 TB, hash the span to 16 bytes before the shuffle (md5 here) so
    * shuffle width is constant per span regardless of n.
    */
  def duplicateSpans(docs: DataFrame, n: Int): DataFrame = {
    val t = split(graft.llm.TextAnalysis.normalized(col("text")), " ")
    val sh = graft.ops.Caches.track(docs
      .select(col("doc_id"), t.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("__t")) - (n - 1))).as("pos"), col("__t"))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("__t"), col("pos"), lit(n)), " ")).as("gh"))
      .persist())
    val dup = sh.groupBy("gh").agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    sh.join(dup, "gh").select("doc_id", "pos", "gh", "n_docs")
  }

  /** Keep-first duplicate-span REMOVAL — the transform step of
    * exact-substring dedup (Lee et al., ACL'22, §4: repeated long
    * substrings are deleted span-wise; documents keep their remaining
    * text). Consumes [[duplicateSpans]]' candidate mask: for each
    * cross-document duplicated n-token span, the corpus-first occurrence
    * (by (doc_id, pos)) is never TARGETED for removal and every later
    * occurrence's token range [pos, pos+n-1] is; overlapping removal
    * ranges union naturally because tokens are removed by POSITION, not
    * per window. Targeting is per-span, NOT a global survival guarantee:
    * when duplicated spans overlap, the mask of one span's later
    * occurrence can cover tokens of another span's corpus-first
    * occurrence (doc1="p q r s", doc2="q r s t", doc3="p q r s t", n=3:
    * "r s t" is corpus-first in doc2, but doc2 positions 1-3 fall under
    * "q r s"'s later-occurrence mask, so "r s t" survives nowhere) —
    * the same fragmentation deployed exact-substring dedup accepts, and
    * the SQL oracle replays these semantics exactly. Output: one row per
    * input document with exact token accounting and the redacted text
    * (the kept tokens of the normalized stream, in order — the method
    * operates on the token stream, so full-kept documents come back as
    * their normalized text).
    *
    * Scale shape: [[duplicateSpans]] is the only corpus-wide shuffle
    * volume (collision-proportional); the removal mask is an n-fold
    * explode of the NON-first occurrences only (constant factor n over
    * duplicated mass, nothing on clean documents); kept tokens are one
    * anti-join co-keyed on (doc_id, position); reassembly is a doc-keyed
    * sort-aggregate. The span rank window partitions by the span hash —
    * never by anything corpus-sized. No all-pairs stage anywhere.
    */
  def removeDuplicateSpans(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("gh").orderBy(col("doc_id"), col("pos"))
    val removal = duplicateSpans(docs, n)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("i"))
      .distinct()
    val toks = graft.ops.Caches.track(words(docs)
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("w"))
      .persist())
    // n_tokens from the SAME persisted token stream the anti-join reads
    // (not a third regex tokenize of the corpus); the left join from the
    // doc spine keeps zero-token docs at n_tokens = 0, matching words()'
    // empty-token filter
    val base = docs.select(col("doc_id"))
      .join(toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
        Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
    val kept = toks.join(removal, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("w")))),
          x => x.getField("w")), " ").as("text"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every character k-gram of the
    * normalized text, slide a window of w consecutive hashes, and select
    * each window's MINIMUM hash (rightmost occurrence on ties — the
    * paper's rule, maximizing selection reuse across windows). Guarantee:
    * any substring match of length ≥ w + k − 1 between two documents
    * shares at least one selected fingerprint, at expected density
    * 2/(w+1) — position-robust LOCAL fingerprints, where the whole-text
    * md5 (t04) breaks on a single changed byte and t20's fixed blocks
    * break on a one-token shift. Hashes are md5-derived 60-bit integers
    * (seedless, engine-replayable — the d10/c23 convention; the paper's
    * rolling hash is a constant-factor speedup of the same per-position
    * k-gram hash semantics). Pick k for the corpus's gram DIVERSITY:
    * k = 5 on the synthetic corpus yields only ~1k distinct fingerprints
    * across 5k docs (max df 3.9k — every consumer join quadratic); k = 12
    * yields 62k (max df 757). Consumers must STILL df-guard the
    * fingerprint join (the d10 discipline — see d16).
    *
    * Scale shape: row-local end to end — the whole per-document selection
    * is ONE native codegen Expression (`graft_winnow`,
    * functions/Winnow.scala: md5 per k-gram from raw digest bytes +
    * ascending-minima deque, O(n) per doc), so a document's fingerprints
    * never leave its input partition until a consumer joins on the
    * fingerprint value (collision-proportional, the inverted-index
    * discipline). The first cut expressed the selection as nested
    * transform/aggregate lambdas — value-identical but INTERPRETED per
    * window (31.7 s at sf0.1 vs sub-second; HOF lambdas never codegen).
    * Returns (doc_id, pos, fp) — one row per selected occurrence.
    */
  def winnowFingerprints(docs: DataFrame, k: Int): DataFrame = {
    docs
      .withColumn("__norm", TextAnalysis.normalized(col("text")))
      .select(col("doc_id"),
        explode(expr(s"graft_winnow(__norm, $k, $WinnowWindow)")).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** Exact dedup keeping the first doc per content hash (deterministic). */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("h").orderBy(col("doc_id").asc)
    docs.withColumn("h", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "h")
  }
}
