package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns.d2
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.BinaryFiles

/** LLM-training-data pipeline queries over documents/embeddings
  * (BASELINE.json north-star: dedup, similarity search, text analysis,
  * multimodal columns — each designed shuffle-blocked for 100 TB).
  */
object QueriesLlm {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.table(s, d, "documents")
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.table(s, d, "embeddings")

  /** CMS sketch dimensions shared by t13/t15 — the aggregator, the
    * zip_with zero-array, and the estimate lookup must agree on them.
    */
  private val cmsDepth = 4
  private val cmsWidth = 1024
  private val cmsEstimate = udf((counts: Seq[Long], word: String) =>
    graft.functions.CountMinSketch(cmsDepth, cmsWidth, counts.toArray)
      .estimate(word))
  /** Non-empty normalized word tokens of the corpus, with optional
    * pass-through columns (t13/t15's shared tokenization — must stay in
    * lockstep with their DuckDB oracle's string_split restatement).
    */
  private def corpusTokens(s: org.apache.spark.sql.SparkSession, d: String,
                           extra: String*): org.apache.spark.sql.DataFrame =
    docs(s, d).select(extra.map(col) :+
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("w"): _*)
      .filter(col("w") =!= "")

  /** Documents plus planted near-duplicates (slightly-extended copies of
    * doc_id < 5) so near-dup operators have true positives to find on the
    * otherwise-all-distinct synthetic corpus. Deterministic.
    */
  /** Deterministic page template shared by t17/e06: title + script +
    * style + comment + link-dense nav, the document text as the main
    * content block, an ad div on every third doc_id, entity-bearing
    * footer — every boilerplate category [[graft.llm.Web.htmlText]]
    * must strip, derived only from the row's own columns.
    */
  private def wrapHtml(docId: org.apache.spark.sql.Column,
                       source: org.apache.spark.sql.Column,
                       text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("<html><head><title>"), source, lit(" &amp; co</title>"),
      lit("<script type=\"text/javascript\">var n = 1 < 2;</script>"),
      lit("<style>p { color: #333; }</style></head><body>"),
      lit("<!-- header -->"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>"),
      lit("<p>"), text, lit("</p>"),
      when(pmod(docId, lit(3)) === 0,
        lit("<div class=\"ads\"><a href=\"http://ads.example.com/buy\">Buy&nbsp;now!</a></div>"))
        .otherwise(lit("")),
      lit("<footer>&copy; 2026</footer></body></html>"))

  /** DuckDB mirror of [[wrapHtml]] over columns (doc_id, source, text).
    * Single line: it interpolates into stripMargin'd oracle strings, where
    * a multiline value starting with `||` would be eaten as a margin.
    */
  private val htmlSqlExpr: String =
    """'<html><head><title>' || source || ' &amp; co</title>'
      |         || '<script type="text/javascript">var n = 1 < 2;</script>'
      |         || '<style>p { color: #333; }</style></head><body>'
      |         || '<!-- header -->'
      |         || '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
      |         || '<p>' || text || '</p>'
      |         || CASE WHEN doc_id % 3 = 0
      |                 THEN '<div class="ads"><a href="http://ads.example.com/buy">Buy&nbsp;now!</a></div>'
      |                 ELSE '' END
      |         || '<footer>&copy; 2026</footer></body></html>'""".stripMargin
      .linesIterator.map(_.trim).mkString(" ")

  /** DuckDB mirror of [[graft.llm.Web.htmlText]]: the same replace
    * sequence the engine folds over, one generated CTE per step (no
    * hand-balanced 11-deep nesting). Consumes a CTE `h(doc_id, html)`,
    * yields `x(doc_id, html, txt)`.
    */
  private val htmlTextCtes: String = {
    val steps = Seq(
      "(?is)<script[^>]*>.*?</script>" -> " ",
      "(?is)<style[^>]*>.*?</style>" -> " ",
      "(?s)<!--.*?-->" -> " ",
      "<[^>]*>" -> " ",
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
    val chain = steps.zipWithIndex.map { case ((pat, rep), i) =>
      val src = if (i == 0) "html" else "t"
      val from = if (i == 0) "h" else s"x${i - 1}"
      s"x$i AS (SELECT doc_id, html, regexp_replace($src, '$pat', '$rep', 'g') AS t FROM $from)"
    }.mkString(",\n")
    chain + ",\n" +
      s"""x AS (
         |  SELECT doc_id, html,
         |         trim(regexp_replace(t, '[ \\t\\r\\n]+', ' ', 'g')) AS txt
         |  FROM x${steps.length - 1})""".stripMargin
  }

  /** Corpus + PREFIX-SHIFTED copies of three docs for the winnowing pair
    * (d15/d16): an 18-char prefix shifts every character position, which
    * whole-text/block fingerprints can't survive but winnowing's local
    * fingerprints must.
    */
  private def winnowCorpus(s: org.apache.spark.sql.SparkSession, d: String) = {
    val base = docs(s, d).select("doc_id", "text")
    base.union(docs(s, d).filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("xz9 prefix marker "), col("text")).as("text")))
  }

  /** Shared DuckDB replay of [[graft.llm.Dedup.winnowFingerprints]] over
    * [[winnowCorpus]] (k = 12, w = 4): per-position 60-bit md5 k-gram
    * hashes, window-of-4 argmin with the rightmost tie rule
    * (ORDER BY h ASC, pos DESC ≡ the codegen deque's pop-on-`>=`), then
    * the distinct (pos, fp) selection — used verbatim by both d15 and d16.
    */
  private val winnowSelSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'xz9 prefix marker ' || text
      |  FROM documents WHERE doc_id < 3),
      |t AS (SELECT doc_id,
      |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nm
      |      FROM aug),
      |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
      |             CAST(('0x' || substr(md5(substr(nm, CAST(i AS INT), 12)), 1, 15)) AS BIGINT) AS h
      |      FROM t, unnest(range(1, len(nm) - 10)) r(i)
      |      WHERE len(nm) >= 12),
      |mx AS (SELECT doc_id, max(pos) AS m FROM g GROUP BY 1),
      |wj AS (SELECT a.doc_id, s.pos AS j, a.pos, a.h,
      |              row_number() OVER (PARTITION BY a.doc_id, s.pos
      |                                 ORDER BY a.h ASC, a.pos DESC) AS rn
      |       FROM g s
      |       JOIN mx ON mx.doc_id = s.doc_id AND s.pos + 3 <= mx.m
      |       JOIN g a ON a.doc_id = s.doc_id AND a.pos BETWEEN s.pos AND s.pos + 3),
      |sel AS (SELECT DISTINCT doc_id, pos, h AS fp FROM wj WHERE rn = 1)
      |""".stripMargin

  private def withPlantedDups(docsDf: org.apache.spark.sql.DataFrame) = {
    val planted = docsDf.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" extra trailing token")).as("text"))
    docsDf.select("doc_id", "text").union(planted)
  }

  def all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Dedup
    // ------------------------------------------------------------------

    Q("d01_dedup_exact", (s, d) =>
      docs(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_raw"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_norm"))
        .orderBy("source"),
      Some(
        """SELECT source, count(*) AS n_docs,
          |       count(DISTINCT md5(text)) AS n_raw,
          |       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_norm
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Row-level keep-first exact dedup on a corpus with planted exact
    // copies: the duplicates must vanish, originals (lowest doc_id) stay.
    Q("d06_dedup_keepfirst", (s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val copies = docs(s, d).filter(col("doc_id") < 4)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.exactDedup(base.union(copies))
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"), sum("doc_id").as("sum_id"))
    }, Some(
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 4),
        |kept AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM all_docs)
        |  WHERE rn = 1)
        |SELECT count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM kept""".stripMargin)),

    // Exact word-3-gram Jaccard over an inverted-index (shingle) join —
    // the blocked all-pairs pattern that survives scale.
    Q("d02_ngram_jaccard", (s, d) =>
      Dedup.jaccardPairs(Dedup.shingles(docs(s, d)), 0.01)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some(
        """WITH words AS (
          |  SELECT doc_id,
          |         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w,
          |         generate_subscripts(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), 1) AS i
          |  FROM documents),
          |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
          |       FROM words a
          |       JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
          |       JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
          |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
          |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
          |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |          GROUP BY 1, 2)
          |SELECT doc_a, doc_b, inter,
          |       round(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
          |FROM inter
          |JOIN sz sa ON inter.doc_a = sa.doc_id
          |JOIN sz sb ON inter.doc_b = sb.doc_id
          |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.01
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // DF-pruned exact Jaccard: shingles in more than maxDf docs are
    // dropped before the inverted-index self-join — the production guard
    // that keeps the join sub-quadratic on boilerplate-heavy corpora (one
    // shingle in df docs emits df² pairs). Deterministic semantics (the
    // pruned sets ARE the operator's universe), so it carries a full
    // DuckDB oracle with the same pruning.
    Q("d10_jaccard_df_pruned", (s, d) =>
      Dedup.jaccardPairsDfPruned(Dedup.shingles(docs(s, d)), 0.01, 4)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some(
      """WITH words AS (
        |  SELECT doc_id,
        |         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w,
        |         generate_subscripts(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), 1) AS i
        |  FROM documents),
        |sh0 AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        |        FROM words a
        |        JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |        JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |dfq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfq USING (shingle)
        |       WHERE dfq.df <= 4),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
        |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |       round(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
        |FROM inter
        |JOIN sz sa ON inter.doc_a = sa.doc_id
        |JOIN sz sb ON inter.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.01
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Incremental near-dup admission: a batch of new docs (slightly-
    // extended copies of corpus docs + genuinely new docs) against the
    // corpus's banded MinHash index — copies are rejected, novel docs
    // admitted. Hash-function-specific (xxhash64) → rows-only; DedupSpec
    // pins admit/reject behavior on planted inputs.
    Q("d11_incremental_neardup", (s, d) => {
      val corpus = docs(s, d).select("doc_id", "text")
      val nearCopies = corpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" extra trailing token")).as("text"))
      val novel = corpus.filter(col("doc_id") < 3)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(lit("entirely different preamble about quiet rivers "),
            reverse(col("text"))).as("text"))
      Dedup.incrementalNearDupAdmit(nearCopies.union(novel), corpus)
        .agg(count(lit(1)).as("n_admitted"), min("doc_id").as("min_id"),
          sum("doc_id").as("sum_id"))
    }, None),

    // SemDeDup semantic dedup: k-means cells bound the pair search, drop
    // any vector with a lower-id ≥τ-cosine neighbor in its cell. Cell ids
    // come from the engine's own quantizer → rows-only; SimilaritySpec
    // pins planted-duplicate behavior.
    Q("d12_semantic_dedup", (s, d) => {
      val e = emb(s, d)
      // plant exact copies (cos = 1, same cell by construction) so the
      // query demonstrably drops — the d03/d04 planted-dup convention
      val planted = e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000).as("vec_id"),
          col("embedding"), col("label"))
      Similarity.semanticDedup(e.union(planted), ncells = 16, minCos = 0.98)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("cell")
    }, None),

    // MinHash+LSH near-dups: banded signature join → exact-Jaccard verify.
    // Hash-function-specific (xxhash64) → rows-only; DedupSpec covers
    // recall against planted duplicates.
    Q("d03_minhash_lsh", (s, d) =>
      Dedup.minhashNearDups(withPlantedDups(docs(s, d)))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      None),

    // SimHash near-dups: 64-bit signatures, top-16-bit blocking, Hamming
    // verify. rows-only (xxhash64-specific).
    Q("d04_simhash", (s, d) =>
      Dedup.simhashPairs(Dedup.simhash(withPlantedDups(docs(s, d))), maxHamming = 6)
        .orderBy("doc_a", "doc_b"),
      None),

    // Embedding-cosine near-dup pairs, label-blocked.
    Q("d05_embedding_neardup", (s, d) =>
      Similarity.cosineNearDups(emb(s, d), "label", 0.3)
        .orderBy("vec_a", "vec_b"),
      Some(
        """WITH e AS (SELECT vec_id, label, unnest(embedding) AS v,
          |                  generate_subscripts(embedding, 1) AS i
          |           FROM embeddings),
          |n AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
          |      FROM e GROUP BY 1),
          |d AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.label AS block,
          |             sum(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS dot
          |      FROM e x JOIN e y ON x.label = y.label AND x.i = y.i AND x.vec_id < y.vec_id
          |      GROUP BY 1, 2, 3)
          |SELECT vec_a, vec_b, block, round(dot / na.nrm / nb.nrm, 6) AS cos
          |FROM d JOIN n na ON d.vec_a = na.vec_id JOIN n nb ON d.vec_b = nb.vec_id
          |WHERE round(dot / na.nrm / nb.nrm, 6) >= 0.3
          |ORDER BY vec_a, vec_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Similarity search
    // ------------------------------------------------------------------

    Q("n01_ann_cosine_topk", (s, d) =>
      Similarity.cosineTopK(emb(s, d), queryId = 0L, k = 10),
      Some(
        """WITH q AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
          |           FROM embeddings WHERE vec_id = 0),
          |e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
          |      FROM embeddings WHERE vec_id != 0),
          |dots AS (SELECT e.vec_id,
          |                sum(CAST(e.v AS DOUBLE) * CAST(q.qv AS DOUBLE)) AS dot,
          |                sum(CAST(e.v AS DOUBLE) * CAST(e.v AS DOUBLE)) AS nrm
          |         FROM e JOIN q USING (i) GROUP BY 1),
          |qn AS (SELECT sqrt(sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))) AS qnrm FROM q)
          |SELECT vec_id, round(dot / sqrt(nrm) / qnrm, 6) AS cos
          |FROM dots, qn ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // IVF ANN — k-means coarse cells, nprobe-cell search. Rows-only (the
    // quantizer is Spark-ML-specific); SimilaritySpec checks recall vs the
    // brute-force baseline.
    Q("n03_ann_ivf", (s, d) =>
      Similarity.ivfTopK(emb(s, d), queryId = 0L, k = 10, nlist = 16),
      None),

    // Product-quantization ANN: 8 subspace codebooks × 16 centroids → 8-byte
    // codes, ADC table-lookup scoring (rows-only — k-means codebooks are
    // Spark-ML-specific; SimilaritySpec checks recall vs brute force).
    Q("n06_ann_pq", (s, d) =>
      Similarity.pqTopK(emb(s, d), queryId = 0L, k = 10),
      None),

    // MMR diversity re-rank over the brute-force top-20 candidates.
    // FULLY oracle-checked (r9): the greedy selection
    // argmax λ·rel − (1−λ)·max_{j∈S} sim runs over a BOUNDED candidate
    // set, so DuckDB replays it as a k-step single-state-row recursion
    // (the k24 pattern — the candidate table with per-candidate running
    // redundancy travels as one LIST column; the per-step argmax is a
    // lexicographic struct max under (score, −id), the same tie rule as
    // the driver loop). Relevance is the round-6 cosine both engines
    // already agree on (n01); pairwise sims are unit-vector dot products.
    // SimilaritySpec additionally pins first-pick-equals-top-cosine and
    // planted-redundancy demotion.
    Q("n07_mmr_rerank", (s, d) =>
      Similarity.mmrRerank(emb(s, d), queryId = 0L, k = 5, candidates = 20),
      Some(
        """WITH RECURSIVE
          |mq AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
          |       FROM embeddings WHERE vec_id = 0),
          |me AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
          |       FROM embeddings WHERE vec_id != 0),
          |mdots AS (SELECT me.vec_id,
          |                 sum(CAST(me.v AS DOUBLE) * CAST(mq.qv AS DOUBLE)) AS dot,
          |                 sum(CAST(me.v AS DOUBLE) * CAST(me.v AS DOUBLE)) AS nrm
          |          FROM me JOIN mq USING (i) GROUP BY 1),
          |mqn AS (SELECT sqrt(sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))) AS qnrm FROM mq),
          |mcand AS (SELECT vec_id, round(dot / sqrt(nrm) / qnrm, 6) AS rel
          |          FROM mdots, mqn WHERE nrm > 0
          |          ORDER BY round(dot / sqrt(nrm) / qnrm, 6) DESC, vec_id LIMIT 20),
          |mu AS (SELECT me.vec_id, me.i, CAST(me.v AS DOUBLE) / sqrt(d.nrm) AS u
          |       FROM me JOIN mdots d USING (vec_id) JOIN mcand USING (vec_id)),
          |msim AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.u * b.u) AS s
          |         FROM mu a JOIN mu b USING (i) WHERE a.vec_id != b.vec_id
          |         GROUP BY 1, 2),
          |msims_per AS (SELECT ia AS vec_id,
          |                     list(struct_pack(id := ib, s := s) ORDER BY ib) AS sims
          |              FROM msim GROUP BY 1),
          |minit AS (
          |  -- red seeds at -inf (a max over an empty set), NOT 0: pairwise
          |  -- cosines can be negative, and a 0 seed would floor them; the
          |  -- rank-0 empty-selected-set case zeroes red at score time
          |  SELECT list(struct_pack(id := c.vec_id, rel := c.rel,
          |                          red := CAST('-infinity' AS DOUBLE),
          |                          sims := p.sims)
          |              ORDER BY c.vec_id) AS cands
          |  FROM mcand c JOIN msims_per p USING (vec_id)),
          |msel AS (
          |  SELECT 0 AS rank, cands,
          |         CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS rel,
          |         CAST(NULL AS DOUBLE) AS red, CAST(NULL AS DOUBLE) AS score
          |  FROM minit
          |  UNION ALL
          |  SELECT rank + 1,
          |         list_transform(
          |           list_filter(cands, c -> c.id != pick.id),
          |           c -> struct_pack(id := c.id, rel := c.rel,
          |                  red := greatest(c.red,
          |                    list_filter(c.sims, s -> s.id = pick.id)[1].s),
          |                  sims := c.sims)) AS cands,
          |         pick.id, pick.rel, pick.red, pick.score
          |  FROM (
          |    SELECT rank, cands,
          |           list_aggregate(
          |             list_transform(cands, c -> struct_pack(
          |               score := CAST(0.7 AS DOUBLE) * c.rel
          |                        - (1.0 - CAST(0.7 AS DOUBLE))
          |                          * (CASE WHEN rank = 0 THEN 0.0 ELSE c.red END),
          |               negid := -c.id, id := c.id, rel := c.rel,
          |               red := CASE WHEN rank = 0 THEN 0.0 ELSE c.red END)),
          |             'max') AS pick
          |    FROM msel WHERE rank < 5 AND len(cands) > 0))
          |SELECT rank, vec_id, rel AS relevance,
          |       round(red, 6) AS redundancy, round(score, 6) AS mmr_score
          |FROM msel WHERE rank >= 1 ORDER BY rank""".stripMargin)),

    // N08 — hybrid retrieval via reciprocal-rank fusion (the pattern every
    // vector store ships beside its ANN index, public: Cormack et al.
    // 2009): the t21 BM25 lexical list and the n01 embedding-cosine
    // semantic list (vec_id ≡ doc_id in the testdata), each ranked on its
    // OWN rounded score with a doc-id tie-break (so both engines agree on
    // every rank), fused by Σ 1/(60 + rank) over the lists a doc appears
    // in (full-outer — a doc in one list still scores). Scale shape: each
    // list is its own bounded top-K (the n01/t21 plans unchanged); the
    // fusion is a K-row outer join. Fully oracle-checked.
    Q("n08_hybrid_rrf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sem = Similarity.cosineTopK(emb(s, d), queryId = 0L, k = 20)
        .withColumn("rank_sem",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc))
            .cast("long"))
        .select(col("vec_id").as("id"), col("rank_sem"))
      val lex = TextAnalysis.bm25(docs(s, d), Seq("hash", "join", "stream"))
        .withColumn("score", round(col("score"), 6))
        .filter(col("score") > 0.0)
        .withColumn("rank_lex",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
            .cast("long"))
        .filter(col("rank_lex") <= 20)
        .select(col("doc_id").as("id"), col("rank_lex"))
      sem.join(lex, Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("rank_sem").cast("double")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rank_lex").cast("double")), lit(0.0)))
        .orderBy(col("rrf").desc, col("id").asc)
        .limit(10)
        .select(col("id").as("doc_id"), col("rank_lex"), col("rank_sem"),
          round(col("rrf"), 6).as("rrf"))
    }, Some(
      """WITH hq AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
        |            FROM embeddings WHERE vec_id = 0),
        |he AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings WHERE vec_id != 0),
        |hdots AS (SELECT he.vec_id,
        |                 sum(CAST(he.v AS DOUBLE) * CAST(hq.qv AS DOUBLE)) AS dot,
        |                 sum(CAST(he.v AS DOUBLE) * CAST(he.v AS DOUBLE)) AS nrm
        |          FROM he JOIN hq USING (i) GROUP BY 1),
        |hqn AS (SELECT sqrt(sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))) AS qnrm FROM hq),
        |hsem AS (
        |  SELECT vec_id AS id,
        |         row_number() OVER (ORDER BY round(dot / sqrt(nrm) / qnrm, 6) DESC, vec_id) AS rank_sem
        |  FROM hdots, hqn
        |  ORDER BY round(dot / sqrt(nrm) / qnrm, 6) DESC, vec_id LIMIT 20),
        |hwords AS (
        |  SELECT doc_id,
        |         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |hperdoc AS (
        |  SELECT doc_id, count(*) AS dl,
        |         CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf_hash,
        |         CAST(sum(CASE WHEN w = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_join,
        |         CAST(sum(CASE WHEN w = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS tf_stream
        |  FROM hwords WHERE w != '' GROUP BY 1),
        |hcorpus AS (
        |  SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS sdl,
        |         CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
        |         CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
        |         CAST(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_stream
        |  FROM hperdoc),
        |hscored AS (
        |  SELECT doc_id,
        |    round(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5) / (CAST(df_hash AS DOUBLE) + 0.5))
        |        * (CAST(tf_hash AS DOUBLE) * 2.2)
        |        / (CAST(tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      + ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5) / (CAST(df_join AS DOUBLE) + 0.5))
        |        * (CAST(tf_join AS DOUBLE) * 2.2)
        |        / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      + ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df_stream AS DOUBLE) + 0.5) / (CAST(df_stream AS DOUBLE) + 0.5))
        |        * (CAST(tf_stream AS DOUBLE) * 2.2)
        |        / (CAST(tf_stream AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE)))),
        |      6) AS score
        |  FROM hperdoc CROSS JOIN hcorpus),
        |hlex AS (
        |  SELECT doc_id AS id,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank_lex
        |  FROM hscored WHERE score > 0.0
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |hfuse AS (
        |  SELECT coalesce(s.id, l.id) AS doc_id, l.rank_lex, s.rank_sem,
        |         coalesce(1.0 / (60.0 + CAST(s.rank_sem AS DOUBLE)), 0.0)
        |           + coalesce(1.0 / (60.0 + CAST(l.rank_lex AS DOUBLE)), 0.0) AS rrf
        |  FROM hsem s FULL OUTER JOIN hlex l ON s.id = l.id)
        |SELECT doc_id, rank_lex, rank_sem, round(rrf, 6) AS rrf
        |FROM hfuse ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // N09 — ANN quality evaluation panel: recall@10 / MRR / nDCG@10 of
    // THREE retrieval rules (lsh sign-bucket / ivf cell-probe / pq ADC)
    // against n01's brute-force ground truth over the first 20 vectors as
    // query points (the bounded-query-sample protocol every index shipping
    // decision runs). The ivf/pq quantizers are pinned at deterministic
    // seed centers (ids 20..27) so the whole panel is SQL-expressible and
    // FULLY oracle-checked; the Lloyd-trained production codebooks (n03,
    // n06) are recall-graded in SimilaritySpec. See
    // Similarity.annEvalMetrics for why the metrics derive from integer
    // state + a shiftleft rank bitmask — hash-exact, no float-order
    // hazard.
    Q("n09_ann_eval", (s, d) =>
      Similarity.annEvalMetrics(emb(s, d), nQueries = 20, k = 10),
      Some {
        val dcg = (1 to 10).map(r =>
          s"(CASE WHEN (mask // ${1L << (r - 1)}) % 2 = 1 " +
            s"THEN 1.0 / log2(${r + 1}.0) ELSE 0.0 END)").mkString(" + ")
        val idcg = (1 to 10).map(r => s"(1.0 / log2(${r + 1}.0))").mkString(" + ")
        s"""WITH ae_b AS (SELECT vec_id, embedding,
          |                  (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END) +
          |                  (CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END) +
          |                  (CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END) +
          |                  (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
          |           FROM embeddings),
          |ae_el AS (SELECT vec_id, bucket, CAST(unnest(embedding) AS DOUBLE) AS v,
          |                 generate_subscripts(embedding, 1) AS i FROM ae_b),
          |ae_n AS (SELECT vec_id, sum(v * v) AS nrm FROM ae_el GROUP BY 1),
          |ae_d AS (SELECT q.vec_id AS qid, e.vec_id, e.bucket,
          |                q.bucket AS qbucket, sum(e.v * q.v) AS dot
          |         FROM ae_el e JOIN ae_el q USING (i)
          |         WHERE q.vec_id < 20 AND e.vec_id != q.vec_id
          |         GROUP BY 1, 2, 3, 4),
          |ae_c AS (SELECT d.qid, d.vec_id, d.bucket, d.qbucket,
          |                CASE WHEN ne.nrm > 0 AND nq.nrm > 0
          |                     THEN round(d.dot / sqrt(ne.nrm) / sqrt(nq.nrm), 6)
          |                     ELSE -1.0 END AS cos
          |         FROM ae_d d JOIN ae_n ne ON d.vec_id = ne.vec_id
          |                     JOIN ae_n nq ON d.qid = nq.vec_id),
          |ae_t AS (SELECT qid, vec_id FROM (
          |           SELECT qid, vec_id, row_number() OVER (
          |             PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank_t
          |           FROM ae_c) WHERE rank_t <= 10),
          |ae_lsh AS (SELECT qid, vec_id, rank_s FROM (
          |           SELECT qid, vec_id, row_number() OVER (
          |             PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank_s
          |           FROM ae_c WHERE bucket = qbucket) WHERE rank_s <= 10),
          |ae_cd AS (SELECT e.vec_id, c.vec_id - 20 AS cid,
          |                 round(any_value(ne.nrm) - 2 * sum(e.v * c.v)
          |                       + any_value(nc.nrm), 6) AS cdist
          |          FROM ae_el e JOIN ae_el c USING (i)
          |          JOIN ae_n ne ON ne.vec_id = e.vec_id
          |          JOIN ae_n nc ON nc.vec_id = c.vec_id
          |          WHERE c.vec_id >= 20 AND c.vec_id < 28
          |          GROUP BY 1, 2),
          |ae_cell AS (SELECT vec_id, cid FROM (
          |             SELECT vec_id, cid, row_number() OVER (
          |               PARTITION BY vec_id ORDER BY cdist, cid) AS rk
          |             FROM ae_cd) WHERE rk = 1),
          |ae_probe AS (SELECT qid, cid FROM (
          |             SELECT vec_id AS qid, cid, row_number() OVER (
          |               PARTITION BY vec_id ORDER BY cdist, cid) AS rk
          |             FROM ae_cd WHERE vec_id < 20) WHERE rk <= 2),
          |ae_ivf AS (SELECT qid, vec_id, rank_s FROM (
          |             SELECT c.qid, c.vec_id, row_number() OVER (
          |               PARTITION BY c.qid ORDER BY c.cos DESC, c.vec_id) AS rank_s
          |             FROM ae_c c JOIN ae_cell ce ON ce.vec_id = c.vec_id
          |                         JOIN ae_probe p ON p.qid = c.qid AND p.cid = ce.cid)
          |           WHERE rank_s <= 10),
          |ae_u AS (SELECT e.vec_id,
          |                CASE WHEN n.nrm > 0 THEN e.v / sqrt(n.nrm) ELSE e.v END AS vn,
          |                CAST((e.i - 1) // 16 AS INT) AS s,
          |                ((e.i - 1) % 16) + 1 AS j
          |         FROM ae_el e JOIN ae_n n ON n.vec_id = e.vec_id),
          |ae_svv AS (SELECT vec_id, s, sum(vn * vn) AS svv
          |           FROM ae_u GROUP BY 1, 2),
          |ae_sd AS (SELECT v.vec_id, v.s, c.vec_id - 20 AS cid,
          |                 round(any_value(sv.svv) - 2 * sum(v.vn * c.vn)
          |                       + any_value(sc.svv), 6) AS dsub
          |          FROM ae_u v JOIN ae_u c ON v.s = c.s AND v.j = c.j
          |          JOIN ae_svv sv ON sv.vec_id = v.vec_id AND sv.s = v.s
          |          JOIN ae_svv sc ON sc.vec_id = c.vec_id AND sc.s = c.s
          |          WHERE c.vec_id >= 20 AND c.vec_id < 28
          |          GROUP BY 1, 2, 3),
          |ae_code AS (SELECT vec_id, s, cid FROM (
          |             SELECT vec_id, s, cid, row_number() OVER (
          |               PARTITION BY vec_id, s ORDER BY dsub, cid) AS rk
          |             FROM ae_sd) WHERE rk = 1),
          |ae_ad AS (SELECT q.vec_id AS qid, co.vec_id,
          |                 round(sum(CASE WHEN co.s = 0 THEN q.dsub END)
          |                     + sum(CASE WHEN co.s = 1 THEN q.dsub END)
          |                     + sum(CASE WHEN co.s = 2 THEN q.dsub END)
          |                     + sum(CASE WHEN co.s = 3 THEN q.dsub END), 6) AS adist
          |          FROM ae_code co JOIN ae_sd q ON q.s = co.s AND q.cid = co.cid
          |          WHERE q.vec_id < 20 AND co.vec_id != q.vec_id
          |          GROUP BY 1, 2),
          |ae_pq AS (SELECT qid, vec_id, rank_s FROM (
          |            SELECT qid, vec_id, row_number() OVER (
          |              PARTITION BY qid ORDER BY adist, vec_id) AS rank_s
          |            FROM ae_ad) WHERE rank_s <= 10),
          |ae_sys AS (SELECT 'lsh' AS index_kind, qid, vec_id, rank_s FROM ae_lsh
          |           UNION ALL SELECT 'ivf', qid, vec_id, rank_s FROM ae_ivf
          |           UNION ALL SELECT 'pq', qid, vec_id, rank_s FROM ae_pq),
          |ae_h AS (SELECT s.index_kind, s.qid, s.rank_s,
          |                CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          |         FROM ae_sys s LEFT JOIN ae_t t
          |           ON t.qid = s.qid AND t.vec_id = s.vec_id),
          |ae_m AS (SELECT index_kind, qid, CAST(count(*) AS BIGINT) AS n_sys,
          |                CAST(sum(hit) AS BIGINT) AS n_hits,
          |                min(CASE WHEN hit = 1 THEN rank_s END) AS first_rank,
          |                CAST(sum(CASE WHEN hit = 1
          |                  THEN (CAST(1 AS BIGINT) << (rank_s - 1))
          |                  ELSE 0 END) AS BIGINT) AS mask
          |         FROM ae_h GROUP BY 1, 2),
          |ae_f AS (SELECT g.index_kind, g.qid, coalesce(m.n_sys, 0) AS n_sys,
          |                coalesce(m.n_hits, 0) AS n_hits, m.first_rank,
          |                coalesce(m.mask, 0) AS mask
          |         FROM (SELECT k.index_kind, q.qid
          |               FROM (SELECT DISTINCT vec_id AS qid FROM ae_b
          |                     WHERE vec_id < 20) q
          |               CROSS JOIN (VALUES ('lsh'), ('ivf'), ('pq'))
          |                 AS k(index_kind)) g
          |         LEFT JOIN ae_m m USING (index_kind, qid))
          |SELECT index_kind, qid, n_sys, n_hits,
          |       round(CAST(n_hits AS DOUBLE) / 10.0, 6) AS recall,
          |       round(coalesce(1.0 / CAST(first_rank AS DOUBLE), 0.0), 6) AS mrr,
          |       round(($dcg) / ($idcg), 6) AS ndcg
          |FROM ae_f ORDER BY index_kind, qid""".stripMargin
      }),

    Q("n02_ann_lsh_bucketed", (s, d) =>
      Similarity.lshTopK(emb(s, d), queryId = 0L),
      Some(
        """WITH b AS (SELECT vec_id, embedding,
          |                  (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END) +
          |                  (CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END) +
          |                  (CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END) +
          |                  (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
          |           FROM embeddings),
          |qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
          |q AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
          |      FROM embeddings WHERE vec_id = 0),
          |e AS (SELECT b.vec_id, b.bucket, unnest(b.embedding) AS v,
          |             generate_subscripts(b.embedding, 1) AS i
          |      FROM b, qb WHERE b.vec_id != 0 AND b.bucket = qb.qbucket),
          |dots AS (SELECT e.vec_id, e.bucket,
          |                sum(CAST(e.v AS DOUBLE) * CAST(q.qv AS DOUBLE)) AS dot,
          |                sum(CAST(e.v AS DOUBLE) * CAST(e.v AS DOUBLE)) AS nrm
          |         FROM e JOIN q USING (i) GROUP BY 1, 2),
          |qn AS (SELECT sqrt(sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))) AS qnrm FROM q)
          |SELECT vec_id, bucket, round(dot / sqrt(nrm) / qnrm, 6) AS cos
          |FROM dots, qn ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin)),

    // Per-label centroids via the typed VecMeanAgg aggregator: partial
    // double[64] sums merge map-side, so the shuffle carries groups×dim
    // doubles, not rows×dim exploded entries.
    Q("n04_embedding_centroid", (s, d) => {
      val vecMean = udaf(new graft.functions.VecMeanAgg(64))
      emb(s, d).groupBy("label")
        .agg(vecMean(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "c")))
        .select(col("label"), col("dim").cast("bigint").as("dim"),
          round(col("c"), 6).as("c"))
        .orderBy("label", "dim")
    }, Some(
      """WITH dims AS (SELECT unnest(range(64)) AS dim)
        |SELECT e.label, d.dim,
        |       round(avg(CAST(e.embedding[d.dim + 1] AS DOUBLE)), 6) AS c
        |FROM embeddings e, dims d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Int8 scalar quantization for embedding storage (4× smaller vectors
    // for the 100 TB ANN index): clamp to [-1,1], scale to 0..255. Pure
    // row-local higher-order functions (transform/aggregate) — zero
    // shuffle, embarrassingly parallel; reconstruction error reported
    // per vector.
    Q("n05_vector_quantize", (s, d) => {
      val quant = transform(col("embedding"), x =>
        floor((least(greatest(x.cast("double"), lit(-1.0)), lit(1.0)) + 1.0) * 127.5)
          .cast("bigint"))
      val absErr = transform(col("embedding"), x => {
        val xd = x.cast("double")
        val cl = least(greatest(xd, lit(-1.0)), lit(1.0))
        abs(xd - (floor((cl + 1.0) * 127.5) / 127.5 - 1.0))
      })
      emb(s, d).select(col("vec_id"),
          md5(array_join(quant, ",")).as("fp"),
          round(aggregate(absErr, lit(0.0), (acc, v) => acc + v) / 64.0, 6)
            .as("mean_abs_err"))
        .orderBy("vec_id")
    }, Some(
      """SELECT vec_id,
        |       md5(array_to_string(
        |         list_transform(embedding, x ->
        |           CAST(floor((least(greatest(CAST(x AS DOUBLE), -1), 1) + 1) * 127.5) AS BIGINT)),
        |         ',')) AS fp,
        |       round(CAST(list_sum(list_transform(embedding, x ->
        |           abs(CAST(x AS DOUBLE) -
        |               (floor((least(greatest(CAST(x AS DOUBLE), -1), 1) + 1) * 127.5) / 127.5 - 1))))
        |         AS DOUBLE) / 64.0, 6) AS mean_abs_err
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Text analysis
    // ------------------------------------------------------------------

    Q("t01_langid", (s, d) =>
      docs(s, d)
        .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted"),
      Some(
        """WITH sc AS (SELECT lang,
          |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) AS en,
          |  len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b', 0)) AS de,
          |  len(regexp_extract_all(lower(text), '\b(le|la|et|les|une|est)\b', 0)) AS fr,
          |  len(regexp_extract_all(lower(text), '\b(el|los|las|una|es|y)\b', 0)) AS es
          |FROM documents)
          |SELECT lang,
          |       CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
          |            WHEN de >= es AND de >= fr THEN 'de'
          |            WHEN es >= fr THEN 'es'
          |            ELSE 'fr' END AS predicted,
          |       count(*) AS n
          |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("t02_quality_score", (s, d) =>
      docs(s, d)
        .withColumn("score", TextAnalysis.qualityScore(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), round(avg("score"), 6).as("avg_score"),
          sum(when(col("score") < 0.5, 1L).otherwise(0L)).as("n_low"))
        .orderBy("source"),
      Some(
        """WITH f AS (SELECT source,
          |  CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE) AS words,
          |  CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) AS alpha,
          |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) AS DOUBLE) AS stops,
          |  CAST(length(text) AS DOUBLE) AS chars
          |FROM documents),
          |s AS (SELECT source,
          |  least(stops / words * 2.0, 1.0) * 0.4 +
          |  (CASE WHEN alpha / words >= 3.0 AND alpha / words <= 8.0 THEN 0.3 ELSE 0.0 END) +
          |  least(chars / 500.0, 1.0) * 0.3 AS score
          |FROM f)
          |SELECT source, count(*) AS n, round(avg(score), 6) AS avg_score,
          |       CAST(sum(CASE WHEN score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
          |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("t03_token_count", (s, d) =>
      docs(s, d)
        .withColumn("tokens", TextAnalysis.tokenCount(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"),
          round(avg("tokens"), 6).as("avg_tokens"))
        .orderBy("lang"),
      Some(
        """SELECT lang, count(*) AS n_docs,
          |       CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]', 0))) AS BIGINT) AS sum_tokens,
          |       round(avg(len(regexp_extract_all(text, '\w+|[^\w\s]', 0))), 6) AS avg_tokens
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Fingerprint dedup: planted case/punctuation variants collapse to the
    // same normalized-md5 fingerprint.
    Q("t04_fingerprint", (s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val variants = docs(s, d).filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000).as("doc_id"), upper(col("text")).as("text"))
      base.union(variants)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .groupBy("fingerprint")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .filter(col("n") > 1)
        .orderBy("fingerprint")
    }, Some(
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id < 3),
        |fp AS (SELECT doc_id,
        |              md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        |       FROM all_docs)
        |SELECT fingerprint, count(*) AS n, min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM fp GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin)),

    // TF-IDF — top-3 terms per language by summed tf·idf.
    // Within-doc duplicate-3-gram fraction (Gopher quality rule): the
    // corpus is repetitive by construction, so ratios are material.
    Q("t06_repetition", (s, d) =>
      TextAnalysis.repetitionProfile(docs(s, d))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          round(col("rep_ratio"), 6).as("rep_ratio"))
        .orderBy("doc_id"),
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
          |  FROM documents),
          |total AS (SELECT doc_id,
          |                 CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n_grams
          |          FROM toks),
          |words AS (
          |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM toks),
          |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
          |       FROM words a
          |       JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
          |       JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
          |dist AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct FROM sh GROUP BY 1)
          |SELECT t.doc_id, t.n_grams, coalesce(d.n_distinct, 0) AS n_distinct,
          |       CASE WHEN t.n_grams > 0
          |            THEN round(1.0 - CAST(coalesce(d.n_distinct, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6)
          |            ELSE 0.0 END AS rep_ratio
          |FROM total t LEFT JOIN dist d USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    // PII redaction: email/phone regex scrub, reported as fingerprint +
    // per-pattern hit counts. The synthetic corpus has no PII, so each doc
    // gets a deterministic contact line appended (derived from doc_id, same
    // construction in the oracle) — the redactor then has real matches to
    // remove. Pure codegen'd regexp_replace scan, no shuffle until the
    // final ordering.
    Q("t07_pii_redact", (s, d) => {
      val raw = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call +1-555-01"), col("doc_id").cast("string"),
          lit(" now")).as("raw"))
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+?\\d[\\d-]{7,}\\d"
      raw.withColumn("redacted",
          regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"))
        .select(col("doc_id"), md5(col("redacted")).as("fp"),
          (size(split(col("redacted"), "<EMAIL>", -1)) - 1).cast("bigint").as("n_email"),
          (size(split(col("redacted"), "<PHONE>", -1)) - 1).cast("bigint").as("n_phone"),
          (length(col("raw")) - length(col("redacted"))).cast("bigint").as("chars_removed"))
        .orderBy("doc_id")
    }, Some(
      """WITH raw AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com or call +1-555-01' || CAST(doc_id AS VARCHAR) ||
        |         ' now' AS raw
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, raw,
        |         regexp_replace(
        |           regexp_replace(raw,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\+?\d[\d-]{7,}\d', '<PHONE>', 'g') AS redacted
        |  FROM raw)
        |SELECT doc_id, md5(redacted) AS fp,
        |       CAST(len(string_split(redacted, '<EMAIL>')) - 1 AS BIGINT) AS n_email,
        |       CAST(len(string_split(redacted, '<PHONE>')) - 1 AS BIGINT) AS n_phone,
        |       CAST(length(raw) - length(redacted) AS BIGINT) AS chars_removed
        |FROM red ORDER BY doc_id""".stripMargin)),

    // Deflate compression-ratio repetitiveness signal. JDK-deflate output
    // is not reproducible in DuckDB → rows-only; the spec asserts the
    // planted ordering (boilerplate ≪ varied prose) and determinism.
    Q("t11_compression_ratio", (s, d) =>
      TextAnalysis.compressionRatio(docs(s, d))
        .orderBy("doc_id"),
      None),

    // Model-based quality filter: logistic regression on row-local text
    // features, trained on the heuristic rule's weak labels, scoring the
    // whole corpus (the CCNet/GPT-3 classifier step). Iterative L-BFGS →
    // rows-only; QualityModelSpec pins separation on a planted corpus.
    Q("t10_quality_classifier", (s, d) =>
      graft.llm.QualityModel.trainScore(docs(s, d))
        .orderBy("doc_id"),
      None),

    // Bigram-LM quality proxy: add-1-smoothed p(w2|w1) over prefix counts,
    // mean log-prob per doc. Row-local bigram extraction (index explode),
    // two model aggregates, 1-row vocab broadcast.
    Q("t12_bigram_logprob", (s, d) =>
      TextAnalysis.bigramLogProb(docs(s, d))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("mean_logprob"), 6).as("mean_logprob"))
        .orderBy("doc_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
          |  FROM documents),
          |bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          |       FROM t, unnest(range(1, len(ws))) AS r(i)
          |       WHERE ws[i] != '' AND ws[i + 1] != ''),
          |cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
          |cug AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
          |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
          |      FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
          |            FROM documents) WHERE w != '')
          |SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |       round(avg(ln(CAST(cbg.c12 + 1 AS DOUBLE) / (cug.c1 + v.v))), 6) AS mean_logprob
          |FROM bi JOIN cbg USING (w1, w2) JOIN cug USING (w1), v
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Watchlist term frequencies via the count-min sketch Aggregator
    // (functions/CountMinAgg): ONE corpus pass folds every token into a
    // fixed 4×1024 long grid with map-side partial merges — the shuffle
    // carries depth×width longs per partition, never per-token rows. At
    // 100 TB the watchlist is a provided dim table and this sketch pass is
    // the only corpus scan; here the watchlist is the corpus vocabulary
    // (31 words ≪ width), which makes the min collision-free and the
    // estimates provably exact — hence the exact-count DuckDB oracle. The
    // general ≥count / ≤count+εN / merge guarantees are CountMinSpec's.
    Q("t13_sketch_watchlist", (s, d) => {
      val cms = udaf(new graft.functions.CountMinAgg(cmsDepth, cmsWidth))
      val toks = corpusTokens(s, d)
      val sk = toks.agg(cms(col("w")).as("sk"))
      // Estimate lookup is a driver-bounded tail (watchlist × one sketch
      // row, broadcast) — the UDF never touches the corpus-sized side.
      toks.distinct().crossJoin(broadcast(sk))
        .select(col("w").as("word"),
          cmsEstimate(col("sk.counts"), col("w")).as("est_count"))
        .orderBy("word")
    }, Some(
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |tk AS (SELECT w FROM toks WHERE w != '')
        |SELECT w AS word, CAST(count(*) AS BIGINT) AS est_count
        |FROM tk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sketch re-aggregation: one CMS per SOURCE (the stored partial), then
    // an elementwise array merge via higher-order functions — the
    // store-partials / merge-on-read shape: a new source's sketch folds
    // into the corpus rollup without rescanning any other source. CMS
    // merge = elementwise sum, so the merged grid is bit-identical to the
    // one-pass corpus sketch, and in the collision-free regime the
    // estimates are the exact counts (same oracle as t13).
    Q("t15_sketch_merge", (s, d) => {
      val cms = udaf(new graft.functions.CountMinAgg(cmsDepth, cmsWidth))
      val toks = corpusTokens(s, d, "source")
      val perSource = toks.groupBy("source").agg(cms(col("w")).as("sk"))
      val merged = perSource.agg(
        aggregate(collect_list(col("sk.counts")),
          array_repeat(lit(0L), cmsDepth * cmsWidth),
          (acc, x) => zip_with(acc, x, (a, b) => a + b)).as("counts"))
      toks.select("w").distinct().crossJoin(broadcast(merged))
        .select(col("w").as("word"),
          cmsEstimate(col("counts"), col("w")).as("est_count"))
        .orderBy("word")
    }, Some(
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |tk AS (SELECT w FROM toks WHERE w != '')
        |SELECT w AS word, CAST(count(*) AS BIGINT) AS est_count
        |FROM tk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Corpus-mix diagnostics: Shannon entropy (bits) of each source's
    // language distribution — the balance metric a training-data mix
    // report leads with. One hash aggregate to (source, lang) counts
    // (bounded by the category product), margins via a window over those
    // counts, entropy as a per-row fixed double sequence summed over ≤
    // |langs| terms.
    Q("t16_lang_entropy", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cnt = docs(s, d).groupBy("source", "lang").agg(count(lit(1)).as("nl"))
      cnt.withColumn("nsrc", sum("nl").over(Window.partitionBy("source")))
        .withColumn("p", col("nl").cast("double") / col("nsrc").cast("double"))
        .groupBy("source")
        // + 0.0 normalizes the signed zero: a monolingual source sums to
        // 0.0, and its negation -0.0 would bit-mismatch the oracle's hash
        .agg(first("nsrc").as("n_docs"), count(lit(1)).as("n_langs"),
          round(-sum(col("p") * log2(col("p"))) + lit(0.0), 6).as("entropy_bits"))
        .orderBy("source")
    }, Some(
      """WITH cnt AS (
        |  SELECT source, lang, count(*) AS nl FROM documents GROUP BY 1, 2),
        |m AS (
        |  SELECT *, sum(nl) OVER (PARTITION BY source) AS nsrc,
        |         CAST(nl AS DOUBLE) / CAST(sum(nl) OVER (PARTITION BY source) AS DOUBLE) AS p
        |  FROM cnt)
        |SELECT source, CAST(any_value(nsrc) AS BIGINT) AS n_docs,
        |       count(*) AS n_langs,
        |       round(-sum(p * log2(p)) + 0.0, 6) AS entropy_bits
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Unigram-LM quality proxy (perplexity-filter stand-in).
    Q("t08_unigram_logprob", (s, d) =>
      TextAnalysis.unigramLogProb(docs(s, d))
        .select(col("doc_id"), col("n_toks"),
          round(col("mean_logprob"), 6).as("mean_logprob"))
        .orderBy("doc_id"),
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
          |  FROM documents),
          |tk AS (SELECT * FROM toks WHERE w != ''),
          |tf AS (SELECT w, count(*) AS cw FROM tk GROUP BY 1),
          |n AS (SELECT CAST(sum(cw) AS BIGINT) AS nt FROM tf)
          |SELECT t.doc_id, count(*) AS n_toks,
          |       round(avg(ln(CAST(tf.cw AS DOUBLE) / CAST(n.nt AS DOUBLE))), 6) AS mean_logprob
          |FROM tk t JOIN tf USING (w), n
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("t05_tfidf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.tfIdf(docs(s, d))
        .join(docs(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "w").agg(round(sum("tfidf"), 6).as("score"))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("score").desc, col("w").asc)))
        .filter(col("rk") <= 3)
        .select("lang", "rk", "w", "score")
        .orderBy("lang", "rk")
    }, Some(
      """WITH words AS (
        |  SELECT doc_id, lang,
        |         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, lang, w, count(*) AS tf FROM words WHERE w != '' GROUP BY 1, 2, 3),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.lang, tf.w,
        |         round(sum(CAST(tf.tf AS DOUBLE) *
        |                   ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE))), 6) AS score
        |  FROM tf JOIN dfreq USING (w) CROSS JOIN n
        |  GROUP BY 1, 2)
        |SELECT lang, rk, w, score FROM (
        |  SELECT lang, w, score,
        |         row_number() OVER (PARTITION BY lang ORDER BY score DESC, w) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin)),

    // BM25 retrieval scoring — the ranked-search counterpart of t05's
    // TF-IDF (and the relevance prior of retrieval-augmented curation):
    // score every document against the fixed query {hash, join, stream}
    // and keep the top 15. Lucene idf variant; k1=1.2, b=0.75. The whole
    // query is one doc-keyed aggregate + a 1-row broadcast corpus-stats
    // cross + TakeOrdered — nothing pairwise, no UDFs, fixed-sequence
    // double arithmetic (ordering on the ROUNDED score so both engines
    // rank identically).
    Q("t21_bm25", (s, d) => {
      val scored = TextAnalysis.bm25(docs(s, d), Seq("hash", "join", "stream"))
        .withColumn("score", round(col("score"), 6))
      scored.filter(col("score") > 0.0)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(15)
    }, Some(
      """WITH words AS (
        |  SELECT doc_id,
        |         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS dl,
        |         CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf_hash,
        |         CAST(sum(CASE WHEN w = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_join,
        |         CAST(sum(CASE WHEN w = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS tf_stream
        |  FROM words WHERE w != '' GROUP BY 1),
        |corpus AS (
        |  SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS sdl,
        |         CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
        |         CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
        |         CAST(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_stream
        |  FROM perdoc),
        |scored AS (
        |  SELECT doc_id, dl, tf_hash, tf_join, tf_stream,
        |    round(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5) / (CAST(df_hash AS DOUBLE) + 0.5))
        |        * (CAST(tf_hash AS DOUBLE) * 2.2)
        |        / (CAST(tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      + ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5) / (CAST(df_join AS DOUBLE) + 0.5))
        |        * (CAST(tf_join AS DOUBLE) * 2.2)
        |        / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      + ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df_stream AS DOUBLE) + 0.5) / (CAST(df_stream AS DOUBLE) + 0.5))
        |        * (CAST(tf_stream AS DOUBLE) * 2.2)
        |        / (CAST(tf_stream AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE)))),
        |      6) AS score
        |  FROM perdoc CROSS JOIN corpus)
        |SELECT doc_id, dl, tf_hash, tf_join, tf_stream, score
        |FROM scored WHERE score > 0.0
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin)),

    // Unicode NFC canonicalization (native codegen Expression `graft_nfc`,
    // java.text.Normalizer-backed) — the hygiene step BEFORE fingerprint
    // dedup: decomposed combining marks (e + U+0301) hash apart from their
    // precomposed forms (U+00E9) and silently defeat exact dedup. Planted
    // fixtures (decomposed/precomposed café pair + a decomposed naïve, the
    // e06 pattern) make the collapse visible: srcU's distinct fingerprint
    // count drops from 3 to 2 after normalization. Oracle uses DuckDB's
    // own nfc_normalize — the two independent Unicode tables must agree
    // byte-for-byte for the hash check to pass.
    Q("t22_nfc_normalize", (s, d) => {
      val sp = s
      import sp.implicits._
      val base = docs(s, d).select(col("doc_id"), col("text"), col("source"))
        .unionByName(Seq(
          (9101L, "cafe\u0301 latte menu", "srcU"), // decomposed e + U+0301
          (9102L, "caf\u00e9 latte menu", "srcU"), // precomposed U+00E9
          (9103L, "nai\u0308ve approach", "srcU")) // decomposed i + U+0308
          .toDF("doc_id", "text", "source"))
      base.select(col("source"), col("text"),
          expr("graft_nfc(text)").as("norm"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("norm") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
          count_distinct(md5(col("text"))).as("fp_pre"),
          count_distinct(md5(col("norm"))).as("fp_post"))
        .orderBy("source")
    }, Some(
      """WITH base AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (9101, 'caf' || 'e' || chr(769) || ' latte menu', 'srcU'),
        |    (9102, 'caf' || chr(233) || ' latte menu', 'srcU'),
        |    (9103, 'nai' || chr(776) || 've approach', 'srcU'))
        |    v(doc_id, text, source)),
        |n AS (SELECT source, text, nfc_normalize(text) AS norm FROM base)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       count(DISTINCT md5(text)) AS fp_pre,
        |       count(DISTINCT md5(norm)) AS fp_post
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),

    // T23 — Zipf slope: OLS fit of ln(freq) on ln(rank) over the top-100
    // corpus terms — natural corpora sit near slope −1, so a far-off slope
    // flags synthetic/templated text (the corpus-level companion of t06's
    // per-doc repetition score). Term counts are exact integers; the
    // bounded 100-row tail computes its regression moments as ORDERED
    // running sums (the a29/a31 pattern) so the double sequence is
    // engine-identical, and the final row carries the fit.
    Q("t23_zipf_slope", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = docs(s, d).select(
        explode(split(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " ")), " ")).as("w"))
        .filter(col("w") =!= "")
      val freq = words.groupBy("w").agg(count(lit(1)).as("freq"))
      val ranked = freq.withColumn("rk", row_number().over(
          Window.orderBy(col("freq").desc, col("w").asc)))
        .filter(col("rk") <= 100)
        .withColumn("x", log(col("rk").cast("double")))
        .withColumn("y", log(col("freq").cast("double")))
      val wCum = Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sums = ranked
        .withColumn("sx", sum("x").over(wCum))
        .withColumn("sy", sum("y").over(wCum))
        .withColumn("sxy", sum(col("x") * col("y")).over(wCum))
        .withColumn("sxx", sum(col("x") * col("x")).over(wCum))
        .withColumn("last", row_number().over(Window.orderBy(col("rk").desc)))
        .filter(col("last") === 1)
      sums.withColumn("slope",
          (d2("rk") * col("sxy") - col("sx") * col("sy"))
            / (d2("rk") * col("sxx") - col("sx") * col("sx")))
        .select(col("rk").as("n_terms"),
          round(col("slope"), 6).as("slope"),
          round((col("sy") - col("slope") * col("sx")) / d2("rk"), 6)
            .as("intercept"))
    }, Some(
      """WITH words AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text),
        |           '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS freq FROM words WHERE w != '' GROUP BY 1),
        |ranked AS (
        |  SELECT w, freq, row_number() OVER (ORDER BY freq DESC, w) AS rk
        |  FROM freq QUALIFY rk <= 100),
        |xy AS (
        |  SELECT rk, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
        |  FROM ranked),
        |sums AS (
        |  SELECT rk,
        |         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |         sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
        |  FROM xy
        |  WINDOW w AS (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  QUALIFY row_number() OVER (ORDER BY rk DESC) = 1),
        |fit AS (
        |  SELECT rk AS n_terms,
        |         (CAST(rk AS DOUBLE) * sxy - sx * sy)
        |         / (CAST(rk AS DOUBLE) * sxx - sx * sx) AS slope,
        |         sx, sy
        |  FROM sums)
        |SELECT n_terms, round(slope, 6) AS slope,
        |       round((sy - slope * sx) / CAST(n_terms AS DOUBLE), 6) AS intercept
        |FROM fit""".stripMargin)),

    // T24 — Heaps' law fit: vocabulary growth V = K·N^β across the corpus
    // ingest order, fit on 10 document-decile checkpoints — β far from
    // ~0.5 flags templated/synthetic text the same way t23's Zipf slope
    // does, and the checkpoint table doubles as the tokenizer's
    // vocabulary-budget forecast. All data-sized steps are aggregates
    // (per-doc token counts, per-term FIRST occurrence via min(doc_id),
    // per-decile rollups); the cumulative/OLS tail runs over the bounded
    // 10-row checkpoint set with ordered running sums (the t23 pattern).
    // The doc-decile ntile is the one global window — over one row per
    // DOCUMENT (not tokens); at 100 TB the same checkpoints come from
    // fixed id ranges with no sort.
    Q("t24_heaps_law", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = docs(s, d).select(col("doc_id"),
        explode(split(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " ")), " ")).as("w"))
        .filter(col("w") =!= "")
      val tokPerDoc = words.groupBy("doc_id").agg(count(lit(1)).as("toks"))
      val dec = tokPerDoc.withColumn("dec",
        ntile(10).over(Window.orderBy("doc_id")))
      val bounds = dec.groupBy("dec").agg(max("doc_id").as("max_doc"),
        sum("toks").as("dec_toks"))
      val firstDoc = words.groupBy("w").agg(min("doc_id").as("first_doc"))
      // decile of each term's first occurrence: smallest decile whose
      // max_doc covers it (≤10-row broadcast, min() collapses the fan-out)
      val termDec = firstDoc.join(broadcast(bounds.select("dec", "max_doc")),
          col("first_doc") <= col("max_doc"))
        .groupBy("w").agg(min("dec").as("dec"))
      val newTerms = termDec.groupBy("dec").agg(count(lit(1)).as("new_terms"))
      val wCum = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = bounds.join(newTerms, Seq("dec"), "left")
        .withColumn("tokens_cum", sum("dec_toks").over(wCum))
        .withColumn("vocab_cum",
          sum(coalesce(col("new_terms"), lit(0L))).over(wCum))
        .withColumn("x", log(col("tokens_cum").cast("double")))
        .withColumn("y", log(col("vocab_cum").cast("double")))
      val sums = pts
        .withColumn("sx", sum("x").over(wCum))
        .withColumn("sy", sum("y").over(wCum))
        .withColumn("sxy", sum(col("x") * col("y")).over(wCum))
        .withColumn("sxx", sum(col("x") * col("x")).over(wCum))
        .withColumn("last", row_number().over(Window.orderBy(col("dec").desc)))
        .filter(col("last") === 1)
      sums.withColumn("beta",
          (d2("dec") * col("sxy") - col("sx") * col("sy"))
            / (d2("dec") * col("sxx") - col("sx") * col("sx")))
        .select(col("dec").as("n_points"),
          col("tokens_cum").as("tokens_total"),
          col("vocab_cum").as("vocab_total"),
          round(col("beta"), 6).as("heaps_beta"),
          round((col("sy") - col("beta") * col("sx")) / d2("dec"), 6)
            .as("intercept"))
    }, Some(
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),
        |           '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |wf AS (SELECT doc_id, w FROM words WHERE w != ''),
        |tpd AS (SELECT doc_id, count(*) AS toks FROM wf GROUP BY 1),
        |dec AS (
        |  SELECT doc_id, toks, ntile(10) OVER (ORDER BY doc_id) AS dec
        |  FROM tpd),
        |bounds AS (
        |  SELECT dec, max(doc_id) AS max_doc, CAST(sum(toks) AS BIGINT) AS dec_toks
        |  FROM dec GROUP BY 1),
        |fd AS (SELECT w, min(doc_id) AS first_doc FROM wf GROUP BY 1),
        |td AS (
        |  SELECT fd.w, min(b.dec) AS dec
        |  FROM fd JOIN bounds b ON fd.first_doc <= b.max_doc
        |  GROUP BY 1),
        |nt AS (SELECT dec, count(*) AS new_terms FROM td GROUP BY 1),
        |pts AS (
        |  SELECT b.dec,
        |         sum(b.dec_toks) OVER w AS tokens_cum,
        |         sum(coalesce(nt.new_terms, 0)) OVER w AS vocab_cum
        |  FROM bounds b LEFT JOIN nt USING (dec)
        |  WINDOW w AS (ORDER BY b.dec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |xy AS (
        |  SELECT dec, tokens_cum, vocab_cum,
        |         ln(CAST(tokens_cum AS DOUBLE)) AS x,
        |         ln(CAST(vocab_cum AS DOUBLE)) AS y
        |  FROM pts),
        |sums AS (
        |  SELECT dec, tokens_cum, vocab_cum,
        |         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |         sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
        |  FROM xy
        |  WINDOW w AS (ORDER BY dec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  QUALIFY row_number() OVER (ORDER BY dec DESC) = 1),
        |fit AS (
        |  SELECT dec, tokens_cum, vocab_cum, sx, sy,
        |         (CAST(dec AS DOUBLE) * sxy - sx * sy)
        |         / (CAST(dec AS DOUBLE) * sxx - sx * sx) AS beta
        |  FROM sums)
        |SELECT dec AS n_points, CAST(tokens_cum AS BIGINT) AS tokens_total,
        |       CAST(vocab_cum AS BIGINT) AS vocab_total,
        |       round(beta, 6) AS heaps_beta,
        |       round((sy - beta * sx) / CAST(dec AS DOUBLE), 6) AS intercept
        |FROM fit""".stripMargin)),

    // ------------------------------------------------------------------
    // Multimodal columns
    // ------------------------------------------------------------------

    // Real decode: JDK-written PNG/JPEG/GIF fixtures ingested via
    // binaryFile, dimensions parsed from the raw container headers by the
    // engine's own byte-level parser (no codec dependency). The non-image
    // decoy exercises the unrecognized-payload drop path.
    Q("m01_image_meta", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m01/images")
      java.nio.file.Files.createDirectories(dir)
      def img(w: Int, h: Int) = {
        val b = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until w; y <- 0 until h) b.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
        b
      }
      javax.imageio.ImageIO.write(img(5, 3), "png", dir.resolve("a.png").toFile)
      javax.imageio.ImageIO.write(img(4, 2), "jpg", dir.resolve("b.jpg").toFile)
      javax.imageio.ImageIO.write(img(7, 1), "gif", dir.resolve("c.gif").toFile)
      java.nio.file.Files.writeString(dir.resolve("d.txt"), "not an image")
      Multimodal.imageMeta(BinaryFiles.read(s, dir.toString, "*"))
        .select("file", "format", "width", "height")
        .orderBy("file")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('a.png', 'png', 5, 3),
        |  ('b.jpg', 'jpeg', 4, 2),
        |  ('c.gif', 'gif', 7, 1)
        |) t(file, format, width, height) ORDER BY file""".stripMargin)),

    // Full pixel decode through the JDK's own ImageIO codecs: lossless PNG
    // fixtures with a known spectrum pattern, exact per-channel integer
    // sums checked against hand-computed VALUES. A decoy exercises the
    // unreadable-payload drop path.
    Q("m03_image_pixels", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m03/images")
      java.nio.file.Files.createDirectories(dir)
      Multimodal.writePixelFixtures(dir)
      Multimodal.imagePixelFeatures(BinaryFiles.read(s, dir.toString, "*"))
        .orderBy("file")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('p1.png', 5, 3, CAST(1667 AS BIGINT), CAST(1665 AS BIGINT), CAST(1783 AS BIGINT)),
        |  ('p2.png', 8, 4, CAST(3155 AS BIGINT), CAST(4057 AS BIGINT), CAST(3776 AS BIGINT)),
        |  ('p3.png', 6, 2, CAST(1150 AS BIGINT), CAST(1522 AS BIGINT), CAST(1544 AS BIGINT))
        |) t(file, width, height, sum_r, sum_g, sum_b) ORDER BY file""".stripMargin)),

    // Deterministic nearest-neighbor resize to a 3×2 thumbnail over the
    // same m03 PNG fixtures: exact channel sums + thumbnail fingerprint
    // vs hand-computed VALUES.
    Q("m04_image_resize", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m03/images")
      java.nio.file.Files.createDirectories(dir)
      Multimodal.writePixelFixtures(dir)
      Multimodal.resizeNearest(BinaryFiles.read(s, dir.toString, "*"), tw = 3, th = 2)
        .orderBy("file")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('p1.png', 3, 2, CAST(444 AS BIGINT), CAST(422 AS BIGINT), CAST(557 AS BIGINT),
        |   '1f83f45b08b107d3e2739782c7567ef2'),
        |  ('p2.png', 3, 2, CAST(266 AS BIGINT), CAST(602 AS BIGINT), CAST(760 AS BIGINT),
        |   '3b468bff14946a290eb3e49f9a64ce6a'),
        |  ('p3.png', 3, 2, CAST(664 AS BIGINT), CAST(908 AS BIGINT), CAST(753 AS BIGINT),
        |   '559952a0a297d0bcc85ba7f1d180b776')
        |) t(file, t_width, t_height, sum_r, sum_g, sum_b, thumb_fp)
        |ORDER BY file""".stripMargin)),

    // Real audio decode: RIFF/WAVE 16-bit PCM parsed from raw bytes, exact
    // integer loudness features vs hand-computed VALUES.
    Q("m05_audio_wav", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m05/audio")
      java.nio.file.Files.createDirectories(dir)
      def pcm(n: Int, mul: Int): Array[Short] =
        Array.tabulate(n)(i => (((i * mul) % 2048) - 1024).toShort)
      java.nio.file.Files.write(dir.resolve("a.wav"),
        Multimodal.encodeWavPcm16Mono(pcm(500, 37), 8000))
      java.nio.file.Files.write(dir.resolve("b.wav"),
        Multimodal.encodeWavPcm16Mono(pcm(300, 91), 16000))
      java.nio.file.Files.writeString(dir.resolve("junk.txt"), "not audio")
      Multimodal.wavFeatures(BinaryFiles.read(s, dir.toString, "*"))
        .orderBy("file")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('a.wav', 1, 8000, CAST(500 AS BIGINT), CAST(256912 AS BIGINT), CAST(1024 AS BIGINT)),
        |  ('b.wav', 1, 16000, CAST(300 AS BIGINT), CAST(155274 AS BIGINT), CAST(1024 AS BIGINT))
        |) t(file, channels, sample_rate, n_samples, sum_abs, peak)
        |ORDER BY file""".stripMargin)),

    // Temporal frame sampling: a 6-frame animated GIF (written by the
    // engine's own bit-exact GIF89a encoder), every 2nd frame decoded via
    // the JDK multi-image reader, exact channel sums vs hand-computed
    // VALUES.
    Q("m06_gif_frames", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m06/video")
      java.nio.file.Files.createDirectories(dir)
      val (w, h) = (4, 3)
      val palette = Array.tabulate(16)(i => (i * 17, 255 - i * 17, (i * 37) % 256))
      def idx(f: Int) = Array.tabulate(w * h) { p =>
        val x = p % w; val y = p / w
        (f * 5 + x * 3 + y * 7) % 16
      }
      java.nio.file.Files.write(dir.resolve("anim.gif"),
        Multimodal.encodeAnimatedGif16(w, h, palette, (0 until 6).map(idx)))
      java.nio.file.Files.writeString(dir.resolve("junk.txt"), "not video")
      Multimodal.gifFrameFeatures(BinaryFiles.read(s, dir.toString, "*"), stride = 2)
        .orderBy("file", "frame_id")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('anim.gif', 0, 4, 3, CAST(1258 AS BIGINT), CAST(1802 AS BIGINT), CAST(946 AS BIGINT)),
        |  ('anim.gif', 2, 4, 3, CAST(1394 AS BIGINT), CAST(1666 AS BIGINT), CAST(986 AS BIGINT)),
        |  ('anim.gif', 4, 4, 3, CAST(1530 AS BIGINT), CAST(1530 AS BIGINT), CAST(1282 AS BIGINT))
        |) t(file, frame_id, width, height, sum_r, sum_g, sum_b)
        |ORDER BY file, frame_id""".stripMargin)),

    // Exact duplicate-span candidates (span-level dedup, Lee et al.
    // ACL'22): every position whose 10-token span recurs in another doc.
    Q("d09_duplicate_spans", (s, d) =>
      Dedup.duplicateSpans(docs(s, d), n = 10)
        .orderBy("doc_id", "pos"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
          |  FROM documents),
          |sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
          |              md5(array_to_string(list_slice(ws, i, i + 9), ' ')) AS gh
          |       FROM t, unnest(range(1, len(ws) - 8)) AS r(i)
          |       WHERE len(ws) >= 10),
          |dup AS (SELECT gh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          |        FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
          |SELECT sh.doc_id, sh.pos, sh.gh, dup.n_docs
          |FROM sh JOIN dup USING (gh)
          |ORDER BY doc_id, pos""".stripMargin)),

    // Keep-first duplicate-span REMOVAL (the transform half of d09's
    // candidate mask — Lee et al. ACL'22 §4: delete every later occurrence
    // of a repeated substring span-wise, keep the corpus-first one). The
    // corpus is augmented with PREFIX-SHIFTED copies of three docs — the
    // case C4 line dedup (t20, non-overlapping blocks) structurally
    // misses: one prepended token shifts every block boundary, but
    // overlapping spans are shift-invariant, so the copies collapse to
    // their two prefix tokens while the originals (corpus-first) stay
    // byte-identical. Hash-checked per doc: exact token accounting + the
    // md5 of the redacted token stream.
    Q("d13_substring_remove", (s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val copies = docs(s, d).filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("prepended marker "), col("text")).as("text"))
      Dedup.removeDuplicateSpans(base.union(copies), n = 10)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("n_kept"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    }, Some(
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'prepended marker ' || text
        |  FROM documents WHERE doc_id < 3),
        |t AS (SELECT doc_id,
        |        string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |      FROM aug),
        |sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |              md5(array_to_string(list_slice(ws, i, i + 9), ' ')) AS gh
        |       FROM t, unnest(range(1, len(ws) - 8)) AS r(i)
        |       WHERE len(ws) >= 10),
        |dup AS (SELECT gh FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |occ AS (SELECT sh.doc_id, sh.pos,
        |               row_number() OVER (PARTITION BY sh.gh
        |                                  ORDER BY sh.doc_id, sh.pos) AS rn
        |        FROM sh JOIN dup USING (gh)),
        |rem AS (SELECT DISTINCT doc_id, CAST(p AS INT) AS i
        |        FROM occ, unnest(range(pos, pos + 10)) AS rr(p)
        |        WHERE rn > 1),
        |wds AS (SELECT doc_id, w, CAST(i AS INT) AS i
        |        FROM (SELECT doc_id, unnest(ws) AS w,
        |                     generate_subscripts(ws, 1) AS i FROM t)
        |        WHERE w != ''),
        |kept AS (SELECT wds.doc_id, wds.w, wds.i
        |         FROM wds LEFT JOIN rem
        |           ON rem.doc_id = wds.doc_id AND rem.i = wds.i
        |         WHERE rem.doc_id IS NULL),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               md5(string_agg(w, ' ' ORDER BY i)) AS fp
        |        FROM kept GROUP BY 1),
        |nt AS (SELECT doc_id,
        |              CAST(len(list_filter(ws, w -> w != '')) AS BIGINT) AS n_tokens
        |       FROM t)
        |SELECT nt.doc_id, nt.n_tokens,
        |       nt.n_tokens - coalesce(a.n_kept, 0) AS n_removed,
        |       coalesce(a.n_kept, 0) AS n_kept,
        |       coalesce(a.fp, md5('')) AS fp
        |FROM nt LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Winnowing fingerprints (MOSS, Schleimer et al. SIGMOD'03): per-doc
    // selected-fingerprint census over the corpus + prefix-shifted copies
    // (positions shift by the 18-char prefix, fingerprint VALUES are
    // shift-invariant — d16 proves the copies still match). Hash-checked:
    // selection count + the md5 of the position-ordered fingerprint
    // stream, i.e. the full (pos, fp) selection replayed cell-exactly.
    Q("d15_winnowing", (s, d) => {
      val fp = Dedup.winnowFingerprints(winnowCorpus(s, d), k = 12)
      fp.groupBy("doc_id").agg(
          count(lit(1)).as("n_fp"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("fp")))),
            x => x.getField("fp").cast("string")), ",")).as("fp_sig"))
        .orderBy("doc_id")
    }, Some(winnowSelSql +
      """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |       md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY pos)) AS fp_sig
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // MOSS match detection over the winnowed fingerprints: document pairs
    // sharing >= 3 selected fingerprint VALUES (inverted-index join on the
    // fingerprint — collision-proportional, never all-pairs), with the d10
    // document-frequency guard: fingerprints appearing in > 64 docs are
    // boilerplate grams whose df² pair fan-out is the join's only blowup
    // axis (measured at sf0.1: 37M pair rows unguarded → 6.6M at df ≤ 64)
    // and carry no match signal. The planted prefix-shifted copies MUST
    // pair with their originals (the winnowing guarantee: any
    // >= w+k-1 = 15-char shared substring shares a fingerprint; the
    // copies share the whole text), which a whole-text fingerprint
    // (d01/t04) structurally cannot see.
    Q("d16_winnow_matches", (s, d) => {
      // persisted: the distinct selection feeds the df histogram AND both
      // sides of the pair join — four recomputes of the winnow otherwise
      val sel = graft.ops.Caches.track(
        Dedup.winnowFingerprints(winnowCorpus(s, d), k = 12)
          .select("doc_id", "fp").distinct().persist())
      val rare = sel.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 64).select("fp")
      val pruned = sel.join(rare, "fp")
      pruned.as("a").join(pruned.as("b"), "fp")
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 3)
        .orderBy("doc_a", "doc_b")
    }, Some(winnowSelSql +
      """, dfp AS (SELECT DISTINCT doc_id, fp FROM sel),
        |rare AS (SELECT fp FROM dfp GROUP BY fp HAVING count(*) <= 64),
        |pruned AS (SELECT dfp.doc_id, dfp.fp FROM dfp JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS shared
        |FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY 1, 2""".stripMargin)),

    // Perceptual difference hash (dHash) per image: nearest-neighbor 9×8
    // grayscale grid over the full pixel decode, 64 gradient-sign bits.
    // Fixtures: a base pattern, a +10-uniform-brightness copy (dHash is
    // gradient-based, so the hash is IDENTICAL), a locally-perturbed copy
    // (1 bit flips), and an unrelated pattern (26 bits differ). Expected
    // hex values computed independently in Python from the pattern
    // formulas, not from this implementation.
    Q("m07_image_dhash", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m07/images")
      java.nio.file.Files.createDirectories(dir)
      Multimodal.writeDHashFixtures(dir)
      Multimodal.imageDHash(BinaryFiles.read(s, dir.toString, "*"))
        .select("file", "dhash_hex")
        .orderBy("file")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('a_base.png',    '90909430a0202020'),
        |  ('a_bright.png',  '90909430a0202020'),
        |  ('a_neardup.png', '90909430a0202000'),
        |  ('b_other.png',   '529229a4299252a4')
        |) t(file, dhash_hex) ORDER BY file""".stripMargin)),

    // Image near-dup pairs: banded Hamming blocking over the dHash (the
    // same 4×16-bit multi-table scheme as text SimHash — Dedup.simhashPairs
    // generalized over id/hash columns), exact bit_count verification on
    // candidates only. The unrelated image shares no 16-bit band with the
    // others, so it never even becomes a candidate pair.
    Q("d08_image_neardup", (s, _) => {
      val dir = java.nio.file.Paths.get(s"${Q.scratch}/m07/images")
      java.nio.file.Files.createDirectories(dir)
      Multimodal.writeDHashFixtures(dir)
      val hashes = Multimodal.imageDHash(BinaryFiles.read(s, dir.toString, "*"))
      Dedup.simhashPairs(hashes, maxHamming = 10, idCol = "file", hashCol = "dhash")
        .withColumnRenamed("doc_a", "file_a").withColumnRenamed("doc_b", "file_b")
        .orderBy("file_a", "file_b")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('a_base.png',   'a_bright.png',  0),
        |  ('a_base.png',   'a_neardup.png', 1),
        |  ('a_bright.png', 'a_neardup.png', 1)
        |) t(file_a, file_b, hamming) ORDER BY file_a, file_b""".stripMargin)),

    // Stub tier: opaque-binary packing + per-partition batched feature
    // extraction over text payloads (the mapInPandas plumbing shape); the
    // pixel-decode stand-in is a deterministic fake, oracle-checked.
    Q("m02_multimodal_stub", (s, d) =>
      Multimodal.stubPipeline(docs(s, d)).orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |       CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
          |       (CAST(octet_length(encode(text)) AS BIGINT) * 31 + ascii(substr(text, 1, 1))) % 997 AS stub_feature
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // t17 — HTML boilerplate stripping (the web-crawl ingest step in
    // front of every dedup/quality stage; trafilatura's job, restated as
    // a codegen'd regexp chain — script/style/comment blocks out, tags to
    // spaces, entities decoded, whitespace collapsed). Each document is
    // wrapped in a deterministic page template (nav, ads on every third
    // doc, footer) so the extractor has real boilerplate to remove; the
    // md5 of the extracted text proves byte-exact extraction against the
    // oracle's identical RE2 chain. Pure per-row work — zero shuffles
    // until the final orderBy.
    Q("t17_html_extract", (s, d) => {
      val html = wrapHtml(col("doc_id"), col("source"), col("text"))
      val txt = graft.llm.Web.htmlText(html)
      docs(s, d).select(col("doc_id"), html.as("__h"), txt.as("__t"))
        .select(col("doc_id"),
          graft.llm.Web.linkCount(col("__h")).as("n_links"),
          length(col("__t")).cast("bigint").as("text_chars"),
          round(graft.llm.Web.linkDensity(col("__h"), col("__t")), 6)
            .as("link_density"),
          md5(col("__t")).as("text_md5"))
        .orderBy("doc_id")
    }, Some {
      s"""WITH h AS (
         |  SELECT doc_id, $htmlSqlExpr AS html
         |  FROM documents),
         |$htmlTextCtes
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(html, '(?i)<a\\b')) AS BIGINT) AS n_links,
         |       CAST(length(txt) AS BIGINT) AS text_chars,
         |       round(CAST(len(regexp_extract_all(html, '(?i)<a\\b')) AS DOUBLE)
         |             / greatest(CAST(len(string_split(txt, ' ')) AS DOUBLE), 1.0), 6) AS link_density,
         |       md5(txt) AS text_md5
         |FROM x ORDER BY doc_id""".stripMargin
    }),

    // e06 — the web-corpus ingest lifecycle as ONE oracle-checked DAG:
    // crawl replicas (exact re-crawls of the first 20 pages, doc_id offset
    // chosen to preserve the template's doc_id-derived ad block) → HTML
    // extraction → quality gate → language ID → fingerprint dedup
    // (keep-first by min doc_id) → per-language corpus stats. The
    // curation analog of e04 in which every stage is SQL-expressible, so
    // the WHOLE pipeline hash-checks against DuckDB — extraction chain,
    // quality formula, langid tie-breaks, dedup and all. Two shuffles
    // (dedup keep-first, final rollup); everything upstream is row-local.
    Q("e06_web_pipeline", (s, d) => {
      import s.implicits._
      val dd = docs(s, d).select("doc_id", "text", "source")
      // Planted non-English pages (stopword-dominant de/es/fr, long enough
      // to clear the length-term of the quality gate) force MULTIPLE
      // lang_pred output groups, so the hash check discriminates the
      // langid branches and per-language rollup — with the natural corpus
      // alone every doc predicts 'en' and the output collapses to one row
      // (round-5 advisory).
      val planted = Seq(
        (3000001L, "der die und das ist nicht " * 30, "plant"),
        (3000002L, "el los las una es y " * 40, "plant"),
        (3000003L, "le la et les une est " * 40, "plant"))
        .toDF("doc_id", "text", "source")
      val ingest = dd.union(dd.filter(col("doc_id") < 20)
        .select((col("doc_id") + 2000001L).as("doc_id"), col("text"), col("source")))
        .union(planted)
      val txt = graft.llm.Web.htmlText(
        wrapHtml(col("doc_id"), col("source"), col("text")))
      val staged = ingest
        .select(col("doc_id"), txt.as("__t"))
        .withColumn("q", TextAnalysis.qualityScore(col("__t")))
        .filter(col("q") >= 0.3)
        .withColumn("lang_pred", TextAnalysis.langId(col("__t")))
        .withColumn("fp", TextAnalysis.fingerprint(col("__t")))
      // keep-first per fingerprint as ONE window pass (r9): the
      // groupBy(fp).min(doc_id) + join-back formulation evaluated the
      // whole row-local extraction chain TWICE (the plan showed the
      // Union/regex subtree under both the broadcast agg and the probe
      // side) — min-by-doc_id via row_number is the identical keep rule
      // with the chain evaluated once and one fp shuffle instead of two.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col("doc_id").asc)
      staged.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("__t"))).as("sum_tokens"),
          round(avg("q"), 6).as("avg_quality"))
        .orderBy("lang_pred")
    }, Some {
      s"""WITH ingest AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000001, text, source FROM documents WHERE doc_id < 20
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (3000001, repeat('der die und das ist nicht ', 30), 'plant'),
         |    (3000002, repeat('el los las una es y ', 40), 'plant'),
         |    (3000003, repeat('le la et les une est ', 40), 'plant'))
         |    t(doc_id, text, source)),
         |h AS (
         |  SELECT doc_id, $htmlSqlExpr AS html
         |  FROM ingest),
         |$htmlTextCtes,
         |staged AS (
         |  SELECT doc_id, txt,
         |         least(CAST(len(regexp_extract_all(lower(txt), '\\b(the|and|of|to|is|in)\\b', 0)) AS DOUBLE)
         |               / CAST(greatest(len(regexp_extract_all(lower(txt), '[a-z0-9]+', 0)), 1) AS DOUBLE) * 2.0, 1.0) * 0.4 +
         |         (CASE WHEN CAST(length(regexp_replace(lower(txt), '[^a-z0-9]', '', 'g')) AS DOUBLE)
         |                    / CAST(greatest(len(regexp_extract_all(lower(txt), '[a-z0-9]+', 0)), 1) AS DOUBLE) >= 3.0
         |                AND CAST(length(regexp_replace(lower(txt), '[^a-z0-9]', '', 'g')) AS DOUBLE)
         |                    / CAST(greatest(len(regexp_extract_all(lower(txt), '[a-z0-9]+', 0)), 1) AS DOUBLE) <= 8.0
         |               THEN 0.3 ELSE 0.0 END) +
         |         least(CAST(length(txt) AS DOUBLE) / 500.0, 1.0) * 0.3 AS q,
         |         CASE WHEN len(regexp_extract_all(lower(txt), '\\b(the|and|of|to|is|in)\\b', 0)) >= len(regexp_extract_all(lower(txt), '\\b(der|die|und|das|ist|nicht)\\b', 0))
         |               AND len(regexp_extract_all(lower(txt), '\\b(the|and|of|to|is|in)\\b', 0)) >= len(regexp_extract_all(lower(txt), '\\b(el|los|las|una|es|y)\\b', 0))
         |               AND len(regexp_extract_all(lower(txt), '\\b(the|and|of|to|is|in)\\b', 0)) >= len(regexp_extract_all(lower(txt), '\\b(le|la|et|les|une|est)\\b', 0)) THEN 'en'
         |              WHEN len(regexp_extract_all(lower(txt), '\\b(der|die|und|das|ist|nicht)\\b', 0)) >= len(regexp_extract_all(lower(txt), '\\b(el|los|las|una|es|y)\\b', 0))
         |               AND len(regexp_extract_all(lower(txt), '\\b(der|die|und|das|ist|nicht)\\b', 0)) >= len(regexp_extract_all(lower(txt), '\\b(le|la|et|les|une|est)\\b', 0)) THEN 'de'
         |              WHEN len(regexp_extract_all(lower(txt), '\\b(el|los|las|una|es|y)\\b', 0)) >= len(regexp_extract_all(lower(txt), '\\b(le|la|et|les|une|est)\\b', 0)) THEN 'es'
         |              ELSE 'fr' END AS lang_pred,
         |         md5(trim(regexp_replace(lower(txt), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM x
         |  WHERE least(CAST(len(regexp_extract_all(lower(txt), '\\b(the|and|of|to|is|in)\\b', 0)) AS DOUBLE)
         |              / CAST(greatest(len(regexp_extract_all(lower(txt), '[a-z0-9]+', 0)), 1) AS DOUBLE) * 2.0, 1.0) * 0.4 +
         |        (CASE WHEN CAST(length(regexp_replace(lower(txt), '[^a-z0-9]', '', 'g')) AS DOUBLE)
         |                   / CAST(greatest(len(regexp_extract_all(lower(txt), '[a-z0-9]+', 0)), 1) AS DOUBLE) >= 3.0
         |               AND CAST(length(regexp_replace(lower(txt), '[^a-z0-9]', '', 'g')) AS DOUBLE)
         |                   / CAST(greatest(len(regexp_extract_all(lower(txt), '[a-z0-9]+', 0)), 1) AS DOUBLE) <= 8.0
         |              THEN 0.3 ELSE 0.0 END) +
         |        least(CAST(length(txt) AS DOUBLE) / 500.0, 1.0) * 0.3 >= 0.3),
         |keep AS (
         |  SELECT fp, min(doc_id) AS doc_id FROM staged GROUP BY 1)
         |SELECT s.lang_pred, count(*) AS n_docs,
         |       CAST(sum(len(regexp_extract_all(s.txt, '\\w+|[^\\w\\s]', 0))) AS BIGINT) AS sum_tokens,
         |       round(avg(s.q), 6) AS avg_quality
         |FROM staged s JOIN keep k ON s.fp = k.fp AND s.doc_id = k.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // t18 — URL normalization + per-domain crawl stats: host/path via
    // parse_url (codegen'd), tracking params (utm_*/ref/click-ids)
    // stripped with an array filter preserving parameter order, fragment
    // dropped, registered domain = last two host labels. The per-domain
    // rollup is the crawl-quota/dedup grouping every web pipeline runs;
    // one hash aggregate after row-local canonicalization.
    Q("t18_url_normalize", (s, d) => {
      val id = col("doc_id").cast("string")
      val host = concat(lit("www."), col("source"),
        when(length(col("source")) === 4, lit(".net")).otherwise(lit(".org")))
      val url = concat(lit("https://"), host, lit("/"), col("lang"),
        lit("/article-"), id, lit(".html?utm_source=feed&id="), id,
        lit("&utm_campaign=c"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit("&ref=mail#sec-"), pmod(col("doc_id"), lit(5)).cast("string"))
      docs(s, d).select(url.as("__u"))
        .select(graft.llm.Web.registeredDomain(col("__u")).as("domain"),
          graft.llm.Web.urlPath(col("__u")).as("__p"),
          graft.llm.Web.canonicalUrl(col("__u")).as("__c"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          count_distinct(col("__p")).as("n_paths"),
          min("__c").as("sample_url"))
        .orderBy("domain")
    }, Some(
      """WITH u AS (
        |  SELECT 'https://www.' || source
        |         || CASE WHEN length(source) = 4 THEN '.net' ELSE '.org' END
        |         || '/' || lang || '/article-' || CAST(doc_id AS VARCHAR)
        |         || '.html?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
        |         || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
        |         || '&ref=mail#sec-' || CAST(doc_id % 5 AS VARCHAR) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
        |         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
        |         regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
        |         array_to_string(list_filter(
        |           string_split(coalesce(regexp_extract(url, '\?([^#]*)', 1), ''), '&'),
        |           x -> x <> '' AND NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref=')
        |                                 OR starts_with(x, 'fbclid=') OR starts_with(x, 'gclid='))),
        |           '&') AS q
        |  FROM u)
        |SELECT regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |       count(*) AS n_urls,
        |       count(DISTINCT path) AS n_paths,
        |       min(scheme || '://' || host || path
        |           || CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS sample_url
        |FROM parts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Gopher quality-rule bundle (Rae et al. 2021 §A1.1, public): word
    // count in [30, 100k], mean word length in [3, 10], symbol-to-word
    // ratio <= 0.1, >= 80% of words with an alphabetic character, >= 2
    // stopword hits. Every per-doc signal is row-local, every boundary
    // comparison is exact integer arithmetic (chars < 3*words instead of
    // chars/words < 3.0), and the per-source report is ONE hash aggregate
    // — the a17 expectations shape, so at 100 TB the shuffle carries one
    // counter row per (source, partition). Three planted violator
    // fixtures (symbol-laden, pathological word length, digit-only words)
    // make the rules that the clean corpus would never trip bind.
    Q("t19_gopher_rules", (s, d) => {
      val base = docs(s, d).select("doc_id", "source", "text")
      def planted(off: Int)(t: org.apache.spark.sql.Column) =
        docs(s, d).filter(col("doc_id") < 4)
          .select((col("doc_id") + off).as("doc_id"), col("source"), t.as("text"))
      val aug = base
        .union(planted(2000000)(concat(lit("# … " * 30), col("text"))))
        .union(planted(3000000)(regexp_replace(col("text"), "[a-z]+",
          "pneumonoultramicroscopicsilicovolcanoconiosis")))
        .union(planted(4000000)(lit(Seq.fill(40)("1234").mkString(" "))))
      val norm = TextAnalysis.normalized(col("text"))
      val f = aug.select(col("source"),
        size(split(norm, " ")).as("nw"),
        (length(norm) - size(split(norm, " ")) + 1).as("chars"),
        size(filter(split(norm, " "), w => w.rlike("[a-z]"))).as("alphaw"),
        regexp_count(lower(col("text")),
          lit("\\b(the|and|of|to|is|in)\\b")).as("stops"),
        regexp_count(col("text"), lit("#|…|\\.\\.\\.")).as("symc"))
      def flag(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      f.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          flag(col("nw") < 30 || col("nw") > 100000).as("fail_word_count"),
          flag(col("chars") < col("nw") * 3 || col("chars") > col("nw") * 10)
            .as("fail_mean_word_len"),
          flag(col("symc") * 10 > col("nw")).as("fail_symbol_ratio"),
          flag(col("alphaw") * 5 < col("nw") * 4).as("fail_alpha_ratio"),
          flag(col("stops") < 2).as("fail_stopwords"),
          flag(col("nw").between(30, 100000) &&
            col("chars").between(col("nw") * 3, col("nw") * 10) &&
            col("symc") * 10 <= col("nw") && col("alphaw") * 5 >= col("nw") * 4 &&
            col("stops") >= 2).as("n_pass"))
        .orderBy("source")
    }, Some(
      """WITH aug AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, source, repeat('# … ', 30) || text
        |  FROM documents WHERE doc_id < 4
        |  UNION ALL
        |  SELECT doc_id + 3000000, source,
        |         regexp_replace(text, '[a-z]+',
        |                        'pneumonoultramicroscopicsilicovolcanoconiosis', 'g')
        |  FROM documents WHERE doc_id < 4
        |  UNION ALL
        |  SELECT doc_id + 4000000, source, trim(repeat('1234 ', 40))
        |  FROM documents WHERE doc_id < 4),
        |f AS (SELECT source,
        |  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws,
        |  length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS chars,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) AS stops,
        |  len(regexp_extract_all(text, '#|…|\.\.\.', 0)) AS symc
        |FROM aug),
        |g AS (SELECT source, len(ws) AS nw, chars,
        |  len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alphaw,
        |  stops, symc FROM f)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nw < 30 OR nw > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
        |  CAST(sum(CASE WHEN chars < nw * 3 OR chars > nw * 10 THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
        |  CAST(sum(CASE WHEN symc * 10 > nw THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
        |  CAST(sum(CASE WHEN alphaw * 5 < nw * 4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_ratio,
        |  CAST(sum(CASE WHEN stops < 2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
        |  CAST(sum(CASE WHEN nw BETWEEN 30 AND 100000
        |                 AND chars BETWEEN nw * 3 AND nw * 10
        |                 AND symc * 10 <= nw AND alphaw * 5 >= nw * 4
        |                 AND stops >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C4-style corpus-level exact line dedup (Raffel et al. 2020 §2.2,
    // public: "we discard all but one of any three-sentence span
    // occurring more than once", here at line granularity): documents are
    // segmented into 8-word lines row-locally (sequence + slice — no
    // per-token shuffle), the corpus-wide keep-first is ONE window over
    // the line key, and the cleaned text is reassembled per doc in
    // deterministic pos order. Planted full-document copies (the t04
    // fixture move) guarantee cross-doc duplicate lines exist; the
    // keep-first tie-break (doc_id, pos) retains the original. At 100 TB
    // the line-hash shuffle is the cost and it is the operator's floor —
    // every line must meet its duplicates once.
    Q("t20_c4_line_dedup", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, d).select("doc_id", "text")
      val copies = docs(s, d).filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val ws = split(TextAnalysis.normalized(col("text")), " ")
      val lines = base.union(copies).select(col("doc_id"),
        posexplode(transform(sequence(lit(0), floor((size(ws) - 1) / 8).cast("int")),
          i => array_join(slice(ws, i * 8 + 1, lit(8)), " "))))
        .toDF("doc_id", "pos", "line")
      lines
        .withColumn("rn", row_number().over(
          Window.partitionBy("line").orderBy("doc_id", "pos")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("pos"), col("line"))))),
            x => x.getField("line")), " ")).as("fp"))
        .orderBy("doc_id")
    }, Some(
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 3),
        |toks AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |  FROM aug),
        |words AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
        |          FROM toks),
        |lines AS (SELECT doc_id, (i - 1) // 8 AS pos,
        |                 string_agg(w, ' ' ORDER BY i) AS line
        |          FROM words GROUP BY 1, 2),
        |r AS (SELECT doc_id, pos, line,
        |             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |      FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' '
        |                               ORDER BY pos), '')) AS fp
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // T25 — calibration audit of the heuristic quality score against the
    // Gopher rule-bundle verdict: reliability-diagram bins + expected
    // calibration error (ECE). A quality score used as an admission
    // PROBABILITY must be calibrated — this is the audit that says it
    // isn't (the sf0.01 corpus shows pass rates 0%→88% across score bins
    // while the score only spans 0.36→0.62). Shape: one row-local feature
    // projection → ONE 10-bin hash aggregate → a 10-row window; nothing
    // data-sized is sorted. Fully oracle-checked: the binning floor is on
    // IEEE-identical score doubles (t02's n_low proves Spark and DuckDB
    // agree on these exact doubles), and the per-bin mean confidence sums
    // floor(score·1e9) as an exact decimal — order-independent across
    // partitions AND engines, unlike a raw double avg whose partial-
    // aggregation order would differ from DuckDB's sequential sum.
    Q("t25_calibration_ece", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lab = docs(s, d).select(
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.gopherPass(col("text")).cast("long").as("label"))
        .withColumn("bin", least(floor(col("score") * 10).cast("bigint"), lit(9L)))
      val bins = lab.groupBy("bin").agg(
        count(lit(1)).as("n"), sum("label").as("n_pass"),
        sum(floor(col("score") * 1e9).cast("decimal(38,0)")).as("s9"))
      val wAll = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRun = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bins
        .withColumn("conf",
          col("s9").cast("double") / 1e9 / col("n").cast("double"))
        .withColumn("acc", col("n_pass").cast("double") / col("n").cast("double"))
        .withColumn("n_tot", sum("n").over(wAll))
        .withColumn("ece_running",
          sum(abs(col("acc") - col("conf"))
            * col("n").cast("double") / col("n_tot").cast("double")).over(wRun))
        .select(col("bin"), col("n"), col("n_pass"),
          round(col("conf"), 6).as("conf"), round(col("acc"), 6).as("acc"),
          round(col("ece_running"), 6).as("ece_running"))
        .orderBy("bin")
    }, Some(
      """WITH ce_f AS (SELECT
        |  least(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) /
        |    CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE) * 2.0, 1.0) * 0.4 +
        |  (CASE WHEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) /
        |      CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE)
        |      BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END) +
        |  least(length(text) / 500.0, 1.0) * 0.3 AS score,
        |  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws,
        |  length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS chars,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) AS stops,
        |  len(regexp_extract_all(text, '#|…|\.\.\.', 0)) AS symc
        |FROM documents),
        |ce_g AS (SELECT score, len(ws) AS nw, chars,
        |  len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alphaw,
        |  stops, symc FROM ce_f),
        |ce_l AS (SELECT score,
        |  CASE WHEN nw BETWEEN 30 AND 100000
        |        AND chars BETWEEN nw * 3 AND nw * 10
        |        AND symc * 10 <= nw AND alphaw * 5 >= nw * 4
        |        AND stops >= 2 THEN 1 ELSE 0 END AS label,
        |  least(CAST(floor(score * 10) AS BIGINT), 9) AS bin
        |FROM ce_g),
        |ce_b AS (SELECT bin, count(*) AS n,
        |  CAST(sum(label) AS BIGINT) AS n_pass,
        |  CAST(sum(CAST(floor(score * 1e9) AS HUGEINT)) AS DOUBLE) / 1e9
        |    / CAST(count(*) AS DOUBLE) AS conf
        |FROM ce_l GROUP BY 1),
        |ce_r AS (SELECT bin, n, n_pass, conf,
        |  CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |  CAST(sum(n) OVER () AS BIGINT) AS n_tot
        |FROM ce_b)
        |SELECT bin, n, n_pass, round(conf, 6) AS conf, round(acc, 6) AS acc,
        |  round(sum(abs(acc - conf) * CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE))
        |        OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS ece_running
        |FROM ce_r ORDER BY bin""".stripMargin)),

    // T26 — isotonic (PAV) calibration of the same score→label pair: the
    // monotone step function that MAKES the quality score a usable
    // admission probability (the standard fix the t25 audit motivates).
    // The engine's distributed exact-integer PAV (per-partition pooling +
    // bounded driver merge — nothing data-sized driver-side; see
    // QualityModel.isotonicFit). Output = the fitted (boundary,
    // calibrated) step table, a bounded model surface. FULLY
    // oracle-checked (r9): PAV's unique L2 fixpoint has the closed
    // minimax characterization ŷᵢ = max_{j≤i} min_{k≥i} mean(j..k),
    // which DuckDB computes from the SAME exact integer prefix sums over
    // the SAME 1e-9 score grid — monotone correct rounding makes the
    // double max-of-mins equal the engine's block-ratio double bit for
    // bit. ExactInferenceSpec additionally pins hand-computed pools,
    // partitioning invariance, monotonicity, and the [0,1] range.
    Q("t26_isotonic_calibration", (s, d) => {
      val cal = graft.llm.QualityModel.isotonicCalibration(
        docs(s, d), graft.llm.TextAnalysis.gopherPass(col("text")))
      cal.select(col("idx"), round(col("boundary"), 6).as("boundary"),
          round(col("calibrated"), 6).as("calibrated"))
        .orderBy("idx")
    }, Some(
      """WITH ce_f AS (SELECT
        |  least(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) /
        |    CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE) * 2.0, 1.0) * 0.4 +
        |  (CASE WHEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) /
        |      CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE)
        |      BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END) +
        |  least(length(text) / 500.0, 1.0) * 0.3 AS score,
        |  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws,
        |  length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS chars,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) AS stops,
        |  len(regexp_extract_all(text, '#|…|\.\.\.', 0)) AS symc
        |FROM documents),
        |ce_g AS (SELECT score, len(ws) AS nw, chars,
        |  len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alphaw,
        |  stops, symc FROM ce_f),
        |ce_l AS (SELECT score,
        |  CASE WHEN nw BETWEEN 30 AND 100000
        |        AND chars BETWEEN nw * 3 AND nw * 10
        |        AND symc * 10 <= nw AND alphaw * 5 >= nw * 4
        |        AND stops >= 2 THEN 1 ELSE 0 END AS label
        |FROM ce_g),
        |iso_p AS (
        |  SELECT CAST(floor(score * 1e9) AS BIGINT) AS k9,
        |         CAST(sum(CAST(label AS BIGINT) * 1000000000) AS BIGINT) AS l9,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM ce_l GROUP BY 1),
        |iso_o AS (
        |  SELECT k9, l9, w,
        |         row_number() OVER (ORDER BY k9) AS i,
        |         CAST(sum(l9) OVER (ORDER BY k9) AS BIGINT) AS cl,
        |         CAST(sum(w) OVER (ORDER BY k9) AS BIGINT) AS cw
        |  FROM iso_p),
        |iso_pairs AS (
        |  SELECT j.i AS j, k.i AS k,
        |         CAST(k.cl - (j.cl - j.l9) AS DOUBLE)
        |           / CAST(k.cw - (j.cw - j.w) AS DOUBLE) / 1e9 AS a
        |  FROM iso_o j JOIN iso_o k ON k.i >= j.i),
        |iso_sfx AS (
        |  SELECT j, k, min(a) OVER (PARTITION BY j ORDER BY k DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM iso_pairs),
        |iso_fit AS (SELECT k AS i, max(m) AS v FROM iso_sfx GROUP BY k),
        |iso_runs AS (
        |  SELECT f.v, min(o.k9) AS klo, max(o.k9) AS khi
        |  FROM iso_fit f JOIN iso_o o USING (i)
        |  GROUP BY f.v),
        |iso_b AS (
        |  SELECT klo AS k9, v FROM iso_runs
        |  UNION ALL
        |  SELECT khi, v FROM iso_runs WHERE khi > klo)
        |SELECT row_number() OVER (ORDER BY k9) - 1 AS idx,
        |       round(CAST(k9 AS DOUBLE) / 1e9, 6) AS boundary,
        |       round(v, 6) AS calibrated
        |FROM iso_b ORDER BY idx""".stripMargin))
  )
}
