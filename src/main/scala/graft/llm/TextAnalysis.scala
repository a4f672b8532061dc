package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * n-gram/stopword language ID, quality scoring, document fingerprinting.
  * All pure Column expressions (codegen-friendly, no UDFs) over the
  * `documents(doc_id, text, lang, source, n_chars)` table.
  */
object TextAnalysis {

  /** BPE-ish tokenization: word runs plus single punctuation marks. */
  val tokenPattern = "\\w+|[^\\w\\s]"

  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(tokenPattern), lit(0))).cast("bigint")

  def wordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))).cast("bigint")

  private def stopCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(lower(text), lit(pattern), lit(0))).cast("bigint")

  val enStops = "\\b(the|and|of|to|is|in)\\b"
  val deStops = "\\b(der|die|und|das|ist|nicht)\\b"
  val frStops = "\\b(le|la|et|les|une|est)\\b"
  val esStops = "\\b(el|los|las|una|es|y)\\b"

  /** Stopword-hit language ID with a deterministic en>de>es>fr tie-break. */
  def langId(text: Column): Column = {
    val en = stopCount(text, enStops)
    val de = stopCount(text, deStops)
    val fr = stopCount(text, frStops)
    val es = stopCount(text, esStops)
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Heuristic quality score in [0,1]: stopword density (0.4), mean word
    * length plausibility (0.3), length saturation at 500 chars (0.3).
    */
  def qualityScore(text: Column): Column = {
    val words = greatest(wordCount(text), lit(1L)).cast("double")
    val alphaChars = length(regexp_replace(lower(text), "[^a-z0-9]", "")).cast("double")
    val meanWordLen = alphaChars / words
    val stopRatio = stopCount(text, enStops).cast("double") / words
    least(stopRatio * 2.0, lit(1.0)) * 0.4 +
      when(meanWordLen >= 3.0 && meanWordLen <= 8.0, lit(0.3)).otherwise(lit(0.0)) +
      least(length(text).cast("double") / 500.0, lit(1.0)) * 0.3
  }

  /** Normalized text for fingerprinting/near-exact dedup: lowercase,
    * non-alphanumeric runs collapsed to single spaces.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Row-local Gopher rule-bundle verdict (the t19 all-rules pass flag as
    * a single boolean — word count in [30, 1e5], mean word length in
    * [3, 10], symbol ratio ≤ 10%, alpha-word ratio ≥ 80%, ≥ 2 stopwords).
    * Exact-integer comparisons throughout, so Spark and any SQL mirror
    * agree bit-for-bit.
    */
  def gopherPass(text: Column): Column = {
    val norm = normalized(text)
    val nw = size(split(norm, " "))
    val chars = length(norm) - nw + 1
    val alphaw = size(filter(split(norm, " "), w => w.rlike("[a-z]")))
    val stops = regexp_count(lower(text), lit("\\b(the|and|of|to|is|in)\\b"))
    val symc = regexp_count(text, lit("#|…|\\.\\.\\."))
    nw.between(30, 100000) && chars.between(nw * 3, nw * 10) &&
      symc * 10 <= nw && alphaw * 5 >= nw * 4 && stops >= 2
  }

  /** Content fingerprint (md5 of normalized text — identical across engines). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Within-document repetition profile (the duplicate-n-gram quality rule
    * of Rae et al., Gopher appendix A1.2): fraction of word 3-grams that
    * are repeats of an earlier 3-gram in the same doc. One shuffle on
    * doc_id (the distinct-shingle count); the total 3-gram count is a
    * scan-side expression. High ratio → template/boilerplate text.
    */
  def repetitionProfile(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val words = size(split(normalized(col("text")), " "))
    val total = docs.select(col("doc_id"),
      greatest(words - 2, lit(0)).cast("bigint").as("n_grams"))
    val distinct = Dedup.shingles(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
    total.join(distinct, Seq("doc_id"), "left")
      .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** BM25 document relevance for a FIXED literal query (Robertson
    * k1/b form with the Lucene idf variant ln(1 + (N−df+0.5)/(df+0.5)),
    * which stays positive for high-df terms). One per-doc hash aggregate
    * computes dl and one exact-integer conditional tf per query term
    * (terms are a compile-time literal list, so the aggregate is N_terms
    * sum(when) columns — the a22/a24 fixed-sequence pattern, no
    * data-dependent summation order); a second 1-row aggregate derives
    * N/avgdl/df and rides a broadcast cross join. Score is a fixed double
    * expression per row — the whole query is two shuffles (doc-keyed agg +
    * the 1-row global) and a TakeOrdered top-k, nothing pairwise. Output
    * columns: doc_id, dl, tf_<term>…, score (unrounded).
    */
  /** BM25's term-frequency saturation k1 and length normalisation b, the
    * Robertson/Lucene defaults. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  def bm25(docs: org.apache.spark.sql.DataFrame, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val words = docs.select(col("doc_id"),
        explode(split(normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val perDoc = words.groupBy("doc_id").agg(
      count(lit(1)).as("dl"),
      terms.map(t => sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    val corpusAggs =
      Seq(count(lit(1)).as("nd"), sum("dl").as("sdl")) ++
        terms.map(t => sum(when(col(s"tf_$t") > 0L, 1L).otherwise(0L)).as(s"df_$t"))
    val corpus = perDoc.agg(corpusAggs.head, corpusAggs.tail: _*)
    val joined = perDoc.crossJoin(broadcast(corpus))
    val avgdl = col("sdl").cast("double") / col("nd").cast("double")
    val dl = col("dl").cast("double")
    val score = terms.map { t =>
      val tf = col(s"tf_$t").cast("double")
      val df = col(s"df_$t").cast("double")
      val idf = log(lit(1.0) + (col("nd").cast("double") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tf * lit(Bm25K1 + 1.0)) / (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * dl / avgdl))
    }.reduceLeft(_ + _)
    joined.select(
      (col("doc_id") +: col("dl") +: terms.map(t => col(s"tf_$t"))) :+ score.as("score"): _*)
  }

  /** TF-IDF per (doc, term): tf = term count in doc, idf = ln(N/df).
    * Two hash aggregates + one join on the term — the shuffle keys are the
    * natural ones and nothing is driver-side except the corpus count N.
    */
  def tfIdf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val n = docs.count()
    val words = docs.select(col("doc_id"),
        explode(split(normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "w")
      .withColumn("tfidf",
        col("tf").cast("double") * log(lit(n.toDouble) / col("df").cast("double")))
      .select("doc_id", "w", "tf", "df", "tfidf")
  }

  /** Deflate compression ratio per document — the repetitiveness heuristic
    * of Gopher/RefinedWeb-style curation (boilerplate and template text
    * compresses far better than natural prose; filter on a low ratio).
    * Row-local: one `Deflater` allocated per PARTITION (the same
    * init-once-stream-rows iterator shape as the multimodal decoders),
    * reset per document — no shuffle, embarrassingly parallel. The ratio
    * is deterministic for a fixed JDK deflate implementation; treat it as
    * a filter signal, not a cross-engine-stable value.
    */
  def compressionRatio(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("bigint").as("doc_id"), col("text").as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
        val buf = new Array[Byte](1 << 16)
        val out = it.map { case (id, t) =>
          // null-safe like the Column-expression operators: null → empty
          val raw =
            if (t == null) Array.emptyByteArray
            else t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(raw)
          defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          (id, raw.length.toLong, n,
            if (raw.length > 0) n.toDouble / raw.length else 1.0)
        }
        // release the native zlib state when the partition completes
        // instead of waiting on GC finalization
        new Iterator[(Long, Long, Long, Double)] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) defl.end()
            h
          }
          def next(): (Long, Long, Long, Double) = out.next()
        }
      }.toDF("doc_id", "raw_len", "deflate_len", "ratio")
  }

  /** Bigram LM quality proxy — one order up from [[unigramLogProb]] (the
    * KenLM-perplexity stand-in with context): p(w2|w1) = (c(w1,w2)+1) /
    * (c(w1·)+V), add-1 smoothed, where c(w1·) is w1's bigram-prefix count
    * and V the corpus vocabulary size; each doc scores its mean bigram
    * log-probability. Bigrams are extracted ROW-LOCALLY (an index explode
    * over the token array, no position self-join); the model is two hash
    * aggregates; V rides a one-row broadcast. Docs with <2 tokens drop out
    * (no bigrams), mirroring the oracle's empty-range semantics.
    */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = split(normalized(col("text")), " ")
    val bi = docs.select(col("doc_id"), toks.as("__t"))
      .filter(size(col("__t")) >= 2) // sequence(1, 0) would run DESCENDING
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("__t")) - 1)).as("__i"), col("__t"))
      .select(col("doc_id"), element_at(col("__t"), col("__i")).as("w1"),
        element_at(col("__t"), col("__i") + 1).as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val cbg = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cug = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = docs.select(explode(toks).as("w"))
      .filter(col("w") =!= "").agg(count_distinct(col("w")).as("v"))
    bi.join(cbg, Seq("w1", "w2")).join(cug, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log((col("c12") + 1L).cast("double") / (col("c1") + col("v"))))
          .as("mean_logprob"))
  }

  /** Unigram LM quality proxy (the cheap stand-in for a KenLM perplexity
    * filter): corpus unigram probabilities from one aggregation pass, then
    * each doc scored by its mean token log-probability. Repetitive or
    * ultra-common-word text scores high, rare-gibberish text scores low —
    * filter on either tail. Shuffle keys are the natural ones (token, then
    * doc); the corpus-size scalar rides a broadcast, nothing driver-side.
    */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = toks.groupBy("w").agg(count(lit(1)).as("cw"))
    val total = tf.agg(sum("cw").as("nt"))
    toks.join(tf, "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        avg(log(col("cw").cast("double") / col("nt").cast("double"))).as("mean_logprob"))
  }
}
