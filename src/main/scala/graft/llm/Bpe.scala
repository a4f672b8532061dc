package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction (Sennrich et al., ACL'16 §3.2) — the
  * tokenizer-training primitive of a training-data pipeline, run over the
  * corpus word-frequency table rather than the corpus itself.
  *
  * Scale shape: the loop state is the VOCABULARY (distinct normalized words
  * with corpus frequencies — sub-linear in corpus size and built by one
  * corpus-level aggregate), never the raw text. Each merge round is one
  * shuffle over that vocab table (adjacent-pair counts weighted by word
  * frequency), a single-row argmax collect (bounded by design), and a
  * row-local rewrite of the words containing the winning pair. The frontier
  * is localCheckpoint'ed every few rounds so the plan does not grow with
  * the merge count (same lineage discipline as
  * [[graft.ops.Graph.connectedComponents]]).
  *
  * Determinism: the argmax tie-break is (count desc, left asc, right asc),
  * so the merge list is reproducible across runs and cluster layouts.
  */
object Bpe {

  final case class VocabRow(syms: Seq[String], freq: Long)
  final case class Merge(merge_rank: Int, left: String, right: String,
                         pair_freq: Long)

  /** Learn `numMerges` BPE merges from the corpus. Words are the
    * whitespace tokens of [[TextAnalysis.normalized]] text, seeded as
    * single-character symbol sequences (no end-of-word marker — merges
    * never cross word boundaries because pairing happens within each
    * word's symbol array).
    */
  def learnMerges(docs: DataFrame, numMerges: Int): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(split(TextAnalysis.normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .as[VocabRow]
      .localCheckpoint()

    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val top = vocab.flatMap { row =>
        row.syms.iterator.sliding(2).withPartial(false)
          .map { case Seq(a, b) => ((a, b), row.freq) }
      }.toDF("pair", "f")
        .groupBy("pair").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("pair._1").asc, col("pair._2").asc)
        .limit(1)
        .collect() // bounded: exactly one row (the argmax pair)
      if (top.isEmpty) done = true
      else {
        val best = top.head
        val pr = best.getStruct(0)
        val (a, b, n) = (pr.getString(0), pr.getString(1), best.getLong(1))
        merges += Merge(rank, a, b, n)
        val merged = a + b
        vocab = vocab.map { row =>
          val out = Seq.newBuilder[String]
          var i = 0
          val s = row.syms
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
              out += merged; i += 2
            } else { out += s(i); i += 1 }
          }
          VocabRow(out.result(), row.freq)
        }
        if (rank % 4 == 0) vocab = vocab.localCheckpoint()
        rank += 1
      }
    }
    merges.result()
  }

  /** The merge list as a DataFrame (for query registration). */
  def mergesDF(spark: SparkSession, docs: DataFrame, numMerges: Int): DataFrame = {
    import spark.implicits._
    learnMerges(docs, numMerges).toDF()
  }

  /** Segment one word with a learned merge list. Mirrors the training
    * rewrite exactly — merges applied in rank order, each as one
    * left-to-right non-overlapping pass — so encoding a training word
    * reproduces the segmentation the vocab held when training stopped.
    */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var s: Seq[String] = word.map(_.toString)
    merges.foreach { case (a, b) =>
      if (s.length > 1) {
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += s(i); i += 1 }
        }
        s = out.result()
      }
    }
    s
  }

  /** BPE-encode the corpus: per-document word/subword/char counts under a
    * learned merge list — the tokenizer-application half of [[learnMerges]]
    * (the "token counting" a training pipeline runs before packing).
    *
    * Scale shape: the merge loop runs once per DISTINCT word (the encode
    * UDF touches only the vocabulary table, sub-linear in corpus size);
    * the corpus-sized token stream just joins the per-word subword count
    * back on the word and aggregates. The vocabulary side is broadcast —
    * if a corpus's vocab ever outgrew broadcast range, the same plan works
    * as a co-keyed join on `w`.
    */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    val ordered = merges.sortBy(_.merge_rank).map(m => (m.left, m.right))
    val bc = spark.sparkContext.broadcast(ordered)
    val encUdf = udf((w: String) => encodeWord(w, bc.value).length)
    val toks = docs.select(col("doc_id"),
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val vocabEnc = toks.select("w").distinct()
      .withColumn("n_sub", encUdf(col("w")))
    val counts = toks.join(broadcast(vocabEnc), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subtokens"),
        sum(length(col("w"))).as("n_chars"))
    // left join back to the corpus so a doc whose text normalizes to zero
    // tokens reports (0, 0, 0) instead of vanishing from the output.
    docs.select(col("doc_id")).join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subtokens"), lit(0L)).as("n_subtokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"))
  }
}
