package graft

import graft.llm.QualityModel

class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  // varied prose with stopwords (weak-label positive) vs low-diversity
  // two-letter spam (negative on every heuristic component)
  private def goodDoc(i: Int): String =
    (0 until 12).map(j => s"the quick brown fox ${i}x$j jumps over the lazy dog and " +
      s"the story of token $j is told in the long text").mkString(" ")
  private def badDoc(i: Int): String =
    Seq.fill(80)(s"zz").mkString(" ") + s" v$i"

  test("trainScore separates planted good/bad docs and agrees with the weak labels") {
    val docs = ((0 until 30).map(i => (i.toLong, goodDoc(i))) ++
      (0 until 30).map(i => (100L + i, badDoc(i)))).toDF("doc_id", "text")
    val scored = QualityModel.trainScore(docs).collect()
    assert(scored.length == 60)
    // weak labels: all good docs positive, all bad docs negative
    val byId = scored.map(r => r.getLong(0) -> r).toMap
    (0 until 30).foreach { i =>
      assert(byId(i.toLong).getDouble(1) == 1.0, s"good doc $i weak label")
      assert(byId(100L + i).getDouble(1) == 0.0, s"bad doc $i weak label")
    }
    // the trained model reproduces the separation (training accuracy 1.0)
    scored.foreach { r =>
      assert(r.getDouble(3) == r.getDouble(1), s"prediction for doc ${r.getLong(0)}")
    }
    // and the probability margin is real, not knife-edge
    val minGood = (0 until 30).map(i => byId(i.toLong).getDouble(2)).min
    val maxBad = (0 until 30).map(i => byId(100L + i).getDouble(2)).max
    assert(minGood > 0.7 && maxBad < 0.3, s"margin: minGood=$minGood maxBad=$maxBad")
  }

  test("featureFrame emits row-local features with no shuffle") {
    val docs = Seq((1L, "the cat and the hat 12")).toDF("doc_id", "text")
    val plan = QualityModel.featureFrame(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
