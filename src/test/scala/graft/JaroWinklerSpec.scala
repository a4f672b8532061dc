package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.JaroWinklerFns

class JaroWinklerSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    JaroWinklerFns.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("matches the strcmp95/DuckDB reference values") {
    // expected values read directly off DuckDB's jaro_winkler_similarity
    // (the c18 oracle re-checks this over ~1500 real candidate pairs)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-15)
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "x") == 0.0)
    assert(jw("", "") == 0.0) // both-empty -> 0, the DuckDB convention
    // prefix boost only above the 0.7 threshold: jaro here is exactly 0.5
    // and must NOT be boosted despite the 2-char common prefix
    assert(jw("AAXXXXXX", "AAYYYYYY") == 0.5)
    assert(jw("abc", "xyz") == 0.0)
  }

  test("registered SQL function: codegen path, null propagation, symmetry") {
    import spark.implicits._
    val df = Seq(("DWAYNE", "DUANE"), ("MARTHA", "MARHTA"), (null, "x"))
      .toDF("a", "b")
      .selectExpr("graft_jaro_winkler(a, b) AS j", "graft_jaro_winkler(b, a) AS jr")
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 0.84) < 1e-12)
    assert(rows(0).getDouble(0) == rows(0).getDouble(1)) // symmetric
    assert(rows(1).getDouble(0) == rows(1).getDouble(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
    // foldable literals constant-fold through the expression
    val lit = spark.sql("SELECT graft_jaro_winkler('abc','abc')").head.getDouble(0)
    assert(lit == 1.0)
  }
}
