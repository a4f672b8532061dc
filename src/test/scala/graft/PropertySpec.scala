package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Fns
import graft.ops.{Analytic, RangedScan}

/** Property-based invariants (SURVEY.md §5): M-transform round-trip, BH
  * bounds/monotonicity, top-k permutation invariance. Inputs are drawn
  * from scalacheck generators with fixed seeds (deterministic CI) and run
  * through the real Spark expressions, not Scala reimplementations.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("property: M-value round-trip within 1e-9 on any (0,1) vector") {
    samples(Gen.listOfN(40, Gen.choose(1e-6, 1.0 - 1e-6)), 15).foreach { betas =>
      val err = betas.toDF("beta")
        .select(max(abs(Fns.inverseMValue(Fns.mValueClamped(col("beta"))) -
          Fns.clamp(col("beta"), 0.001, 0.999))).as("e"))
        .head().getDouble(0)
      assert(err < 1e-9)
    }
  }

  test("property: BH fdr is in [p, 1] and order-preserving in p") {
    samples(Gen.listOfN(25, Gen.choose(0.0, 1.0)), 10).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (f"k$i%03d", p) }.toDF("id", "p")
      val rows = Analytic.bhAdjust(df, "p", "id")
        .select("p", "fdr").collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
      rows.foreach { case (p, f) =>
        assert(f >= p - 1e-12 && f <= 1.0 + 1e-12, s"fdr $f out of [p=$p, 1]")
      }
      val sorted = rows.sortBy(_._1).map(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a <= b + 1e-12)
        case _ =>
      }
    }
  }

  test("property: ranged BH is bit-equal to the windowed implementation") {
    samples(Gen.listOfN(200, Gen.choose(0.0, 1.0)), 6).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (f"k$i%04d", p) }.toDF("id", "p")
      val w = Analytic.bhAdjustWindowed(df, "p", "id")
        .select("id", "fdr").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // force several range partitions so the offset/suffix-min logic is hit
      val ranged = RangedScan.ranged(df, Analytic.bhScan("p", "id"), numPartitions = 7)
      val g = ranged
        .select("id", "fdr").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(g.keySet == w.keySet)
      g.foreach { case (k, f) => assert(f == w(k), s"$k: ranged $f != windowed ${w(k)}") }
      // a downstream coalesce runs the emit of every range partition in one
      // task; each row still finds its own partition's offsets
      val merged = ranged.coalesce(1)
        .select("id", "fdr").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(merged == g)
    }
  }

  test("property: BY equals a driver-side reference and dominates BH; ranged path bit-equal") {
    samples(Gen.listOfN(120, Gen.choose(0.0, 1.0)), 5).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (f"k$i%04d", p) }.toDF("id", "p")
      val by = Analytic.byAdjust(df, "p", "id")
        .select("id", "fdr_by").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // driver reference: sort asc, suffix-min of p*H*m/rank, clamp
      val m = ps.length
      var h = 0.0; (1 to m).foreach(i => h += 1.0 / i)
      val sorted = ps.zipWithIndex.map { case (p, i) => (p, f"k$i%04d") }.sorted
      val raw = sorted.zipWithIndex.map { case ((p, id), r) =>
        id -> p * h * m.toDouble / (r + 1).toDouble }
      var run = Double.PositiveInfinity
      val exp = raw.reverse.map { case (id, v) =>
        run = math.min(run, v); id -> math.min(run, 1.0) }.toMap
      exp.foreach { case (id, f) => assert(by(id) == f, s"$id: $f vs ${by(id)}") }
      // dominance: H_m >= 1 so BY >= BH everywhere
      val bh = Analytic.bhAdjustWindowed(df, "p", "id")
        .select("id", "fdr").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      by.foreach { case (id, f) => assert(f >= bh(id) - 1e-15) }
      // ranged path bit-equality at the same scale factor
      val g = RangedScan.ranged(df, Analytic.bhScan("p", "id", "fdr_by", scale = h),
          numPartitions = 5)
        .select("id", "fdr_by").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      g.foreach { case (id, f) => assert(f == by(id)) }
    }
  }

  test("property: Holm equals a driver-side step-down reference; ranged path bit-equal") {
    samples(Gen.listOfN(90, Gen.choose(0.0, 1.0)), 5).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (f"k$i%04d", p) }.toDF("id", "p")
      val got = Analytic.holmAdjust(df, "p", "id")
        .select("id", "p_holm").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val m = ps.length
      val sorted = ps.zipWithIndex.map { case (p, i) => (p, f"k$i%04d") }.sorted
      var run = Double.NegativeInfinity
      val exp = sorted.zipWithIndex.map { case ((p, id), r) =>
        run = math.max(run, p * (m - r).toDouble) // rank r+1 → m−rank+1 = m−r
        id -> math.min(run, 1.0)
      }.toMap
      exp.foreach { case (id, f) => assert(got(id) == f, s"$id: $f vs ${got(id)}") }
      got.foreach { case (id, f) =>
        assert(f >= ps(id.drop(1).toInt) - 1e-15) } // adjusted ≥ raw
      val g = RangedScan.ranged(df, Analytic.holmScan("p", "id"), numPartitions = 6)
        .select("id", "p_holm").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      g.foreach { case (id, f) => assert(f == got(id)) }
    }
  }

  test("property: null p-values adjust to null and leave the non-null adjustment unchanged, both paths") {
    // R's p.adjust: a null p gives a null output and n counts the non-null
    // p-values only — so every non-null row must equal the adjustment of
    // the non-null subset, on the windowed twin and the ranged kernel alike
    samples(Gen.listOfN(120, Gen.option(Gen.choose(0.0, 1.0))), 4).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (f"k$i%04d", p) }.toDF("id", "p")
      val present = df.filter(col("p").isNotNull)
      def m(d: org.apache.spark.sql.DataFrame, out: String) = d.select("id", out).collect()
        .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      Seq(Analytic.bhScan("p", "id"), Analytic.holmScan("p", "id"),
          Analytic.bhScan("p", "id", "fdr_by", scale = 2.5)).foreach { scan =>
        val out = scan.out.head.name
        val w = m(scan.windowed(df), out)
        val g = m(RangedScan.ranged(df, scan, numPartitions = 5), out)
        val subset = m(scan.windowed(present), out)
        assert(g == w, s"$out: ranged != windowed")
        assert(w.size == ps.size)
        ps.zipWithIndex.foreach { case (p, i) =>
          val id = f"k$i%04d"
          assert(w(id) == p.flatMap(_ => subset(id)), s"$out $id: ${w(id)} vs subset ${subset.get(id)}")
        }
      }
      // BY's harmonic factor counts the non-null p-values too
      val by = m(Analytic.byAdjust(df, "p", "id"), "fdr_by")
      val bySubset = m(Analytic.byAdjust(present, "p", "id"), "fdr_by")
      by.foreach { case (id, f) => assert(f == bySubset.get(id).flatten, id) }
      graft.ops.Caches.releaseAll()
    }
  }

  test("property: per-group BH equals global BH run on each slice") {
    samples(Gen.listOfN(60, Gen.zip(Gen.oneOf("c1", "c2", "c3"), Gen.choose(0.0, 1.0))), 5)
      .foreach { rows =>
        val df = rows.zipWithIndex.map { case ((c, p), i) => (c, f"k$i%03d", p) }
          .toDF("cid", "id", "p")
        val by = Analytic.bhAdjustBy(df, "cid", "p", "id")
          .select("cid", "id", "fdr").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        Seq("c1", "c2", "c3").foreach { c =>
          val slice = Analytic.bhAdjustWindowed(df.filter(col("cid") === c), "p", "id")
            .select("id", "fdr").collect().map(r => r.getString(0) -> r.getDouble(1))
          slice.foreach { case (id, f) => assert(by((c, id)) == f) }
        }
      }
  }

  test("property: sessionize gaps respect the threshold on both sides of every boundary") {
    import graft.ops.Timeseries
    val gen = Gen.listOfN(60, Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 2000L)))
    samples(gen, 8).foreach { rows =>
      val ev = rows.zipWithIndex.map { case ((u, ts), i) => (s"u$u", i.toLong, ts) }
        .toDF("user", "id", "ts_us")
      val out = Timeseries.sessionize(ev, "user", "ts_us", "id", gapUs = 100L)
        .select("user", "ts_us", "id", "session_idx")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.groupBy(_._1).foreach { case (_, es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        // indices start at 1 and are contiguous
        assert(sorted.head._4 == 1L)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            val gap = b._2 - a._2
            if (b._4 == a._4) assert(gap <= 100L, s"in-session gap $gap")
            else {
              assert(b._4 == a._4 + 1, "session indices must be contiguous")
              assert(gap > 100L, s"boundary gap $gap should exceed threshold")
            }
          case _ =>
        }
      }
    }
  }

  test("property: scd2 intervals chain seamlessly and end open per key") {
    import graft.ops.Timeseries
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(0, 2), Gen.oneOf("a", "b", "c")))
    samples(gen, 8).foreach { rows =>
      val log = rows.zipWithIndex.map { case ((u, a), i) => (s"u$u", a, i.toLong * 10, i.toLong) }
        .toDF("user", "attr", "ts_us", "id")
      val out = Timeseries.scd2(log, "user", "attr", "ts_us", "id")
        .select("user", "attr", "valid_from_us", "valid_to_us")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
      out.groupBy(_._1).foreach { case (_, ivs) =>
        val sorted = ivs.sortBy(_._3)
        // exactly one open (current) interval, and it is the last
        assert(sorted.count(_._4 == -1L) == 1 && sorted.last._4 == -1L)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a._4 == b._3, "intervals must chain: valid_to == next valid_from")
            assert(a._2 != b._2, "consecutive intervals must change the attribute")
          case _ =>
        }
      }
    }
  }

  test("property: blocked fuzzy join equals the quadratic join on random strings") {
    import graft.ops.Relational
    val word = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    samples(Gen.zip(Gen.listOfN(12, word), Gen.listOfN(12, word)), 6).foreach {
      case (ls, rs) =>
        val left = ls.distinct.toDF("l")
        val right = rs.distinct.toDF("r")
        val blocked = Relational.fuzzyJoin(left, right, "l", "r", maxDist = 1)
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
        val naive = left.crossJoin(right)
          .withColumn("dist", levenshtein(col("l"), col("r")))
          .filter(col("dist") <= 1)
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
        assert(blocked == naive)
    }
  }

  test("property: spearmanMatrix bigint path is bit-equal to the decimal path") {
    // random sparse probe×sample matrices with heavy ties (values on a
    // coarse grid force tie cells, the hard case for doubled ranks)
    samples(Gen.listOfN(400,
      Gen.zip(Gen.choose(0, 60), Gen.choose(0, 7), Gen.choose(0, 12))), 6)
      .foreach { triples =>
        val df = triples.distinct
          .map { case (p, s, v) => (f"p$p%03d", s"s$s", v / 12.0) }
          .toDF("probe_id", "sample_id", "beta")
        val narrow = Analytic.spearmanMatrix(df, "probe_id", "sample_id",
            "beta", forceDecimal = Some(false))
          .orderBy("sa", "sb").collect().toSeq
        val wide = Analytic.spearmanMatrix(df, "probe_id", "sample_id",
            "beta", forceDecimal = Some(true))
          .orderBy("sa", "sb").collect().toSeq
        assert(narrow == wide) // bit-equal: same integers, same final ops
        assert(narrow.nonEmpty)
      }
  }

  test("property: spearman driver-local kernels are bit-equal to the distributed plans") {
    // forceDecimal = Some(false) pins the DISTRIBUTED bigint plan; None on
    // these tiny inputs takes the r10 driver-local path — the collected
    // rows must reproduce the distributed integers and doubles exactly,
    // for both the full matrix and the sketch-thresholded variant (whose
    // local path replays md5 signs, projections, band canonicalization
    // and the candidate buckets).
    samples(Gen.listOfN(400,
      Gen.zip(Gen.choose(0, 60), Gen.choose(0, 7), Gen.choose(0, 12))), 6)
      .foreach { triples =>
        val df = triples.distinct
          .map { case (p, s, v) => (f"p$p%03d", s"s$s", v / 12.0) }
          .toDF("probe_id", "sample_id", "beta")
        val localM = Analytic.spearmanMatrix(df, "probe_id", "sample_id", "beta")
          .orderBy("sa", "sb").collect().toSeq
        val distM = Analytic.spearmanMatrix(df, "probe_id", "sample_id",
            "beta", forceDecimal = Some(false))
          .orderBy("sa", "sb").collect().toSeq
        assert(localM == distM)
        assert(localM.nonEmpty)
        val localT = Analytic.spearmanThresholded(df, "probe_id", "sample_id",
            "beta", tau = 0.2)
          .orderBy("sa", "sb").collect().toSeq
        val distT = Analytic.spearmanThresholded(df, "probe_id", "sample_id",
            "beta", tau = 0.2, forceDecimal = Some(false))
          .orderBy("sa", "sb").collect().toSeq
        assert(localT == distT)
      }
  }

  test("property: top-k by variance is invariant under row permutation") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0, 5), Gen.choose(0.0, 100.0)))
    samples(gen, 10).filter(_.map(_._1).distinct.size >= 3).foreach { rows =>
      val df1 = rows.map { case (k, v) => (s"p$k", v) }.toDF("probe_id", "beta")
      val df2 = rows.reverse.map { case (k, v) => (s"p$k", v) }.toDF("probe_id", "beta")
      val a = Analytic.topKByVariance(df1, "probe_id", "beta", 3)
        .select("probe_id").as[String].collect().toSeq
      val b = Analytic.topKByVariance(df2, "probe_id", "beta", 3)
        .select("probe_id").as[String].collect().toSeq
      assert(a == b)
    }
  }

  test("property: IDAT bytes→parse round-trips arbitrary bead vectors and strings") {
    import graft.sources.Idat
    val beadGen = for {
      addr <- Gen.choose(0, Int.MaxValue)
      mean <- Gen.choose(0, 0xffff)
      sd <- Gen.choose(0, 0xffff)
      nb <- Gen.choose(0, 0xff)
    } yield Idat.Bead(addr, mean, sd, nb)
    val strGen = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString)
    val caseGen = for {
      beads <- Gen.listOfN(30, beadGen)
      bc <- strGen
      ct <- strGen
    } yield (beads, bc, ct)
    samples(caseGen, 25).foreach { case (beads, bc, ct) =>
      // distinct addresses (the container's key) — dedupe collisions
      val uniq = beads.groupBy(_.address).map(_._2.head).toSeq
      val (back, gotBc, gotCt) = Idat.parse(Idat.bytes(uniq, bc, ct))
      assert(gotBc == bc && gotCt == ct)
      assert(back.sortBy(_.address) == uniq.sortBy(_.address))
    }
  }

  test("property: exactMedian equals the sorted-array median on random groups") {
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 4), Gen.choose(-1000, 1000)))
    samples(gen, 3).zipWithIndex.foreach { case (rows, _) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (s"g$g", v.toDouble, i.toLong) }
        .toDF("key", "v", "tie")
      val got = graft.ops.Timeseries.exactMedian(df, "key", "v", "tie", "med")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val sorted = grp.map(_._2.toDouble).sorted
        val m = sorted.length
        val expect = (sorted((m - 1) / 2) + sorted(m / 2)) / 2.0
        assert(got(s"g$g") == expect, s"g$g: ${got(s"g$g")} vs $expect")
      }
    }
  }

  test("property: PermSumAgg equals the join-expansion restatement on random grids") {
    val nB = 16
    val gen = Gen.listOfN(120,
      Gen.zip(Gen.choose(0, 9), Gen.choose(0, 7), Gen.choose(0L, 996L)))
    samples(gen, 2).foreach { rows =>
      // (probe, sample, k) grid with duplicates collapsed
      val grid = rows.map { case (p, s, k) => (s"p$p", s"s$s", k) }
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      // deterministic membership: sample s in rep r iff hash parity
      val reps: Map[String, Seq[Int]] = grid.map(_._2).distinct.map { s =>
        s -> (1 to nB).filter(r => (s.hashCode * 31 + r * 17) % 3 == 0)
      }.toMap
      val df = grid.toDF("probe", "sample", "k")
        .join(reps.toSeq.map { case (s, rs) => (s, rs) }.toDF("sample", "reps"),
          "sample")
      val agg = udaf(new graft.functions.PermSumAgg(nB))
      val got = df.groupBy("probe").agg(agg(col("k"), col("reps")).as("st"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      // reference: explicit expansion
      grid.groupBy(_._1).foreach { case (p, g) =>
        val st = got(p)
        (1 to nB).foreach { r =>
          val members = g.filter(t => reps(t._2).contains(r))
          assert(st(r - 1) == members.map(_._3).sum, s"$p sa rep $r")
          assert(st(nB + r - 1) == members.length.toLong, s"$p na rep $r")
        }
      }
    }
  }

  test("property: Kaplan-Meier matches a brute-force product-limit reference on random subjects") {
    import graft.ops.Survival
    val subjGen = Gen.listOfN(25, for {
      g <- Gen.oneOf("A", "B")
      t <- Gen.choose(0L, 6L)
      e <- Gen.oneOf(0L, 1L)
    } yield (g, t, e))
    samples(subjGen, 12).foreach { subj =>
      val got = Survival.kaplanMeier(subj.toDF("grp", "duration_h", "event"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toMap
      subj.map(_._1).distinct.foreach { g =>
        val gs = subj.filter(_._1 == g)
        val times = gs.filter(_._3 == 1L).map(_._2).distinct.sorted
        var s = 1.0
        times.foreach { t =>
          val nRisk = gs.count(_._2 >= t).toLong
          val d = gs.count(x => x._2 == t && x._3 == 1L).toLong
          s = if (d == nRisk) 0.0 else s * (nRisk - d).toDouble / nRisk
          val (gotN, gotD, gotS) = got((g, t))
          assert(gotN == nRisk && gotD == d, s"($g,$t): n/d mismatch")
          assert(math.abs(gotS - s) < 1e-9, s"($g,$t): survival $gotS vs $s")
        }
        // every emitted row corresponds to an event time
        assert(got.keys.count(_._1 == g) == times.length)
      }
    }
  }

  test("property: ranged token-budget select is bit-equal to the windowed path") {
    import graft.llm.Curation
    val gen = Gen.listOfN(150, for {
      sc <- Gen.choose(0.0, 1.0)
      tk <- Gen.choose(1L, 500L)
    } yield (sc, tk))
    samples(gen, 6).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((sc, tk), i) =>
        (f"d$i%04d", sc, tk)
      }.toDF("id", "score", "tokens")
      val budget = rows.map(_._2).sum / 3
      def m(d: org.apache.spark.sql.DataFrame) = d
        .select("id", "cum_before", "selected").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      val w = m(Curation.tokenBudgetWindowed(df, "score", "tokens", "id", budget))
      val g = m(RangedScan.ranged(df,
        Curation.tokenBudgetScan("score", "tokens", "id", budget), numPartitions = 7))
      assert(g.keySet == w.keySet)
      g.foreach { case (k, v) => assert(v == w(k), s"$k: ranged $v != windowed ${w(k)}") }
      // the greedy invariant: selected docs' cum_before all precede the budget
      w.values.foreach { case (cb, sel) => assert(sel == (cb < budget)) }
      graft.ops.Caches.releaseAll()
    }
  }
}
