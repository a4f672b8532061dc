package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Per-sample random-hyperplane sign sketch for the thresholded Spearman
  * search (ops/Analytic.spearmanThresholded): accumulates, for every bit
  * j, the EXACT integer moments of the sign-weighted rank sums —
  * sdot_j = Σ s(probe, j)·ar2, ssum_j = Σ s(probe, j), plus n and
  * Σ ar2 — and emits bit_j = [n·sdot_j − (Σ ar2)·ssum_j ≥ 0], the sign
  * of n× the centered-rank projection (order-free exact, so Spark and
  * DuckDB agree bit-for-bit).
  *
  * Two callers share this one implementation. The distributed plan runs it
  * as a `udaf` over the rank rows joined to their probe's signs; the
  * driver-local kernel calls `zero`/`reduce`/`finish` directly on the
  * collected rank table.
  *
  * Why an Aggregator and not a groupBy(sample, bit): the per-(sample, bit)
  * restatement amplifies the rank grid ×nbits through the join (3.7B rows
  * at the 64× sweep) and its partial-aggregate maps hold samples×bits
  * keys per task — measured OOM on an 8 g heap at 64×. This buffer holds
  * ONE array pair per sample (~2 KB), the input stays probes×samples
  * rows, and the caller pre-partitions by sample (the PoissonBootAgg
  * pattern) so each buffer exists exactly once and never crosses an
  * exchange.
  *
  * Signs arrive packed ([[SignSketchAgg.signWords]]): words(j >> 6) bit
  * (j & 63) set ⇒ s = +1, else −1. `finish` packs its output the same
  * way: bit (j & 63) of word j >> 6 set ⇒ bit_j = 1.
  *
  * Overflow posture: n and Σ ar2 accumulate with Math.addExact, and they
  * bound every per-bit sum (|ssum_j| ≤ n, |sdot_j| ≤ Σ ar2, as ar2 ≥ 1),
  * so the per-bit sums use plain adds; `finish` multiplies with
  * Math.multiplyExact. Exact while per-sample probe count n ≤ ~1.3M
  * (|n·sdot| ≤ 4n³ < 2⁶³), the same envelope as k12's bigint width;
  * beyond it the job fails loudly (ANSI posture), never silently wraps.
  * `reduce` and `merge` update their first buffer in place and return it
  * (the Aggregator contract allows it), so the local path's per-row call
  * allocates no buffer.
  */
final case class SignSketchBuf(var n: Long, var sr: Long,
                               sdot: Array[Long], ssum: Array[Long])

class SignSketchAgg(nbits: Int)
    extends Aggregator[(Long, Array[Long]), SignSketchBuf, Array[Long]] {
  require(nbits >= 1 && nbits <= 1024, s"nbits=$nbits outside [1, 1024]")

  override def zero: SignSketchBuf =
    SignSketchBuf(0L, 0L, new Array[Long](nbits), new Array[Long](nbits))

  override def reduce(b: SignSketchBuf, in: (Long, Array[Long])): SignSketchBuf = {
    val (ar2, words) = in
    b.n = Math.addExact(b.n, 1L)
    b.sr = Math.addExact(b.sr, ar2)
    val sdot = b.sdot
    val ssum = b.ssum
    var j = 0
    var w = 0L
    while (j < nbits) {
      if ((j & 63) == 0) w = words(j >> 6)
      if ((w & 1L) == 1L) {
        sdot(j) += ar2
        ssum(j) += 1
      } else {
        sdot(j) -= ar2
        ssum(j) -= 1
      }
      w >>>= 1
      j += 1
    }
    b
  }

  override def merge(a: SignSketchBuf, b: SignSketchBuf): SignSketchBuf = {
    a.n = Math.addExact(a.n, b.n)
    a.sr = Math.addExact(a.sr, b.sr)
    var j = 0
    while (j < nbits) {
      a.sdot(j) += b.sdot(j)
      a.ssum(j) += b.ssum(j)
      j += 1
    }
    a
  }

  override def finish(r: SignSketchBuf): Array[Long] = {
    val words = new Array[Long]((nbits + 63) / 64)
    var j = 0
    while (j < nbits) {
      val p = Math.subtractExact(Math.multiplyExact(r.n, r.sdot(j)),
        Math.multiplyExact(r.sr, r.ssum(j)))
      if (p >= 0L) words(j >> 6) |= 1L << (j & 63)
      j += 1
    }
    words
  }

  override def bufferEncoder: Encoder[SignSketchBuf] = Encoders.product[SignSketchBuf]
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object SignSketchAgg {

  /** One probe's row of the md5 hyperplane table, packed: bit (j & 63) of
    * word j >> 6 set ⇒ s(probe, j) = +1, i.e. the first byte of
    * md5(probe + "#" + j) is non-negative — the oracle's
    * `substring(md5(probe || '#' || j), 1, 1) < '8'` (high nibble 0–7).
    */
  def signWords(probe: String, nbits: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val words = new Array[Long]((nbits + 63) / 64)
    var j = 0
    while (j < nbits) {
      if (md.digest((probe + "#" + j).getBytes(StandardCharsets.UTF_8))(0) >= 0)
        words(j >> 6) |= 1L << (j & 63)
      j += 1
    }
    words
  }
}
