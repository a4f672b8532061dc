package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One ranked entry: sort key (descending) + its tag. */
final case class Ranked(ord: Long, tag: String)

/** Per-group top-k as a bounded typed Aggregator: the buffer is AT MOST k
  * entries, merged map-side — so the shuffle carries k rows per (group,
  * partition) instead of every row of every group, and no per-group sort
  * of the full data ever happens. This is the scale alternative to the
  * rank-window formulation (a13): a window must sort each whole group;
  * the heap never holds more than k. Ties break on the tag ascending, the
  * same deterministic order the window formulation declares.
  */
class TopKAgg(k: Int) extends Aggregator[Ranked, Seq[Ranked], Seq[Ranked]] {
  require(k > 0)

  private val ord: Ordering[Ranked] =
    Ordering.by((r: Ranked) => (-r.ord, r.tag))

  override def zero: Seq[Ranked] = Vector.empty

  override def reduce(b: Seq[Ranked], x: Ranked): Seq[Ranked] =
    if (b.size == k && ord.compare(x, b.last) >= 0) b
    else ((b :+ x).sorted(ord)).take(k)

  override def merge(a: Seq[Ranked], b: Seq[Ranked]): Seq[Ranked] =
    (a ++ b).sorted(ord).take(k)

  override def finish(r: Seq[Ranked]): Seq[Ranked] = r.sorted(ord)

  override def bufferEncoder: Encoder[Seq[Ranked]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Ranked]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
