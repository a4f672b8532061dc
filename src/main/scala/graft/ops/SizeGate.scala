package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** The one place a kernel chooses between its driver-local and its
  * distributed plan by input size. A gate has a name and one or more
  * (measure, limit) pairs; it takes the [[Local]] side when every measure
  * is at most its limit and the [[Distributed]] side otherwise. Each limit
  * is its kernel's own fixed constant, documented beside it with the
  * measurement that set it; none derives from the heap, so a run's digits
  * never depend on `-Xmx`. A gate picks a plan, never a result: both sides
  * of every gate compute the same output, and the kernel specs pin each
  * pair together.
  *
  * Every decision is appended to each [[recording]] region the calling
  * thread is in (RunOne prints them); outside a region nothing is kept. [[pinned]] overrides named gates on the calling thread, the one
  * way a spec reaches the side its input's size would not take.
  */
object SizeGate {

  /** [[Local]]: every measure within its limit, the driver-local plan (for
    * the Spearman width gate, bigint moments; for the prefix scan, one
    * range partition). [[Distributed]]: some measure above its limit. */
  sealed abstract class Side(override val toString: String)
  case object Local extends Side("local")
  case object Distributed extends Side("distributed")

  /** One decision: the gate, its (measure, limit) pairs, the side taken. */
  final case class Decision(gate: String, checks: Seq[(Long, Long)], side: Side)

  private val pins = ThreadLocal.withInitial(() => Map.empty[String, Side])
  private val region = new ThreadLocal[mutable.Buffer[Decision]]

  /** Decides gate `gate` over its (measure, limit) pairs. */
  def apply(gate: String, checks: (Long, Long)*): Side = {
    val side = pins.get.getOrElse(gate,
      if (checks.forall { case (m, l) => m <= l }) Local else Distributed)
    Option(region.get).foreach(_ += Decision(gate, checks, side))
    side
  }

  /** The gate over a frame's exact row count: persists `df`, counts it
    * with `rdd.count()` (one job that fills the cache; `Dataset.count`
    * would add an aggregate exchange, a job of its own), and runs the
    * chosen side over the persisted frame. The frame is unpersisted when
    * the side returns or throws, so a side must return a result that no
    * longer reads it.
    */
  def counted[T](gate: String, df: DataFrame, limit: Long)(
      local: DataFrame => T, distributed: DataFrame => T): T = {
    df.persist()
    try (if (SizeGate(gate, df.rdd.count() -> limit) == Local) local else distributed)(df)
    finally df.unpersist(false)
  }

  /** Runs `body` and returns what it returned with the decisions the
    * calling thread's gates made meanwhile, in order. They also reach
    * every enclosing region.
    */
  def recording[T](body: => T): (T, Seq[Decision]) = {
    val (outer, mine) = (region.get, mutable.Buffer.empty[Decision])
    region.set(mine)
    try (body, mine.toSeq) finally { region.set(outer); Option(outer).foreach(_ ++= mine) }
  }

  /** Runs `body` with each named gate held to its side on the calling
    * thread; the pins end with the body, also when it throws. A pin the
    * body never consults is a mistake in the caller (a misspelt gate, or
    * a path that no longer reaches it): IllegalArgumentException.
    */
  def pinned[T](sides: (String, Side)*)(body: => T): T = {
    val outer = pins.get
    pins.set(outer ++ sides)
    val (out, made) = try recording(body) finally pins.set(outer)
    val missed = sides.map(_._1).filterNot(g => made.exists(_.gate == g))
    require(missed.isEmpty, s"pinned gates never consulted: ${missed.mkString(", ")}")
    out
  }
}
