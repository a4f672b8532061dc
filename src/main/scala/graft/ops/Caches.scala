package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry for kernel-internal persisted intermediates (ComBat cell stats,
  * DMP moments, MinHash shingles, …). These caches are deliberately
  * multi-action — they serve an eager driver reduce AND the final lazy plan
  * of the same query — so the kernel cannot unpersist them itself without
  * forcing a recompute. Instead each kernel `track`s what it persists and a
  * session-sharing harness (Verify/Bench/RunOne) calls [[releaseAll]]
  * between queries. Unlike `spark.catalog.clearCache()`, this never touches
  * caches the caller owns (e.g. the memoized derived views in Tables).
  */
object Caches {

  private val tracked = new ConcurrentLinkedQueue[DataFrame]()

  /** Where this thread's [[track]] registers: the innermost [[releasing]]
    * region it runs in, or the harness-wide queue outside every region.
    */
  private val region = new ThreadLocal[ConcurrentLinkedQueue[DataFrame]] {
    override def initialValue(): ConcurrentLinkedQueue[DataFrame] = tracked
  }

  /** Registers `df`, which the caller has persisted, for release by the
    * innermost [[releasing]] region or by [[releaseAll]]. Persists
    * nothing itself; returns the same DataFrame.
    */
  def track(df: DataFrame): DataFrame = {
    region.get.add(df)
    df
  }

  /** Runs `body`, then unpersists exactly the caches this thread tracked
    * while it ran — never the caches other queries (other threads, or
    * this thread outside the region) tracked before or meanwhile.
    */
  def releasing[T](body: => T): T = {
    val outer = region.get
    val mine = new ConcurrentLinkedQueue[DataFrame]()
    region.set(mine)
    try body
    finally { region.set(outer); release(mine) }
  }

  /** Unpersist every tracked intermediate. BLOCKING since r9: the
    * harnesses call this between timed queries, and async unpersist left
    * the blocks of query N resident while query N+1 ran — on the 8 g
    * bench heap that read as diffuse ~0.5 s slowdowns on memory-heavy
    * neighbors. Block removal is reference dropping (no recompute), so
    * the synchronous wait is microseconds-to-ms per cache.
    */
  def releaseAll(): Unit = release(tracked)

  private def release(queue: ConcurrentLinkedQueue[DataFrame]): Unit = {
    var df = queue.poll()
    while (df != null) {
      try df.unpersist(true)
      catch { case _: Throwable => () } // session may already be stopped
      df = queue.poll()
    }
  }
}
