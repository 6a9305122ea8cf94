package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Storage discipline for single-consumer cached intermediates, plus the
  * runners' sweep boundary.
  *
  * A signature table that feeds several joins of ONE query wants to be
  * persisted for that query's duration and released the moment the query
  * finishes — leaving it pinned taxes every later query in the session
  * (at 100 TB a leaked corpus-sized cache is a scale-killer), while
  * unpersisting before the action would recompute the whole chain per
  * consumer. `Dataset.unpersist` has no "when the query is done" hook, so
  * [[afterFirstUse]] watches the session's execution listener bus: the
  * first completed execution whose analyzed plan contains the cached
  * table's plan as a subtree is, by construction, the consuming query —
  * release the cache and deregister. A released DataFrame executed again
  * later silently recomputes from lineage.
  *
  * Values shared ACROSS queries live in [[SessionMemo]] instead.
  */
object Release {

  /** Executions a listener survives without matching before it expires.
    * A cached DataFrame whose consumer never ran within this many later
    * queries is treated as abandoned: the cache is dropped (recompute
    * from lineage is always safe) and the listener deregisters, so a
    * long-lived server issuing many unconsumed cached DataFrames keeps a
    * bounded listener population instead of scanning every future plan.
    */
  val MaxMisses = 64

  // live listeners, observable by tests (listenerManager has no size
  // API). A listener whose session has STOPPED can never fire again, so
  // every registration and every count observation reaps them.
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[WatchedListener]()

  def activeListeners: Int = { reapStopped(); live.size }

  private def reapStopped(): Unit =
    live.forEach(w => if (w.spark.sparkContext.isStopped) w.release())

  /** Persist `df` and unpersist it automatically after the first
    * completed (or failed) execution that consumed it, or after
    * [[MaxMisses]] unrelated executions (whichever comes first).
    *
    * A plan that is already cached (a [[SessionMemo]] frame, say) is
    * returned as it is, with no listener: unpersisting uncaches by plan,
    * so releasing it would evict the owner's entry.
    */
  def afterFirstUse(df: DataFrame): DataFrame = {
    reapStopped()
    if (df.sparkSession.sharedState.cacheManager.lookupCachedData(castToImpl(df)).isDefined) return df
    val cached = df.persist()
    val listener = new WatchedListener(df.sparkSession, cached)
    live.add(listener)
    df.sparkSession.listenerManager.register(listener)
    cached
  }

  /** Mark the start of a sweep for `spark`: drops the session's
    * [[SessionMemo]] entries, so every sweep builds each shared value
    * once, from cold. Runners call it once, before their query loop.
    */
  def sweepStart(spark: SparkSession): Unit = SessionMemo.dropSession(spark)

  /** No-ops: shared values no longer depend on which query runs. Kept
    * as signatures for sweep loops built against the older API.
    */
  def beginQuery(name: String): Unit = ()
  def queryFinished(spark: SparkSession, name: String): Unit = ()

  private final class WatchedListener(val spark: SparkSession, cached: DataFrame)
      extends QueryExecutionListener {
    private val target = cached.queryExecution.analyzed
    private val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (done.compareAndSet(false, true)) {
        // on a stopped session both calls are dead-context cleanup —
        // failure must not keep the listener in the live set
        try cached.unpersist(false) catch { case _: Exception => () }
        try spark.listenerManager.unregister(this) catch { case _: Exception => () }
        live.remove(this)
      }
    private def maybeRelease(qe: QueryExecution): Unit =
      if (qe.analyzed.exists(_.sameResult(target)) || misses.incrementAndGet() >= MaxMisses)
        release()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      maybeRelease(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      maybeRelease(qe)
  }
}
