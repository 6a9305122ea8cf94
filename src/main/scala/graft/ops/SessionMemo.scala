package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The one cross-query store of the batch surface: values that several
  * queries of a session share, built once per (session, data dir, kind)
  * — the way the RTCEF Factory keeps one model store for its jobs.
  *
  *  - [[frame]] entries are DataFrames (the near-dup pair table, the
  *    (source, word) count table, …), persisted and materialized
  *    (`count()`) when built. An entry whose storage level reads NONE —
  *    after `clearCache()`, or after another session unpersisted the
  *    same plan — is rebuilt on lookup, never served from lineage.
  *  - [[model]] entries are driver-side values (an SPST, a BPE merge
  *    list), stored as is.
  *
  * Each entry builds at most once, under its own holder's monitor and
  * never under the map lock: unrelated keys build in parallel, and a
  * build may look up another key. One access-order LRU bounds the store:
  * beyond [[MaxEntries]] entries, or when the measured cached bytes
  * exceed half the block managers' storage memory, the eldest built
  * entries are dropped and their DataFrames unpersisted (the newest entry
  * always stays). [[Release.sweepStart]] drops a session's entries, so
  * every sweep starts cold; a stopping SparkContext drops and unpersists
  * the entries of all its sessions.
  */
object SessionMemo {

  val MaxEntries = 64

  private final case class Key(session: SparkSession, dir: String, kind: String)

  /** Double-checked build cell: `value` runs `build` at most once
    * (a throwing build leaves the cell empty for the next caller).
    */
  private final class Holder(build: () => AnyRef) {
    @volatile private var v: AnyRef = _
    @volatile var bytes = 0L
    def built: Boolean = v != null
    def value: AnyRef = {
      if (v == null) synchronized {
        if (v == null) {
          builds.incrementAndGet()
          val b = build()
          bytes = b match { case df: Dataset[_] => cachedBytes(df); case _ => 0L }
          v = b
        }
      }
      v
    }
  }

  // access order: get() refreshes recency, iteration runs eldest first
  private val entries = new java.util.LinkedHashMap[Key, Holder](16, 0.75f, true)
  private val hookedApps = ConcurrentHashMap.newKeySet[String]()

  /** Builds run (memo misses), for specs that pin "one build per key". */
  private[graft] val builds = new AtomicLong(0L)

  private[graft] def entryCount: Int = entries.synchronized(entries.size)

  /** The driver-side value of (s, dir, kind), trained on first use. */
  def model[T <: AnyRef](s: SparkSession, dir: String, kind: String)(train: => T): T =
    lookup(key(s, dir, kind), () => train).value.asInstanceOf[T]

  /** The persisted, materialized DataFrame of (s, dir, kind). */
  def frame(s: SparkSession, dir: String, kind: String)(build: => DataFrame): DataFrame = {
    val k = key(s, dir, kind)
    val materialize = () => {
      val df = build.persist()
      try df.count() catch { case e: Throwable => df.unpersist(); throw e }
      df
    }
    val h = lookup(k, materialize)
    val df = h.value.asInstanceOf[DataFrame]
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      entries.synchronized(entries.remove(k, h))
      lookup(k, materialize).value.asInstanceOf[DataFrame]
    }
  }

  /** Drop `s`'s entries (the sweep boundary of [[Release.sweepStart]]). */
  private[graft] def dropSession(s: SparkSession): Unit = remove(_.session eq s)

  private def key(s: SparkSession, dir: String, kind: String): Key = {
    if (hookedApps.add(s.sparkContext.applicationId)) {
      val sc = s.sparkContext
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          remove(_.session.sparkContext eq sc)
      })
    }
    Key(s, java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString, kind)
  }

  /** The built holder of `k`, created with `build` on a miss. */
  private def lookup(k: Key, build: () => AnyRef): Holder = {
    val h = entries.synchronized {
      var h = entries.get(k)
      if (h == null) { h = new Holder(build); entries.put(k, h) }
      h
    }
    h.value
    trim(k.session)
    h
  }

  /** Evict eldest-first past the entry or byte bound; entries still
    * building and the newest entry are never evicted.
    */
  private def trim(s: SparkSession): Unit = {
    val budget = s.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 2
    val evicted = entries.synchronized {
      var bytes = 0L
      entries.values.forEach(h => bytes += h.bytes)
      val out = List.newBuilder[Holder]
      val it = entries.values.iterator()
      var older = entries.size - 1
      while ((entries.size > MaxEntries || bytes > budget) && older > 0) {
        val h = it.next()
        older -= 1
        if (h.built) { it.remove(); bytes -= h.bytes; out += h }
      }
      out.result()
    }
    evicted.foreach(unpersist)
  }

  private def remove(p: Key => Boolean): Unit = {
    val removed = entries.synchronized {
      val out = List.newBuilder[Holder]
      val it = entries.entrySet.iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) { it.remove(); out += e.getValue }
      }
      out.result()
    }
    removed.foreach(unpersist)
  }

  private def unpersist(h: Holder): Unit =
    if (h.built) h.value match {
      case df: Dataset[_] => try df.unpersist(false) catch { case _: Exception => () }
      case _ => ()
    }

  /** In-memory size of a materialized cached DataFrame's batches. */
  private def cachedBytes(df: Dataset[_]): Long =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.sizeInBytesStats.value.longValue
    }.getOrElse(0L)
}
