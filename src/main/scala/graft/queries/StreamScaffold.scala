package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.cef.spark.CheckpointFiles
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{lit, ntile}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one streaming-gate scaffold. Every streaming gate (the cef event
  * stream, the p-family document stream) replays a table as [[Slices]]
  * ordered parquet files, one file per micro-batch, so keyed state
  * round-trips across ≥ [[Slices]] batch boundaries — the micro-batch
  * model of the Structured Streaming paper. Four parts:
  *
  *  - '''builder''' ([[slices]], [[cached]]): one cached slice set per
  *    (table path, variant) and session. The table is cut by
  *    `ntile(Slices)` over the caller's total order and written as
  *    `slice-001.parquet` … with strictly increasing mtimes (the file
  *    source replays oldest first). The DuckDB oracles replay exactly
  *    this assignment rule.
  *  - '''reader''' ([[read]]): a slice set as one DataFrame with the
  *    slice index in [[SliceCol]], each file read as ONE partition so
  *    intra-slice row order survives files above
  *    `spark.sql.files.maxPartitionBytes`.
  *  - '''runner''' ([[run]]): a slice set through a transform into a
  *    memory sink under `Trigger.AvailableNow`, with the per-gate conf
  *    scoping, the ≥ [[Slices]] fed-batch check, the sink drain and the
  *    per-run cleanup.
  *  - '''janitor''' ([[track]], [[cleanAll]], [[sweepStale]]): slice
  *    sets are session-owned — deleting one mid-session strands every
  *    later gate — so their dirs are deleted, and the cache cleared,
  *    when the session stops. Before this janitor, back-to-back driver
  *    runs accumulated dozens of slice dirs whose tmpfs/page-cache
  *    pressure uniformly ~2x-ed the streaming family (the BENCH_r12
  *    contamination incident, SCALE.md round-12 closing sweep).
  *
  * The janitor has three layers, so no manual /tmp hygiene is needed:
  *
  *  1. every scaffold dir is [[track]]ed; a listener on the owning
  *     SparkContext deletes them all at `onApplicationEnd` — i.e. when
  *     `spark.stop()` runs;
  *  2. a JVM shutdown hook backstops sessions that exit without stop();
  *  3. [[sweepStale]] removes dirs left by DEAD earlier JVMs. Ownership
  *     is explicit: every scaffold dir carries an owner-PID marker file
  *     written at creation, and the sweep skips any dir whose owning
  *     process is still alive — a sibling JVM that started EARLIER than
  *     this one but is still RUNNING keeps its live slice sets.
  *     Unmarked dirs (pre-marker leftovers) fall back to the mtime
  *     rule. `graft.Runner.session` calls it before it builds a
  *     session, so every main (Bench, Verify, Cli, ScaleGen) starts
  *     clean.
  */
private[graft] object StreamScaffold {

  /** Micro-batches every gate replays (slice files × maxFilesPerTrigger
    * = 1): > 1 so the oracles gate the cross-batch state
    * snapshot/restore path, not just a single-batch pass.
    */
  val Slices = 3

  /** Slice-index column of the builder's input and the reader's output. */
  val SliceCol = "__slice"

  /** A published slice set: `slice-001.parquet` … in `dir`, and the
    * schema of those files (resolved once per set — a per-gate parquet
    * footer read was ~26 × 30 ms of pure plumbing).
    */
  final case class SliceSet(dir: Path, schema: StructType) {
    def file(i: Int): Path = dir.resolve(f"slice-$i%03d.parquet")
  }

  /** Scaffold dir-name prefixes this janitor owns. Every
    * `createTempDirectory` in the scaffold AND the probe mains must go
    * through [[newScaffoldDir]]/[[track]] with one of these (asserted
    * by ScaffoldCleanupSpec), or the stale sweep cannot see it.
    */
  val Prefixes: Seq[String] =
    Seq("graft-stream-src", "graft-stream-slices", "graft-ckpt-", "graft-batchprobe")

  /** Name of the owner-PID marker written into every scaffold dir. */
  val OwnerMarker = ".graft-owner.pid"

  /** Where scaffold dirs live, in preference order. All scaffold state
    * is EPHEMERAL by contract — re-derivable slice rewrites and per-run
    * checkpoints this janitor deletes at session end — so it belongs on
    * RAM-backed tmpfs when one exists: the per-query streaming constant
    * is dominated by fixed-cost checkpoint I/O (offset/commit WAL,
    * state-store deltas — ~0.3 s/query of fsync-bound metadata writes
    * when java.io.tmpdir is disk-backed, ScaffoldCostMain r16 grid),
    * none of which needs durability here. Production checkpoints belong
    * on durable shared storage and never go through this scaffold —
    * this is the TEST harness's state, sized in MBs.
    *
    * [[sweepStale]] scans EVERY base (not just the preferred one), so a
    * JVM upgraded to the tmpfs base still reaps dirs a dead pre-upgrade
    * sibling left on the disk-backed one.
    */
  private[graft] val bases: Seq[Path] = {
    val shm = Paths.get("/dev/shm")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    (if (Files.isDirectory(shm) && Files.isWritable(shm)) Seq(shm, tmp)
     else Seq(tmp)).distinct
  }

  private val sliceSets = new ConcurrentHashMap[String, SliceSet]()
  // memory sinks are session-global: uniquify their names across runs
  private val runs = new AtomicLong(0L)
  private val tracked = ConcurrentHashMap.newKeySet[Path]()
  private val jvmHooked = new AtomicBoolean(false)
  private val hookedApps = ConcurrentHashMap.newKeySet[String]()
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  // ------------------------------------------------------------ builder

  /** The table at `path` as [[Slices]] slice files: `ntile(Slices)` over
    * `order`, which must be a total order (the files' row order is that
    * order, and the oracles replay the assignment). `read` runs only
    * when the set is not cached yet. The single-partition window is
    * test-scaffold-scale only: the sliced table is a gate's input, not a
    * production path.
    */
  def slices(s: SparkSession, path: String, order: Column*)(read: => DataFrame): SliceSet =
    cached(s, path, path)(
      read.withColumn(SliceCol, ntile(Slices).over(Window.orderBy(order: _*))))

  /** The slice set cached under `key` (the table `path`, or `path#variant`
    * for a variant such as one derived from the base set's [[read]]),
    * built on first use from `sliced` — the rows with their slice index
    * in [[SliceCol]]. Nothing is cached when the build throws, so the
    * next call rebuilds cleanly.
    */
  def cached(s: SparkSession, path: String, key: String)(
      sliced: => DataFrame): SliceSet =
    sliceSets.computeIfAbsent(key, _ => {
      val name = key.substring(key.lastIndexOf('/') + 1)
        .replace(".parquet", "").replace('#', '-')
      val dir = track(s, newScaffoldDir(s"graft-stream-src-$name-"))
      try publish(s, path, dir, sliced)
      catch { case e: Throwable => untrack(dir); rmTree(dir); throw e }
    })

  /** One single-task partitioned write into a CHILD of a marked tmp dir
    * (overwriting the dir itself would destroy its owner marker — during
    * the build window a sibling JVM's sweepStale would fall back to the
    * mtime rule and could delete the in-progress dir, r14 ADVICE), then
    * each slice part moved into `dir` with strictly increasing mtimes.
    */
  private def publish(s: SparkSession, path: String, dir: Path, sliced: DataFrame): SliceSet = {
    val tmp = newScaffoldDir("graft-stream-slices")
    try {
      val out = tmp.resolve("out")
      sliced.coalesce(1)
        .write.mode("overwrite").partitionBy(SliceCol).parquet(out.toString)
      val base = Files.getLastModifiedTime(Paths.get(path)).toMillis
      import scala.jdk.CollectionConverters._
      for (i <- 1 to Slices) {
        val part = Files.list(out.resolve(s"$SliceCol=$i")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"slice $i of $path wrote no parquet part"))
        val dst = dir.resolve(f"slice-$i%03d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 1000L))
      }
      SliceSet(dir, s.read.parquet(dir.toString).schema)
    } finally rmTree(tmp)
  }

  // ------------------------------------------------------------- reader

  /** The slice set's rows with their slice index in [[SliceCol]], in
    * slice-then-file order. `coalesce(1)` per file keeps each slice one
    * partition even when Spark splits the file.
    */
  def read(s: SparkSession, set: SliceSet): DataFrame =
    (1 to Slices).map { i =>
      s.read.schema(set.schema).parquet(set.file(i).toString)
        .coalesce(1).withColumn(SliceCol, lit(i))
    }.reduce(_ unionAll _)

  // ------------------------------------------------------------- runner

  /** Replay `set` through `transform` into a memory sink under
    * AvailableNow, one slice file per micro-batch, and return the sink's
    * rows as a self-contained local DataFrame (bounded by the
    * oracle-compare contract). `mode` is "append" for the stateful
    * runtimes and "complete" for windowed aggregations (under
    * AvailableNow a final open window would otherwise be withheld by the
    * watermark). The sink view and checkpoint are released per run and
    * the session conf restored even when the run throws; the slice set
    * stays cached.
    */
  def run(s: SparkSession, set: SliceSet, tag: String, mode: String = "append",
      noDataBatches: Boolean = false)(transform: DataFrame => DataFrame): DataFrame = {
    val ckptDir = newCheckpointDir(s, tag)
    val sinkName = s"${tag}_sink_${runs.incrementAndGet()}"
    // each micro-batch commits one state store PER shuffle partition
    // (four for a stream-stream join), so 4 partitions keep the
    // distributed shape — a real multi-partition shuffle, several
    // stores, partition-count-independent results — at an eighth of
    // the plumbing of 32 (~0.3 s/query, ScaffoldCostMain r16 grid).
    // The trailing no-data batch only advances the watermark once more:
    // its output matters only to append-mode watermarked aggregations
    // (cef40); for every other gate it is one more commit round.
    // checkpoint files without forks (CheckpointFiles), unless the
    // session names its own manager
    val scoped = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString) ++
      CheckpointFiles.setting(s)
    val prev = scoped.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      scoped.foreach { case (k, v) => s.conf.set(k, v) }
      val raw = s.readStream.schema(set.schema)
        .option("maxFilesPerTrigger", "1").parquet(set.dir.toString)
      val q = transform(raw)
        .writeStream.format("memory").queryName(sinkName)
        .outputMode(mode)
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val fed = q.recentProgress.count(_.numInputRows > 0)
      require(fed >= Slices,
        s"streaming scaffold ($tag) expected >=$Slices micro-batches, got $fed")
      Bridge.localCopy(s.table(sinkName))
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      try s.catalog.dropTempView(sinkName) catch { case _: Exception => }
      rmTree(ckptDir)
      untrack(ckptDir)
    }
  }

  // ------------------------------------------------------------ janitor

  /** Create a scaffold temp dir with its owner-PID marker. ALL scaffold
    * dirs must be born here (tracked or not), so [[sweepStale]] in a
    * later or concurrent JVM can decide ownership by liveness instead
    * of guessing from mtimes.
    */
  def newScaffoldDir(prefix: String): Path = {
    require(Prefixes.exists(prefix.startsWith),
      s"scaffold prefix '$prefix' not in StreamScaffold.Prefixes — sweepStale could not see it")
    val dir = Files.createTempDirectory(bases.head, prefix)
    writeOwnerMarker(dir)
    dir
  }

  private def writeOwnerMarker(dir: Path): Unit =
    try Files.writeString(dir.resolve(OwnerMarker),
      ProcessHandle.current().pid().toString)
    catch { case _: Exception => () } // marker-less dirs degrade to the mtime rule

  /** Adopt `dir` for end-of-session deletion; returns it for chaining.
    * Installs the per-application listener and the JVM backstop on
    * first use.
    */
  def track(s: SparkSession, dir: Path): Path = {
    writeOwnerMarker(dir) // idempotent; covers dirs not born in newScaffoldDir
    tracked.add(dir)
    if (jvmHooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => cleanAll(), "graft-scaffold-janitor"))
    if (hookedApps.add(s.sparkContext.applicationId))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = cleanAll()
      })
    dir
  }

  /** Checkpoint dirs are per-run (deleted in the run's own finally);
    * tracking them too covers the throw-before-finally window and
    * crashed JVMs (via the name prefix + [[sweepStale]]).
    */
  def newCheckpointDir(s: SparkSession, tag: String): Path =
    track(s, newScaffoldDir(s"graft-ckpt-$tag-"))

  def untrack(dir: Path): Unit = tracked.remove(dir)

  /** Clear the slice-set cache and delete every tracked dir (a cache
    * surviving its dirs would strand the next session on dead paths).
    * Safe to call repeatedly; later sessions in the same JVM rebuild
    * cleanly.
    */
  def cleanAll(): Unit = {
    sliceSets.clear()
    val it = tracked.iterator()
    while (it.hasNext) {
      val d = it.next()
      it.remove()
      try rmTree(d) catch { case _: Exception => } // best-effort at shutdown
    }
  }

  /** Remove scaffold dirs abandoned by DEAD JVMs. A candidate (a
    * [[Prefixes]]-named dir this process doesn't track) is stale when:
    *
    *  - its [[OwnerMarker]] names a pid with no live process — swept
    *    regardless of mtime (fast crash recovery), while a marker
    *    naming a LIVE process (a concurrently running sibling, however
    *    long ago it started) is NEVER swept; or
    *  - it has no readable marker (pre-marker leftovers), and its
    *    mtime predates this JVM's start — the old heuristic, kept only
    *    as the unmarked-dir fallback.
    *
    * Returns the number of dirs removed.
    */
  def sweepStale(): Int = {
    import scala.jdk.CollectionConverters._
    val stale = bases.filter(Files.isDirectory(_)).flatMap { base =>
      Files.list(base).iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Prefixes.exists(n.startsWith) && Files.isDirectory(p) &&
          !tracked.contains(p) &&
          (ownerAlive(p) match {
            case Some(alive) => !alive
            case None =>
              try Files.getLastModifiedTime(p).toMillis < jvmStartMs
              catch { case _: Exception => false }
          })
      }.toList
    }
    stale.foreach(p => try rmTree(p) catch { case _: Exception => })
    stale.size
  }

  /** Some(true) if the dir's marker names a live process (this one or
    * a sibling), Some(false) if the owner is dead, None if no marker
    * can be read.
    */
  private def ownerAlive(p: Path): Option[Boolean] =
    try {
      val f = p.resolve(OwnerMarker)
      if (!Files.isRegularFile(f)) None
      else {
        val pid = Files.readString(f).trim.toLong
        Some(pid == ProcessHandle.current().pid() ||
          ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive).orElse(false))
      }
    } catch { case _: Exception => None }

  private def rmTree(p: Path): Unit = {
    if (!Files.exists(p)) return
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
