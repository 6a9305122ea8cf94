package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer figures read from outside the program: Spark's streaming
  * progress, task metrics and the adaptation loop's call sites.
  */
object Layers {
  val adaptNames: Seq[String] = Seq("adapt.collect_ms", "adapt.read_ms", "adapt.train_ms",
    "adapt.opt_step_ms", "adapt.finalise_ms", "adapt.load_ms", "adapt.table_ms", "adapt.stall_ms")
  val adaptCounts: Seq[String] = Seq("adapt.reports", "adapt.retrains", "adapt.optimizations",
    "adapt.opt_steps", "adapt.swaps", "adapt.paused_events")

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)

  /** Micro-batch anatomy: per-batch medians of `durationMs`, plus ingest. */
  def microBatch(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    def d(k: String): Seq[Double] = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trig = d("triggerExecution")
    Seq(
      "mb.latest_offset_ms" -> median(d("latestOffset")),
      "mb.query_planning_ms" -> median(d("queryPlanning")),
      "mb.add_batch_ms" -> median(d("addBatch")),
      "mb.wal_commit_ms" -> median(d("walCommit")),
      "mb.commit_offsets_ms" -> median(d("commitOffsets")),
      "mb.trigger_p50_ms" -> median(trig),
      "mb.trigger_p90_ms" -> (if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.9)),
      "mb.batches" -> ps.size.toDouble,
      "ingest.get_batch_ms" -> median(d("getBatch")),
      "ingest.rows" -> ps.map(_.numInputRows.toDouble).sum)
  }

  /** Keyed state of the stateful operators (summed over operators). */
  def state(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    val ops = ps.map(_.stateOperators.toSeq)
    val last = ops.lastOption.getOrElse(Nil)
    Seq(
      "state.rows_total" -> last.map(_.numRowsTotal.toDouble).sum,
      "state.rows_updated" -> ops.flatten.map(_.numRowsUpdated.toDouble).sum,
      "state.memory_mb" -> last.map(_.memoryUsedBytes / 1e6).sum,
      "state.all_updates_ms" -> ops.flatten.map(_.allUpdatesTimeMs.toDouble).sum,
      "state.commit_ms" -> ops.flatten.map(_.commitTimeMs.toDouble).sum)
  }
}

/** Shuffle and task totals over every task that ended while attached. */
final class TaskStats extends SparkListener {
  private val byStage = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private var runMs = 0.0
  private var gcMs = 0.0
  private var writeB = 0.0
  private var readB = 0.0
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      writeB += m.shuffleWriteMetrics.bytesWritten
      readB += m.shuffleReadMetrics.totalBytesRead
      byStage.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime.toDouble
    }
  }
  def metrics: Seq[(String, Double)] = synchronized {
    val skews = byStage.values.filter(_.size > 1).map { ts =>
      val med = Stats.quantile(ts.toSeq, 0.5)
      ts.max / math.max(med, 1.0)
    }.toSeq
    Seq(
      "shuffle.write_mb" -> writeB / 1e6,
      "shuffle.read_mb" -> readB / 1e6,
      "task.run_ms" -> runMs,
      "task.gc_ms" -> gcMs,
      "task.skew" -> (if (skews.isEmpty) 1.0 else Stats.quantile(skews, 0.5)))
  }
}

/** The run's environment stamp. None of it adjusts a metric. */
final case class Env(master: String, heap: String, calibS: Double) {
  def stamp(seed: Long): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> master,
    "heap" -> heap,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
    "jdk" -> System.getProperty("java.runtime.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "seed" -> seed,
    "calib_s" -> calibS)
}

object Env {
  /** CPU time the program has used so far, in ms: this process's user and
    * system time plus that of the child processes it has reaped (the
    * `chmod`s that Hadoop's local file system forks), less the time of the
    * JIT compiler threads. Linux books time that the host steals from the
    * VM as steal, not to the process, and time spent waiting for a core is
    * not CPU time, so this grows far less than wall time when other tenants
    * load the host; it still grows when the host runs the cores slower.
    * Clock ticks are 10 ms.
    */
  def cpuMs(): Double = (ticks("/proc/self/stat", 11 to 14) -
    compilerThreads.map(t => ticks(s"/proc/self/task/$t/stat", 11 to 12)).sum) * 10.0

  /** The JIT compiler threads; fixed for the JVM's life because run.py
    * turns off dynamic compiler threads.
    */
  private lazy val compilerThreads: Seq[String] = {
    val tasks = new java.io.File("/proc/self/task").list().toSeq
    tasks.filter { t =>
      val comm = read(s"/proc/self/task/$t/comm")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }
  }

  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)))

  /** Sum of the given fields (0 = the state field) of a /proc stat file. */
  private def ticks(path: String, fields: Range): Long = {
    val stat = read(path)
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    fields.map(i => rest(i).toLong).sum
  }

  /** Heap still reachable after full collections. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mx.getHeapMemoryUsage.getUsed / 1e6
  }

  /** The Bench calibration probe (a seeded local aggregate + small
    * shuffle), best of three after one warm-up. Reported, never applied.
    */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(10000000L)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .agg(org.apache.spark.sql.functions.sum("s")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }
}

/** A StreamingQueryListener that keeps every progress event (all queries,
  * including the gates' internal ones) and, when tracing, a span per
  * callback.
  */
final class ProgressLog(timer: Timer) extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    progress.add(e.progress)
    timer.span("listener.progress", t0, System.nanoTime() - t0)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}
