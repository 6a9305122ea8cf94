package graft.perfbench

import graft.cef._
import graft.cef.adapt.InMemory
import graft.cef.spark.{Inference, Kafka}
import graft.cef.spark.Inference.Out
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import StreamSpec._

/** A streaming workload: log shape, drifts and whether the adaptation loop
  * runs. Everything the two workloads share is in the companion object.
  *
  * @param firstActive vessels in the first file, the set-up batch
  * @param drainActive vessels per further drain file (each with `perKey` fixes)
  * @param warmBatches drain batches after the set-up batch that warm the JIT
  *                    and are left out of the throughput
  * @param liveActive  vessels per live file
  */
final case class StreamSpec(
    vessels: Int,
    perKey: Int,
    drainBatches: Int,
    warmBatches: Int,
    firstActive: Int,
    drainActive: Int,
    liveActive: Int,
    drifts: Seq[(Int, Regime)], // (batch, regime from that batch on)
    adapt: Boolean,
    reportingDistance: Long) {
  /** Vessels per file: the drain files, then `live` live files. */
  def sizes(live: Int): Seq[Int] =
    firstActive +: (Seq.fill(drainBatches - 1)(drainActive) ++ Seq.fill(live)(liveActive))
}

object StreamSpec {
  /** A fast fix followed by a stopped one. */
  val PatternText = ";(GTPredicate(speed,8.0),LTPredicate(speed,1.0))"
  /** Event-time span of one file, in seconds. */
  val Dt = 60L
  /** Live phase: a closed loop; each file is released `ThinkMs` after the
    * previous live batch's sink call ended, and one live batch runs per
    * second of `--seconds`.
    */
  val ThinkMs = 250
  /** Engine: order-2 SPST, models swapped in without delay. */
  val Order = 2
  val SwapDelay = 0L
  /** Bootstrap training history: vessels × fixes each. */
  val HistoryVessels = 200
  val HistoryPerKey = 60

  /** CLASSIFY_NEXTK forecasts with threshold 0.5, k = 1, horizon 20. */
  def table(spst: Spst): Map[(List[Int], Int), ForecastInterval] =
    spst.forecastTable(ForecastMethod.ClassifyNextK, 0.5, 1, 20)

  val ManyKeys = StreamSpec(
    vessels = 20000, perKey = 2,
    drainBatches = 12, warmBatches = 4, firstActive = 1000, drainActive = 5000, liveActive = 500,
    drifts = Nil, adapt = false, reportingDistance = 600L)

  val DriftAdapt = StreamSpec(
    vessels = 1200, perKey = 4,
    drainBatches = 24, warmBatches = 2, firstActive = 1200, drainActive = 1200, liveActive = 600,
    drifts = Seq(4 -> Regime.Mild, 12 -> Regime.Severe), adapt = true, reportingDistance = 60L)
}

/** Runs one streaming workload end to end and checks it against the
  * single-threaded reference. See README.md for the phases.
  */
final class StreamBench(spec: StreamSpec, seed: Long, seconds: Int, root: Path, tracing: Boolean,
    inject: Boolean) {

  private val timer = new Timer(tracing)
  private val liveBatches = seconds
  require(liveBatches >= 5, s"--seconds $seconds leaves fewer than 5 live batches")
  private val nBatches = spec.drainBatches + liveBatches
  private val staging = root.resolve("staging")
  private val source = root.resolve("source")

  // ---- inputs, generated before any timing
  private val genStart = System.nanoTime()
  private val shape = spec.sizes(liveBatches)
  private def generate(): Array[Array[Ev]] =
    Maritime.generate(spec.vessels, spec.perKey, Dt, shape, spec.drifts, seed)
  // the harness's own copies of the log: dropped before the live heap is
  // measured and generated again for the check
  private var files = generate()
  private var cevents: Array[Seq[CEvent]] = files.map(_.toSeq.map(Maritime.toCEvent))
  private var history = Maritime.history(HistoryVessels, HistoryPerKey, seed).map(Maritime.toCEvent)
  private val nEvents = files.map(_.length).sum
  Files.createDirectories(staging)
  Files.createDirectories(source)
  private val mtime0 = System.currentTimeMillis() - 3600000L
  private val bytes = files.indices.map { b =>
    Maritime.writeFile(files(b), staging.resolve(f"b$b%05d.json"), mtime0 + b * 10L)
  }.sum
  private val genS = (System.nanoTime() - genStart) / 1e9

  // ---- sink state (written by the stream thread, read after the run)
  private val digests = new Digests(nEvents)
  private var scorer = new Scorer
  private val sinkEnd = new Array[Long](nBatches)
  private val cpuEnd = new Array[Double](nBatches)
  private val latch = new CountDownLatch(nBatches)
  private val drained = new CountDownLatch(spec.drainBatches)
  private val firstBatch = new CountDownLatch(1)
  @volatile private var misplaced = 0L
  @volatile private var failure: Option[Throwable] = None
  private val handle = new Inference.ControlHandle
  private var loop: Option[AdaptLoop] = None

  private def sink(df: Dataset[Out], id: Long): Unit = {
    val t0 = System.nanoTime()
    try {
      val b = id.toInt
      var rows = df.collect()
      if (inject && b == spec.drainBatches + 1) rows = Injection(rows)
      val lo = files(b).head.eid
      val hi = files(b).last.eid
      rows.foreach { o =>
        if (o.eventId < lo || o.eventId > hi) misplaced += 1
        else { digests.add(o); scorer.add(o, b) }
      }
      loop.foreach(_.onBatch(b, cevents(b), rows.filter(_.kind == "report").toSeq, handle))
      sinkEnd(b) = System.nanoTime()
      cpuEnd(b) = Env.cpuMs()
      timer.span("sink.batch", t0, sinkEnd(b) - t0)
    } catch { case e: Throwable => failure = Some(e); throw e }
    finally {
      firstBatch.countDown(); drained.countDown(); latch.countDown()
    }
  }

  private def query(spark: SparkSession, cp: CompiledPattern, src: Path, ckpt: Path,
      sinkFn: (Dataset[Out], Long) => Unit): StreamingQuery = {
    val raw = spark.readStream.option("maxFilesPerTrigger", 1).text(src.toString)
    val idCol = substring_index(substring_index(col("value"), ",", 1), ":", -1)
    val events = Kafka.maritimeEventStream(raw, idCol)
    Inference.engine(events, cp, Models.get _, handle, initialModelId = 0,
      swapDelay = SwapDelay, reportingDistance = spec.reportingDistance)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(sinkFn)
      .start()
  }

  /** Compile, train the initial model, build its forecast table, start the
    * query and wait for its first completed batch. Returns (seconds, the
    * compiled pattern, the query).
    */
  private def setUp(spark: SparkSession, rep: Int, real: Boolean): (Double, CompiledPattern, StreamingQuery) = {
    val t0 = System.nanoTime()
    val cp = timer.time("setup.compile_ms")(Compiler.compile(PatternText))
    val spst = timer.time("setup.train_ms")(InMemory.train(history, cp, Order, 0.001, 0.001))
    Models.put(0, (spst, timer.time("setup.train_ms")(table(spst))))
    val src = if (real) source else Files.createDirectories(root.resolve(s"setup-src-$rep"))
    if (real) {
      loop = Option.when(spec.adapt)(new AdaptLoop(cp, root.resolve("adapt").toString,
        idBase = 1, table, timer))
      (0 until spec.drainBatches).foreach(release)
    }
    else Files.copy(staging.resolve("b00000.json"), src.resolve("b00000.json"))
    val ckpt = root.resolve(s"checkpoint-$rep")
    val q =
      if (real) query(spark, cp, src, ckpt, sink)
      else {
        val done = new CountDownLatch(1)
        val q = query(spark, cp, src, ckpt, (df, _) => { df.collect(); done.countDown() })
        await(done, q, "set-up batch")
        q.stop()
        q
      }
    if (real) await(firstBatch, q, "first batch")
    ((System.nanoTime() - t0) / 1e9, cp, q)
  }

  private def release(b: Int): Unit = {
    val name = f"b$b%05d.json"
    Files.move(staging.resolve(name), source.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def await(l: CountDownLatch, q: StreamingQuery, what: String): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (!l.await(50, TimeUnit.MILLISECONDS)) {
      failure.foreach(e => throw new RuntimeException(s"sink failed during $what", e))
      q.exception.foreach(e => throw new RuntimeException(s"query failed during $what", e))
      if (System.nanoTime() > deadline) throw new RuntimeException(s"timed out waiting for $what")
    }
  }

  def run(session: () => (SparkSession, Double)): Result = {
    val tStart = System.nanoTime()
    val cpu0 = Env.cpuMs()
    val (spark, sessionS) = session()
    val sessionCpuS = (Env.cpuMs() - cpu0) / 1e3
    timer.add("setup.session_s", sessionS)
    if (tracing) spark.streams.addListener(new ProgressLog(timer))
    val tasks = new TaskStats
    // set up three times; the third set-up is the measured run's own and
    // ends, in CPU time, where its first batch's sink call ended
    val reps = (0 until 3).map { r =>
      if (r == 2) spark.sparkContext.addSparkListener(tasks)
      val c0 = Env.cpuMs()
      val (wall, cp, q) = setUp(spark, r, real = r == 2)
      (wall, ((if (r == 2) cpuEnd(0) else Env.cpuMs()) - c0) / 1e3, cp, q)
    }
    val (_, _, cp, q) = reps.last
    def median(xs: Seq[Double]): Double = xs.sorted.apply(1)
    val setupCpuS = sessionCpuS + median(reps.map(_._2))
    val setupWallS = sessionS + median(reps.map(_._1))
    timer.add("setup.first_batch_s", reps.last._1)

    // ---- drain: the backlog, as fast as the stream goes
    await(drained, q, "drain")
    val drainEvents = (spec.warmBatches + 1 until spec.drainBatches).map(files(_).length).sum
    val drainS = (sinkEnd(spec.drainBatches - 1) - sinkEnd(spec.warmBatches)) / 1e9
    val drainCpuMs = cpuEnd(spec.drainBatches - 1) - cpuEnd(spec.warmBatches)

    // ---- live: closed loop, one file at a time, `ThinkMs` after the
    // previous batch's sink call ended
    val think = ThinkMs * 1000000L
    val released = new Array[Long](liveBatches)
    val cpuReleased = new Array[Double](liveBatches)
    val late = new Array[Long](liveBatches)
    val gen = new Thread(() => {
      var k = 0
      while (k < liveBatches && failure.isEmpty) {
        val prev = spec.drainBatches + k - 1
        while (latch.getCount > nBatches - prev - 1 && failure.isEmpty) Thread.sleep(1)
        val due = sinkEnd(prev) + think
        var now = System.nanoTime()
        while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
        cpuReleased(k) = Env.cpuMs()
        release(spec.drainBatches + k)
        released(k) = System.nanoTime()
        late(k) = released(k) - due
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    await(latch, q, "live phase")
    gen.join()
    // the last batch's progress is posted after its commit
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (Option(q.lastProgress).forall(_.batchId < nBatches - 1) && System.nanoTime() < deadline)
      Thread.sleep(10)
    q.stop()
    val tLive = System.nanoTime()
    val (stats, perBatch) = scorer.score()
    scorer = null; files = null; cevents = null; history = null
    val heapMb = Env.liveHeapMb()
    files = generate()
    cevents = files.map(_.toSeq.map(Maritime.toCEvent))
    val adaptLoopS = loop.map(_.adaptSeconds.toSeq).getOrElse(Nil)
    org.apache.spark.PerfbenchBus.drain(spark)
    spark.sparkContext.removeSparkListener(tasks)
    failure.foreach(e => throw e)

    // the program's share of a live event's latency: from its file's release
    // to the end of its batch's sink call, one value per live batch
    val lat = (0 until liveBatches).map(k => (sinkEnd(spec.drainBatches + k) - released(k)) / 1e6)
    // and the program's CPU time over the same interval
    val liveCpu = (0 until liveBatches).map(k => cpuEnd(spec.drainBatches + k) - cpuReleased(k))

    // ---- check, outside the timed region
    val refDigests = new Digests(nEvents)
    val refHandle = new Inference.ControlHandle
    val refTimer = new Timer(false)
    val refLoop = Option.when(spec.adapt)(new AdaptLoop(cp, root.resolve("adapt-ref").toString,
      idBase = 100001, table, refTimer))
    val ref = new ReferenceEngine(cp, Models.get _, 0, SwapDelay, spec.reportingDistance)
    var refStepNs = 0L
    val refScorer = new Scorer
    (0 until nBatches).foreach { b =>
      val t0 = System.nanoTime()
      val outs = ref.batch(cevents(b), refHandle.current)
      refStepNs += System.nanoTime() - t0
      outs.foreach { o => refDigests.add(o); refScorer.add(o, b) }
      refLoop.foreach(_.onBatch(b, cevents(b), outs.filter(_.kind == "report"), refHandle))
    }
    val okEvents = (0 until nEvents).count(i => digests.matches(refDigests, i))
    val tCheck = System.nanoTime()
    val loopCounts = loop.map(_.counts.toMap).getOrElse(Map.empty[String, Long])
    val refCounts = refLoop.map(_.counts.toMap).getOrElse(Map.empty[String, Long])
    val agree = loopCounts == refCounts && misplaced == 0 &&
      loop.map(_.instructions.toSeq) == refLoop.map(_.instructions.toSeq)
    // the adaptive workload must adapt: a retrain and an optimize with swap
    val adapted = !spec.adapt || Seq("adapt.retrains", "adapt.optimizations")
      .forall(loopCounts.getOrElse(_, 0L) >= 1) && loopCounts.getOrElse("adapt.swaps", 0L) >= 2

    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupCpuS,
      "cpu_ms_per_kevent" -> drainCpuMs / (drainEvents / 1000.0),
      "ok_ratio" -> okEvents.toDouble / nEvents,
      "heap_live_mb" -> heapMb)
    val layers = mutable.LinkedHashMap[String, Double](
      "throughput_eps" -> drainEvents / drainS,
      "lat_p50_ms" -> Stats.quantile(lat, 0.5),
      "live_batch_cpu_ms" -> Stats.quantile(liveCpu, 0.5),
      "setup.wall_s" -> setupWallS)
    layers ++= Layers.microBatch(progress)
    layers ++= Layers.state(progress)
    layers ++= tasks.metrics
    layers ++= Seq(
      "runtime.step_eps" -> ref.stepped / (refStepNs / 1e9),
      "runtime.detections" -> refScorer.detections.toDouble,
      "runtime.forecasts" -> refScorer.forecasts.toDouble)
    layers ++= Layers.adaptNames.map(n => n -> timer.totals.getOrElse(n, 0.0))
    layers ++= Layers.adaptCounts.map(n => n -> loopCounts.getOrElse(n, 0L).toDouble)
    layers("adapt.publish_p50_s") = if (adaptLoopS.isEmpty) 0.0 else Stats.quantile(adaptLoopS, 0.5)
    layers ++= Seq("setup.session_s", "setup.compile_ms", "setup.train_ms", "setup.first_batch_s")
      .map(n => n -> timer.totals.getOrElse(n, 0.0))
    layers("quality.mcc") = stats.mcc
    layers("gen.late_p99_ms") = Stats.quantile(late.toSeq.map(_ / 1e6), 0.99)

    val record = mutable.LinkedHashMap[String, Any](
      "hash" -> digests.hash, "mcc" -> stats.mcc,
      "mb.batches" -> progress.size, "events" -> nEvents, "input_mb" -> bytes / 1e6,
      "drain_batches" -> spec.drainBatches, "live_batches" -> liveBatches,
      "live_events_per_file" -> spec.liveActive * spec.perKey,
      "think_ms" -> ThinkMs, "misplaced_rows" -> misplaced,
      "instructions" -> loop.map(_.instructions.mkString(",")).getOrElse(""),
      "adapt_counts" -> loopCounts.map { case (k, v) => k -> v }.toMap,
      "reference_agrees" -> agree, "adapted" -> adapted,
      "phases_s" -> Map("gen" -> genS, "setup" -> (sinkEnd(0) - tStart) / 1e9,
        "drain" -> (sinkEnd(spec.drainBatches - 1) - sinkEnd(0)) / 1e9,
        "live" -> (tLive - sinkEnd(spec.drainBatches - 1)) / 1e9, "check" -> (tCheck - tLive) / 1e9),
      "setup_runs_s" -> reps.map(_._1), "setup_runs_cpu_s" -> reps.map(_._2),
      "session_cpu_s" -> sessionCpuS, "live_latency_ms" -> lat, "live_cpu_ms" -> liveCpu,
      "throughput_eps" -> drainEvents / drainS, "drain_cpu_s" -> drainCpuMs / 1e3,
      "drain_batch_ms" -> (1 until spec.drainBatches).map(b => (sinkEnd(b) - sinkEnd(b - 1)) / 1e6))
    val traceOut = if (!tracing) Map.empty[String, Any] else Map(
      "spans" -> timer.spans.toSeq.map { case (n, s, d) => Seq(n, s / 1e6, d / 1e6) },
      "mcc_series" -> perBatch.toSeq.sortBy(_._1).map { case (b, s) => Seq(b, s.mcc) })
    Result(e2e, layers, record, traceOut,
      attempted = nEvents.toLong, failed = (nEvents - okEvents).toLong,
      correct = okEvents == nEvents && agree && adapted && progress.size == nBatches)
  }

}

/** Test hook for the checker (`--inject 1`): drop one output row and alter
  * another, as a faulty program would.
  */
object Injection {
  def apply(rows: Array[Out]): Array[Out] = {
    require(rows.length >= 2, "too few rows to inject a fault")
    rows.drop(2) :+ rows(1).copy(prob = rows(1).prob + 0.125)
  }
}

final case class Result(
    e2e: collection.Map[String, Double],
    layers: collection.Map[String, Double],
    record: collection.Map[String, Any],
    trace: collection.Map[String, Any],
    attempted: Long,
    failed: Long,
    correct: Boolean)

object Stats {
  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
}
