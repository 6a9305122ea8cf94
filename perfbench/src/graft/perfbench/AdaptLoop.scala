package graft.perfbench

import graft.cef._
import graft.cef.adapt._
import graft.cef.spark.Inference
import scala.collection.mutable

/** Global model registry read by the engine's `loadModel` (local mode: the
  * executors share the driver JVM). Ids are namespaced per loop so the
  * stream and the reference replay never see each other's models.
  */
object Models {
  type Entry = (Spst, Map[(List[Int], Int), ForecastInterval])
  private val m = new java.util.concurrent.ConcurrentHashMap[Int, Entry]()
  def put(id: Int, e: Entry): Unit = m.put(id, e)
  def get(id: Int): Entry = {
    val e = m.get(id)
    require(e != null, s"model $id not published")
    e
  }
}

/** The Observer → Controller → Factory loop, driven synchronously at batch
  * boundaries through the public `graft.cef.adapt` API.
  *
  * At the end of batch b, the Collector archives the batch's events and the
  * batch's reports (sorted by time, key) feed the GlobalAggregator and the
  * Observer. An instruction at batch b assembles the Factory's dataset from
  * the latest Collector notification and queues the Controller's commands;
  * a pause takes effect from batch b + 1. `StepsPerBatch` Factory
  * commands run per batch; with D = `PublishDelay`,
  * whatever is left at the end of batch b + D − 1 runs there and then (the
  * stream waits: `stall`). The new model is published to the handle at the
  * end of batch b + D − 1, so batch b + D runs on it. An instruction that
  * arrives while one is in flight is dropped.
  *
  * @param idBase engine model id of the Factory's model 0
  */
final class AdaptLoop(
    cp: CompiledPattern,
    dir: String,
    idBase: Int,
    table: Spst => Map[(List[Int], Int), ForecastInterval],
    timer: Timer) {

  import AdaptLoop._

  val collector = new Collector(s"$dir/collector", bucketSizeSec = WindowSec, lastK = 1)
  val factory = new Factory(cp, s"$dir/models", order = StreamSpec.Order)
  val controller = new Controller()
  // the reference system's Observer defaults are lowScore 0.2, optDiff 0.10,
  // trainDiff 0.05, grace 2; these make the two drifts of drift_adapt give
  // exactly one retrain and one optimize, with the low-score rule off
  val observer = new Observer(lowScore = -1.0, optDiff = 0.25, trainDiff = 0.12, graceInit = 1)
  val aggregator = new GlobalAggregator(WindowSec)

  private var notification: Option[DatasetNotification] = None
  private var queue: List[FactoryCommand] = Nil
  private var started = -1      // batch of the instruction in flight
  private var startedNs = 0L
  private var publish: Option[SyncCommand] = None // play(model) or a model report
  private var retrainModel = -1

  val counts: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "adapt.reports" -> 0L, "adapt.retrains" -> 0L, "adapt.optimizations" -> 0L,
    "adapt.opt_steps" -> 0L, "adapt.swaps" -> 0L, "adapt.paused_events" -> 0L,
    "adapt.dropped_instructions" -> 0L)
  val adaptSeconds = mutable.ArrayBuffer.empty[Double]
  val instructions = mutable.ArrayBuffer.empty[String]
  private var paused = false

  private def bump(k: String, n: Long = 1L): Unit = counts(k) += n

  /** Run the loop's work for batch `b`, whose events were `events` and
    * whose engine outputs included `reports`; updates `handle` for the
    * batches after b.
    */
  def onBatch(b: Int, events: Seq[CEvent], reports: Seq[Inference.Out],
      handle: Inference.ControlHandle): Unit = {
    if (paused) bump("adapt.paused_events", events.size.toLong)
    timer.time("adapt.collect_ms") {
      collector.processBatch(events).lastOption.foreach(n => notification = Some(n))
    }
    val decoded = reports.map(Outputs.report).sortBy(r => (r.timestamp, r.key))
    bump("adapt.reports", decoded.size.toLong)
    decoded.foreach { r =>
      aggregator.add(r).foreach { g =>
        observer.onReport(g).foreach(ins => instruct(b, ins, handle))
      }
    }
    if (started >= 0) {
      val last = b == started + PublishDelay - 1
      if (queue.nonEmpty) {
        if (last) timer.time("adapt.stall_ms") { while (queue.nonEmpty) runOne() }
        else (1 to StepsPerBatch).foreach(_ => if (queue.nonEmpty) runOne())
      }
      if (last) finish(handle)
    }
  }

  private def instruct(b: Int, ins: Instruction, handle: Inference.ControlHandle): Unit = {
    instructions += s"${ins.instructionType}@$b"
    if (started >= 0) { bump("adapt.dropped_instructions"); return }
    val out = controller.onInstruction(ins)
    if (out.factoryCommands.isEmpty) { bump("adapt.dropped_instructions"); return }
    started = b
    startedNs = System.nanoTime()
    ins.instructionType match {
      case "optimize" => bump("adapt.optimizations")
      case _          => bump("adapt.retrains")
    }
    notification.foreach { n =>
      val ds = timer.time("adapt.read_ms")(collector.readDataset(n))
      collector.onAck(factory.onNotification(n, ds))
    }
    out.syncCommands.foreach { c =>
      handle.push(c)
      if (c.cmdType == "pause") paused = true
    }
    queue = out.factoryCommands
  }

  /** Execute the next Factory command and route its report. */
  private def runOne(): Unit = {
    val cmd = queue.head
    queue = queue.tail
    if (cmd.cmdType == "opt_initialise") {
      factory.onCommand(cmd)
      if (queue.nonEmpty) runOne()
      return
    }
    val rep = cmd.cmdType match {
      case "opt_step" =>
        bump("adapt.opt_steps"); timer.time("adapt.opt_step_ms")(factory.onCommand(cmd))
      case "opt_finalise" => timer.time("adapt.finalise_ms")(factory.onCommand(cmd))
      case "train"        => timer.time("adapt.train_ms")(factory.onCommand(cmd))
      case _              => factory.onCommand(cmd)
    }
    val engineId = if (rep.modelId >= 0) rep.modelId + idBase else -1
    if (rep.reportType == "opt_finalised" || rep.reportType == "trained") {
      val spst = timer.time("adapt.load_ms")(ModelStore.load(rep.modelPath))
      val t = timer.time("adapt.table_ms")(table(spst))
      Models.put(engineId, (spst, t))
      if (rep.reportType == "trained") retrainModel = engineId
    }
    val out = controller.onFactoryReport(
      if (engineId >= 0) rep.copy(modelId = engineId) else rep)
    out.syncCommands.foreach(c => publish = Some(c))
    queue = queue ++ out.factoryCommands
  }

  private def finish(handle: Inference.ControlHandle): Unit = {
    publish.foreach(handle.push)
    if (retrainModel >= 0) handle.pushModel(retrainModel)
    if (publish.exists(_.modelId >= 0) || retrainModel >= 0) bump("adapt.swaps")
    paused = false
    adaptSeconds += (System.nanoTime() - startedNs) / 1e9
    publish = None; retrainModel = -1; started = -1
  }
}

object AdaptLoop {
  /** Collector buckets and the Observer's global windows: one file's
    * event-time span in drift_adapt (4 fixes × 60 s).
    */
  val WindowSec = 240L
  /** D: an instruction at batch b takes effect from batch b + D. */
  val PublishDelay = 7
  /** Factory commands run at the end of each batch while one is in flight. */
  val StepsPerBatch = 2
}

/** Accumulates named wall-time totals (ms) and, when tracing, one span per
  * call.
  */
final class Timer(tracing: Boolean) {
  val totals: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val origin: Long = System.nanoTime()
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      totals(name) = totals.getOrElse(name, 0.0) + (t1 - t0) / 1e6
      if (tracing) spans.synchronized(spans += ((name, t0 - origin, t1 - t0)))
    }
  }
  def add(name: String, ms: Double): Unit = totals(name) = totals.getOrElse(name, 0.0) + ms
  def span(name: String, startNs: Long, durNs: Long): Unit =
    if (tracing) spans.synchronized(spans += ((name, startNs - origin, durNs)))
}
