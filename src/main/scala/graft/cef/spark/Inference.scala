package graft.cef.spark

import graft.cef._
import graft.cef.adapt._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicReference

/** The full live-inference topology (SURVEY.md §3.1, reference
  * InferenceJob.java:57-302): ingest → key by partition attribute →
  * per-key forecasting engine with pause/play + synchronized model swap →
  * tagged outputs (detections | forecasts | reports) split by filter —
  * Spark's substitute for Flink side outputs (SURVEY.md §7.1.2).
  *
  * Control plane without broadcast state (§7.1.3): sync/model-report
  * messages are applied on the DRIVER between micro-batches via a shared
  * [[ControlHandle]] (updated by a `foreachBatch` over the control stream,
  * or directly in tests). The swap stays lossless because it is still
  * gated per key on EVENT time inside the engine state.
  */
object Inference {

  /** One tagged output row (kind: detection | forecast | report). */
  final case class Out(
      kind: String,
      partition: String,
      counter: Long,
      eventId: Long,
      timestamp: Long,
      startCounter: Long,
      endCounter: Long,
      prob: Double,
      positive: Boolean,
      payload: String)

  /** Driver-side control state shared with executors via task-closure
    * capture at micro-batch planning time: Spark serializes the referenced
    * value into each batch's tasks, so updates between batches reach the
    * next batch — the per-microbatch refresh pattern.
    *
    * Commands are COMPACTED into the target state they encode (paused flag
    * + latest model id): pause/play are idempotent state targets, so
    * replaying history per key per batch is equivalent to reading the
    * consolidated summary — and the summary stays O(1) over any uptime
    * instead of growing with every optimization round.
    */
  final class ControlHandle extends Serializable {
    /** paused = None until the first command arrives: a fresh handle after
      * a driver restart must NOT override the checkpointed per-key paused
      * state (a paused engine stays paused until an explicit play). */
    final case class Summary(paused: Option[Boolean], latestModelId: Int)
    private val state = new AtomicReference[Summary](Summary(paused = None, latestModelId = -1))
    def push(cmd: SyncCommand): Unit = state.updateAndGet { s =>
      cmd.cmdType match {
        case "pause" => s.copy(paused = Some(true))
        case "play"  => Summary(paused = Some(false),
          if (cmd.modelId >= 0) cmd.modelId else s.latestModelId)
        case _       => s
      }
    }
    /** Register a newly trained model without touching the paused flag —
      * the model_reports half of the control plane; a later play command
      * (or the running engine, if not paused) picks it up. Monotonic:
      * factory model ids increment, so a stale report collected late can
      * never roll the latest id backwards (an explicit play with a model
      * id — a deliberate rollback — still wins). */
    def pushModel(modelId: Int): Unit =
      state.updateAndGet(s => s.copy(latestModelId = math.max(s.latestModelId, modelId)))
    def current: Summary = state.get()
  }

  /** Engine state carried across micro-batches: the run
    * snapshot plus the reporting state (pending unresolved forecasts,
    * cumulative + last-reported confusion counts, next report time) —
    * exactly the reference's keyed state set (WayebEngine.java:103-128).
    *
    * Flat on purpose: primitives and primitive arrays only, written to the
    * key's one binary state column by [[toBytes]] and read back by
    * [[EngineSnapshot.fromBytes]] on every batch. The [[DetRunState]]
    * fields are inline, the SPST symbol buffer is most-recent-first, the
    * pending forecasts are three parallel arrays (positive, start, end)
    * and `cum`/`prev` are the (tp, tn, fp, fn) counts.
    */
  final case class EngineSnapshot(
      state: Int,
      counter: Long,
      minCounter: Long,
      minTs: Long,
      buffer: Array[Int],
      paused: Boolean,
      currentModelId: Int,
      latestModelId: Int,
      pendingSwapAt: Long,
      pendingPositive: Array[Boolean],
      pendingStart: Array[Long],
      pendingEnd: Array[Long],
      cum: Array[Long],
      prev: Array[Long],
      nextReportTime: Long) {

    /** The key's state column: [[EngineSnapshot.FormatVersion]], then the
      * fields in declaration order, arrays as a length and the elements
      * (big-endian, a boolean as one byte). */
    def toBytes: Array[Byte] = {
      val arrays = Seq(pendingStart, pendingEnd, cum, prev)
      val size = 1 + 4 + 3 * 8 + 4 + 4 * buffer.length + 1 + 2 * 4 + 8 +
        4 + pendingPositive.length + arrays.map(4 + 8 * _.length).sum + 8
      val b = java.nio.ByteBuffer.allocate(size)
      b.put(EngineSnapshot.FormatVersion)
      b.putInt(state).putLong(counter).putLong(minCounter).putLong(minTs)
      b.putInt(buffer.length); buffer.foreach(b.putInt)
      b.put((if (paused) 1 else 0).toByte).putInt(currentModelId).putInt(latestModelId)
      b.putLong(pendingSwapAt)
      b.putInt(pendingPositive.length); pendingPositive.foreach(p => b.put((if (p) 1 else 0).toByte))
      arrays.foreach { a => b.putInt(a.length); a.foreach(b.putLong) }
      b.putLong(nextReportTime)
      b.array()
    }
  }

  object EngineSnapshot {
    /** The first byte of [[EngineSnapshot.toBytes]]; a change to the
      * fields or their encoding takes a new value. */
    val FormatVersion: Byte = 1

    /** Read [[EngineSnapshot.toBytes]]; any other format version fails. */
    def fromBytes(bytes: Array[Byte]): EngineSnapshot = {
      if (bytes.isEmpty || bytes(0) != FormatVersion) {
        val found = if (bytes.isEmpty) "no version byte" else s"version ${bytes(0)}"
        throw new IllegalStateException(s"engine state has $found, but this build reads " +
          s"EngineSnapshot format version $FormatVersion: a checkpoint written by another " +
          "build cannot be resumed")
      }
      val b = java.nio.ByteBuffer.wrap(bytes, 1, bytes.length - 1)
      def longs(): Array[Long] = Array.fill(b.getInt)(b.getLong)
      EngineSnapshot(
        state = b.getInt, counter = b.getLong, minCounter = b.getLong, minTs = b.getLong,
        buffer = Array.fill(b.getInt)(b.getInt),
        paused = b.get != 0, currentModelId = b.getInt, latestModelId = b.getInt,
        pendingSwapAt = b.getLong,
        pendingPositive = Array.fill(b.getInt)(b.get != 0),
        pendingStart = longs(), pendingEnd = longs(), cum = longs(), prev = longs(),
        nextReportTime = b.getLong)
    }
  }

  final case class PendingForecast(positive: Boolean, start: Long, end: Long)

  implicit private val outEnc: Encoder[Out] = Encoders.product[Out]
  implicit private val stateEnc: Encoder[Array[Byte]] = Encoders.BINARY

  /** Build the streaming inference Dataset: one [[EngineRun]] per key on
    * the keyed stream ([[Keyed.stream]]). `controls` is captured when each
    * micro-batch is planned and applied per key before the batch's events.
    * Like every [[Stream]] operation it selects [[CheckpointFiles]] for the
    * session when the session names no checkpoint file manager.
    *
    * @param loadModel modelId → (spst, forecast table); must be
    *                  deterministic and serializable (executors call it)
    */
  def engine(
      events: KeyedEvents,
      cp: CompiledPattern,
      loadModel: Int => (Spst, Map[(List[Int], Int), ForecastInterval]),
      controls: ControlHandle,
      initialModelId: Int = 0,
      swapDelay: Long = 0L,
      reportingDistance: Long = 3600L): Dataset[Out] =
    Keyed.stream(events, cp.attrsRead)(key => new BinaryState(new EngineRun(key, cp, loadModel,
      controls, initialModelId, swapDelay, reportingDistance)))

  /** An [[EngineRun]] on one binary state column per key
    * ([[EngineSnapshot.toBytes]]): a struct row of the snapshot's fields
    * costs an encode and a decode through Catalyst per key and batch. */
  private final class BinaryState(run: EngineRun) extends KeyedRuntime[Array[Byte], Out] {
    def restore(s: Array[Byte]): Unit = run.restore(EngineSnapshot.fromBytes(s))
    def feed(e: CEvent, out: Out => Unit): Unit = run.feed(e, out)
    def snapshot: Array[Byte] = run.snapshot.toBytes
  }

  /** The keyed forecasting engine of one key for one micro-batch: a
    * [[SpstRun]] with pause/play, the event-time gated model swap, online
    * forecast resolution and periodic reports. It starts at its first
    * `feed` (or `snapshot`): the restored snapshot, then the control
    * summary (read once per key per batch), then the current model.
    */
  private[cef] final class EngineRun(
      key: String,
      cp: CompiledPattern,
      loadModel: Int => (Spst, Map[(List[Int], Int), ForecastInterval]),
      controls: ControlHandle,
      initialModelId: Int,
      swapDelay: Long,
      reportingDistance: Long) extends KeyedRuntime[EngineSnapshot, Out] {

    private var snap: Option[EngineSnapshot] = None
    def restore(s: EngineSnapshot): Unit = snap = Some(s)

    private var started = false
    private var paused = false
    private var currentId = initialModelId
    private var latestId = initialModelId
    private var pendingAt = -1L
    private var engineRun: SpstRun = _
    // A1 reporting state: pending forecasts resolve online against
    // detections (tp/fn) or expiry (fp/tn); cumulative + delta counts
    // emitted every reportingDistance event-time units. Min-end heap:
    // expiry pops exactly the expired entries (amortized O(log n))
    // instead of scanning every pending on every event — bounded work
    // under forecast storms (detections still drain the heap, but
    // they are rare relative to events).
    private val pending = scala.collection.mutable.PriorityQueue.empty[PendingForecast](
      Ordering.by((p: PendingForecast) => -p.end))
    private var cum = ClassStats(0, 0, 0, 0)
    private var prev = ClassStats(0, 0, 0, 0)
    private var nextReportTime = -1L

    private def start(): Unit = {
      started = true
      snap.foreach { s =>
        paused = s.paused; currentId = s.currentModelId; latestId = s.latestModelId
        pendingAt = s.pendingSwapAt
      }
      // apply the consolidated control state decided since the last batch;
      // an opinion-less handle (fresh after restart) leaves the
      // checkpointed paused state untouched
      val ctl = controls.current
      ctl.paused.foreach(paused = _)
      if (ctl.latestModelId >= 0) latestId = ctl.latestModelId

      val (spst, table) = loadModel(currentId)
      engineRun = new SpstRun(cp, spst, table, key)
      snap.foreach { s =>
        engineRun.restore(SpstStreamState(
          DetRunState(s.state, s.counter, s.minCounter, s.minTs), s.buffer.toSeq))
        var i = 0
        while (i < s.pendingStart.length) {
          pending += PendingForecast(s.pendingPositive(i), s.pendingStart(i), s.pendingEnd(i))
          i += 1
        }
        cum = ClassStats(s.cum(0), s.cum(1), s.cum(2), s.cum(3))
        prev = ClassStats(s.prev(0), s.prev(1), s.prev(2), s.prev(3))
        nextReportTime = s.nextReportTime
      }
    }

    def feed(e: CEvent, out: Out => Unit): Unit = {
      if (!started) start()
      if (!paused) {
        if (latestId != currentId) {
          if (pendingAt == -1L) pendingAt = e.timestamp + swapDelay
          if (e.timestamp >= pendingAt) {
            val (spst, table) = loadModel(latestId)
            engineRun.swapModel(spst, table)
            currentId = latestId
            pendingAt = -1L
            // model swap clears stats history (WayebEngine.java:300-315)
            cum = ClassStats(0, 0, 0, 0); prev = ClassStats(0, 0, 0, 0)
          }
        }
        val (d, f) = engineRun.step(e)
        d.foreach(x => out(Out("detection", key, x.counter, x.eventId,
          x.timestamp, 0, 0, 1.0, positive = true, "")))
        f.foreach { x =>
          out(Out("forecast", key, x.counter, x.eventId,
            x.timestamp, x.startCounter, x.endCounter, x.prob, x.positive, ""))
          pending += PendingForecast(x.positive, x.startCounter, x.endCounter)
        }
        // resolve pending forecasts
        d.foreach { det =>
          val kept = pending.dequeueAll.filter { p =>
            if (p.start <= det.counter && det.counter <= p.end) {
              cum += (if (p.positive) ClassStats(1, 0, 0, 0) else ClassStats(0, 0, 0, 1))
              false
            } else true
          }
          pending ++= kept
        }
        val counter = engineRun.eventCounter
        while (pending.nonEmpty && pending.head.end < counter) {
          val p = pending.dequeue()
          cum += (if (p.positive) ClassStats(0, 0, 1, 0) else ClassStats(0, 1, 0, 0))
        }
        // periodic report (event-time schedule, WayebEngine.java:370-430)
        if (nextReportTime == -1L) nextReportTime = e.timestamp + reportingDistance
        else if (e.timestamp >= nextReportTime) {
          val batch = ClassStats(cum.tp - prev.tp, cum.tn - prev.tn,
            cum.fp - prev.fp, cum.fn - prev.fn)
          val report = adapt.Report(e.timestamp, key,
            adapt.MetricGroup.of(cum), adapt.MetricGroup.ofBatch(batch))
          out(Out("report", key, counter, e.id, e.timestamp,
            batch.tp, batch.fp, report.batch.mcc, positive = batch.tp + batch.fp + batch.fn > 0,
            payload = reportJson(report)))
          prev = cum
          nextReportTime = e.timestamp + reportingDistance
        }
      }
    }

    def snapshot: EngineSnapshot = {
      if (!started) start()
      val run = engineRun.snapshot
      val det = run.det
      val ps = pending.toArray
      EngineSnapshot(det.state, det.counter, det.minCounter, det.minTs, run.buffer.toArray,
        paused, currentId, latestId, pendingAt,
        ps.map(_.positive), ps.map(_.start), ps.map(_.end),
        Array(cum.tp, cum.tn, cum.fp, cum.fn), Array(prev.tp, prev.tn, prev.fp, prev.fn),
        nextReportTime)
    }
  }

  private def reportJson(r: adapt.Report): String = adapt.Json.render(
    "ts" -> r.timestamp, "key" -> r.key,
    "runtime" -> Map("tp" -> r.runtime.tp, "tn" -> r.runtime.tn, "fp" -> r.runtime.fp,
      "fn" -> r.runtime.fn, "mcc" -> r.runtime.mcc),
    "batch" -> Map("tp" -> r.batch.tp, "tn" -> r.batch.tn, "fp" -> r.batch.fp,
      "fn" -> r.batch.fn, "mcc" -> r.batch.mcc))

  /** Split the tagged union into the reference's three sinks
    * (InferenceJob.java:232-291 side outputs). */
  def split(out: Dataset[Out]): (Dataset[Out], Dataset[Out], Dataset[Out]) = (
    out.filter(col("kind") === "detection"),
    out.filter(col("kind") === "forecast"),
    out.filter(col("kind") === "report"))
}
