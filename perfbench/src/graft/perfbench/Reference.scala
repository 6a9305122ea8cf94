package graft.perfbench

import graft.cef._
import graft.cef.adapt._
import graft.cef.spark.{Inference, RestorableSpstRun}
import graft.cef.spark.Inference.Out
import scala.collection.mutable

/** Single-threaded replay of the inference topology on the driver: the same
  * per-key rules as `Inference.engine` (control summary applied when a key's
  * events arrive in a batch, event-time gated swap, online forecast
  * resolution, periodic reports), driven batch by batch over the same
  * files. It is both the correctness reference and the stream's
  * single-thread baseline (`runtime.*` in a traced run).
  */
final class ReferenceEngine(
    cp: CompiledPattern,
    loadModel: Int => (Spst, Map[(List[Int], Int), ForecastInterval]),
    initialModelId: Int,
    swapDelay: Long,
    reportingDistance: Long) {

  private final class KeyState(key: String) {
    var currentId: Int = initialModelId
    var latestId: Int = initialModelId
    var paused = false
    var pendingAt = -1L
    private val (spst0, table0) = loadModel(initialModelId)
    val run = new RestorableSpstRun(cp, spst0, table0, key)
    val pending = mutable.PriorityQueue.empty[Inference.PendingForecast](
      Ordering.by((p: Inference.PendingForecast) => -p.end))
    var cum = ClassStats(0, 0, 0, 0)
    var prev = ClassStats(0, 0, 0, 0)
    var nextReportTime = -1L
  }

  private val keys = mutable.HashMap.empty[String, KeyState]
  var stepped = 0L

  /** Feed one micro-batch (its events in any order) under the control
    * summary in force for that batch; returns the batch's output rows.
    */
  def batch(events: Seq[CEvent], ctl: Inference.ControlHandle#Summary): Seq[Out] = {
    val out = mutable.ArrayBuffer.empty[Out]
    events.groupBy(_.partition).toSeq.sortBy(_._1).foreach { case (key, evs) =>
      val k = keys.getOrElseUpdate(key, new KeyState(key))
      ctl.paused.foreach(k.paused = _)
      if (ctl.latestModelId >= 0) k.latestId = ctl.latestModelId
      evs.sortBy(e => (e.timestamp, e.id)).foreach(e => step(key, k, e, out))
    }
    out.toSeq
  }

  private def step(key: String, k: KeyState, e: CEvent, out: mutable.ArrayBuffer[Out]): Unit = {
    if (k.paused) return
    if (k.latestId != k.currentId) {
      if (k.pendingAt == -1L) k.pendingAt = e.timestamp + swapDelay
      if (e.timestamp >= k.pendingAt) {
        val (spst, table) = loadModel(k.latestId)
        k.run.swapModel(spst, table)
        k.currentId = k.latestId
        k.pendingAt = -1L
        k.cum = ClassStats(0, 0, 0, 0); k.prev = ClassStats(0, 0, 0, 0)
      }
    }
    stepped += 1
    val (d, f) = k.run.step(e)
    d.foreach(x => out += Out("detection", key, x.counter, x.eventId, x.timestamp, 0, 0, 1.0,
      positive = true, ""))
    f.foreach { x =>
      out += Out("forecast", key, x.counter, x.eventId, x.timestamp, x.startCounter, x.endCounter,
        x.prob, x.positive, "")
      k.pending += Inference.PendingForecast(x.positive, x.startCounter, x.endCounter)
    }
    d.foreach { det =>
      val kept = k.pending.dequeueAll.filter { p =>
        if (p.start <= det.counter && det.counter <= p.end) {
          k.cum += (if (p.positive) ClassStats(1, 0, 0, 0) else ClassStats(0, 0, 0, 1))
          false
        } else true
      }
      k.pending ++= kept
    }
    val counter = k.run.eventCounter
    while (k.pending.nonEmpty && k.pending.head.end < counter) {
      val p = k.pending.dequeue()
      k.cum += (if (p.positive) ClassStats(0, 0, 1, 0) else ClassStats(0, 1, 0, 0))
    }
    if (k.nextReportTime == -1L) k.nextReportTime = e.timestamp + reportingDistance
    else if (e.timestamp >= k.nextReportTime) {
      val b = ClassStats(k.cum.tp - k.prev.tp, k.cum.tn - k.prev.tn,
        k.cum.fp - k.prev.fp, k.cum.fn - k.prev.fn)
      val report = Report(e.timestamp, key, MetricGroup.of(k.cum), MetricGroup.ofBatch(b))
      out += Out("report", key, counter, e.id, e.timestamp, b.tp, b.fp, report.batch.mcc,
        positive = b.tp + b.fp + b.fn > 0, payload = Outputs.reportJson(report))
      k.prev = k.cum
      k.nextReportTime = e.timestamp + reportingDistance
    }
  }
}

/** Helpers over output rows: hashing, report decoding and the forecast
  * scorer.
  */
object Outputs {

  /** The report payload, in the engine's JSON layout. */
  def reportJson(r: Report): String = Json.render(
    "ts" -> r.timestamp, "key" -> r.key,
    "runtime" -> Map("tp" -> r.runtime.tp, "tn" -> r.runtime.tn, "fp" -> r.runtime.fp,
      "fn" -> r.runtime.fn, "mcc" -> r.runtime.mcc),
    "batch" -> Map("tp" -> r.batch.tp, "tn" -> r.batch.tn, "fp" -> r.batch.fp,
      "fn" -> r.batch.fn, "mcc" -> r.batch.mcc))

  /** Decode a report row back into the Observer's input. */
  def report(o: Out): Report = {
    implicit val fmts: org.json4s.Formats = Json.formats
    val j = Json.parse(o.payload)
    def stats(g: org.json4s.JValue): ClassStats = ClassStats((g \ "tp").extract[Long],
      (g \ "tn").extract[Long], (g \ "fp").extract[Long], (g \ "fn").extract[Long])
    Report((j \ "ts").extract[Long], (j \ "key").extract[String],
      MetricGroup.of(stats(j \ "runtime")), MetricGroup.ofBatch(stats(j \ "batch")))
  }

  /** 64-bit hash of one output row (all fields). */
  def rowHash(o: Out): Long = {
    import scala.util.hashing.MurmurHash3.{mix, finalizeHash, stringHash}
    def h(seed: Int): Int = {
      var x = mix(seed, stringHash(o.kind))
      x = mix(x, stringHash(o.partition))
      x = mix(x, o.counter.hashCode); x = mix(x, (o.counter >>> 32).toInt)
      x = mix(x, o.eventId.hashCode); x = mix(x, (o.eventId >>> 32).toInt)
      x = mix(x, o.timestamp.hashCode); x = mix(x, (o.timestamp >>> 32).toInt)
      x = mix(x, o.startCounter.hashCode); x = mix(x, o.endCounter.hashCode)
      val pb = java.lang.Double.doubleToLongBits(o.prob)
      x = mix(x, pb.toInt); x = mix(x, (pb >>> 32).toInt)
      x = mix(x, if (o.positive) 1 else 0)
      x = mix(x, stringHash(o.payload))
      finalizeHash(x, 10)
    }
    (h(0x1b873593).toLong << 32) | (h(0x7fb5d329).toLong & 0xffffffffL)
  }
}

/** Per-event output digests: the multiset of rows an event produced, as an
  * order-free (sum, count) pair indexed by event id.
  */
final class Digests(n: Int) {
  val sum = new Array[Long](n)
  val count = new Array[Int](n)
  def add(o: Out): Unit = {
    val i = o.eventId.toInt
    sum(i) += Outputs.rowHash(o); count(i) += 1
  }
  def matches(other: Digests, i: Int): Boolean = sum(i) == other.sum(i) && count(i) == other.count(i)
  def hash: String = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < n) { h = (h ^ sum(i)) * 0x100000001b3L; h = (h ^ count(i)) * 0x100000001b3L; i += 1 }
    f"$h%016x"
  }
}

/** The benchmark's CLASSIFY_NEXTK scorer: every forecast of a key is a tp
  * (positive, a detection of that key lands in its counter interval), fp,
  * fn or tn, over all keys of the run. `byBatch` scores each batch's
  * forecasts separately for the MCC-over-time series.
  */
final class Scorer {
  private val dets = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val fcs = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Boolean, Long, Long, Int)]]
  def add(o: Out, batch: Int): Unit = o.kind match {
    case "detection" => dets.getOrElseUpdate(o.partition, mutable.ArrayBuffer.empty) += o.counter
    case "forecast" =>
      fcs.getOrElseUpdate(o.partition, mutable.ArrayBuffer.empty) +=
        ((o.positive, o.startCounter, o.endCounter, batch))
    case _ =>
  }
  def forecasts: Long = fcs.valuesIterator.map(_.size.toLong).sum
  def detections: Long = dets.valuesIterator.map(_.size.toLong).sum

  /** (overall stats, per-batch stats). */
  def score(): (ClassStats, Map[Int, ClassStats]) = {
    val perBatch = mutable.HashMap.empty[Int, ClassStats]
    var all = ClassStats(0, 0, 0, 0)
    fcs.foreach { case (key, fs) =>
      val d = dets.get(key).map(_.toArray.sorted).getOrElse(Array.emptyLongArray)
      fs.foreach { case (pos, s, e, b) =>
        var lo = java.util.Arrays.binarySearch(d, s)
        if (lo < 0) lo = -lo - 1
        val hit = lo < d.length && d(lo) <= e
        val c =
          if (pos && hit) ClassStats(1, 0, 0, 0) else if (pos) ClassStats(0, 0, 1, 0)
          else if (hit) ClassStats(0, 0, 0, 1) else ClassStats(0, 1, 0, 0)
        all += c
        perBatch(b) = perBatch.getOrElse(b, ClassStats(0, 0, 0, 0)) + c
      }
    }
    (all, perBatch.toMap)
  }
}
