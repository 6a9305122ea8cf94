package graft.cef.adapt

import graft.cef.ClassStats
import scala.collection.mutable

/** Report records and the global tumbling aggregation (SURVEY.md §2.8
  * A1/A5 — reference WayebEngine.java:370-430 checkAndReportStats and
  * MetricsAggregator.java:21-90). The per-key reports themselves are
  * emitted by the inference engine (`Inference.EngineRun`).
  */
final case class MetricGroup(
    tp: Long, tn: Long, fp: Long, fn: Long,
    precision: Double, recall: Double, f1: Double, mcc: Double)

object MetricGroup {
  def of(s: ClassStats): MetricGroup =
    MetricGroup(s.tp, s.tn, s.fp, s.fn, s.precision, s.recall, s.f1, s.mcc)

  /** Batch group with the reference's silent-window convention: when
    * tp+fp+fn == 0 all scores are 0.0 (WayebEngine.java:397-409). */
  def ofBatch(s: ClassStats): MetricGroup =
    if (s.tp + s.fp + s.fn == 0) MetricGroup(s.tp, s.tn, s.fp, s.fn, 0.0, 0.0, 0.0, 0.0)
    else of(s)

  val zero: MetricGroup = MetricGroup(0, 0, 0, 0, 0, 0, 0, 0)
}

final case class Report(timestamp: Long, key: String, runtime: MetricGroup, batch: MetricGroup) {
  /** The exact log format the reference's log_parser.py regexes parse
    * (ReportOutput.java:40-42). */
  override def toString: String =
    s"Report{ts=$timestamp, key='$key', runtime MCC=${runtime.mcc}', batch MCC=${batch.mcc}}"
}

/** A5: global tumbling-window aggregation over per-key reports. Sums batch
  * counts within the window; keeps each key's last cumulative counts across
  * windows ("shipHistory") so the global runtime MCC reflects all keys ever
  * seen; suppresses silent windows (tp+fp+fn == 0)
  * (MetricsAggregator.java:21-90).
  */
final class GlobalAggregator(windowSeconds: Long) extends Serializable {
  private val history = mutable.Map.empty[String, ClassStats] // key → last cumulative
  private var windowStart = -1L
  private var windowBatch = ClassStats(0, 0, 0, 0)

  def add(r: Report): Option[Report] = {
    val w = r.timestamp - (r.timestamp % windowSeconds)
    val out =
      if (windowStart != -1L && w > windowStart) flush()
      else None
    if (windowStart == -1L || w > windowStart) { windowStart = w; windowBatch = ClassStats(0, 0, 0, 0) }
    windowBatch += ClassStats(r.batch.tp, r.batch.tn, r.batch.fp, r.batch.fn)
    history(r.key) = ClassStats(r.runtime.tp, r.runtime.tn, r.runtime.fp, r.runtime.fn)
    out
  }

  /** Emit the current window's global report (None when silent). */
  def flush(): Option[Report] = {
    if (windowStart == -1L) return None
    val runtime = history.values.foldLeft(ClassStats(0, 0, 0, 0))(_ + _)
    val silent = windowBatch.tp + windowBatch.fp + windowBatch.fn == 0
    if (silent) None
    else Some(Report(windowStart + windowSeconds, "GLOBAL",
      MetricGroup.of(runtime), MetricGroup.ofBatch(windowBatch)))
  }
}
