package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

/** One generated AIS fix. `eid` is the global arrival id (file order). */
final case class Ev(eid: Long, ts: Long, key: Int, speed: Double) {
  def mmsi: String = Maritime.mmsi(key)
}

/** Behaviour of a vessel's speed regime, as a second-order Markov chain over
  * the pattern's three symbols: M (1 < speed ≤ 8), F (speed > 8) and
  * S (speed < 1). The pattern under forecast is "F then S".
  *
  * @param fromM  P(F), P(S) after an M
  * @param fromS  P(F), P(S) after an S
  * @param sAfterF P(S) after F, by the symbol before that F (M or S)
  */
final case class Regime(fromM: (Double, Double), fromS: (Double, Double), sAfterF: (Double, Double))

object Regime {
  /** Stable start: F is almost always followed by S. */
  val Calm = Regime(fromM = (0.10, 0.05), fromS = (0.05, 0.40), sAfterF = (0.95, 0.95))
  /** Mild drift: F is followed by S less often. */
  val Mild = Regime(fromM = (0.10, 0.05), fromS = (0.05, 0.40), sAfterF = (0.60, 0.60))
  /** Severe drift: only an F that follows an S still leads to S. */
  val Severe = Regime(fromM = (0.10, 0.05), fromS = (0.05, 0.40), sAfterF = (0.03, 0.95))
}

/** Seeded generator of the maritime event log. Same seed, same shape →
  * the same events, ids and file bytes.
  */
object Maritime {
  val M = 0; val F = 1; val S = 2
  /** Event-time origin, a multiple of every bucket and window length used. */
  val T0 = 1699999920L

  def mmsi(key: Int): String = (200000000 + key).toString

  private def speedOf(sym: Int, rnd: SplittableRandom): Double = {
    val raw = sym match {
      case F => 8.5 + rnd.nextDouble() * 5.5
      case S => rnd.nextDouble() * 0.9
      case _ => 1.5 + rnd.nextDouble() * 6.0
    }
    math.round(raw * 10) / 10.0
  }

  private def nextSym(r: Regime, prev2: Int, prev1: Int, rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    prev1 match {
      case F =>
        val pS = if (prev2 == S) r.sAfterF._2 else r.sAfterF._1
        if (u < pS) S else M
      case S =>
        if (u < r.fromS._1) F else if (u < r.fromS._1 + r.fromS._2) S else M
      case _ =>
        if (u < r.fromM._1) F else if (u < r.fromM._1 + r.fromM._2) S else M
    }
  }

  /** The log: file b holds `sizes(b)` vessels, continuing round-robin over
    * `vessels`, each with `perKey` fixes spread over the file's event-time
    * span [t0 + b·dt, t0 + (b+1)·dt). A `drifts` entry (b, r) switches every
    * vessel to regime r from file b on. Each file is sorted by (ts, vessel)
    * and carries consecutive eids.
    */
  def generate(vessels: Int, perKey: Int, dt: Long, sizes: Seq[Int],
      drifts: Seq[(Int, Regime)], seed: Long): Array[Array[Ev]] = {
    require(dt % perKey == 0 && sizes.forall(_ <= vessels))
    val rnd = new SplittableRandom(seed)
    val prev1 = Array.fill(vessels)(M)
    val prev2 = Array.fill(vessels)(M)
    val step = dt / perKey
    var eid = 0L
    var first = 0L
    sizes.zipWithIndex.map { case (active, b) =>
      val base = T0 + b * dt
      val regime = drifts.filter(_._1 <= b).sortBy(_._1).lastOption.map(_._2).getOrElse(Regime.Calm)
      val raw = new Array[(Long, Int, Double)](active * perKey)
      var i = 0
      var v = 0
      while (v < active) {
        val key = ((first + v) % vessels).toInt
        var j = 0
        while (j < perKey) {
          val sym = nextSym(regime, prev2(key), prev1(key), rnd)
          prev2(key) = prev1(key); prev1(key) = sym
          raw(i) = (base + j * step + (key % step), key, speedOf(sym, rnd))
          i += 1; j += 1
        }
        v += 1
      }
      first += active
      raw.sortBy(x => (x._1, x._2)).map { case (ts, key, speed) =>
        val e = Ev(eid, ts, key, speed); eid += 1; e
      }
    }.toArray
  }

  /** A bootstrap training history in the calm regime, independent of the
    * stream's events.
    */
  def history(vessels: Int, perKey: Int, seed: Long): Seq[Ev] =
    generate(vessels, perKey, perKey.toLong, Seq(vessels), Nil, seed ^ 0x5DEECE66DL).head.toSeq

  /** One JSON line in the maritime_input format, with the arrival id first
    * so the stream can read it without a second JSON parse.
    */
  def line(e: Ev, sb: java.lang.StringBuilder): Unit = {
    val h = (e.eid * 0x9E3779B97F4A7C15L) >>> 40
    sb.append("{\"eid\":").append(e.eid)
      .append(",\"timestamp\":").append(e.ts)
      .append(",\"mmsi\":\"").append(e.mmsi).append('"')
      .append(",\"lon\":").append(20.0 + (e.key % 1000) * 0.01 + (h % 100) * 1e-4)
      .append(",\"lat\":").append(35.0 + (e.key % 700) * 0.01 + (h % 77) * 1e-4)
      .append(",\"speed\":").append(e.speed)
      .append(",\"cog\":").append((h % 3600) / 10.0)
      .append(",\"trh\":").append((h % 3599) / 10.0)
      .append(",\"critical_bitstring\":\"00000000\"}\n")
  }

  /** Write batch `b` to `dir/<name>` with mtime `mtimeMs` (the file source
    * takes the oldest file first).
    */
  def writeFile(events: Array[Ev], path: Path, mtimeMs: Long): Long = {
    val sb = new java.lang.StringBuilder(events.length * 200)
    events.foreach(line(_, sb))
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    Files.setLastModifiedTime(path, FileTime.fromMillis(mtimeMs))
    bytes.length.toLong
  }

  def toCEvent(e: Ev): graft.cef.CEvent = {
    val h = (e.eid * 0x9E3779B97F4A7C15L) >>> 40
    graft.cef.CEvent(e.eid, "SampledCritical", e.ts, e.mmsi,
      Map("speed" -> e.speed, "cog" -> (h % 3600) / 10.0, "heading" -> (h % 3599) / 10.0),
      Map.empty)
  }
}
