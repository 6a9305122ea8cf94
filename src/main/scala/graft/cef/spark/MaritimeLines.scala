package graft.cef.spark

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.catalyst.json.JSONOptions
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.control.NonFatal

/** The stream parser of maritime JSON lines ([[Kafka.maritimeEventStream]]):
  * one Jackson streaming pass per line that reads `timestamp`, `mmsi` and
  * only the JSON fields behind `numAttrs` (names of
  * [[Sources.maritimeNumAttrs]]), then builds the line's [[NEvent]] with
  * one value per attribute, in `numAttrs` order.
  *
  * A line gives what `from_json(value, maritimeJsonSchema)` followed by
  * [[Sources.maritimeFromJson]] gives (`MaritimeLinesSpec` checks it):
  *
  *   - the factory is Spark's own for JSON options left at their defaults,
  *     and the object walk is that of Spark's JSON reader in its default
  *     PERMISSIVE mode: a field of the wrong type reads as null and keeps
  *     its earlier value among duplicate keys, the rest of the line stays;
  *     a line that is not a JSON object, or whose syntax breaks, has no
  *     timestamp. A non-string `mmsi` is its JSON text, as Spark's.
  *   - the coercions of [[Sources.maritimeFromJson]]: a missing or null
  *     double is 0.0, `gap_start` is 1.0 at timestamp -1, the flags follow
  *     the bitstring rule and, under ANSI casts (`ansi`), a flag character
  *     that is not a digit fails the line as Spark's cast fails the query.
  *   - a line without an integer `timestamp` is dropped (`parse` is null).
  *     That includes a line that starts with U+FEFF (a byte-order mark),
  *     as in Spark: `from_json` and `spark.read.json(Dataset[String])`
  *     both read such a line as all nulls. A text file source strips a
  *     BOM at the start of each file (Hadoop's line reader does), so only
  *     values from a Kafka-style source lose such a line.
  *
  * The pass reads the line's decoded String: Spark decodes the value's
  * UTF-8 the same way (`UTF8String.toString`, and the reader `from_json`
  * wraps around its bytes), so malformed, overlong and surrogate sequences
  * read as U+FFFD on both. One instance per task: it keeps per-line
  * scratch state.
  */
private[spark] final class MaritimeLines(numAttrs: Array[String], ansi: Boolean) {
  import MaritimeLines._

  private val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "_corrupt_record").buildJsonFactory()

  private val fields = Sources.maritimeFieldAttrs.toMap
  private val flags = Sources.BitstringFlags.zipWithIndex.toMap
  /** The double fields the kept attributes read. */
  private val dblFields: Array[String] = numAttrs.flatMap(fields.get)
  /** Per kept attribute: a double slot (>= 0), [[GapStart]], or
    * `Flag0 - i` for bitstring flag i. */
  private val plan: Array[Int] = numAttrs.map { a =>
    if (fields.contains(a)) dblFields.indexOf(fields(a))
    else if (a == "gap_start") GapStart
    else Flag0 - flags.getOrElse(a,
      throw new IllegalArgumentException(s"not a maritime attribute: $a"))
  }
  /** JSON field → slot: [[Ts]], [[Mmsi]], [[Bits]] or a double slot. */
  private val slots: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    m.put("timestamp", Ts)
    m.put("mmsi", Mmsi)
    if (plan.exists(_ <= Flag0)) m.put("critical_bitstring", Bits)
    dblFields.indices.foreach(i => m.put(dblFields(i), i))
    m
  }

  // the current line; a field that fails to read keeps its earlier value
  private var ts = 0L
  private var hasTs = false
  private var mmsi: String = _
  private var bits: String = _
  private val dbl = new Array[Double](dblFields.length)
  private val dblSet = new Array[Boolean](dblFields.length)

  /** The event of one line, or null when the line has no timestamp.
    * `id` is the line's id, null only if the line is dropped. */
  def parse(line: String, id: java.lang.Long): NEvent = {
    if (line == null) return null
    read(factory.createParser(line))
    if (!hasTs) null
    else {
      if (id == null)
        throw new NullPointerException(s"a maritime line with timestamp $ts has a null id")
      NEvent(id, "SampledCritical", ts, if (mmsi == null) "" else mmsi, values(), NoStrings)
    }
  }

  /** Walk one line's root object as Spark's JSON reader does; a line
    * that is not an object, or whose syntax breaks, has no timestamp. */
  private def read(p: JsonParser): Unit = {
    hasTs = false; mmsi = null; bits = null
    java.util.Arrays.fill(dblSet, false)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) {
        var t = p.nextToken()
        while (t != null && t != JsonToken.END_OBJECT) {
          val slot = slots.get(p.currentName())
          if (slot == null) p.skipChildren()
          else
            try readField(slot, p)
            catch { case NonFatal(_) => p.skipChildren() }
          t = p.nextToken()
        }
      }
    } catch { case NonFatal(_) => hasTs = false }
    finally p.close()
  }

  private def readField(slot: Int, p: JsonParser): Unit = {
    var t = p.currentToken()
    while (t == JsonToken.FIELD_NAME) t = p.nextToken()
    val isNull = t == null || t == JsonToken.VALUE_NULL
    slot match {
      case Ts =>
        if (isNull) hasTs = false
        else if (t == JsonToken.VALUE_NUMBER_INT) { ts = p.getLongValue; hasTs = true }
        else throw new IllegalArgumentException("timestamp")
      case Mmsi => mmsi = if (isNull) null else text(t, p)
      case Bits => bits = if (isNull) null else text(t, p)
      case i =>
        if (isNull) dblSet(i) = false
        else { dbl(i) = double(t, p); dblSet(i) = true }
    }
  }

  /** A string field: its text, or the JSON text of any other value. */
  private def text(t: JsonToken, p: JsonParser): String =
    if (t == JsonToken.VALUE_STRING) p.getText
    else {
      val out = new ByteArrayOutputStream()
      val g = factory.createGenerator(out, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      new String(out.toByteArray, UTF_8)
    }

  private def double(t: JsonToken, p: JsonParser): Double = t match {
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue
    case JsonToken.VALUE_STRING => p.getText match {
      case "NaN" => Double.NaN
      case "+INF" | "+Infinity" | "Infinity" => Double.PositiveInfinity
      case "-INF" | "-Infinity" => Double.NegativeInfinity
      case _ => throw new IllegalArgumentException("double")
    }
    case _ => throw new IllegalArgumentException("double")
  }

  private def values(): Array[Double] = {
    val out = new Array[Double](plan.length)
    var i = 0
    while (i < plan.length) {
      val k = plan(i)
      out(i) =
        if (k >= 0) { if (dblSet(k)) dbl(k) else 0.0 }
        else if (k == GapStart) { if (ts == -1L) 1.0 else 0.0 }
        else flag(Flag0 - k)
      i += 1
    }
    out
  }

  /** Flag i of the bitstring: its character 8 - i (1-based, code points)
    * as a digit, -1.0 for a bitstring of "-1", else 0.0 (an ANSI cast
    * fails instead). */
  private def flag(i: Int): Double = {
    val ann = if (bits == null) "" else bits
    if (ann == "-1") -1.0
    else {
      val pos = 7 - i
      val c =
        if (ann.codePointCount(0, ann.length) > pos) ann.codePointAt(ann.offsetByCodePoints(0, pos))
        else -1
      if (c >= '0' && c <= '9') (c - '0').toDouble
      else if (!ansi) 0.0
      else throw new NumberFormatException(
        s"critical_bitstring '$ann' has no digit for flag ${Sources.BitstringFlags(i)}")
    }
  }
}

private[spark] object MaritimeLines {
  private val Ts = -1
  private val Mmsi = -2
  private val Bits = -3
  private val GapStart = -1
  private val Flag0 = -2
  private val NoStrings = Array.empty[String]
}
