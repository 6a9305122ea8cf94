package graft.cef

import graft.cef.spark.{Detect, EventStream, Kafka, NEvent, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Try

/** The stream parser of maritime lines ([[Kafka.maritimeEventStream]], one
  * Jackson pass per line) against the batch path it replaced on the
  * stream: `from_json` → [[Sources.maritimeFromJson]] →
  * [[Detect.toEventStream]] → `prune`. Over a text file of awkward lines,
  * pruned to no attribute, to each of the 26 alone and to all of them,
  * both give the same events as a multiset, with ANSI casts off and on
  * (on, both fail where a kept bitstring flag has no digit).
  */
class MaritimeLinesSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("maritime-lines-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.ansi.enabled")
    spark.stop()
  }

  private def full(ts: Long, mmsi: String, bits: String) =
    s"""{"timestamp":$ts,"mmsi":"$mmsi","lon":20.1,"lat":35.2,"speed":9.5,"cog":12.5,"trh":45.0,""" +
      """"entry_nearcoast":1.0,"entry_nearcoast5k":0.0,"entry_fishing":1,"entry_natura":0.5,""" +
      """"entry_nearports":2.0,"entry_anchorage":3.0,"exit_nearcoast":4.0,"exit_nearcoast5k":5.0,""" +
      """"exit_fishing":6.0,"exit_natura":7.0,"exit_nearports":8.0,"exit_anchorage":9.0,""" +
      s""""next_timestamp":${ts + 60},"critical_bitstring":"$bits"}"""

  /** Lines as bytes: most are text, the rest carry malformed UTF-8 —
    * broken continuations, overlong forms (C0 B1 is an overlong '1'),
    * UTF-16 surrogates written as UTF-8 and F5–F7 lead bytes — which
    * Spark decodes to U+FFFD. */
  private val lines: Seq[Array[Byte]] = {
    val text = Seq(
      // the benchmark's format and a full line
      """{"eid":7,"timestamp":1699999920,"mmsi":"200000007","lon":20.07,"lat":35.07,"speed":8.6,"cog":12.3,"trh":45.6,"critical_bitstring":"00000000"}""",
      full(100, "full", "10110010"),
      full(101, "full2", "01234567"),
      // missing fields, JSON null, ints where doubles are expected
      """{"timestamp":5,"mmsi":"a"}""",
      """{"timestamp":6,"mmsi":null,"speed":null,"trh":null,"critical_bitstring":null,"exit_natura":null}""",
      """{"timestamp":7,"mmsi":"b","speed":9,"lon":-3,"entry_fishing":1,"trh":0}""",
      // numbers as strings, NaN and infinities, quoted and bare
      """{"timestamp":8,"mmsi":"c","speed":"9.5","lat":"12","cog":""}""",
      """{"timestamp":9,"mmsi":"d","speed":"NaN","cog":"Infinity","lon":"-INF","lat":"+INF","trh":"-Infinity"}""",
      """{"timestamp":10,"mmsi":"d","speed":NaN,"cog":-Infinity,"lat":1e400,"lon":123456789012345678901234567890}""",
      // a non-string mmsi
      """{"timestamp":11,"mmsi":123456789,"speed":1.0}""",
      """{"timestamp":12,"mmsi":1.50}""",
      """{"timestamp":13,"mmsi":{"a":[1, 2.0, "x"]}}""",
      """{"timestamp":14,"mmsi":true}""",
      """{"timestamp":15,"mmsi":[1,"x",null]}""",
      // nested objects and arrays in unknown fields, wrong types in known ones
      """{"extra":{"speed":99,"timestamp":1},"timestamp":16,"arr":[1,{"b":2},[3]],"mmsi":"e","speed":2.0}""",
      """{"timestamp":32,"mmsi":"p","speed":{"v":1},"lat":[1,2],"lon":true,"cog":false}""",
      // duplicate keys
      """{"timestamp":17,"mmsi":"f","speed":1.0,"speed":2.0}""",
      """{"timestamp":18,"timestamp":19,"mmsi":"g","mmsi":"g2"}""",
      """{"timestamp":20,"mmsi":"h","speed":3.0,"speed":"bad"}""",
      """{"timestamp":21,"mmsi":"h","speed":3.0,"speed":null}""",
      """{"timestamp":22,"timestamp":"x","mmsi":"i"}""",
      """{"timestamp":23,"timestamp":null,"mmsi":"i"}""",
      """{"timestamp":"x","timestamp":24,"mmsi":"i2"}""",
      // escaped strings
      """{"timestamp":25,"mmsi":"a\"b\\cé\n\t","critical_bitstring":"010101010"}""",
      // timestamp -1, and timestamps that are not integers
      """{"timestamp":-1,"mmsi":"j","critical_bitstring":"11111111"}""",
      """{"timestamp":"30","mmsi":"k"}""",
      """{"timestamp":31.0,"mmsi":"k"}""",
      """{"timestamp":99999999999999999999,"mmsi":"k"}""",
      """{"mmsi":"k","speed":1.0}""",
      // bitstrings: "-1", short, empty, long, absent, not a string, non-BMP
      """{"timestamp":40,"mmsi":"l","critical_bitstring":"-1"}""",
      """{"timestamp":41,"mmsi":"l","critical_bitstring":"101"}""",
      """{"timestamp":42,"mmsi":"l","critical_bitstring":""}""",
      """{"timestamp":43,"mmsi":"l","critical_bitstring":"1234567890"}""",
      """{"timestamp":44,"mmsi":"l"}""",
      """{"timestamp":45,"mmsi":"l","critical_bitstring":10101010}""",
      """{"timestamp":46,"mmsi":"l","critical_bitstring":"😀1010101"}""",
      """{"timestamp":47,"mmsi":"l","critical_bitstring":"0a0b0c0d"}""",
      // malformed JSON, an empty line, top-level arrays and scalars
      """{"timestamp":26,"mmsi":"m","speed":}""",
      """{"timestamp":27,"mmsi":"m"""",
      """{"timestamp":28 "mmsi":"n"}""",
      """not json""",
      "",
      "   ",
      """[{"timestamp":29,"mmsi":"o"}]""",
      """[]""",
      """null""",
      """5""",
      """"str"""",
      // leading blanks, trailing text, other key cases, single quotes
      """  {"timestamp":33,"mmsi":"q","speed":0.5}""",
      """{"timestamp":34,"mmsi":"r"} trailing""",
      """{"Timestamp":35,"timestamp":36,"MMSI":"x","mmsi":"s","Speed":5,"TRH":1}""",
      """{'timestamp':37,'mmsi':'s2','speed':0.25}""")
    def b(xs: Int*) = xs.map(_.toByte).toArray
    def utf8(s: String) = s.getBytes(UTF_8)
    text.map(utf8) ++ Seq(
      // in the mmsi and in an unknown field: broken continuations
      utf8("""{"timestamp":50,"mmsi":"u""") ++ b(0x80, 0xC3) ++ utf8(""""}"""),
      utf8("""{"note":"""") ++ b(0xE2, 0x28) ++ utf8("""","timestamp":51,"mmsi":"v"}"""),
      // a BOM before the object
      b(0xEF, 0xBB, 0xBF) ++ utf8("""{"timestamp":52,"mmsi":"w"}"""),
      // overlong NUL, overlong '1' and a three-byte overlong in the mmsi
      utf8("""{"timestamp":53,"mmsi":"a""") ++ b(0xC0, 0x80) ++ utf8(""""}"""),
      utf8("""{"timestamp":54,"mmsi":"""") ++ b(0xC0, 0xB1) ++ b(0xE0, 0x80, 0x80) ++ utf8(""""}"""),
      // an overlong '1' as a bitstring flag
      utf8("""{"timestamp":55,"mmsi":"y","critical_bitstring":"""") ++ b(0xC0, 0xB1) ++
        utf8("""0101010"}"""),
      // a surrogate in the mmsi and in the bitstring
      utf8("""{"timestamp":56,"mmsi":"""") ++ b(0xED, 0xA0, 0x80) ++
        utf8("""","critical_bitstring":"1""") ++ b(0xED, 0xB0, 0x80) ++ utf8("""010101"}"""),
      // F5–F7 lead bytes in the mmsi and in the bitstring
      utf8("""{"timestamp":57,"mmsi":"""") ++ b(0xF5, 0x80, 0x80, 0x80, 0xF7, 0xBF, 0xBF, 0xBF) ++
        utf8("""","critical_bitstring":"""") ++ b(0xF6, 0x80, 0x80, 0x80) ++ utf8("""1010101"}"""))
  }

  private lazy val raw: DataFrame = {
    val dir = Files.createTempDirectory("maritime-lines")
    val file = dir.resolve("lines.txt")
    Files.write(file, lines.reduce(_ ++ "\n".getBytes(UTF_8) ++ _))
    spark.read.text(file.toString).withColumn("id", xxhash64(col("value")))
  }

  private def reference(raw: DataFrame): EventStream = {
    val parsed = Sources.maritimeFromJson(
      raw.select(from_json(col("value"), Sources.maritimeJsonSchema).as("j"), col("id").as("__id"))
        .select(col("j.*"), col("__id")),
      extra = Seq(col("__id")))
    Detect.toEventStream(parsed, "__id", "eventType", "timestamp", "mmsi",
      numAttrs = Sources.maritimeNumAttrs)
  }

  /** The stream's events as comparable strings, sorted. */
  private def events(es: EventStream): Try[Seq[String]] = Try {
    val rebuild = NEvent.rebuilder(es.numNames, es.strNames)
    es.ds.collect().toSeq.map { n =>
      val e = rebuild(n)
      val num = e.num.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${java.lang.Double.toString(v)}" }
      s"${e.id}|${e.eventType}|${e.timestamp}|${e.partition}|${num.mkString(",")}|${e.str}"
    }.sorted
  }

  private val attrSets: Seq[Set[String]] =
    Set.empty[String] +: Sources.maritimeNumAttrs.map(Set(_)) :+ Sources.maritimeNumAttrs.toSet

  "the maritime stream parser" should "name the 26 attributes of the batch parser, in its column order" in {
    val parsed = Sources.maritimeFromJson(spark.read.schema(Sources.maritimeJsonSchema).json(
      spark.createDataset(Seq("{}"))(org.apache.spark.sql.Encoders.STRING)))
    val doubles = parsed.schema.fields.collect { case f if f.dataType.typeName == "double" => f.name }
    Sources.maritimeNumAttrs shouldBe doubles.toSeq
    Sources.maritimeNumAttrs should have size 26
  }

  it should "give the events of from_json → maritimeFromJson for every pruning, ANSI off and on" in {
    for (ansi <- Seq(false, true); attrs <- attrSets) {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val got = events(Kafka.maritimeEventStream(raw, col("id")).prune(attrs))
      val want = events(reference(raw).prune(attrs))
      withClue(s"ansi=$ansi attrs=${attrs.toSeq.sorted.mkString(",")}: ") {
        // ANSI casts fail on the short and non-digit bitstrings of the set
        if (ansi && attrs.exists(Sources.BitstringFlags.contains)) {
          want.isFailure shouldBe true
          got.isFailure shouldBe true
        } else {
          want.get should have size 43
          got.get shouldBe want.get
        }
      }
    }
    spark.conf.unset("spark.sql.ansi.enabled")
  }

  it should "keep the id of a line from the id column" in {
    val es = Kafka.maritimeEventStream(raw, col("id")).prune(Set("speed"))
    val ids = raw.filter(col("value").startsWith("""{"timestamp":17,""")).select("id").collect()
    es.ds.filter(col("timestamp") === 17L).collect().map(_.id).toSeq shouldBe ids.map(_.getLong(0)).toSeq
  }
}
