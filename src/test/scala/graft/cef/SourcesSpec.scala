package graft.cef

import graft.cef.spark.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Parser specs (SURVEY.md §2.2 P1-P4): maritime JSONL field mapping +
  * reverse-positional bitstring expansion, maritime/generic CSV, generic
  * JSONL attribute mapping.
  */
class SourcesSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("sources-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpFile(suffix: String, lines: Seq[String]): String = {
    val f = Files.createTempFile("src", suffix)
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  "the maritime JSONL parser" should "map fields, rename trh→heading, and expand the bitstring" in {
    val path = tmpFile(".jsonl", Seq(
      """{"timestamp": 1443650402, "mmsi": "227592820", "lon": -4.47, "lat": 48.38, "speed": 0.1, "cog": 196.9, "trh": 311.0, "entry_nearcoast": 1.0, "exit_fishing": 1.0, "next_timestamp": 1443650500, "critical_bitstring": "10000001"}""",
      """{"timestamp": -1, "mmsi": "227592820", "critical_bitstring": "-1"}""",
      """not json at all"""))
    val df = Sources.maritimeJson(spark, path)
    val rows = df.orderBy("timestamp").collect()
    rows.length shouldBe 2 // unparsable line dropped (null timestamp)

    val r = rows(1)
    r.getAs[String]("mmsi") shouldBe "227592820"
    r.getAs[Double]("heading") shouldBe 311.0 // trh renamed
    r.getAs[Double]("entryNearcoast") shouldBe 1.0
    r.getAs[Double]("exitFishing") shouldBe 1.0
    r.getAs[Long]("nextCETimestamp") shouldBe 1443650500L
    r.getAs[Double]("gap_start") shouldBe 0.0
    r.getAs[String]("eventType") shouldBe "SampledCritical"
    // bitstring "10000001": reverse-positional — char 7 ('1') → stop_start,
    // char 0 ('1') → change_in_speed_end (MaritimeParser.java:139-166)
    r.getAs[Double]("stop_start") shouldBe 1.0
    r.getAs[Double]("stop_end") shouldBe 0.0
    r.getAs[Double]("change_in_speed_end") shouldBe 1.0
    r.getAs[Double]("change_in_heading") shouldBe 0.0

    // gap row: timestamp -1 → gap_start 1.0; "-1" bitstring → all flags -1
    val g = rows(0)
    g.getAs[Double]("gap_start") shouldBe 1.0
    Sources.BitstringFlags.foreach { f => g.getAs[Double](f) shouldBe -1.0 }
  }

  it should "feed spatial predicates end-to-end via maritimeEvents" in {
    val path = tmpFile(".jsonl", Seq(
      """{"timestamp": 100, "mmsi": "m1", "lon": 23.60, "lat": 37.94, "speed": 5.0, "trh": 0.0, "critical_bitstring": "00000000"}""",
      """{"timestamp": 200, "mmsi": "m1", "lon": 23.64, "lat": 37.95, "speed": 9.0, "trh": 0.0, "critical_bitstring": "00000000"}"""))
    val events = Sources.maritimeEvents(spark, path).collect().sortBy(_.timestamp)
    events.length shouldBe 2
    events.head.partition shouldBe "m1"
    // a WithinCircle predicate over the parsed lon/lat evaluates correctly
    val near = Predicate.WithinCircle("lon", "lat", 23.64, 37.94, 10.0)
    near.eval(events.head) shouldBe true
    val far = Predicate.WithinCircle("lon", "lat", 0.0, 0.0, 10.0)
    far.eval(events.head) shouldBe false
    Predicate.GT("speed", 7.0).eval(events(1)) shouldBe true
  }

  "the generic CSV parser" should "parse eventType,timestamp demo streams" in {
    val path = tmpFile(".csv", Seq("A,1", "B,3", "A,4"))
    val df = Sources.genericCsv(spark, path)
    df.count() shouldBe 3
    df.orderBy("timestamp").collect().map(_.getAs[String]("eventType")).toSeq shouldBe Seq("A", "B", "A")
  }

  "the maritime CSV parser" should "parse the positional column layout" in {
    val path = tmpFile(".csv",
      Seq("1443650402,227592820,-4.47,48.38,0.1,311.0,196.9,stop_start,1443650500"))
    val r = Sources.maritimeCsv(spark, path).collect().head
    r.getAs[String]("mmsi") shouldBe "227592820"
    r.getAs[Double]("heading") shouldBe 311.0
    r.getAs[String]("annotation") shouldBe "stop_start"
  }

  "the stock CSV parser" should "parse BUY/SELL key=value lines" in {
    val path = tmpFile(".csv", Seq(
      "BUY(id=1, name=IBM, volume=100, price=12.5, timestamp=50)",
      "SELL(id=2, name=MSFT, volume=30, price=9.75, timestamp=60)",
      "noise line"))
    val rows = Sources.stockCsv(spark, path).orderBy("eventId").collect()
    rows.length shouldBe 2 // unparsable line dropped
    val b = rows(0)
    b.getAs[String]("eventType") shouldBe "BUY"
    b.getAs[Long]("eventId") shouldBe 1L
    b.getAs[String]("name") shouldBe "IBM"
    b.getAs[Double]("volume") shouldBe 100.0
    b.getAs[Double]("price") shouldBe 12.5
    b.getAs[Long]("timestamp") shouldBe 50L
    rows(1).getAs[String]("eventType") shouldBe "SELL"
    rows(1).getAs[Double]("price") shouldBe 9.75
  }

  "the homes CSV parser" should "parse LOAD lines with plug_timestamp event time" in {
    val path = tmpFile(".csv", Seq(
      "LOAD(id=7, plug_timestamp=1377986401, value=42.5, plug_id=3, household_id=11)"))
    val r = Sources.homesCsv(spark, path).collect().head
    r.getAs[String]("eventType") shouldBe "LOAD"
    r.getAs[Long]("eventId") shouldBe 7L
    r.getAs[String]("plug_timestamp") shouldBe "1377986401"
    r.getAs[Double]("value") shouldBe 42.5
    r.getAs[Long]("householdId") shouldBe 11L
    r.getAs[Long]("timestamp") shouldBe 1377986401L
  }

  "the taxi CSV parser" should "parse TRIP lines and sanitize zone names" in {
    val path = tmpFile(".csv", Seq(
      "TRIP(id=3, medallion=m1, hack_license=h1, pickup_datetime=100, dropoff_datetime=160," +
        " trip_time_in_secs=60, trip_distance=1.2, pickup_zone=Upper East/Side," +
        " dropoff_zone=Midtown West, payment_type=CSH, fare_amount=10.0, surcharge=0.5," +
        " mta_tax=0.5, tip_amount=1.0, tolls_amount=0.0, total_amount=12.0)"))
    val r = Sources.taxiCsv(spark, path).collect().head
    r.getAs[String]("eventType") shouldBe "TRIP"
    r.getAs[Long]("eventId") shouldBe 3L
    r.getAs[String]("pickupZone") shouldBe "UpperEastSide" // \s and / stripped
    r.getAs[String]("dropoffZone") shouldBe "MidtownWest"
    r.getAs[Double]("totalAmount") shouldBe 12.0
    r.getAs[Long]("timestamp") shouldBe 160L
  }

  "the generic JSONL event source" should "map every field to a typed attribute" in {
    val path = tmpFile(".jsonl", Seq(
      """{"type": "click", "ts": 10, "user": "u1", "amount": 4.5, "page": "home"}""",
      """{"type": "buy", "ts": 20, "user": "u1", "amount": 99.0, "page": "cart"}"""))
    val events = Sources.genericJsonEvents(spark, path,
      typeField = "type", tsField = "ts", partitionField = "user")
      .collect().sortBy(_.timestamp)
    events.length shouldBe 2
    events.head.eventType shouldBe "click"
    events.head.numberOf("amount") shouldBe 4.5
    events.head.stringOf("page") shouldBe "home"
    events(1).id should be > events.head.id // arrival-order counter
  }

  it should "number a multi-partition input 1..n in (ts, partition) order" in {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // (ts, user) is a total order: 20 users, each ts once per user; the
    // lines are shuffled so no file split is already sorted
    val n = 2000
    val lines = new scala.util.Random(7).shuffle((0 until n).map { i =>
      s"""{"type": "t${i % 3}", "ts": ${i / 20}, "user": "u${i % 20}", "v": $i}"""
    })
    val path = tmpFile(".jsonl", lines)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "8192")
    try {
      val df = spark.read.json(path)
      df.rdd.getNumPartitions should be > 1
      val got = Sources.jsonToEvents(df, "type", "ts", "user", idField = None)
        .collect().map(e => (e.timestamp, e.partition) -> e.id).toMap
      val want = df.withColumn("rn", row_number().over(Window.orderBy(col("ts"), col("user"))))
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[String]("user")) -> r.getAs[Int]("rn").toLong)
        .toMap
      got.size shouldBe n
      got.values.toSeq.sorted shouldBe (1L to n.toLong)
      got shouldBe want
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // S13: the JDBC match sink (reference db/DBConnector.scala, off by
  // default) — full write → read-back round trip against an embedded
  // in-memory Derby database (the JDBC stack Spark ships for its own
  // metastore, so no extra dependency).
  "the JDBC match sink" should "round-trip detections through an embedded Derby database" in {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftMatches;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // Derby maps StringType to CLOB by default, which it then refuses to
    // compare against literals — give the string columns concrete VARCHARs
    props.setProperty("createTableColumnTypes", "key VARCHAR(64), pattern VARCHAR(64)")
    val matches = Seq(
      (1L, "227592820", "communicationGap", 1443650402L, 1443650500L),
      (2L, "227592820", "communicationGap", 1443650600L, 1443650700L),
      (3L, "259019000", "fishingTrip", 1443650300L, 1443650900L))
      .toDF("match_id", "key", "pattern", "start_ts", "end_ts")
    Sources.jdbcMatchSink(matches, url, "matches", props)
    // append mode: a second batch lands in the same table
    Sources.jdbcMatchSink(matches.filter($"match_id" === 3L), url, "matches", props)

    val back = spark.read.jdbc(url, "matches", props)
    back.count() shouldBe 4
    back.schema.fieldNames.sorted shouldBe Array("end_ts", "key", "match_id", "pattern", "start_ts")
    back.filter($"match_id" === 3L).count() shouldBe 2
    back.filter($"key" === "227592820").select(sum($"end_ts" - $"start_ts"))
      .head.getLong(0) shouldBe 198L
  }
}
