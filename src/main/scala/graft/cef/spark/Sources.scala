package graft.cef.spark

import graft.cef.CEvent
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event sources & parsers (SURVEY.md §2.1 S5/S6, §2.2 P1-P4), Spark-first:
  * each batch parser is a set of Catalyst column expressions over a
  * file/Kafka scan (projection + coercion codegen'd by Tungsten). The same
  * select() works on `spark.read` and `spark.readStream` inputs.
  *
  * The one exception is the maritime stream of the inference path
  * ([[Kafka.maritimeEventStream]]): it parses each line in one Jackson
  * pass ([[MaritimeLines]]) that reads only the fields behind the kept
  * attributes, because `from_json` there parses every line twice (Catalyst
  * copies it into the pushed-down `timestamp IS NOT NULL` filter) and
  * decodes every value through a per-record reader. [[maritimeFromJson]]
  * is the batch parser and the reference the stream parser is checked
  * against.
  */
object Sources {

  /** The 8-char critical_bitstring expands into 8 double flags in REVERSE
    * position order (reference MaritimeParser.java:139-166,
    * MaritimeWAStreamSourceJSON.scala:90-120): char 7 → stop_start …
    * char 0 → change_in_speed_end. "-1" means all flags -1.
    */
  val BitstringFlags: Seq[String] = Seq(
    "stop_start", "stop_end", "slow_motion_start", "slow_motion_end",
    "gap_end", "change_in_heading", "change_in_speed_start", "change_in_speed_end")

  private def bitstringCols(ann: Column): Seq[Column] =
    BitstringFlags.zipWithIndex.map { case (name, i) =>
      val pos = 8 - i // 1-based substring position, reverse order
      when(ann === "-1", lit(-1.0))
        .otherwise(coalesce(
          substring(ann, pos, 1).cast("double"), lit(0.0)))
        .as(name)
    }

  /** Maritime AIS JSONL schema (reference MaritimeParser.java:44-133). */
  val maritimeJsonSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("mmsi", StringType),
    StructField("lon", DoubleType), StructField("lat", DoubleType),
    StructField("speed", DoubleType), StructField("cog", DoubleType),
    StructField("trh", DoubleType),
    StructField("entry_nearcoast", DoubleType), StructField("entry_nearcoast5k", DoubleType),
    StructField("entry_fishing", DoubleType), StructField("entry_natura", DoubleType),
    StructField("entry_nearports", DoubleType), StructField("entry_anchorage", DoubleType),
    StructField("exit_nearcoast", DoubleType), StructField("exit_nearcoast5k", DoubleType),
    StructField("exit_fishing", DoubleType), StructField("exit_natura", DoubleType),
    StructField("exit_nearports", DoubleType), StructField("exit_anchorage", DoubleType),
    StructField("next_timestamp", LongType),
    StructField("critical_bitstring", StringType)))

  /** The maritime doubles read straight from one JSON field, as
    * (attribute, field): trh→heading and the entry/exit renames, in
    * [[maritimeFromJson]]'s column order.
    */
  private[spark] val maritimeFieldAttrs: Seq[(String, String)] = Seq(
    "lon" -> "lon", "lat" -> "lat", "speed" -> "speed", "cog" -> "cog", "heading" -> "trh",
    "entryAnchorage" -> "entry_anchorage", "entryFishing" -> "entry_fishing",
    "entryNatura" -> "entry_natura", "entryNearcoast" -> "entry_nearcoast",
    "entryNearcoast5k" -> "entry_nearcoast5k", "entryNearports" -> "entry_nearports",
    "exitAnchorage" -> "exit_anchorage", "exitFishing" -> "exit_fishing",
    "exitNatura" -> "exit_natura", "exitNearcoast" -> "exit_nearcoast",
    "exitNearcoast5k" -> "exit_nearcoast5k", "exitNearports" -> "exit_nearports")

  /** The 26 numeric attributes of a maritime event, in column order: the
    * field doubles, `gap_start` (timestamp = -1) and the bitstring flags.
    */
  val maritimeNumAttrs: Seq[String] =
    maritimeFieldAttrs.map(_._1) ++ ("gap_start" +: BitstringFlags)

  /** P1: maritime JSONL → typed event frame. Field renames (trh→heading,
    * next_timestamp→nextCETimestamp), double coercion, bitstring expansion,
    * gap_start derivation, unparsable lines dropped (timestamp null).
    * Works identically on a batch json scan and on
    * `from_json(kafka value)`.
    */
  def maritimeFromJson(df: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val cols: Seq[Column] =
      Seq(col("timestamp"), coalesce(col("mmsi"), lit("")).as("mmsi")) ++
      maritimeFieldAttrs.map { case (attr, field) => coalesce(col(field), lit(0.0)).as(attr) } ++
      Seq(
        coalesce(col("next_timestamp"), lit(0L)).as("nextCETimestamp"),
        when(col("timestamp") === -1L, 1.0).otherwise(0.0).as("gap_start"),
        lit("SampledCritical").as("eventType")) ++
      bitstringCols(coalesce(col("critical_bitstring"), lit(""))) ++ extra
    df.select(cols: _*).filter(col("timestamp").isNotNull)
  }

  /** P1 over a JSONL file on disk. */
  def maritimeJson(spark: SparkSession, path: String): DataFrame =
    maritimeFromJson(spark.read.schema(maritimeJsonSchema).json(path))

  /** P3: maritime CSV `timestamp,mmsi,lon,lat,speed,heading,cog,annotation
    * [,nextCETimestamp]` (reference MaritimeLineParser.scala:9-36).
    */
  def maritimeCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("timestamp", LongType), StructField("mmsi", StringType),
      StructField("lon", DoubleType), StructField("lat", DoubleType),
      StructField("speed", DoubleType), StructField("heading", DoubleType),
      StructField("cog", DoubleType), StructField("annotation", StringType),
      StructField("nextCETimestamp", LongType)))
    spark.read.schema(schema).csv(path)
      .withColumn("eventType", lit("SampledCritical"))
      .filter(col("timestamp").isNotNull)
  }

  /** S5/P3: generic CSV `eventType,timestamp`
    * (reference GenericCSVLineParser.scala:7-24; demo data `A,1`…). A
    * timestamp of -1 is the ResetEvent sentinel.
    */
  def genericCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("eventType", StringType), StructField("timestamp", LongType))))
      .csv(path)
      .filter(col("eventType").isNotNull)

  /** Consecutive 1-based arrival ids in `ordering` order WITHOUT a
    * single-partition Window (r17; guide §2.4/§5 — the old
    * `row_number() OVER (ORDER BY ...)` was a total-order sort onto ONE
    * task, a funnel at any real ingest scale). The classic two-pass
    * zipWithIndex pattern instead: range-shuffle sort (parallel),
    * per-partition local index via `monotonically_increasing_id` (upper
    * bits = partition id, lower 33 = record number — evaluated above
    * the sort, so it numbers rows in sorted order), one tiny counting
    * pass for the per-partition offsets, and a broadcast join to add
    * offset + local + 1. Ids are identical to the Window form whenever
    * `ordering` is a total order (ties were arbitrary under the Window
    * sort too). The sorted, locally-numbered input is an eager
    * `localCheckpoint()`: the counting pass and the id pass read one
    * materialization, so a recompute (a re-sampled range partitioning, a
    * nondeterministic upstream) can never renumber rows between them.
    */
  private def orderedIds(df: DataFrame, idName: String, ordering: Column*): DataFrame = {
    val localMask = (1L << 33) - 1
    val sorted = df.repartitionByRange(ordering: _*)
      .sortWithinPartitions(ordering: _*)
      .withColumn("__mono", monotonically_increasing_id())
      .localCheckpoint()
    val cnts = sorted.groupBy(shiftright(col("__mono"), 33).as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offRows = cnts.map { case (pid, n) => val o = acc; acc += n; (pid, o) }.toSeq
    val offDf = df.sparkSession.createDataFrame(offRows).toDF("__pid", "__off")
    sorted.withColumn("__pid", shiftright(col("__mono"), 33))
      .join(broadcast(offDf), "__pid")
      .withColumn(idName,
        col("__off") + col("__mono").bitwiseAND(lit(localMask)) + lit(1L))
      .drop("__pid", "__off", "__mono")
  }

  /** Key=value token projection for the `TYPE(id=1, k=v, ...)` CSV domains
    * (stock/homes/taxi): token i is `key=value`, last token carries a
    * trailing `)`.
    */
  private def kv(c: Column): Column = split(c, "=").getItem(1)
  private def kvLast(c: Column): Column = regexp_replace(kv(c), "[)]$", "")
  private def rawCsv(spark: SparkSession, path: String, n: Int): DataFrame =
    spark.read
      .schema(StructType((0 until n).map(i => StructField(s"c$i", StringType))))
      .csv(path)

  /** P3: stock CSV `BUY(id=.., name=.., volume=.., price=.., timestamp=..)`
    * / `SELL(...)` (reference stream/domain/stock/StockLineParser.scala:
    * 8-55). Non-BUY/SELL lines are dropped (the reference throws).
    */
  def stockCsv(spark: SparkSession, path: String): DataFrame =
    rawCsv(spark, path, 5)
      .filter(col("c0").rlike("^(BUY|SELL)\\("))
      .select(
        regexp_extract(col("c0"), "^(BUY|SELL)", 1).as("eventType"),
        kv(col("c0")).cast("long").as("eventId"),
        kv(col("c1")).as("name"),
        kv(col("c2")).cast("double").as("volume"),
        kv(col("c3")).cast("double").as("price"),
        kvLast(col("c4")).cast("long").as("timestamp"))

  /** P3: smart-homes CSV `LOAD(id=.., plug_timestamp=.., value=.., ..,
    * household_id=..)` (reference stream/domain/homes/HomesLineParser
    * .scala:8-41; column 3 unused there too). Event time = plug_timestamp.
    */
  def homesCsv(spark: SparkSession, path: String): DataFrame =
    rawCsv(spark, path, 5)
      .filter(col("c0").rlike("^LOAD\\("))
      .select(
        lit("LOAD").as("eventType"),
        kv(col("c0")).cast("long").as("eventId"),
        kv(col("c1")).as("plug_timestamp"),
        kv(col("c2")).cast("double").as("value"),
        kvLast(col("c4")).cast("long").as("householdId"),
        kv(col("c1")).cast("long").as("timestamp"))

  /** P3: taxi CSV `TRIP(id=.., medallion=.., hack_license=..,
    * pickup_datetime=.., dropoff_datetime=.., trip_time_in_secs=..,
    * trip_distance=.., pickup_zone=.., dropoff_zone=.., payment_type=..,
    * fare_amount=.., surcharge=.., mta_tax=.., tip_amount=..,
    * tolls_amount=.., total_amount=..)` (reference stream/domain/taxi/
    * TaxiLineParser.scala:9-50): zones stripped of whitespace and slashes,
    * event time = dropoff_datetime.
    */
  def taxiCsv(spark: SparkSession, path: String): DataFrame =
    rawCsv(spark, path, 16)
      .filter(col("c0").rlike("^TRIP\\("))
      .select(
        lit("TRIP").as("eventType"),
        kv(col("c0")).cast("long").as("eventId"),
        regexp_replace(kv(col("c7")), "[\\s/]", "").as("pickupZone"),
        regexp_replace(kv(col("c8")), "[\\s/]", "").as("dropoffZone"),
        kvLast(col("c15")).cast("double").as("totalAmount"),
        kv(col("c4")).cast("long").as("timestamp"))

  /** S6/P2: generic JSONL — every JSON field becomes an attribute, with
    * configurable id and timestamp fields (reference JsonEventParser
    * .java:30-110). Numeric fields land in the event's num map, the rest in
    * str — matching the reference's coerce-numbers-to-Double behavior.
    */
  def genericJsonEvents(
      spark: SparkSession,
      path: String,
      typeField: String,
      tsField: String,
      partitionField: String,
      idField: Option[String] = None): Dataset[CEvent] = {
    val df = spark.read.json(path)
    jsonToEvents(df, typeField, tsField, partitionField, idField)
  }

  def jsonToEvents(
      df: DataFrame,
      typeField: String,
      tsField: String,
      partitionField: String,
      idField: Option[String]): Dataset[CEvent] = {
    val numFields = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq
    val strFields = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSeq
    val withId = idField match {
      case Some(f) => df.withColumn("__id", col(f).cast("long"))
      case None =>
        // arrival-order counter like the reference's per-source counter;
        // batch determinism via (ts, partition) ordering — assigned by
        // the parallel two-pass pattern, not a global Window (orderedIds)
        orderedIds(df, "__id", col(tsField), col(partitionField))
    }
    Detect.toEvents(withId, "__id", typeField, tsField, partitionField,
      numAttrs = numFields.filterNot(Set(tsField)), strAttrs = strFields.filterNot(Set(typeField)))
  }

  /** P5: event-time assignment + watermark (reference
    * InferenceJob.java:134-137 — event time = timestamp seconds × 1000,
    * bounded out-of-orderness 60 s). Adds an `eventTime` timestamp column
    * and registers the watermark; use on streaming inputs before the keyed
    * stateful operator.
    */
  def withEventTime(
      df: DataFrame,
      tsSecondsCol: String = "timestamp",
      delay: String = "60 seconds"): DataFrame =
    df.withColumn("eventTime", timestamp_seconds(col(tsSecondsCol)))
      .withWatermark("eventTime", delay)

  /** S13: JDBC match sink (reference db/DBConnector.scala via Slick; off by
    * default — `write2db=false`, ConfigUtils.scala:74). Plain
    * DataFrameWriter.jdbc; in streaming wrap in foreachBatch.
    */
  def jdbcMatchSink(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** P1 end-to-end: maritime JSONL file → Dataset[CEvent] keyed by mmsi,
    * with all numeric attributes available to spatial predicates.
    */
  def maritimeEvents(spark: SparkSession, path: String): Dataset[CEvent] = {
    val parsed = maritimeJson(spark, path)
    val numCols = parsed.schema.fields.collect {
      case f if f.dataType == DoubleType || (f.dataType == LongType && f.name != "timestamp") => f.name
    }.toSeq
    val withId = orderedIds(parsed, "__id", col("timestamp"), col("mmsi"))
    Detect.toEvents(withId, "__id", "eventType", "timestamp", "mmsi", numAttrs = numCols)
  }
}
