package graft.cef.spark

import graft.cef.adapt.{FactoryReport, SyncCommand}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import scala.annotation.unused

/** Kafka sources/sinks for the reference's topic topology (SURVEY.md §0 +
  * §2.1 S1-S4, S7, S9; reference InferenceJob.java:120-208,
  * ModelFactoryJob.java:53-125):
  *
  *   maritime_input        — events (earliest offsets)
  *   model_reports + enginesync — control (multi-topic subscribe)
  *   assembly_reports      — Collector ACKs
  *   factory_commands, dataset_versions — Factory inputs
  *   observer_instructions — Observer output
  *
  * `format("kafka")` resolves the connector at runtime — these builders
  * compile against core Spark and need spark-sql-kafka on the classpath to
  * run (not present in this container; exercised in integration
  * environments, with MemoryStream covering the logic in tests).
  */
object Kafka {

  /** S1: the event source — earliest offsets like the reference
    * (InferenceJob.java:120-132). Returns the raw value strings; feed them
    * to [[maritimeEventStream]].
    */
  def eventSource(spark: SparkSession, brokers: String, topic: String = "maritime_input"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(col("value").cast("string").as("value"),
        col("timestamp").as("kafka_ts"),
        col("partition").as("kafka_partition"), col("offset").as("kafka_offset"))

  /** S2: the control source — one stream over both control topics
    * (InferenceJob.java:145-159), with the topic column kept so the
    * consumer can dispatch sync vs model-report messages.
    */
  def controlSource(spark: SparkSession, brokers: String,
      topics: Seq[String] = Seq("model_reports", "enginesync")): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics.mkString(","))
      .load()
      .select(col("topic"), col("value").cast("string").as("value"),
        col("timestamp").as("kafka_ts"))

  /** S3/S4: feedback + factory command sources share the same shape. */
  def topicSource(spark: SparkSession, brokers: String, topic: String): DataFrame =
    controlSource(spark, brokers, Seq(topic))

  /** S9: a Kafka sink for a string-valued column (JSON payloads). */
  def sink(ds: Dataset[String], brokers: String, topic: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    ds.toDF("value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Maritime events end-to-end: Kafka value strings → the narrow event
    * stream keyed by mmsi, with the 26 double attributes of
    * [[Sources.maritimeFromJson]] ([[Sources.maritimeNumAttrs]]). The rows are
    * built in one `mapPartitions`: each line gets one Jackson pass over its
    * decoded String ([[MaritimeLines]]) that reads `timestamp`, `mmsi` and
    * only the fields behind the attributes the keyed operator keeps
    * ([[EventStream.prune]] rebuilds the stream for them): `from_json`
    * here parses every line twice — Catalyst copies it into the pushed-down
    * `timestamp IS NOT NULL` filter — and decodes each value through a
    * per-record reader.
    *
    * `idCol` must be unique and arrival-monotone per key; it is evaluated
    * (and cast to long) on every line, also on lines the parser drops.
    * `monotonically_increasing_id` is NOT legal on streaming plans, so the
    * overload derives the id from Kafka's (offset, partition) pair — unique
    * and offset-monotone within each Kafka partition for up to 4096
    * partitions.
    */
  def maritimeEventStream(raw: DataFrame, idCol: Column): EventStream = {
    val lines = raw.select(col("value").cast("string"), idCol.cast("long"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.LONG))
    val ansi = raw.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    val nEnc = Encoders.product[NEvent]
    EventStream(Sources.maritimeNumAttrs, Nil) { (num, _) =>
      lines.mapPartitions { rows =>
        val parser = new MaritimeLines(num, ansi)
        rows.map(r => parser.parse(r._1, r._2)).filter(_ != null)
      }(nEnc)
    }
  }

  /** [[eventSource]] output → events, with the Kafka arrival id. */
  def maritimeEventStream(raw: DataFrame): EventStream =
    maritimeEventStream(raw, col("kafka_offset") * lit(4096L) + col("kafka_partition"))

  /** S2 consumer: dispatch one control micro-batch of (topic, value) rows
    * to the driver-side handle between micro-batches — enginesync carries
    * SyncCommands; a "trained" model report registers the new model id
    * that a later play command activates (reference
    * InferenceJob.java:145-208 merges the two topics the same way). Use as
    * `controlStream.writeStream.foreachBatch(controlDispatch(handle))`.
    */
  def controlDispatch(handle: Inference.ControlHandle)(batch: DataFrame, @unused batchId: Long): Unit = {
    // collect() order is partition order, not arrival order — commands
    // from different Kafka partitions would apply shuffled (pause/play
    // reversed). Sort by the broker timestamp when the source kept it.
    val ordered =
      if (batch.columns.contains("kafka_ts"))
        batch.sort(col("kafka_ts")).select(col("topic"), col("value")).collect()
      else batch.select(col("topic"), col("value")).collect()
    ordered.foreach { row =>
      row.getString(0) match {
        case "enginesync"    => handle.push(SyncCommand.fromJson(row.getString(1)))
        case "model_reports" =>
          val rep = FactoryReport.fromJson(row.getString(1))
          if (rep.reportType == "trained" && rep.modelId >= 0) handle.pushModel(rep.modelId)
        case _ => ()
      }
    }
  }
}
