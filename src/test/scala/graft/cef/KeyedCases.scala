package graft.cef

import graft.cef.spark.{Detect, EventStream, Inference, KeyedEvents, Stream, Train}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** A row of the keyed-operator fixtures: one numeric and one string attr. */
final case class KeyedEv(
    event_id: Long, event_type: String, ts: Long, user_id: String, value: Double, color: String)

/** The events, patterns, models and streaming operations that
  * [[KeyedInputSpec]] and [[RestartSpec]] run through both ingest shapes
  * and across restarts.
  */
object KeyedCases {

  val events: Seq[KeyedEv] = {
    val rnd = new scala.util.Random(41)
    val types = Vector("a", "b", "c")
    val colors = Vector("red", "blue", "green")
    (1 to 240).map { i =>
      KeyedEv(i.toLong, types(rnd.nextInt(3)), i.toLong * 10, s"u${rnd.nextInt(4)}",
        rnd.nextInt(100).toDouble, colors(rnd.nextInt(3)))
    }
  }

  def wide(df: DataFrame): Dataset[CEvent] =
    Detect.toEvents(df, "event_id", "event_type", "ts", "user_id", Seq("value"), Seq("color"))
  def narrow(df: DataFrame): EventStream =
    Detect.toEventStream(df, "event_id", "event_type", "ts", "user_id", Seq("value"), Seq("color"))

  val pDet: CompiledPattern =
    Compiler.compile("#(;(EQStrPredicate(color,red),GTPredicate(value,50.0)))")
  val pTypes: CompiledPattern =
    Compiler.compile(";(IsEventTypePredicate(a),IsEventTypePredicate(b))")
  val pMatch: CompiledPattern = Compiler.compile(
    "#(;(EQStrPredicate(color,red),GTPredicate(value,50.0))){window:8}{windowType:count}")
  val pDsra: CompiledPattern = Compiler.compileMatchOnly(
    """#(;(GTPredicate(value,60.0)["x"],^(GTAttrPredicate(value,"x"),EQAttrStrPredicate(color,"x")))){window:10}{windowType:count}""")
  // time window of 80 over ts = i*10, bucketed to 2 cells of 40
  val pDsraTime: CompiledPattern = Compiler.compileMatchOnly(
    """#(;(GTPredicate(value,60.0)["x"],GTAttrPredicate(value,"x"))){window:80}{windowType:time}""")
  val grid = 40L

  type Table = Map[(List[Int], Int), ForecastInterval]

  /** SPST models 0 and 1 (one PST, two forecast tables) and an SPSTm model,
    * trained on the whole fixture. */
  final case class Models(spst: Spst, table0: Table, table1: Table, spstm: SpstM, spstmTable: Table)

  def models(spark: SparkSession): Models = {
    import spark.implicits._
    val ds = wide(events.toDF())
    val spst = Train.learnSpst(ds, pDet, order = 1)
    val spstm = Train.learnSpstm(ds, pDsra, order = 2)
    Models(spst,
      spst.forecastTable(ForecastMethod.ClassifyNextK, 0.3, 10, 20),
      spst.forecastTable(ForecastMethod.ClassifyNextK, 0.6, 5, 20),
      spstm, spstm.forecastTable(ForecastMethod.ClassifyNextK, 0.4, 10, 20))
  }

  /** Inference.engine on the fixture models. A model published before the
    * first batch swaps 1300 time units after a key's first event, in the
    * third of four 60-event batches; reports every 300. */
  def engine(m: Models)(events: KeyedEvents, controls: Inference.ControlHandle): DataFrame =
    Inference.engine(events, pDet, id => (m.spst, if (id == 0) m.table0 else m.table1), controls,
      initialModelId = 0, swapDelay = 1300L, reportingDistance = 300L).toDF()

  /** Every streaming operation, by name; run each under [[withConf]]. */
  def streamOps(m: Models): Seq[(String, (KeyedEvents, Inference.ControlHandle) => DataFrame)] = Seq(
    "detections" -> ((e, _) => Stream.detections(e, pDet).toDF()),
    "detections with TTL" -> ((e, _) => Stream.detections(e, pDet, stateTtl = 600000L).toDF()),
    "detectionsDsra" -> ((e, _) => Stream.detectionsDsra(e, pDsra).toDF()),
    "matches" -> ((e, _) => Stream.matches(e, pMatch).toDF()),
    "forecasts" -> ((e, _) => Stream.forecasts(e, pDet, m.spst, m.table0).toDF()),
    "forecastsSpstm" -> ((e, _) => Stream.forecastsSpstm(e, pDsra, m.spstm, m.spstmTable).toDF()),
    "tws" -> ((e, _) => Stream.detectionsTws(e, pDet).toDF()),
    "engine" -> ((e, c) => engine(m)(e, c)))

  /** Run `body` under the session conf operation `name` needs: the RocksDB
    * store for transformWithState; for the TTL's processing-time timeout,
    * no empty micro-batches (each would schedule the next, so the query
    * never goes idle — the TTL itself outlives the test).
    */
  def withConf[T](spark: SparkSession, name: String)(body: => T): T = {
    val conf = name match {
      case "tws" => Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case "detections with TTL" => Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      case _ => Map.empty[String, String]
    }
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A fresh checkpoint directory for `body`, deleted after it. */
  def withCheckpoint[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("keyed-ckpt")
    try body(dir.toString)
    finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  /** Output rows as sorted strings: multiset equality over any row type. */
  def canon(rows: Seq[org.apache.spark.sql.Row]): Seq[String] = rows.map(_.toString).sorted
}
