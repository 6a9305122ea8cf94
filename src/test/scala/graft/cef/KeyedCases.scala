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

/** A 30-attribute fixture (20 numeric, 10 string) whose patterns read
  * three of them: `n03` (numeric), `s01` (string) and `s05`, a number
  * stored as a string (`CEvent.numberOf`'s fallback). [[KeyedInputSpec]]
  * checks that every keyed operation, which ships only the read
  * attributes, equals a driver-side replay over these unpruned events.
  */
object WideCases {
  val numNames: Seq[String] = (0 until 20).map(i => f"n$i%02d")
  val strNames: Seq[String] = (0 until 10).map(i => f"s$i%02d")

  val events: Seq[CEvent] = {
    val rnd = new scala.util.Random(43)
    val types = Vector("a", "b", "c")
    val colors = Vector("red", "blue", "green")
    (1 to 240).map { i =>
      CEvent(i.toLong, types(rnd.nextInt(3)), i.toLong * 10, s"u${rnd.nextInt(4)}",
        numNames.map(_ -> rnd.nextInt(100).toDouble).toMap,
        strNames.map(a => a -> (if (a == "s05") rnd.nextInt(100).toString
          else colors(rnd.nextInt(3)))).toMap)
    }
  }

  /** The events as a narrow [[EventStream]] (every attribute a column). */
  def narrow(wide: Dataset[CEvent]): EventStream = {
    import org.apache.spark.sql.functions.col
    val df = wide.toDF().select(Seq(col("id"), col("eventType"), col("timestamp"),
      col("partition")) ++ numNames.map(a => col("num")(a).as(a)) ++
      strNames.map(a => col("str")(a).as(a)): _*)
    Detect.toEventStream(df, "id", "eventType", "timestamp", "partition", numNames, strNames)
  }

  // the declaration extra on n07 is a symbol predicate, so it is read too
  val pDet: CompiledPattern = Compiler.compile(
    "#(;(EQStrPredicate(s01,red),^(GTPredicate(n03,50.0),LTPredicate(s05,70.0))))",
    "+(GTPredicate(n07,30.0))")
  val pOther: CompiledPattern = Compiler.compile(";(GTPredicate(n11,80.0),IsEventTypePredicate(b))")
  val pMatch: CompiledPattern = Compiler.compile(
    "#(;(EQStrPredicate(s01,red),GTPredicate(s05,50.0))){window:8}{windowType:count}")
  val pDsra: CompiledPattern = Compiler.compileMatchOnly(
    """#(;(GTPredicate(n03,60.0)["x"],^(GTAttrPredicate(s05,"x"),EQAttrStrPredicate(s01,"x")))){window:10}{windowType:count}""")
  val pDsraTime: CompiledPattern = Compiler.compileMatchOnly(
    """#(;(GTPredicate(n03,60.0)["x"],GTAttrPredicate(n03,"x"))){window:80}{windowType:time}""")
  val grid = 40L

  /** Per key, in (timestamp, id) order, through `mk(key)`: the driver-side
    * replay of one keyed runtime. */
  def replay[O](events: Seq[CEvent])(mk: String => CEvent => Iterable[O]): Seq[O] =
    events.groupBy(_.partition).toSeq.flatMap { case (key, es) =>
      val step = mk(key)
      es.sortBy(e => (e.timestamp, e.id)).flatMap(step)
    }

  def runtime[S, O](mk: String => KeyedRuntime[S, O]): String => CEvent => Iterable[O] = key => {
    val run = mk(key)
    e => { val out = scala.collection.mutable.ArrayBuffer.empty[O]; run.feed(e, out += _); out }
  }
}
