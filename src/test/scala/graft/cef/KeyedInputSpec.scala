package graft.cef

import graft.cef.KeyedCases._
import graft.cef.spark.{Detect, Inference, KeyedEvents, Stream, Train}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** The two ingest shapes are one input: every batch and streaming keyed
  * operation gives the same rows whether its events arrive as a
  * `Dataset[CEvent]` ([[Detect.toEvents]]) or as an `EventStream`
  * ([[Detect.toEventStream]]), with numeric and string attrs. The keyed
  * operators ship only the attributes their pattern reads; on the
  * 30-attribute [[WideCases]] fixture both shapes equal a driver-side
  * replay of the same runtime over the unpruned events, and a missing
  * read attribute fails as it does unpruned.
  */
class KeyedInputSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("keyed-input-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  "every batch operation" should "give the same rows for wide and narrow input" in {
    val sparkS = spark
    import sparkS.implicits._
    val df = events.toDF()
    val ops: Seq[(String, KeyedEvents => DataFrame)] = Seq(
      "detections" -> (e => Detect.detections(e, pDet).toDF()),
      "detectionsMulti" -> (e => Detect.detectionsMulti(e, Seq(pDet, pTypes)).toDF()),
      "detectionsDsra" -> (e => Detect.detectionsDsra(e, pDsra).toDF()),
      "dsraTrace count" -> (e => Detect.dsraTrace(e, pDsra).toDF()),
      "dsraTrace time grid" -> (e => Detect.dsraTrace(e, pDsraTime, grid).toDF()),
      "matches" -> (e => Detect.matches(e, pMatch).toDF()),
      "matchesMono" -> (e => Detect.matchesMono(e, pMatch).toDF()))
    for ((name, op) <- ops) withClue(s"$name: ") {
      val w = canon(op(wide(df)).collect().toSeq)
      val n = canon(op(narrow(df)).collect().toSeq)
      w should not be empty
      n shouldBe w
    }
  }

  "every streaming operation" should "give the same rows for wide and narrow input" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = models(spark)
    var run = 0
    def streamed(name: String, op: (KeyedEvents, Inference.ControlHandle) => DataFrame,
        shape: DataFrame => KeyedEvents): Seq[String] = withConf(spark, name) {
      run += 1
      val mem = MemoryStream[KeyedEv]
      val controls = new Inference.ControlHandle
      controls.pushModel(1) // the engine swaps mid-stream
      val sink = s"keyed_input_$run"
      withCheckpoint { ckpt =>
        val q = op(shape(mem.toDF()), controls)
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .option("checkpointLocation", ckpt)
          .start()
        try {
          events.grouped(60).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
          canon(spark.table(sink).collect().toSeq)
        } finally { q.stop(); spark.catalog.dropTempView(sink) }
      }
    }
    for ((name, op) <- streamOps(m)) withClue(s"$name: ") {
      val w = streamed(name, op, wide(_))
      val n = streamed(name, op, narrow(_))
      w should not be empty
      n shouldBe w
    }
  }

  private def table[T: org.apache.spark.sql.Encoder](rows: Seq[T]): Seq[String] =
    canon(spark.createDataset(rows).toDF().collect().toSeq)

  "every batch operation on 30 attributes" should "equal a driver replay over the unpruned events" in {
    val sparkS = spark
    import sparkS.implicits._
    import WideCases._
    val evs = WideCases.events
    val ops: Seq[(String, KeyedEvents => DataFrame, Seq[String])] = Seq(
      ("detections", e => Detect.detections(e, pDet).toDF(),
        table(replay(evs)(runtime(new DetRun(pDet, _))))),
      ("detectionsMulti", e => Detect.detectionsMulti(e, Seq(pDet, pOther)).toDF(),
        table(replay(evs) { key =>
          val runs = Seq(pDet, pOther).map(new DetRun(_, key))
          e => runs.zipWithIndex.flatMap { case (run, i) => run.step(e).map(i -> _) }
        })),
      ("detectionsDsra", e => Detect.detectionsDsra(e, pDsra).toDF(),
        table(replay(evs)(runtime(new DsraRun(pDsra, _))))),
      ("dsraTrace count", e => Detect.dsraTrace(e, pDsra).toDF(),
        table(replay(evs)(key => { val sym = DsraSymbolizer(pDsra, 0L)(key); e => sym.step(e) }))),
      ("dsraTrace time grid", e => Detect.dsraTrace(e, pDsraTime, grid).toDF(),
        table(replay(evs)(key => { val sym = DsraSymbolizer(pDsraTime, grid)(key); e => sym.step(e) }))),
      ("matches", e => Detect.matches(e, pMatch).toDF(),
        table(replay(evs)(runtime(new MatchRun(pMatch, _))))),
      ("matchesMono", e => Detect.matchesMono(e, pMatch).toDF(),
        table(MonoRun.run(pMatch, evs.sortBy(e => (e.timestamp, e.id)).iterator,
          MatchRun.DefaultMaxThreads).toSeq)))
    MonoRun.eligible(pMatch) shouldBe true
    val wide = spark.createDataset(evs)
    for ((name, op, expected) <- ops) withClue(s"$name: ") {
      expected should not be empty
      canon(op(wide).collect().toSeq) shouldBe expected
      canon(op(narrow(wide)).collect().toSeq) shouldBe expected
    }
  }

  "every streaming operation on 30 attributes" should "equal a driver replay over the unpruned events" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import WideCases._
    val evs = WideCases.events
    val train = spark.createDataset(evs)
    val spst = Train.learnSpst(train, pDet, order = 1)
    val table0 = spst.forecastTable(ForecastMethod.ClassifyNextK, 0.3, 10, 20)
    val table1 = spst.forecastTable(ForecastMethod.ClassifyNextK, 0.6, 5, 20)
    val spstm = Train.learnSpstm(train, pDsra, order = 2)
    val spstmTable = spstm.forecastTable(ForecastMethod.ClassifyNextK, 0.4, 10, 20)
    val load: Int => (Spst, Map[(List[Int], Int), ForecastInterval]) =
      id => (spst, if (id == 0) table0 else table1)
    def controls(): Inference.ControlHandle = {
      val c = new Inference.ControlHandle
      c.pushModel(1) // the engine swaps mid-stream
      c
    }
    val ops: Seq[(String, (KeyedEvents, Inference.ControlHandle) => DataFrame, Seq[String])] = Seq(
      ("detections", (e, _) => Stream.detections(e, pDet).toDF(),
        table(replay(evs)(runtime(new DetRun(pDet, _))))),
      ("detections with TTL", (e, _) => Stream.detections(e, pDet, stateTtl = 600000L).toDF(),
        table(replay(evs)(runtime(new DetRun(pDet, _))))),
      ("detectionsDsra", (e, _) => Stream.detectionsDsra(e, pDsra).toDF(),
        table(replay(evs)(runtime(new DsraRun(pDsra, _))))),
      ("matches", (e, _) => Stream.matches(e, pMatch).toDF(),
        table(replay(evs)(runtime(new MatchRun(pMatch, _))))),
      ("forecasts", (e, _) => Stream.forecasts(e, pDet, spst, table0).toDF(),
        table(replay(evs)(runtime(new SpstRun(pDet, spst, table0, _))))),
      ("forecastsSpstm", (e, _) => Stream.forecastsSpstm(e, pDsra, spstm, spstmTable).toDF(),
        table(replay(evs)(runtime(key =>
          new SpstmRun(DsraSymbolizer(pDsra, 0L)(key), spstm, spstmTable))))),
      ("tws", (e, _) => Stream.detectionsTws(e, pDet).toDF(),
        table(replay(evs)(runtime(new DetRun(pDet, _))))),
      ("engine", (e, c) => Inference.engine(e, pDet, load, c, initialModelId = 0,
        swapDelay = 1300L, reportingDistance = 300L).toDF(),
        table(replay(evs)(runtime(key => new Inference.EngineRun(key, pDet, load, controls(),
          0, 1300L, 300L))))))
    var run = 0
    def streamed(name: String, op: (KeyedEvents, Inference.ControlHandle) => DataFrame,
        shape: Dataset[CEvent] => KeyedEvents): Seq[String] = withConf(spark, name) {
      run += 1
      val mem = MemoryStream[CEvent]
      val sink = s"keyed_wide_$run"
      withCheckpoint { ckpt =>
        val q = op(shape(mem.toDS()), controls())
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .option("checkpointLocation", ckpt)
          .start()
        try {
          evs.grouped(60).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
          canon(spark.table(sink).collect().toSeq)
        } finally { q.stop(); spark.catalog.dropTempView(sink) }
      }
    }
    for ((name, op, expected) <- ops) withClue(s"$name: ") {
      expected should not be empty
      streamed(name, op, e => e) shouldBe expected
      streamed(name, op, narrow(_)) shouldBe expected
    }
  }

  "an event that lacks a read attribute" should "fail as it does in the unpruned replay" in {
    val sparkS = spark
    import sparkS.implicits._
    import WideCases._
    val broken = WideCases.events.map(e => if (e.id == 100) e.copy(num = e.num - "n03") else e)
    val expected = intercept[NoSuchElementException](
      replay(broken)(runtime(new DetRun(pDet, _)))).getMessage
    expected should include ("'n03'")
    val err = intercept[Exception](Detect.detections(spark.createDataset(broken), pDet).collect())
    err.getMessage should include (s"java.util.NoSuchElementException: $expected")
  }
}
