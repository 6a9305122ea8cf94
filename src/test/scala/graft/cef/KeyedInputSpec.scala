package graft.cef

import graft.cef.KeyedCases._
import graft.cef.spark.{Detect, Inference, KeyedEvents}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** The two ingest shapes are one input: every batch and streaming keyed
  * operation gives the same rows whether its events arrive as a
  * `Dataset[CEvent]` ([[Detect.toEvents]]) or as an `EventStream`
  * ([[Detect.toEventStream]]), with numeric and string attrs.
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
}
