package graft.cef

import graft.cef.KeyedCases._
import graft.cef.adapt.SyncCommand
import graft.cef.spark.{Inference, KeyedEvents}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Restart equivalence of the keyed stream (the exactly-once contract
  * of Structured Streaming): a query stopped after batch k and restarted on
  * the same checkpoint, with a fresh control handle, emits in its two runs
  * exactly the rows of the uninterrupted query — for every keyed runtime,
  * and for the inference engine with a model swap armed and with keys
  * paused across the restart.
  */
class RestartSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("restart-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val chunks = events.grouped(60).toSeq

  /** Feed `chunks` to `op`, restarting the query before every batch index
    * in `restarts`; `before(i, handle)` runs before batch i is added.
    * Returns all rows the sink received, in canonical order.
    */
  private def run(name: String, restarts: Set[Int],
      op: (KeyedEvents, Inference.ControlHandle) => DataFrame,
      before: (Int, Inference.ControlHandle) => Unit): Seq[String] =
    withConf(spark, name)(withCheckpoint { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[KeyedEv]
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]
      def start(handle: Inference.ControlHandle) =
        op(narrow(mem.toDF()), handle).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(rows.add) }
          .start()
      var handle = new Inference.ControlHandle
      var q = start(handle)
      try chunks.zipWithIndex.foreach { case (chunk, i) =>
        if (restarts(i)) {
          q.stop()
          handle = new Inference.ControlHandle
          q = start(handle)
        }
        before(i, handle)
        mem.addData(chunk)
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      canon(rows.asScala.toSeq)
    })

  private def restartEquivalent(name: String,
      op: (KeyedEvents, Inference.ControlHandle) => DataFrame,
      before: (Int, Inference.ControlHandle) => Unit = (_, _) => ()): Unit =
    withClue(s"$name: ") {
      val whole = run(name, Set.empty, op, before)
      whole should not be empty
      run(name, Set(2), op, before) shouldBe whole
    }

  "every keyed runtime" should "emit the same rows when restarted from its checkpoint" in {
    for ((name, op) <- streamOps(models(spark)) if name != "engine")
      restartEquivalent(name, op)
  }

  "the inference engine" should "finish a model swap armed before the restart" in {
    // model 1 is published before the first batch: every key arms its swap
    // at its first event (ts + 1300) and swaps after the restart, in batch 2
    restartEquivalent("engine, swap armed", engine(models(spark)),
      (i, h) => if (i == 0) h.pushModel(1))
  }

  it should "keep keys paused across the restart until an explicit play" in {
    // paused from batch 1; the fresh handle after the restart has no
    // opinion, so batch 2 stays paused; batch 3 plays model 1
    restartEquivalent("engine, paused", engine(models(spark)), (i, h) =>
      if (i == 1) h.push(SyncCommand.pause(600L))
      else if (i == 3) h.push(SyncCommand.play(1800L, 1)))
  }
}
