package graft.cef

import graft.cef.spark.{EventStream, Stream}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** A keyed stream with a state TTL runs under a trigger interval: Spark
  * plans another micro-batch after every batch under the TTL's
  * processing-time timeout, so the interval is what bounds an idle
  * query's batches — and those idle batches are what expire a key.
  */
class StateTtlSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("state-ttl-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val cp = Compiler.compile(";(IsEventTypePredicate(a),IsEventTypePredicate(b))")
  private val ttlMs = 4000L
  private val intervalMs = 500L
  private val idleMs = 7000L

  private def ev(id: Long, tpe: String, key: String) = KeyedEv(id, tpe, id * 10, key, 0.0, "")

  private val ops: Seq[(String, EventStream => Dataset[Detection])] = Seq(
    "detections" -> (e => Stream.detections(e, cp, stateTtl = ttlMs)),
    "tws" -> (e => Stream.detectionsTws(e, cp, stateTtl = ttlMs)))

  for ((name, op) <- ops)
    s"a TTL stream ($name) under a ${intervalMs} ms trigger" should
      "run a bounded number of idle batches and still expire an idle key" in
      KeyedCases.withConf(spark, name)(KeyedCases.withCheckpoint { ckpt =>
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val mem = MemoryStream[KeyedEv]
        val sink = s"ttl_${name}_sink"
        val q = op(KeyedCases.narrow(mem.toDF())).writeStream
          .format("memory").queryName(sink).outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
          .start()
        // processAllAvailable() never returns here (a batch is always
        // planned): wait for the batches that read the rows instead
        var added = 0L
        def feed(evs: KeyedEv*): Unit = {
          mem.addData(evs)
          added += evs.size
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (q.recentProgress.map(_.numInputRows).sum < added) {
            q.exception.foreach(throw _)
            require(System.nanoTime() < deadline, s"no batch read row $added")
            Thread.sleep(20)
          }
        }
        try {
          // both keys open a match; k2 completes it within the TTL
          feed(ev(1, "a", "k1"), ev(2, "a", "k2"))
          feed(ev(3, "b", "k2"))
          val before = q.lastProgress.batchId
          Thread.sleep(idleMs)
          val idleBatches = q.lastProgress.batchId - before
          idleBatches should be <= (idleMs / intervalMs + 2)
          // k1 sat idle past its TTL: its open match is gone
          feed(ev(4, "b", "k1"))
          spark.table(sink).as[Detection].collect().map(_.partition).toSeq shouldBe Seq("k2")
        } finally { q.stop(); spark.catalog.dropTempView(sink) }
      })
}
