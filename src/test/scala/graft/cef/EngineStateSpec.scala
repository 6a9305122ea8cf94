package graft.cef

import graft.cef.adapt.InMemory
import graft.cef.spark.{Inference, Kafka}
import graft.cef.spark.Inference.EngineSnapshot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The inference engine's keyed state: one binary column per key
  * ([[EngineSnapshot.toBytes]]), and the plan of the engine over the
  * maritime stream — one Jackson pass per line, no `from_json`.
  */
class EngineStateSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("engine-state-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fields(s: EngineSnapshot): List[Any] =
    s.productIterator.map { case a: Array[_] => a.toSeq; case x => x }.toList

  private val long = Gen.oneOf(Gen.const(-1L), Gen.const(Long.MaxValue), Gen.const(Long.MinValue),
    Gen.const(0L), Gen.long)
  private val int = Gen.oneOf(Gen.const(-1), Gen.const(Int.MaxValue), Gen.const(0), Gen.posNum[Int])
  private def array[T: scala.reflect.ClassTag](g: Gen[T]): Gen[Array[T]] =
    Gen.oneOf(Gen.const(0), Gen.choose(1, 8), Gen.const(4096)).flatMap(n => Gen.listOfN(n, g))
      .map(_.toArray)

  private val snapshots: Gen[EngineSnapshot] = for {
    state <- int; counter <- long; minCounter <- long; minTs <- long
    buffer <- array(Gen.choose(-1, 64)); paused <- Gen.oneOf(true, false)
    current <- int; latest <- int; swapAt <- long
    n <- Gen.oneOf(Gen.const(0), Gen.choose(1, 20), Gen.const(2000))
    positive <- Gen.listOfN(n, Gen.oneOf(true, false)); start <- Gen.listOfN(n, long)
    end <- Gen.listOfN(n, long)
    cum <- Gen.listOfN(4, long); prev <- Gen.listOfN(4, long); next <- long
  } yield EngineSnapshot(state, counter, minCounter, minTs, buffer, paused, current, latest, swapAt,
    positive.toArray, start.toArray, end.toArray, cum.toArray, prev.toArray, next)

  "an engine snapshot" should "round-trip through its bytes" in {
    val prop = Prop.forAll(snapshots) { s =>
      val bytes = s.toBytes
      bytes(0) == EngineSnapshot.FormatVersion && fields(EngineSnapshot.fromBytes(bytes)) == fields(s)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    withClue(Pretty.pretty(result)) { result.passed shouldBe true }
  }

  it should "refuse bytes of another format version, naming the format" in {
    val s = EngineSnapshot(1, 2L, 3L, 4L, Array(1, 2), paused = false, 0, 0, -1L,
      Array(true), Array(5L), Array(6L), Array(0L, 0L, 0L, 0L), Array(0L, 0L, 0L, 0L), -1L)
    val bytes = s.toBytes
    bytes(0) = (EngineSnapshot.FormatVersion + 1).toByte
    val e = the[IllegalStateException] thrownBy EngineSnapshot.fromBytes(bytes)
    e.getMessage should include("EngineSnapshot format version")
    e.getMessage should include(s"version ${EngineSnapshot.FormatVersion + 1}")
    val empty = the[IllegalStateException] thrownBy EngineSnapshot.fromBytes(Array.emptyByteArray)
    empty.getMessage should include("EngineSnapshot format version")
  }

  "the engine over the maritime stream" should "parse without from_json and keep one binary state column" in {
    val dir = Files.createTempDirectory("engine-plan")
    // two vessels, alternating fast/slow fixes: 15 detections each
    val lines = (1 to 60).map { i =>
      val speed = if (((i - 1) / 2) % 2 == 0) 9.0 else 0.5
      s"""{"timestamp":${1000 + i},"mmsi":"m${i % 2}","speed":$speed,"critical_bitstring":"00000000"}"""
    }
    Files.write(dir.resolve("part-0.txt"), lines.mkString("\n").getBytes(UTF_8))
    val cp = Compiler.compile(";(GTPredicate(speed,8.0),LTPredicate(speed,1.0))")
    val train = (1 to 100).map(i => CEvent(i.toLong, "SampledCritical", i.toLong, "t",
      Map("speed" -> (if (i % 2 == 1) 9.0 else 0.5)), Map.empty))
    val spst = InMemory.train(train, cp, order = 1, pMin = 0.001, gammaMin = 0.001)
    val table = spst.forecastTable(ForecastMethod.ClassifyNextK, 0.3, 10, 20)

    val events = Kafka.maritimeEventStream(spark.readStream.text(dir.toString), xxhash64(col("value")))
    val q = Inference.engine(events, cp, _ => (spst, table), new Inference.ControlHandle)
      .writeStream.format("memory").queryName("engine_plan_out").outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString).start()
    try {
      q.processAllAvailable()
      spark.table("engine_plan_out").filter(col("kind") === "detection").count() shouldBe 30L
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))) shouldBe false
      val states = plan.collect { case f: FlatMapGroupsWithStateExec => f.stateEncoder.schema }
      states should have size 1
      states.head.fields.map(_.dataType).toSeq shouldBe Seq(BinaryType)
    } finally q.stop()
  }
}
