package graft

import graft.ops.{Release, SessionMemo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** The lifetime of each shared DataFrame memo through a sweep, in the
  * sorted order the runners use (the BENCH_r13 p75 incident: the pair
  * memo went cold mid-sweep and p75 paid an 11× rebuild).
  *
  * A shared frame is built by its first consumer, stays cached through
  * every later consumer however many unrelated queries run in between,
  * and is released at the sweep boundary that follows its last consumer
  * (`Release.sweepStart`, which runners call before each sweep). The next
  * demand after that boundary rebuilds it once.
  */
class MemoLifetimeSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("memo-lifetime-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val noise = Seq("p01_txt_tokens", "p03_txt_langid", "p29_split_assign")

  private def run(name: String): Unit = SparkEntry.queries(name)(spark, sfDir).count()

  private def entry(kind: String): DataFrame =
    SessionMemo.frame(spark, sfDir, kind)(fail(s"no memo entry for $kind"))

  /** Sweep `kind`'s consumers in sorted order with unrelated queries
    * between them; the frame must be built once (the first consumer's
    * entry is the one every later consumer reads) and stay cached through
    * the last consumer, then release at the next sweep boundary.
    */
  private def sweepLifetime(kind: String, lastConsumer: String): Unit = {
    Release.sweepStart(spark)
    val sweep = SessionMemoSpec.FrameConsumers(kind).sorted
    sweep.last shouldBe lastConsumer
    run(sweep.head)
    val first = entry(kind)
    sweep.zipWithIndex.foreach { case (name, i) =>
      if (i > 0) run(name)
      run(noise(i % noise.size))
      withClue(s"$kind rebuilt or cold after consumer $name: ") {
        (entry(kind) eq first) shouldBe true
        first.storageLevel should not be StorageLevel.NONE
      }
    }
    Release.sweepStart(spark)
    withClue(s"$kind still cached after the sweep boundary: ") {
      first.storageLevel shouldBe StorageLevel.NONE
    }
    // the next sweep rebuilds it on first demand
    run(sweep.head)
    val rebuilt = entry(kind)
    (rebuilt eq first) shouldBe false
    rebuilt.storageLevel should not be StorageLevel.NONE
    Release.sweepStart(spark)
  }

  "the shared near-dup pair memo" should
      "stay warm through its lexicographically-last consumer, then release" in {
    sweepLifetime("near-dup-pairs", "p97_dd_source_matrix")
  }

  "the shared (source, word) count memo" should
      "follow the same deterministic lifetime" in {
    sweepLifetime("source-word-counts", "p94_txt_hapax_tail")
  }

  "the shared mutual-kNN edge memo" should "release exactly after p86" in {
    sweepLifetime("mutual-knn-edges", "p86_graph_triangles")
  }
}
