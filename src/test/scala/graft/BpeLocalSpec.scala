package graft

import graft.ops.TextOps
import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** r16 optimization guard: the driver-local BPE fast path (vocabulary
  * under the counted budget → merge loop runs on the driver, zero Spark
  * jobs per round) must be byte-identical to the distributed loop it
  * replaces — same merges, same counts, same ROUND structure for the
  * batched/adaptive variants. `localVocabMax = 0` forces the distributed
  * path, so both sides of every optimization claim stay executable in CI
  * even though real corpora at test SF always take the local path.
  */
class BpeLocalSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("bpe-local-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df(corpus: Seq[String]) =
    spark.createDataFrame(corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).sortBy(_._1).toSeq

  "the BPE local fast path" should "equal the distributed sequential loop on the sf0.001 corpus" in {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val local = rows(TextOps.bpeMerges(docs, "text", 12))
    val dist = rows(TextOps.bpeMerges(docs, "text", 12, localVocabMax = 0))
    local should have size 12
    local shouldBe dist
  }

  it should "equal the distributed adaptive loop INCLUDING round counts" in {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val (l, lr) = TextOps.bpeMergesBatchedCore(docs, "text", 20,
      initTarget = 2, capTarget = 512)
    val (d, dr) = TextOps.bpeMergesBatchedCore(docs, "text", 20,
      initTarget = 2, capTarget = 512, localVocabMax = 0)
    rows(l) shouldBe rows(d)
    lr shouldBe dr
  }

  it should "agree on tie-heavy randomized corpora (batched, both paths)" in {
    val rnd = new scala.util.Random(20260818)
    for (trial <- 1 to 4) {
      val alpha = "abcd".take(2 + rnd.nextInt(3))
      val corpus = Seq.fill(12 + rnd.nextInt(8)) {
        Seq.fill(3 + rnd.nextInt(5)) {
          Seq.fill(1 + rnd.nextInt(6))(alpha(rnd.nextInt(alpha.length))).mkString
        }.mkString(" ")
      }
      withClue(s"trial $trial: ") {
        val (l, lr) = TextOps.bpeMergesBatchedCore(df(corpus), "text", 8,
          initTarget = 3, capTarget = 3)
        val (d, dr) = TextOps.bpeMergesBatchedCore(df(corpus), "text", 8,
          initTarget = 3, capTarget = 3, localVocabMax = 0)
        rows(l) shouldBe rows(d)
        lr shouldBe dr
      }
    }
  }

  it should "order ties by UTF-8 bytes, not UTF-16 code units" in {
    // U+FF01 (FULLWIDTH !, UTF-8 EF BC 81) sorts BEFORE U+10000 (UTF-8
    // F0 90 80 80) in UTF-8 byte order, but AFTER it in Java's UTF-16
    // code-unit comparison (0xFF01 > high surrogate 0xD800) — a corpus
    // where both pairs tie on count exposes a wrong local comparator
    val hi = new String(Character.toChars(0x10000))
    val corpus = Seq(s"！！ $hi$hi", s"！！ $hi$hi")
    val local = rows(TextOps.bpeMerges(df(corpus), "text", 1))
    val dist = rows(TextOps.bpeMerges(df(corpus), "text", 1, localVocabMax = 0))
    local shouldBe dist
    // and the winner must be the UTF-8-smaller symbol, FULLWIDTH !
    local.head._2 shouldBe "！"
  }

  it should "take the local path for an unbounded localVocabMax (no budget overflow)" in {
    // `chars <= localVocabMax * 40` wrapped negative at Long.MaxValue and
    // silently forced the distributed path; the local loop runs no Spark
    // job per merge round, so it must show up as far fewer jobs
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[T](f: => T): (T, Int) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      val r = f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r, jobs.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (local, localJobs) =
        jobsOf(rows(TextOps.bpeMerges(docs, "text", 12, localVocabMax = Long.MaxValue)))
      val (dist, distJobs) =
        jobsOf(rows(TextOps.bpeMerges(docs, "text", 12, localVocabMax = 0)))
      local should have size 12
      local shouldBe dist
      withClue(s"jobs local $localJobs vs distributed $distJobs: ") {
        localJobs should be < distJobs / 2
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
