package graft

import graft.ops.{Release, SessionMemo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The one cross-query store ([[graft.ops.SessionMemo]]): values several
  * queries of a session share, keyed by (session, dir, kind). Pins:
  *
  *  - one build per (dir, kind) through a sorted sweep of every query
  *    that reads a shared DataFrame, with unrelated queries in between
  *    (the BENCH_r13 p75 incident: a shared table that went cold
  *    mid-sweep cost p75 an 11× rebuild);
  *  - a different dir is a different entry; `clearCache()` and
  *    `Release.sweepStart` force a rebuild;
  *  - trained models: one training per (dir, kind), the LRU bound,
  *    builds outside the map lock;
  *  - sessions never share or evict each other's entries, and a stopped
  *    session leaves no memo RDD behind.
  */
class SessionMemoSpec extends AnyFlatSpec with Matchers {
  import SessionMemoSpec.FrameConsumers

  private val d1 = "/root/testdata/sf0.001"
  private val d2 = "/root/testdata/sf0.01"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("session-memo-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def builds = SessionMemo.builds.get()

  private def run(name: String, dir: String = d1) =
    SparkEntry.queries(name)(spark, dir).collect()

  /** The cached entry of (s, dir, kind) — a lookup whose build fails
    * the spec if the entry is missing.
    */
  private def entry(s: SparkSession, dir: String, kind: String): DataFrame =
    SessionMemo.frame(s, dir, kind)(fail(s"no memo entry for $kind in $dir"))

  behavior of "the session memo"

  it should "build each shared frame once through a sorted sweep of its 21 consumer queries" in {
    Release.sweepStart(spark)
    val base = builds
    val sweep = FrameConsumers.values.flatten.toSeq.sorted
    sweep should have size 22
    // unrelated queries between consumers must not move anything
    val noise = Seq("p01_txt_tokens", "p03_txt_langid", "p29_split_assign")
    sweep.zipWithIndex.foreach { case (name, i) =>
      run(name)
      run(noise(i % noise.size))
    }
    withClue("builds during the sweep (one per shared frame): ") {
      builds - base shouldBe FrameConsumers.size.toLong
    }
    for (kind <- FrameConsumers.keys)
      withClue(s"$kind not cached after the sweep: ") {
        entry(spark, d1, kind).storageLevel should not be StorageLevel.NONE
      }
  }

  it should "keep a shared frame cached when p66 runs between two of its consumers" in {
    Release.sweepStart(spark)
    run("p100_corpus_health")
    val base = builds
    // p66 reads the same (source, word) counts: releasing a private copy
    // of that plan would uncache the shared entry too
    run("p66_source_drift")
    run("p88_txt_word_lift")
    withClue("rebuilds after p66: ") { builds - base shouldBe 0L }
    entry(spark, d1, "source-word-counts").storageLevel should not be StorageLevel.NONE
  }

  it should "stay cached when Release.afterFirstUse is handed its plan" in {
    val memo = SessionMemo.frame(spark, "/memo-spec", "released-plan")(spark.range(777).toDF("v"))
    val listeners = Release.activeListeners
    // a private copy of the memo's plan, released after its consumer:
    // unpersisting it would uncache the shared entry too
    Release.afterFirstUse(spark.range(777).toDF("v")).count() shouldBe 777L
    // the listener bus delivers asynchronously: wait until it is drained
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (Release.activeListeners > listeners && System.nanoTime() < deadline) Thread.sleep(50)
    Release.activeListeners shouldBe listeners
    memo.storageLevel should not be StorageLevel.NONE
    entry(spark, "/memo-spec", "released-plan") should be theSameInstanceAs memo
  }

  it should "rebuild a frame after clearCache and after sweepStart, and key frames by dir" in {
    run("p122_txt_good_turing")
    val base = builds
    run("p94_txt_hapax_tail")
    builds - base shouldBe 0L
    // Bench drops the whole cache before its timed sweep: the stale entry
    // is rebuilt on its next lookup, not served from lineage
    spark.sqlContext.clearCache()
    run("p94_txt_hapax_tail")
    builds - base shouldBe 1L
    entry(spark, d1, "source-word-counts").storageLevel should not be StorageLevel.NONE
    // the sweep boundary drops the session's entries and unpersists them
    val before = entry(spark, d1, "source-word-counts")
    Release.sweepStart(spark)
    before.storageLevel shouldBe StorageLevel.NONE
    run("p94_txt_hapax_tail")
    builds - base shouldBe 2L
    // a different dir is a different entry; the first stays cached
    run("p94_txt_hapax_tail", d2)
    builds - base shouldBe 3L
    entry(spark, d1, "source-word-counts").storageLevel should not be StorageLevel.NONE
  }

  it should "never share or evict entries across two sessions on two threads" in {
    val sessions = Seq(spark, spark.newSession())
    sessions.foreach(Release.sweepStart)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = sessions.zipWithIndex.map { case (s, si) =>
      new Thread(() => {
        try {
          for (round <- 0 until 12) {
            Release.sweepStart(s)
            // the cache manager shares storage by plan across sessions,
            // so each (session, round, key) gets its own row count
            val rows = (0 until 5).map(i => 10L + si * 100000 + round * 100 + i)
            val built = rows.zipWithIndex.map { case (n, i) =>
              SessionMemo.frame(s, "/memo-spec", s"k$i")(s.range(n).toDF("v"))
            }
            rows.zipWithIndex.foreach { case (n, i) =>
              val again = entry(s, "/memo-spec", s"k$i")
              if (!(again eq built(i))) errors.add(s"s$si r$round k$i: a different entry")
              if (again.sparkSession ne s) errors.add(s"s$si r$round k$i: another session's entry")
              if (again.storageLevel == StorageLevel.NONE)
                errors.add(s"s$si r$round k$i: unpersisted while its session still used it")
              if (again.count() != n) errors.add(s"s$si r$round k$i: wrong rows")
            }
          }
        } catch { case e: Throwable => errors.add(s"s$si threw: $e") }
      }, s"session-memo-$si")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000L))
    threads.foreach(t => withClue(s"${t.getName} still alive: ") { t.isAlive shouldBe false })
    withClue("cross-session violations: ") { errors.asScala.toList shouldBe empty }
    Release.sweepStart(sessions(1))
  }

  it should "build a key once under concurrent lookups from many threads" in {
    val base = builds
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val threads = (0 until 8).map(i => new Thread(() => {
      start.await()
      got.add(SessionMemo.frame(spark, "/memo-spec", "race")(spark.range(4242).toDF("v")))
    }, s"session-memo-race-$i"))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000L))
    builds - base shouldBe 1L
    got.asScala.toList should have size 8
    got.asScala.toList.distinct should have size 1
    got.peek().storageLevel should not be StorageLevel.NONE
  }

  behavior of "the shared trained-model memo"

  it should "train once for all consumers of one (dir, kind) and per dir otherwise" in {
    Release.sweepStart(spark)
    val base = builds

    // four SPST consumers, one training
    val wt1 = run("cef11_spst_wt")
    run("cef12_spst_forecasts")
    run("cef26_spst_fixedspread")
    run("cef30_spst_classifywin")
    builds - base shouldBe 1

    // the SPSTm pair shares one more training
    run("cef32_spstm_time")
    run("cef41_streaming_spstm")
    builds - base shouldBe 2

    // a different dir is a different model
    run("cef11_spst_wt", d2)
    builds - base shouldBe 3

    // the memoized path reproduces the cold output exactly
    val wt1Again = run("cef11_spst_wt")
    builds - base shouldBe 3
    wt1Again.map(_.toString).toSeq shouldBe wt1.map(_.toString).toSeq
  }

  it should "share one BPE merge learning across p42/p45/p49/p78 but not p48's adaptive path" in {
    Release.sweepStart(spark)
    val base = builds
    val merges = run("p42_txt_bpe")
    run("p45_txt_bpe_encode")
    run("p49_txt_bpe_tokenize")
    run("p78_bpe_fertility")
    builds - base shouldBe 1

    // the adaptive learner is NOT memo-fed (its claim is that the
    // batched schedule reproduces the sequential argmax on real data),
    // and its output matches the memoized sequential table exactly
    val batched = run("p48_txt_bpe_batched")
    builds - base shouldBe 1
    batched.map(_.toString).sorted.toSeq shouldBe merges.map(_.toString).sorted.toSeq
  }

  it should "share one perceptron training across p55/p73/p96" in {
    Release.sweepStart(spark)
    val base = builds
    run("p55_quality_perceptron")
    run("p73_quality_auc")
    run("p96_quality_reliability")
    builds - base shouldBe 1
  }

  it should "bound the cache (LRU) and retrain an evicted key on next use" in {
    Release.sweepStart(spark)
    val base = builds
    SessionMemo.model(spark, "/tmp", "lru-probe-0")("v0": AnyRef)
    builds - base shouldBe 1
    // a hit is a hit
    SessionMemo.model(spark, "/tmp", "lru-probe-0")("v0": AnyRef)
    builds - base shouldBe 1
    // fill past capacity: probe-0 is the eldest and falls out
    for (i <- 1 to SessionMemo.MaxEntries)
      SessionMemo.model(spark, "/tmp", s"lru-probe-$i")(s"v$i": AnyRef)
    SessionMemo.entryCount shouldBe SessionMemo.MaxEntries
    SessionMemo.model(spark, "/tmp", "lru-probe-0")("v0": AnyRef)
    builds - base shouldBe (SessionMemo.MaxEntries + 2).toLong
  }

  it should "run trainings outside the map lock (r15 ADVICE)" in {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    Release.sweepStart(spark)
    // a training may consult the memo for ANOTHER key (the
    // computeIfAbsent same-bin re-entry would deadlock here)
    val outer = SessionMemo.model(spark, "/tmp", "reenter-outer") {
      SessionMemo.model(spark, "/tmp", "reenter-inner")("inner": AnyRef)
    }
    outer shouldBe "inner"
    // an UNRELATED key trains to completion while another key's
    // training is still in flight (no shared lock across keys)
    val slowStarted = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => SessionMemo.model(spark, "/tmp", "slow-key") {
      slowStarted.countDown()
      release.await(30, TimeUnit.SECONDS)
      "slow": AnyRef
    })
    slow.start()
    assert(slowStarted.await(30, TimeUnit.SECONDS), "slow training never started")
    // would block forever under a map-wide training lock
    SessionMemo.model(spark, "/tmp", "fast-key")("fast": AnyRef) shouldBe "fast"
    release.countDown()
    slow.join(30000)
    slow.isAlive shouldBe false
  }

  behavior of "a stopped session"

  it should "leave no memo RDD in getPersistentRDDs and no memo entry" in {
    Release.sweepStart(spark)
    run("p122_txt_good_turing")
    run("p69_dd_minhash_calibration")
    val memoRdds = Seq("source-word-counts", "calibration-pairs").map { kind =>
      entry(spark, d1, kind).queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      }.getOrElse(fail(s"$kind is not an in-memory relation"))
    }
    val sc = spark.sparkContext
    (memoRdds.toSet -- sc.getPersistentRDDs.keySet) shouldBe empty
    spark.stop()
    (memoRdds.toSet intersect sc.getPersistentRDDs.keySet) shouldBe empty
    SessionMemo.entryCount shouldBe 0
  }
}

object SessionMemoSpec {

  /** Every query that reads a shared DataFrame, by memo kind. */
  val FrameConsumers: Map[String, Seq[String]] = Map(
    "near-dup-pairs" -> Seq("p06_dd_minhash_pairs", "p107_split_leakage_rate",
      "p119_dd_edit_verify", "p15_dd_neardup_groups", "p51_split_leakage_safe",
      "p75_dd_canonical", "p97_dd_source_matrix"),
    "mutual-knn-edges" -> Seq("p67_sim_cluster_stats", "p83_graph_pagerank",
      "p84_graph_kcore", "p85_graph_walks", "p86_graph_triangles"),
    "source-word-counts" -> Seq("p100_corpus_health", "p102_txt_simpson",
      "p104_txt_zipf_ranks", "p122_txt_good_turing", "p66_source_drift",
      "p88_txt_word_lift", "p94_txt_hapax_tail"),
    "calibration-pairs" -> Seq("p106_dd_bbit_minhash", "p69_dd_minhash_calibration",
      "p89_dd_threshold_sweep"))
}
