package graft.cef

import graft.ops.{SketchOps, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Randomized batch-boundary fuzz for the round-9 streaming gates (VERDICT
  * r9 item 6): cef42's session windows and cef43's cross-batch KMV joined
  * after the last fuzz campaign, so their merge/fold edges get the same
  * treatment StreamingSpec gives the automaton runtime — random slice
  * counts and sizes, random arrival order, streaming must equal batch.
  *
  * The adversarial edges targeted here:
  *   - session merges ACROSS micro-batches: a later-arriving bridging
  *     event must fuse two sessions already sitting in the session store
  *     (arrival order is shuffled, so bridges routinely arrive after both
  *     sides);
  *   - the gap boundary tie: increments are drawn with extra mass at
  *     EXACTLY the gap (an event at prev + gap JOINS the session —
  *     touching windows merge; see expectedSessions for the full story
  *     of how this fuzz caught the opposite encoding);
  *   - KMV k-min folds where a batch's candidates straddle the current
  *     kth minimum, duplicate hashes recur across batches, and some keys
  *     are seen in only one batch while others fold across many.
  */
class StreamFuzzSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("stream-fuzz-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Split xs at random cut points into between 2 and maxChunks slices
    * (sizes uneven by construction — cuts are uniform positions).
    */
  private def randomSlices[T](xs: Seq[T], rnd: scala.util.Random, maxChunks: Int): Seq[Seq[T]] = {
    val n = xs.size
    val k = 2 + rnd.nextInt(maxChunks - 1)
    val cuts = Seq.fill(k - 1)(1 + rnd.nextInt(math.max(1, n - 1))).distinct.sorted
    val bounds = 0 +: cuts :+ n
    bounds.sliding(2).map { case Seq(a, b) => xs.slice(a, b) }.filter(_.nonEmpty).toSeq
  }

  /** Independent gap-merge replay (NOT session_window): sort per user,
    * break where ts - prev > gap, session end = last + gap — the same
    * lag-gap/cumulative-sum formulation the cef42 DuckDB oracle uses,
    * re-derived in plain Scala. The tie case is CLOSED-merge: an event at
    * exactly prev + gap JOINS the session (its [t, t+gap) window touches
    * the session end and Spark merges touching windows — verified against
    * batch session_window, which agrees with the streaming session store;
    * this fuzz originally encoded the break as >= and caught the
    * divergence).
    */
  private def expectedSessions(events: Seq[(Long, Long)], gap: Long): Set[(Long, Long, Long, Long)] =
    events.groupBy(_._1).flatMap { case (user, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Long]]
      ts.foreach { t =>
        if (sessions.nonEmpty && t - sessions.last.last <= gap) sessions.last += t
        else sessions += scala.collection.mutable.ArrayBuffer(t)
      }
      sessions.map(s => (user, s.head, s.last + gap, s.size.toLong))
    }.toSet

  it should "merge session windows identically streaming vs batch under random slicing" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val gapSec = 10L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(1000 + trial)
      val nUsers = 1 + rnd.nextInt(4)
      val events: Seq[(Long, Long)] = (0 until nUsers).flatMap { u =>
        var t = 100L + rnd.nextInt(20)
        (1 to (5 + rnd.nextInt(25))).map { _ =>
          // increments weighted toward the edges: 0 (same ts), gap-1
          // (barely same session), gap (EXACTLY the break), gap+1
          val inc = rnd.nextInt(5) match {
            case 0 => 0L
            case 1 => gapSec - 1
            case 2 => gapSec
            case 3 => gapSec + 1
            case _ => 1L + rnd.nextInt(2 * gapSec.toInt)
          }
          t += inc
          (u.toLong, t)
        }
      }
      // shuffled arrival: bridges arrive after both sides routinely
      val arrival = rnd.shuffle(events)
      val slices = randomSlices(arrival, rnd, maxChunks = 6)

      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDS().toDF("user_id", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .groupBy(session_window(col("ts"), s"$gapSec seconds").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream.format("memory").queryName(s"fuzz_sess_$trial")
        .outputMode("complete").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val streamOut = sparkS.table(s"fuzz_sess_$trial")
        .select(col("user_id"), unix_seconds(col("w.start")), unix_seconds(col("w.end")), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_sess_$trial")

      val expected = expectedSessions(events, gapSec)
      withClue(s"trial $trial (${slices.size} slices, ${events.size} events): ") {
        streamOut shouldBe expected
        // the fuzz is vacuous unless some user actually has >1 session
        expected.groupBy(_._1).values.map(_.size).max should be >= 2
      }
    }
  }

  it should "fold KMV state identically streaming vs batch under random slicing" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(2000 + trial)
      val k = Seq(3, 8, 16)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(5)
      // values from a small-ish universe so duplicate hashes recur
      // across batches and the k-min set routinely rejects candidates
      val universe = 2 * k + rnd.nextInt(10 * k)
      val events: Seq[(Long, Long)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(universe).toLong)
      }
      // JVM twin of TextOps.polyHash (the engine treats h as opaque;
      // hashing here just spreads the small universe over the hash space
      // so the estimate formula is exercised realistically)
      def ph(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % TextOps.HashMod)
      val hashed = events.map { case (key, v) => (key, ph(v.toString)) }
      val slices = randomSlices(hashed, rnd, maxChunks = 8)

      val mem = MemoryStream[(Long, Long)]
      val q = SketchOps.streamingKmv(
        mem.toDS().toDF("user_id", "h"), "user_id", "h", k)
        .writeStream.format("memory").queryName(s"fuzz_kmv_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_kmv_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_kmv_$trial")

      // final snapshot per key (max n_seen) must equal the batch KMV
      val finalByKey = snaps.groupBy(_._1).map { case (key, ss) => key -> ss.maxBy(_._2) }
      val expected = hashed.groupBy(_._1).map { case (key, rows) =>
        val mins = rows.map(_._2).distinct.sorted.take(k)
        val kth = if (mins.isEmpty) 0L else mins.last
        val est = if (mins.size < k) mins.size.toLong else (k - 1).toLong * TextOps.HashMod / kth
        key -> ((key, rows.size.toLong, mins.size.toLong, kth, est))
      }
      withClue(s"trial $trial (k=$k, ${slices.size} slices): ") {
        finalByKey shouldBe expected
        // per-key snapshot invariants across batches: n_seen strictly
        // increasing (one snapshot per touched batch), n_sample
        // non-decreasing (the distinct k-min set only grows toward k),
        // and once full, kth_min non-increasing (minima only improve)
        snaps.groupBy(_._1).values.foreach { ss =>
          val ordered = ss.sortBy(_._2)
          ordered.map(_._2) shouldBe ordered.map(_._2).distinct.sorted
          ordered.map(_._3).sliding(2).foreach {
            case Array(a, b) => b should be >= a
            case _           =>
          }
          ordered.filter(_._3 == k.toLong).map(_._4).sliding(2).foreach {
            case Array(a, b) => b should be <= a
            case _           =>
          }
        }
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    // across the campaign, plenty of keys must have actually folded
    // state across a micro-batch boundary — else the fuzz proved nothing
    crossBatchFolds should be >= 10L
  }

  it should "fold per-key CM sketches identically streaming vs batch under random slicing" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val seeds = Seq((1299721L, 15485863L), (2750159L, 32452843L))
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(3000 + trial)
      val width = Seq(8, 16, 64)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(4)
      val universe = width / 2 + rnd.nextInt(width * 4) // forces collisions at small width
      val events: Seq[(Long, Long)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(universe).toLong)
      }
      def ph(s: String): Long = TextOps.polyHashJvm(s)
      val probes: Seq[Long] = (0 until 4).map(_ => rnd.nextInt(universe * 2).toLong).distinct
      val hashed = events.map { case (key, v) => (key, ph(v.toString)) }
      val slices = randomSlices(hashed, rnd, maxChunks = 8)

      val mem = MemoryStream[(Long, Long)]
      val q = SketchOps.streamingCmPoints(
        mem.toDS().toDF("user_id", "h"), "user_id", "h",
        probes, probes.map(p => ph(p.toString)), seeds, width)
        .writeStream.format("memory").queryName(s"fuzz_cm_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_cm_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_cm_$trial")

      // final (max n_seen) snapshot per (key, probe) ≡ batch CM estimate
      def cell(h: Long, r: Int): Long =
        ((h * seeds(r)._1 + seeds(r)._2) % TextOps.HashMod) % width
      val expected = hashed.groupBy(_._1).flatMap { case (key, rows) =>
        probes.map { p =>
          val phash = ph(p.toString)
          val est = (0 until seeds.size).map { r =>
            rows.count(row => cell(row._2, r) == cell(phash, r)).toLong
          }.min
          (key, p) -> ((rows.size.toLong, est))
        }
      }
      val got = snaps.groupBy(s => (s._1, s._3))
        .map { case (kp, ss) => kp -> { val m = ss.maxBy(_._2); (m._2, m._4) } }
      withClue(s"trial $trial (width=$width, ${slices.size} slices): ") {
        got shouldBe expected
        // CM counts only grow: per (key, probe), est non-decreasing in n_seen
        snaps.groupBy(s => (s._1, s._3)).values.foreach { ss =>
          ss.sortBy(_._2).map(_._4).sliding(2).foreach {
            case Array(a, b) => b should be >= a
            case _           =>
          }
        }
      }
      crossBatchFolds += snaps.groupBy(s => (s._1, s._3)).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "fold the weighted reservoir identically streaming vs batch under random slicing" in {
    import graft.ops.StatsOps
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(4000 + trial)
      val k = Seq(2, 4, 8)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(5)
      // (key, id, pri): priorities from a SMALL universe so exact ties
      // recur across batches and the (pri, id) tie-break is exercised
      val events: Seq[(Long, Long, Long)] =
        (1 to (40 + rnd.nextInt(160))).map { i =>
          (rnd.nextInt(nKeys).toLong, i.toLong, (1 + rnd.nextInt(4 * k)).toLong)
        }
      val slices = randomSlices(events, rnd, maxChunks = 8)
      val mem = MemoryStream[(Long, Long, Long)]
      val q = StatsOps.streamingWeightedSample(
        mem.toDS().toDF("user_id", "event_id", "pri"), "user_id", "event_id", "pri", k)
        .writeStream.format("memory").queryName(s"fuzz_ws_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_ws_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](r.fieldIndex("ids")), r.getSeq[Long](r.fieldIndex("pris"))))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_ws_$trial")
      // final snapshot per key ≡ the global (pri, id) bottom-k — the
      // associative-commutative min-k claim under arbitrary slicing
      val finalByKey = snaps.groupBy(_._1).map { case (key, ss) =>
        val last = ss.maxBy(_._2)
        key -> (last._2, last._4.zip(last._3).toSeq)
      }
      val expected = events.groupBy(_._1).map { case (key, rows) =>
        key -> (rows.size.toLong,
          rows.map(r => (r._3, r._2)).sorted.take(k))
      }
      withClue(s"trial $trial (k=$k, ${slices.size} slices): ") {
        finalByKey shouldBe expected
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "fold Misra-Gries counters identically streaming vs the JVM fold under random slicing" in {
    import graft.ops.StatsOps
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(5000 + trial)
      val k = Seq(2, 3, 4)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(4)
      // skewed items (min of two draws) so real heavy hitters survive
      val events: Seq[(Long, String)] =
        (1 to (40 + rnd.nextInt(160))).map { _ =>
          (rnd.nextInt(nKeys).toLong,
            s"i${math.min(rnd.nextInt(2 * k + 2), rnd.nextInt(2 * k + 2))}")
        }
      val slices = randomSlices(events, rnd, maxChunks = 8)
      val mem = MemoryStream[(Long, String)]
      val q = StatsOps.streamingMisraGries(
        mem.toDS().toDF("user_id", "item"), "user_id", "item", k)
        .writeStream.format("memory").queryName(s"fuzz_mg_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_mg_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[String](r.fieldIndex("items")), r.getSeq[Long](r.fieldIndex("cnts"))))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_mg_$trial")
      // MG is ORDER-dependent across batches: the expectation replays
      // the IDENTICAL fold (exact per-slice counts per key, mgReduce at
      // each boundary) over the same slicing — streaming must match it
      // exactly, which only holds if state survives every boundary
      val finalByKey = snaps.groupBy(_._1).map { case (key, ss) =>
        val last = ss.maxBy(_._2)
        key -> (last._2, last._3.zip(last._4).toSeq)
      }
      val expected = events.groupBy(_._1).map { case (key, all) =>
        var state = Seq.empty[(String, Long)]
        var n = 0L
        slices.foreach { slice =>
          val mine = slice.filter(_._1 == key)
          if (mine.nonEmpty) {
            val counts = scala.collection.mutable.Map(state: _*)
            mine.foreach { e => counts(e._2) = counts.getOrElse(e._2, 0L) + 1L }
            state = StatsOps.mgReduce(counts.toMap, k)
            n += mine.size
          }
        }
        key -> (n, state)
      }
      withClue(s"trial $trial (k=$k, ${slices.size} slices): ") {
        finalByKey shouldBe expected
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "fold MinHash signatures identically streaming vs batch under random slicing" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    import graft.ops.DedupOps
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(7000 + trial)
      val lanes = Seq(4, 8, 16)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(5)
      val universe = 5 + rnd.nextInt(40)
      val events: Seq[(Long, Long)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(universe).toLong)
      }
      val hashed = events.map { case (k, v) => (k, TextOps.polyHashJvm(v.toString)) }
      val slices = randomSlices(hashed, rnd, maxChunks = 8)
      val as = DedupOps.MinHashA.take(lanes)
      val bs = DedupOps.MinHashB.take(lanes)

      val mem = MemoryStream[(Long, Long)]
      val q = SketchOps.streamingMinHash(
        mem.toDS().toDF("user_id", "h"), "user_id", "h", lanes)
        .writeStream.format("memory").queryName(s"fuzz_mh_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_mh_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_mh_$trial")

      val finalByKey = snaps.groupBy(_._1).map { case (k, ss) =>
        val last = ss.maxBy(_._2)
        k -> ((last._2, last._3.toSeq))
      }
      val expected = hashed.groupBy(_._1).map { case (k, rows) =>
        val sig = (0 until lanes).map { i =>
          rows.map(r => (as(i) * r._2 + bs(i)) % TextOps.HashMod).min
        }
        k -> ((rows.size.toLong, sig))
      }
      withClue(s"trial $trial (lanes=$lanes, ${slices.size} slices): ") {
        finalByKey shouldBe expected
        // lane minima only ever improve across a key's snapshots
        snaps.groupBy(_._1).values.foreach { ss =>
          ss.sortBy(_._2).map(_._3).sliding(2).foreach {
            case Array(a, b) => a.zip(b).foreach { case (x, y) => y should be <= x }
            case _           =>
          }
        }
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "fold HLL registers identically streaming vs batch under random slicing" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(8000 + trial)
      val nKeys = 1 + rnd.nextInt(5)
      val universe = 5 + rnd.nextInt(200)
      val events: Seq[(Long, Long)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(universe).toLong)
      }
      val hashed = events.map { case (k, v) => (k, TextOps.polyHashJvm(v.toString)) }
      val slices = randomSlices(hashed, rnd, maxChunks = 8)

      val mem = MemoryStream[(Long, Long)]
      val q = SketchOps.streamingHll(
        mem.toDS().toDF("user_id", "h"), "user_id", "h")
        .writeStream.format("memory").queryName(s"fuzz_hll_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_hll_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_hll_$trial")

      val finalByKey = snaps.groupBy(_._1).map { case (k, ss) => k -> ss.maxBy(_._2) }
      val expected = hashed.groupBy(_._1).map { case (k, rows) =>
        val regs = Array.fill(SketchOps.HllM)(0L)
        SketchOps.foldHll(regs, rows.map(_._2).iterator)
        val s = SketchOps.hllSummary(k, rows.size.toLong, regs)
        k -> ((k, s.n_seen, s.n_regs_hit, s.s_scaled, s.est_hll))
      }
      withClue(s"trial $trial (${slices.size} slices): ") {
        finalByKey shouldBe expected
        // registers only rise: s_scaled non-increasing, hits non-decreasing
        snaps.groupBy(_._1).values.foreach { ss =>
          val ordered = ss.sortBy(_._2)
          ordered.map(_._3).sliding(2).foreach {
            case Array(a, b) => b should be >= a
            case _           =>
          }
          ordered.map(_._4).sliding(2).foreach {
            case Array(a, b) => b should be <= a
            case _           =>
          }
        }
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "fold Bloom bit-sets identically streaming vs batch under random slicing" in {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    var hitsSeen = 0L
    var missesSeen = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(9000 + trial)
      val nKeys = 1 + rnd.nextInt(5)
      val universe = 5 + rnd.nextInt(40)
      // probes: half drawn from the universe (hit-prone), half outside
      val probes: Seq[Long] = Seq(rnd.nextInt(universe).toLong,
        (universe + 1 + rnd.nextInt(50)).toLong)
      val events: Seq[(Long, Long)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(universe).toLong)
      }
      val hashed = events.map { case (k, v) => (k, TextOps.polyHashJvm(v.toString)) }
      val slices = randomSlices(hashed, rnd, maxChunks = 8)

      val mem = MemoryStream[(Long, Long)]
      val q = SketchOps.streamingBloomPoints(
        mem.toDS().toDF("user_id", "h"), "user_id", "h",
        probes, probes.map(p => TextOps.polyHashJvm(p.toString)))
        .writeStream.format("memory").queryName(s"fuzz_bloom_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); q.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_bloom_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      q.stop()
      sparkS.catalog.dropTempView(s"fuzz_bloom_$trial")

      val finalByKp = snaps.groupBy(s => (s._1, s._4)).map { case (kp, ss) => kp -> ss.maxBy(_._2) }
      val expected = hashed.groupBy(_._1).flatMap { case (k, rows) =>
        val bits = Array.fill(SketchOps.BloomBits / 64)(0L)
        SketchOps.foldBloom(bits, rows.map(_._2).iterator)
        val nBits = bits.map(java.lang.Long.bitCount).sum.toLong
        probes.map { p =>
          val pos = SketchOps.bloomPositionsJvm(TextOps.polyHashJvm(p.toString))
          val hit = pos.forall(i => (bits(i >> 6) & (1L << (i & 63))) != 0L)
          (k, p) -> ((k, rows.size.toLong, nBits, p, hit))
        }
      }
      withClue(s"trial $trial (${slices.size} slices): ") { finalByKp shouldBe expected }
      // one-sided guarantee: an item actually sent to a key must probe true
      val sentByKey = events.groupBy(_._1)
      expected.foreach { case ((k, p), (_, _, _, _, hit)) =>
        if (sentByKey(k).exists(_._2 == p)) {
          withClue(s"false negative: key $k probe $p: ") { hit shouldBe true }
          hitsSeen += 1
        } else if (!hit) missesSeen += 1
      }
      crossBatchFolds += snaps.groupBy(s => (s._1, s._4)).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
    // the campaign must exercise both the present and the absent path
    hitsSeen should be >= 3L
    missesSeen should be >= 3L
  }

  it should "fold histogram counters identically streaming vs the whole-stream kernel under random slicing" in {
    import graft.ops.StatsOps
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(11000 + trial)
      val q = Seq(4, 8, 16)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(5)
      // a few out-of-range buckets so the edge clamp crosses boundaries too
      val events: Seq[(Long, Int)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(q + 4) - 2)
      }
      val slices = randomSlices(events, rnd, maxChunks = 8)
      val mem = MemoryStream[(Long, Int)]
      val query = StatsOps.streamingHistogram(
        mem.toDS().toDF("user_id", "bucket"), "user_id", "bucket", q)
        .writeStream.format("memory").queryName(s"fuzz_qh_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); query.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_qh_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](r.fieldIndex("cnts"))))
      query.stop()
      sparkS.catalog.dropTempView(s"fuzz_qh_$trial")
      // counter addition is associative: the last snapshot per key is the
      // kernel's one-pass histogram over the key's whole stream
      val finalByKey = snaps.groupBy(_._1).map { case (key, ss) =>
        val last = ss.maxBy(_._2)
        key -> ((last._2, last._3.toSeq))
      }
      val expected = events.groupBy(_._1).map { case (key, rows) =>
        key -> ((rows.size.toLong, StatsOps.foldHistogram(Nil, rows.map(_._2), q)))
      }
      withClue(s"trial $trial (q=$q, ${slices.size} slices): ") {
        finalByKey shouldBe expected
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "fold decayed counters identically streaming vs the kernel's replay of the same slicing" in {
    import graft.ops.{DecayState, StatsOps}
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(12000 + trial)
      val nKeys = 1 + rnd.nextInt(5)
      // non-negative values: the halving rule is defined on them only
      val events: Seq[(Long, Long)] = (1 to (40 + rnd.nextInt(160))).map { _ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(50).toLong)
      }
      val slices = randomSlices(events, rnd, maxChunks = 8)
      val mem = MemoryStream[(Long, Long)]
      val query = StatsOps.streamingDecay(
        mem.toDS().toDF("user_id", "v"), "user_id", "v")
        .writeStream.format("memory").queryName(s"fuzz_decay_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); query.processAllAvailable() }
      val snaps = sparkS.table(s"fuzz_decay_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      query.stop()
      sparkS.catalog.dropTempView(s"fuzz_decay_$trial")
      // decay halves once per batch that touches the key, so the
      // expectation replays decayStep over the SAME slicing; it matches
      // only if state survives every boundary in order
      val finalByKey = snaps.groupBy(_._1).map { case (key, ss) => key -> ss.maxBy(_._2) }
      val expected = events.map(_._1).distinct.map { key =>
        var st = DecayState(0L, 0L, 0L)
        slices.foreach { slice =>
          val mine = slice.filter(_._1 == key).map(_._2)
          if (mine.nonEmpty) st = StatsOps.decayStep(st, mine.size.toLong, mine.sum)
        }
        key -> ((key, st.nSeen, st.decCnt, st.decSum))
      }.toMap
      withClue(s"trial $trial (${slices.size} slices): ") {
        finalByKey shouldBe expected
      }
      crossBatchFolds += snaps.groupBy(_._1).values.count(_.size >= 2)
    }
    crossBatchFolds should be >= 10L
  }

  it should "assign gap sessions identically streaming vs the kernel's whole-stream replay" in {
    import graft.ops.{SessIn, SessState, StatsOps}
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val gap = 100L
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(13000 + trial)
      val nUsers = 1 + rnd.nextInt(4)
      // per user: increments at, just over and well under the gap, plus
      // equal timestamps (the event id breaks those ties)
      val perUser = (0 until nUsers).flatMap { u =>
        var ts = rnd.nextInt(50).toLong
        (1 to (10 + rnd.nextInt(40))).map { _ =>
          ts += (rnd.nextInt(5) match {
            case 0 => 0L
            case 1 => gap
            case 2 => gap + 1
            case _ => 1L + rnd.nextInt(80)
          })
          (u.toLong, ts)
        }
      }
      // the stream delivers events in (ts, id) order across batches;
      // arrival within one batch is shuffled
      val events = rnd.shuffle(perUser).zipWithIndex
        .map { case ((u, ts), i) => (u, i.toLong, ts) }
        .sortBy(e => (e._3, e._2))
      val slices = randomSlices(events, rnd, maxChunks = 8).map(rnd.shuffle(_))
      val mem = MemoryStream[(Long, Long, Long)]
      val query = StatsOps.streamingSessions(
        mem.toDS().toDF("user_id", "event_id", "ts_us"), "user_id", "event_id", "ts_us", gap)
        .writeStream.format("memory").queryName(s"fuzz_sess_gap_$trial")
        .outputMode("append").start()
      slices.foreach { c => mem.addData(c); query.processAllAvailable() }
      val verdicts = sparkS.table(s"fuzz_sess_gap_$trial")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq.sorted
      query.stop()
      sparkS.catalog.dropTempView(s"fuzz_sess_gap_$trial")
      val expected = events.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        StatsOps.sessFold(SessState(Long.MinValue, -1L),
          rows.map(e => SessIn(e._1, e._2, e._3)), gap)._1
      }.map(v => (v.user_id, v.event_id, v.session_idx, v.is_new)).sorted
      withClue(s"trial $trial (${slices.size} slices, ${events.size} events): ") {
        verdicts shouldBe expected
        expected.map(_._3).max should be >= 1L
      }
      crossBatchFolds += events.groupBy(_._1).keys.count { u =>
        slices.count(_.exists(_._1 == u)) >= 2
      }
    }
    crossBatchFolds should be >= 10L
  }

  it should "emit CUSUM verdicts identically streaming vs the kernel's whole-stream replay" in {
    import graft.ops.StatsOps
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val (c, h) = (20L, 60L)
    var alarms = 0L
    var crossBatchFolds = 0L
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(14000 + trial)
      val nSources = 2 + rnd.nextInt(3)
      // token counts around the reference level, with bursts that drive
      // the statistic over the alarm threshold
      val docs: Seq[(Long, String, Long)] = (1 to (40 + rnd.nextInt(160))).map { i =>
        (i.toLong, s"src${rnd.nextInt(nSources)}",
          (if (rnd.nextInt(6) == 0) 40 + rnd.nextInt(40) else rnd.nextInt(35)).toLong)
      }
      // id-ordered across batches, shuffled within one
      val slices = randomSlices(docs, rnd, maxChunks = 8).map(rnd.shuffle(_))
      val mem = MemoryStream[(Long, String, Long)]
      val query = StatsOps.streamingCusum(
        mem.toDS().toDF("doc_id", "source", "n_tok"), "doc_id", "source", "n_tok", c, h)
        .writeStream.format("memory").queryName(s"fuzz_cusum_$trial")
        .outputMode("append").start()
      slices.foreach { s => mem.addData(s); query.processAllAvailable() }
      val verdicts = sparkS.table(s"fuzz_cusum_$trial")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toSeq.sortBy(_._1)
      query.stop()
      sparkS.catalog.dropTempView(s"fuzz_cusum_$trial")
      val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        val byId = rows.sortBy(_._1)
        byId.zip(StatsOps.cusumFold(0L, byId.map(_._3), c)._1).map { case (d, sv) =>
          (d._1, src, d._3, sv, sv >= h)
        }
      }.sortBy(_._1)
      withClue(s"trial $trial (${slices.size} slices, ${docs.size} docs): ") {
        verdicts shouldBe expected
      }
      alarms += expected.count(_._5)
      crossBatchFolds += docs.map(_._2).distinct.count { src =>
        slices.count(_.exists(_._2 == src)) >= 2
      }
    }
    alarms should be >= 3L
    crossBatchFolds should be >= 10L
  }

  it should "emit the same Misra-Gries snapshots when restarted from its checkpoint" in {
    import graft.ops.StatsOps
    import org.apache.spark.sql.{DataFrame, Row}
    import scala.jdk.CollectionConverters._
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val rnd = new scala.util.Random(15001)
    val events: Seq[(Long, String)] = (1 to 300).map { _ =>
      (rnd.nextInt(4).toLong, s"i${math.min(rnd.nextInt(8), rnd.nextInt(8))}")
    }
    val chunks = events.grouped(60).toSeq
    // stop the query before batch `restartAt` (none if negative) and
    // restart it on the same checkpoint; all rows its sink received
    def run(restartAt: Int): Seq[String] = KeyedCases.withCheckpoint { ckpt =>
      val mem = MemoryStream[(Long, String)]
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]
      def start() = StatsOps.streamingMisraGries(mem.toDF().toDF("user_id", "item"), "user_id", "item", 3)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(rows.add) }
        .start()
      var q = start()
      try chunks.zipWithIndex.foreach { case (chunk, i) =>
        if (i == restartAt) { q.stop(); q = start() }
        mem.addData(chunk)
        q.processAllAvailable()
      } finally q.stop()
      KeyedCases.canon(rows.asScala.toSeq)
    }
    val whole = run(-1)
    // one snapshot per (key, batch) that touched the key
    whole.size should be >= chunks.size * 2
    run(2) shouldBe whole
  }
}
