package graft.ops

import graft.cef.spark.Keyed
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftexpr.VectorKernel

/** Per-key KMV snapshot emitted by [[SketchOps.streamingKmv]] each time a
  * micro-batch touches the key; the final snapshot (max `n_seen`) is the
  * full-stream estimate.
  */
final case class KmvSnap(
    user_id: Long, n_seen: Long, n_sample: Long, kth_min: Long, est_distinct: Long)

/** Cross-batch KMV accumulator: total events seen + the k smallest
  * DISTINCT hashes so far (ascending). Merging per batch is safe under
  * any batch split: the kept set only ever shrinks toward the true k
  * minima — an element dropped for being above the current kth-smallest
  * can never re-enter the k minima later.
  */
final case class KmvState(nSeen: Long, mins: Seq[Long])

/** Distributed probabilistic-sketch operators shared by the batch
  * queries (p34/p35/p37/p38) and the streaming gate (cef43).
  *
  * Everything here is DETERMINISTIC — fixed seeds, integer-only
  * arithmetic — so a DuckDB oracle can replay the exact formulas. The
  * 100 TB story is the classic sketch one: per-partition partial
  * aggregation into constant-size state (registers / k-min lists /
  * bit-sets), one shuffle of sketch-sized rows, never of the corpus.
  */
object SketchOps {

  // ---------------------------------------------------------------- bloom
  /** Bloom parameters: m = 4096 bits, 3 universal hashes
    * (h*a + b) % M % m with fixed odd multipliers. h < M ≈ 2³⁰ and
    * a < 2¹⁰ keep h*a far below 2⁶³ (DuckDB errors on overflow).
    */
  val BloomBits = 4096
  val BloomSeeds: Seq[(Long, Long)] = Seq((131L, 911L), (197L, 457L), (271L, 313L))

  /** The 3 bit positions of one element hash. */
  def bloomPositions(h: Column): Column = array(BloomSeeds.map { case (a, b) =>
    pmod(pmod(h * a + b, lit(TextOps.HashMod)), lit(BloomBits.toLong))
  }: _*)

  /** SQL twin of [[bloomPositions]]: a DuckDB list literal expression
    * over hash column expression `h`.
    */
  def bloomPositionsSql(h: String): String =
    BloomSeeds.map { case (a, b) =>
      s"(($h * $a + $b) % ${TextOps.HashMod}) % $BloomBits"
    }.mkString("[", ", ", "]")

  /** [[bloomPositions]] with an explicit table size (the ingest gate
    * sizes its filter to the existing-corpus key count rather than the
    * benchmark-shingle default).
    */
  def bloomPositionsM(h: Column, m: Int): Column = array(BloomSeeds.map { case (a, b) =>
    pmod(pmod(h * a + b, lit(TextOps.HashMod)), lit(m.toLong))
  }: _*)

  def bloomPositionsMSql(h: String, m: Int): String =
    BloomSeeds.map { case (a, b) =>
      s"(($h * $a + $b) % ${TextOps.HashMod}) % $m"
    }.mkString("[", ", ", "]")

  // ---------------------------------------------------------------- hll
  /** HLL parameters: m = 32 registers over the ~2³⁰ hash space.
    * register = h % 32; the remaining value w = h div 32 < 2²⁵, so its
    * rank rho = (leading zeros in 25 bits) + 1 = 26 - bitlength(w),
    * with the all-zero w pinned to 26. bitlength via `bin()` string
    * length — identical minimal-binary semantics in Spark and DuckDB —
    * keeps the whole estimator in BIGINT arithmetic (no float log2,
    * which the two engines could round differently at powers of two).
    */
  val HllM = 32
  val HllRhoMax = 26
  /** alpha_32 = 0.697 as the exact rational 697/1000 on both engines. */
  val HllAlphaNum = 697L
  val HllAlphaDen = 1000L

  /** rho(h) in [1, 26]: floor(h / 32) is exact in double below 2³⁰. */
  def hllRho(h: Column): Column = {
    val w = floor(h / lit(HllM)).cast("long")
    when(w === 0L, lit(HllRhoMax)).otherwise(lit(HllRhoMax) - length(bin(w)))
  }

  def hllRegister(h: Column): Column = pmod(h, lit(HllM.toLong))

  /** SQL twins over hash expression `h`. */
  def hllRhoSql(h: String): String =
    s"(CASE WHEN CAST(floor(($h) / $HllM) AS BIGINT) = 0 THEN $HllRhoMax " +
      s"ELSE $HllRhoMax - length(bin(CAST(floor(($h) / $HllM) AS BIGINT))) END)"
  def hllRegisterSql(h: String): String = s"(($h) % $HllM)"

  /** Fold one batch of hashes into the k smallest distinct seen so far.
    * Associative-safe under any stream batching (KmvSpec proves the
    * fold equals the global k-min for arbitrary splits).
    */
  def mergeKMins(prev: Seq[Long], hs: Iterable[Long], k: Int): Seq[Long] =
    (prev.toSet ++ hs).toSeq.sorted.take(k)

  // ------------------------------------------------------------ streaming
  /** Streaming KMV distinct-count: per key, fold each micro-batch's
    * hashes into the k smallest distinct seen so far (GroupState), and
    * emit a snapshot row per touched key per batch. The FINAL snapshot
    * (max n_seen per key) equals the batch KMV over the whole stream —
    * what the driver's oracle checks — while the intermediate snapshots
    * prove the state round-trips micro-batch boundaries.
    *
    * Scale shape: state is O(k) per key regardless of stream length;
    * the only shuffle is the groupByKey the stateful operator needs
    * anyway. The reference keeps per-key run state the same way
    * (WayebEngine.java:276-287); this is that machinery applied to an
    * aggregation sketch instead of an automaton run.
    */
  def streamingKmv(events: DataFrame, keyCol: String, hashCol: String, k: Int): Dataset[KmvSnap] = {
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(hashCol).cast("long")).as[(Long, Long)]
    Keyed.fold[Long, (Long, Long), KmvState, KmvSnap](in)(_._1) { (key, prior, rows, emit) =>
      val prev = prior.getOrElse(KmvState(0L, Nil))
      // chunked fold: a skewed key's whole micro-batch never
      // materializes — memory is O(k + chunk) however many events
      // the batch delivers to this key
      var merged = prev.mins
      var nNew = 0L
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.foreach { r =>
        buf += r._2; nNew += 1
        if (buf.size >= 4096) { merged = mergeKMins(merged, buf, k); buf.clear() }
      }
      if (buf.nonEmpty) merged = mergeKMins(merged, buf, k)
      val nSeen = prev.nSeen + nNew
      val nSample = merged.size.toLong
      val kth = if (merged.isEmpty) 0L else merged.last
      val est =
        if (nSample < k) nSample
        else (k - 1).toLong * TextOps.HashMod / kth
      emit(KmvSnap(key, nSeen, nSample, kth, est))
      KmvState(nSeen, merged)
    }
  }

  // ------------------------------- streaming per-key Count-Min (cef45)

  /** One probe estimate from a per-key CM snapshot — emitted per
    * micro-batch per probe; the max-n_seen row is the full-stream
    * answer (cef43's snapshot discipline).
    */
  final case class CmPointSnap(user_id: Long, n_seen: Long, probe: Long, est_cnt: Long)

  /** Per-key CM accumulator: rows×width counts, flattened. CM updates
    * are sums, so folding per micro-batch is exactly associative — the
    * streamed sketch equals the batch sketch however the stream is
    * sliced (the property the oracle certifies).
    */
  final case class CmFoldState(nSeen: Long, counts: Seq[Long])

  /** Streaming per-key Count-Min with fixed point-query probes: the
    * GroupState holds one rows×width table per key (constant-size,
    * corpus-independent — the sketch contract), each micro-batch folds
    * its items in, and every batch emits the probes' min-of-rows
    * estimates. `hashCol` must carry the same item hash the oracle
    * recomputes; `probeHashes` aligns with `probes` index-wise.
    */
  def streamingCmPoints(
      events: DataFrame,
      keyCol: String,
      hashCol: String,
      probes: Seq[Long],
      probeHashes: Seq[Long],
      seeds: Seq[(Long, Long)],
      width: Int): Dataset[CmPointSnap] = {
    require(probes.size == probeHashes.size)
    import events.sparkSession.implicits._
    val rows = seeds.size
    def cell(h: Long, r: Int): Int =
      (((h * seeds(r)._1 + seeds(r)._2) % TextOps.HashMod) % width).toInt
    val probeCells = probeHashes.map(h => Array.tabulate(rows)(r => cell(h, r)))
    val in = events.select(col(keyCol).cast("long"), col(hashCol).cast("long")).as[(Long, Long)]
    Keyed.fold[Long, (Long, Long), CmFoldState, CmPointSnap](in)(_._1) { (key, prior, it, emit) =>
      val prev = prior.getOrElse(CmFoldState(0L, Seq.fill(rows * width)(0L)))
      val counts = prev.counts.toArray
      var n = prev.nSeen
      it.foreach { case (_, h) =>
        var r = 0
        while (r < rows) { counts(r * width + cell(h, r)) += 1; r += 1 }
        n += 1
      }
      probes.iterator.zip(probeCells.iterator).foreach { case (p, cells) =>
        var est = Long.MaxValue
        var r = 0
        while (r < rows) { est = math.min(est, counts(r * width + cells(r))); r += 1 }
        emit(CmPointSnap(key, n, p, est))
      }
      CmFoldState(n, counts.toSeq)
    }
  }

  // ------------------------------------- sketch-pruned exact heavy hitters

  /** φ-heavy hitters with a Count-Min candidate filter (Cormode &
    * Muthukrishnan 2005): an item is heavy iff count·denom > N. Phase 1
    * builds the CM sketch (one shuffle of ≤ rows×width cells) and
    * collects it — sketch-sized driver state, the same footprint class
    * as the BPE argmax / perceptron weights. Phase 2 re-scans the
    * occurrences with the sketch embedded as ARRAY LITERALS: each
    * occurrence's min-of-rows estimate is a pure map-side lookup, and
    * only occurrences whose estimate clears the threshold reach the
    * exact-count shuffle. CM never undercounts, so the filter has NO
    * false negatives — the output is exactly the heavy set plus the
    * sketch's (visible, flagged) false positives.
    *
    * The 100 TB story: the exact-count groupBy — the step that explodes
    * on a distinct-unbounded n-gram universe — only ever sees candidate
    * occurrences (≤ rows·N/threshold distinct keys by the CM bound);
    * everything else is map work against broadcast-sized literals.
    *
    * @param grams one row per occurrence, column `ngram`
    * @param denom heaviness denominator: heavy ⇔ cnt·denom > N
    */
  def cmHeavyHitters(
      grams: DataFrame,
      denom: Long,
      seeds: Seq[(Long, Long)],
      width: Int): DataFrame = {
    // two streaming passes over the occurrences, NO cache: at corpus
    // scale the occurrence table is exactly the thing you cannot pin,
    // and the second (candidate-filtered) pass is the designed phase 2
    val g = grams.select(col("ngram"), TextOps.polyHash(col("ngram")).as("h"))
    def bucket(h: Column, a: Long, b: Long): Column =
      pmod(pmod(h * a + b, lit(TextOps.HashMod)), lit(width.toLong))
    val skRows = g
      .select(posexplode(array(seeds.map { case (a, b) => bucket(col("h"), a, b) }: _*))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect()
    val tables = Array.fill(seeds.size)(Array.fill(width)(0L))
    skRows.foreach(r => tables(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    // every occurrence lands in exactly one cell of each row, so N is
    // any single row's total — no extra count() job over the corpus
    val n = tables(0).sum
    val est = least(seeds.zipWithIndex.map { case ((a, b), r) =>
      element_at(typedLit(tables(r).toSeq), (bucket(col("h"), a, b) + 1).cast("int"))
    }: _*)
    g.withColumn("est", est)
      .filter(col("est") * denom > n)
      .groupBy(col("ngram"))
      .agg(min(col("est")).as("est_cnt"), count(lit(1)).as("exact_cnt"))
      .select(col("ngram"), col("est_cnt"), col("exact_cnt"),
        (col("exact_cnt") * denom > n).as("is_heavy"))
  }

  // --------------------------------- streaming per-key Bloom (cef53)

  /** JVM twin of [[bloomPositions]] for probe precompute and specs. */
  def bloomPositionsJvm(h: Long): Seq[Int] =
    BloomSeeds.map { case (a, b) => ((h * a + b) % TextOps.HashMod % BloomBits).toInt }

  /** One per-probe membership snapshot per touched key per micro-batch
    * (cef45's probe discipline applied to the bit-set sketch).
    */
  final case class BloomPointSnap(
      user_id: Long, n_seen: Long, n_bits: Long, probe: Long, hit: Boolean)

  final case class BloomFoldState(nSeen: Long, words: Seq[Long])

  /** Fold one batch of item hashes into the 4096-bit set IN PLACE.
    * Bitwise OR is associative/commutative/idempotent — the streamed
    * filter equals the batch filter under any slicing (SketchSpec).
    */
  def foldBloom(words: Array[Long], hs: Iterator[Long]): Long = {
    var n = 0L
    hs.foreach { h =>
      bloomPositionsJvm(h).foreach { p =>
        words(p >> 6) |= (1L << (p & 63))
      }
      n += 1
    }
    n
  }

  /** Streaming per-key Bloom filter with fixed membership probes: the
    * GroupState holds one BloomBits-bit set per key (64 longs —
    * constant-size, the sketch contract), each micro-batch ORs its
    * items' positions in, and every batch emits each probe's
    * membership verdict plus the live bit count. OR is exactly
    * associative, so the streamed filter equals the batch filter
    * however the stream is sliced — which the oracle (p37's Bloom
    * arithmetic restated per key) certifies through ≥3 real
    * micro-batches. Probes mix present and absent value-buckets so
    * both the hit and the miss path cross batch boundaries.
    */
  def streamingBloomPoints(
      events: DataFrame,
      keyCol: String,
      hashCol: String,
      probes: Seq[Long],
      probeHashes: Seq[Long]): Dataset[BloomPointSnap] = {
    require(probes.size == probeHashes.size)
    val probePos: Seq[(Long, Seq[Int])] =
      probes.zip(probeHashes.map(bloomPositionsJvm))
    val words = BloomBits / 64
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(hashCol).cast("long")).as[(Long, Long)]
    Keyed.fold[Long, (Long, Long), BloomFoldState, BloomPointSnap](in)(_._1) {
      (key, prior, rows, emit) =>
        val prev = prior.getOrElse(BloomFoldState(0L, Seq.fill(words)(0L)))
        val bits = prev.words.toArray
        val nNew = foldBloom(bits, rows.map(_._2))
        val nSeen = prev.nSeen + nNew
        val nBits = bits.map(java.lang.Long.bitCount).sum.toLong
        probePos.foreach { case (p, pos) =>
          val hit = pos.forall(i => (bits(i >> 6) & (1L << (i & 63))) != 0L)
          emit(BloomPointSnap(key, nSeen, nBits, p, hit))
        }
        BloomFoldState(nSeen, bits.toSeq)
    }
  }

  // ------------------------------- streaming per-key MinHash (cef51)

  /** Streaming per-key MinHash signature: the GroupState holds one
    * `lanes`-wide vector of per-permutation minima (the same universal
    * hash family as [[DedupOps.MinHashA]]/[[MinHashB]], first `lanes`
    * coefficients), each micro-batch folds its item hashes in with an
    * elementwise min, and every batch emits a snapshot carrying the
    * signature. Elementwise min is exactly associative and commutative,
    * so the streamed signature equals the batch signature however the
    * stream is sliced — MinHashFoldSpec fuzzes arbitrary splits.
    *
    * Scale shape: state is O(lanes) per key regardless of stream
    * length; per-item work is O(lanes) multiplies; the only shuffle is
    * the stateful operator's own groupByKey. Unlike KMV (one global
    * k-min order statistic), the lanes make the signature usable for
    * cross-key SIMILARITY — the cef51 gate estimates each key's Jaccard
    * overlap with the global item set from it.
    */
  final case class MhState(nSeen: Long, mins: Seq[Long])
  final case class MhSnap(user_id: Long, n_seen: Long, sig: Seq[Long])

  /** Fold one batch of item hashes into the per-lane minima IN PLACE.
    * Elementwise min is associative/commutative/idempotent, so any
    * batching of the stream yields the same signature (SketchSpec
    * fuzzes arbitrary splits against the one-batch fold).
    */
  def foldMinHash(mins: Array[Long], hs: Iterator[Long], as: Array[Long],
      bs: Array[Long], mod: Long): Long = {
    var n = 0L
    hs.foreach { h => VectorKernel.minHashLanes(mins, h, as, bs, mod); n += 1 }
    n
  }

  def streamingMinHash(
      events: DataFrame, keyCol: String, hashCol: String, lanes: Int): Dataset[MhSnap] = {
    val as = DedupOps.MinHashA.take(lanes).toArray
    val bs = DedupOps.MinHashB.take(lanes).toArray
    val mod = TextOps.HashMod
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(hashCol).cast("long")).as[(Long, Long)]
    Keyed.fold[Long, (Long, Long), MhState, MhSnap](in)(_._1) { (key, prior, rows, emit) =>
      val prev = prior.getOrElse(MhState(0L, Seq.fill(lanes)(mod)))
      val mins = prev.mins.toArray
      val nNew = foldMinHash(mins, rows.map(_._2), as, bs, mod)
      val nSeen = prev.nSeen + nNew
      emit(MhSnap(key, nSeen, mins.toSeq))
      MhState(nSeen, mins.toSeq)
    }
  }

  // ----------------------------------- streaming per-key HLL (cef52)

  /** Streaming per-key HyperLogLog: the GroupState holds [[HllM]]
    * registers (max-rho per register, 0 = never hit; a real hit's rho
    * is ≥ 1 by construction — w < HashMod/HllM keeps bin(w) ≤ 25
    * digits), each micro-batch folds its item hashes in with a
    * register-wise max, and every batch emits the p38 summary
    * (n_regs_hit, s_scaled, est_hll) from the current registers.
    * Register max is exactly associative, so the streamed registers
    * equal the batch registers under any slicing (HllFoldSpec).
    */
  final case class HllState(nSeen: Long, regs: Seq[Long])
  final case class HllSnap(
      user_id: Long, n_seen: Long, n_regs_hit: Long, s_scaled: Long, est_hll: Long)

  /** JVM twin of the hllRegister/hllRho Column pair (register index and
    * rank of one hash) — the streaming fold and the specs share it.
    */
  def hllRegRho(h: Long): (Int, Long) = {
    val reg = (h % HllM).toInt
    val w = h / HllM
    val rho = if (w == 0L) HllRhoMax.toLong
      else (HllRhoMax - java.lang.Long.toBinaryString(w).length).toLong
    (reg, rho)
  }

  /** Fold one batch of item hashes into the registers IN PLACE.
    * Register-wise max is associative/commutative/idempotent — any
    * batching yields the same registers (SketchSpec fuzzes splits).
    */
  def foldHll(regs: Array[Long], hs: Iterator[Long]): Long = {
    var n = 0L
    hs.foreach { h =>
      val (reg, rho) = hllRegRho(h)
      if (rho > regs(reg)) regs(reg) = rho
      n += 1
    }
    n
  }

  def hllSummary(key: Long, nSeen: Long, regs: Array[Long]): HllSnap = {
    val twoPow = 1L << HllRhoMax
    var hit = 0L
    var sHit = 0L
    var i = 0
    while (i < HllM) {
      if (regs(i) > 0L) { hit += 1; sHit += 1L << (HllRhoMax - regs(i).toInt) }
      i += 1
    }
    val sScaled = sHit + (HllM - hit) * twoPow
    val num = HllAlphaNum * HllM * HllM * twoPow
    HllSnap(key, nSeen, hit, sScaled, num / (HllAlphaDen * sScaled))
  }

  def streamingHll(events: DataFrame, keyCol: String, hashCol: String): Dataset[HllSnap] = {
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(hashCol).cast("long")).as[(Long, Long)]
    Keyed.fold[Long, (Long, Long), HllState, HllSnap](in)(_._1) { (key, prior, rows, emit) =>
      val prev = prior.getOrElse(HllState(0L, Seq.fill(HllM)(0L)))
      val regs = prev.regs.toArray
      val nNew = foldHll(regs, rows.map(_._2))
      val nSeen = prev.nSeen + nNew
      emit(hllSummary(key, nSeen, regs))
      HllState(nSeen, regs.toSeq)
    }
  }
}
