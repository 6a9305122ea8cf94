package graft.ops

import graft.cef.spark.Keyed
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-key weighted-sample snapshot emitted by
  * [[StatsOps.streamingWeightedSample]] each time a key appears in a
  * micro-batch. `ids`/`pris` are index-aligned and sorted by
  * (pri, id) ascending — the k current winners of the order sample.
  */
final case class WsSnap(
    user_id: Long,
    n_seen: Long,
    n_sample: Long,
    ids: Seq[Long],
    pris: Seq[Long])

/** GroupState for the streaming weighted sample: O(k) per key. */
final case class WsState(nSeen: Long, ids: Seq[Long], pris: Seq[Long])

/** Per-key Misra-Gries snapshot emitted by
  * [[StatsOps.streamingMisraGries]] each time a key appears in a
  * micro-batch. `items`/`cnts` are index-aligned, sorted by
  * (cnt desc, item) — the surviving counters after the batch's fold.
  */
final case class MgSnap(
    user_id: Long,
    n_seen: Long,
    items: Seq[String],
    cnts: Seq[Long])

/** GroupState for the streaming heavy-hitter fold: ≤ k counters. */
final case class MgState(nSeen: Long, items: Seq[String], cnts: Seq[Long])

/** Per-key histogram snapshot emitted by
  * [[StatsOps.streamingHistogram]] each time a key appears in a
  * micro-batch: the q fixed-resolution bucket counters after the
  * batch's fold.
  */
final case class QhSnap(user_id: Long, n_seen: Long, cnts: Seq[Long])

/** GroupState for the streaming histogram fold: exactly q counters. */
final case class QhState(nSeen: Long, cnts: Seq[Long])

/** Per-key decayed-counter snapshot emitted by
  * [[StatsOps.streamingDecay]] each time a key appears in a
  * micro-batch: the recency-weighted activity counters after the
  * batch's fold.
  */
final case class DecaySnap(user_id: Long, n_seen: Long, dec_cnt: Long, dec_sum: Long)

/** GroupState for the streaming decay fold: two counters per key. */
final case class DecayState(nSeen: Long, decCnt: Long, decSum: Long)

/** Weighted-sampling and corpus-statistics kernels.
  *
  * The batch side (p63) and the streaming side (cef46) share one
  * sampling design: Ohlsson's SEQUENTIAL POISSON (order) sampling —
  * each item draws priority u/w from a deterministic uniform
  * u = polyHash(id + seed) and weight w, and the sample is the k
  * smallest priorities. Inclusion probability is ≈ proportional to w
  * (exactly PPS as k/N → 0), the draw is reproducible across cluster
  * sizes and reruns, and "k smallest of a set" is associative and
  * commutative — so the same sample falls out of a per-partition top-k
  * (batch: TakeOrderedAndProject, no shuffle) or a cross-micro-batch
  * GroupState fold (streaming), however the data is split.
  *
  * Priorities are INTEGER: pri = (u * PriScale) div w. Both engines
  * (Spark and the DuckDB oracle) compute the identical bigint, so the
  * sample carries no float boundary; u < 2^30 and PriScale = 10^9 keep
  * u·PriScale < 2^60, far from bigint overflow.
  */
object StatsOps {

  /** Priority scale: u < HashMod ≈ 2^30, so u·PriScale < 2^60. */
  val PriScale = 1000000000L

  /** Fold one batch of (pri, id) pairs into the k smallest seen so far.
    * Associative + commutative (min-k of a set), so the streamed fold
    * equals the batch order sample for ANY micro-batch split —
    * StatsOpsSpec fuzzes arbitrary splits against the global top-k.
    * Ties break on id: (pri, id) lexicographic.
    */
  def mergeTopK(
      prev: Seq[(Long, Long)],
      batch: Iterable[(Long, Long)],
      k: Int): Seq[(Long, Long)] =
    (prev.toSet ++ batch).toSeq.sorted.take(k)

  /** One Misra-Gries reduction: if more than k counters survive, subtract
    * the (k+1)-th largest count from every counter and drop the
    * non-positives — the "Mergeable Summaries" (Agarwal et al., PODS'12)
    * merge rule, which preserves the MG guarantee
    * (true_count − total/(k+1) ≤ counter ≤ true_count) across folds.
    * The threshold is an order statistic of the COUNT multiset, so the
    * reduction is a pure deterministic function of the counts — no tie
    * ambiguity (equal counts at the boundary all drop to ≤ 0 together).
    * Output sorted by (cnt desc, item) for a stable snapshot.
    */
  def mgReduce(counts: Map[String, Long], k: Int): Seq[(String, Long)] = {
    val kept =
      if (counts.size <= k) counts.toSeq
      else {
        val t = counts.values.toSeq.sorted(Ordering[Long].reverse).apply(k)
        counts.toSeq.map { case (i, c) => (i, c - t) }.filter(_._2 > 0)
      }
    kept.sortBy { case (i, c) => (-c, i) }
  }

  /** Streaming per-key heavy hitters: fold each micro-batch's exact item
    * counts into a ≤ k-counter Misra-Gries summary per key (GroupState),
    * emitting a snapshot per touched key per batch. The batch side of
    * each fold is the key's EXACT count map for that micro-batch
    * (bounded by the batch's distinct items), so the result is a pure
    * deterministic function of the slice contents — the DuckDB oracle
    * replays the same fold with the slice rule (ntile over stream order)
    * and one reduction CTE per micro-batch.
    *
    * Scale shape: state is O(k) per key regardless of stream length or
    * item cardinality; the only shuffle is the stateful groupByKey.
    * Unlike the KMV/CM folds (cef43/cef45) this one is ORDER-dependent
    * across batches — which is exactly what it gates: the state must
    * round-trip every micro-batch boundary in sequence.
    */
  def streamingMisraGries(
      events: DataFrame,
      keyCol: String,
      itemCol: String,
      k: Int): Dataset[MgSnap] = {
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(itemCol).cast("string")).as[(Long, String)]
    Keyed.fold[Long, (Long, String), MgState, MgSnap](in)(_._1) { (key, prior, rows, emit) =>
      val prev = prior.getOrElse(MgState(0L, Nil, Nil))
      val counts = scala.collection.mutable.Map.empty[String, Long]
      prev.items.zip(prev.cnts).foreach { case (i, c) => counts(i) = c }
      var nNew = 0L
      rows.foreach { r =>
        counts(r._2) = counts.getOrElse(r._2, 0L) + 1L; nNew += 1
      }
      val merged = mgReduce(counts.toMap, k)
      val nSeen = prev.nSeen + nNew
      emit(MgSnap(key, nSeen, merged.map(_._1), merged.map(_._2)))
      MgState(nSeen, merged.map(_._1), merged.map(_._2))
    }
  }

  /** Streaming per-key weighted (order) sample: fold each micro-batch's
    * (pri, id) pairs into the k smallest per key (GroupState), emitting
    * a snapshot row per touched key per batch. The FINAL snapshot (max
    * n_seen per key) equals the batch sequential-Poisson sample over
    * the whole stream — what the driver's oracle checks — while the
    * intermediate snapshots prove the sample state round-trips
    * micro-batch boundaries (cef43's snapshot discipline, applied to a
    * reservoir instead of a distinct-count sketch).
    *
    * Scale shape: state is O(k) per key regardless of stream length;
    * the only shuffle is the groupByKey the stateful operator needs
    * anyway; a skewed key's micro-batch is folded in bounded chunks so
    * memory stays O(k + chunk).
    *
    * PRECONDITION (r10 advice): ids must be UNIQUE per key across the
    * whole stream. [[mergeTopK]] folds through a set, so a redelivered
    * (pri, id) pair collapses to one entry — i.e. the fold is
    * idempotent under at-least-once delivery, which is the desirable
    * semantics for a sample keyed by stable record ids — while a batch
    * replay that counts rows (e.g. a row_number oracle) would count
    * the duplicate twice and diverge. The driver oracle (cef46) is
    * sound because event_id is the events table's primary key.
    */
  def streamingWeightedSample(
      events: DataFrame,
      keyCol: String,
      idCol: String,
      priCol: String,
      k: Int): Dataset[WsSnap] = {
    import events.sparkSession.implicits._
    val in = events
      .select(col(keyCol).cast("long"), col(priCol).cast("long"), col(idCol).cast("long"))
      .as[(Long, Long, Long)]
    Keyed.fold[Long, (Long, Long, Long), WsState, WsSnap](in)(_._1) { (key, prior, rows, emit) =>
      val prev = prior.getOrElse(WsState(0L, Nil, Nil))
      var merged: Seq[(Long, Long)] = prev.pris.zip(prev.ids)
      var nNew = 0L
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      rows.foreach { r =>
        buf += ((r._2, r._3)); nNew += 1
        if (buf.size >= 4096) { merged = mergeTopK(merged, buf, k); buf.clear() }
      }
      if (buf.nonEmpty) merged = mergeTopK(merged, buf, k)
      val nSeen = prev.nSeen + nNew
      emit(WsSnap(key, nSeen, merged.size.toLong, merged.map(_._2), merged.map(_._1)))
      WsState(nSeen, merged.map(_._2), merged.map(_._1))
    }
  }

  /** One micro-batch of bucket indices folded into a q-cell histogram —
    * the pure kernel of [[streamingHistogram]], factored out so the
    * spec can fuzz arbitrary splits. Counter addition is associative
    * and commutative, so the streamed fold equals the whole-stream
    * histogram for ANY micro-batch split. Out-of-range buckets clamp
    * to the edge cells (the caller's bucketize rule should already
    * clamp; this keeps a stray row from throwing inside the fold).
    */
  def foldHistogram(prev: Seq[Long], batch: Iterable[Int], q: Int): Seq[Long] = {
    val cnts = if (prev.size == q) prev.toArray else Array.fill(q)(0L)
    batch.foreach { b => cnts(math.min(math.max(b, 0), q - 1)) += 1L }
    cnts.toSeq
  }

  /** One decay-fold step: halve the carried counters, add the batch's
    * exact totals. Integer halving truncates toward zero — identical
    * to DuckDB's `//` for the NON-NEGATIVE counters this op maintains
    * (callers must clamp the value column at 0; negative carries would
    * diverge between truncating and flooring division). One owner for
    * the rule so the streaming fold and its spec can never drift.
    */
  def decayStep(prev: DecayState, n: Long, s: Long): DecayState =
    DecayState(prev.nSeen + n, prev.decCnt / 2 + n, prev.decSum / 2 + s)

  /** Streaming per-key exponentially-decayed activity counters: on each
    * micro-batch that TOUCHES a key, the key's carried count/value-sum
    * halve and the batch's exact totals add on — an EWMA with α = 1/2
    * at micro-batch granularity, the recency-weighted rate estimate a
    * drift monitor reads next to cef49's full-history histogram. Decay
    * fires per OBSERVED batch of the key (flatMapGroupsWithState only
    * invokes groups present in the batch — an absent key's state is
    * untouched), and the oracle mirrors exactly that with a CASE per
    * merge CTE. All-integer state, so both engines agree bit-for-bit.
    *
    * Like the Misra-Gries fold (cef47) this is ORDER-dependent across
    * batches — it gates that GroupState round-trips every boundary in
    * sequence; skipping or reordering one batch shifts every halving.
    *
    * Scale shape: state is two longs per key; the only shuffle is the
    * stateful groupByKey; batch totals fold in O(batch) with no
    * buffering.
    */
  def streamingDecay(
      events: DataFrame,
      keyCol: String,
      valCol: String): Dataset[DecaySnap] = {
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(valCol).cast("long")).as[(Long, Long)]
    Keyed.fold[Long, (Long, Long), DecayState, DecaySnap](in)(_._1) { (key, prior, rows, emit) =>
      var n = 0L
      var s = 0L
      rows.foreach { r => n += 1; s += r._2 }
      val st = decayStep(prior.getOrElse(DecayState(0L, 0L, 0L)), n, s)
      emit(DecaySnap(key, st.nSeen, st.decCnt, st.decSum))
      st
    }
  }

  /** Streaming per-key fixed-resolution histogram: q bucket counters
    * per key folded through GroupState, emitting a snapshot per touched
    * key per batch — the batch histogram-quantile design (p65) as a
    * cross-batch state fold, completing the per-key sketch family
    * (KMV cef43, CM cef45, reservoir cef46, Misra-Gries cef47).
    * Quantiles read off the FINAL snapshot's cumulative counts are
    * exact for the bucketized distribution, whatever the split.
    *
    * Scale shape: state is O(q) per key regardless of stream length or
    * value range (the bucketize rule clamps); the only shuffle is the
    * stateful groupByKey; quantile extraction downstream touches q
    * rows per key, never the stream.
    */
  def streamingHistogram(
      events: DataFrame,
      keyCol: String,
      bucketCol: String,
      q: Int): Dataset[QhSnap] = {
    import events.sparkSession.implicits._
    val in = events.select(col(keyCol).cast("long"), col(bucketCol).cast("int")).as[(Long, Int)]
    Keyed.fold[Long, (Long, Int), QhState, QhSnap](in)(_._1) { (key, prior, rows, emit) =>
      val prev = prior.getOrElse(QhState(0L, Seq.fill(q)(0L)))
      var nNew = 0L
      val cnts = foldHistogram(prev.cnts, rows.map { r => nNew += 1; r._2 }.toSeq, q)
      val nSeen = prev.nSeen + nNew
      emit(QhSnap(key, nSeen, cnts))
      QhState(nSeen, cnts)
    }
  }

  // ------------------------------ robust per-group location statistics

  /** Exact per-group median, MAD and |x − med| > madK·MAD outlier count
    * from the BOUNDED (group, value) histogram (p93).
    *
    * Median = the value at rank (n+1)//2 of the ascending order (the
    * LOWER median — the rank formula itself is the contract; the p93
    * oracle replays it rather than calling an engine median, and
    * StatsOpsSpec pins it against a brute-force sort). MAD = the same
    * statistic over |value − median|.
    *
    * Scale shape: the corpus collapses map-side into (group, value)
    * histogram cells; everything after that runs over histogram rows
    * (distinct values × groups), never corpus rows — exact order
    * statistics with no global sort and no per-group corpus-sized
    * partitions. TWO passes total (the r15 fusion; the r14 shape ran a
    * separate n-aggregate, a median window, a mad window, and an
    * outlier aggregate — four jobs for a 20-row result): the value
    * histogram is persisted (it feeds both passes), the deviation
    * histogram is consumed exactly once and never materialized.
    *
    *  - pass 1, one window job over the value histogram: the running
    *    count in value order plus per-key n and sv as whole-partition
    *    frames over the SAME sort → n, sv, med in one aggregate;
    *  - pass 2, one window job over the deviation histogram: the
    *    running count picks the MAD rank, a whole-partition min
    *    broadcasts it to every cell (no re-shuffle — same key
    *    partitioning), and the closing aggregate folds the outlier
    *    count against it.
    *
    * Output: keyCol, n, sv (sum of values — free from the histogram, so
    * consumers like p100 don't pay a separate corpus scan for it), med,
    * mad, n_out.
    */
  def groupedMedianMadOutliers(
      rows: DataFrame, keyCol: String, valCol: String, madK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = rows.groupBy(col(keyCol), col(valCol)).agg(count(lit(1)).as("c"))
    val hCp = Release.afterFirstUse(h)
    val wc = Window.partitionBy(col(keyCol)).orderBy(col(valCol))
    val wk = Window.partitionBy(col(keyCol))
    val med = hCp
      .withColumn("cc", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wk))
      .withColumn("sv", sum(col(valCol) * col("c")).over(wk))
      .filter(col("cc") >= expr("(n + 1) div 2"))
      .groupBy(col(keyCol))
      .agg(first(col("n")).as("n"), first(col("sv")).as("sv"),
        min(col(valCol)).as("med"))
    val wd = Window.partitionBy(col(keyCol)).orderBy(col("dev"))
    hCp.join(broadcast(med), keyCol)
      .withColumn("dev", abs(col(valCol) - col("med")))
      .groupBy(col(keyCol), col("dev"))
      .agg(sum(col("c")).as("c"), first(col("n")).as("n"),
        first(col("sv")).as("sv"), first(col("med")).as("med"))
      .withColumn("cc", sum(col("c")).over(wd))
      .withColumn("mad",
        min(when(col("cc") >= expr("(n + 1) div 2"), col("dev"))).over(wk))
      .groupBy(col(keyCol))
      .agg(first(col("n")).as("n"), first(col("sv")).as("sv"),
        first(col("med")).as("med"), first(col("mad")).as("mad"),
        coalesce(sum(when(col("dev") > col("mad") * madK, col("c"))), lit(0L))
          .as("n_out"))
  }

  // ------------------------------------------------ streaming CUSUM

  /** Pure one-sided CUSUM fold (Page '54): walk `xs` in order with
    * S ← max(0, S + x − c), returning the per-step statistics and the
    * carry-out state. Splitting a sequence at ANY boundary and folding
    * the pieces through the carried state reproduces the single-pass
    * values exactly — the property StatsOpsSpec fuzzes and the p120
    * gate certifies through real micro-batch boundaries.
    */
  private[graft] def cusumFold(s0: Long, xs: Seq[Long], c: Long): (Seq[Long], Long) = {
    var sAcc = s0
    val out = xs.map { x =>
      sAcc = math.max(0L, sAcc + x - c)
      sAcc
    }
    (out, sAcc)
  }

  /** Pure gap-sessionization fold: walk `batch` (already in (ts, id)
    * order) from `st`, opening a new session whenever the gap to the
    * previous event exceeds `gapUs`. Split-invariant through the
    * carried state (StatsOpsSpec fuzzes; cef54 certifies through real
    * micro-batch boundaries).
    */
  private[graft] def sessFold(
      st0: SessState, batch: Seq[SessIn], gapUs: Long): (Seq[SessVerdict], SessState) = {
    var st = st0
    val out = batch.map { e =>
      val isNew = st.sessIdx < 0 || e.ts_us - st.lastTs > gapUs
      val idx = if (isNew) st.sessIdx + 1 else st.sessIdx
      st = SessState(e.ts_us, idx)
      SessVerdict(e.user_id, e.event_id, idx, isNew)
    }
    (out, st)
  }

  /** Streaming gap sessionization (episode assembly at ingest — the
    * "cut interaction logs into training conversations" op): per user,
    * an event starts a NEW session iff it is the user's first or the
    * gap to the previous event exceeds `gapUs`. State is TWO longs per
    * user; each event's verdict is emitted the moment it arrives. The
    * stream delivers events in (ts, event_id) order across batches
    * (the scaffold's slice discipline), so the assignment equals the
    * batch gaps-and-islands closed form (lag + running sum of breaks)
    * however the stream is sliced.
    */
  def streamingSessions(
      events: DataFrame,
      keyCol: String,
      idCol: String,
      tsUsCol: String,
      gapUs: Long): Dataset[SessVerdict] = {
    import events.sparkSession.implicits._
    val in = events
      .select(col(keyCol).cast("long").as("user_id"),
        col(idCol).cast("long").as("event_id"),
        col(tsUsCol).cast("long").as("ts_us"))
      .as[SessIn]
    Keyed.fold[Long, SessIn, SessState, SessVerdict](in)(_.user_id) { (_, prior, rows, emit) =>
      val batch = rows.toArray.sortBy(r => (r.ts_us, r.event_id)).toSeq
      val (out, st1) = sessFold(prior.getOrElse(SessState(Long.MinValue, -1L)), batch, gapUs)
      out.foreach(emit)
      st1
    }
  }

  /** Streaming ingest-order CUSUM changepoint gate (the p118 batch
    * audit made decision-at-ingest): one long of state per source, a
    * verdict row per document. The reference level `c` is a FIXED
    * deployment knob here — a stream cannot know the corpus mean the
    * batch audit derives — which is the honest difference between the
    * two registrations. Batch rows are sorted by doc id before folding
    * (the streamingTokenQuota discipline), so the verdicts equal the
    * batch closed form P − min(0, running_min(P)) however the stream
    * is sliced.
    */
  def streamingCusum(
      docs: DataFrame,
      idCol: String,
      srcCol: String,
      nTokCol: String,
      c: Long,
      h: Long): Dataset[CusumVerdict] = {
    import docs.sparkSession.implicits._
    val in = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(srcCol).cast("string").as("source"),
        col(nTokCol).cast("long").as("n_tok"))
      .as[CusumIn]
    Keyed.fold[String, CusumIn, Long, CusumVerdict](in)(_.source) { (source, prior, rows, emit) =>
      val batch = rows.toArray.sortBy(_.doc_id)
      val (vals, s1) = cusumFold(prior.getOrElse(0L), batch.map(_.n_tok).toSeq, c)
      batch.iterator.zip(vals.iterator).foreach { case (d, sv) =>
        emit(CusumVerdict(d.doc_id, source, d.n_tok, sv, sv >= h))
      }
      s1
    }
  }
}

/** Per-doc streaming CUSUM verdict emitted by [[StatsOps.streamingCusum]]. */
final case class CusumVerdict(
    doc_id: Long, source: String, n_tok: Long, cusum: Long, alarm: Boolean)

private[graft] final case class CusumIn(doc_id: Long, source: String, n_tok: Long)

/** Per-event session assignment emitted by [[StatsOps.streamingSessions]]. */
final case class SessVerdict(
    user_id: Long, event_id: Long, session_idx: Long, is_new: Boolean)

private[graft] final case class SessIn(user_id: Long, event_id: Long, ts_us: Long)

/** GroupState for gap sessionization: the last event time and the
  * current session ordinal — two longs per key at any stream length.
  */
final case class SessState(lastTs: Long, sessIdx: Long)
