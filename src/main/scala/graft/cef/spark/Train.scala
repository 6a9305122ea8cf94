package graft.cef.spark

import graft.cef._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Distributed model training (reference SURVEY.md §2.7 T1-T3).
  *
  * The reference replays the training stream single-threaded to build one
  * CounterSuffixTree (VMMUtils.scala:308-424) and to count SDFA transitions
  * for the MLE matrix (MLEEstimator.scala:26-160). Here both become genuine
  * Spark aggregations:
  *
  *   - CST: per key, emit the symbol window ending at every position
  *     (length ≤ order+1), then ONE groupBy(window).count — an n-gram count,
  *     the canonical map-side-combinable aggregation. The tiny distinct-
  *     window result set is collected and folded into a driver-side CST.
  *   - MLE: per key, emit (state, nextState) transitions, groupBy.count.
  *
  * Both scale: the shuffle carries (window → partial count) pairs, bounded
  * by the alphabet size and order, not by the data volume.
  */
object Train {

  implicit private val wcEnc: Encoder[WindowCount] = Encoders.product[WindowCount]
  implicit private val wEnc: Encoder[SymbolWindow] = Encoders.product[SymbolWindow]
  implicit private val pairEnc: Encoder[(Int, Int)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)

  /** Count symbol windows of length ≤ maxLen per partition key. */
  def countWindows(events: Dataset[CEvent], cp: CompiledPattern, maxLen: Int): Dataset[WindowCount] = {
    val iso = cp.iso
    Keyed.scan(events)(_ => new SymbolBuffer(maxLen)) { (buf, e) =>
      if (e.isReset) { buf.clear(); Iterator.empty }
      else {
        val sym = iso.evaluate(e)
        if (sym < 0) Iterator.empty
        else { buf.push(sym); Iterator.single(SymbolWindow(buf.pop)) }
      }
    }
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .as[WindowCount]
  }

  /** Build the driver-side CST from the aggregated window counts. */
  def cstFromCounts(counts: Iterable[WindowCount]): Cst = {
    val cst = new Cst
    counts.foreach { wc => cst.add(wc.word.toList, wc.n) }
    cst
  }

  /** T1: full learnSPST pipeline — distributed window counts → driver-side
    * PST learning → SPST product model (reference SPSTTask.scala:70-85).
    */
  def learnSpst(
      events: Dataset[CEvent],
      cp: CompiledPattern,
      order: Int,
      pMin: Double = 0.001,
      alpha: Double = 0.05,
      gammaMin: Double = 0.001,
      r: Double = 1.05): Spst = {
    val counts = countWindows(events, cp, order + 1).collect()
    val cst = cstFromCounts(counts)
    val pst = PstLearner.learn(cst, order, pMin, alpha, gammaMin, r)
    Spst(cp.sdfa, pst, order)
  }

  /** T1 for REGISTER patterns (SPSTm parity, reference SPSTmTask.scala):
    * symbolize the stream through the DSRA runtime's observable trace
    * ([[Detect.dsraTrace]]), count symbol n-grams per key, learn the PST
    * on the driver and pair it with the anchor-age abstraction of the
    * pattern's window — exact event counts for count windows, `grid`-
    * bucketed event time for time windows (the reference's SPSTm path is
    * window-kind-agnostic). The per-key trace is a distributed scan
    * (same secondary-sort shape as detection); the n-gram windows come
    * from lag() over the trace, so the shuffle carries only (window →
    * partial count) pairs — alphabet³-bounded, like [[countWindows]].
    */
  def learnSpstm(
      events: Dataset[CEvent],
      cp: CompiledPattern,
      order: Int,
      grid: Long = 0L,
      pMin: Double = 0.001,
      alpha: Double = 0.05,
      gammaMin: Double = 0.001,
      r: Double = 1.05): SpstM = {
    val trace = Detect.dsraTrace(events, cp, grid)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition")).orderBy(col("counter"))
    // growing-buffer windows (most-recent-first), exactly countWindows'
    // SymbolBuffer semantics: position 1 emits [s], position 2 [s, s1], …
    val lags = (1 to order).map(i => lag(col("symbol"), i).over(wk).as(s"s$i"))
    def wordOf(len: Int) = array(col("symbol") +: (1 to len).map(i => col(s"s$i")): _*)
    val wordCol =
      if (order == 0) wordOf(0)
      else {
        var c = when(col(s"s$order").isNotNull, wordOf(order))
        for (len <- order - 1 to 1 by -1)
          c = c.when(col(s"s$len").isNotNull, wordOf(len))
        c.otherwise(wordOf(0))
      }
    val counts = trace.toDF()
      .select(col("symbol") +: lags: _*)
      .select(wordCol.as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .as[WindowCount]
      .collect()
    val pst = PstLearner.learn(cstFromCounts(counts), order, pMin, alpha, gammaMin, r)
    val cells =
      if (cp.windowKind == WindowKind.Time) (cp.window / grid).toInt
      else cp.window.toInt
    val (delta, hit) = SpstM.anchorAgeTables(cells)
    SpstM(pst, order, delta, hit)
  }

  /** T6: maximum-order selection by held-out log-loss cross-validation as
    * a DISTRIBUTED computation — the driver-checkable face of
    * [[graft.cef.OrderEstimator]] (reference estimator/OrderEstimator):
    * per-key 80/20 PREFIX split in stream order, train-region n-gram
    * counts and grouped test trigrams each one alphabet³-bounded shuffle,
    * then a PST per candidate order and a ≤|Σ|³-term loss fold on the
    * driver. The stream itself never leaves the executors — only
    * (window → count) pairs do, so the shape survives any data volume.
    *
    * Returns (order, pstLeaves, heldOutLogLossPerSymbol) for
    * m = 0..maxOrder; test contexts are truncated to each m and to
    * whatever prefix exists at per-key stream starts, exactly like the
    * in-memory estimator's sliding buffer.
    */
  def orderCv(
      events: Dataset[CEvent],
      cp: CompiledPattern,
      maxOrder: Int = 2,
      trainFraction: Double = 0.8,
      pMin: Double = 0.001,
      alpha: Double = 0.05,
      gammaMin: Double = 0.001,
      r: Double = 1.05): Seq[(Int, Int, Double)] = {
    require(maxOrder <= 2, "the grouped-trigram loss carries context up to length 2")
    val iso = cp.iso
    implicit val symEnc: Encoder[(String, Long, Long, Int)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user")).orderBy(col("ts"), col("id"))
    val wu = org.apache.spark.sql.expressions.Window.partitionBy(col("user"))
    val w = events
      .map(e => (e.partition, e.timestamp, e.id, iso.evaluate(e)))
      .toDF("user", "ts", "id", "s")
      .filter(col("s") >= 0)
      .select(col("user"), col("s"),
        row_number().over(wk).as("rn"),
        floor(count(lit(1)).over(wu) * lit(trainFraction)).as("cut"),
        lag(col("s"), 1).over(wk).as("s1"),
        lag(col("s"), 2).over(wk).as("s2"))
    // ONE aggregation produces both count sets (train flag in the key):
    // a second scan+shuffle of the corpus for the test triples would
    // double the dominant cost at scale
    val allCounts = w
      .groupBy((col("rn") <= col("cut")).as("tr"), col("s"), col("s1"), col("s2"))
      .agg(count(lit(1)).as("c"))
      .collect()
    val (trainCounts, testCounts) = allCounts.partition(_.getBoolean(0))

    def optInt(row: org.apache.spark.sql.Row, i: Int): Option[Int] =
      if (row.isNullAt(i)) None else Some(row.getInt(i))
    val cst = new Cst
    trainCounts.foreach { row =>
      // lag nulls are suffix-closed (s2 set ⇒ s1 set): the word is the
      // most-recent-first window the in-memory SymbolBuffer would hold
      val word = row.getInt(1) :: (optInt(row, 2).toList ++ optInt(row, 3).toList)
      cst.add(word, row.getLong(4))
    }
    val nTest = testCounts.map(_.getLong(4)).sum
    require(cst.count > 0 && nTest > 0, "order CV needs a non-empty train/test split")
    // canonical fold order so the ≤|Σ|³-term float sum is reproducible
    val triples = testCounts
      .map(row => (row.getInt(1), optInt(row, 2), optInt(row, 3), row.getLong(4)))
      .sortBy(t => (t._1, t._2.getOrElse(Int.MinValue), t._3.getOrElse(Int.MinValue)))
    (0 to maxOrder).map { m =>
      val pst = PstLearner.learn(cst, m, pMin, alpha, gammaMin, r)
      var ll = 0.0
      triples.foreach { case (s, s1, s2, c) =>
        val ctx = (s1.toList ++ s2.toList).take(m)
        ll += c * -math.log(math.max(pst.condProbFor(s, ctx), 1e-12))
      }
      (m, pst.leaves.size, ll / nTest)
    }
  }

  /** T3: MLE transition matrix — replay each key through the SDFA emitting
    * (state, nextState), then ONE groupBy().count() (the aggregation the
    * survey singles out as "a natural groupBy in Spark", SURVEY.md §2.7).
    */
  def countTransitions(events: Dataset[CEvent], cp: CompiledPattern): Dataset[((Int, Int), Long)] =
    countTransitions(events, cp.sdfa)

  /** Transition counting over any SDFA — pass a disambiguated automaton
    * (Disambiguator, order m) to estimate a full-order-m chain. */
  def countTransitions(events: Dataset[CEvent], sdfa: Sdfa): Dataset[((Int, Int), Long)] =
    Keyed.scan(events)(_ => new SdfaTrail(sdfa, 0)) { (run, e) =>
      if (e.isReset) { run.clear(); Iterator.empty }
      else {
        val sym = sdfa.iso.evaluate(e)
        if (sym < 0) Iterator.empty
        else {
          val prev = run.state
          run.advance(sym)
          Iterator.single((prev, run.state))
        }
      }
    }
      .groupByKey(identity)
      .count()

  /** T6: supervised FSM-state HMM estimator (reference estimator/
    * HMMEstimator/FSMStateEstimator.scala:34-140) as a distributed count
    * aggregation. Per key the SDFA is replayed; whenever the run sits in a
    * final state, the last `depth` (symbol, state) steps form a training
    * sequence (finals-based learning; depth = longest shortest path to a
    * final + 1, the reference's unroll rule). Instead of shuffling the
    * sequences, each emits its MLE count contributions — initial-symbol,
    * symbol→symbol transition, symbol→state emission — and ONE
    * groupBy().count() aggregates them (alphabet²-bounded shuffle, like
    * the MLE matrix). The driver normalizes rows into the [[FsmHmm]].
    */
  def learnFsmHmm(events: Dataset[CEvent], cp: CompiledPattern): FsmHmm = {
    val sdfa = cp.sdfa
    val nSyms = sdfa.iso.size
    val nSt = sdfa.nStates
    val reachable = sdfa.shortestPathToFinal.filter(_ >= 0)
    val depth = (if (reachable.isEmpty) 1 else reachable.max + 1).max(1)
    implicit val tripleEnc: Encoder[(Int, Int, Int)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaInt)
    val counts = Keyed.scan(events)(_ => new SdfaTrail(sdfa, depth)) { (run, e) =>
      if (e.isReset) { run.clear(); Iterator.empty }
      else {
        val sym = sdfa.iso.evaluate(e)
        if (sym < 0) Iterator.empty
        else {
          run.advance(sym)
          if (sdfa.isFinal(run.state)) {
            // one training sequence: pi + transition + emission counts
            val out = List.newBuilder[(Int, Int, Int)]
            out += ((0, run.syms(0), 0))
            var i = 0
            while (i < run.len) {
              out += ((2, run.syms(i), run.states(i)))
              if (i > 0) out += ((1, run.syms(i - 1), run.syms(i)))
              i += 1
            }
            out.result().iterator
          } else Iterator.empty
        }
      }
    }
      .groupByKey(x => x)
      .count()
      .collect() // model-sized: ≤ |Σ| + |Σ|² + |Σ|·|Q| distinct keys
    def mleRows(n: Int, m: Int, kind: Int): Array[Array[Double]] = {
      val a = Array.fill(n)(new Array[Double](m))
      counts.foreach { case ((k, i, j), c) => if (k == kind) a(i)(j) += c.toDouble }
      a.foreach { row =>
        val s = row.sum
        if (s > 0) { var j = 0; while (j < row.length) { row(j) /= s; j += 1 } }
        else { var j = 0; while (j < row.length) { row(j) = 1.0 / row.length; j += 1 } }
      }
      a
    }
    val piCounts = new Array[Double](nSyms)
    counts.foreach { case ((k, i, _), c) => if (k == 0) piCounts(i) += c.toDouble }
    val piSum = piCounts.sum
    val pi =
      if (piSum > 0) piCounts.map(_ / piSum) else Array.fill(nSyms)(1.0 / nSyms)
    FsmHmm(Hmm(pi, mleRows(nSyms, nSyms, 1), mleRows(nSyms, nSt, 2)), depth, nSt)
  }

  def mleMarkovChain(events: Dataset[CEvent], cp: CompiledPattern): MarkovChain = {
    val counts = countTransitions(events, cp).collect()
    MarkovChain.mle(cp.sdfa.nStates, counts, cp.sdfa.finals)
  }

  /** T3 at order m: disambiguate the SDFA (C8) so a full-order-m chain
    * embeds on its states, then MLE over the refined transitions
    * (reference MatrixMLETask.scala:40 with the disambiguated provider).
    */
  def mleMarkovChain(events: Dataset[CEvent], cp: CompiledPattern, order: Int): (MarkovChain, Disambiguator.Disambiguated) = {
    val dis = Disambiguator.disambiguate(cp.sdfa, order)
    val counts = countTransitions(events, dis.sdfa).collect()
    (MarkovChain.mle(dis.sdfa.nStates, counts, dis.sdfa.finals), dis)
  }

  /** Run SPST forecasting over events (batch): per-key [[SpstRun]] on
    * the batch scan ([[Keyed.scan]]).
    */
  def forecasts(
      events: Dataset[CEvent],
      cp: CompiledPattern,
      spst: Spst,
      method: ForecastMethod,
      threshold: Double,
      spread: Int,
      horizon: Int): Dataset[ForecastOut] = {
    implicit val fEnc: Encoder[ForecastOut] = Encoders.product[ForecastOut]
    val table = spst.forecastTable(method, threshold, spread, horizon)
    Keyed.scan(events)(key => new SpstRun(cp, spst, table, key))((run, e) => run.step(e)._2.iterator)
  }
}

/** Per-key state of the SDFA replay scans: the run's state and the last
  * `depth` (symbol, state) steps, oldest first.
  */
private final class SdfaTrail(sdfa: Sdfa, depth: Int) {
  var state: Int = sdfa.start
  val syms = new Array[Int](depth)
  val states = new Array[Int](depth)
  var len = 0

  def clear(): Unit = { state = sdfa.start; len = 0 }

  def advance(sym: Int): Unit = {
    state = sdfa.delta(state)(sym)
    if (depth > 0) {
      if (len == depth) {
        System.arraycopy(syms, 1, syms, 0, depth - 1)
        System.arraycopy(states, 1, states, 0, depth - 1)
        len -= 1
      }
      syms(len) = sym; states(len) = state; len += 1
    }
  }
}

/** A symbol window (most-recent-first). Top-level so whole-stage codegen
  * can construct it (nested private case classes break Janino compilation
  * and silently fall back to interpreted row handling).
  */
final case class SymbolWindow(word: Seq[Int])

/** A symbol window with its occurrence count. */
final case class WindowCount(word: Seq[Int], n: Long)
