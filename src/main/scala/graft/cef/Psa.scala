package graft.cef

/** T4: probabilistic suffix automaton — the automaton form of a PST
  * (reference model/vmm/pst/psa/PSAUtils.scala:22-100, ProbSuffixAutomaton).
  * States are the PST's leaves; the transition from state L on symbol σ has
  * probability P(σ|L) and targets the unique leaf whose label is a suffix
  * of σ·L. The PST must first be made PSA-compatible: any leaf whose
  * one-step extension walks into an internal node is split until every
  * (leaf, symbol) walk ends at a leaf (reference makePSACompatible).
  */
final case class Psa(
    labels: Vector[List[Int]],
    next: Vector[Map[Int, (Int, Double)]]) { // state → σ → (nextState, prob)

  def stateOf(label: List[Int]): Int = labels.indexOf(label)
  def nStates: Int = labels.size

  def prob(state: Int, sym: Int): Double = next(state).get(sym).map(_._2).getOrElse(0.0)
  def step(state: Int, sym: Int): Int = next(state)(sym)._1

  /** Log-likelihood of a symbol sequence starting from the state matching
    * the given initial context. */
  def logLikelihood(startContext: List[Int], word: Seq[Int]): Double = {
    var s = deepestStateFor(startContext)
    var ll = 0.0
    word.foreach { sym =>
      ll += math.log(prob(s, sym))
      s = step(s, sym)
    }
    ll
  }

  /** The state whose label is the longest suffix-match of the context. */
  def deepestStateFor(context: List[Int]): Int = {
    val matches = labels.zipWithIndex.filter { case (l, _) => context.startsWith(l) }
    if (matches.isEmpty) 0
    else matches.maxBy(_._1.length)._2
  }
}

object Psa {

  /** Split leaves until every (leaf, σ) one-step walk ends at a leaf
    * (reference PredictionSuffixTree.makePSACompatible). Mutates the PST.
    */
  def makeCompatible(pst: Pst, alphabet: Set[Int]): Unit = {
    var changed = true
    while (changed) {
      changed = false
      pst.leaves.foreach { leaf =>
        val needsSplit = alphabet.exists { sym =>
          pst.nodeFor(sym :: leaf.label).children.nonEmpty
        }
        if (needsSplit && leaf.children.isEmpty) {
          alphabet.foreach { tau =>
            leaf.children(tau) = new Pst(leaf.label :+ tau, leaf.dist)
          }
          changed = true
        }
      }
    }
  }

  /** Build the PSA from a compatible PST (single-node PSTs give the
    * one-state memoryless automaton, PSAUtils.scala:23-31). */
  def fromPst(pst: Pst, alphabet: Set[Int]): Psa = {
    makeCompatible(pst, alphabet)
    val leaves = pst.leaves
    val labels = leaves.map(_.label).toVector
    val index = labels.zipWithIndex.toMap
    val next = leaves.map { leaf =>
      alphabet.map { sym =>
        val target = pst.nodeFor(sym :: leaf.label)
        require(target.children.isEmpty, s"PST not PSA-compatible at ${leaf.label} + $sym")
        sym -> (index(target.label), leaf.dist.getOrElse(sym, 0.0))
      }.toMap
    }.toVector
    Psa(labels, next)
  }
}

/** T4 (full): the symbolic PSA — an embedding of a PSA in the streaming
  * SDFA (reference model/vmm/pst/spsa/SymbolicPSA.scala:27-298,
  * SPSAUtils.buildSPSA): states are reachable (SDFA state, PSA state)
  * pairs; on symbol σ, state (q, p) moves to (δ(q,σ), psa.step(p,σ)) with
  * next-symbol probability Γ((q,p),σ) = psa.prob(p,σ). The language is the
  * SDFA's, string probabilities are the PSA's — one automaton carrying
  * both, so waiting-time distributions come from a plain Markov recursion
  * over its states (no separate symbol buffer at runtime).
  */
final case class Spsa(
    sdfa: Sdfa,
    psa: Psa,
    states: Vector[(Int, Int)],
    index: Map[(Int, Int), Int],
    trans: Vector[Map[Int, (Int, Double)]]) { // state → σ → (nextState, Γ)

  def nStates: Int = states.size
  def isFinal(s: Int): Boolean = sdfa.isFinal(states(s)._1)

  /** The embedded state for an observed context (most-recent-first, at
    * least as long as the deepest PSA label) at an SDFA state reached by
    * the same history. */
  def stateFor(context: List[Int], sdfaState: Int): Int =
    index((sdfaState, psa.deepestStateFor(context)))

  def step(s: Int, sym: Int): Int = trans(s)(sym)._1
  def prob(s: Int, sym: Int): Double = trans(s).get(sym).map(_._2).getOrElse(0.0)

  /** P(first SDFA-final visit at exactly t | embedded state) — the same
    * recursion as [[Spst.wtDistribution]] but over the product's states
    * (reference forecasting with SPSA providers, WtDistributionBuilder).
    */
  def wtDistribution(from: Int, horizon: Int, cutoff: Double = 0.0): WtDistribution = {
    var frontier: List[(Int, Double)] = List((from, 1.0))
    val wt = scala.collection.mutable.Map.empty[Int, Double]
    var t = 1
    while (t <= horizon && frontier.nonEmpty) {
      val expanded = scala.collection.mutable.Map.empty[Int, Double]
      var hit = 0.0
      frontier.foreach { case (s, p) =>
        trans(s).foreach { case (_, (ns, pSym)) =>
          if (pSym > 0) {
            val p2 = p * pSym
            if (isFinal(ns)) hit += p2
            else if (p2 > cutoff) expanded(ns) = expanded.getOrElse(ns, 0.0) + p2
          }
        }
      }
      wt(t) = hit
      frontier = expanded.toList
      t += 1
    }
    WtDistribution(wt.toMap)
  }
}

object Spsa {

  /** Reachable-product construction (reference SPSAUtils.buildSPSA:19-60):
    * frontier BFS from (sdfa.start × every PSA state). */
  def build(sdfa: Sdfa, psa: Psa): Spsa = {
    val states = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val index = scala.collection.mutable.Map.empty[(Int, Int), Int]
    def stateOf(qp: (Int, Int)): Int = index.getOrElseUpdate(qp, { states += qp; states.size - 1 })
    val queue = scala.collection.mutable.Queue.empty[Int]
    psa.labels.indices.foreach(p => queue += stateOf((sdfa.start, p)))
    val trans = scala.collection.mutable.ArrayBuffer.empty[Map[Int, (Int, Double)]]
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      val (q, p) = states(s)
      val out = psa.next(p).map { case (sym, (np, prob)) =>
        val nq = sdfa.delta(q)(sym)
        val before = states.size
        val ns = stateOf((nq, np))
        if (states.size > before) queue += ns
        sym -> (ns, prob)
      }
      while (trans.size <= s) trans += Map.empty
      trans(s) = out
    }
    Spsa(sdfa, psa, states.toVector, index.toMap, trans.toVector)
  }
}

/** T6 (subset): maximum-order selection by held-out log-loss
  * cross-validation (reference estimator/OrderEstimator): train a PST per
  * candidate order on the head of the symbol stream, score each on the
  * tail, pick the argmin.
  */
object OrderEstimator {

  def selectOrder(
      symbols: Seq[Int],
      maxOrder: Int,
      pMin: Double = 0.001,
      alpha: Double = 0.05,
      gammaMin: Double = 0.001,
      r: Double = 1.05,
      trainFraction: Double = 0.8): (Int, Map[Int, Double]) = {
    val cut = (symbols.size * trainFraction).toInt
    val (train, test) = symbols.splitAt(cut)
    val losses = (0 to maxOrder).map { m =>
      val cst = new Cst
      val buf = new SymbolBuffer(m + 1)
      train.foreach { s => buf.push(s); cst.add(buf.pop) }
      val pst = PstLearner.learn(cst, m, pMin, alpha, gammaMin, r)
      // held-out per-symbol log-loss with sliding context
      var ll = 0.0
      val ctx = new SymbolBuffer(math.max(1, m))
      train.takeRight(math.max(1, m)).foreach(ctx.push)
      test.foreach { s =>
        val p = pst.condProbFor(s, if (m == 0) Nil else pst.nodeFor(ctx.pop).label)
        ll -= math.log(math.max(p, 1e-12))
        ctx.push(s)
      }
      m -> ll / math.max(1, test.size)
    }.toMap
    (losses.minBy(_._2)._1, losses)
  }
}
