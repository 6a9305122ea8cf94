package graft.cef

import scala.collection.mutable

/** Variable-order Markov model layer: symbol buffers, counter suffix trees
  * and prediction suffix trees (reference model/vmm/pst — CyclicBuffer
  * .scala:11-95, CounterSuffixTree.scala:69-265, PSTLearner.scala:1-308,
  * PredictionSuffixTree.scala).
  *
  * Convention (same as the reference): a "word" is a List[Int] of symbols
  * with the HEAD being the MOST RECENT symbol — contexts read backwards from
  * the current stream position.
  */
final class SymbolBuffer(val size: Int) extends Serializable {
  require(size > 0)
  private val buf = new Array[Int](size)
  private var count = 0
  private var head = -1

  def push(symbol: Int): Unit = {
    head = (head + 1) % size
    buf(head) = symbol
    if (count < size) count += 1
  }

  /** Contents, most recent first (reference CyclicBuffer.pop). */
  def pop: List[Int] = {
    var out = List.empty[Int]
    var i = 0
    while (i < count) {
      out = buf((head - i + size * 2) % size) :: out
      i += 1
    }
    out.reverse
  }

  def isFull: Boolean = count == size
  def length: Int = count
  def clear(): Unit = { count = 0; head = -1 }
  def snapshot: Seq[Int] = pop
  def restore(word: Seq[Int]): Unit = { clear(); word.reverse.foreach(push) }
}

/** Counter suffix tree: node counter at path w = occurrences of the window w
  * (most-recent-first) in the training stream(s).
  */
final class Cst extends Serializable {
  private var counter: Long = 0L
  private val children = mutable.Map.empty[Int, Cst]

  def count: Long = counter

  /** Increment all nodes along the path of `word` by `n`. Building from a
    * stream = add(windowEndingAt(t), 1) for every position t; building from
    * pre-aggregated Spark counts = add(word, count) per distinct word.
    */
  def add(word: List[Int], n: Long = 1L): Unit = {
    counter += n
    word match {
      case h :: tail => children.getOrElseUpdate(h, new Cst).add(tail, n)
      case Nil       =>
    }
  }

  def counterFor(word: List[Int]): Long = word match {
    case Nil       => counter
    case h :: tail => children.get(h).map(_.counterFor(tail)).getOrElse(0L)
  }

  def symbols: Set[Int] = {
    val out = mutable.Set.empty[Int]
    def walk(t: Cst): Unit = { out ++= t.children.keys; t.children.values.foreach(walk) }
    walk(this)
    out.toSet
  }

  /** P̃(word): occurrences / number of windows of that length
    * (reference CounterSuffixTree.scala:213). */
  def probFor(word: List[Int]): Double =
    counterFor(word).toDouble / (counter - word.length + 1)

  /** P̃(σ | context) (reference CounterSuffixTree.scala:223-234). */
  def condProbFor(sigma: Int, context: List[Int]): Double = {
    val c = counterFor(context)
    if (c == 0) 0.0 else counterFor(sigma :: context).toDouble / c
  }

  /** Normalized next-symbol distribution for a context over the given
    * alphabet (reference getSymbolDistributionFor:242-251). Empty map when
    * the context was never observed.
    */
  def distributionFor(context: List[Int], alphabet: Iterable[Int]): Map[Int, Double] = {
    val counts = alphabet.map(s => s -> counterFor(s :: context)).toMap
    val sum = counts.values.sum
    if (sum == 0) Map.empty else counts.map { case (s, c) => s -> c.toDouble / sum }
  }
}

/** Prediction suffix tree node: a context label (most-recent-first) and a
  * smoothed next-symbol distribution.
  */
final class Pst(
    val label: List[Int],
    var dist: Map[Int, Double]) extends Serializable {
  val children: mutable.Map[Int, Pst] = mutable.Map.empty

  /** Deepest existing node whose label is a suffix of the given context
    * (reference PredictionSuffixTree.getNodeUntilLeafNonBlocking). */
  def nodeFor(context: List[Int]): Pst = context match {
    case Nil => this
    case h :: tail => children.get(h) match {
      case Some(c) => c.nodeFor(tail)
      case None    => this
    }
  }

  def condProbFor(sigma: Int, context: List[Int]): Double =
    nodeFor(context).dist.getOrElse(sigma, 0.0)

  /** All nodes of the subtree (preorder). */
  def nodes: List[Pst] = this :: children.values.toList.flatMap(_.nodes)
  def leaves: List[Pst] = if (children.isEmpty) List(this) else children.values.toList.flatMap(_.leaves)
}

/** Ron/Singer/Tishby PST learning, Begleiter'04 "variant" hyper-parameters
  * (reference PSTLearner.learnVariant:190-222):
  *
  *  1. frontier = frequent single symbols (P̃ ≥ pMin)
  *  2. a context s enters the tree when ∃σ: P̃(σ|s) ≥ (1+α)γmin and the
  *     likelihood ratio vs the parent context is ≥ r or ≤ 1/r
  *  3. contexts extend while P̃ ≥ pMin and |s| < maxOrder
  *  4. all missing children of internal nodes are added
  *  5. distributions smoothed: γ̂s(σ) = P̃(σ|s)(1−|Σ|γmin) + γmin
  */
object PstLearner {

  def learn(
      cst: Cst,
      maxOrder: Int,
      pMin: Double,
      alpha: Double,
      gammaMin: Double,
      r: Double): Pst = {
    val alphabet = cst.symbols
    val condThreshold = (1 + alpha) * gammaMin
    require(gammaMin * alphabet.size <= 1, "gammaMin * |alphabet| must be <= 1")

    val root = new Pst(Nil, cst.distributionFor(Nil, alphabet))
    val retained = mutable.Set.empty[List[Int]] // contexts that earned a node
    val frontier = mutable.Queue.empty[List[Int]]
    // maxOrder == 0 ⇒ root-only tree: no depth-1 contexts may enter the
    // frontier (they'd otherwise leak into Psa.fromPst leaves).
    if (maxOrder >= 1)
      alphabet.foreach { s => if (cst.probFor(List(s)) >= pMin) frontier += List(s) }

    while (frontier.nonEmpty) {
      val s = frontier.dequeue()
      val meaningful = alphabet.exists { sigma =>
        val pOnS = cst.condProbFor(sigma, s)
        val suffix = s.init // drop the OLDEST symbol: parent context
        val pOnSuffix =
          if (suffix.isEmpty) cst.probFor(List(sigma)) else cst.condProbFor(sigma, suffix)
        val ratio = if (pOnSuffix == 0.0) Double.PositiveInfinity else pOnS / pOnSuffix
        pOnS >= condThreshold && (ratio >= r || ratio <= 1 / r)
      }
      if (meaningful) retained += s
      if (s.length < maxOrder) {
        alphabet.foreach { sigma =>
          val ext = s :+ sigma // extend with an OLDER symbol
          if (cst.probFor(ext) >= pMin) frontier += ext
        }
      }
    }

    // build the tree: each retained context + the path of suffixes up to it
    retained.toList.foreach(ctx => insert(root, ctx))
    // step 4: add missing children of internal nodes
    addMissingChildren(root, cst, alphabet)
    // step 5: smooth every node's distribution
    root.nodes.foreach { n =>
      val raw = rawDistFor(n.label, cst, alphabet)
      n.dist = alphabet.map { s =>
        s -> (raw.getOrElse(s, 0.0) * (1 - alphabet.size * gammaMin) + gammaMin)
      }.toMap
    }
    root
  }

  /** Insert a node for `ctx` (most-recent-first): children keyed by
    * successively OLDER symbols, so node depth d = context length d.
    */
  private def insert(root: Pst, ctx: List[Int]): Unit = {
    var node = root
    var path = List.empty[Int] // grows most-recent-first
    ctx.foreach { sym =>
      path = path :+ sym
      node = node.children.getOrElseUpdate(sym, new Pst(path, Map.empty))
    }
  }

  private def addMissingChildren(node: Pst, cst: Cst, alphabet: Set[Int]): Unit = {
    if (node.children.nonEmpty) {
      alphabet.foreach { s =>
        node.children.getOrElseUpdate(s, new Pst(node.label :+ s, Map.empty))
      }
      node.children.values.foreach(addMissingChildren(_, cst, alphabet))
    }
  }

  /** Raw (unsmoothed) distribution of the longest suffix of `label` with
    * observed data — the s0 of the reference's step 5.
    */
  private def rawDistFor(label: List[Int], cst: Cst, alphabet: Set[Int]): Map[Int, Double] = {
    var ctx = label
    while (ctx.nonEmpty && cst.counterFor(ctx) == 0) ctx = ctx.init
    cst.distributionFor(ctx, alphabet)
  }
}
