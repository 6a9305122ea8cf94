package graft.cef

/** Predicate + sentence layer: the scalar functions of the pattern language.
  *
  * Re-expresses the reference's predicate library
  * (Wayeb/cef/src/main/scala/fsm/symbolic/logic/predicates, 18 files)
  * and sentence evaluation (fsm/symbolic/logic/Sentence.scala:20-223) as a
  * small ADT. These run per-event inside pattern evaluation — deliberately
  * plain Scala, not Catalyst expressions (SURVEY.md §2.2 P6).
  */
sealed trait Predicate extends Product with Serializable {
  def eval(e: CEvent): Boolean
  /** Evaluation under a register valuation (SREMO; reference
    * fsm/symbolic/Valuation.scala:18 — registers hold stored events).
    * Register-free predicates ignore it. */
  def eval(e: CEvent, valuation: Map[String, CEvent]): Boolean = eval(e)
  /** Registers this predicate reads (empty for ordinary predicates). */
  def registersRead: Set[String] = Set.empty
  /** Event attributes this predicate reads: the names it passes to
    * `numberOf`/`stringOf` (a register predicate reads the same attribute
    * on the current and on the stored event). */
  def attrsRead: Set[String] = {
    import Predicate._
    this match {
      case IsEventType(_) | True                 => Set.empty
      case EQ(a, _)                              => Set(a)
      case GT(a, _)                              => Set(a)
      case GTE(a, _)                             => Set(a)
      case LT(a, _)                              => Set(a)
      case LTE(a, _)                             => Set(a)
      case BT(a, _, _)                           => Set(a)
      case EQStr(a, _)                           => Set(a)
      case WithinCircle(lon, lat, _, _, _)       => Set(lon, lat)
      case OutsideCircle(lon, lat, _, _, _)      => Set(lon, lat)
      case DistanceBetween(lon, lat, _, _, _, _) => Set(lon, lat)
      case HeadingTowards(lon, lat, hd, _, _, _) => Set(lon, lat, hd)
      case EQAttr(a, _)                          => Set(a)
      case GTAttr(a, _)                          => Set(a)
      case LTAttr(a, _)                          => Set(a)
      case EQAttrStr(a, _)                       => Set(a)
    }
  }
}

object Predicate {
  final case class IsEventType(t: String) extends Predicate {
    def eval(e: CEvent): Boolean = e.eventType == t
  }
  case object True extends Predicate { def eval(e: CEvent): Boolean = true }

  // numeric comparisons against constants (reference EQ/GT/GTE/LT/LTE/BT)
  final case class EQ(attr: String, v: Double) extends Predicate {
    def eval(e: CEvent): Boolean = e.numberOf(attr) == v
  }
  final case class GT(attr: String, v: Double) extends Predicate {
    def eval(e: CEvent): Boolean = e.numberOf(attr) > v
  }
  final case class GTE(attr: String, v: Double) extends Predicate {
    def eval(e: CEvent): Boolean = e.numberOf(attr) >= v
  }
  final case class LT(attr: String, v: Double) extends Predicate {
    def eval(e: CEvent): Boolean = e.numberOf(attr) < v
  }
  final case class LTE(attr: String, v: Double) extends Predicate {
    def eval(e: CEvent): Boolean = e.numberOf(attr) <= v
  }
  /** between, inclusive-exclusive like the reference BT (min <= x < max). */
  final case class BT(attr: String, lo: Double, hi: Double) extends Predicate {
    def eval(e: CEvent): Boolean = { val x = e.numberOf(attr); x >= lo && x < hi }
  }
  final case class EQStr(attr: String, v: String) extends Predicate {
    def eval(e: CEvent): Boolean = e.stringOf(attr) == v
  }

  // ---- spatial predicates (maritime domain); haversine in km like the
  // reference utils/SpatialUtils.scala (earth radius 6371 km).
  final case class WithinCircle(lonAttr: String, latAttr: String,
      cLon: Double, cLat: Double, radiusKm: Double) extends Predicate {
    def eval(e: CEvent): Boolean =
      Spatial.haversineKm(e.numberOf(lonAttr), e.numberOf(latAttr), cLon, cLat) < radiusKm
  }
  final case class OutsideCircle(lonAttr: String, latAttr: String,
      cLon: Double, cLat: Double, radiusKm: Double) extends Predicate {
    def eval(e: CEvent): Boolean =
      Spatial.haversineKm(e.numberOf(lonAttr), e.numberOf(latAttr), cLon, cLat) >= radiusKm
  }
  /** lo <= haversine(point, center) < hi, in km. */
  final case class DistanceBetween(lonAttr: String, latAttr: String,
      cLon: Double, cLat: Double, lo: Double, hi: Double) extends Predicate {
    def eval(e: CEvent): Boolean = {
      val d = Spatial.haversineKm(e.numberOf(lonAttr), e.numberOf(latAttr), cLon, cLat)
      d >= lo && d < hi
    }
  }
  /** heading (degrees) points toward the circle of radius r around center. */
  final case class HeadingTowards(lonAttr: String, latAttr: String, headingAttr: String,
      cLon: Double, cLat: Double, radiusKm: Double) extends Predicate {
    def eval(e: CEvent): Boolean = {
      val lon = e.numberOf(lonAttr); val lat = e.numberOf(latAttr)
      val bearing = Spatial.initialBearingDeg(lon, lat, cLon, cLat)
      val dist = Spatial.haversineKm(lon, lat, cLon, cLat)
      // angular half-width subtended by the target circle at this distance
      val half =
        if (dist <= radiusKm) 180.0
        else math.toDegrees(math.asin((radiusKm / dist).min(1.0)))
      val diff = math.abs(Spatial.angleDiffDeg(e.numberOf(headingAttr), bearing))
      diff <= half
    }
  }

  // ---- SREMO register-comparison predicates (reference EQAttr/GTAttr/
  // LTAttr/EQAttrStr — fsm/symbolic/logic/predicates; docs/lang.md §SREMO).
  // The second argument names a register; the stored event's attribute is
  // the comparison target. Absent register → false (no stored event yet).
  sealed trait RegisterPredicate extends Predicate {
    def register: String
    override def registersRead: Set[String] = Set(register)
    override def eval(e: CEvent): Boolean = false
  }
  final case class EQAttr(attr: String, register: String) extends RegisterPredicate {
    override def eval(e: CEvent, v: Map[String, CEvent]): Boolean =
      v.get(register).exists(r => e.numberOf(attr) == r.numberOf(attr))
  }
  final case class GTAttr(attr: String, register: String) extends RegisterPredicate {
    override def eval(e: CEvent, v: Map[String, CEvent]): Boolean =
      v.get(register).exists(r => e.numberOf(attr) > r.numberOf(attr))
  }
  final case class LTAttr(attr: String, register: String) extends RegisterPredicate {
    override def eval(e: CEvent, v: Map[String, CEvent]): Boolean =
      v.get(register).exists(r => e.numberOf(attr) < r.numberOf(attr))
  }
  final case class EQAttrStr(attr: String, register: String) extends RegisterPredicate {
    override def eval(e: CEvent, v: Map[String, CEvent]): Boolean =
      v.get(register).exists(r => e.stringOf(attr) == r.stringOf(attr))
  }

  /** Build a predicate from its pattern-text name + argument strings — the
    * reference resolves these by reflection (PredicateConstructor); we use an
    * explicit registry so the set of predicates is a closed, testable ADT.
    */
  def fromName(name: String, args: List[String]): Predicate = {
    def d(i: Int) = args(i).toDouble
    val base = name.stripSuffix("Predicate")
    base match {
      case "IsEventType"     => IsEventType(args.head)
      case "True"            => True
      case "EQ"              => EQ(args(0), d(1))
      case "GT"              => GT(args(0), d(1))
      case "GTE"             => GTE(args(0), d(1))
      case "LT"              => LT(args(0), d(1))
      case "LTE"             => LTE(args(0), d(1))
      case "BT"              => BT(args(0), d(1), d(2))
      case "EQStr"           => EQStr(args(0), args(1))
      case "EQAttr"          => EQAttr(args(0), args(1))
      case "GTAttr"          => GTAttr(args(0), args(1))
      case "LTAttr"          => LTAttr(args(0), args(1))
      case "EQAttrStr"       => EQAttrStr(args(0), args(1))
      case "WithinCircle"    => WithinCircle(args(0), args(1), d(2), d(3), d(4))
      case "OutsideCircle"   => OutsideCircle(args(0), args(1), d(2), d(3), d(4))
      case "DistanceBetween" => DistanceBetween(args(0), args(1), d(2), d(3), d(4), d(5))
      case "HeadingTowards"  => HeadingTowards(args(0), args(1), args(2), d(3), d(4), d(5))
      case other => throw new IllegalArgumentException(s"unknown predicate '$other'")
    }
  }
}

object Spatial {
  private val EarthRadiusKm = 6371.0

  def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * EarthRadiusKm * math.asin(math.sqrt(a))
  }

  /** Initial great-circle bearing from (lon1,lat1) to (lon2,lat2), degrees [0,360). */
  def initialBearingDeg(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dl = math.toRadians(lon2 - lon1)
    val y = math.sin(dl) * math.cos(p2)
    val x = math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl)
    (math.toDegrees(math.atan2(y, x)) + 360.0) % 360.0
  }

  /** Signed smallest difference between two angles in degrees, in (-180, 180]. */
  def angleDiffDeg(a: Double, b: Double): Double = {
    val d = (a - b) % 360.0
    if (d > 180.0) d - 360.0 else if (d <= -180.0) d + 360.0 else d
  }
}

/** Boolean sentences over predicates, with the pattern language's ^ | -
  * connectives (reference fsm/symbolic/logic/Sentence.scala).
  */
sealed trait Sentence extends Product with Serializable {
  def eval(e: CEvent): Boolean
  /** Evaluation under a register valuation (SREMO patterns). */
  def eval(e: CEvent, valuation: Map[String, CEvent]): Boolean
  /** truth value under a fixed assignment of atomic predicates. */
  def evalUnder(assign: Map[Predicate, Boolean]): Boolean
  def predicates: Set[Predicate]
  def registersRead: Set[String] = predicates.flatMap(_.registersRead)
}

object Sentence {
  final case class Atomic(p: Predicate) extends Sentence {
    def eval(e: CEvent): Boolean = p.eval(e)
    def eval(e: CEvent, v: Map[String, CEvent]): Boolean = p.eval(e, v)
    def evalUnder(assign: Map[Predicate, Boolean]): Boolean = assign(p)
    def predicates: Set[Predicate] = Set(p)
  }
  final case class And(ss: List[Sentence]) extends Sentence {
    def eval(e: CEvent): Boolean = ss.forall(_.eval(e))
    def eval(e: CEvent, v: Map[String, CEvent]): Boolean = ss.forall(_.eval(e, v))
    def evalUnder(a: Map[Predicate, Boolean]): Boolean = ss.forall(_.evalUnder(a))
    def predicates: Set[Predicate] = ss.flatMap(_.predicates).toSet
  }
  final case class Or(ss: List[Sentence]) extends Sentence {
    def eval(e: CEvent): Boolean = ss.exists(_.eval(e))
    def eval(e: CEvent, v: Map[String, CEvent]): Boolean = ss.exists(_.eval(e, v))
    def evalUnder(a: Map[Predicate, Boolean]): Boolean = ss.exists(_.evalUnder(a))
    def predicates: Set[Predicate] = ss.flatMap(_.predicates).toSet
  }
  final case class Not(s: Sentence) extends Sentence {
    def eval(e: CEvent): Boolean = !s.eval(e)
    def eval(e: CEvent, v: Map[String, CEvent]): Boolean = !s.eval(e, v)
    def evalUnder(a: Map[Predicate, Boolean]): Boolean = !s.evalUnder(a)
    def predicates: Set[Predicate] = s.predicates
  }
  val True: Sentence = Atomic(Predicate.True)
}

/** The minterm alphabet + event→symbol mapping.
  *
  * The reference builds minterms over whole transition *sentences*
  * (LogicUtils.scala:45-296) and keeps a bijection minterm↔symbol
  * (model/vmm/mapper/Isomorphism.scala:41-80). We build them over atomic
  * *predicates* instead: an alphabet symbol is one satisfiable truth
  * assignment of all predicates appearing in the automaton's guards. This is
  * finer-grained but semantically equivalent, and lets arbitrarily complex
  * guards (including determinized complement guards) be evaluated uniformly
  * via [[Sentence.evalUnder]].
  *
  * Exclusives ("~(...)" declarations, docs/lang.md §Declarations) prune
  * assignments where two predicates of the same exclusive set are both true.
  * All IsEventType predicates are auto-exclusive: an event has exactly one
  * type, so assignments with two of them true are unsatisfiable.
  */
final case class Isomorphism(
    predicates: Vector[Predicate],
    minterms: Vector[Map[Predicate, Boolean]]) {

  val size: Int = minterms.size

  /** Event attributes [[evaluate]] reads. */
  def attrsRead: Set[String] = predicates.flatMap(_.attrsRead).toSet

  // Hot-path layout: the truth assignment of the k base predicates packs
  // into a k-bit mask; a dense Array[Int] maps mask → symbol (-1 for
  // assignments pruned by exclusives). evaluate() is then k predicate
  // calls + one array read, zero allocation — this runs once per event in
  // every runtime. Falls back to a hash map above 20 predicates.
  private val predArr: Array[Predicate] = predicates.toArray
  private val nPreds = predArr.length
  private val useDense = nPreds <= 20
  private def maskOf(m: Map[Predicate, Boolean]): Int = {
    var mask = 0
    var i = 0
    while (i < nPreds) { if (m(predArr(i))) mask |= 1 << i; i += 1 }
    mask
  }
  private val denseIndex: Array[Int] =
    if (!useDense) null
    else {
      val arr = Array.fill(1 << nPreds)(-1)
      minterms.zipWithIndex.foreach { case (m, i) => arr(maskOf(m)) = i }
      arr
    }
  private val mapIndex: Map[Int, Int] =
    if (useDense) null else minterms.zipWithIndex.map { case (m, i) => maskOf(m) -> i }.toMap

  /** event → unique symbol: evaluate each base predicate once, look up.
    * -1 only when exclusives pruned an assignment the data then violated
    * (a mis-declared exclusive) — the reference's "no minterm" case.
    */
  def evaluate(e: CEvent): Int = {
    var mask = 0
    var i = 0
    while (i < nPreds) { if (predArr(i).eval(e)) mask |= 1 << i; i += 1 }
    if (useDense) denseIndex(mask) else mapIndex.getOrElse(mask, -1)
  }

  def sentenceOf(symbol: Int): Sentence = {
    val m = minterms(symbol)
    Sentence.And(predicates.toList.map(p =>
      if (m(p)) Sentence.Atomic(p) else Sentence.Not(Sentence.Atomic(p))))
  }
}

object Isomorphism {

  /** All satisfiable assignments over `preds`, pruned by `exclusives` and by
    * closed-form interval reasoning (C6): assignments whose same-attribute
    * numeric constraints contradict — GT(x,120) ∧ LT(x,10), ¬GT(x,10) ∧
    * ¬LT(x,20), an EQ outside a BT band — never enter the alphabet. This is
    * the decision procedure the reference runs a SAT solver for
    * (LogicUtils.scala:236-340, `withsat` default on, ConfigUtils.scala:46):
    * its clauses are exactly single-attribute comparison literals, so
    * interval intersection decides them without a solver.
    *
    * The enumeration backtracks predicate-by-predicate and prunes
    * contradictory prefixes immediately: a pattern with k same-attribute
    * comparisons compiles in O(#satisfiable minterms), not O(2^k).
    *
    * Like the reference, satisfiability is over real-valued attributes; an
    * event carrying NaN (which fails every comparison) can realize an
    * assignment the algebra pruned — that maps to symbol -1, the
    * reference's "no minterm" case.
    */
  def build(preds: Set[Predicate], exclusives: Set[Set[Predicate]]): Isomorphism = {
    val ps = preds.toVector.sortBy(_.toString)
    val autoExcl: Set[Set[Predicate]] = {
      val evtTypes = ps.collect { case p: Predicate.IsEventType => (p: Predicate) }.toSet
      if (evtTypes.size >= 2) Set(evtTypes) else Set.empty
    }
    val allExcl = (exclusives ++ autoExcl).map(_.intersect(preds)).filter(_.size >= 2)
    def exclOk(assign: Map[Predicate, Boolean]): Boolean =
      allExcl.forall(ex => ex.count(assign.getOrElse(_, false)) <= 1)

    import IntervalAlgebra._
    val out = Vector.newBuilder[Map[Predicate, Boolean]]
    def rec(i: Int, assign: Map[Predicate, Boolean], regions: Map[String, Region]): Unit = {
      if (i == ps.length) { out += assign; () }
      else {
        val p = ps(i)
        Seq(true, false).foreach { t =>
          if (p != Predicate.True || t) { // True can never be false
            val a2 = assign.updated(p, t)
            if (exclOk(a2)) constraintOf(p, t) match {
              case Some((key, reg)) =>
                val r2 = intersect(regions.getOrElse(key, initRegion(key)), reg)
                if (r2.nonEmpty) rec(i + 1, a2, regions.updated(key, r2))
              case None => rec(i + 1, a2, regions)
            }
          }
        }
      }
    }
    rec(0, Map.empty, Map.empty)
    Isomorphism(ps, out.result())
  }
}

/** Closed-form satisfiability for conjunctions of same-attribute comparison
  * literals: each (predicate, truth) pair is a union of at most two real
  * intervals; a conjunction is satisfiable iff the running intersection per
  * attribute stays nonempty. Spatial circle/ring predicates sharing the
  * same (lon, lat, center) reduce to the same algebra over the (implicitly
  * non-negative) distance axis. Predicates outside the algebra constrain
  * nothing (conservative: never prunes a satisfiable assignment).
  */
private[cef] object IntervalAlgebra {

  /** One interval; `loIncl`/`hiIncl` are the endpoint inclusions. */
  final case class Iv(lo: Double, loIncl: Boolean, hi: Double, hiIncl: Boolean) {
    def isEmpty: Boolean = lo > hi || (lo == hi && !(loIncl && hiIncl))
  }
  /** A union of disjoint intervals. */
  type Region = List[Iv]

  private val inf = Double.PositiveInfinity
  private val DistPrefix = "dist("

  def initRegion(key: String): Region =
    if (key.startsWith(DistPrefix)) List(Iv(0.0, true, inf, false)) // distances are >= 0
    else List(Iv(-inf, false, inf, false))

  def intersect(a: Region, b: Region): Region =
    for {
      x <- a
      y <- b
      iv = Iv(
        math.max(x.lo, y.lo),
        if (x.lo == y.lo) x.loIncl && y.loIncl else if (x.lo > y.lo) x.loIncl else y.loIncl,
        math.min(x.hi, y.hi),
        if (x.hi == y.hi) x.hiIncl && y.hiIncl else if (x.hi < y.hi) x.hiIncl else y.hiIncl)
      if !iv.isEmpty
    } yield iv

  private def ge(v: Double): Region = List(Iv(v, true, inf, false))
  private def gt(v: Double): Region = List(Iv(v, false, inf, false))
  private def le(v: Double): Region = List(Iv(-inf, false, v, true))
  private def lt(v: Double): Region = List(Iv(-inf, false, v, false))
  private def between(lo: Double, hi: Double): Region = List(Iv(lo, true, hi, false)) // lo <= x < hi
  private def outside(lo: Double, hi: Double): Region = lt(lo) ++ ge(hi)

  private def distKey(lon: String, lat: String, cLon: Double, cLat: Double): String =
    s"$DistPrefix$lon,$lat,$cLon,$cLat)"

  /** The region an attribute must lie in for `p` to evaluate to `truth`;
    * None when `p` is outside the algebra.
    */
  def constraintOf(p: Predicate, truth: Boolean): Option[(String, Region)] = {
    import Predicate._
    p match {
      case GT(a, v)      => Some(a -> (if (truth) gt(v) else le(v)))
      case GTE(a, v)     => Some(a -> (if (truth) ge(v) else lt(v)))
      case LT(a, v)      => Some(a -> (if (truth) lt(v) else ge(v)))
      case LTE(a, v)     => Some(a -> (if (truth) le(v) else gt(v)))
      case EQ(a, v)      => Some(a -> (if (truth) List(Iv(v, true, v, true)) else lt(v) ++ gt(v)))
      case BT(a, lo, hi) => Some(a -> (if (truth) between(lo, hi) else outside(lo, hi)))
      case WithinCircle(lon, lat, cl, ct, r) =>
        Some(distKey(lon, lat, cl, ct) -> (if (truth) lt(r) else ge(r)))
      case OutsideCircle(lon, lat, cl, ct, r) =>
        Some(distKey(lon, lat, cl, ct) -> (if (truth) ge(r) else lt(r)))
      case DistanceBetween(lon, lat, cl, ct, lo, hi) =>
        Some(distKey(lon, lat, cl, ct) -> (if (truth) between(lo, hi) else outside(lo, hi)))
      case _ => None
    }
  }
}
