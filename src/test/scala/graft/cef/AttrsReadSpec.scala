package graft.cef

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** `Predicate.attrsRead` names exactly the attributes a predicate reads,
  * for every case of the ADT, and `CompiledPattern.attrsRead` collects
  * them over declaration extras and register guards: the keyed operators
  * ship only these attributes.
  */
class AttrsReadSpec extends AnyFlatSpec with Matchers {
  import Predicate._

  // every case of the ADT, with the attributes it reads
  private val cases: Seq[(Predicate, Set[String])] = Seq(
    IsEventType("a") -> Set(),
    True -> Set(),
    EQ("x", 1.0) -> Set("x"),
    GT("x", 1.0) -> Set("x"),
    GTE("x", 1.0) -> Set("x"),
    LT("x", 1.0) -> Set("x"),
    LTE("x", 1.0) -> Set("x"),
    BT("x", 0.0, 2.0) -> Set("x"),
    EQStr("s", "1.0") -> Set("s"),
    WithinCircle("lon", "lat", 0.0, 0.0, 10.0) -> Set("lon", "lat"),
    OutsideCircle("lon", "lat", 0.0, 0.0, 10.0) -> Set("lon", "lat"),
    DistanceBetween("lon", "lat", 0.0, 0.0, 1.0, 10.0) -> Set("lon", "lat"),
    HeadingTowards("lon", "lat", "hd", 0.0, 0.0, 10.0) -> Set("lon", "lat", "hd"),
    EQAttr("x", "r") -> Set("x"),
    GTAttr("x", "r") -> Set("x"),
    LTAttr("x", "r") -> Set("x"),
    EQAttrStr("s", "r") -> Set("s"))

  private def event(attrs: Set[String]) =
    CEvent(1L, "a", 1L, "k", attrs.map(_ -> 1.0).toMap, Map.empty)
  private def eval(p: Predicate, e: CEvent): Boolean = p match {
    case r: RegisterPredicate => r.eval(e, Map(r.register -> e))
    case _                    => p.eval(e)
  }

  "Predicate.attrsRead" should "name the attributes of every case of the ADT" in {
    for ((p, attrs) <- cases) withClue(s"$p: ") { p.attrsRead shouldBe attrs }
    // the cases are the sealed hierarchy's leaves, one each
    import scala.reflect.runtime.universe._
    def leaves(c: ClassSymbol): Set[String] = {
      val subs = c.knownDirectSubclasses.map(_.asClass)
      if (subs.isEmpty) Set(c.name.toString) else subs.flatMap(leaves)
    }
    val names = cases.map(_._1.productPrefix)
    names.toSet shouldBe leaves(typeOf[Predicate].typeSymbol.asClass)
    names.distinct should have size names.size.toLong
  }

  it should "be exactly what evaluation reads" in {
    for ((p, attrs) <- cases) withClue(s"$p: ") {
      noException should be thrownBy eval(p, event(attrs))
      for (attr <- attrs)
        a[NoSuchElementException] should be thrownBy eval(p, event(attrs - attr))
    }
  }

  "CompiledPattern.attrsRead" should "include declaration extras" in {
    val cp = Compiler.compile(";(GTPredicate(speed,8.0),LTPredicate(speed,1.0))",
      "+(EQStrPredicate(flag,on),WithinCirclePredicate(lon,lat,0.0,0.0,1.0))")
    cp.attrsRead shouldBe Set("speed", "flag", "lon", "lat")
    cp.iso.attrsRead shouldBe cp.attrsRead
  }

  it should "include register predicates" in {
    val cp = Compiler.compileMatchOnly(
      """#(;(GTPredicate(value,60.0)["x"],^(GTAttrPredicate(level,"x"),EQAttrStrPredicate(color,"x")))){window:10}{windowType:count}""")
    cp.attrsRead shouldBe Set("value", "level", "color")
  }
}
