package graft.cef

/** End-to-end pattern compilation: SRE text → selection rewrite → SNFA →
  * ε-elimination → minterm alphabet → streaming SDFA.
  *
  * This is the plan-time "query compiler" of the engine (reference pipeline
  * traced in SURVEY.md §3.2: SREParser → SelectionUtils → SNFAUtils →
  * LogicUtils minterms → Determinizer). It runs on the driver; the compiled
  * automaton is a small immutable value that ships to executors inside the
  * task closure (the Spark analogue of the reference broadcasting its model
  * to keyed Flink instances).
  */
final case class CompiledPattern(
    pattern: Pattern,
    /** ε-free non-streaming SNFA — match-enumeration runtime. */
    snfa: Snfa,
    /** streaming SDFA (TRUE* prefix) — detection/forecasting runtime. */
    sdfa: Sdfa) {
  def iso: Isomorphism = sdfa.iso
  def window: Long = pattern.window
  def windowKind: WindowKind = pattern.windowKind
  /** Event attributes any runtime of this pattern reads: the symbol
    * predicates (declaration extras included) and the SNFA guards
    * (register predicates included). The keyed operators ship only these. */
  def attrsRead: Set[String] = iso.attrsRead ++ snfa.predicates.flatMap(_.attrsRead)
}

object Compiler {

  def compile(patternText: String, declarationsText: String = ""): CompiledPattern =
    compilePattern(SreParser.parsePattern(patternText), declarationsText)

  def compilePattern(pat: Pattern, declarationsText: String = ""): CompiledPattern = {
    val (extras, exclusives) = SreParser.parseDeclarations(declarationsText)
    val rewritten = Selection.rewrite(pat.formula)
    val nfa = Thompson.eliminateEpsilon(Thompson.build(rewritten, exclusives))
    val reads = nfa.trans.flatMap(_.guard).flatMap(_.registersRead).toSet
    if (reads.nonEmpty)
      throw new IllegalArgumentException(
        s"pattern reads registers ${reads.mkString(",")}: register (SREMO) semantics are " +
          "runtime-dependent and cannot embed in the SDFA minterm alphabet — " +
          "use Compiler.compileMatchOnly and the match-enumeration runtime " +
          "(the reference routes these through NSRA/DSRA the same way, SURVEY.md §2.4 C10)")
    val streamNfa = Thompson.streaming(nfa)
    val preds = streamNfa.predicates ++ extras + Predicate.True
    val iso = Isomorphism.build(preds, exclusives)
    val sdfa = Sdfa.determinize(streamNfa, iso)
    CompiledPattern(pat, nfa, sdfa)
  }

  /** C10: SREMO (register) patterns compile to the ε-free SNFA only — the
    * nondeterministic match-enumeration runtime evaluates register
    * predicates against each thread's valuation (reference NSRA,
    * fsm/symbolic/sra/nsra/NSRAUtils.scala). Count-windowed register
    * patterns additionally run on the deterministic anchor-windowed DSRA
    * runtime ([[DsraRun]], reference dsra/DSRAStreaming.scala).
    * The placeholder SDFA rejects everything; only `matches`/DSRA-style
    * runtimes are valid for these patterns.
    */
  def compileMatchOnly(patternText: String, declarationsText: String = ""): CompiledPattern = {
    val pat = SreParser.parsePattern(patternText)
    val (extras, exclusives) = SreParser.parseDeclarations(declarationsText)
    val rewritten = Selection.rewrite(pat.formula)
    val nfa = Thompson.eliminateEpsilon(Thompson.build(rewritten, exclusives))
    val iso = Isomorphism.build(Set(Predicate.True), Set.empty)
    val reject = Sdfa(Array(Array.fill(iso.size)(0)), Array(Array.fill(iso.size)(false)),
      0, Set.empty, iso)
    CompiledPattern(pat, nfa, reject)
  }
}
