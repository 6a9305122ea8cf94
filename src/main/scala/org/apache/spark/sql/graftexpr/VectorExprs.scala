package org.apache.spark.sql
package graftexpr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the similarity kernels — the hot inner
  * loops of the LSH/ANN queries. These beat the `functions._` compositions
  * they replace because they run one fused primitive loop per row pair with
  * no intermediate array allocation:
  *
  *   - `jaccardSim` replaces size(array_intersect(a,b)) twice — the
  *     dominant cost of LSH candidate verification (array_intersect builds
  *     and materializes the intersection array; we only need its size);
  *   - `cosineSim` replaces three aggregate(zip_with(...)) passes with one
  *     loop accumulating dot, |a|² and |b|² together.
  *
  * One kernel per expression: each algorithm lives once, as a static
  * method of [[VectorKernel]], [[JaccardKernel]], [[TextHashKernel]] or
  * [[LevKernel]]. `eval`/`nullSafeEval` calls it, and `doGenCode` is one
  * generated call of the same method, so every expression stays inside
  * whole-stage codegen (none is `CodegenFallback`, which would split the
  * stage) and the interpreted specs test the code codegen runs (ExprSpec
  * runs every value case both ways). The kernels accumulate in element
  * order, bit-identical to the DuckDB oracle formulas (list_reduce over
  * list_zip).
  */
object VectorExprs {

  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  def jaccardSim(a: Column, b: Column): Column =
    Bridge.column(JaccardSim(Bridge.expression(a), Bridge.expression(b)))

  /** Requires both arrays SORTED ascending + distinct (sort once per row
    * upstream, merge per pair). */
  def jaccardSortedSim(a: Column, b: Column): Column =
    Bridge.column(JaccardSortedSim(Bridge.expression(a), Bridge.expression(b)))

  /** EXACT Levenshtein distance, value-identical to
    * `functions.levenshtein` at O(⌈m/64⌉·n) WORD operations instead of
    * O(m·n) cell updates — ~20× fewer ops at p119's 300-600-char
    * documents. See [[LevKernel]]. */
  def levExact(a: Column, b: Column): Column =
    Bridge.column(LevExact(Bridge.expression(a), Bridge.expression(b)))

  /** SimHash in one codegen'd pass (replaces `bits` aggregate() majority
    * votes), each element spread by an affine mix first — see
    * SimHashPack's precondition. */
  def simHashPack(hashes: Column, bits: Int,
      mixMul: Long, mixAdd: Long, mixMod: Long): Column =
    Bridge.column(SimHashPack(Bridge.expression(hashes), bits, mixMul, mixAdd, mixMod))

  /** K-lane MinHash signature in one codegen'd pass (replaces K
    * array_min(transform(...)) higher-order chains). */
  def minHashSig(hashes: Column, a: Seq[Long], b: Seq[Long], mod: Long): Column =
    Bridge.column(MinHashSig(Bridge.expression(hashes), a.toArray, b.toArray, mod))

  /** All hyperplane-LSH table buckets of an embedding in one codegen'd
    * pass (replaces numTables×numPlanes aggregate(zip_with(...)) chains). */
  def hyperplaneBuckets(emb: Column, numPlanes: Int, numTables: Int): Column =
    Bridge.column(HyperplaneBuckets(Bridge.expression(emb), numPlanes, numTables))

  /** All LSH band keys of a MinHash signature in one codegen'd pass.
    * Value-identical to the per-band `(acc*31 + element_at(sig, i)) % mod`
    * fold chain (ExprSpec-pinned) — but it references the signature
    * array ONCE. The fold formulation referenced it `K` times, and in an
    * UNPERSISTED pipeline (the streaming near-dup gate, where persist is
    * impossible) projection collapse re-inlined the whole
    * tokenHashes→sort→minHashSig chain into every reference — a
    * measured ~60× per-row blowup at sf0.1.
    */
  def bandKeys(sig: Column, bands: Int, k: Int, mod: Long): Column =
    Bridge.column(BandKeysExpr(Bridge.expression(sig), bands, k, mod))

  /** Rolling polynomial string hash in one codegen'd char loop (replaces
    * aggregate(split(s, ""), ...) — a per-CHARACTER array of strings plus a
    * higher-order fold, the dominant cost of the signature tables). */
  def polyHash(s: Column, mod: Long): Column =
    Bridge.column(PolyHash(Bridge.expression(s), mod))

  /** Distinct per-token hashes of a document in one fused pass. */
  def tokenHashes(text: Column, mod: Long): Column =
    Bridge.column(TokenHashes(Bridge.expression(text), mod))

  /** Distinct hashed word n-gram shingles in one fused pass — tokenize,
    * window, roll the hash across the window's chars (separator spaces
    * included) and dedup, with zero intermediate strings. */
  def shingleHashes(text: Column, n: Int, mod: Long): Column =
    Bridge.column(ShingleHashes(Bridge.expression(text), n, mod))

  /** Adjacent code-point bigrams in one fused pass (replaces
    * transform(sequence(1, length(s)-1), i -> substr(s, i, 2)) — a
    * higher-order lambda interpreted per element, the dominant cost of
    * the corpus-LM symbolization). */
  def charBigrams(text: Column): Column =
    Bridge.column(CharBigrams(Bridge.expression(text)))
}

/** cos(a, b) over array<float> with double accumulation in element order. */
final case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.VectorKernel.cosine($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Jaccard similarity of two distinct bigint arrays: |a∩b| counted through
  * a primitive open-addressing probe ([[JaccardKernel]]) — no boxing, no
  * intersection array. Codegen calls the static kernel directly, so the
  * whole loop is JIT-compiled primitive code.
  */
final case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardKernel.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.JaccardKernel.jaccard($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
}

/** Jaccard over SORTED distinct bigint arrays: two-pointer merge, O(n+m)
  * with zero allocation per pair — the cheapest possible verification
  * kernel when the signature table is sorted once upstream.
  */
final case class JaccardSortedSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardKernel.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.JaccardKernel.jaccardSorted($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedSim =
    copy(left = l, right = r)
}

/** K-lane MinHash signature of a bigint-hash array: lane i is
  * min_h (a(i)*h + b(i)) % mod. One pass over the input per row — the
  * fused form of K array_min(transform(...)) chains, value-identical
  * including the empty-input case (each lane null, matching
  * array_min(empty) = null and DuckDB's list_min([]) = NULL).
  */
final case class MinHashSig(child: Expression, a: Array[Long], b: Array[Long], mod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    VectorKernel.minHashSig(input.asInstanceOf[ArrayData], a, b, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", a, "long[]")
    val bRef = ctx.addReferenceObj("mhB", b, "long[]")
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.VectorKernel.minHashSig($xs, $aRef, $bRef, ${mod}L);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** LSH band keys of a k-wide signature in one pass: band b's key folds
  * `(acc*31 + sig[b*rows + r]) % mod` over its rows = k/bands slice from
  * seed b. Null semantics mirror the element_at fold it replaces
  * EXACTLY (ExprSpec-pinned): a null signature lane — or a lane past the
  * array's end, when the sig is shorter than k — nulls its band's key,
  * and a NULL signature array yields an array of `bands` null keys (the
  * fold's array(...) of null folds), NOT a null array — saltedBands'
  * posexplode cardinality depends on that.
  */
final case class BandKeysExpr(child: Expression, bands: Int, k: Int, mod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    VectorKernel.bandKeys(child.eval(input).asInstanceOf[ArrayData], bands, k, mod)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  org.apache.spark.sql.graftexpr.VectorKernel.bandKeys(
      |    ${c.isNull} ? null : ${c.value}, $bands, $k, ${mod}L);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): BandKeysExpr =
    copy(child = c)
}

/** SimHash of a bigint-hash array in ONE pass: bit j of the result is
  * set iff more elements have bit j set than unset. Fused form of the
  * independent per-bit aggregate(...) majority votes it replaces (one
  * loop, a vote counter per bit) — value-identical including the edge
  * semantics of the Column formulation: a null element votes -1 on every
  * bit (when(null,1).otherwise(-1)), and a negative shifted value's `% 2`
  * remainder is -1, which is != 1 and also votes -1 (ExprSpec-pinned).
  *
  * Each element is first spread to `mixMod`'s bit width via the affine
  * mix (h*mixMul + mixAdd) % mixMod, so a narrow (31-bit) token hash can
  * vote on a wide (61-bit) signature. PRECONDITION: elements lie in
  * [0, 2^31) — within that domain the mix cannot overflow a long, which
  * keeps this expression, the HOF twin (ANSI-mode arithmetic) and the
  * DuckDB oracle bit-identical.
  */
final case class SimHashPack(child: Expression, bits: Int,
    mixMul: Long, mixAdd: Long, mixMod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    VectorKernel.simHash(input.asInstanceOf[ArrayData], bits, mixMul, mixAdd, mixMod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.VectorKernel.simHash(" +
        s"$xs, $bits, ${mixMul}L, ${mixAdd}L, ${mixMod}L);")

  override protected def withNewChildInternal(c: Expression): SimHashPack =
    copy(child = c)
}

/** All `numTables` hyperplane-LSH buckets of a float embedding in one
  * fused pass: table t's bucket packs the sign bits of the projections
  * onto planes g = t*numPlanes+p, where component (g, i) is the
  * deterministic hash ((g*31 + i) * 2654435761 % 1000003)/1000003 - 0.5.
  * Projection accumulates in element order — bit-identical to the
  * aggregate(zip_with(...)) formulation and the DuckDB list_reduce twin.
  */
final case class HyperplaneBuckets(child: Expression, numPlanes: Int, numTables: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorKernel.hyperplaneBuckets(input.asInstanceOf[ArrayData], numPlanes, numTables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.VectorKernel.hyperplaneBuckets($xs, $numPlanes, $numTables);")

  override protected def withNewChildInternal(c: Expression): HyperplaneBuckets =
    copy(child = c)
}

/** text → long polynomial hash: acc = (acc*31 + char) % mod over the chars
  * — value-identical to aggregate(split(s, ""), 0, (acc, c) =>
  * (acc*31 + ascii(c)) % mod) on the oracle charset (ExprSpec-pinned),
  * without materializing a string per character.
  */
final case class PolyHash(child: Expression, mod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.polyHash(input.asInstanceOf[UTF8String], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.TextHashKernel.polyHash($s, ${mod}L);")

  override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
}

/** text → distinct per-token hashes (first-occurrence order), the fused
  * form of array_distinct(transform(split(text, " "), polyHash)).
  */
final case class TokenHashes(child: Expression, mod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.tokenHashes(input.asInstanceOf[UTF8String], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.TextHashKernel.tokenHashes($s, ${mod}L);")

  override protected def withNewChildInternal(c: Expression): TokenHashes = copy(child = c)
}

/** text → distinct hashed word n-gram shingles (first-occurrence order):
  * the window hash rolls across the tokens' chars with the joining spaces
  * folded in, value-identical to hashing the concat_ws(" ", ...) gram.
  * Windows are i = 0..len-n-1 (the shingle count is len-n, matching the
  * SQL twin); len ≤ n yields the empty array.
  */
final case class ShingleHashes(child: Expression, n: Int, mod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.shingleHashes(input.asInstanceOf[UTF8String], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.TextHashKernel.shingleHashes($s, $n, ${mod}L);")

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** text → adjacent code-point bigrams (2-code-point strings), value-
  * identical to transform(sequence(1, length(s) - 1), i -> substr(s, i, 2))
  * — Spark's substr/length count CODE POINTS, as do DuckDB's
  * substring/len twins, so parity holds on non-BMP text (ExprSpec pins
  * it) — without per-element lambda interpretation.
  */
final case class CharBigrams(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.charBigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.TextHashKernel.charBigrams($s);")

  override protected def withNewChildInternal(c: Expression): CharBigrams = copy(child = c)
}

/** Static kernels of the array expressions above, shared by eval and
  * codegen (the [[JaccardKernel]] pattern): each algorithm is written once
  * and the generated code calls it, so the interpreted specs test the
  * code whole-stage codegen runs.
  */
object VectorKernel {

  /** cos(x, y) over the common prefix; double accumulation in element order. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    // zero-norm → 0.0, mirroring SimilarityOps.cosineJvm (r13 advice):
    // NaN would poison every downstream comparison, and the two paths
    // must agree bit-for-bit on any input that can reach both
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Fold one hash into every MinHash lane: mins(k) = min(mins(k),
    * (a(k)*h + b(k)) % mod). Also the streaming fold's step
    * (graft.ops.SketchOps.foldMinHash).
    */
  def minHashLanes(mins: Array[Long], h: Long, a: Array[Long], b: Array[Long], mod: Long): Unit = {
    var k = 0
    while (k < mins.length) {
      val v = (a(k) * h + b(k)) % mod
      if (v < mins(k)) mins(k) = v
      k += 1
    }
  }

  def minHashSig(xs: ArrayData, a: Array[Long], b: Array[Long], mod: Long): ArrayData = {
    val n = xs.numElements()
    // null elements are skipped like the array_min(transform(...)) chain
    // (a null hash nulls its lane value; array_min ignores nulls)
    val out = new Array[Long](a.length)
    java.util.Arrays.fill(out, Long.MaxValue)
    var valid = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        valid += 1
        minHashLanes(out, xs.getLong(i), a, b, mod)
      }
      i += 1
    }
    if (valid == 0) new GenericArrayData(new Array[Any](a.length))
    else UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Band keys of `sig`; a null `sig` yields `bands` null keys. */
  def bandKeys(sig: ArrayData, bands: Int, k: Int, mod: Long): ArrayData = {
    if (sig == null) return new GenericArrayData(new Array[Any](bands))
    val n = sig.numElements()
    val rows = k / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var nulled = false
      var acc = b.toLong
      var r = 0
      while (r < rows && !nulled) {
        val idx = b * rows + r
        if (idx >= n || sig.isNullAt(idx)) nulled = true
        else acc = (acc * 31 + sig.getLong(idx)) % mod
        r += 1
      }
      out(b) = if (nulled) null else java.lang.Long.valueOf(acc)
      b += 1
    }
    new GenericArrayData(out)
  }

  def simHash(xs: ArrayData, bits: Int, mixMul: Long, mixAdd: Long, mixMod: Long): Long = {
    val n = xs.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) {
        var j = 0
        while (j < bits) { votes(j) -= 1; j += 1 }
      } else {
        val h = (xs.getLong(i) * mixMul + mixAdd) % mixMod
        var j = 0
        while (j < bits) {
          if (((h >> j) % 2) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  def hyperplaneBuckets(xs: ArrayData, numPlanes: Int, numTables: Int): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Long](numTables)
    // a null element nulls every projection in the zip_with/aggregate
    // formulation (null > 0 is false) → every bit 0 → all buckets 0
    var i0 = 0
    while (i0 < n) {
      if (xs.isNullAt(i0)) return UnsafeArrayData.fromPrimitiveArray(out)
      i0 += 1
    }
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var p = 0
      while (p < numPlanes) {
        val g = t * numPlanes + p
        var proj = 0.0
        var i = 0
        while (i < n) {
          val comp = ((g * 31L + i) * 2654435761L % 1000003L).toDouble / 1000003d - 0.5
          proj += xs.getFloat(i).toDouble * comp
          i += 1
        }
        if (proj > 0) bucket += (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Primitive text-hashing kernel shared by eval and codegen.
  *
  * Character model: one fold step per CODE POINT, adding the code point's
  * value — exactly what the replaced HOF formulation computed (Spark's
  * split(s, "") yields one element per code point and ascii() returns the
  * code point; DuckDB's string_split/ascii twins do the same), so parity
  * holds on non-BMP text too (ExprSpec pins emoji/accent cases).
  */
object TextHashKernel {

  /** Fold js[from, until) into acc — one step per code point. */
  private def foldChars(js: String, from: Int, until: Int, acc0: Long, mod: Long): Long = {
    var acc = acc0
    var i = from
    while (i < until) {
      val cp = js.codePointAt(i)
      acc = (acc * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** First-occurrence-order distinct collector over primitive longs:
    * open-addressing membership (no boxing, O(1) amortized per element —
    * a 10k-token document must not pay a quadratic scan).
    */
  private final class DistinctLongs(maxSize: Int) {
    private var cap = 4
    while (cap < maxSize * 2) cap <<= 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val used = new Array[Boolean](cap)
    val out = new Array[Long](math.max(maxSize, 1))
    var cnt = 0
    def add(x: Long): Unit = {
      var h = JaccardKernel.mix(x) & mask
      while (used(h) && keys(h) != x) h = (h + 1) & mask
      if (!used(h)) { used(h) = true; keys(h) = x; out(cnt) = x; cnt += 1 }
    }
    def result: ArrayData =
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, cnt))
  }

  def polyHash(s: UTF8String, mod: Long): Long = polyHash(s.toString, mod)

  /** [[polyHash]] of a JVM string — the fold behind TextOps.polyHashJvm. */
  def polyHash(js: String, mod: Long): Long = foldChars(js, 0, js.length, 0L, mod)

  def tokenHashes(s: UTF8String, mod: Long): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val d = new DistinctLongs(toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      d.add(foldChars(t, 0, t.length, 0L, mod))
      i += 1
    }
    d.result
  }

  def shingleHashes(s: UTF8String, n: Int, mod: Long): ArrayData = {
    val toks = s.toString.split(" ", -1)
    if (toks.length <= n)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val m = toks.length - n
    val d = new DistinctLongs(m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < n) {
        if (j > 0) acc = (acc * 31 + ' ') % mod
        val t = toks(i + j)
        acc = foldChars(t, 0, t.length, acc, mod)
        j += 1
      }
      d.add(acc)
      i += 1
    }
    d.result
  }

  /** Adjacent code-point bigrams: out(k) spans code points k and k+1. */
  def charBigrams(s: UTF8String): ArrayData = {
    val js = s.toString
    val len = js.length
    val n = js.codePointCount(0, len)
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 1)
    var pk = 0 // char offset of code point k
    var pk1 = Character.charCount(js.codePointAt(0)) // offset of k+1
    var k = 0
    while (k < n - 1) {
      val pk2 =
        if (pk1 < len) pk1 + Character.charCount(js.codePointAt(pk1)) else pk1
      out(k) = UTF8String.fromString(js.substring(pk, pk2))
      pk = pk1
      pk1 = pk2
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Primitive long-set intersection kernel: power-of-two open addressing
  * with linear probing, no boxing. Inputs are distinct-element arrays.
  */
object JaccardKernel {

  /** Two-pointer merge intersection over sorted distinct arrays. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val nx = a.numElements()
    val ny = b.numElements()
    if (nx == 0 && ny == 0) return 1.0
    if (nx == 0 || ny == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (nx + ny - inter).toDouble
  }

  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val nx = a.numElements()
    val ny = b.numElements()
    if (nx == 0 && ny == 0) return 1.0 // both empty: identical sets
    if (nx == 0 || ny == 0) return 0.0
    var cap = 4
    while (cap < nx * 2) cap <<= 1
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var i = 0
    while (i < nx) {
      val x = a.getLong(i)
      var h = mix(x) & mask
      while (used(h) && keys(h) != x) h = (h + 1) & mask
      keys(h) = x
      used(h) = true
      i += 1
    }
    var inter = 0
    i = 0
    while (i < ny) {
      val x = b.getLong(i)
      var h = mix(x) & mask
      while (used(h) && keys(h) != x) h = (h + 1) & mask
      if (used(h)) inter += 1
      i += 1
    }
    inter.toDouble / (nx + ny - inter).toDouble
  }

  @inline private[graftexpr] def mix(x: Long): Int = {
    val h = x * -7046029254386353131L // 0x9E3779B97F4A7C15
    ((h ^ (h >>> 32)) & 0x7fffffff).toInt
  }
}

/** Exact Levenshtein, bit-parallel — semantics of `functions.levenshtein`
  * (code-point edits, matching DuckDB's `levenshtein`), computed in
  * O(⌈m/64⌉·n) word operations. The kernel is Myers/Hyyrö — see [[LevKernel]].
  */
final case class LevExact(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    LevKernel.exact(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftexpr.LevKernel.exact($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LevExact =
    copy(left = l, right = r)
}

/** Levenshtein kernel: `exact` strips the common flanks and runs
  * blocked bit-parallel Myers ([[myers]]).
  */
object LevKernel {

  def exact(a: UTF8String, b: UTF8String): Int = {
    if (a.equals(b)) return 0
    // code points, NOT UTF-16 units — functions.levenshtein edits code
    // points, and surrogate pairs must count as one edit
    var s = a.toString.codePoints().toArray
    var t = b.toString.codePoints().toArray
    // strip the common prefix/suffix (edits never cross an identical
    // flank) — near-free, and collapses identical-but-for-a-span pairs
    var lo = 0
    val minLen = math.min(s.length, t.length)
    while (lo < minLen && s(lo) == t(lo)) lo += 1
    var hiS = s.length
    var hiT = t.length
    while (hiS > lo && hiT > lo && s(hiS - 1) == t(hiT - 1)) { hiS -= 1; hiT -= 1 }
    s = java.util.Arrays.copyOfRange(s, lo, hiS)
    t = java.util.Arrays.copyOfRange(t, lo, hiT)
    if (s.length == 0) return t.length
    if (t.length == 0) return s.length
    // pattern = shorter string (fewer 64-row blocks per column)
    if (s.length <= t.length) myers(s, t) else myers(t, s)
  }

  /** Myers' bit-parallel Levenshtein (blocked for m > 64, Hyyrö's
    * formulation): the DP column's vertical deltas live in two
    * bit-vectors (Pv = +1 rows, Mv = −1 rows), each text character
    * advances ALL m rows of the column in O(⌈m/64⌉) word operations,
    * and the running score tracks row m through the horizontal delta
    * out of the top block. Chosen over an Ukkonen band after
    * measurement (SCALE.md round-14 addendum 1): p119's ≥0.9-Jaccard
    * candidates are token-set similar but character-wise far apart
    * (median distance ≈ 0.7·len), where a doubling band costs ~2× the
    * classic DP while this is distance-independent.
    */
  private def myers(p: Array[Int], t: Array[Int]): Int = {
    val m = p.length
    val w = (m + 63) >>> 6
    // Peq: per distinct pattern code point, the bitmask of its rows
    val peq = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    while (i < m) {
      var arr = peq.get(p(i))
      if (arr == null) { arr = new Array[Long](w); peq.put(p(i), arr) }
      arr(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    val zeros = new Array[Long](w)
    val pv = new Array[Long](w)
    java.util.Arrays.fill(pv, -1L)
    val mv = new Array[Long](w)
    var score = m
    val lastTop = 1L << ((m - 1) & 63) // row m lives at this bit of the top block
    var j = 0
    val n = t.length
    while (j < n) {
      val eqs = { val e = peq.get(t(j)); if (e == null) zeros else e }
      var hin = 1 // D[0][j] = j: the boundary row always steps +1
      var k = 0
      while (k < w) {
        val eq0 = eqs(k)
        val pv0 = pv(k)
        val mv0 = mv(k)
        val xv = eq0 | mv0
        val eqIn = if (hin < 0) eq0 | 1L else eq0
        val xh = (((eqIn & pv0) + pv0) ^ pv0) | eqIn
        var ph = mv0 | ~(xh | pv0)
        var mh = pv0 & xh
        val top = if (k == w - 1) lastTop else java.lang.Long.MIN_VALUE
        val hout = (if ((ph & top) != 0L) 1 else 0) - (if ((mh & top) != 0L) 1 else 0)
        ph <<= 1
        mh <<= 1
        if (hin > 0) ph |= 1L
        if (hin < 0) mh |= 1L
        pv(k) = mh | ~(xv | ph)
        mv(k) = ph & xv
        hin = hout
        k += 1
      }
      score += hin // hout of the top block = Δ of row m this column
      j += 1
    }
    score
  }
}
