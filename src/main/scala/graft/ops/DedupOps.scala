package graft.ops

import graft.cef.spark.Keyed
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash), MinHash+LSH, SimHash and
  * n-gram Jaccard. All signature computation is per-row `functions._`
  * expressions (codegen'd, embarrassingly parallel); the only shuffles
  * are the final groupBy/join on signature keys — at 100 TB the LSH
  * band join touches only candidate buckets instead of the O(n²) pair
  * space, which is the whole point of the design.
  */
object DedupOps {
  import TextOps._

  // ----------------------------------------------------------------- exact

  /** Exact dedup: canonical id = min doc id sharing the same md5(text).
    * One shuffle on the 32-char hash; survives any scale (the groupBy
    * key is uniform).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol), md5(col(textCol)).as("text_md5"))
    val canon = hashed.groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("canonical_id"))
    hashed.join(canon, "text_md5")
      .select(col(idCol), col("text_md5"), col("canonical_id"),
        (col(idCol) =!= col("canonical_id")).as("is_dup"))
  }

  /** Cross-document duplicated token-window detection — the span-level
    * primitive of exact substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22): fingerprint
    * every `width`-token rolling window, keep fingerprints occurring in
    * MORE than one document, emit every (doc, position) whose window is
    * shared (the spans a substring-dedup pass would cut).
    *
    * Scale shape: the fingerprinted window table feeds both the
    * per-fingerprint distinct-doc count and the emit join, so it is
    * persisted for the query's duration and auto-released after it
    * (the p08/p18 signature-cache discipline via
    * [[graft.ops.Release.afterFirstUse]]) — without it the rolling-hash
    * pass over the corpus runs twice. One shuffle keyed on the
    * fingerprint for the count; output is duplication-bound, never
    * all-pairs — a fingerprint shared by m docs emits m rows, not m²
    * pairs.
    */
  def dupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 16): DataFrame = {
    val w = Release.afterFirstUse(docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= width)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - width),
          j => TextOps.polyHash(array_join(slice(col("toks"), j + 1, lit(width)), " "))))
          .as(Seq("pos", "h"))))
    val dup = w.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
    w.join(dup, "h")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"),
        col("nd").cast("long").as("nd"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): hash every `gram`-token window, then from each run of
    * `window` consecutive gram hashes keep only the minimum (rightmost
    * on ties — the paper's robust rule, realized here by an integer
    * key `h·2³³ + (2³³−1−pos)` whose min IS (min h, max pos); positions
    * up to 2³² per doc, the same headroom the first-occurrence encoding
    * uses). Guarantees every shared run of ≥ gram+window−1 tokens
    * yields a shared fingerprint while indexing only ~2/(window+1) of
    * the grams — the sparse index that makes [[dupSpans]]-style span
    * matching affordable at corpus scale. `minDocs` filters the output
    * to fingerprints selected in at least that many documents (2 = the
    * shared-only index; 1 = every selected fingerprint, the density
    * view p82 audits).
    *
    * Scale shape: selection happens INSIDE the row (per-doc array
    * expressions — no window shuffle, no self-join); the only shuffles
    * are the fingerprint-frequency agg and the join back, both on the
    * ~2/(window+1)-sparse fingerprint stream.
    */
  def winnow(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gram: Int = 8,
      window: Int = 4,
      minDocs: Int = 2): DataFrame = {
    val Shift = 8589934592L // 2^33
    val base = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= gram + window - 1)
      .select(col("doc_id"),
        transform(
          transform(sequence(lit(0), size(col("toks")) - gram),
            j => TextOps.polyHash(array_join(slice(col("toks"), j + 1, lit(gram)), " "))),
          (h, j) => h * Shift + (lit(Shift - 1) - j)).as("keys"))
    val fps = Release.afterFirstUse(base
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("keys")) - window),
          p => array_min(slice(col("keys"), p + 1, lit(window)))))).as("key"))
      .select(col("doc_id"),
        expr(s"key div $Shift").as("h"),
        (lit(Shift - 1) - expr(s"key % $Shift")).cast("long").as("pos")))
    val dup = fps.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
    fps.join(dup, "h")
      .select(col("doc_id"), col("pos"), col("h"), col("nd").cast("long").as("nd"))
  }

  // --------------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct), hashed. Shingle count is
    * `len - n` on both engines. Native fused pass (tokenize → window →
    * roll the hash across the window's chars → dedup, zero intermediate
    * strings; ExprSpec pins value equality against the HOF formulation);
    * the null-text → empty-array case of the old when() guard is kept.
    */
  def shingleHashes(text: Column, n: Int): Column =
    when(text.isNotNull,
      org.apache.spark.sql.graftexpr.VectorExprs.shingleHashes(text, n, HashMod))
      .otherwise(array().cast("array<bigint>"))

  /** SQL twin of [[shingleHashes]] over the word list `toks`, which the
    * calling query puts in scope (`string_split(text, ' ') AS toks`). */
  def shingleHashesSql(n: Int): String = {
    val parts = (0 until n).map(j => s"toks[i + $j + 1]").mkString(" || ' ' || ")
    s"""list_distinct(list_transform(
       |  list_transform(range(greatest(len(toks) - $n, 0)), i -> $parts),
       |  g -> ${polyHashSql("g")}))""".stripMargin
  }

  // ---------------------------------------------------------------- minhash

  /** MinHash parameters: K = 64 independent linear hashes (a*h + b) % M
    * from the universal family, with deterministically derived distinct
    * coefficients so Spark and the SQL oracle agree (the SQL twins embed
    * the same values as literals). a ≤ 64M and h < M ≈ 2³⁰ keep a*h + b
    * far below 2⁶³ — DuckDB errors on overflow where Spark wraps.
    */
  val MinHashK = 64
  val MinHashA: Seq[Long] = (0 until MinHashK).map(i => (1000003L * (i + 1) + 12345L) % HashMod)
  val MinHashB: Seq[Long] = (0 until MinHashK).map(i => (999983L * (i + 7) + 54321L) % HashMod)

  /** Band plans, tuned per use (s-curve threshold ≈ (1/bands)^(rows/K)):
    *   - near-dup pairs (p06): 4 bands × 16 rows → threshold ≈ 0.92,
    *     matched to the 0.9 Jaccard filter so candidates ≈ true pairs;
    *   - NN candidates (p08): 16 bands × 4 rows → threshold ≈ 0.5,
    *     recall-leaning for nearest-neighbor search.
    */
  val PairBands = 4
  val NnBands = 16

  /** Hot-bucket probe limit: any (band, key) bucket larger than this is
    * split into deterministic salt blocks and candidates only form
    * within a block — bounds every LSH self-join at O(cap²) per bucket
    * regardless of how degenerate the corpus is (the 100 TB guard).
    */
  val BandBucketCap = 1000

  /** K-wide MinHash signature of a distinct-hash set column — a native
    * fused Catalyst expression (one pass over the hashes for all 64
    * lanes, whole-stage codegen; value-identical to the
    * array_min(transform(...)) per-lane formulation, ExprSpec-pinned).
    */
  def minHashSig(hashes: Column): Column =
    org.apache.spark.sql.graftexpr.VectorExprs.minHashSig(hashes, MinHashA, MinHashB, HashMod)

  def minHashSigSql(hashesExpr: String): String =
    (0 until MinHashK).map { i =>
      s"list_min(list_transform($hashesExpr, h -> (${MinHashA(i)} * h + ${MinHashB(i)}) % $HashMod))"
    }.mkString("[", ", ", "]")

  /** LSH band keys from a K-wide signature: `bands` values, each the
    * poly-combination of its K/bands rows — docs sharing any band key
    * are candidate pairs. Native fused pass (ExprSpec pins value
    * equality against the element_at fold it replaces): the fold
    * referenced `sig` K times, and in unpersisted pipelines projection
    * collapse re-inlined the whole signature chain into every
    * reference — a measured ~60× per-row blowup in the streaming
    * near-dup gate, the one signature consumer that cannot persist.
    */
  def bandKeys(sig: Column, bands: Int): Column =
    org.apache.spark.sql.graftexpr.VectorExprs.bandKeys(sig, bands, MinHashK, HashMod)

  /** The pre-fusion fold formulation — kept as the ExprSpec oracle. */
  private[graft] def bandKeysHof(sig: Column, bands: Int): Column = {
    val rows = MinHashK / bands
    array((0 until bands).map { b =>
      (0 until rows).foldLeft(lit(b.toLong): Column)((acc, r) =>
        (acc * 31 + element_at(sig, b * rows + r + 1)) % HashMod)
    }: _*)
  }

  def bandKeysSql(sigExpr: String, bands: Int): String = {
    val rows = MinHashK / bands
    (0 until bands).map { b =>
      (0 until rows).foldLeft(s"CAST($b AS BIGINT)")((acc, r) =>
        s"(($acc) * 31 + $sigExpr[${b * rows + r + 1}]) % $HashMod")
    }.mkString("[", ", ", "]")
  }

  /** Explode a `bands` array column into (id, band, key, salt) rows with
    * the deterministic hot-bucket salt: rank within the (band, key)
    * bucket by id, blocked into groups of [[BandBucketCap]]. Joining on
    * (band, key, salt) bounds any bucket's contribution to cap² pairs.
    * The row_number shuffle is keyed identically to the candidate join
    * that follows, so it adds no extra exchange of the big table.
    */
  def saltedBands(
      sigs: DataFrame,
      idCol: String,
      arrCol: String = "bands",
      posName: String = "band",
      keyName: String = "key",
      carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(posName), col(keyName)).orderBy(col(idCol))
    // `carry` rides narrow payload columns (a simhash long, a norm) through
    // the explode so candidate verification can run directly on the band
    // join instead of joining back to the signature table
    sigs.select(col(idCol) +: carry.map(col) :+
        posexplode(col(arrCol)).as(Seq(posName, keyName)): _*)
      .withColumn("salt",
        floor((row_number().over(w) - lit(1)) / lit(BandBucketCap)).cast("long"))
  }

  /** Near-dup grouping: connected components of a pair graph labeled with
    * each component's min id — the canonicalization step a dedup pipeline
    * runs after near-dup pair generation (documents without pairs stay
    * singleton groups). Iterative min-label propagation, one shuffle per
    * round keyed on the vertex; rounds ≈ component diameter (1-2 for
    * near-dup cliques), capped at `maxIters` with a convergence check.
    * The min-label fixpoint is unique, so results are engine-independent
    * (the DuckDB twin computes the same labels by transitive closure).
    *
    * Strategy is size-aware (`algo = "auto"`, the default): the pair set
    * is COUNTED first, and when it fits the driver comfortably
    * (`localMaxEdges`, default 1M edges ≈ tens of MB of union-find state
    * and a ≤~32 MB broadcast) the components are solved by driver-side
    * union-find and applied with ONE broadcast join — zero shuffles,
    * zero iterative rounds. This is the common case even at corpus
    * scale: near-dup PAIRS are the output of LSH banding, typically
    * orders of magnitude smaller than the corpus, and the vertex table
    * itself never leaves the executors. Above the bound, iterative
    * min-label propagation with pointer jumping takes over: one shuffle
    * per round keyed on the vertex, rounds ≈ O(log diameter), capped at
    * `maxIters` with a convergence check. `algo = "pointer"` forces the
    * distributed path; `algo = "star"` switches to alternating
    * large-star/small-star ([[neardupGroupsStar]]) — the production
    * choice at extreme diameters, where its shrinking edge frontier
    * beats a |V|-sized label table per round.
    */
  def neardupGroups(
      vertices: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 20,
      algo: String = "auto",
      localMaxEdges: Long = 1000000L): DataFrame = {
    if (algo == "star")
      return neardupGroupsStar(vertices, idCol, pairs, aCol, bCol, maxIters)
    // persist the pair set FIRST: the size probe and the symmetric union
    // both read it, and upstream it is typically a whole LSH pipeline
    val p = pairs.persist()
    // the local path needs a driver-side ordering for the id type; for
    // anything else (decimal, date, …) auto keeps the distributed path,
    // which orders through least()/min() (explicit algo="local" throws)
    val localOrderable = localIdOrdering(vertices.schema(idCol).dataType).isDefined
    if (algo == "local" || (algo == "auto" && localOrderable && p.count() <= localMaxEdges)) {
      // unpersist even when the local path throws (unsupported id type on
      // an explicit algo="local", a collect failure) — a persisted pair
      // set with no owner would pin its storage for the session
      try {
        return neardupGroupsLocal(vertices, idCol, p, aCol, bCol)
      } finally p.unpersist() // the union-find already collected the edges
    }
    val edges = p.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(p.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist()
    // localCheckpoint per round: each iteration's plan embeds the previous
    // one twice (prop + the left join), so without lineage truncation the
    // logical plan doubles per round and explodes exponentially. Each
    // superseded round's checkpoint blocks are RELEASED immediately
    // (Bridge.releaseLocalCheckpoint) — at 100 TB a pinned corpus-sized
    // label table per round is a memory-pressure scale-killer, and in a
    // shared session the retained blocks tax every later query.
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .localCheckpoint(true)
    // Convergence witness: least() only ever decreases a label, so
    // sum(lbl) strictly decreases until the fixpoint — one cheap scan of
    // the just-materialized round instead of a join-back + count.
    // decimal(38,0) keeps the sum exact where sum(id) overflows int64.
    def lblSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
    var prevSum = lblSum(labels)
    var converged = prevSum.isEmpty // no vertices ⇒ nothing to propagate
    var it = 0
    while (!converged && it < maxIters) {
      // neighbor propagation: min label over the 1-hop neighborhood
      val prop = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      val stepped = labels.join(prop, col("id") === col("dst"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jumping: label(x) ← label(label(x)) — labels only shrink,
      // so chasing one hop through the label table each round turns the
      // O(diameter) rounds of plain propagation into O(log diameter):
      // each round is a full shuffle at scale, so the round count IS the
      // cost model (near-dup chains in real corpora are long)
      val next = stepped.as("n")
        .join(stepped.select(col("id").as("lid"), col("lbl").as("plbl")),
          col("n.lbl") === col("lid"), "left")
        .select(col("n.id").as("id"),
          least(col("n.lbl"), coalesce(col("plbl"), col("n.lbl"))).as("lbl"))
        .localCheckpoint(true)
      val s = lblSum(next)
      it += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc] round $it sum ${s.orNull} (prev ${prevSum.orNull})")
      if (s.zip(prevSum).exists { case (a, b) => a.compareTo(b) == 0 }) {
        // fixpoint: next is content-identical to labels — drop it and keep
        // the already-materialized previous round as the result
        org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(next)
        converged = true
      } else {
        org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(labels)
        labels = next
        prevSum = s
      }
    }
    edges.unpersist()
    p.unpersist()
    // fail loudly rather than hand back intermediate labels: two docs of
    // one component with different group_ids would silently keep
    // duplicates downstream (pointer jumping converges in O(log diameter)
    // rounds, so the default cap covers diameters up to ~2^maxIters)
    require(converged,
      s"near-dup grouping did not converge within $maxIters rounds — raise maxIters")
    labels.select(col("id").as(idCol), col("lbl").as("group_id"))
  }

  /** Driver-side comparison matching Spark's and DuckDB's SQL ordering
    * for the id types the local CC path supports. Strings compare as
    * UTF-8 BYTES (UTF8String / DuckDB semantics) — Java's String `<` is
    * UTF-16 code-unit order, which disagrees for supplementary-plane
    * characters. None ⇒ the type has no local ordering here and auto
    * stays on the distributed path.
    */
  private def localIdOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[(Any, Any) => Boolean] = dt match {
    case org.apache.spark.sql.types.StringType =>
      Some((a, b) => java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType =>
      Some((a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue)
    case _ => None
  }

  /** Driver-side union-find for pair graphs KNOWN (counted) to be small:
    * collect the edges, union-by-min with path compression (the root of
    * every set is its min id, so the min-label fixpoint falls out of the
    * union rule), then apply the edge-vertex → group mapping back with
    * one BROADCAST join. The vertex table — the thing that is actually
    * corpus-sized at 100 TB — never moves; only the LSH pair output
    * does, under the caller-enforced bound.
    *
    * Contract (shared with the distributed paths): pair endpoints should
    * be vertex ids — true by construction for every pipeline here, where
    * pairs are derived FROM the vertex corpus. To keep the strategies
    * interchangeable when a caller violates it, endpoints are FILTERED
    * against the vertex set first (one broadcast-semi scan of the vertex
    * table — the endpoint set is driver-bounded by `localMaxEdges`):
    * label propagation only ever carries labels of actual vertices, so
    * an edge with a phantom endpoint contributes nothing there, and this
    * path must not let a phantom id relay connectivity either.
    */
  private def neardupGroupsLocal(
      vertices: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val spark = vertices.sparkSession
    val dt = vertices.schema(idCol).dataType
    val lt: (Any, Any) => Boolean = localIdOrdering(dt).getOrElse(
      throw new IllegalArgumentException(s"unsupported near-dup id type $dt"))
    val edgeRows = pairs.select(col(aCol), col(bCol)).collect()
    // endpoint ids that are actual vertices: broadcast the (small,
    // counted) endpoint set against the corpus-sized vertex table — the
    // vertex table itself still never moves
    val endpoints = new java.util.HashSet[Any]()
    edgeRows.foreach { row =>
      if (row.get(0) != null) endpoints.add(row.get(0))
      if (row.get(1) != null) endpoints.add(row.get(1))
    }
    val epRows = new java.util.ArrayList[org.apache.spark.sql.Row](endpoints.size())
    endpoints.forEach(e => epRows.add(org.apache.spark.sql.Row(e)))
    val epSchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("__cc_ep", dt)))
    val valid = new java.util.HashSet[Any]()
    vertices.select(col(idCol))
      .join(broadcast(spark.createDataFrame(epRows, epSchema)),
        col(idCol) === col("__cc_ep"), "left_semi")
      .collect().foreach(r => valid.add(r.get(0)))
    val parent = new java.util.HashMap[Any, Any]()
    def root(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { // path halving
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    edgeRows.foreach { row =>
      val a = row.get(0)
      val b = row.get(1)
      if (a != null && b != null && valid.contains(a) && valid.contains(b)) {
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = root(a)
        val rb = root(b)
        if (ra != rb) {
          // union by MIN id: every root is its component's min label
          if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val mapRows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { id =>
      mapRows.add(org.apache.spark.sql.Row(id, root(id)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__cc_id", dt),
      org.apache.spark.sql.types.StructField("__cc_grp", dt)))
    val mapping = spark.createDataFrame(mapRows, schema)
    vertices.select(col(idCol))
      .join(broadcast(mapping), col(idCol) === col("__cc_id"), "left")
      .select(col(idCol), coalesce(col("__cc_grp"), col(idCol)).as("group_id"))
  }

  /** Alternating large-star/small-star connected components — the
    * production switch for EXTREME component diameters where even
    * pointer jumping's O(log d) rounds of corpus-wide shuffles hurt
    * (the MapReduce CC algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round is two
    * groupBy-min passes over the edge set; the edge set itself shrinks
    * toward the final star forest (size ≤ #non-root vertices of
    * non-singleton components), unlike label propagation whose table
    * stays |V| every round — at 100 TB the shrinking frontier is the
    * difference. Converges to the same min-label fixpoint as
    * [[neardupGroups]] (each component collapses to a star rooted at
    * its min id).
    *
    *   - large-star: every node v > u in Γ(u) re-attaches to
    *     m(u) = min(Γ(u) ∪ u) — strictly-decreasing larger endpoints,
    *     no self-loops (m ≤ u < v);
    *   - small-star: every smaller neighbor of u (and u itself)
    *     re-attaches to m(u) = min(Γ⁻(u) ∪ u).
    *
    * Edge sets are kept canonical (u > v, distinct), so the fixpoint
    * test is exact set equality (equal counts + empty `except`), not a
    * collision-prone checksum. Fixpoints of the alternation are star
    * forests: each non-root points at its component root.
    */
  def neardupGroupsStar(
      vertices: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 30): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("cu"), least(col("u"), col("mn")).as("m"))
      sym.join(m, col("u") === col("cu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // m ≤ u < v ⇒ canonical
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical input: Γ⁻(u) is exactly the v side
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val moved = e.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // m = min ⇒ v > m
      moved.union(m.select(col("u"), col("m").as("v"))) // u > m
        .distinct()
    }

    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // both sides are distinct canonical sets: equal counts + empty
      // difference ⇔ set equality (the exact fixpoint test)
      val unchanged = next.count() == edges.count() &&
        next.except(edges).isEmpty
      it += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc-star] round $it edges ${next.count()}")
      if (unchanged) {
        Bridge.releaseLocalCheckpoint(next)
        converged = true
      } else {
        Bridge.releaseLocalCheckpoint(edges)
        edges = next
      }
    }
    require(converged,
      s"star CC did not converge within $maxIters rounds — raise maxIters")
    vertices.select(col(idCol).as("id"))
      .join(edges.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("lbl"), col("id")).as("group_id"))
  }

  /** DuckDB twin of [[saltedBands]], from a CTE exposing (idCol, bands). */
  def saltedBandsSql(fromCte: String, idCol: String, bands: Int): String =
    s"""SELECT $idCol, band, key,
       |       CAST(floor((row_number() OVER (PARTITION BY band, key ORDER BY $idCol) - 1)
       |            / $BandBucketCap.0) AS BIGINT) AS salt
       |FROM (SELECT $idCol, unnest(range($bands)) AS band, unnest(bands) AS key
       |      FROM $fromCte)""".stripMargin

  // ---------------------------------------------------------------- simhash

  /** 61-bit signature: 31 bits (the token-hash width) saturates its
    * 8-bit LSH bands once the corpus passes ~10⁴ docs — candidate pairs
    * per bucket grow quadratically (the sf1 sweep measured p18 at 17×
    * for 10× data). 61 bits gives 16/16/16/13 bands whose buckets stay
    * sparse far past 10⁶ docs (Manku et al., WWW'07 use 64-bit
    * signatures with the same 4-band pigeonhole). 61 = the Mersenne
    * prime modulus width of the bit-spreading mix below; bit 62 stays
    * clear so signatures, xors and hammings are non-negative in both
    * engines.
    */
  val SimHashBits = 61

  /** Affine mix spreading a 31-bit token hash over the 61-bit vote
    * domain: (h * Mul + Add) % (2^61 - 1). Within the token-hash domain
    * [0, 2^31) this cannot overflow a signed 64-bit intermediate, so
    * Spark (ANSI), the fused native expression and DuckDB agree exactly.
    */
  val SimHashMixMul = 1315423911L
  val SimHashMixAdd = 2654435761L
  val SimHashMixMod = (1L << 61) - 1

  /** SimHash over token hashes: bit j of the result is set iff more
    * (mixed) token hashes have bit j set than unset. One fused native
    * pass over the hashes with a vote counter per bit
    * (graftexpr.SimHashPack; ExprSpec pins value equality against the
    * per-bit aggregate() majority votes it replaces).
    */
  def simHash(hashes: Column): Column =
    org.apache.spark.sql.graftexpr.VectorExprs.simHashPack(
      hashes, SimHashBits, SimHashMixMul, SimHashMixAdd, SimHashMixMod)

  /** The HOF formulation the native expression replaces (ExprSpec pin). */
  def simHashHof(hashes: Column): Column =
    (0 until SimHashBits).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(
          shiftright((h * SimHashMixMul + SimHashMixAdd) % SimHashMixMod, j) % 2 === 1,
          1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def simHashSql(hashesExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range($SimHashBits), j ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform($hashesExpr, h ->
       |             CASE WHEN (((h * $SimHashMixMul + $SimHashMixAdd) % $SimHashMixMod) >> j) & 1 = 1
       |                  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
       |           (a, b) -> a + b) > 0
       |    THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
       |  (a, b) -> a + b)""".stripMargin

  /** Hamming distance between two SimHash longs (popcount of xor). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** (offset, width) of the 4 signature bands: by pigeonhole any pair
    * within hamming distance 3 shares at least one band. 16-bit bands
    * keep band buckets sparse past 10⁶ docs (50k docs ⇒ <1 doc per
    * 16-bit bucket on average).
    */
  val SimHashBandSplit: Seq[(Int, Int)] =
    Seq((0, 16), (16, 16), (32, 16), (48, 13))

  // ---------------------------------------------------------------- jaccard

  /** Jaccard similarity of two distinct-hash arrays — a native Catalyst
    * expression counting |a∩b| by hash-set membership without
    * materializing the intersection array (graftexpr.JaccardSim; this is
    * the hot loop of LSH candidate verification). Values are identical to
    * the array_intersect formulation: counts are integers, the division
    * is one double op.
    */
  def jaccard(a: Column, b: Column): Column =
    org.apache.spark.sql.graftexpr.VectorExprs.jaccardSim(a, b)

  def jaccardSql(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE)"

  // ------------------------------------------- exact substring scrubbing

  /** Cross-occurrence duplicated-substring REMOVAL — the rewrite half of
    * exact substring dedup (Lee et al. ACL'22 keep the first occurrence
    * and cut the rest; [[dupSpans]] is the detection half). Every
    * `width`-token rolling window is fingerprinted; for fingerprints
    * occurring more than once (across OR within documents), every
    * instance except the globally-first (smallest (doc, pos)) marks its
    * `width` token positions for removal, and documents are reassembled
    * from the surviving tokens.
    *
    * Scale shape: one fingerprint shuffle (partially-aggregable
    * min+count per hash — never a window over the hash), an equi join
    * back, and a duplication-bounded coverage explode (×width rows per
    * REMOVED window only); reassembly is one doc-keyed agg bounded by
    * document length. The fingerprint table feeds both the argmin agg
    * and the emit join, so it is persisted for the query and
    * auto-released (the dupSpans discipline).
    */
  def substrScrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 16): DataFrame = {
    val toked = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
    val w = Release.afterFirstUse(toked
      .filter(size(col("toks")) >= width)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - width),
          j => TextOps.polyHash(array_join(slice(col("toks"), j + 1, lit(width)), " "))))
          .as(Seq("pos", "h")))
      // first-occurrence key: lexicographic (doc_id, pos) struct min —
      // NOT doc_id·2³² + pos, which silently overflows int64 once
      // doc_ids pass 2³¹ (e.g. world-offset ids at scale; ANSI mode
      // turns that into a query error). Struct min/inequality compare
      // lexicographically in both engines and carry no range limit.
      .withColumn("enc", struct(col("doc_id").as("d"), col("pos").as("i"))))
    val firsts = w.groupBy(col("h"))
      .agg(min(col("enc")).as("first"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val cov = w.join(firsts, "h")
      .filter(col("enc") > col("first"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(width - 1))).as("p"))
      .distinct()
      .withColumn("rm", lit(1))
    toked
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tk")))
      .join(cov, Seq("doc_id", "p"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("rm")).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rm").isNull, struct(col("p"), col("tk"))))),
            x => x.getField("tk")),
          " ").as("text_scrub"))
  }

  // ------------------------------------------- paragraph/chunk-level dedup

  /** CCNet-style paragraph dedup (Wenzek et al. 2020 §3.1): hash every
    * paragraph, keep only the globally-FIRST occurrence of each hash
    * (smallest (doc, position)), and reassemble each document from its
    * surviving paragraphs — cross-document boilerplate disappears while
    * the documents survive. "Paragraph" here is a fixed non-overlapping
    * window of `w` tokens (the corpus is single-space text with no
    * paragraph marks; a real corpus would split on '\n\n' — the
    * dedup/reassembly plumbing is identical).
    *
    * Scale shape: first-occurrence is the lexicographic min(doc, idx)
    * struct per chunk md5 (id-range-free — the former doc·2³² + idx
    * encoding overflowed int64 for doc_ids beyond 2³¹) —
    * a partially-aggregable groupBy, NOT a window over the hash (a
    * boilerplate chunk repeated 10⁸ times would pile 10⁸ rows into one
    * window partition; the agg combines map-side). The join back is equi
    * on the hash against the distinct-chunk-sized argmin table, and
    * reassembly is one doc-keyed agg whose per-group state is bounded by
    * the document length. Two shuffles + one join at any corpus size.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String, w: Int = 16): DataFrame = {
    val ch = docs
      .select(col(idCol), split(col(textCol), " ").as("tok"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), greatest(size(col("tok")), lit(1)), lit(w)),
        st => array_join(slice(col("tok"), st, lit(w)), " "))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
      .withColumn("key", md5(col("chunk")))
      .withColumn("enc", struct(col(idCol).as("d"), col("chunk_idx").as("i")))
    val first = ch.groupBy(col("key")).agg(min(col("enc")).as("first"))
    ch.join(first, "key")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("enc") === col("first"), lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("enc") === col("first"),
              struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("text_clean"))
  }

  /** Content-defined chunk dedup (word-granularity FastCDC/LBFS rule):
    * a chunk boundary falls AFTER token position p whenever the rolling
    * `n`-gram hash ending at p satisfies hash % mod == res — edges
    * follow CONTENT, not offsets, so an insertion early in a document
    * shifts no later chunk boundary (the resilience aligned chunking
    * ([[chunkDedup]]) fundamentally lacks; Muthitacharoen et al.
    * SOSP'01 §3.1, FastCDC USENIX ATC'16). Expected chunk length is
    * `mod` tokens. Downstream accounting is [[chunkDedup]]'s exactly:
    * global first occurrence per chunk key by lexicographic
    * (doc, chunk_idx) struct min — range-free, the addendum-23 lesson —
    * then per-doc kept/total counts and the cleaned reassembly.
    *
    * Scale shape: the boundary rule is DOC-LOCAL (the rolling hash at
    * position p reads only tokens p−n+1..p), so chunking happens
    * entirely INSIDE each row with array higher-order functions — no
    * token explode, no window, no shuffle until chunks exist. Only the
    * chunk table (≈ tokens/`mod` rows) pays the first-occurrence
    * shuffle and the keyed join back. The former formulation exploded
    * every token through two doc-partitioned windows — a full
    * token-table shuffle+sort that dominated at sf10 for zero semantic
    * gain; this one-pass form cut that stage out (SCALE.md addendum 29).
    */
  def cdcChunkDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      mod: Long = 8L,
      res: Long = 3L): DataFrame = {
    // Each step lives in its OWN projection so it is computed once per
    // row: higher-order-function lambdas get no common-subexpression
    // elimination, so an inline `transform(..., element_at(edges, i)...)`
    // tree re-evaluates the whole bounds filter PER ELEMENT — measured
    // 38 s vs 0.6 s at sf0.1 for the staged form below. CollapseProject
    // keeps the stages separate because each intermediate is non-cheap
    // and referenced more than once.
    val nt = size(col("tok"))
    val withChunks = docs
      .select(col(idCol), split(col(textCol), " ").as("tok"))
      // positions p (1-based) whose ending n-gram hash hits the rule: a
      // chunk boundary falls AFTER token p
      .withColumn("bounds", filter(
        when(nt >= n, sequence(lit(n), nt)).otherwise(array().cast("array<int>")),
        p => pmod(TextOps.polyHash(array_join(slice(col("tok"), p - (n - 1), lit(n)), " ")),
          lit(mod)) === lit(res)))
      // chunk edges: [0, b1..bk, nt]; distinct drops the duplicate when
      // the last token is itself a boundary (no empty trailing chunk)
      .withColumn("edges", array_distinct(
        concat(array(lit(0)), col("bounds"), array(nt))))
      .withColumn("chunks", transform(
        sequence(lit(1), size(col("edges")) - 1),
        i => array_join(
          slice(col("tok"), element_at(col("edges"), i) + 1,
            element_at(col("edges"), i + 1) - element_at(col("edges"), i)),
          " ")))
    // posexplode_OUTER, not posexplode: a non-outer Generate triggers
    // InferFiltersFromGenerate, which pushes `size(chunks)>0 AND
    // isnotnull(chunks)` below the projections — alias substitution
    // then re-evaluates the whole staged chunk tree twice per row at
    // the scan (measured 43 s vs 1.4 s at sf0.1). `chunks` is
    // structurally non-empty (edges always holds 0 and n_tokens), so
    // outer ≡ inner here.
    val ch = withChunks
      .select(col(idCol), posexplode_outer(col("chunks")).as(Seq("chunk_idx0", "chunk")))
      .select(col(idCol), col("chunk_idx0").cast("long").as("chunk_idx"), col("chunk"))
      .withColumn("key", md5(col("chunk")))
      .withColumn("enc", struct(col(idCol).as("d"), col("chunk_idx").as("i")))
    val chCp = Release.afterFirstUse(ch)
    val first = chCp.groupBy(col("key")).agg(min(col("enc")).as("first"))
    chCp.join(first, "key")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("enc") === col("first"), lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("enc") === col("first"),
              struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("text_clean"))
  }

  // ---------------------------------------- incremental (batch) ingest gate

  /** Incremental ingestion dedup against a maintained corpus: the
    * "only add novel content" step of growing a training set. Existing
    * docs contribute their aligned `w`-token chunk fingerprints
    * ([[chunkDedup]]'s convention) to (a) a `bloomM`-bit Bloom filter
    * and (b) the chunk-key index. Each batch chunk is bloom-probed
    * MAP-SIDE against the broadcast bit set; only probable chunks reach
    * the exact-confirm join against the index — at corpus scale the
    * join's probe side is bloom-pruned to near-nothing, which is the
    * design. A batch doc is rejected when its exact-containment count
    * clears n_chunks / rejectDen.
    *
    * Returns one row per batch doc: (doc_id, n_chunks, n_probable,
    * n_exact, verdict). Bloom has no false negatives, so n_exact over
    * probable chunks equals n_exact over all chunks — the oracle
    * computes the latter, certifying the property on real data.
    */
  def ingestGate(
      existing: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 16,
      bloomM: Int = 65536,
      rejectDen: Long = 4L): DataFrame = {
    def chunkHashes(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tok"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), greatest(size(col("tok")), lit(1)), lit(w)),
        st => TextOps.polyHash(array_join(slice(col("tok"), st, lit(w)), " "))))
        .as(Seq("ix", "h")))
    val exKeys = Release.afterFirstUse(
      chunkHashes(existing).select(col("h")).distinct())
    val bits = exKeys
      .select(explode(graft.ops.SketchOps.bloomPositionsM(col("h"), bloomM)).as("pos"))
      .distinct()
    val bc = Release.afterFirstUse(chunkHashes(batch))
    val probable = bc
      .select(col("doc_id"), col("ix"), col("h"),
        explode(graft.ops.SketchOps.bloomPositionsM(col("h"), bloomM)).as("pos"))
      .join(broadcast(bits), "pos")
      .groupBy(col("doc_id"), col("ix"), col("h"))
      .agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === graft.ops.SketchOps.BloomSeeds.size)
    val confirmed = probable
      .join(exKeys.withColumn("inex", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_probable"), count(col("inex")).as("n_exact"))
    bc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_probable"), lit(0L)).as("n_probable"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        when(coalesce(col("n_exact"), lit(0L)) * rejectDen >= col("n_chunks"), "reject")
          .otherwise("accept").as("verdict"))
  }

  // ------------------------------------------------ streaming ingestion gate

  /** One doc parked in a bucket's current salt chunk. */
  case class NdChunkDoc(id: Long, hashes: Seq[Long])

  /** Per-(band, key) bucket state: how many docs this bucket has EVER
    * seen, plus only the CURRENT salt chunk (≤ [[BandBucketCap]] docs)
    * — everything older can never be a candidate again under the salted
    * pairing, so streaming state is CONSTANT-bounded per bucket however
    * long the stream runs.
    */
  case class NdBucketState(nSeen: Long, chunk: Seq[NdChunkDoc])

  /** One per-bucket verdict for a doc: min matching earlier doc in this
    * bucket's current chunk, or -1.
    */
  case class NdHit(doc_id: Long, dup_of: Long)

  /** Input row of the bucket stream: one (doc, band) placement. */
  case class NdIn(band: Int, key: Long, doc_id: Long, hashes: Seq[Long])

  /** Plain-JVM twin of [[jaccard]]/`jaccardSql` over distinct-hash
    * arrays: |a∩b| by set membership, one double division — the same
    * single IEEE op as both engines' SQL form.
    */
  private[graft] def jaccardJvm(a: Seq[Long], b: Seq[Long]): Double = {
    val sa = a.toSet
    var i = 0
    for (h <- b) if (sa(h)) i += 1
    i.toDouble / (a.length + b.length - i).toDouble
  }

  /** Incremental near-duplicate detection at INGESTION: docs arrive in
    * id order across micro-batches; each is flagged iff some EARLIER
    * doc (previous batch through GroupState, or earlier in the same
    * batch) is an LSH band candidate with jaccard ≥ `threshold`.
    *
    * The pairing is EXACTLY the batch engine's salted candidate set
    * (sigs→bands→salted buckets→verify, the p06/p15 chain): a doc's
    * rank within its (band, key) bucket — identical to the batch
    * `row_number` salt because arrival order IS id order — decides its
    * salt chunk, and it verifies only against its own chunk. That cap
    * is what makes streaming state bounded: a bucket retains at most
    * [[BandBucketCap]] signatures no matter how many docs it has
    * absorbed, the same O(cap²)-per-bucket guard the batch join has.
    * At 100 TB the bucket key space is the shuffle key space — state
    * stores partition by (band, key) like any keyed stream.
    *
    * Emits one [[NdHit]] per (doc, band); the caller min-aggregates
    * hits per doc (a doc can meet its duplicate in several bands).
    */
  def streamingNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9,
      cap: Int = BandBucketCap): Dataset[NdHit] = {
    import docs.sparkSession.implicits._
    val in = docs.select(col(idCol).cast("long").as("doc_id"),
        sort_array(tokenHashes(col(textCol))).as("hashes"))
      .withColumn("bands", bandKeys(minHashSig(col("hashes")), PairBands))
      .select(posexplode(col("bands")).as(Seq("band", "key")),
        col("doc_id"), col("hashes"))
      .as[NdIn]
    Keyed.fold[(Int, Long), NdIn, NdBucketState, NdHit](in)(r => (r.band, r.key)) {
      (_, prior, rows, emit) =>
        // a bucket's share of ONE micro-batch — buffered to restore id
        // order (bucket populations are cap-bounded by construction)
        val batch = rows.toArray.sortBy(_.doc_id)
        var st = prior.getOrElse(NdBucketState(0L, Nil))
        batch.foreach { d =>
          val matches = st.chunk.filter(c => jaccardJvm(c.hashes, d.hashes) >= threshold)
          val dupOf = if (matches.isEmpty) -1L else matches.map(_.id).min
          st =
            if ((st.nSeen + 1) % cap == 0) NdBucketState(st.nSeen + 1, Nil)
            else NdBucketState(st.nSeen + 1, st.chunk :+ NdChunkDoc(d.doc_id, d.hashes))
          emit(NdHit(d.doc_id, dupOf))
        }
        st
    }
  }
}
