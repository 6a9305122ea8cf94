package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — the right plan when |queries| ≪ |corpus|, which is the
  * ANN serving shape). Scale path: LSH random-hyperplane bucketing so
  * the candidate set per query is a bucket, not the corpus.
  *
  * All arithmetic is sequential double accumulation via
  * `zip_with`/`aggregate` so the DuckDB oracle (list_reduce over
  * list_zip) is bit-identical.
  */
object SimilarityOps {

  /** Dot product of two float-array columns, accumulated in double in
    * element order (bit-identical to the SQL oracle's list_reduce).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)

  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
       |  (x, y) -> x + y)""".stripMargin

  def norm(a: Column): Column = sqrt(dot(a, a))

  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Native fused Catalyst expression (one loop for dot + both norms, full
    * codegen) — bit-identical to dot/(norm·norm) because each accumulator
    * runs in element order (graftexpr.CosineSim; verified in ExprSpec).
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftexpr.VectorExprs.cosineSim(a, b)

  /** Zero-norm guard mirrors [[cosine]]/[[cosineJvm]]: all three paths
    * return 0.0 for a zero vector instead of NaN/NULL, so data
    * containing one cannot silently diverge between engine and oracle.
    * (DuckDB CSEs the repeated norm subexpressions.)
    */
  def cosineSql(a: String, b: String): String =
    s"""CASE WHEN ${normSql(a)} = 0 OR ${normSql(b)} = 0 THEN CAST(0 AS DOUBLE)
       | ELSE ${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}) END""".stripMargin

  /** Plain-JVM cosine with the SAME accumulation order as [[cosine]] /
    * [[cosineSql]] (each accumulator folds in element order, division
    * last) — bit-identical to both, so driver-side greedy loops (the
    * k-center coreset) can compare distances the oracle reproduces.
    * Pinned equal to the Catalyst expression in SimilarityOpsSpec,
    * INCLUDING the zero-norm case — both return 0.0 instead of NaN
    * (NaN poisons greedy `maxBy` loops — every comparison is false, so
    * the farthest-first selector would crash on a missing map entry);
    * the SQL twin ([[cosineSql]]) carries the same guard.
    *
    * One deliberate departure remains: mismatched lengths THROW here,
    * while the Catalyst twin iterates the shorter length — an upstream
    * dimension bug should fail loudly on the driver path rather than
    * produce plausible-but-wrong distances, and equal-dimension input
    * (every registered caller) cannot tell the two behaviors apart.
    */
  def cosineJvm(a: Seq[Float], b: Seq[Float]): Double = {
    require(a.length == b.length,
      s"cosineJvm: dimension mismatch ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val m = a.length
    while (i < m) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    * Queries are broadcast (small side); the corpus is scanned exactly
    * once — no shuffle of the corpus, only of the (nQueries × k) result.
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
  }

  /** Hyperplane-LSH amplification: 16 planes per table (2¹⁶-bucket
    * universe per table — the bucket count grows with the plane count,
    * not a 256-bucket cap) OR-amplified across 4 independent tables for
    * recall. A hot-bucket salt (same mechanism as the MinHash band cap,
    * [[DedupOps.BandBucketCap]]) bounds any bucket's self-join.
    */
  val NumPlanes = 16
  val NumTables = 4

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * integer-hash folded to (-0.5, 0.5). Same closed form is used in the
    * SQL oracle, so buckets agree exactly. `plane` is the GLOBAL plane
    * index (table * NumPlanes + p).
    */
  def planeComponent(plane: Int, dim: Column): Column =
    ((lit(plane.toLong * 31L) + dim) * 2654435761L % 1000003L).cast("double") / 1000003d - 0.5

  /** All NumTables LSH bucket ids of an embedding: per table, the sign
    * pattern against its NumPlanes deterministic hyperplanes packed into
    * a long — one fused native expression (whole-stage codegen, one pass
    * over the embedding; ExprSpec pins equality with the per-plane
    * aggregate(zip_with(...)) formulation).
    */
  def lshBuckets(emb: Column): Column =
    org.apache.spark.sql.graftexpr.VectorExprs.hyperplaneBuckets(emb, NumPlanes, NumTables)

  /** Table-0 bucket — the single-table view (p11's output shape). */
  def lshBucket(emb: Column): Column = element_at(lshBuckets(emb), 1)

  /** SQL twin of one table's bucket id. */
  def lshBucketSql(emb: String, table: Int = 0): String = {
    val bits = (0 until NumPlanes).map { p =>
      val g = table * NumPlanes + p
      val comp = s"(CAST((($g * 31 + p2[2] - 1) * 2654435761) % 1000003 AS DOUBLE) / 1000003 - 0.5)"
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(list_zip($emb, range(1, len($emb) + 1)), p2 -> CAST(p2[1] AS DOUBLE) * $comp)),
         |  (x, y) -> x + y) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }
    bits.mkString("(", " + ", ")")
  }

  /** SQL twin of [[lshBuckets]] (all tables). */
  def lshBucketsSql(emb: String): String =
    (0 until NumTables).map(t => lshBucketSql(emb, t)).mkString("[", ", ", "]")

  /** IVF parameters: K coarse-quantizer centroids, nProbe probed cells
    * per query. Centroids here are deterministic seeds (the K smallest
    * vec_ids) so the DuckDB oracle can reproduce them exactly; a
    * production deployment would Lloyd-train them (ml.clustering.KMeans)
    * — the assignment/probe plumbing below is identical either way.
    */
  val IvfK = 32
  val IvfProbes = 2

  /** IVF-style ANN, the second scale path next to hyperplane LSH:
    *   1. assign every corpus vector to its max-cosine centroid — a
    *      broadcast of the K-row centroid table plus a partial-aggregable
    *      argmax (max over (cos, -id) structs). The aggregate carries only
    *      (id, cos, cluster) — the embedding payload is joined back by id
    *      AFTER the probe join, so the heavy column is never shuffled
    *      through the argmax and only candidate embeddings are touched
    *      (with few queries AQE broadcasts the candidate ids and the
    *      corpus embedding column is scanned, never shuffled);
    *   2. rank centroids per query (query side is the small one) and keep
    *      the nProbe nearest cells;
    *   3. equi-join probes to assignments on the cell id — per query only
    *      ~nProbe/K of the corpus is scored, top-k within the probed set.
    *
    * `centroids` swaps in a trained codebook (e.g. [[lloydCentroids]])
    * with identical plumbing; by default the K smallest vec_ids seed the
    * quantizer so the SQL oracle can reproduce the cells exactly.
    */
  /** Deterministic coarse-quantizer seed — the first k corpus vectors
    * by id as (c_id, c_emb). ONE owner for the seeding rule: ivfTopK,
    * semDedup, lloydCentroids' init and p71's outlier QC all assign
    * against this table (or a trained replacement of the same shape).
    */
  def seedCentroids(corpus: DataFrame, k: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** Argmax-cosine coarse assignment of every corpus vector to its
    * nearest centroid (broadcast K-row table, partial-aggregable
    * struct-max — the one pass [[ivfTopK]], semDedup and the p112 cell
    * audit all start from). Returns (neighbor_id, cluster).
    */
  def clusterAssign(corpus: DataFrame, cent: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(cent.select(col("c_id"), col("c_emb"))))
      .withColumn("cc", cosine(col("n_emb"), col("c_emb")))
      .groupBy(col("neighbor_id"))
      .agg(max(struct(col("cc"), (-col("c_id")).as("nc"))).as("m"))
      .select(col("neighbor_id"), (-col("m.nc")).as("cluster"))

  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numCentroids: Int = IvfK,
      nProbe: Int = IvfProbes,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = broadcast(centroids.getOrElse(seedCentroids(corpus, numCentroids))
      .select(col("c_id"), col("c_emb")))
    val asg = clusterAssign(corpus, cent)
    val wq = Window.partitionBy(col("query_id")).orderBy(col("qc").desc, col("c_id"))
    val prb = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(cent)
      .withColumn("qc", cosine(col("q_emb"), col("c_emb")))
      .withColumn("prnk", row_number().over(wq))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("c_id").as("cluster"))
    val nemb = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val wn = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    prb.join(asg, Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(nemb, Seq("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rnk", row_number().over(wn))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
  }

  /** [[ivfTopK]] at SEVERAL probe counts in one pass: the tuning sweep
    * (recall vs nProbe) would otherwise re-run the corpus assignment —
    * the dominant cost — once per setting. Here the assignment, the
    * probe ranking (to max(probes)) and the candidate cosines compute
    * ONCE; each setting then re-ranks its prefix of probed cells (a
    * candidate belongs to setting p iff its cell's probe rank ≤ p).
    * Per-setting output is EXACTLY ivfTopK(nProbe = p) — the property
    * SimilarityOpsSpec pins per setting.
    *
    * Returns (nprobe, query_id, neighbor_id, rnk).
    */
  def ivfTopKSweep(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      probes: Seq[Int],
      numCentroids: Int = IvfK,
      centroids: Option[DataFrame] = None): DataFrame = {
    val pmax = probes.max
    val cent = broadcast(centroids.getOrElse(seedCentroids(corpus, numCentroids))
      .select(col("c_id"), col("c_emb")))
    val asg = clusterAssign(corpus, cent)
    val wq = Window.partitionBy(col("query_id")).orderBy(col("qc").desc, col("c_id"))
    val prb = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(cent)
      .withColumn("qc", cosine(col("q_emb"), col("c_emb")))
      .withColumn("prnk", row_number().over(wq))
      .filter(col("prnk") <= pmax)
      .select(col("query_id"), col("q_emb"), col("prnk"), col("c_id").as("cluster"))
    val nemb = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val cand = prb.join(asg, Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(nemb, Seq("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .select(col("query_id"), col("neighbor_id"), col("prnk"), col("cos"))
    val wn = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .withColumn("nprobe", explode(array(probes.map(p => lit(p.toLong)): _*)))
      .filter(col("prnk") <= col("nprobe"))
      .withColumn("rnk", row_number().over(wn))
      .filter(col("rnk") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Lloyd-trained IVF codebook behind the same (c_id, c_emb) interface:
    * deterministic seed (K smallest vec_ids), then `iters` rounds of
    * argmax-cosine assignment + elementwise mean. The assignment is the
    * same broadcast + partial-aggregable argmax as [[ivfTopK]]; the mean
    * is a posexplode → groupBy(cluster, pos) avg — shuffle rows are
    * (cluster, pos, value) triples, K·dim per partition after map-side
    * combine, independent of corpus size. Empty cells keep their previous
    * centroid.
    */
  def lloydCentroids(
      corpus: DataFrame,
      numCentroids: Int = IvfK,
      iters: Int = 5): DataFrame = {
    // r17 (guide §1.2 / the pqTopK codebook discipline): the codebook is
    // MODEL-sized (K·dim doubles), so it lives on the driver between
    // rounds — each round is ONE distributed job (assignment argmax +
    // (cluster, pos) mean, collected) instead of two jobs plus an eager
    // localCheckpoint and a broadcast rebuilt from executor blocks. The
    // assignment/mean aggregation chain is UNCHANGED (same crossJoin +
    // argmax + posexplode avg plan), so the trained values the p47
    // oracle unrolls are identical; only the per-round array assembly
    // (sort by pos, empty cells keep their previous centroid) moved to
    // a driver loop over K·dim rows.
    val spark = corpus.sparkSession
    var cent: Array[(Long, Seq[Double])] =
      seedCentroids(corpus, numCentroids)
        .select(col("c_id"), col("c_emb").cast("array<double>").as("c_emb"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    def centDf(rows: Array[(Long, Seq[Double])]): DataFrame =
      spark.createDataFrame(rows.toIndexedSeq).toDF("c_id", "c_emb")
    for (_ <- 0 until iters) {
      val asg = vecs.crossJoin(broadcast(centDf(cent)))
        .withColumn("cc", cosine(col("embedding"), col("c_emb")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cc"), (-col("c_id")).as("nc"))).as("m"))
        .select(col("vec_id"), (-col("m.nc")).as("cluster"))
      val means = vecs.join(asg, Seq("vec_id"))
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos")).agg(avg(col("v")).as("mv"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (c, rows) =>
          c -> rows.map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1).map(_._2).toSeq
        }
      cent = cent.map { case (cId, prev) => (cId, means.getOrElse(cId, prev)) }
    }
    centDf(cent)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a coarse quantizer, then
    * drop near-identical vectors WITHIN each cluster — the cluster
    * assignment turns the quadratic all-pairs cosine into K independent
    * cluster-local problems, which is the whole scale trick.
    *
    * Shapes: assignment is the same broadcast-centroid argmax as
    * [[ivfTopK]] (the embedding column never shuffles through the
    * aggregate); the intra-cluster pair scan is ONE self-join keyed on
    * the cluster id. The keep rule is order-free and deterministic so
    * the DuckDB oracle can restate it: a vector is dropped iff some
    * LOWER-id member of its cluster is within `tau` cosine, and
    * `dup_of` is the smallest such id. At 100 TB, K is the knob: the
    * paper runs ~100k clusters so Σ nᵢ² stays near-linear; the plumbing
    * here is identical for any K (and [[lloydCentroids]] swaps in as
    * the quantizer unchanged).
    */
  def semDedup(
      corpus: DataFrame,
      tau: Double,
      numCentroids: Int = IvfK,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = broadcast(centroids.getOrElse(seedCentroids(corpus, numCentroids))
      .select(col("c_id"), col("c_emb")))
    // the assignment table feeds three consumers (both pair-join sides
    // and the final output) — persist the narrow (vec_id, cluster) pair
    // for the query's duration so the corpus-scale argmax shuffle runs
    // ONCE, and auto-release it with the query (PlanSpec pins the single
    // centroid broadcast)
    val asg = graft.ops.Release.afterFirstUse(
      corpus.select(col("vec_id"), col("embedding"))
        .crossJoin(cent)
        .withColumn("cc", cosine(col("embedding"), col("c_emb")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cc"), (-col("c_id")).as("nc"))).as("m"))
        .select(col("vec_id"), (-col("m.nc")).as("cluster")))
    // join the embedding back by id AFTER assignment (same discipline as
    // ivfTopK: the heavy column rides the cluster-keyed join once, never
    // the argmax shuffle)
    val m = asg.join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val dups = m.as("a")
      .join(m.as("b"),
        col("a.cluster") === col("b.cluster") && col("b.vec_id") < col("a.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= tau)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(min(col("b.vec_id")).as("dup_of"))
    asg.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Squared L2 distance of two float-array columns, accumulated in
    * double in element order (bit-identical to [[l2sqSql]]).
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0d), (acc, v) => acc + v)

  def l2sqSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip($a, $b),
       |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
       |  (x, y) -> x + y)""".stripMargin

  /** Product-quantization geometry: M subspaces, Ks centroids per
    * subspace (deterministic seeds — the Ks smallest vec_ids' sub-vectors
    * — so the DuckDB oracle reproduces the codebook; Lloyd-per-subspace
    * swaps in with identical plumbing).
    */
  val PqM = 8
  val PqKs = 16

  /** PQ-compressed ANN (Jégou et al. 2011): encode every corpus vector
    * as M per-subspace nearest-centroid codes, then answer queries with
    * an asymmetric-distance (ADC) scan — the query precomputes an
    * M×Ks lookup table of sub-distances and each corpus vector's
    * distance is the sum of M table lookups.
    *
    * Scale shapes: the codebook and the per-query LUT are both
    * broadcast-sized (M·Ks rows — independent of corpus size); encoding
    * is one corpus pass with a broadcast equi-join on the subspace id
    * plus a partial-aggregable argmin; the ADC scan touches only the
    * (vec_id, sub, code) table — M small ints per vector instead of the
    * raw embedding (the 32× compression that lets a 100 TB corpus fit a
    * memory-resident scan). The per-vector distance folds its M
    * sub-distances in subspace order (sorted struct array), never
    * through an order-sensitive SUM, so the result is bit-reproducible
    * across engines and partitionings.
    *
    * When the embedding length is not divisible by m, the LAST subspace
    * absorbs the `dim % m` remainder dimensions (r9 advice: silently
    * dropping trailing dims loses signal on both engines at once, which
    * the oracle cannot catch) — the oracle mirrors the same geometry.
    *
    * Physical shape (r10 verdict #1 — the earlier join-based form
    * shuffled N·M encode rows and N·M·Q ADC rows): the codebook is
    * collected to the driver (ks rows — model-sized, the same discipline
    * as [[lloydCentroids]]'s broadcast) and inlined as a literal, so
    * BOTH the encode argmin and the per-query LUT are computed map-side
    * with zero joins; the ADC scan is one BroadcastNestedLoopJoin whose
    * build side is Q rows of (query_id, M·Ks-double LUT). The only
    * exchange in the whole plan is the top-k window's hashpartitioning
    * on query_id (PlanSpec pins Exchange ≤ 1). Arithmetic — slice
    * geometry, element-order double accumulation, sub-ascending ADC
    * fold, (d2, c_code) tie-break — is unchanged, so results are
    * bit-identical to the join form and to the DuckDB oracle.
    *
    * Assumes a fixed embedding dimension across the corpus (PQ geometry
    * is undefined otherwise); the dimension is read off the collected
    * codebook rows.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = PqM,
      ks: Int = PqKs): DataFrame = {
    // codebook seeds: the ks smallest vec_ids (c_code = rank in vec_id
    // order, reproducible by the oracle); ks rows — model-sized collect
    val cents: Seq[Seq[Double]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(ks).collect()
      .sortBy(_.getAs[Long]("vec_id"))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    if (cents.isEmpty)
      // empty corpus: no codebook to train — empty result, same schema
      // (the join-based form degraded the same way)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0d).as("adc"), lit(0).as("rnk"))
        .limit(0)
    val dim = cents.head.length
    val dsub = dim / m
    // last subspace takes dsub + dim % m dims so no dimension is dropped
    def segLen(sub: Column) =
      when(sub === lit(m - 1), lit(dim - dsub * (m - 1))).otherwise(lit(dsub))
    def seg(sub: Column) = slice(col("embedding"), sub * dsub + 1, segLen(sub))
    // [sub][code][d] centroid slices, inlined (m·ks·dim/m doubles)
    val centLit = typedLit(Seq.tabulate(m) { s =>
      val hi = if (s == m - 1) dim else (s + 1) * dsub
      cents.map(_.slice(s * dsub, hi))
    })
    def centSub(sub: Column, c: Column) = element_at(element_at(centLit, sub + 1), c + 1)
    // map-side encode: per subspace, scan the ks centroids keeping the
    // (d2, c)-minimal — first strict improvement wins, i.e. smallest
    // c_code on ties, identical to min(struct(d2, c_code))
    val codesCol = transform(sequence(lit(0), lit(m - 1)), sub =>
      aggregate(sequence(lit(0), lit(ks - 1)),
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("c")),
        (acc, c) => {
          val d2 = l2sq(seg(sub), centSub(sub, c))
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.as("c"))).otherwise(acc)
        }).getField("c"))
    val codes = corpus.select(col("vec_id"), codesCol.as("codes"))
    // map-side LUT: per query, sub-major flattened d2 table — entry for
    // (sub, code) lives at index sub·ks + code (1-based element_at below)
    val lutArr = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding"))
      .select(col("query_id"), flatten(transform(sequence(lit(0), lit(m - 1)), sub =>
        transform(sequence(lit(0), lit(ks - 1)), c =>
          l2sq(seg(sub), centSub(sub, c))))).as("lut")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    codes.crossJoin(lutArr)
      .filter(col("vec_id") =!= col("query_id"))
      // sub-ascending fold, same order as the oracle's list(d2 ORDER BY sub)
      .withColumn("adc", aggregate(sequence(lit(0), lit(m - 1)), lit(0d),
        (acc, sub) => acc +
          element_at(col("lut"), sub * ks + element_at(col("codes"), sub + 1) + 1)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rnk"))
  }

  /** Bucketed ANN: join queries to corpus on the LSH bucket, then
    * top-k within the candidate set. At scale this replaces the full
    * cross product with a bucket-local join (shuffle keyed on bucket).
    */
  def lshTopK(vecs: DataFrame, k: Int): DataFrame = {
    val withBucket = vecs.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding")).as("bucket"))
    bucketSelfTopK(withBucket, Seq("bucket"), k)
  }

  /** The shared bucket self-join + per-query ranking behind [[lshTopK]]
    * and [[lshTopKSalted]] — one place owns the neighbor tie-break.
    */
  private def bucketSelfTopK(withBucket: DataFrame, joinKeys: Seq[String], k: Int): DataFrame = {
    val payload = joinKeys.map(col)
    val q = withBucket.select(col("vec_id").as("query_id")
      +: col("embedding").as("q_emb") +: payload: _*)
    val c = withBucket.select(col("vec_id").as("neighbor_id")
      +: col("embedding").as("c_emb") +: payload: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, joinKeys)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("cos"), col("rnk"))
  }

  /** [[lshTopK]] with the hot-bucket salt (DedupOps.BandBucketCap's
    * mechanism): members of a bucket are blocked into groups of `cap`
    * by id, and the self-join key is (bucket, salt) — any bucket's join
    * is bounded at cap² however skewed the corpus. Neighbors are then
    * top-k WITHIN the salt block (deterministic, and identical to the
    * unsalted result whenever the bucket fits one block — the common
    * case; adversarial pile-ups trade recall for the bound, the
    * standard ANN deal).
    */
  def lshTopKSalted(vecs: DataFrame, k: Int, cap: Int = DedupOps.BandBucketCap): DataFrame = {
    val wb = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
    val withBucket = vecs.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding")).as("bucket"))
      .withColumn("salt", floor((row_number().over(wb) - lit(1)) / lit(cap)).cast("long"))
    bucketSelfTopK(withBucket, Seq("bucket", "salt"), k)
  }

  // ----------------------------------- random projection (JL reduction)

  /** Deterministic ±1 projection sign for matrix cell (i, j): a cubing
    * hash k³ mod p mod 2 over k = (i·31 + j + 7) mod p. Affine hashes
    * mod p have pairwise-correlated parity columns (two columns differ
    * by a constant shift, so their parities track each other); the cube
    * is non-linear in k and decorrelates — measured max inter-column
    * |corr| 0.31 (mean 0.088, the random-matrix expectation) at 64×16.
    */
  def rpSign(i: Column, j: Column): Column = {
    val m = lit(1000003L)
    val k = (i.cast("long") * lit(31L) + j + lit(7L)) % m
    when((k * k % m) * k % m % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
  }

  /** Random projection of an embedding to `dims` dimensions (Achlioptas
    * 2003, database-friendly JL): out[j] = Σᵢ e[i]·sign(i, j), folded
    * left-to-right in element order so the doubles are reproducible
    * bit-for-bit across engines. Pure map work — the "matrix" is a
    * closed-form expression (a production deployment would broadcast a
    * seeded d×d' literal, still KBs); no shuffle at any corpus size.
    */
  def rpProject(e: Column, dims: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)), j =>
      aggregate(sequence(lit(0), size(e) - 1), lit(0.0),
        (acc, i) => acc + element_at(e, i + 1).cast("double") * rpSign(i, j)))

  // ------------------------- hybrid sparse+dense retrieval (RRF fusion)

  /** Reciprocal-rank fusion (Cormack et al. 2009) of a lexical leg
    * (token-hash-set jaccard) and a dense leg (embedding cosine).
    * `queries` carries (query_id, qh, qe); `corpus` carries (cand_id,
    * hashes, e). Each leg ranks per query (ties by id); a candidate in a
    * leg's top-`depth` contributes floor(10⁹/(60+rank)) — an exact
    * integer, so the fused score is engine-independent — and the fused
    * top-`k` is emitted with both leg ranks (0 = outside that leg's
    * top-`depth`).
    *
    * Scale shape: the query set rides ONE broadcast across a single
    * corpus scan that scores both legs together; both rank passes and
    * the fusion share one shuffle on query_id. Nothing is all-pairs on
    * the corpus side.
    */
  def hybridRrfTopK(queries: DataFrame, corpus: DataFrame, depth: Int, k: Int): DataFrame = {
    val scored = broadcast(queries)
      .join(corpus, col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.ops.DedupOps.jaccard(col("qh"), col("hashes")).as("jac"),
        cosine(col("qe"), col("e")).as("cos"))
    val wq = Window.partitionBy(col("query_id"))
    def contrib(r: Column) =
      when(r <= depth, floor(lit(1000000000.0) / (lit(60) + r)).cast("long"))
        .otherwise(lit(0L))
    def capped(r: Column) = when(r <= depth, r.cast("long")).otherwise(lit(0L))
    scored
      .select(col("query_id"), col("cand_id"),
        row_number().over(wq.orderBy(col("jac").desc, col("cand_id"))).as("r_lex"),
        row_number().over(wq.orderBy(col("cos").desc, col("cand_id"))).as("r_cos"))
      .select(col("query_id"), col("cand_id"),
        capped(col("r_lex")).as("lex_rank"),
        capped(col("r_cos")).as("cos_rank"),
        (contrib(col("r_lex")) + contrib(col("r_cos"))).as("rrf_q"))
      .withColumn("final_rank",
        row_number().over(wq.orderBy(col("rrf_q").desc, col("cand_id"))).cast("long"))
      .filter(col("final_rank") <= k)
  }

  // ------------------------------- scalar (per-dimension) quantization

  /** Scalar int8-style quantization audit: fit a per-dimension affine
    * quantizer (the `levels`-bucket uniform grid between the corpus
    * min and max of that dimension) and report, per dimension, the
    * reconstruction-error profile a serving team reads before shipping
    * a compressed embedding table — the 4× (float32→int8) shrink that
    * PQ's 32× (p43) trades recall for, audited the same way FAISS's
    * `ScalarQuantizer` is.
    *
    * All error figures are ×10⁶ integer quotients of double arithmetic
    * evaluated by the identical expression tree on both engines, so the
    * audit is value-exact cross-engine. Scale shape: the quantizer
    * parameters are dim-row sized (one partial-aggregated min/max pass,
    * broadcast back), the error pass is one corpus scan, and the final
    * agg folds to dim rows map-side — nothing grows with the corpus but
    * the two scans.
    */
  def sqAudit(emb: DataFrame, levels: Int = 256): DataFrame = {
    val lv = levels - 1
    val e = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
    val stats = e.groupBy(col("dim")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    e.join(broadcast(stats), "dim")
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor(((col("v") - col("mn")) * lv) / (col("mx") - col("mn"))),
            lit(lv.toLong))))
      .withColumn("deq",
        col("mn") + (col("code").cast("double") * (col("mx") - col("mn"))) / lv)
      .withColumn("err_q", floor(abs(col("v") - col("deq")) * 1000000d).cast("long"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        floor(min(col("v")) * 1000000d + 0.5).cast("long").as("mn_q"),
        floor(max(col("v")) * 1000000d + 0.5).cast("long").as("mx_q"),
        max(col("err_q")).as("max_err_q"),
        expr("sum(err_q) div count(1)").as("mean_err_q"))
  }

  /** One coreset selection: the bucket, greedy step (1-based), chosen
    * center, and its min cosine-distance to the already-chosen set at
    * selection time (×10⁶ floor half-up; −1 for the seed step, which
    * has no prior set).
    */
  final case class CoresetPick(bucket: Long, step: Long, center_id: Long, dist_q: Long)

  private[graft] final case class CoresetVec(bucket: Long, vec_id: Long, embedding: Seq[Float])

  /** Greedy k-center coreset (Gonzalez '85 farthest-first traversal) —
    * the data-pruning selector that keeps a diverse skeleton of an
    * embedding cloud. Global farthest-first is inherently sequential,
    * so the distributed form is the two-level discipline the sampled
    * audits use: a seeded document sample bounds the population in the
    * SCAN stage, vectors hash into `buckets` independent groups, and
    * each group runs exact farthest-first over its (sample-bounded)
    * members — `buckets` is the parallelism knob and the per-group
    * buffer is sample/buckets, never the corpus. Seed = smallest
    * vec_id; each later step picks the vector maximizing the min
    * (1 − cosine) distance to the chosen set, ties to the smaller id.
    * All distance arithmetic is [[cosineJvm]] (bit-identical to the
    * SQL oracle's fold), so the picks are reproducible on both engines.
    */
  def kCenterCoreset(
      sample: DataFrame,
      buckets: Int,
      k: Int): org.apache.spark.sql.Dataset[CoresetPick] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val inEnc: Encoder[CoresetVec] = Encoders.product[CoresetVec]
    implicit val outEnc: Encoder[CoresetPick] = Encoders.product[CoresetPick]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    sample
      .select(pmod(col("vec_id"), lit(buckets.toLong)).as("bucket"),
        col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[CoresetVec]
      .groupByKey(_.bucket)
      .flatMapGroups { (bucket: Long, it: Iterator[CoresetVec]) =>
        val vs = it.toArray.sortBy(_.vec_id)
        if (vs.isEmpty) Iterator.empty
        else {
          val picks = scala.collection.mutable.ArrayBuffer.empty[CoresetPick]
          // min distance to the chosen set so far, per remaining vector
          val minD = scala.collection.mutable.Map.empty[Long, Double]
          var chosen = vs.head // seed: smallest id
          picks += CoresetPick(bucket, 1L, chosen.vec_id, -1L)
          var remaining = vs.tail
          var step = 2
          while (step <= k && remaining.nonEmpty) {
            remaining.foreach { v =>
              val d = 1.0 - cosineJvm(v.embedding, chosen.embedding)
              val cur = minD.getOrElse(v.vec_id, Double.MaxValue)
              if (d < cur) minD(v.vec_id) = d
            }
            // getOrElse belt-and-braces: cosineJvm can no longer emit
            // NaN (zero-norm → 0.0), but an unseeded entry must still
            // pick deterministically, never crash the executor
            val next = remaining.maxBy(v =>
              (minD.getOrElse(v.vec_id, Double.MaxValue), -v.vec_id))
            picks += CoresetPick(bucket, step.toLong, next.vec_id,
              math.floor(minD.getOrElse(next.vec_id, Double.MaxValue) * 1000000 + 0.5).toLong)
            chosen = next
            remaining = remaining.filterNot(_.vec_id == next.vec_id)
            step += 1
          }
          picks.iterator
        }
      }
  }
}
