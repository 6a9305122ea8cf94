package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, GraphOps, MultimodalOps, PackOps, SimilarityOps, SketchOps, TextOps}

/** Training-data pipeline operators as driver-checkable queries:
  * text analysis, dedup family, similarity search, multimodal plumbing.
  * Each Spark program and its DuckDB oracle share the exact same
  * deterministic formulas (see graft.ops.* for both sides).
  */
object Pipeline {
  import TextOps._
  import DedupOps._
  import SimilarityOps._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** [[t]] with the small-scan fan-out (Tables.wide) — OPT-IN for the
    * few queries whose cost is per-row map work on a single-split scan
    * (see Tables.wide for the A/B that ruled out the blanket form).
    */
  private def tw(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.wide(s, dir, name)

  /** Shared BPE merge table (p42/p45/p49/p78 learn the IDENTICAL
    * [[BpeSteps]]-step merges — four copies of the same iterative
    * distributed learning per sweep; p48's ADAPTIVE path deliberately
    * relearns, because batched≡sequential on real data is its claim).
    * Driver-side rows, model-sized, deterministic in (documents table,
    * col, steps) — a [[graft.ops.SessionMemo]] model per (session, dir),
    * exactly like Cef's trained SPSTs.
    */
  private def bpeMergeRows(
      s: SparkSession, dir: String): Seq[(Long, String, String, String, Long)] =
    graft.ops.SessionMemo.model(s, dir, s"bpe-merges-$BpeSteps")(
      TextOps.bpeMerges(t(s, dir, "documents"), "text", BpeSteps)
        .orderBy(col("step")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq)

  /** Shared perceptron weight trajectory (p55/p73/p96 each ran the
    * identical [[PerceptronEpochs]]-epoch driver loop — one persisted
    * corpus pass per epoch — over the same feature table). Epochs × 6
    * integers; a [[graft.ops.SessionMemo]] model.
    */
  private def perceptronRows(
      s: SparkSession, dir: String): Seq[(Int, Long, Long, Long, Long, Long)] =
    graft.ops.SessionMemo.model(s, dir, s"perceptron-$PerceptronEpochs")(
      graft.ops.ClassifierOps
        .perceptronEpochs(s, perceptronFeats(s, dir), PerceptronEpochs)
        .orderBy(col("epoch")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq)

  /** The memoized trajectory back as the trainer's exact DataFrame. */
  private def perceptronDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    perceptronRows(s, dir).toDF("epoch", "w0", "w1", "w2", "w3", "n_mis")
  }

  /** Shared ≥0.9 near-dup pair set. Spark side: signatures persisted
    * (explode + two candidate joins — at real scale a materialized
    * signature table, released after the memo's materialization);
    * hashes sorted once per doc so pair verification is a two-pointer
    * merge; no forced broadcast (the signature table scales with the
    * corpus, AQE picks broadcast at small SF on its own).
    *
    * The pair table is a [[graft.ops.SessionMemo]] frame per (session,
    * dir): a dedup pipeline materializes it once and EVERY consumer
    * (p06's pair query, p15's grouping, p51's leakage-safe split, p75's
    * canonical keep, p97/p107/p119's audits) shares it — recomputing the
    * whole LSH chain per query would multiply the dominant cost by the
    * consumer count.
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.SessionMemo.frame(s, dir, "near-dup-pairs") {
      // examined r16: fanning the signature scan out (tw) measured the
      // cold build 3.2 → 8.4 s — the downstream band self-join and the
      // two hash join-backs lose their tiny-side broadcasts once the
      // cached signature table is 32 partitions. The one-task signature
      // pass is cheaper than what wider inputs cost the joins; left as-is.
      // Re-examined r17: tw + repartition(1) before the persist (parallel
      // sig pass, downstream joins keep the single-partition cached
      // shape) measured cold 6.3 → 6.5-7.0 s solo — the build cost is the
      // self-join chain, not the tokenize+minhash pass; reverted.
      val sigs = graft.ops.Release.afterFirstUse(t(s, dir, "documents")
        .select(col("doc_id"), sort_array(tokenHashes(col("text"))).as("hashes"))
        .withColumn("bands", bandKeys(minHashSig(col("hashes")), PairBands)))
      val exploded = saltedBands(sigs, "doc_id")
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.key") === col("b.key") && col("a.band") === col("b.band")
            && col("a.salt") === col("b.salt") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      cand
        .join(sigs.select(col("doc_id").as("id_a"), col("hashes").as("ha")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"), col("hashes").as("hb")), "id_b")
        .withColumn("jaccard",
          org.apache.spark.sql.graftexpr.VectorExprs.jaccardSortedSim(col("ha"), col("hb")))
        .filter(col("jaccard") >= 0.9)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }

  /** Shared symmetric mutual-kNN edge list (p67/p83/p84/p85/p86): p60's
    * exact salted-LSH top-k chain, mutuality-filtered, emitted once per
    * direction. A [[graft.ops.SessionMemo]] frame like the near-dup pair
    * table, so the LSH chain (the dominant cost) runs once per sweep,
    * not once per consumer.
    */
  private def mutualEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.SessionMemo.frame(s, dir, "mutual-knn-edges") {
      val e = SimilarityOps.lshTopKSalted(t(s, dir, "embeddings"), KnnK)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("nn_id"))
      val rev = e.select(col("vec_id").as("r_vec"), col("nn_id").as("r_nn"))
      val mut = e
        .join(rev, col("r_vec") === col("nn_id") && col("r_nn") === col("vec_id"))
        .filter(col("vec_id") < col("nn_id"))
        .select(col("vec_id").as("a"), col("nn_id").as("b"))
      mut.union(mut.select(col("b").as("a"), col("a").as("b")))
    }

  /** Shared per-(source, word) token count table — the corpus explode
    * every text audit starts from. Seven audits reduce it differently
    * (p66 drift, p88 lift, p94 hapax tail, p100 health report, p102
    * Simpson, p104 Zipf, p122 Good-Turing), so in a sweep the ONE corpus explode+agg — the
    * dominant cost of each — runs once and the memo serves them all. The
    * cached table is vocabulary-bounded (|sources| × |vocab| rows,
    * corpus-size-independent), which is what makes it cacheable at
    * 100 TB where the corpus itself is not. A [[graft.ops.SessionMemo]]
    * frame per (session, dir).
    */
  private def sourceWordCounts(s: SparkSession, dir: String): DataFrame =
    graft.ops.SessionMemo.frame(s, dir, "source-word-counts")(
      t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c")))

  /** Shared SAMPLED calibration pair table (p69's decile audit, p89's
    * threshold-yield sweep and p106's b-bit audit): 1-in-CalibDocMod
    * documents enter the recall-leaning NnBands salted band join,
    * 1-in-CalibSampleMod of the surviving candidate pairs are kept, and
    * each kept pair carries its exact quantized Jaccard plus the
    * MinHash-signature estimate. A [[graft.ops.SessionMemo]] frame like
    * the near-dup pair memo — the consumers audit the SAME sampled
    * population, so the band join (the dominant cost) runs once. Sampled
    * semantics are part of the registered contract (the oracles restate
    * the same predicates); the sample hashes are deterministic functions
    * of (id, seed).
    */
  private def calibPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.SessionMemo.frame(s, dir, "calibration-pairs") {
      // one signature table feeds the band explode and both join-backs;
      // the doc-sample predicate runs in the scan stage — dropped docs
      // never pay for signatures
      val sh = graft.ops.Release.afterFirstUse(t(s, dir, "documents")
        .filter(pmod(
          TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-calib-9"))),
          lit(CalibDocMod.toLong)) === 0)
        .select(col("doc_id"), TextOps.tokenHashes(col("text")).as("hs"))
        .withColumn("sig", DedupOps.minHashSig(col("hs")))
        .withColumn("bands", DedupOps.bandKeys(col("sig"), DedupOps.NnBands)))
      val exploded = DedupOps.saltedBands(sh, "doc_id")
      val cand = exploded.as("x")
        .join(exploded.as("y"),
          col("x.key") === col("y.key") && col("x.band") === col("y.band")
            && col("x.salt") === col("y.salt") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        // ids are reduced mod p BEFORE the multiply (r10 advice): the
        // raw product overflows int64 for ids beyond ~9·10¹², where
        // Spark wraps silently but DuckDB errors — reduced, the product
        // is bounded by p·1000003 ≈ 10¹⁵ on both engines
        .filter(expr(
          s"(((id_a % 1000000007) * 1000003 + (id_b % 1000000007) * 31 + 7)" +
            s" % 1000000007) % $CalibSampleMod = 0"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("hs").as("ha"), col("sig").as("sa")),
          "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hb"), col("sig").as("sb")),
          "id_b")
        .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("uni",
          size(col("ha")).cast("long") + size(col("hb")).cast("long") - col("inter"))
        .withColumn("jacc_q", expr("(inter * 1000000) div greatest(uni, 1)"))
        .withColumn("matches", expr(
          s"aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1L, 0L)), 0L, (a, x) -> a + x)"))
        .withColumn("est_q", col("matches") * 15625L)
        // b=1 lowest-bit agreement (p106): E[agree] = (1+J)/2, so the
        // unbiased estimate is 2·m/k − 1 — ×10⁶: m·2·(10⁶/k) − 10⁶
        .withColumn("m1", expr(
          s"aggregate(zip_with(sa, sb, (x, y) -> IF(x % 2 = y % 2, 1L, 0L)), 0L, (a, x) -> a + x)"))
        .withColumn("bit1_q", col("m1") * 31250L - 1000000L)
        .select(col("id_a"), col("id_b"), col("jacc_q"), col("est_q"), col("bit1_q"))
    }

  /** DuckDB twin of [[calibPairs]] ending at `pe(id_a, id_b, jacc_q,
    * est_q)` — shared verbatim by the p69 and p89 oracles so the two
    * audits can never disagree on the sampled pair population.
    */
  private lazy val CalibPairsCte: String = {
    val th = TextOps.tokenHashesSql("text")
    val sig = DedupOps.minHashSigSql("hs")
    val bands = DedupOps.bandKeysSql("sig", DedupOps.NnBands)
    val docSample = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-calib-9'")
    s"""WITH sh AS (
       |  SELECT doc_id, hs, sig, $bands AS bands
       |  FROM (SELECT doc_id, hs, $sig AS sig
       |        FROM (SELECT doc_id, $th AS hs FROM documents
       |              WHERE $docSample % $CalibDocMod = 0))),
       |sx AS (${DedupOps.saltedBandsSql("sh", "doc_id", DedupOps.NnBands)}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sx a JOIN sx b
       |    ON a.key = b.key AND a.band = b.band AND a.salt = b.salt
       |   AND a.doc_id < b.doc_id
       |   AND (((a.doc_id % 1000000007) * 1000003
       |         + (b.doc_id % 1000000007) * 31 + 7) % 1000000007)
       |         % $CalibSampleMod = 0),
       |pe AS (
       |  SELECT id_a, id_b,
       |         (inter * 1000000) // greatest(uni, 1) AS jacc_q,
       |         matches * 15625 AS est_q,
       |         m1 * 31250 - 1000000 AS bit1_q
       |  FROM (SELECT id_a, id_b,
       |               len(list_intersect(a.hs, b.hs)) AS inter,
       |               len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS uni,
       |               len(list_filter(range(${DedupOps.MinHashK}),
       |                               i -> a.sig[i + 1] = b.sig[i + 1])) AS matches,
       |               len(list_filter(range(${DedupOps.MinHashK}),
       |                               i -> a.sig[i + 1] % 2 = b.sig[i + 1] % 2)) AS m1
       |        FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b))"""
      .stripMargin
  }

  /** DuckDB twin ending at `prs(id_a, id_b, jaccard)`. */
  private lazy val NearDupPairsCte: String = {
    val hashes = tokenHashesSql("text")
    val sig = minHashSigSql("hashes")
    val bands = bandKeysSql("sig", PairBands)
    val jac = jaccardSql("a.hashes", "b.hashes")
    s"""WITH sigs AS (
       |  SELECT doc_id, hashes, $bands AS bands
       |  FROM (SELECT doc_id, hashes, $sig AS sig
       |        FROM (SELECT doc_id, $hashes AS hashes FROM documents))),
       |sx AS (${saltedBandsSql("sigs", "doc_id", PairBands)}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sx a JOIN sx b
       |    ON a.key = b.key AND a.band = b.band AND a.salt = b.salt
       |   AND a.doc_id < b.doc_id),
       |prs AS (
       |  SELECT id_a, id_b, $jac AS jaccard
       |  FROM cand
       |  JOIN sigs a ON a.doc_id = id_a
       |  JOIN sigs b ON b.doc_id = id_b
       |  WHERE $jac >= 0.9)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Documents-stream gates (p50/p105/p108/p120): the documents table
  // replayed through the shared scaffold (StreamScaffold) as doc_id-ordered
  // slices — ingestion order IS doc_id order, which is what makes the
  // streaming salt chunks line up with the batch row_number salt.
  private[queries] def docSlices(s: SparkSession, dir: String): StreamScaffold.SliceSet = {
    val path = java.nio.file.Paths.get(s"$dir/documents.parquet")
      .toAbsolutePath.normalize.toString
    StreamScaffold.slices(s, path, col("doc_id"))(s.read.parquet(path))
  }

  private def runDocStream(s: SparkSession, dir: String, tag: String)(
      transform: DataFrame => DataFrame): DataFrame =
    StreamScaffold.run(s, docSlices(s, dir), tag)(transform)

  /** The scaffold's (doc_id, slice) assignment, read OFF the cached
    * slice files (slice file i IS the build-time ntile result) instead
    * of re-running a single-partition ntile window over the corpus.
    */
  private def docSliceAssignment(s: SparkSession, dir: String): DataFrame =
    StreamScaffold.read(s, docSlices(s, dir))
      .select(col("doc_id"), col(StreamScaffold.SliceCol).as("sl"))

  val queries: Seq[Q] = Seq(

    // ---------------------------------------------------------- text: tokens
    // n_bpeish: subword-style piece count — letter runs, digit runs and
    // single punctuation as separate pieces (the BPE-ish pre-tokenizer
    // rule); the classes are disjoint, so Java-regex and RE2 agree.
    Q("p01_txt_tokens",
      s"""SELECT doc_id,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish,
         |       length(text) AS n_chars,
         |       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |         / len(string_split(text, ' ')) AS avg_token_len,
         |       ${polyHashSql("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .as("n_bpeish"),
        length(col("text")).as("n_chars"),
        (length(regexp_replace(col("text"), " ", "")).cast("double")
          / size(tokens(col("text")))).as("avg_token_len"),
        polyHash(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------------------------- text: quality
    Q("p02_txt_quality", {
      val toks = "string_split(text, ' ')"
      val stop = countInSql(toks, Stopwords)
      s"""SELECT doc_id,
         |       $stop AS n_stopwords,
         |       CAST($stop AS DOUBLE) / len($toks) AS stopword_ratio,
         |       CAST(len(list_filter($toks, t -> length(t) >= 6)) AS DOUBLE)
         |         / len($toks) AS long_token_ratio,
         |       CASE WHEN len($toks) >= 20 AND $stop > 0 THEN 'keep'
         |            ELSE 'drop' END AS quality_class
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val toks = tokens(col("text"))
      val stop = countIn(toks, Stopwords)
      t(s, dir, "documents").select(
        col("doc_id"),
        stop.as("n_stopwords"),
        (stop.cast("double") / size(toks)).as("stopword_ratio"),
        (size(filter(toks, tk => length(tk) >= 6)).cast("double")
          / size(toks)).as("long_token_ratio"),
        when(size(toks) >= 20 && stop > 0, "keep").otherwise("drop").as("quality_class"))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------- text: repetition signals
    // (Gopher-style quality filtering, Rae et al. 2021 §A1.1: documents
    // dominated by a repeated word / 2-gram / duplicated 3-grams are
    // boilerplate). All three signals are per-row array scalars
    // (TextOps.maxMultiplicity / ngrams — no UDFs, no shuffle); the
    // oracle recomputes them with window functions over unnested
    // tokens, a genuinely different algorithm with the same counts.
    // Fractions ship as ×10⁶ integers from exact integer counts and the
    // keep decision compares the quantized values, so both engines
    // decide identically.
    Q("p19_txt_repetition",
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |seq AS (SELECT doc_id, tok,
         |               lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2
         |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |wcnt AS (SELECT doc_id, max(c) AS topw, sum(c) AS n_tokens
         |         FROM (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
         |         GROUP BY doc_id),
         |bi AS (SELECT doc_id, max(c) AS topb, sum(c) AS n_bi
         |       FROM (SELECT doc_id, tok || ' ' || t1 AS g, count(*) AS c
         |             FROM seq WHERE t1 IS NOT NULL GROUP BY doc_id, g)
         |       GROUP BY doc_id),
         |tri AS (SELECT doc_id, sum(c) - count(*) AS dup_tri, sum(c) AS n_tri
         |        FROM (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS g, count(*) AS c
         |              FROM seq WHERE t2 IS NOT NULL GROUP BY doc_id, g)
         |        GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(wcnt.n_tokens AS BIGINT) AS n_tokens,
         |       CAST(floor(wcnt.topw * 1000000.0 / wcnt.n_tokens + 0.5) AS BIGINT) AS top_word_q,
         |       CAST(floor(coalesce(bi.topb, 0) * 1000000.0 / greatest(coalesce(bi.n_bi, 0), 1) + 0.5) AS BIGINT) AS top_bigram_q,
         |       CAST(floor(coalesce(tri.dup_tri, 0) * 1000000.0 / greatest(coalesce(tri.n_tri, 0), 1) + 0.5) AS BIGINT) AS dup_trigram_q,
         |       (floor(wcnt.topw * 1000000.0 / wcnt.n_tokens + 0.5) < $RepTopWordMax
         |        AND floor(coalesce(bi.topb, 0) * 1000000.0 / greatest(coalesce(bi.n_bi, 0), 1) + 0.5) < $RepTopBigramMax
         |        AND floor(coalesce(tri.dup_tri, 0) * 1000000.0 / greatest(coalesce(tri.n_tri, 0), 1) + 0.5) < $RepDupTrigramMax) AS keep
         |FROM documents d
         |JOIN wcnt USING (doc_id)
         |LEFT JOIN bi USING (doc_id)
         |LEFT JOIN tri USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = tokens(col("text"))
      def q(cnt: org.apache.spark.sql.Column, denom: org.apache.spark.sql.Column) =
        floor(cnt * lit(1000000.0) / denom + lit(0.5)).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), toks.as("tok"))
        .select(col("doc_id"),
          size(col("tok")).cast("long").as("n_tokens"),
          TextOps.maxMultiplicity(col("tok")).as("topw"),
          TextOps.ngrams(col("tok"), 2).as("big"),
          TextOps.ngrams(col("tok"), 3).as("trig"))
        .select(col("doc_id"), col("n_tokens"),
          q(col("topw"), col("n_tokens")).as("top_word_q"),
          q(TextOps.maxMultiplicity(col("big")), greatest(size(col("big")), lit(1)).cast("long"))
            .as("top_bigram_q"),
          q((size(col("trig")) - size(array_distinct(col("trig")))).cast("long"),
            greatest(size(col("trig")), lit(1)).cast("long")).as("dup_trigram_q"))
        .withColumn("keep",
          col("top_word_q") < RepTopWordMax && col("top_bigram_q") < RepTopBigramMax
            && col("dup_trigram_q") < RepDupTrigramMax)
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------- text: TF-IDF top terms
    // (keyword extraction over the corpus). Classic two-aggregation
    // shape: per-(doc, term) counts with map-side combine, then the
    // vocabulary-sized document-frequency table — the corpus-wide state
    // is bounded by the VOCABULARY, not the corpus, so the join back is
    // broadcast-able at any scale (AQE decides at small SF). Smooth idf
    // (sklearn form): ln((N+1)/(df+1)) + 1. Scores ship as ×10⁶
    // integers and ranking orders by (score_q DESC, term ASC), so both
    // engines rank identically.
    Q("p20_txt_tfidf",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term,
         |         CAST(floor(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0) * 1000000.0 + 0.5) AS BIGINT) AS score_q
         |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |rk AS (SELECT doc_id, term, score_q,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term) AS rank
         |       FROM sc)
         |SELECT doc_id, rank, term, score_q
         |FROM rk WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // persist: both the score join and the document-frequency
      // aggregation consume the (doc, term) counts — without it Spark
      // re-reads and re-explodes the whole corpus for the df branch;
      // auto-released when the query's action completes
      val tf = graft.ops.Release.afterFirstUse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val totals = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score_q").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("term"),
          floor(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
            * lit(1000000.0) + lit(0.5)).cast("long").as("score_q"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("score_q"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // -------------------------------- deterministic stratified sampling
    // (training-data mixing): downsample the dominant language to a
    // per-stratum rate with a SEEDED HASH of the document id, so the
    // sample is reproducible across runs, engines and cluster sizes —
    // no RNG state, no ordering dependence, pure per-row map work
    // evaluated inside the scan's WholeStageCodegen stage (a computed
    // hash can't reach PushedFilters, but it never shuffles either).
    // Rates are percent buckets of the shared polynomial hash
    // (polyHash; the engines agree bit-for-bit, pinned by the p04/p05
    // oracles).
    Q("p21_sample_stratified", {
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-sample-1'")
      s"""SELECT doc_id, lang, bucket
         |FROM (SELECT doc_id, lang, $h % 100 AS bucket FROM documents)
         |WHERE bucket < CASE lang WHEN 'en' THEN 40 ELSE 90 END
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val bucket = pmod(
        TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-sample-1"))),
        lit(100L))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .filter(col("bucket") <
          when(col("lang") === "en", lit(40L)).otherwise(lit(90L)))
        .orderBy(col("doc_id"))
    },

    // Deterministic 3-way train/val/test assignment (98/1/1 by seeded
    // hash): the split that must be REPRODUCIBLE across cluster sizes
    // and reruns — a pure map-only seeded-hash bucket per row, no
    // sampling state, no shuffle; per-source proportions hold by hash
    // uniformity (p21's discipline with a second independent seed so
    // sampling and splitting never correlate).
    Q("p29_split_assign", {
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-split-7'")
      s"""SELECT doc_id, source, bucket,
         |       CASE WHEN bucket < 98 THEN 'train'
         |            WHEN bucket < 99 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, source, $h % 100 AS bucket FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val bucket = pmod(
        TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-split-7"))),
        lit(100L))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), bucket.as("bucket"),
          when(bucket < 98, "train").when(bucket < 99, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------------------------- text: lang id
    Q("p03_txt_langid", {
      val toks = "string_split(text, ' ')"
      val scores = LangMarkers.map { case (lg, ws) =>
        s"${countInSql(toks, ws)} AS score_$lg"
      }.mkString(",\n       ")
      val best = LangMarkers.map(_._1).map(lg => s"score_$lg").reduceLeft((a, b) => s"greatest($a, $b)")
      val guess = LangMarkers.map(_._1)
        .map(lg => s"WHEN score_$lg = best THEN '$lg'").mkString(" ")
      s"""SELECT doc_id, lang, score_en, score_de, score_fr, score_es, score_zh,
         |       CASE $guess END AS lang_guess
         |FROM (SELECT doc_id, lang, $scores, $best AS best FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val toks = tokens(col("text"))
      val scored = t(s, dir, "documents").select(
        col("doc_id") +: col("lang") +: LangMarkers.map { case (lg, ws) =>
          countIn(toks, ws).as(s"score_$lg")
        }: _*)
      val best = LangMarkers.map(m => col(s"score_${m._1}")).reduceLeft(greatest(_, _))
      // first language (in declaration order) achieving the max score
      val guessCol = LangMarkers.map(_._1).reverse
        .foldLeft(lit(null).cast("string")) { (acc, lg) =>
          when(col(s"score_$lg") === col("best"), lg).otherwise(acc)
        }
      scored.withColumn("best", best)
        .withColumn("lang_guess", guessCol)
        .drop("best")
        .orderBy(col("doc_id"))
    },

    // --------------------------------------------------------- dedup: exact
    Q("p04_dd_exact",
      """SELECT d.doc_id, md5(d.text) AS text_md5,
        |       m.canonical_id,
        |       d.doc_id <> m.canonical_id AS is_dup
        |FROM documents d
        |JOIN (SELECT md5(text) AS h, min(doc_id) AS canonical_id
        |      FROM documents GROUP BY 1) m ON md5(d.text) = m.h
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("text_md5"), col("canonical_id"), col("is_dup"))
        .orderBy(col("doc_id"))
    },

    // -------------------------------------------------- dedup: minhash sigs
    Q("p05_dd_minhash", {
      val hashes = tokenHashesSql("text")
      val sig = minHashSigSql("hashes")
      val bands = bandKeysSql("sig", NnBands)
      s"""SELECT doc_id,
         |       array_to_string(sig, ':') AS sig_str,
         |       bands[1] AS band0, bands[2] AS band1,
         |       bands[3] AS band2, bands[4] AS band3
         |FROM (SELECT doc_id, $bands AS bands, sig
         |      FROM (SELECT doc_id, $sig AS sig
         |            FROM (SELECT doc_id, $hashes AS hashes FROM documents)))
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), tokenHashes(col("text")).as("hashes"))
        .select(col("doc_id"), minHashSig(col("hashes")).as("sig"))
        .select(col("doc_id"), col("sig"), bandKeys(col("sig"), NnBands).as("bands"))
        .select(
          col("doc_id"),
          array_join(col("sig"), ":").as("sig_str"),
          element_at(col("bands"), 1).as("band0"),
          element_at(col("bands"), 2).as("band1"),
          element_at(col("bands"), 3).as("band2"),
          element_at(col("bands"), 4).as("band3"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------- dedup: minhash LSH pairs
    // Near-dup pairs at Jaccard ≥ 0.9, with banding MATCHED to the
    // threshold (4 bands × 16 rows ⇒ s-curve ≈ 0.92) so the candidate
    // set tracks the true near-dup set instead of the full pair space
    // (this corpus is word salad — 86% of pairs exceed Jaccard 0.4, so
    // any lower threshold is inherently quadratic). The hot-bucket salt
    // bounds every band bucket's self-join at cap² pairs.
    Q("p06_dd_minhash_pairs",
      s"""$NearDupPairsCte
         |SELECT id_a, id_b, jaccard FROM prs ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      nearDupPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    },

    // ------------------------------------------- dedup: near-dup grouping
    // Canonicalization over the ≥0.9 pair graph: connected components
    // labeled with the component's min doc id (docs without pairs are
    // singleton groups). Spark: iterative min-label propagation (one
    // shuffle per round, rounds ≈ component diameter); DuckDB: transitive
    // closure in a recursive CTE — both converge to the same unique
    // fixpoint.
    Q("p15_dd_neardup_groups",
      s"""$NearDupPairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION ALL SELECT id_b, id_a FROM prs),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON e.a = r.b)
         |  SELECT * FROM r)
         |SELECT a AS doc_id, min(b) AS group_id, a = min(b) AS is_canonical
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // private lineage-truncated copy for the iterative loop: every
      // pointer-jumping round runs actions over the pair set, and each
      // would re-optimize the full LSH lineage behind the cached table
      // (the checkpoint's one-node plan is what keeps rounds cheap). It
      // is created from the cache in one pass, owned solely by this
      // query, and released the moment grouping materializes; the shared
      // memo stays warm for later consumers (p51) — a stale pair
      // DataFrame simply recomputes from lineage (PlanSpec pins that
      // interleaving).
      val prsCp = nearDupPairs(s, dir).localCheckpoint(true)
      val grouped = DedupOps.neardupGroups(
        t(s, dir, "documents"), "doc_id", prsCp, "id_a", "id_b")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(prsCp)
      grouped
        .withColumn("is_canonical", col("doc_id") === col("group_id"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------ dedup: simhash
    Q("p07_dd_simhash", {
      val hashes = tokenHashesSql("text")
      s"""SELECT doc_id, ${simHashSql("hashes")} AS simhash
         |FROM (SELECT doc_id, $hashes AS hashes FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), tokenHashes(col("text")).as("hashes"))
        .select(col("doc_id"), simHash(col("hashes")).as("simhash"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------- dedup: n-gram jaccard NN
    // For every doc: its nearest neighbor by 3-gram shingle Jaccard among
    // its MinHash-LSH candidates (docs sharing at least one band key).
    // The candidate join is an equi-join on (band, key) — O(candidates),
    // never all-pairs; the SQL oracle states the identical semantics with
    // the shared deterministic minhash/band formulas.
    Q("p08_dd_ngram_nn", {
      val sh = DedupOps.shingleHashesSql(3)
      val sig = minHashSigSql("sh")
      val bands = bandKeysSql("sig", NnBands)
      val jac = jaccardSql("a.sh", "b.sh")
      s"""WITH sh AS (
         |  SELECT doc_id, sh, $bands AS bands
         |  FROM (SELECT doc_id, sh, $sig AS sig
         |        FROM (SELECT doc_id, $sh AS sh
         |              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))),
         |sx AS (${saltedBandsSql("sh", "doc_id", NnBands)}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sx a JOIN sx b
         |    ON a.key = b.key AND a.band = b.band AND a.salt = b.salt
         |   AND a.doc_id <> b.doc_id),
         |pairs AS (
         |  SELECT id_a AS doc_id, id_b AS nn_id, $jac AS jac,
         |         row_number() OVER (PARTITION BY id_a ORDER BY $jac DESC, id_b) AS rnk
         |  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
         |SELECT doc_id, nn_id, jac FROM pairs WHERE rnk = 1 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // persist: the shingle/minhash chain feeds the explode and both
      // candidate joins — compute it once (at scale: a signature table).
      // The shingle ARRAYS stay out of the explode (16 band rows/doc
      // would multiply them); the two join-backs fetch them by id, and
      // the cache auto-releases when the query's action completes.
      val sh = graft.ops.Release.afterFirstUse(
        t(s, dir, "documents")
          .select(col("doc_id"), sort_array(shingleHashes(col("text"), 3)).as("sh"))
          .withColumn("bands", bandKeys(minHashSig(col("sh")), NnBands)))
      val exploded = saltedBands(sh, "doc_id")
      val cand = exploded.as("x")
        .join(exploded.as("y"),
          col("x.key") === col("y.key") && col("x.band") === col("y.band")
            && col("x.salt") === col("y.salt") && col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      // top-1 per doc via a partial-aggregable max over (jac, -id_b) —
      // map-side combine instead of a full window sort of every
      // candidate pair (ties: highest jac, then lowest id_b, exactly
      // the oracle's ORDER BY jac DESC, id_b)
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jac",
          org.apache.spark.sql.graftexpr.VectorExprs.jaccardSortedSim(col("sh_a"), col("sh_b")))
        .groupBy(col("id_a"))
        .agg(max(struct(col("jac"), (-col("id_b")).as("neg_id"))).as("m"))
        .select(col("id_a").as("doc_id"), (-col("m.neg_id")).as("nn_id"),
          col("m.jac").as("jac"))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------- similarity: brute-force top-k
    // ------------------------------- text: token-window chunking
    // (training-sequence prep): split every document into windows of 32
    // tokens with stride 24 (25% overlap), keeping the trailing partial
    // window. Pure per-row array work — the chunk starts come from
    // sequence(), the slices from slice(), then ONE posexplode; no UDF,
    // no shuffle, and at 100 TB the chunk table streams out of the scan
    // stage. The oracle rebuilds the same windows with generate_series +
    // list slicing and compares the rejoined chunk text exactly.
    Q("p23_txt_chunks", {
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |starts AS (
         |  SELECT doc_id, tok, unnest(generate_series(1, greatest(len(tok) - 1, 1), 24)) AS st
         |  FROM t),
         |ch AS (SELECT doc_id, CAST((st - 1) / 24 AS BIGINT) AS chunk_idx,
         |              tok[st : least(st + 31, len(tok))] AS w
         |       FROM starts)
         |SELECT doc_id, chunk_idx,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       array_to_string(w, ' ') AS chunk_text
         |FROM ch
         |ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, dir) =>
      val tok = tokens(col("text"))
      val starts = sequence(lit(1), greatest(size(col("tok")) - 1, lit(1)), lit(24))
      t(s, dir, "documents")
        .select(col("doc_id"), tok.as("tok"))
        .select(col("doc_id"), col("tok"),
          posexplode(transform(starts,
            st => slice(col("tok"), st, least(lit(32), size(col("tok")) - st + 1)))))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_idx"),
          size(col("col")).cast("long").as("n_tokens"),
          array_join(col("col"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ----------------------- composed cleaning pipeline (integration):
    // exact-dedup canonical ∧ repetition-quality keep ∧ seeded
    // language-stratified sampling, all in ONE plan — the shape a real
    // corpus-cleaning job runs. One window shuffle (canonical id per
    // md5 group); every other stage is map work fused into the same
    // scan, so the whole chain stays two stages at any scale.
    Q("p24_filter_compose",
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, string_split(text, ' ') AS tok,
         |         min(doc_id) OVER (PARTITION BY md5(text)) AS canon,
         |         ${TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-sample-1'")} % 100 AS bucket
         |  FROM documents),
         |u AS (SELECT doc_id, tok, unnest(tok) AS w,
         |             generate_subscripts(tok, 1) AS pos FROM t),
         |seq AS (SELECT doc_id, w, lead(w, 1) OVER wd AS w1
         |        FROM u WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
         |wc AS (SELECT doc_id, max(c) AS topw, sum(c) AS n_tok
         |       FROM (SELECT doc_id, w, count(*) AS c FROM u GROUP BY doc_id, w)
         |       GROUP BY doc_id),
         |bc AS (SELECT doc_id, max(c) AS topb, sum(c) AS n_bi
         |       FROM (SELECT doc_id, w || ' ' || w1 AS g, count(*) AS c
         |             FROM seq WHERE w1 IS NOT NULL GROUP BY doc_id, g)
         |       GROUP BY doc_id)
         |SELECT t.doc_id, t.lang, t.bucket
         |FROM t JOIN wc USING (doc_id) LEFT JOIN bc USING (doc_id)
         |WHERE t.doc_id = t.canon
         |  AND floor(wc.topw * 1000000.0 / wc.n_tok + 0.5) < 300000
         |  AND floor(coalesce(bc.topb, 0) * 1000000.0 / greatest(coalesce(bc.n_bi, 0), 1) + 0.5) < 180000
         |  AND (t.lang <> 'en' OR t.bucket < 40)
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val toks = tokens(col("text"))
      val wMd5 = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      def q(cnt: org.apache.spark.sql.Column, denom: org.apache.spark.sql.Column) =
        floor(cnt * lit(1000000.0) / denom + lit(0.5)).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          min(col("doc_id")).over(wMd5).as("canon"),
          pmod(TextOps.polyHash(
            concat(col("doc_id").cast("string"), lit("#graft-sample-1"))), lit(100L))
            .as("bucket"),
          toks.as("tok"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("canon"),
          size(col("tok")).cast("long").as("n_tok"),
          TextOps.maxMultiplicity(col("tok")).as("topw"),
          TextOps.ngrams(col("tok"), 2).as("big"))
        .filter(col("doc_id") === col("canon")
          && q(col("topw"), col("n_tok")) < 300000
          && q(TextOps.maxMultiplicity(col("big")),
               greatest(size(col("big")), lit(1)).cast("long")) < 180000
          && (col("lang") =!= "en" || col("bucket") < 40))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // ----------------------------- embeddings: int8 symmetric quantization
    // (vector-store compression). Per-vector scale = max|x|/127, round
    // half-away-from-zero, clamp to [-127, 127], and the L2
    // reconstruction error — all per-row array folds in the scan stage:
    // no UDF, no shuffle, the 100 TB shape for a corpus-wide recompress.
    // Both engines fold the array LEFT-TO-RIGHT with the same elementwise
    // ops (widen-to-double is exact, round ties match, error terms are
    // plain multiplies), so the ×10⁹ quantized outputs are bit-identical.
    Q("p22_embed_quant", {
      val absMax = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b))"
      val diff = "list_transform(embedding, x -> CAST(x AS DOUBLE) - " +
        "least(greatest(round(CAST(x AS DOUBLE) / scale, 0), -127.0), 127.0) * scale)"
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS dim,
         |             $absMax / 127.0 AS scale
         |           FROM embeddings)
         |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         |       CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_q,
         |       CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(floor(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), $diff),
         |                 (a, b) -> a + b * b)) * 1000000000.0 + 0.5) AS BIGINT)
         |       END AS l2_err_q
         |FROM e ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = col("embedding")
      val absMax = aggregate(emb, lit(0.0),
        (a, x) => greatest(a, abs(x.cast("double"))))
      def qerr(scale: org.apache.spark.sql.Column) =
        sqrt(aggregate(emb, lit(0.0), (a, x) => {
          val xd = x.cast("double")
          val d = xd - least(greatest(round(xd / scale), lit(-127.0)), lit(127.0)) * scale
          a + d * d
        }))
      t(s, dir, "embeddings")
        .select(col("vec_id"), emb, size(emb).cast("long").as("dim"),
          (absMax / lit(127.0)).as("scale"))
        .select(col("vec_id"), col("dim"),
          floor(col("scale") * lit(1000000000.0) + lit(0.5)).cast("long").as("scale_q"),
          when(col("scale") === 0, lit(0L))
            .otherwise(floor(qerr(col("scale")) * lit(1000000000.0) + lit(0.5)).cast("long"))
            .as("l2_err_q"))
        .orderBy(col("vec_id"))
    },

    // Matryoshka truncation diagnostics: per-vector L2 norm of the
    // 16-dim prefix and the retained-energy ratio vs the full vector —
    // the decision metric for serving truncated embeddings. Map-only
    // per-row folds in the scan stage (p22's element-order + edge-
    // quantization discipline: ×10⁹ norms, ×10⁶ ratio).
    Q("p28_embed_truncate", {
      def ssq(listExpr: String) =
        s"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform($listExpr, x -> CAST(x AS DOUBLE))), (a, b) -> a + b * b))"
      s"""WITH e AS (SELECT vec_id, len(embedding) AS dim,
         |             ${ssq("embedding[1:16]")} AS pn,
         |             ${ssq("embedding")} AS fn
         |           FROM embeddings)
         |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         |       CAST(floor(pn * 1000000000.0 + 0.5) AS BIGINT) AS prefix_norm_q,
         |       CASE WHEN fn = 0 THEN CAST(-1 AS BIGINT)
         |            ELSE CAST(floor(pn / fn * 1000000.0 + 0.5) AS BIGINT)
         |       END AS retained_q
         |FROM e ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      def ssq(c: org.apache.spark.sql.Column) =
        sqrt(aggregate(c, lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
      t(s, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
          ssq(slice(col("embedding"), 1, 16)).as("pn"),
          ssq(col("embedding")).as("fn"))
        .select(col("vec_id"), col("dim"),
          floor(col("pn") * lit(1000000000.0) + lit(0.5)).cast("long").as("prefix_norm_q"),
          when(col("fn") === 0, lit(-1L))
            .otherwise(floor(col("pn") / col("fn") * lit(1000000.0) + lit(0.5)).cast("long"))
            .as("retained_q"))
        .orderBy(col("vec_id"))
    },

    Q("p09_sim_brute_topk", {
      val cos = cosineSql("q.embedding", "c.embedding")
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rnk
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20)
         |SELECT query_id, neighbor_id, cos, rnk FROM scored WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      bruteTopK(e.filter(col("vec_id") < 20), e, 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // ---------------------------- similarity: embedding near-dup NN via LSH
    // Nearest neighbor within the deterministic hyperplane-LSH bucket —
    // an equi-join on the bucket id, never all-pairs (the 100 TB shape:
    // shuffle keyed on bucket, bucket-local candidates only).
    // OR-amplified across NumTables independent 16-plane tables: a pair
    // is a candidate iff it shares a bucket in ANY table (recall), each
    // table's bucket universe is 2^16 (grows with plane count, no cap),
    // and the hot-bucket salt bounds every (table, bucket) self-join.
    Q("p10_dd_embed_nn", {
      val cos = cosineSql("a.embedding", "b.embedding")
      val buckets = lshBucketsSql("embedding")
      s"""WITH eb AS (SELECT vec_id, embedding, $buckets AS buckets FROM embeddings),
         |ex AS (SELECT vec_id, unnest(range(${SimilarityOps.NumTables})) AS tbl,
         |              unnest(buckets) AS bucket FROM eb),
         |sx AS (SELECT vec_id, tbl, bucket,
         |         CAST(floor((row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) - 1)
         |              / ${DedupOps.BandBucketCap}.0) AS BIGINT) AS salt FROM ex),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sx a JOIN sx b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.salt = b.salt
         |   AND a.vec_id <> b.vec_id),
         |pairs AS (
         |  SELECT id_a AS vec_id, id_b AS nn_id, $cos AS cos,
         |         row_number() OVER (PARTITION BY id_a ORDER BY $cos DESC, id_b) AS rnk
         |  FROM cand JOIN eb a ON a.vec_id = id_a JOIN eb b ON b.vec_id = id_b)
         |SELECT vec_id, nn_id, cos, cos >= 0.95 AS is_neardup
         |FROM pairs WHERE rnk = 1 ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      // embeddings stay out of the explode (NumTables rows/vec would
      // multiply the payload); join-backs fetch them by id, and the cache
      // auto-releases when the query's action completes
      val eb = graft.ops.Release.afterFirstUse(
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), lshBuckets(col("embedding")).as("buckets")))
      val ex = DedupOps.saltedBands(eb, "vec_id", "buckets", "tbl", "bucket")
      val cand = ex.as("x")
        .join(ex.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket")
            && col("x.salt") === col("y.salt") && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct()
      // top-1 per vec via partial-aggregable max (see p08)
      cand
        .join(eb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), "id_a")
        .join(eb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), "id_b")
        .withColumn("cos", cosine(col("e_a"), col("e_b")))
        .groupBy(col("id_a"))
        .agg(max(struct(col("cos"), (-col("id_b")).as("neg_id"))).as("m"))
        .select(col("id_a").as("vec_id"), (-col("m.neg_id")).as("nn_id"),
          col("m.cos").as("cos"), (col("m.cos") >= 0.95).as("is_neardup"))
        .orderBy(col("vec_id"))
    },

    // ------------------------------------------------- similarity: IVF ANN
    // The second ANN scale path: a coarse quantizer partitions the corpus
    // into K cells (argmax-cosine against deterministic seed centroids —
    // Lloyd-trained in production, identical plumbing), queries probe the
    // nProbe nearest cells, and only those partitions are scored: a
    // broadcast of K rows + one equi-join on the cell id, never all-pairs.
    Q("p14_sim_ivf_topk", {
      val cosEC = cosineSql("e.embedding", "c.c_emb")
      val cosQC = cosineSql("q.embedding", "c.c_emb")
      val cosQN = cosineSql("q.embedding", "n.embedding")
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
         |              FROM embeddings ORDER BY vec_id LIMIT ${SimilarityOps.IvfK}),
         |asg AS (
         |  SELECT neighbor_id, cluster FROM (
         |    SELECT e.vec_id AS neighbor_id, c.c_id AS cluster,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.c_id) AS rnk
         |    FROM embeddings e CROSS JOIN cent c) WHERE rnk = 1),
         |prb AS (
         |  SELECT query_id, cluster FROM (
         |    SELECT q.vec_id AS query_id, c.c_id AS cluster,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosQC DESC, c.c_id) AS rnk
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20)
         |  WHERE rnk <= ${SimilarityOps.IvfProbes}),
         |scored AS (
         |  SELECT p.query_id, a.neighbor_id, $cosQN AS cos,
         |         row_number() OVER (PARTITION BY p.query_id ORDER BY $cosQN DESC, a.neighbor_id) AS rnk
         |  FROM prb p JOIN asg a ON a.cluster = p.cluster AND a.neighbor_id <> p.query_id
         |  JOIN embeddings q ON q.vec_id = p.query_id
         |  JOIN embeddings n ON n.vec_id = a.neighbor_id)
         |SELECT query_id, neighbor_id, cos, rnk FROM scored WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      SimilarityOps.ivfTopK(e, e.filter(col("vec_id") < 20), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // --------------------------------------------- similarity: LSH buckets
    Q("p11_sim_lsh_buckets", {
      val bucket = lshBucketSql("embedding")
      s"""SELECT vec_id, $bucket AS bucket FROM embeddings ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), lshBucket(col("embedding")).as("bucket"))
        .orderBy(col("vec_id"))
    },

    // ------------------------------------------------- multimodal plumbing
    // Oracle: the payload is the UTF-8 byte string of `text`; DuckDB gets
    // at the bytes via hex(encode(text)) and recomputes the checksum /
    // first / last byte arithmetic exactly.
    Q("p12_mm_features", {
      s"""WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         |                  octet_length(encode(text)) AS n_bytes FROM documents),
         |b AS (SELECT media_id, n_bytes, $HexBytesSql AS bytes FROM h)
         |SELECT media_id, 'text/fake' AS kind, n_bytes,
         |       CAST(coalesce(list_sum(bytes), 0) % 1000000007 AS BIGINT) AS checksum,
         |       CAST(CASE WHEN n_bytes > 0 THEN bytes[1] ELSE -1 END AS INT) AS first_byte,
         |       CAST(CASE WHEN n_bytes > 0 THEN bytes[n_bytes] ELSE -1 END AS INT) AS last_byte
         |FROM b ORDER BY media_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val media = MultimodalOps.asMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[MultimodalOps.MediaRow]
      MultimodalOps.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          col("first_byte"), col("last_byte"))
        .orderBy(col("media_id"))
    },

    // ------------------------------------------- text: normalization dedup
    // Fuzzy-dedup preprocessing: character normalization (lowercase, strip
    // non-alphanumerics, collapse runs of spaces) followed by the
    // token-sort canonical form (sorted distinct tokens) — the bag-of-words
    // fingerprint catches reordered/reworded near-duplicates that exact
    // dedup misses. One groupBy on the fingerprint; the heavy text column
    // never shuffles (only doc_id + fingerprint).
    Q("p16_txt_normalize", {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      s"""WITH n AS (SELECT doc_id, $norm AS norm FROM documents),
         |h AS (SELECT doc_id, length(norm) AS norm_len,
         |             ${polyHashSql("array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ')")} AS bag_fp
         |      FROM n),
         |c AS (SELECT bag_fp, min(doc_id) AS canonical_id FROM h GROUP BY bag_fp)
         |SELECT doc_id, norm_len, bag_fp, canonical_id,
         |       doc_id <> canonical_id AS is_dup
         |FROM h JOIN c USING (bag_fp) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      val h = t(s, dir, "documents").select(
        col("doc_id"),
        length(norm).as("norm_len"),
        polyHash(array_join(array_sort(array_distinct(split(norm, " "))), " ")).as("bag_fp"))
      // canonical id as a window min over the fingerprint: ONE shuffle of
      // the three narrow columns, and the normalization chain runs once
      // (the groupBy+join-back shape would recompute it on both sides)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bag_fp"))
      h.withColumn("canonical_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("norm_len"), col("bag_fp"), col("canonical_id"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------- dedup: simhash band pairs
    // Near-dup pairs by SimHash: the 61-bit signature splits into 4 bands
    // (16+16+16+13 bits); by pigeonhole, any pair within hamming distance 3
    // shares at least one band — the band equi-join has EXACT recall for
    // the ≤3 threshold and touches only colliding buckets (with the same
    // hot-bucket salt cap as the MinHash LSH family). Verification is one
    // xor + popcount per candidate.
    Q("p18_dd_simhash_pairs", {
      val hashes = tokenHashesSql("text")
      val sim = simHashSql("hashes")
      val bandsSql = DedupOps.SimHashBandSplit.map { case (off, w) =>
        s"(sim >> $off) & ${(1L << w) - 1}"
      }.mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT doc_id, sim, $bandsSql AS bands
         |  FROM (SELECT doc_id, $sim AS sim
         |        FROM (SELECT doc_id, $hashes AS hashes FROM documents))),
         |sx AS (${DedupOps.saltedBandsSql("sh", "doc_id", 4)}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sx a JOIN sx b
         |    ON a.key = b.key AND a.band = b.band AND a.salt = b.salt
         |   AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      // the 8-byte signature rides through the explode (`carry`), so
      // verification is one xor+popcount ON the band join itself — zero
      // join-backs to the signature table. The hamming filter runs BEFORE
      // the distinct, so the pair-dedup shuffle carries only true
      // near-dup pairs, not every band collision. The signature chain is
      // persisted (both self-join sides read it) and auto-released when
      // the query's action completes.
      val sh = graft.ops.Release.afterFirstUse(
        // r17 A/B: tw fan-out measured a LOSS here (warm min-of-3 solo
        // 2.11 vs 1.68 s) — the band self-join loses more from the extra
        // exchange than the simhash map leg gains. Left on t().
        t(s, dir, "documents")
          .select(col("doc_id"), simHash(tokenHashes(col("text"))).as("sim"))
          .withColumn("bands", array(DedupOps.SimHashBandSplit.map { case (off, w) =>
            shiftright(col("sim"), off).bitwiseAND(lit((1L << w) - 1))
          }: _*)))
      val exploded = DedupOps.saltedBands(sh, "doc_id", carry = Seq("sim"))
      exploded.as("a")
        .join(exploded.as("b"),
          col("a.key") === col("b.key") && col("a.band") === col("b.band")
            && col("a.salt") === col("b.salt") && col("a.doc_id") < col("b.doc_id"))
        .withColumn("hamming",
          DedupOps.hamming(col("a.sim"), col("b.sim")).cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("hamming"))
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---------------------------------------- text: benchmark decontamination
    // Training-data decontamination: flag corpus documents sharing ≥ 5
    // distinct 3-gram shingles with the benchmark set (here: doc_id < 20
    // stands in for an eval benchmark). Spark plan: the benchmark shingle
    // set is tiny → broadcast hash join against the exploded corpus
    // shingles; the shuffle carries only (doc_id, partial count) pairs —
    // the 100 TB shape (corpus text scanned once, never shuffled).
    Q("p17_txt_decontaminate", {
      val sh = DedupOps.shingleHashesSql(3)
      s"""WITH sh AS (
         |  SELECT doc_id, $sh AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |bl AS (SELECT list(DISTINCT h) AS hs
         |       FROM (SELECT unnest(sh) AS h FROM sh WHERE doc_id < 20))
         |SELECT doc_id,
         |       CAST(len(list_intersect(sh, hs)) AS BIGINT) AS n_shared,
         |       len(list_intersect(sh, hs)) >= 5 AS contaminated
         |FROM sh CROSS JOIN bl WHERE doc_id >= 20 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), DedupOps.shingleHashes(col("text"), 3).as("sh"))
      val bench = sh.filter(col("doc_id") < 20)
        .select(explode(col("sh")).as("h")).distinct()
      val corpus = sh.filter(col("doc_id") >= 20)
      val counts = corpus.select(col("doc_id"), explode(col("sh")).as("h"))
        .join(broadcast(bench), "h")
        .groupBy(col("doc_id")).agg(count(col("h")).as("n_shared"))
      corpus.select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("contaminated", col("n_shared") >= 5)
        .orderBy(col("doc_id"))
    },

    // Corpus-driven frequent-word pruning (the word-soup analogue of
    // C4/CCNet boilerplate removal): one vocabulary-bounded df shuffle,
    // a provably-small collected frequent set (≤ avg-tokens-per-doc / θ
    // words can exceed θ·N docs), then a MAP-ONLY ordered rewrite in the
    // scan stage — no corpus-sized reconstruction shuffle.
    Q("p25_txt_dropfreq",
      """WITH n AS (SELECT count(*) AS c FROM documents),
        |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |df AS (SELECT word, count(DISTINCT doc_id) AS dfc FROM w GROUP BY word),
        |freq AS (SELECT word FROM df CROSS JOIN n WHERE dfc > 0.5 * n.c),
        |wp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |              generate_subscripts(string_split(text, ' '), 1) AS pos
        |       FROM documents),
        |kept AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
        |                count(*) AS n_kept
        |         FROM wp WHERE word NOT IN (SELECT word FROM freq)
        |         GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       CAST(len(string_split(d.text, ' ')) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      dropFrequentWords(t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy(col("doc_id"))
    },

    // CCNet-style LM quality filter: a corpus-estimated character-bigram
    // LM (ONE alphabet²-bounded aggregation) scores each document by
    // average negative log-likelihood — explode + broadcast join against
    // the tiny LM + a map-side-combining per-doc agg. The oracle
    // restates estimation and scoring; log/divide are single IEEE ops
    // from identical integers and the ×10⁴ quantization absorbs the
    // per-doc summation order (the cef23 log-loss discipline).
    Q("p26_txt_lm_quality",
      """WITH ch AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |ix AS (SELECT doc_id, text, unnest(range(1, L)) AS i FROM ch),
        |bg AS (SELECT doc_id, substring(text, i, 2) AS b FROM ix),
        |cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
        |c1 AS (SELECT substring(b, 1, 1) AS h, sum(c) AS hc FROM cnt GROUP BY h),
        |lm AS (SELECT b, ln(CAST(c AS DOUBLE) / hc) AS lnp
        |       FROM cnt JOIN c1 ON substring(cnt.b, 1, 1) = c1.h),
        |sc AS (SELECT doc_id, -sum(lnp) / count(*) AS nll, count(*) AS n_trans
        |       FROM bg JOIN lm USING (b) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_trans AS BIGINT) AS n_trans,
        |       CAST(floor(nll * 10000 + 0.5) AS BIGINT) AS nll_q,
        |       nll < 1.7 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // r17: tw examined — a no-op: bigramNll already
      // repartition(col(idCol))s off the scan (plans identical on/off)
      bigramNll(t(s, dir, "documents"), "doc_id", "text", threshold = 1.7)
        .orderBy(col("doc_id"))
    },

    // Span-level primitive of exact substring dedup (Lee et al. ACL'22):
    // every 16-token rolling window fingerprinted, fingerprints shared
    // across >1 doc emitted with their positions. The window table is
    // persisted for the query and auto-released (signature-cache
    // discipline); one fingerprint-keyed shuffle; output is
    // duplication-bound (m rows per shared window, not m²).
    Q("p27_dd_dupspans", {
      val hashOf = TextOps.polyHashSql("array_to_string(list_slice(toks, pos + 1, pos + 16), ' ')")
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(range(0, len(toks) - 15)) AS pos, toks
         |      FROM tk WHERE len(toks) >= 16),
         |hw AS (SELECT doc_id, pos, $hashOf AS h FROM w),
         |dup AS (SELECT h, count(DISTINCT doc_id) AS nd FROM hw GROUP BY h
         |        HAVING count(DISTINCT doc_id) > 1)
         |SELECT hw.doc_id, CAST(hw.pos AS BIGINT) AS pos, hw.h,
         |       CAST(dup.nd AS BIGINT) AS nd
         |FROM hw JOIN dup USING (h) ORDER BY doc_id, pos""".stripMargin
    }) { (s, dir) =>
      // tw: the span-hash emission (len-15 hashes/doc, each a 16-token
      // rehash) dominates and is map-only — fan the one-split scan out
      // (r16 A/B: 2.03 → 1.37 s)
      DedupOps.dupSpans(tw(s, dir, "documents"), "doc_id", "text", width = 16)
        .orderBy(col("doc_id"), col("pos"))
    },

    Q("p13_mm_frames", {
      s"""WITH $MmFrameTableCte
         |SELECT media_id, frame_no, "offset", frame_checksum
         |FROM fr ORDER BY media_id, frame_no""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val media = MultimodalOps.asMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[MultimodalOps.MediaRow]
      MultimodalOps.sampleFrames(media, 4).toDF()
        .orderBy(col("media_id"), col("frame_no"))
    },

    // ------------------------------------- quality: Gopher-style rule gate
    // The classic pretraining quality gate (Gopher §A1.1 / RefinedWeb):
    // per-document word count, mean word length and stopword density, each
    // against fixed bounds, conjoined into one keep bit. All-integer
    // arithmetic (quantized mean ×100, density ×10⁴) so both engines
    // agree bit-for-bit. Scale shape: pure per-row map work inside the
    // scan's codegen stage — no shuffle, no state, trivially 100 TB-safe.
    Q("p30_quality_rules", {
      val toks = "string_split(text, ' ')"
      val stops = TextOps.countInSql("toks", QualityStopwords)
      s"""WITH w AS (SELECT doc_id, $toks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |             len(toks) AS n_words,
         |             CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
         |             CAST($stops AS BIGINT) AS n_stop
         |      FROM w)
         |SELECT doc_id, CAST(n_words AS INT) AS n_words,
         |       (sum_len * 100) // n_words AS mean_wl_q,
         |       (n_stop * 10000) // n_words AS stop_q,
         |       (n_words BETWEEN $QWordsMin AND $QWordsMax)
         |         AND ((sum_len * 100) // n_words BETWEEN $QWlMin AND $QWlMax)
         |         AND ((n_stop * 10000) // n_words >= $QStopMin) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val ws = split(col("text"), " ")
      val m = t(s, dir, "documents").select(
        col("doc_id"),
        size(ws).as("n_words"),
        aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("sum_len"),
        countIn(ws, QualityStopwords).cast("long").as("n_stop"))
      m.select(col("doc_id"), col("n_words"),
          expr("(sum_len * 100) div n_words").as("mean_wl_q"),
          expr("(n_stop * 10000) div n_words").as("stop_q"),
          (col("n_words").between(QWordsMin, QWordsMax)
            && expr("(sum_len * 100) div n_words").between(QWlMin, QWlMax)
            && (expr("(n_stop * 10000) div n_words") >= QStopMin)).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------- assembly: sequence packing
    // Token-budget bin packing (the example-packing step before batching):
    // docs hash into independent buckets, each bucket packs greedily in
    // doc-id order (PackOps scale notes: one shuffle + external sort +
    // O(1)-state streaming scan). Oracle replays the same greedy as a
    // per-bucket recursive-CTE state machine.
    Q("p31_seq_packing", PackGreedyOracle) { (s, dir) =>
      PackOps.packGreedy(
          t(s, dir, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tok")),
          "doc_id", "n_tok", buckets = PackBuckets, budget = PackBudget)
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------- privacy: PII redact
    // Regex-based PII scrubbing (emails, IPv4) — counts plus a redacted
    // fingerprint. The corpus is synthetic word-soup, so both sides
    // enrich each doc with the SAME deterministic PII suffix first; the
    // redaction itself is the operator under test. Patterns stay in the
    // Java-regex ∩ RE2 common subset so both engines match identically.
    // Scale shape: map-only regexp work in the scan stage, no shuffle.
    Q("p32_pii_redact", {
      s"""WITH e AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id ||
         |         '@example.com or 10.' || (doc_id % 200) || '.0.' ||
         |         (doc_id % 250) || ' now' AS ptext
         |  FROM documents),
         |rr AS (SELECT doc_id,
         |              CAST(len(regexp_extract_all(ptext, '$PiiEmailRe')) AS INT) AS n_email,
         |              CAST(len(regexp_extract_all(ptext, '$PiiIpRe')) AS INT) AS n_ip,
         |              regexp_replace(regexp_replace(ptext, '$PiiEmailRe', '<EMAIL>', 'g'),
         |                             '$PiiIpRe', '<IP>', 'g') AS red
         |       FROM e)
         |SELECT doc_id, n_email, n_ip, length(red) AS red_len,
         |       ${TextOps.polyHashSql("red")} AS red_fp
         |FROM rr ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val ptext = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 10."), pmod(col("doc_id"), lit(200L)),
        lit(".0."), pmod(col("doc_id"), lit(250L)), lit(" now"))
      val red = regexp_replace(
        regexp_replace(ptext, PiiEmailRe, "<EMAIL>"), PiiIpRe, "<IP>")
      t(s, dir, "documents").select(
          col("doc_id"),
          regexp_count(ptext, lit(PiiEmailRe)).cast("int").as("n_email"),
          regexp_count(ptext, lit(PiiIpRe)).cast("int").as("n_ip"),
          length(red).as("red_len"),
          TextOps.polyHash(red).as("red_fp"))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------- mixing: temperature weights
    // Temperature-based domain rebalancing (multilingual sampling à la
    // mBERT/XLM, τ=0.5): per-language counts reweighted by sqrt of the
    // empirical share. sqrt and division are exactly-rounded IEEE ops, and
    // the normalization runs on QUANTIZED integer numerators (summed
    // order-independently) so both engines agree exactly. Scale shape: one
    // domain-bounded aggregation; the two whole-table windows run over the
    // |domains|-row aggregate, never the corpus.
    Q("p33_domain_mix", {
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |t AS (SELECT *, (SELECT sum(n_docs) FROM c) AS total FROM c),
         |q AS (SELECT lang, n_docs,
         |             CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / total) * 1000000000 + 0.5)
         |                  AS BIGINT) AS num_q
         |      FROM t),
         |s AS (SELECT *, (SELECT sum(num_q) FROM q) AS denom FROM q)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, num_q,
         |       CAST((num_q * 1000000) // denom AS BIGINT) AS weight_ppm,
         |       CAST((num_q * 10000) // denom AS BIGINT) AS expected_docs
         |FROM s ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      val whole = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("total", sum(col("n_docs")).over(whole))
        .withColumn("num_q",
          floor(sqrt(col("n_docs").cast("double") / col("total")) * 1000000000L + 0.5)
            .cast("long"))
        .withColumn("denom", sum(col("num_q")).over(whole))
        .select(col("lang"), col("n_docs"), col("num_q"),
          expr("(num_q * 1000000) div denom").as("weight_ppm"),
          expr("(num_q * 10000) div denom").as("expected_docs"))
        .orderBy(col("lang"))
    },

    // --------------------------------------- sketch: KMV distinct count
    // K-minimum-values distinct-token estimator per language — the
    // DETERMINISTIC cardinality sketch (unlike HLL, two engines computing
    // it agree bit-for-bit, which is also what makes it mergeable across
    // a cluster without drift): keep the k smallest distinct token
    // hashes; est ≈ (k-1)·M / kth_min. Scale shape: one distinct shuffle
    // of (lang, hash) pairs, then a per-language top-k — WindowExec's
    // EXTERNAL sort within each language partition, never a global sort;
    // the estimate arithmetic is integer-only.
    Q("p34_kmv_distinct", {
      val est = s"(CAST(${KmvK - 1} AS BIGINT) * ${TextOps.HashMod}) // kth_min"
      s"""WITH d AS (SELECT DISTINCT lang, unnest(${tokenHashesSql("text")}) AS h
         |           FROM documents),
         |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
         |      FROM d),
         |a AS (SELECT lang, count(*) AS n_sample, max(h) AS kth_min
         |      FROM r WHERE rk <= $KmvK GROUP BY lang)
         |SELECT lang, CAST(n_sample AS BIGINT) AS n_sample, kth_min,
         |       CAST(CASE WHEN n_sample < $KmvK THEN n_sample ELSE $est END AS BIGINT)
         |         AS est_distinct
         |FROM a ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("h"))
      val num = (KmvK - 1).toLong * TextOps.HashMod
      t(s, dir, "documents")
        .select(col("lang"), explode(tokenHashes(col("text"))).as("h"))
        .distinct()
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= KmvK)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sample"), max(col("h")).as("kth_min"))
        .select(col("lang"), col("n_sample"), col("kth_min"),
          when(col("n_sample") < KmvK, col("n_sample"))
            .otherwise(expr(s"$num div kth_min")).as("est_distinct"))
        .orderBy(col("lang"))
    },

    // ------------------------------------ sketch: Count-Min frequencies
    // Count-Min sketch over token frequencies (4 rows × 1024 buckets,
    // fixed seeds ⇒ fully deterministic) probed for a fixed vocabulary;
    // est ≥ exact always (the one-sided CM guarantee, checked by the
    // overcount column). Scale shape: the corpus shuffles ONCE as
    // (row, bucket) pairs with map-side combine into the 4096-counter
    // table; probes are a literal frame hash-joined against it, and the
    // exact counts ride the same exploded scan. This is the frequency
    // oracle a 100 TB pipeline keeps in memory instead of a full
    // vocabulary count.
    Q("p35_cm_freq", {
      val aList = CmSeeds.map(_._1).mkString("[", ", ", "]")
      val bList = CmSeeds.map(_._2).mkString("[", ", ", "]")
      val probes = CmProbes.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT w, ${TextOps.polyHashSql("w")} AS h FROM w),
         |bk AS (SELECT ((h * $aList[r + 1] + $bList[r + 1]) % ${TextOps.HashMod}) % $CmW
         |         AS bucket, r AS row
         |       FROM h CROSS JOIN (SELECT unnest(range(${CmSeeds.size})) AS r)),
         |sk AS (SELECT row, bucket, count(*) AS c FROM bk GROUP BY row, bucket),
         |pr AS (SELECT unnest($probes) AS word),
         |ph AS (SELECT word, ${TextOps.polyHashSql("word")} AS h FROM pr),
         |pb AS (SELECT word, r AS row,
         |              ((h * $aList[r + 1] + $bList[r + 1]) % ${TextOps.HashMod}) % $CmW
         |                AS bucket
         |       FROM ph CROSS JOIN (SELECT unnest(range(${CmSeeds.size})) AS r)),
         |est AS (SELECT word, min(coalesce(c, 0)) AS est_cnt
         |        FROM pb LEFT JOIN sk USING (row, bucket) GROUP BY word),
         |ex AS (SELECT w AS word, count(*) AS exact_cnt FROM w GROUP BY w)
         |SELECT word, CAST(est_cnt AS BIGINT) AS est_cnt,
         |       CAST(coalesce(exact_cnt, 0) AS BIGINT) AS exact_cnt,
         |       CAST(est_cnt - coalesce(exact_cnt, 0) AS BIGINT) AS overcount
         |FROM est LEFT JOIN ex USING (word) ORDER BY word""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      // persisted: the sketch aggregation and the exact-count aggregation
      // both consume the exploded token table in one final plan — without
      // it the corpus explode runs twice (the bigramNll/dupSpans
      // double-pass discipline); auto-released after the query
      val toks = graft.ops.Release.afterFirstUse(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w")))
      val hashed = toks.select(col("w"), TextOps.polyHash(col("w")).as("h"))
      def buckets(h: Column): Column = array(CmSeeds.map { case (a, b) =>
        pmod(pmod(h * a + b, lit(TextOps.HashMod)), lit(CmW.toLong))
      }: _*)
      val sk = hashed
        .select(posexplode(buckets(col("h"))).as(Seq("row", "bucket")))
        .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("c"))
      val ph = CmProbes.toDF("word")
        .select(col("word"), TextOps.polyHash(col("word")).as("h"))
      val pb = ph.select(col("word"), posexplode(buckets(col("h"))).as(Seq("row", "bucket")))
      val est = pb.join(sk, Seq("row", "bucket"), "left")
        .groupBy(col("word")).agg(min(coalesce(col("c"), lit(0L))).as("est_cnt"))
      val ex = toks.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
        .withColumnRenamed("w", "word")
      est.join(ex, Seq("word"), "left")
        .select(col("word"), col("est_cnt"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
          (col("est_cnt") - coalesce(col("exact_cnt"), lit(0L))).as("overcount"))
        .orderBy(col("word"))
    },

    // ------------------------------- the assembled pipeline, end to end
    // The flagship composition: quality gate (p30 rules) → exact dedup
    // (text-fingerprint canonicalization) → token-budget packing (p31
    // greedy) → train/val/test split (p29 seed), as ONE program over the
    // corpus. The stages before packing are a single narrow-shuffle plan
    // (per-row quality arithmetic, one fingerprint-window shuffle);
    // packing contributes its one bucket repartition + external sort; the
    // split is a map on the way out — the whole 100 TB pipeline costs
    // three shuffles. The oracle replays every stage in chained CTEs,
    // packing included (per-bucket recursive-CTE greedy over the
    // SURVIVOR set — assignments depend on which docs upstream kept, so
    // any quality/dedup divergence cascades into every later column).
    Q("p36_pipeline_e2e", {
      val toks = "string_split(text, ' ')"
      val stops = TextOps.countInSql("toks", QualityStopwords)
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-split-7'")
      s"""WITH RECURSIVE w AS (
         |  SELECT doc_id, text, $toks AS toks FROM documents),
         |m AS (SELECT doc_id, text,
         |             len(toks) AS n_words,
         |             CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
         |             CAST($stops AS BIGINT) AS n_stop
         |      FROM w),
         |k AS (SELECT doc_id, text, CAST(n_words AS BIGINT) AS n_tok FROM m
         |      WHERE (n_words BETWEEN 30 AND 80)
         |        AND ((sum_len * 100) // n_words BETWEEN 300 AND 460)
         |        AND ((n_stop * 10000) // n_words >= 200)),
         |fp AS (SELECT doc_id, n_tok,
         |              min(doc_id) OVER (PARTITION BY ${TextOps.polyHashSql("text")})
         |                AS canonical_id
         |       FROM k),
         |surv AS (SELECT doc_id, n_tok, doc_id % 32 AS bucket FROM fp
         |         WHERE doc_id = canonical_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
         |      FROM surv),
         |g AS (
         |  SELECT bucket, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS bin_id, n_tok AS fill
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.bucket, r.rn, r.doc_id, r.n_tok,
         |         CASE WHEN g.fill > 0 AND g.fill + r.n_tok > 512
         |              THEN g.bin_id + 1 ELSE g.bin_id END,
         |         CASE WHEN g.fill > 0 AND g.fill + r.n_tok > 512
         |              THEN r.n_tok ELSE g.fill + r.n_tok END
         |  FROM r JOIN g ON r.bucket = g.bucket AND r.rn = g.rn + 1)
         |SELECT doc_id, bucket, n_tok, bin_id,
         |       CASE WHEN $h % 100 < 98 THEN 'train'
         |            WHEN $h % 100 < 99 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM g ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val ws = split(col("text"), " ")
      val kept = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(ws).cast("long").as("n_tok"),
          aggregate(ws, lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
          countIn(ws, QualityStopwords).cast("long").as("n_stop"))
        .filter(col("n_tok").between(30, 80)
          && expr("(sum_len * 100) div n_tok").between(300, 460)
          && (expr("(n_stop * 10000) div n_tok") >= 200))
      val wfp = org.apache.spark.sql.expressions.Window
        .partitionBy(TextOps.polyHash(col("text")))
      val surv = kept
        .withColumn("canonical_id", min(col("doc_id")).over(wfp))
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("n_tok"))
      val bucket = pmod(
        TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-split-7"))),
        lit(100L))
      PackOps.packGreedy(surv, "doc_id", "n_tok", buckets = 32, budget = 512L)
        .select(col("doc_id"), col("bucket"), col("n_tok"), col("bin_id"),
          when(bucket < 98, "train").when(bucket < 99, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // -------------------------------------- sketch: Bloom decontamination
    // The Bloom-filter form of p17: the benchmark shingle set is folded
    // into a 4096-bit filter (3 fixed universal hashes), and corpus docs
    // are probed against the BITS, not the set. n_probable ≥ n_exact
    // always (one-sided Bloom guarantee; n_false_pos witnesses it).
    // Scale shape: at 100 TB the benchmark set rides along as ~m bits
    // instead of the full shingle list — the probe is a broadcast join
    // against a ≤4096-row bit table, the corpus shuffles only for the
    // per-doc count. The exact leg reuses p17's broadcast-set join so
    // one query certifies the sketch against its ground truth.
    Q("p37_bloom_decontaminate", {
      val sh = DedupOps.shingleHashesSql(3)
      s"""WITH sh AS (
         |  SELECT doc_id, $sh AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id < 20),
         |bits AS (SELECT DISTINCT unnest(${SketchOps.bloomPositionsSql("h")}) AS pos
         |         FROM bench),
         |corpus AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id >= 20),
         |hits AS (SELECT c.doc_id, c.h, count(*) AS nhit
         |         FROM (SELECT doc_id, h,
         |                      unnest(${SketchOps.bloomPositionsSql("h")}) AS pos
         |               FROM corpus) c
         |         JOIN bits USING (pos) GROUP BY c.doc_id, c.h),
         |pp AS (SELECT doc_id, count(*) AS n_probable FROM hits
         |       WHERE nhit = ${SketchOps.BloomSeeds.size} GROUP BY doc_id),
         |ex AS (SELECT c.doc_id, count(*) AS n_exact
         |       FROM corpus c JOIN bench b ON c.h = b.h GROUP BY c.doc_id)
         |SELECT s.doc_id,
         |       CAST(coalesce(pp.n_probable, 0) AS BIGINT) AS n_probable,
         |       CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
         |       CAST(coalesce(pp.n_probable, 0) - coalesce(ex.n_exact, 0) AS BIGINT)
         |         AS n_false_pos,
         |       coalesce(pp.n_probable, 0) >= 5 AS contaminated
         |FROM (SELECT doc_id FROM sh WHERE doc_id >= 20) s
         |LEFT JOIN pp USING (doc_id) LEFT JOIN ex USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), DedupOps.shingleHashes(col("text"), 3).as("sh"))
      val bench = sh.filter(col("doc_id") < 20)
        .select(explode(col("sh")).as("h")).distinct()
      val bits = bench
        .select(explode(SketchOps.bloomPositions(col("h"))).as("pos")).distinct()
      val corpus = sh.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(col("sh")).as("h"))
      val probable = corpus
        .select(col("doc_id"), col("h"),
          explode(SketchOps.bloomPositions(col("h"))).as("pos"))
        .join(broadcast(bits), "pos")
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("nhit"))
        .filter(col("nhit") === SketchOps.BloomSeeds.size)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_probable"))
      val exact = corpus.join(broadcast(bench), "h")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
      sh.filter(col("doc_id") >= 20).select(col("doc_id"))
        .join(probable, Seq("doc_id"), "left")
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_probable"), lit(0L)).as("n_probable"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .withColumn("n_false_pos", col("n_probable") - col("n_exact"))
        .withColumn("contaminated", col("n_probable") >= 5)
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------ sketch: HyperLogLog distinct
    // Per-source distinct-token estimate via 32 HLL registers, kept
    // ENTIRELY in BIGINT arithmetic: rho comes from bin()-string length
    // (identical minimal-binary semantics on both engines), the harmonic
    // sum is scaled by 2^26, and alpha_32 = 697/1000 exactly — no float
    // log2/ln whose rounding the two engines could disagree on. The raw
    // estimator only (no small-range linear counting: that needs ln);
    // exact_distinct rides along as the certifying ground truth, the
    // same discipline as p35's exact_cnt. Scale shape: registers are
    // per-partition partial state (max is algebraic), so the corpus
    // aggregates map-side into ≤ 32 rows per source before the only
    // shuffle — the sketch a 100 TB pipeline uses precisely so the
    // corpus never shuffles for a cardinality.
    Q("p38_hll_distinct", {
      val twoPow = 1L << SketchOps.HllRhoMax // 2^26, the rho=0 register weight
      val num = SketchOps.HllAlphaNum * SketchOps.HllM * SketchOps.HllM * twoPow
      s"""WITH d AS (SELECT DISTINCT source, unnest(${tokenHashesSql("text")}) AS h
         |           FROM documents),
         |r AS (SELECT source, ${SketchOps.hllRegisterSql("h")} AS reg,
         |             ${SketchOps.hllRhoSql("h")} AS rho
         |      FROM d),
         |mx AS (SELECT source, reg, max(rho) AS mr FROM r GROUP BY source, reg),
         |sa AS (SELECT source, count(*) AS n_regs_hit,
         |              sum(CAST(power(2, ${SketchOps.HllRhoMax} - mr) AS BIGINT)) AS s_hit
         |       FROM mx GROUP BY source),
         |tt AS (SELECT source, n_regs_hit,
         |              s_hit + (${SketchOps.HllM} - n_regs_hit) * $twoPow AS s_scaled
         |       FROM sa),
         |ex AS (SELECT source, count(*) AS exact_distinct FROM d GROUP BY source)
         |SELECT source, CAST(n_regs_hit AS BIGINT) AS n_regs_hit,
         |       CAST(s_scaled AS BIGINT) AS s_scaled,
         |       CAST($num // (${SketchOps.HllAlphaDen} * s_scaled) AS BIGINT) AS est_hll,
         |       CAST(exact_distinct AS BIGINT) AS exact_distinct
         |FROM tt JOIN ex USING (source) ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val twoPow = 1L << SketchOps.HllRhoMax
      val num = SketchOps.HllAlphaNum * SketchOps.HllM * SketchOps.HllM * twoPow
      val d = t(s, dir, "documents")
        .select(col("source"), explode(tokenHashes(col("text"))).as("h"))
        .distinct()
      val mx = d
        .select(col("source"), SketchOps.hllRegister(col("h")).as("reg"),
          SketchOps.hllRho(col("h")).as("rho"))
        .groupBy(col("source"), col("reg")).agg(max(col("rho")).as("mr"))
      val sa = mx.groupBy(col("source"))
        .agg(count(lit(1)).as("n_regs_hit"),
          sum(expr(s"cast(pow(2, ${SketchOps.HllRhoMax} - mr) as bigint)")).as("s_hit"))
        .withColumn("s_scaled",
          col("s_hit") + (lit(SketchOps.HllM.toLong) - col("n_regs_hit")) * lit(twoPow))
      val ex = d.groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
      sa.join(ex, "source")
        .select(col("source"), col("n_regs_hit"), col("s_scaled"),
          expr(s"$num div (${SketchOps.HllAlphaDen} * s_scaled)").as("est_hll"),
          col("exact_distinct"))
        .orderBy(col("source"))
    },

    // -------------------------------------------- inverted index (blocked)
    // Search-side primitive of a training-data pipeline: per-term posting
    // lists SHARDED into fixed doc-id blocks (the layout real indexes use
    // so one hot term never materializes an O(N) row), with the ordered
    // block-local posting list certified by a polynomial fingerprint —
    // order matters in a posting list, and a scalar fold is the way to
    // pin order without an array column in the compare. Scale shape: one
    // (term, doc) aggregation, one (term, block) aggregation — rows out
    // are bounded by BlockSize regardless of corpus size, and the block
    // key is a pure function of doc_id so the index parallelizes and
    // merges trivially.
    Q("p39_inverted_index", {
      val fp = s"list_reduce(list_prepend(CAST(0 AS BIGINT), postings), " +
        s"(a, b) -> (a * 31 + b) % ${TextOps.HashMod})"
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |             FROM documents),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
         |pl AS (SELECT term, doc_id // $IndexBlockSize AS block,
         |              count(*) AS n_docs, sum(tf) AS total_tf,
         |              min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |              list(doc_id ORDER BY doc_id) AS postings
         |       FROM tf GROUP BY term, block)
         |SELECT term, block, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(total_tf AS BIGINT) AS total_tf, first_doc, last_doc,
         |       $fp AS postings_fp
         |FROM pl ORDER BY term, block""".stripMargin
    }) { (s, dir) =>
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("term"), expr(s"doc_id div $IndexBlockSize").as("block"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("total_tf"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
          sort_array(collect_list(col("doc_id"))).as("postings"))
        .select(col("term"), col("block"), col("n_docs"), col("total_tf"),
          col("first_doc"), col("last_doc"),
          aggregate(col("postings"), lit(0L),
            (acc, x) => pmod(acc * 31 + x, lit(TextOps.HashMod))).as("postings_fp"))
        .orderBy(col("term"), col("block"))
    },

    // --------------------------------------------------- BM25 probe ranking
    // BM25 (k1 = 1.2, b = 0.75) for the fixed probe vocabulary, top-5
    // docs per present term. Float discipline: integer sums first
    // (dl, sum_dl), ONE division for avgdl, and an expression tree with
    // identical shape on both engines; ln() + 1e-6 quantization is the
    // p20-proven combination. Scale shape: df/avgdl are
    // vocabulary/constant-sized broadcasts, the probe filter prunes the
    // corpus-side aggregation to the probe terms before any shuffle, and
    // the final top-k is a per-term window over ≤|probes| partitions.
    Q("p40_bm25_probes", {
      val probes = CmProbes.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |pr AS (SELECT unnest($probes) AS term),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
         |       WHERE term IN (SELECT term FROM pr) GROUP BY term, doc_id),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.term, tf.doc_id, tf.tf,
         |         CAST(floor(
         |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |             * (tf.tf * 2.2)
         |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * n_docs / CAST(sum_dl AS DOUBLE)))
         |             * 1000000.0 + 0.5) AS BIGINT) AS score_q
         |       FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id
         |       CROSS JOIN stats),
         |rk AS (SELECT term, doc_id, tf, score_q,
         |         row_number() OVER (PARTITION BY term ORDER BY score_q DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT term, rank, doc_id, tf, score_q
         |FROM rk WHERE rank <= 5 ORDER BY term, rank""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val dl = docs.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      // persisted: both the df aggregation and the score join consume the
      // probe-pruned (term, doc) counts — without it the corpus explode
      // runs twice (p20's discipline); auto-released after the query
      val tf = graft.ops.Release.afterFirstUse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(CmProbes: _*))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf")))
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term")).orderBy(col("score_q").desc, col("doc_id"))
      tf.join(broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"), col("tf"),
          floor(
            log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
              * (col("tf") * lit(2.2))
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") * col("n_docs")
                  / col("sum_dl").cast("double")))
              * lit(1000000.0) + lit(0.5)).cast("long").as("score_q"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("score_q"))
        .orderBy(col("term"), col("rank"))
    },

    // --------------------------------------- dedup: semantic (SemDeDup)
    // Cluster-then-dedup (Abbas et al. 2023): the coarse quantizer makes
    // the quadratic cosine scan cluster-local (K independent problems —
    // the 100 TB shape; K is the knob that keeps Σ nᵢ² near-linear).
    // Keep rule is order-free: drop iff a LOWER-id cluster-mate is
    // within τ, dup_of = the smallest such id.
    Q("p41_dd_semdedup", {
      val cosEC = cosineSql("e.embedding", "c.c_emb")
      val cosAB = cosineSql("ea.embedding", "eb.embedding")
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
         |              FROM embeddings ORDER BY vec_id LIMIT ${SimilarityOps.IvfK}),
         |asg AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT e.vec_id, c.c_id AS cluster,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.c_id) AS rnk
         |    FROM embeddings e CROSS JOIN cent c) WHERE rnk = 1),
         |d AS (
         |  SELECT a.vec_id, min(b.vec_id) AS dup_of
         |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE $cosAB >= 0.95
         |  GROUP BY a.vec_id)
         |SELECT asg.vec_id, asg.cluster, d.dup_of, d.dup_of IS NULL AS kept
         |FROM asg LEFT JOIN d ON d.vec_id = asg.vec_id
         |ORDER BY asg.vec_id""".stripMargin
    }) { (s, dir) =>
      SimilarityOps.semDedup(t(s, dir, "embeddings"), tau = 0.95)
        .orderBy(col("vec_id"))
    },

    // ------------------------------------------ similarity: PQ-encoded ANN
    // Product quantization (Jégou et al. 2011): M=8 subspaces × Ks=16
    // seed centroids; corpus vectors become M small codes (the 32×
    // compression that keeps a 100 TB scan memory-resident); queries
    // precompute an M×Ks LUT and rank by the ADC sum of M lookups. The
    // per-vector distance folds sub-distances in subspace order on BOTH
    // engines (list ordered by sub), never an order-sensitive SUM, so the
    // doubles hash-match bit-exactly.
    Q("p43_sim_pq_topk", {
      val m = SimilarityOps.PqM
      val ks = SimilarityOps.PqKs
      // mirrors pqTopK's geometry: the last subspace absorbs len % m dims
      def subSlice(emb: String) =
        s"""list_slice($emb, sub * (len($emb) // $m) + 1,
           |  CASE WHEN sub = ${m - 1} THEN len($emb)
           |       ELSE (sub + 1) * (len($emb) // $m) END)""".stripMargin
      val l2VC = SimilarityOps.l2sqSql("v.v_sub", "c.c_sub")
      val l2QC = SimilarityOps.l2sqSql("q.q_sub", "c.c_sub")
      s"""WITH s AS (SELECT unnest(range($m)) AS sub),
         |cent0 AS (SELECT vec_id, embedding,
         |                 row_number() OVER (ORDER BY vec_id) - 1 AS c_code
         |          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $ks)),
         |cent AS (SELECT c_code, sub, ${subSlice("embedding")} AS c_sub
         |         FROM cent0 CROSS JOIN s),
         |vsub AS (SELECT vec_id, sub, ${subSlice("embedding")} AS v_sub
         |         FROM embeddings CROSS JOIN s),
         |enc AS (
         |  SELECT vec_id, sub, c_code AS code FROM (
         |    SELECT v.vec_id, v.sub, c.c_code,
         |           row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                              ORDER BY $l2VC, c.c_code) AS rnk
         |    FROM vsub v JOIN cent c ON c.sub = v.sub) WHERE rnk = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, q.sub, c.c_code, $l2QC AS d2
         |  FROM (SELECT vec_id, sub, ${subSlice("embedding")} AS q_sub
         |        FROM embeddings CROSS JOIN s WHERE vec_id < 20) q
         |  JOIN cent c ON c.sub = q.sub),
         |adc AS (
         |  SELECT l.query_id, e.vec_id AS neighbor_id,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.d2 ORDER BY e.sub)),
         |                     (x, y) -> x + y) AS adc
         |  FROM enc e JOIN lut l ON l.sub = e.sub AND l.c_code = e.code
         |  WHERE e.vec_id <> l.query_id
         |  GROUP BY l.query_id, e.vec_id),
         |rk AS (SELECT query_id, neighbor_id, adc,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY adc, neighbor_id) AS rnk
         |       FROM adc)
         |SELECT query_id, neighbor_id, adc, rnk FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    }) { (s, dir) =>
      // tw: per-vector subspace distance tables dominate (m × ks l2
      // evaluations per row) — fan the one-split scan out (r16 A/B)
      val e = tw(s, dir, "embeddings")
      SimilarityOps.pqTopK(e, e.filter(col("vec_id") < 20), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // ------------------------------------- text: DSIR importance selection
    // Domain-targeted selection (Xie et al. 2023): target LM = lang='en'
    // docs, source LM = whole corpus, both Laplace-smoothed char-bigram
    // models over the shared vocabulary (alphabet²-bounded broadcast);
    // accept by a seeded-hash draw against the quantized sigmoid of the
    // average log ratio — an integer-vs-integer decision, reproducible
    // across engines and cluster sizes.
    Q("p44_dsir_select", {
      val u = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-dsir-3'")
      s"""WITH ch AS (SELECT doc_id, text, lang = 'en' AS tgt, len(text) AS L FROM documents),
         |ix AS (SELECT doc_id, tgt, text, unnest(range(1, L)) AS i FROM ch),
         |bg AS (SELECT doc_id, tgt, substring(text, i, 2) AS b FROM ix),
         |cnt AS (SELECT b, count(*) AS c_s,
         |               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t
         |        FROM bg GROUP BY b),
         |hh AS (SELECT b, c_s, c_t,
         |         sum(c_s) OVER () AS t_s,
         |         sum(c_t) OVER () AS t_t,
         |         count(*) OVER () AS v
         |       FROM cnt),
         |lm AS (SELECT b,
         |         ln((c_t + 1) / CAST(t_t + v AS DOUBLE))
         |           - ln((c_s + 1) / CAST(t_s + v AS DOUBLE)) AS lnr
         |       FROM hh),
         |sc AS (SELECT doc_id, sum(lnr) / count(*) AS lnr_avg,
         |              count(*) AS n_trans
         |       FROM bg JOIN lm USING (b) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_trans AS BIGINT) AS n_trans,
         |       CAST(floor(lnr_avg * 10000 + 0.5) AS BIGINT) AS lnr_q,
         |       CAST(floor(exp(lnr_avg) / (exp(lnr_avg) + 1) * 1000000 + 0.5) AS BIGINT) AS wq,
         |       $u % 1000000 AS u_q,
         |       ($u % 1000000) < CAST(floor(exp(lnr_avg) / (exp(lnr_avg) + 1) * 1000000 + 0.5) AS BIGINT) AS accept
         |FROM sc ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // r17: tw examined — a no-op here: dsirSelect already
      // repartition(col(idCol))s off the scan, and CollapseRepartition
      // swallows the RoundRobin (plans identical on/off). Left on t().
      TextOps.dsirSelect(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", seed = "#graft-dsir-3")
        .orderBy(col("doc_id"))
    },

    // --------------------------------------------- text: BPE merge learning
    // Distributed byte-pair-encoding merge learning (Sennrich et al.
    // 2016): the only corpus-scale pass is the word-count groupBy;
    // the merge recursion runs on the VOCABULARY-bounded distinct-word
    // table (p20/p25's bound argument). The oracle replays all
    // `BpeSteps` steps as unrolled CTEs over the same delimiter-wrapped
    // token encoding, where greedy merge application is a plain
    // left-to-right `replace` in both engines.
    Q("p42_txt_bpe", BpeUnrolledOracle) { (s, dir) =>
      import s.implicits._
      bpeMergeRows(s, dir).toDF("step", "lhs", "rhs", "merged", "cnt")
        .orderBy(col("step"))
    },

    // ------------------------------------------ text: BATCHED BPE learning
    // The production-scale answer to the job-per-merge launch cost: each
    // round computes the pair table once and applies a symbol-disjoint,
    // strictly-dominant top-k prefix in ONE rewrite (proof on
    // TextOps.bpeMergesBatched). Registered through the ADAPTIVE
    // schedule (r10 verdict #7): the per-round batch target is picked
    // from the previous round's surviving-pair count, because the
    // achievable k is a corpus property (conflict/tie density of the
    // current top pairs). A deliberately small initBatch makes the
    // driver gate exercise the doubling policy across several rounds at
    // BpeSteps=10 rather than one lucky batch. The oracle is the SAME
    // unrolled SEQUENTIAL recursion p42 uses — a matching hash
    // certifies the adaptively-batched selection byte-equal to k argmax
    // steps on real data, which is the whole claim (OpsEdgeSpec pins it
    // at 1,000 merges: 90 rounds, mean batch 11).
    Q("p48_txt_bpe_batched", BpeUnrolledOracle) { (s, dir) =>
      TextOps.bpeMergesAdaptive(t(s, dir, "documents"), "text", BpeSteps,
          initBatch = 2)
        .orderBy(col("step"))
    },

    // --------------------------------------------- text: n-gram novelty
    // First-occurrence attribution: a doc's novelty is the fraction of
    // its 3-gram shingles whose FIRST owner (min doc_id) is the doc
    // itself — the dedup-aware curation signal for "how much new text
    // does this doc contribute". One shuffle keyed on the shingle hash
    // (owner table), one join back; all outputs are integers/booleans so
    // there is no float boundary anywhere. Empty-shingle docs (< 3
    // tokens) keep a row via the left join and count as trivially novel.
    Q("p46_txt_novelty", {
      val sh = DedupOps.shingleHashesSql(3)
      s"""WITH sh0 AS (SELECT doc_id, $sh AS sh
         |             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |e AS (SELECT doc_id, unnest(sh) AS h FROM sh0),
         |own AS (SELECT h, min(doc_id) AS first_doc FROM e GROUP BY h),
         |agg AS (SELECT e.doc_id, count(*) AS n_shingles,
         |               sum(CASE WHEN o.first_doc = e.doc_id THEN 1 ELSE 0 END) AS n_novel
         |        FROM e JOIN own o USING (h) GROUP BY e.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
         |       coalesce(a.n_novel, 0) * 2 >= coalesce(a.n_shingles, 0) AS mostly_novel
         |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the exploded shingle table feeds both the owner aggregation and
      // the attribution join — persist for the query, auto-release after
      val sh = graft.ops.Release.afterFirstUse(docs
        .select(col("doc_id"), explode(DedupOps.shingleHashes(col("text"), 3)).as("h")))
      val own = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      val agg = sh.join(own, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), lit(1L)).otherwise(lit(0L))).as("n_novel"))
      docs.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)) * 2 >= coalesce(col("n_shingles"), lit(0L)))
            .as("mostly_novel"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------- text: BPE encoding
    // The second half of the BPE story: apply p42's learned merges to
    // tokenize the corpus. The merge chain rewrites the DISTINCT-word
    // table (vocabulary-bounded); documents join their words to the
    // per-word token counts — explode + broadcast join + sum is the only
    // corpus-scale work, so encoding is one pass no matter how many
    // merges were learned.
    Q("p45_txt_bpe_encode", {
      val steps = (1 to BpeSteps).map { k =>
        s"""p$k AS (SELECT l, r, sum(freq) AS cnt FROM (
           |   SELECT freq,
           |          unnest(list_slice(toks, 1, len(toks) - 1)) AS l,
           |          unnest(list_slice(toks, 2, len(toks))) AS r
           |   FROM (SELECT freq, string_split(trim(state, '|'), '||') AS toks FROM v${k - 1})
           | ) GROUP BY l, r),
           |b$k AS (SELECT l, r FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
           |v$k AS (SELECT word, replace(state, '|' || b.l || '||' || b.r || '|',
           |                             '|' || b.l || b.r || '|') AS state, freq
           |        FROM v${k - 1} CROSS JOIN b$k b)""".stripMargin
      }.mkString(",\n")
      s"""WITH v0 AS (
         |  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS state,
         |         CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) > 0 AND NOT contains(word, '|') GROUP BY word),
         |$steps,
         |enc AS (SELECT word, len(string_split(trim(state, '|'), '||')) AS n_sub FROM v${BpeSteps})
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sub) AS BIGINT) AS n_tokens
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
         |JOIN enc USING (word)
         |WHERE length(word) > 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = bpeMergeRows(s, dir).map(m => (m._2, m._3))
      TextOps.bpeEncode(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    },

    // --------------------------------------------- text: BPE tokenization
    // The token SEQUENCE itself — what packing/training actually
    // consumes, not just p45's counts: one row per (doc, word, subtoken)
    // with positions from the ORIGINAL whitespace split (filtered words
    // leave gaps, so positions are stable under the vocabulary
    // contract). Merge chain on the distinct-word table + one broadcast
    // join, same scale shape as p45; the output explode is the tensor a
    // tokenizer must emit anyway.
    Q("p49_txt_bpe_tokenize", {
      s"""$BpeVocabCtes,
         |d AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS wpos, unnest(ws) AS word
         |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |e AS (SELECT d.doc_id, d.wpos, t.toks
         |      FROM d JOIN tok t USING (word)
         |      WHERE length(d.word) > 0 AND NOT contains(d.word, '|'))
         |SELECT doc_id, wpos, generate_subscripts(toks, 1) - 1 AS spos,
         |       unnest(toks) AS token
         |FROM e ORDER BY doc_id, wpos, spos""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = bpeMergeRows(s, dir).map(m => (m._2, m._3))
      TextOps.bpeTokenize(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"), col("wpos"), col("spos"))
    },

    // ------------------- dedup: STREAMING ingestion near-dup gate (p50)
    // The continuous-ingestion half of the dedup family: docs arrive in
    // id order across ≥3 REAL micro-batches (doc-stream scaffold) and
    // each is flagged iff an EARLIER doc — earlier batch via GroupState,
    // or earlier in the same batch — is an LSH candidate with jaccard
    // ≥ 0.9. The per-bucket state keeps only the CURRENT salt chunk
    // (≤ BandBucketCap sigs), which makes streaming state constant-
    // bounded per bucket; because arrival order is id order, that chunk
    // structure coincides exactly with the batch chain's row_number
    // salt, so the oracle is the SAME sigs→salted-bands→verify pair set
    // p06/p15 use, read as "dup_of = min earlier candidate".
    Q("p50_dd_stream_neardup",
      s"""$NearDupPairsCte
         |SELECT d.doc_id,
         |       coalesce(m.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
         |       m.dup_of IS NOT NULL AS is_dup
         |FROM documents d
         |LEFT JOIN (SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS dup_of
         |           FROM prs GROUP BY id_b) m USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hits = runDocStream(s, dir, "p50") { raw =>
        // examined r16: fanning the one-task slice scan out before the
        // stateful shuffle measured addBatch 0.7-1.0 → 1.1-1.4 s — the
        // per-batch cost is the 27k (band, key) state-store updates,
        // not the signature map work, so the extra exchange only adds a
        // stage. Left as-is.
        DedupOps.streamingNearDup(raw, "doc_id", "text").toDF()
      }
      val res = hits.groupBy(col("doc_id"))
        .agg(min(when(col("dup_of") >= 0, col("dup_of"))).as("m"))
        .select(col("doc_id"),
          coalesce(col("m"), lit(-1L)).as("dup_of"),
          col("m").isNotNull.as("is_dup"))
      // the gate is vacuous unless ≥1 flagged dup's SOURCE arrived in an
      // earlier micro-batch, i.e. the match crossed a state boundary
      // (slice = the scaffold's ntile, read off the slice files — r17,
      // docSliceAssignment scaladoc)
      val sl = docSliceAssignment(s, dir)
      val cross = res.filter(col("is_dup")).join(sl, "doc_id")
        .join(sl.select(col("doc_id").as("dup_of"), col("sl").as("sl_src")), "dup_of")
        .filter(col("sl_src") < col("sl")).count()
      require(cross > 0,
        "p50 expected >=1 near-dup match across a micro-batch boundary")
      res.orderBy(col("doc_id"))
    },

    // ----------------- split: LEAKAGE-SAFE train/val/test by dedup group
    // p29 splits per-DOC, which leaks: near-duplicates of a training doc
    // land in val/test and inflate eval. The leakage-safe split hashes
    // the near-dup GROUP canonical (p15's connected components), so an
    // entire duplicate cluster moves as one unit — the group-aware
    // discipline evaluation suites require. Same 98/1/1 thresholds as
    // p29 under an independent seed (split and sampling never
    // correlate); cost is the p15 grouping plus a map-only hash.
    Q("p51_split_leakage_safe", {
      val h = TextOps.polyHashSql("CAST(group_id AS VARCHAR) || '#graft-split-11'")
      s"""$NearDupPairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION ALL SELECT id_b, id_a FROM prs),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON e.a = r.b)
         |  SELECT * FROM r),
         |grp AS (SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a)
         |SELECT doc_id, group_id, $h % 100 AS bucket,
         |       CASE WHEN $h % 100 < 98 THEN 'train'
         |            WHEN $h % 100 < 99 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM grp ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val prsCp = nearDupPairs(s, dir).localCheckpoint(true)
      val grouped = DedupOps.neardupGroups(
        t(s, dir, "documents"), "doc_id", prsCp, "id_a", "id_b")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(prsCp)
      val bucket = pmod(
        TextOps.polyHash(concat(col("group_id").cast("string"), lit("#graft-split-11"))),
        lit(100L))
      grouped
        .select(col("doc_id"), col("group_id"), bucket.as("bucket"),
          when(bucket < 98, "train").when(bucket < 99, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // -------------------------- dedup: SemDeDup with a TRAINED quantizer
    // p41 runs semDedup over the deterministic seed codebook; this is the
    // production path: 2 Lloyd rounds train the coarse quantizer, then
    // the SAME semDedup plumbing consumes it unchanged (the swap claim
    // pinned in SimilarityOpsSpec, now driver-oracled). Lloyd is
    // deterministic from the seeded init, so the oracle replays both
    // rounds unrolled: argmax-cosine assignment → per-(cluster, pos)
    // mean → empty cells keep their previous centroid. All output
    // columns are integers/booleans; the centroid means are float64 in
    // both engines and only steer integer decisions through comparisons.
    Q("p47_sim_semdedup_lloyd", {
      val k = SimilarityOps.IvfK
      val cosEC = cosineSql("e.embedding", "c.c_emb")
      val cosAB = cosineSql("ea.embedding", "eb.embedding")
      def iter(i: Int) = {
        val prev = s"c${i - 1}"
        s"""a$i AS (
           |  SELECT vec_id, cluster FROM (
           |    SELECT e.vec_id, c.c_id AS cluster,
           |           row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.c_id) AS rnk
           |    FROM embeddings e CROSS JOIN $prev c) WHERE rnk = 1),
           |m$i AS (
           |  SELECT cluster, pos, avg(v) AS mv FROM (
           |    SELECT a.cluster, generate_subscripts(e.embedding, 1) AS pos,
           |           unnest(e.embedding) AS v
           |    FROM a$i a JOIN embeddings e USING (vec_id))
           |  GROUP BY cluster, pos),
           |c$i AS (
           |  SELECT p.c_id, coalesce(m.l, p.c_emb) AS c_emb
           |  FROM $prev p LEFT JOIN (
           |    SELECT cluster, list(mv ORDER BY pos) AS l FROM m$i GROUP BY cluster) m
           |  ON m.cluster = p.c_id)""".stripMargin
      }
      s"""WITH c0 AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
         |            FROM embeddings ORDER BY vec_id LIMIT $k),
         |${iter(1)},
         |${iter(2)},
         |asg AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT e.vec_id, c.c_id AS cluster,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.c_id) AS rnk
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rnk = 1),
         |d AS (
         |  SELECT a.vec_id, min(b.vec_id) AS dup_of
         |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE $cosAB >= 0.95
         |  GROUP BY a.vec_id)
         |SELECT asg.vec_id, asg.cluster, d.dup_of, d.dup_of IS NULL AS kept
         |FROM asg LEFT JOIN d ON d.vec_id = asg.vec_id
         |ORDER BY asg.vec_id""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cent = SimilarityOps.lloydCentroids(e, numCentroids = SimilarityOps.IvfK, iters = 2)
      SimilarityOps.semDedup(e, tau = 0.95, centroids = Some(cent))
        .orderBy(col("vec_id"))
    },

    // ------------------------- dedup: paragraph/chunk-level (CCNet-style)
    // CCNet (Wenzek et al. 2020 §3.1) dedups at PARAGRAPH granularity:
    // hash every paragraph, keep only the globally-first occurrence of
    // each hash, and reassemble documents from their surviving
    // paragraphs — boilerplate shared across documents disappears while
    // the documents themselves survive. The corpus here is single-space
    // text, so "paragraph" = a fixed window of ChunkW tokens (the p23
    // chunking convention, non-overlapping).
    //
    // Scale shape: first-occurrence is the lexicographic (doc_id, idx)
    // struct min per chunk
    // md5 — a partially-aggregable groupBy (NOT a window over the hash:
    // a boilerplate chunk repeated 10⁸ times would put 10⁸ rows in one
    // window partition, while the agg combines map-side). The join back
    // is equi on the hash against the distinct-chunk-sized argmin table,
    // and reassembly is one doc_id-keyed agg. Two shuffles + one join,
    // each on a well-distributed key, at any corpus size.
    Q("p52_dd_chunk_dedup", {
      val w = ChunkW
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |starts AS (SELECT doc_id, tok,
         |                  unnest(generate_series(1, greatest(len(tok), 1), $w)) AS st
         |           FROM t),
         |ch AS (SELECT doc_id, CAST((st - 1) / $w AS BIGINT) AS chunk_idx,
         |              array_to_string(tok[st : least(st + ${w - 1}, len(tok))], ' ') AS chunk
         |       FROM starts),
         |k AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS key FROM ch),
         |f AS (SELECT key, min(doc_id) AS fdoc FROM k GROUP BY key),
         |f2 AS (SELECT key, fdoc, min(chunk_idx) AS fidx
         |       FROM k JOIN f USING (key) WHERE doc_id = fdoc GROUP BY key, fdoc)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(*) FILTER (WHERE doc_id = fdoc AND chunk_idx = fidx)
         |            AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN doc_id = fdoc AND chunk_idx = fidx
         |                                THEN chunk END, ' '
         |                           ORDER BY chunk_idx), '') AS text_clean
         |FROM k JOIN f2 USING (key)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      DedupOps.chunkDedup(t(s, dir, "documents"), "doc_id", "text", ChunkW)
        .orderBy(col("doc_id"))
    },

    // ------------------- dedup: exact-substring scrub (ExactSubstr cut)
    // The rewrite half of Lee et al. ACL'22 (p27 is the detection half):
    // rolling ScrubW-token fingerprints; every instance of a repeated
    // fingerprint except the globally-first marks its positions, and
    // documents reassemble from surviving tokens. See
    // DedupOps.substrScrub for the shuffle budget.
    Q("p56_dd_substr_scrub", {
      val w = ScrubW
      val win = (0 until w).map(j => s"tok[st + $j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |w AS (SELECT doc_id, st - 1 AS pos, ${TextOps.polyHashSql(win)} AS h
         |      FROM (SELECT doc_id, tok,
         |                   unnest(generate_series(1, len(tok) - ${w - 1})) AS st
         |            FROM t WHERE len(tok) >= $w)),
         |f AS (SELECT h, min(doc_id) AS fdoc
         |      FROM w GROUP BY h HAVING count(*) > 1),
         |f2 AS (SELECT h, fdoc, min(pos) AS fpos
         |       FROM w JOIN f USING (h) WHERE doc_id = fdoc GROUP BY h, fdoc),
         |dup AS (SELECT w.doc_id, w.pos FROM w JOIN f2 USING (h)
         |        WHERE NOT (w.doc_id = fdoc AND w.pos = fpos)),
         |cov AS (SELECT DISTINCT doc_id,
         |               unnest(generate_series(pos, pos + ${w - 1})) AS p FROM dup),
         |u AS (SELECT doc_id, unnest(tok) AS tk,
         |             generate_subscripts(tok, 1) - 1 AS p FROM t)
         |SELECT u.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(cov.p) AS BIGINT) AS n_removed,
         |       coalesce(string_agg(CASE WHEN cov.p IS NULL THEN u.tk END, ' '
         |                           ORDER BY u.p), '') AS text_scrub
         |FROM u LEFT JOIN cov ON cov.doc_id = u.doc_id AND cov.p = u.p
         |GROUP BY u.doc_id ORDER BY u.doc_id""".stripMargin
    }) { (s, dir) =>
      DedupOps.substrScrub(t(s, dir, "documents"), "doc_id", "text", ScrubW)
        .orderBy(col("doc_id"))
    },

    // ---------------- sketches: CM-pruned exact φ-heavy hitters (bigrams)
    // Heavy ⇔ cnt·HhDenom > N over corpus word bigrams. The CM sketch
    // (p35's geometry) prunes at the MAP side — only occurrences whose
    // min-of-rows estimate clears the threshold reach the exact-count
    // shuffle, so the groupBy is candidate-bounded even when the distinct
    // n-gram universe isn't holdable. CM never undercounts → zero false
    // negatives; its false positives survive to the output flagged
    // is_heavy=false (the certification the two-phase design buys).
    Q("p57_ngram_heavyhitters", {
      val aList = CmSeeds.map(_._1).mkString("[", ", ", "]")
      val bList = CmSeeds.map(_._2).mkString("[", ", ", "]")
      val bkt = (hE: String) =>
        s"(($hE * $aList[r + 1] + $bList[r + 1]) % ${TextOps.HashMod}) % $CmW"
      s"""WITH g AS (
         |  SELECT l || ' ' || r AS ngram FROM (
         |    SELECT unnest(list_slice(tok, 1, len(tok) - 1)) AS l,
         |           unnest(list_slice(tok, 2, len(tok))) AS r
         |    FROM (SELECT string_split(text, ' ') AS tok FROM documents))),
         |h AS (SELECT ngram, ${TextOps.polyHashSql("ngram")} AS h FROM g),
         |bk AS (SELECT ${bkt("h")} AS bucket, r AS row
         |       FROM h CROSS JOIN (SELECT unnest(range(${CmSeeds.size})) AS r)),
         |sk AS (SELECT row, bucket, count(*) AS c FROM bk GROUP BY row, bucket),
         |n AS (SELECT count(*) AS n FROM g),
         |est AS (
         |  SELECT ngram, min(coalesce(c, 0)) AS est_cnt FROM (
         |    SELECT d.ngram, ${bkt("d.h")} AS bucket, r AS row
         |    FROM (SELECT DISTINCT ngram, h FROM h) d
         |    CROSS JOIN (SELECT unnest(range(${CmSeeds.size})) AS r)) x
         |  LEFT JOIN sk USING (row, bucket) GROUP BY ngram),
         |ex AS (SELECT ngram, count(*) AS exact_cnt FROM g GROUP BY ngram)
         |SELECT e.ngram, CAST(e.est_cnt AS BIGINT) AS est_cnt,
         |       CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
         |       x.exact_cnt * $HhDenom > n.n AS is_heavy
         |FROM est e JOIN ex x USING (ngram) CROSS JOIN n
         |WHERE e.est_cnt * $HhDenom > n.n
         |ORDER BY ngram""".stripMargin
    }) { (s, dir) =>
      val grams = t(s, dir, "documents")
        .select(explode(TextOps.ngrams(tokens(col("text")), 2)).as("ngram"))
      graft.ops.SketchOps.cmHeavyHitters(grams, HhDenom, CmSeeds, CmW)
        .orderBy(col("ngram"))
    },

    // --------------- corpus assembly: budgeted mix selection (p62)
    // Materializes the training mix p33 only WEIGHTS: a global token
    // budget (⅕ of the corpus) splits into per-language quotas by the
    // same √-temperature weights, and each language fills its quota
    // greedily by quality (stopword-density score, ties by id). The
    // naive form — one ordered cumsum per language — would sort whole
    // domains in single window partitions at 100 TB; instead the prefix
    // is computed in two stages: a (lang, score)-CLASS token aggregation
    // (partially aggregable, classes are tiny) carries the cross-class
    // cumsum, and the only doc-level window runs WITHIN one score class
    // (bounded), with picked ⇔ cum_before(class) + intra-class cum ≤
    // quota — exactly the global greedy prefix, without the global sort.
    Q("p62_mix_select", {
      val toks = "string_split(text, ' ')"
      val stop = TextOps.countInSql(toks, TextOps.Stopwords)
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |         CAST(len($toks) AS BIGINT) AS n_tok,
         |         CAST($stop AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT doc_id, lang, n_tok, (n_stop * 1000000) // n_tok AS score FROM f),
         |tot AS (SELECT sum(n_tok) AS total FROM s),
         |c AS (SELECT lang, count(*) AS n_docs FROM s GROUP BY lang),
         |t2 AS (SELECT *, (SELECT sum(n_docs) FROM c) AS totdocs FROM c),
         |qn AS (SELECT lang,
         |              CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / totdocs) * 1000000000 + 0.5)
         |                   AS BIGINT) AS num_q FROM t2),
         |qd AS (SELECT lang, num_q, (SELECT sum(num_q) FROM qn) AS denom FROM qn),
         |quota AS (SELECT lang,
         |                 ((SELECT total // $MixBudgetDen FROM tot) * num_q) // denom AS quota
         |          FROM qd),
         |cls AS (SELECT lang, score, sum(n_tok) AS cls_tok FROM s GROUP BY lang, score),
         |cb AS (SELECT lang, score,
         |              coalesce(sum(cls_tok) OVER (PARTITION BY lang ORDER BY score DESC
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |                AS cum_before
         |       FROM cls),
         |pick AS (
         |  SELECT s.doc_id, s.lang, s.score, s.n_tok,
         |         cb.cum_before + sum(s.n_tok) OVER (PARTITION BY s.lang, s.score
         |                         ORDER BY s.doc_id
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         q.quota
         |  FROM s JOIN cb USING (lang, score) JOIN quota q USING (lang))
         |SELECT doc_id, lang, CAST(score AS BIGINT) AS score_q, n_tok AS n_tokens
         |FROM pick WHERE cum <= quota ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = tokens(col("text"))
      val stop = countIn(toks, Stopwords)
      val s0 = graft.ops.Release.afterFirstUse(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tok"), stop.cast("long").as("n_stop"))
        .withColumn("score", expr("(n_stop * 1000000) div n_tok")))
      val tot = s0.agg(sum(col("n_tok")).as("total"))
      val whole = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val quota = s0.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("totdocs", sum(col("n_docs")).over(whole))
        .withColumn("num_q",
          floor(sqrt(col("n_docs").cast("double") / col("totdocs")) * 1000000000L + 0.5)
            .cast("long"))
        .withColumn("denom", sum(col("num_q")).over(whole))
        .crossJoin(broadcast(tot))
        .select(col("lang"),
          expr(s"((total div $MixBudgetDen) * num_q) div denom").as("quota"))
      val cb = s0.groupBy(col("lang"), col("score")).agg(sum(col("n_tok")).as("cls_tok"))
        .withColumn("cum_before",
          coalesce(sum(col("cls_tok")).over(Window.partitionBy(col("lang"))
            .orderBy(col("score").desc).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col("lang"), col("score"), col("cum_before"))
      val intra = Window.partitionBy(col("lang"), col("score")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s0.join(broadcast(cb), Seq("lang", "score"))
        .join(broadcast(quota), "lang")
        .withColumn("cum", col("cum_before") + sum(col("n_tok")).over(intra))
        .filter(col("cum") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("score").as("score_q"),
          col("n_tok").as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // ------------------------- similarity: ANN recall evaluation (p61)
    // The "measure, don't guess" step for the ANN scale path: per-query
    // recall@5 of the IVF index (p14's exact parameters) against the
    // brute-force truth (p09). Both legs are existing operators; the
    // intersection is one equi join on (query_id, neighbor_id) and the
    // recall ships as an exact ×10⁶ integer (n_hits·200000). A real
    // deployment runs this on a sampled query set to tune
    // nProbe/K before committing the index — here the whole 20-query
    // probe set is the sample.
    Q("p61_sim_recall_eval", {
      s"""WITH $IvfExactCtes,
         |hits AS (SELECT e.query_id, count(*) AS n_hits
         |         FROM exact e JOIN ivf i USING (query_id, neighbor_id)
         |         GROUP BY e.query_id)
         |SELECT q.vec_id AS query_id,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) * 200000 AS BIGINT) AS recall_q
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) q
         |LEFT JOIN hits h ON h.query_id = q.vec_id
         |ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val exact = bruteTopK(q, e, 5).select(col("query_id"), col("neighbor_id"))
      val ivf = SimilarityOps.ivfTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(ivf, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        // r17: hits is bounded by the ≤20-query set at ANY scale — hint
        // it broadcast (guide §3.1); the estimate-blind plan kept a
        // SortMergeJoin here in the AQE FINAL plan (plans/r17)
        .join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * lit(200000L)).as("recall_q"))
        .orderBy(col("query_id"))
    },

    // ------------------- text: hashing-trick document embeddings (p58)
    // Fixed-width sparse doc vectors with no trained model (Weinberger
    // et al. 2009): token → bucket h mod FhDims, sign (h div FhDims)
    // mod 2, signed counts L2-normalized from exact integer sums and
    // ×10⁶-quantized. Output feeds the same ANN machinery as the
    // embeddings sidecar. See TextOps.featureHashSparse for the
    // shuffle budget.
    Q("p58_txt_feature_hash", {
      val d = FhDims
      s"""WITH u AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, ${TextOps.polyHashSql("tok")} AS h FROM u),
         |v AS (SELECT doc_id, CAST(h % $d AS INT) AS dim,
         |             CAST(sum(CASE WHEN (h // $d) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
         |      FROM h GROUP BY doc_id, dim HAVING v <> 0),
         |n AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS norm2 FROM v GROUP BY doc_id)
         |SELECT doc_id, dim, CAST(floor(v * 1000000.0 / sqrt(norm2) + 0.5) AS BIGINT) AS q_val
         |FROM v JOIN n USING (doc_id) ORDER BY doc_id, dim""".stripMargin
    }) { (s, dir) =>
      TextOps.featureHashSparse(t(s, dir, "documents"), "doc_id", "text", FhDims)
        .orderBy(col("doc_id"), col("dim"))
    },

    // --------------- dedup: incremental ingestion gate (p59, chunk level)
    // The "only add novel content" step of a maintained corpus: docs
    // with id % 5 ≠ 0 play the EXISTING corpus, the rest arrive as the
    // new batch. Existing chunk fingerprints (p52's aligned-chunk
    // convention) feed a corpus-sized Bloom filter; each batch chunk is
    // bloom-probed MAP-SIDE (broadcast bit set), and only probable
    // chunks reach the exact-confirm join against the chunk-key index —
    // the join probe side is bloom-pruned, which is the whole point at
    // 100 TB. A batch doc is rejected when ≥ 1/4 of its chunks already
    // exist. The oracle computes n_exact over ALL chunks (not just
    // probable ones) — equality certifies the filter's no-false-negative
    // property on real data.
    Q("p59_dd_ingest_gate", {
      val w = ChunkW
      val chunk = s"array_to_string(tok[st : least(st + ${w - 1}, len(tok))], ' ')"
      s"""WITH tex AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |ck AS (SELECT doc_id, st, ${TextOps.polyHashSql(chunk)} AS h
         |       FROM (SELECT doc_id, tok,
         |                    unnest(generate_series(1, greatest(len(tok), 1), $w)) AS st
         |             FROM tex)),
         |ex AS (SELECT DISTINCT h FROM ck WHERE doc_id % 5 <> 0),
         |bits AS (SELECT DISTINCT unnest(${SketchOps.bloomPositionsMSql("h", GateBloomM)}) AS pos
         |         FROM ex),
         |bc AS (SELECT doc_id, st, h FROM ck WHERE doc_id % 5 = 0),
         |pr AS (SELECT doc_id, count(*) AS n_probable FROM (
         |         SELECT doc_id, st, h FROM (
         |           SELECT doc_id, st, h,
         |                  unnest(${SketchOps.bloomPositionsMSql("h", GateBloomM)}) AS pos
         |           FROM bc) b
         |         JOIN bits USING (pos)
         |         GROUP BY doc_id, st, h HAVING count(*) = ${SketchOps.BloomSeeds.size})
         |       GROUP BY doc_id),
         |exq AS (SELECT doc_id, count(*) AS n_exact
         |        FROM bc JOIN ex USING (h) GROUP BY doc_id),
         |base AS (SELECT doc_id, count(*) AS n_chunks FROM bc GROUP BY doc_id)
         |SELECT base.doc_id,
         |       CAST(base.n_chunks AS BIGINT) AS n_chunks,
         |       CAST(coalesce(pr.n_probable, 0) AS BIGINT) AS n_probable,
         |       CAST(coalesce(exq.n_exact, 0) AS BIGINT) AS n_exact,
         |       CASE WHEN coalesce(exq.n_exact, 0) * $GateRejectDen >= base.n_chunks
         |            THEN 'reject' ELSE 'accept' END AS verdict
         |FROM base LEFT JOIN pr USING (doc_id) LEFT JOIN exq USING (doc_id)
         |ORDER BY base.doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      DedupOps.ingestGate(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", ChunkW, GateBloomM, GateRejectDen)
        .orderBy(col("doc_id"))
    },

    // ------------------------- similarity: mutual kNN graph (p60)
    // The k-NN graph construction step of graph-based clustering /
    // diversity analysis: top-KnnK cosine neighbors WITHIN the
    // hyperplane-LSH bucket (SimilarityOps.lshTopK — a bucket-keyed
    // equi join, never all-pairs), plus the mutuality flag (edge (a,b)
    // AND (b,a) both in the top-k set) from one self equi-join on the
    // k·N-bounded edge list.
    Q("p60_sim_knn_graph", {
      val bucket = lshBucketSql("embedding")
      val cos = cosineSql("q.embedding", "c.embedding")
      val cap = DedupOps.BandBucketCap
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, bucket,
         |         CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY vec_id) - 1)
         |              / $cap.0) AS BIGINT) AS salt
         |  FROM (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)),
         |sc AS (SELECT q.vec_id AS vec_id, c.vec_id AS nn_id, $cos AS cos,
         |              row_number() OVER (PARTITION BY q.vec_id
         |                                 ORDER BY $cos DESC, c.vec_id) AS rnk
         |       FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.salt = c.salt
         |                          AND q.vec_id <> c.vec_id),
         |e AS (SELECT vec_id, nn_id, cos, CAST(rnk AS BIGINT) AS rnk
         |      FROM sc WHERE rnk <= $KnnK)
         |SELECT e.vec_id, e.nn_id, e.cos, e.rnk, r.vec_id IS NOT NULL AS mutual
         |FROM e LEFT JOIN e r ON r.vec_id = e.nn_id AND r.nn_id = e.vec_id
         |ORDER BY e.vec_id, e.rnk""".stripMargin
    }) { (s, dir) =>
      val edges = graft.ops.Release.afterFirstUse(
        SimilarityOps.lshTopKSalted(t(s, dir, "embeddings"), KnnK)
          .select(col("query_id").as("vec_id"), col("neighbor_id").as("nn_id"),
            col("cos"), col("rnk").cast("long").as("rnk")))
      // edges are unique per (vec_id, nn_id) — row_number top-k — so the
      // reverse lookup is a plain equi left join on the swapped key
      val rev = edges.select(col("vec_id").as("r_vec"), col("nn_id").as("r_nn"),
        lit(1).as("m"))
      edges.join(rev,
          col("r_vec") === col("nn_id") && col("r_nn") === col("vec_id"), "left")
        .select(col("vec_id"), col("nn_id"), col("cos"), col("rnk"),
          col("m").isNotNull.as("mutual"))
        .orderBy(col("vec_id"), col("rnk"))
    },

    // ----------------- similarity: hybrid sparse+dense retrieval (RRF)
    // The standard hybrid-search fusion (Cormack et al. 2009): a lexical
    // leg (token-set jaccard) and a dense leg (embedding cosine) each
    // rank the corpus per query; reciprocal-rank fusion sums
    // 1/(60+rank) over the legs a candidate appears in (top-RrfDepth
    // only) and re-ranks. Contributions ship as floor(10⁹/(60+rank))
    // integers so the fused score is exact in both engines; the raw
    // doubles only steer rankings (ties broken by id — p09's
    // discipline). The embeddings table is the corpus's embedding
    // sidecar keyed by the same id (it covers a prefix of the documents
    // at some SFs — the inner join scopes retrieval to the covered
    // subset, the realistic sidecar shape).
    //
    // Scale shape: one id-keyed equi join builds the corpus, the
    // RrfQueries query rows ride a broadcast across ONE corpus scan that
    // scores both legs together, and both rank passes share one shuffle
    // on query_id. Nothing is ever all-pairs on the corpus side.
    Q("p53_sim_hybrid_rrf", {
      val jac = DedupOps.jaccardSql("q.hashes", "c.hashes")
      val cos = cosineSql("q.e", "c.e")
      val th = tokenHashesSql("text")
      s"""WITH corpus AS (
         |  SELECT d.doc_id AS id, $th AS hashes, e.embedding AS e
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |scored AS (
         |  SELECT q.id AS query_id, c.id AS cand_id, $jac AS jac, $cos AS cos
         |  FROM corpus q JOIN corpus c ON q.id < $RrfQueries AND c.id <> q.id),
         |ranked AS (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY jac DESC, cand_id) AS r_lex,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS r_cos
         |  FROM scored),
         |fused AS (
         |  SELECT query_id, cand_id,
         |         CAST(CASE WHEN r_lex <= $RrfDepth THEN r_lex ELSE 0 END AS BIGINT) AS lex_rank,
         |         CAST(CASE WHEN r_cos <= $RrfDepth THEN r_cos ELSE 0 END AS BIGINT) AS cos_rank,
         |         (CASE WHEN r_lex <= $RrfDepth
         |               THEN CAST(floor(1000000000.0 / (60 + r_lex)) AS BIGINT) ELSE 0 END)
         |         + (CASE WHEN r_cos <= $RrfDepth
         |                 THEN CAST(floor(1000000000.0 / (60 + r_cos)) AS BIGINT) ELSE 0 END) AS rrf_q
         |  FROM ranked)
         |SELECT query_id, cand_id, lex_rank, cos_rank, rrf_q,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |                               ORDER BY rrf_q DESC, cand_id) AS BIGINT) AS final_rank
         |FROM fused
         |QUALIFY final_rank <= $RrfTopK
         |ORDER BY query_id, final_rank""".stripMargin
    }) { (s, dir) =>
      val corpus = t(s, dir, "documents")
        .select(col("doc_id").as("id"), tokenHashes(col("text")).as("hashes"))
        .join(t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("e")),
          "id")
      val q = corpus.filter(col("id") < RrfQueries)
        .select(col("id").as("query_id"), col("hashes").as("qh"), col("e").as("qe"))
      SimilarityOps.hybridRrfTopK(q,
          corpus.select(col("id").as("cand_id"), col("hashes"), col("e")),
          depth = RrfDepth, k = RrfTopK)
        .orderBy(col("query_id"), col("final_rank"))
    },

    // --------------- embeddings: random-projection reduction (JL lemma)
    // Dimensionality reduction for the vector store: a deterministic
    // ±1 sign matrix (Achlioptas 2003 — database-friendly random
    // projections) maps every 64-dim embedding to RpDims dims in one
    // per-row fold. The sign of cell (i, j) comes from a cubing hash
    // (k³ mod p mod 2 — affine hashes mod p have pairwise-correlated
    // parity columns; cubing decorrelates, measured max inter-column
    // |corr| 0.31 at 64×16). Both engines fold dimensions
    // LEFT-TO-RIGHT over identical doubles, so the ×10⁶-quantized
    // projections are bit-identical.
    //
    // Scale shape: pure map work — the "matrix" is a closed-form
    // expression (at a real deployment: a seeded d×d' literal broadcast,
    // KBs), no shuffle anywhere; the explode emits RpDims rows per
    // vector for the columnar sink.
    Q("p54_embed_rp", {
      val sign = (i: String, j: String) => {
        val k = s"(($i) * 31 + ($j) + 7) % 1000003"
        s"(CASE WHEN (($k) * ($k) % 1000003) * ($k) % 1000003 % 2 = 0 THEN 1.0 ELSE -1.0 END)"
      }
      s"""WITH p AS (
         |  SELECT vec_id,
         |    list_transform(range($RpDims), j ->
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(len(embedding)), i ->
         |          CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * ${sign("i", "j")})),
         |        (a, b) -> a + b)) AS proj
         |  FROM embeddings)
         |SELECT vec_id, CAST(j AS INT) AS dim,
         |       CAST(floor(proj[CAST(j + 1 AS INT)] * 1000000.0 + 0.5) AS BIGINT) AS q_val
         |FROM (SELECT vec_id, proj, unnest(range($RpDims)) AS j FROM p)
         |ORDER BY vec_id, dim""".stripMargin
    }) { (s, dir) =>
      // tw: rpProject is RpDims × dims multiply-adds per row, map-only —
      // fan the one-split scan out (r16 A/B: 1.37 → 0.35 s)
      tw(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(SimilarityOps.rpProject(col("embedding"), RpDims)))
        .select(col("vec_id"), col("pos").cast("int").as("dim"),
          floor(col("col") * lit(1000000.0) + lit(0.5)).cast("long").as("q_val"))
        .orderBy(col("vec_id"), col("dim"))
    },

    // ----------------- quality: distributed-trained linear classifier
    // Batch-perceptron training of a quality filter on the corpus itself
    // (the GPT-3/CCNet quality-classifier step, with integer-exact
    // arithmetic so the distributed gradient sum is order-independent —
    // see ClassifierOps). Features: bias, token count, stopword count,
    // long-token count; labels from the p02 quality rule. The oracle
    // replays the PerceptronEpochs epochs unrolled (the BPE/Lloyd
    // discipline): each epoch's update is Σ y·x over rows the previous
    // weights misclassify.
    Q("p55_quality_perceptron", {
      val out = (1 to PerceptronEpochs).map(n =>
        s"SELECT CAST($n AS INT) AS epoch, CAST(w0 AS BIGINT) AS w0, " +
          s"CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2, " +
          s"CAST(w3 AS BIGINT) AS w3, n_mis FROM e$n")
        .mkString("\nUNION ALL\n")
      s"""WITH $PerceptronCtes
         |SELECT * FROM ($out) ORDER BY epoch""".stripMargin
    }) { (s, dir) =>
      perceptronDf(s, dir).orderBy(col("epoch"))
    },

    // ------------------------- sampling: sequential Poisson / PPS (p63)
    // Weighted sampling for data mixing (sample long documents more):
    // Ohlsson's sequential Poisson order sampling — priority
    // (u · 10⁹) div w with u = seeded polyHash(doc_id) and w = n_chars,
    // sample = the k smallest priorities. Inclusion probability is
    // ≈ proportional to length, the draw is reproducible across
    // cluster sizes/reruns (pure function of doc_id), and the priority
    // is INTEGER so both engines agree bit-for-bit. Physical shape:
    // map-only priority + per-partition top-k merged on the driver
    // (TakeOrderedAndProject — PlanSpec pins NO shuffle exchange): at
    // 100 TB the corpus is never sorted, each task ships k rows.
    Q("p63_sample_weighted", {
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-wsample-3'")
      s"""SELECT doc_id, n_chars, pri
         |FROM (SELECT doc_id, n_chars,
         |             ($h * ${graft.ops.StatsOps.PriScale}) // greatest(n_chars, 1) AS pri
         |      FROM documents)
         |ORDER BY pri, doc_id LIMIT $WsampleK""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-wsample-3")))
            * graft.ops.StatsOps.PriScale).as("num"))
        .withColumn("pri", expr("num div greatest(n_chars, 1)"))
        .select(col("doc_id"), col("n_chars"), col("pri"))
        .orderBy(col("pri"), col("doc_id"))
        .limit(WsampleK)
    },

    // ------------------- decontamination: contamination SCORE (p64)
    // p17's gate is binary (≥5 shared shingles → drop); audits want the
    // per-document contamination FRACTION — shared 3-gram shingles over
    // the doc's total distinct shingles — ranked, to review partial
    // benchmark leaks below the drop threshold. Benchmark = every 97th
    // doc (a real suite is MBs → its shingle set broadcasts; the corpus
    // side is one map + one per-doc count shuffle — the corpus NEVER
    // joins itself). Score ships as an exact ×10⁶ integer.
    Q("p64_contaminate_score", {
      val sh = DedupOps.shingleHashesSql(3)
      s"""WITH sh AS (
         |  SELECT doc_id, $sh AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |bl AS (SELECT list(DISTINCT h) AS hs
         |       FROM (SELECT unnest(sh) AS h FROM sh WHERE doc_id % 97 = 0)),
         |sc AS (SELECT doc_id,
         |              CAST(len(sh) AS BIGINT) AS n_grams,
         |              CAST(len(list_intersect(sh, hs)) AS BIGINT) AS n_hit
         |       FROM sh CROSS JOIN bl WHERE doc_id % 97 <> 0)
         |SELECT doc_id, n_grams, n_hit, (n_hit * 1000000) // n_grams AS score_q
         |FROM sc WHERE n_hit > 0 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val sh = graft.ops.Release.afterFirstUse(
        t(s, dir, "documents")
          .select(col("doc_id"), DedupOps.shingleHashes(col("text"), 3).as("sh")))
      val bench = sh.filter(col("doc_id") % 97 === 0)
        .select(explode(col("sh")).as("h")).distinct()
      val corpus = sh.filter(col("doc_id") % 97 =!= 0)
      corpus.select(col("doc_id"), explode(col("sh")).as("h"))
        .join(broadcast(bench), "h")
        .groupBy(col("doc_id")).agg(count(col("h")).as("n_hit"))
        .join(corpus.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams")),
          "doc_id")
        .withColumn("score_q", expr("(n_hit * 1000000) div n_grams"))
        .select(col("doc_id"), col("n_grams"), col("n_hit"), col("score_q"))
        .orderBy(col("doc_id"))
    },

    // ----------------- statistics: exact group quantiles (p65)
    // Exact p25/p50/p90/p99 of document length per language — the
    // corpus-profiling numbers a mixing run reads before setting
    // truncation budgets. NOT a distributed sort: document length is a
    // bounded integer domain, so the exact answer falls out of a VALUE
    // HISTOGRAM — one map-side-combining groupBy(lang, n_chars), then a
    // cumulative window over the (tiny) histogram and a rank probe
    // ceil(q·n/100). At 100 TB the only corpus-wide work is the
    // histogram aggregate; the sort the naive plan would shuffle never
    // happens (PlanSpec pins: the scan reads ONLY lang+n_chars, and no
    // exchange carries doc rows). Unbounded domains would swap in a
    // sketch; for a bounded one the histogram IS the exact algorithm.
    Q("p65_group_quantiles",
      """WITH h AS (SELECT lang, n_chars, count(*) AS cnt
        |           FROM documents GROUP BY lang, n_chars),
        |n AS (SELECT lang, sum(cnt) AS n_docs FROM h GROUP BY lang),
        |c AS (SELECT lang, n_chars, cnt,
        |             sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
        |      FROM h),
        |q AS (SELECT CAST(unnest([25, 50, 90, 99]) AS BIGINT) AS pct),
        |r AS (SELECT lang, pct, n_docs, (pct * n_docs + 99) // 100 AS rnk
        |      FROM n CROSS JOIN q)
        |SELECT r.lang, r.pct, CAST(r.n_docs AS BIGINT) AS n_docs,
        |       min(c.n_chars) AS nchars_q
        |FROM r JOIN c ON c.lang = r.lang AND c.cum >= r.rnk
        |GROUP BY r.lang, r.pct, r.n_docs
        |ORDER BY r.lang, r.pct""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val h = graft.ops.Release.afterFirstUse(
        t(s, dir, "documents")
          .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("cnt")))
      val c = h.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("n_chars"))))
      val n = h.groupBy(col("lang")).agg(sum(col("cnt")).as("n_docs"))
      val qs = Seq(25L, 50L, 90L, 99L).toDF("pct")
      n.crossJoin(broadcast(qs))
        .withColumn("rnk", expr("(pct * n_docs + 99) div 100"))
        .join(c, Seq("lang"))
        .filter(col("cum") >= col("rnk"))
        .groupBy(col("lang"), col("pct"), col("n_docs"))
        .agg(min(col("n_chars")).as("nchars_q"))
        .orderBy(col("lang"), col("pct"))
    },

    // -------------------- statistics: per-source drift (p66)
    // Distribution-shift audit: L1 distance between each source's
    // unigram distribution and the corpus distribution — the number a
    // crawl pipeline watches to catch a source going off-profile before
    // it pollutes the mix. All-INTEGER cross-multiplication
    // |c_s·N − c·N_s| (no float division until the final ×10⁶
    // quantization, which is integer too), with the absent-token mass
    // folded in closed form ((N − Σ_present c)·N_s) so the per-source
    // term table stays the size of the SOURCE'S vocabulary — never
    // vocab × sources. The cross-products run in DECIMAL(38,0) /
    // HUGEINT: c·N exceeds int64 once N passes ~1e10 tokens (real
    // corpora are 1e12+), where Spark's Long would silently wrap while
    // DuckDB errors — decimal keeps both engines exact to 1e38, far
    // past any corpus (the neardupGroups lblSum precedent). Shape at
    // 100 TB: the shared (source, word) count memo, a vocab-bounded
    // re-agg, one vocab-keyed join; sources are bounded so their totals
    // broadcast.
    Q("p66_source_drift",
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |sc AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
        |cc AS (SELECT word, sum(c) AS ct FROM sc GROUP BY word),
        |ns AS (SELECT source, sum(c) AS n_s FROM sc GROUP BY source),
        |tot AS (SELECT sum(c) AS n FROM sc),
        |pres AS (SELECT sc.source,
        |                sum(abs(CAST(sc.c AS HUGEINT) * t.n
        |                        - CAST(cc.ct AS HUGEINT) * ns.n_s)) AS pterm,
        |                sum(cc.ct) AS c_pres
        |         FROM sc JOIN cc USING (word) JOIN ns USING (source) CROSS JOIN tot t
        |         GROUP BY sc.source)
        |SELECT p.source, CAST(ns.n_s AS BIGINT) AS n_tokens,
        |       CAST(((p.pterm + CAST(t.n - p.c_pres AS HUGEINT) * ns.n_s) * 1000000)
        |         // (2 * CAST(ns.n_s AS HUGEINT) * t.n) AS BIGINT) AS drift_q
        |FROM pres p JOIN ns USING (source) CROSS JOIN tot t
        |ORDER BY source""".stripMargin) { (s, dir) =>
      val wc = sourceWordCounts(s, dir)
      val cc = wc.groupBy(col("word")).agg(sum(col("c")).as("ct"))
      val ns = wc.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val tot = ns.agg(sum(col("n_s")).as("n"))
      wc.join(cc, "word")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(tot))
        .groupBy(col("source"))
        .agg(sum(abs(expr("CAST(c AS DECIMAL(38,0)) * n - CAST(ct AS DECIMAL(38,0)) * n_s")))
            .as("pterm"),
          sum(col("ct")).as("c_pres"))
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(tot))
        // ONE integral divide at the end (its decimal divisor stays
        // decimal; Spark's `div` would truncate an INNER divisor through
        // Long, reintroducing the wrap this formula exists to avoid).
        // divisor ≥ 2 always: a source exists only with ≥ 1 token.
        .withColumn("drift_q", expr(
          """((pterm + CAST(n - c_pres AS DECIMAL(38,0)) * n_s) * 1000000)
            |  div (2 * CAST(n_s AS DECIMAL(38,0)) * n)""".stripMargin))
        .select(col("source"), col("n_s").as("n_tokens"), col("drift_q"))
        .orderBy(col("source"))
    },

    // ---------------- similarity: kNN-graph cluster audit (p67)
    // The SemDeDup-style curation view one level up from p60: mutual
    // kNN edges (both directions in each other's top-k) define the
    // conservative similarity graph; its connected components are the
    // content clusters a curation run audits (size + internal edge
    // count per cluster). Reuses p60's exact salted-LSH edge list and
    // p15's CC machinery — the mutual filter makes components tight
    // (diameter-bounded by construction), so the label propagation
    // converges in a handful of pointer-jumped rounds at any scale, and
    // the per-cluster aggregation is one keyed groupBy. Only clusters
    // (≥2 members) are emitted — singletons are the corpus.
    Q("p67_sim_cluster_stats", {
      val bucket = SimilarityOps.lshBucketSql("embedding")
      val cos = SimilarityOps.cosineSql("q.embedding", "c.embedding")
      val cap = DedupOps.BandBucketCap
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, bucket,
         |         CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY vec_id) - 1)
         |              / $cap.0) AS BIGINT) AS salt
         |  FROM (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)),
         |sc AS (SELECT q.vec_id AS vec_id, c.vec_id AS nn_id,
         |              row_number() OVER (PARTITION BY q.vec_id
         |                                 ORDER BY $cos DESC, c.vec_id) AS rnk
         |       FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.salt = c.salt
         |                          AND q.vec_id <> c.vec_id),
         |e AS (SELECT vec_id, nn_id FROM sc WHERE rnk <= $KnnK),
         |mut AS (SELECT e.vec_id AS a, e.nn_id AS b
         |        FROM e JOIN e r ON r.vec_id = e.nn_id AND r.nn_id = e.vec_id
         |        WHERE e.vec_id < e.nn_id),
         |verts AS (SELECT a AS v FROM mut UNION SELECT b FROM mut),
         |edges AS (SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT v, v FROM verts
         |    UNION
         |    SELECT r.a, e2.b FROM r JOIN edges e2 ON e2.a = r.b)
         |  SELECT * FROM r),
         |lbl AS (SELECT a AS v, min(b) AS grp FROM reach GROUP BY a),
         |mem AS (SELECT grp, count(*) AS n_members FROM lbl GROUP BY grp),
         |ec AS (SELECT l.grp, count(*) AS n_edges
         |       FROM mut JOIN lbl l ON l.v = mut.a GROUP BY l.grp)
         |SELECT m.grp AS group_id, CAST(m.n_members AS BIGINT) AS n_members,
         |       CAST(ec.n_edges AS BIGINT) AS n_edges
         |FROM mem m JOIN ec USING (grp) ORDER BY group_id""".stripMargin
    }) { (s, dir) =>
      // r16: p67's edge build was the SAME lshTopKSalted + mutual-join
      // chain mutualEdges memoizes for p83–p86 — one more consumer
      // shares the one build per sweep instead of repeating
      // the dominant LSH cost. sym = mut ∪ reverse(mut), so filtering
      // a < b recovers exactly the one-direction mutual pair list the
      // query used before (oracle unchanged).
      val mut = mutualEdges(s, dir).filter(col("a") < col("b"))
      val verts = mut.select(col("a").as("v")).union(mut.select(col("b"))).distinct()
      val lbl = DedupOps.neardupGroups(verts, "v", mut, "a", "b")
      val mem = lbl.groupBy(col("group_id")).agg(count(lit(1)).as("n_members"))
      val ec = mut.join(lbl.withColumnRenamed("v", "a"), "a")
        .groupBy(col("group_id")).agg(count(lit(1)).as("n_edges"))
      mem.join(ec, "group_id")
        .select(col("group_id"), col("n_members"), col("n_edges"))
        .orderBy(col("group_id"))
    },

    // ---------------- text: Dice-scored bigram collocations (p68)
    // Phrase detection for tokenizer/vocab prep (the word2vec-phrases /
    // Smadja collocation step): score adjacent word pairs by the Dice
    // coefficient 2·c_xy / (c_x + c_y), integer-quantized ×10⁶ so both
    // engines agree exactly (no logs, no floats — Dice ranks like PMI
    // for the high-support pairs a phrase pass keeps). Shape at 100 TB:
    // two map-side-combining counts (unigrams, adjacent bigrams), two
    // vocabulary-bounded equi joins, and a per-partition top-k — the
    // corpus is scanned twice and never sorted.
    Q("p68_txt_collocations",
      s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |u AS (SELECT unnest(toks) AS w FROM d),
         |uc AS (SELECT w, count(*) AS c FROM u GROUP BY w),
         |b AS (SELECT unnest(list_transform(range(greatest(len(toks) - 1, 0)),
         |                    i -> [toks[i + 1], toks[i + 2]])) AS bg FROM d),
         |bc AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS c_xy
         |       FROM b GROUP BY bg[1], bg[2] HAVING count(*) >= $CollocMinCount)
         |SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
         |       CAST((2 * c_xy * 1000000) // (x.c + y.c) AS BIGINT) AS dice_q
         |FROM bc JOIN uc x ON x.w = w1 JOIN uc y ON y.w = w2
         |ORDER BY dice_q DESC, w1, w2 LIMIT $CollocTopK""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").withColumn("toks", tokens(col("text")))
      val uni = docs.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bc = docs.select(explode(expr(
          """CASE WHEN size(toks) < 2 THEN array()
            |ELSE transform(sequence(0, size(toks) - 2),
            |               i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) END"""
            .stripMargin)).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= CollocMinCount)
      bc.join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
        .withColumn("dice_q", expr("(2 * c_xy * 1000000) div (c_x + c_y)"))
        .select(col("w1"), col("w2"), col("c_xy"), col("dice_q"))
        .orderBy(col("dice_q").desc, col("w1"), col("w2"))
        .limit(CollocTopK)
    },

    // ---------------- dedup: MinHash calibration audit (p69)
    // "Measure, don't guess" for the dedup family (p61's discipline
    // applied to MinHash): over the recall-leaning 16-band LSH
    // candidate pairs, compare the 64-lane MinHash Jaccard ESTIMATE
    // (matching lanes / 64) against the EXACT token-set Jaccard, and
    // report the mean absolute error per exact-Jaccard decile — the
    // table that justifies (or indicts) the band thresholds p06/p15
    // run with. All-integer: exact = (|∩|·10⁶) div |∪|, estimate =
    // matches·15625, so the audit carries no float boundary. Output is
    // ≤ 11 rows however large the corpus.
    //
    // The audit runs on a DETERMINISTIC sample at two levels — that is
    // the 100 TB design, not a shortcut: (1) a seeded-hash 1-in-
    // CalibDocMod DOCUMENT sample applied in the scan stage, which
    // shrinks the band self-join QUADRATICALLY (the recall-leaning
    // 16-band join yields ~54M distinct pairs on 50k word-soup docs —
    // enumerating them for an 11-row error table is wasted corpus
    // passes); and (2) a pure integer hash keeping 1-in-CalibSampleMod
    // of the surviving pairs, applied BEFORE the distinct so duplicate
    // band hits of a pair sample consistently. Per-decile means are
    // unbiased under any fixed sample — but they ARE estimates: a user
    // comparing n_pairs against an exhaustive calibration sweep will
    // see ~1/(CalibDocMod²·CalibSampleMod) of the pair counts. The
    // sample predicates are pure functions of (id, seed) — reruns and
    // repartitionings reproduce the identical table (StatsOpsSpec).
    // The sampled pair table itself is the shared calibPairs memo:
    // p89's threshold-yield sweep reads the SAME population, so the
    // band join (the dominant cost) runs once for both audits.
    Q("p69_dd_minhash_calibration", {
      s"""$CalibPairsCte
         |SELECT jacc_q // 100000 AS decile,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(abs(est_q - jacc_q)) // count(*) AS BIGINT) AS mean_err_q
         |FROM pe GROUP BY jacc_q // 100000 ORDER BY decile""".stripMargin
    }) { (s, dir) =>
      calibPairs(s, dir)
        .withColumn("decile", expr("jacc_q div 100000"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("est_q") - col("jacc_q"))).as("sum_err"))
        .withColumn("mean_err_q", expr("sum_err div n_pairs"))
        .select(col("decile"), col("n_pairs"), col("mean_err_q"))
        .orderBy(col("decile"))
    },

    // ---------------- embeddings: dominant direction via power
    // iteration (p70). The whitening/centering prep an embedding
    // pipeline runs before dedup projections (ABBA-style): estimate
    // the top singular direction of the embedding cloud. Pipeline
    // shape for 100 TB: a seeded 1-in-PcaSampleMod vector sample (scan
    // stage), a global max-|x| scalar, int8 quantization (p22's
    // round/clamp), ONE pass accumulating the d(d+1)/2 upper-triangle
    // second-moment entries (map-side combine collapses to 2,080 keys
    // at d=64), then power iteration on the COLLECTED model-sized
    // matrix — fixed-point integer arithmetic (rescale by max |w| to
    // ×10⁶ each step), exact in BigInt on the Spark side and replayed
    // by the oracle as one unrolled CTE per iteration (the perceptron
    // p55 discipline). Both engines truncate integer division toward
    // zero (probed), so negative components carry no boundary.
    Q("p70_embed_pca", {
      val docSample = TextOps.polyHashSql("CAST(vec_id AS VARCHAR) || '#graft-pca-11'")
      val absMax = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b))"
      val d = PcaDim
      def iter(prev: String, n: Int) =
        s"""w$n AS (SELECT mf.i AS dim, sum(CAST(mf.c AS HUGEINT) * v.x) AS w
           |        FROM mf JOIN $prev v ON v.dim = mf.j GROUP BY mf.i),
           |mx$n AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w$n),
           |v$n AS (SELECT dim, CAST((w * 1000000) // mx AS BIGINT) AS x
           |        FROM w$n CROSS JOIN mx$n)""".stripMargin
      val iters = (1 to PcaIters)
        .map(n => iter(if (n == 1) "v0" else s"v${n - 1}", n)).mkString(",\n")
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE $docSample % $PcaSampleMod = 0),
         |g AS (SELECT greatest(max($absMax), 1e-12) / 127.0 AS scale FROM s),
         |q AS (SELECT list_transform(embedding,
         |               x -> CAST(least(greatest(round(CAST(x AS DOUBLE) / scale, 0),
         |                                        -127.0), 127.0) AS BIGINT)) AS qv
         |      FROM s CROSS JOIN g),
         |ij AS (SELECT i.i, j.j
         |       FROM (SELECT unnest(range($d)) AS i) i,
         |            (SELECT unnest(range($d)) AS j) j
         |       WHERE i.i <= j.j),
         |m AS (SELECT i, j, sum(qv[i + 1] * qv[j + 1]) AS c
         |      FROM q CROSS JOIN ij GROUP BY i, j),
         |mf AS (SELECT i, j, c FROM m UNION ALL SELECT j, i, c FROM m WHERE i < j),
         |v0 AS (SELECT unnest(range($d)) AS dim, CAST(1000000 AS BIGINT) AS x),
         |$iters
         |SELECT CAST(dim AS BIGINT) AS dim, x AS v_q FROM v$PcaIters
         |ORDER BY dim""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      // persisted: the dim probe, the scale aggregate and the moment
      // pass all read the sampled table — pay the scan + hash filter
      // once; released the moment the (in-line) collect completes.
      // tw: the moment pass emits 2,080 products per vector — fan the
      // one-split scan out so it parallelizes (r16 A/B)
      val sample = tw(s, dir, "embeddings")
        .filter(pmod(
          TextOps.polyHash(concat(col("vec_id").cast("string"), lit("#graft-pca-11"))),
          lit(PcaSampleMod.toLong)) === 0)
        .persist()
      try {
        val head = sample.select(size(col("embedding")).as("d")).limit(1).collect()
        if (head.isEmpty) {
          // empty sample: the oracle's CTE chain yields 0 rows — match it
          Seq.empty[(Long, Long)].toDF("dim", "v_q")
        } else {
          val dim0 = head(0).getInt(0)
          require(dim0 == PcaDim, s"p70 expects $PcaDim-dim embeddings, got $dim0")
          val g = sample.agg((greatest(
            max(aggregate(col("embedding"), lit(0.0),
              (a, x) => greatest(a, abs(x.cast("double"))))), lit(1e-12)) / 127.0).as("scale"))
          // one corpus pass: quantize, then emit the 2,080 upper-triangle
          // products per vector — the groupBy collapses them map-side
          val moment = sample.crossJoin(broadcast(g))
            .select(expr(
              """transform(embedding,
                |  x -> CAST(least(greatest(round(CAST(x AS DOUBLE) / scale), -127.0D),
                |                  127.0D) AS BIGINT))""".stripMargin).as("qv"))
            .select(explode(expr(
              s"""flatten(transform(sequence(0, ${PcaDim - 1}),
                 |  i -> transform(sequence(i, ${PcaDim - 1}),
                 |    j -> struct(i AS i, j AS j, qv[i] * qv[j] AS p))))""".stripMargin)).as("t"))
            .groupBy(col("t.i").as("i"), col("t.j").as("j"))
            .agg(sum(col("t.p")).as("c"))
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
          // model-sized power iteration (2,080 entries), exact in BigInt
          var v = Array.fill(PcaDim)(BigInt(1000000))
          for (_ <- 0 until PcaIters) {
            val w = Array.fill(PcaDim)(BigInt(0))
            moment.foreach { case (i, j, c) =>
              w(i) += BigInt(c) * v(j)
              if (i != j) w(j) += BigInt(c) * v(i)
            }
            val mx = w.map(_.abs).max.max(BigInt(1))
            v = w.map(x => x * 1000000 / mx)
          }
          v.zipWithIndex.map { case (x, i) => (i.toLong, x.toLong) }.toSeq
            .toDF("dim", "v_q").orderBy(col("dim"))
        }
      } finally sample.unpersist(false)
    },

    // ---------------- embeddings: centroid-distance outlier QC (p71)
    // Embedding-space quality control: every vector's cosine to its
    // best IVF centroid (p14's exact coarse quantizer); the bottom
    // OutlierK are the cloud's outliers — mojibake, wrong-modality and
    // encoder-failure rows surface here before they pollute ANN
    // structures. One broadcast-centroid argmax pass (the semDedup/IVF
    // assignment shape) and a per-partition bottom-k; the score ships
    // ×10⁶-quantized (both engines fold the dot product sequentially,
    // so the double is bit-identical — p22's discipline).
    Q("p71_embed_outliers", {
      val cosEC = SimilarityOps.cosineSql("e.embedding", "c.c_emb")
      val dee = SimilarityOps.dotSql("e.embedding", "e.embedding")
      val dcc = SimilarityOps.dotSql("c.c_emb", "c.c_emb")
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
         |              FROM embeddings ORDER BY vec_id LIMIT ${SimilarityOps.IvfK}),
         |p AS (SELECT e.vec_id, c.c_id AS cluster,
         |             CASE WHEN $dee = 0 OR $dcc = 0 THEN -2.0 ELSE $cosEC END AS cos
         |      FROM embeddings e CROSS JOIN cent c),
         |asg AS (
         |  SELECT vec_id, cluster, cos FROM (
         |    SELECT vec_id, cluster, cos,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY cos DESC, cluster) AS rnk
         |    FROM p) WHERE rnk = 1)
         |SELECT vec_id, cluster, CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_q
         |FROM asg ORDER BY cos_q, vec_id LIMIT $OutlierK""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .withColumn("ze", SimilarityOps.dot(col("embedding"), col("embedding")) === 0.0)
      val cent = broadcast(SimilarityOps.seedCentroids(t(s, dir, "embeddings"),
        SimilarityOps.IvfK)
        .withColumn("zc", SimilarityOps.dot(col("c_emb"), col("c_emb")) === 0.0))
      // zero-norm guard: an all-zero embedding (an encoder-failure row —
      // exactly what outlier QC exists to catch) makes cosine 0/0 = NaN,
      // which Spark's long cast would silently zero while DuckDB errors
      // on the NaN→BIGINT cast; the -2.0 sentinel ranks it WORST on both
      // engines (below any real cosine), so it tops the outlier report
      e.crossJoin(cent)
        .withColumn("cos", when(col("ze") || col("zc"), lit(-2.0))
          .otherwise(SimilarityOps.cosine(col("embedding"), col("c_emb"))))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("c_id")).as("nc"))).as("m"))
        .select(col("vec_id"), (-col("m.nc")).as("cluster"),
          floor(col("m.cos") * 1000000 + 0.5).cast("long").as("cos_q"))
        .orderBy(col("cos_q"), col("vec_id"))
        .limit(OutlierK)
    },

    // ---------------- text: language-ID confusion audit (p72)
    // The third "measure, don't guess" evaluator (p61 = ANN recall,
    // p69 = MinHash calibration, this = the p03 language-ID heuristic):
    // confusion matrix of predicted vs true language with the row share
    // as an exact ×10⁶ integer — the table that decides whether the
    // marker-word heuristic is good enough before a mixing run trusts
    // its lang routing. Shape: one map pass scoring every doc (the
    // marker sets are literals in the scan stage), one
    // languages²-bounded groupBy, a broadcast-sized row-total join.
    Q("p72_langid_eval", {
      val toks = "string_split(text, ' ')"
      val scores = LangMarkers.map { case (lg, ws) =>
        s"${TextOps.countInSql(toks, ws)} AS score_$lg"
      }.mkString(",\n       ")
      val best = LangMarkers.map(_._1).map(lg => s"score_$lg")
        .reduceLeft((a, b) => s"greatest($a, $b)")
      val guess = LangMarkers.map(_._1)
        .map(lg => s"WHEN score_$lg = best THEN '$lg'").mkString(" ")
      s"""WITH g AS (
         |  SELECT lang, CASE $guess END AS lang_guess
         |  FROM (SELECT lang, $scores, $best AS best FROM documents)),
         |cm AS (SELECT lang, lang_guess, count(*) AS n_docs
         |       FROM g GROUP BY lang, lang_guess),
         |tt AS (SELECT lang, sum(n_docs) AS total FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.lang_guess, CAST(cm.n_docs AS BIGINT) AS n_docs,
         |       CAST((cm.n_docs * 1000000) // tt.total AS BIGINT) AS share_q
         |FROM cm JOIN tt USING (lang)
         |ORDER BY lang, lang_guess""".stripMargin
    }) { (s, dir) =>
      val toks = tokens(col("text"))
      val scored = t(s, dir, "documents").select(
        col("lang") +: LangMarkers.map { case (lg, ws) =>
          countIn(toks, ws).as(s"score_$lg")
        }: _*)
      val best = LangMarkers.map(m => col(s"score_${m._1}")).reduceLeft(greatest(_, _))
      val guessCol = LangMarkers.map(_._1).reverse
        .foldLeft(lit(null).cast("string")) { (acc, lg) =>
          when(col(s"score_$lg") === col("best"), lg).otherwise(acc)
        }
      val cm = scored.withColumn("best", best)
        .withColumn("lang_guess", guessCol)
        .groupBy(col("lang"), col("lang_guess")).agg(count(lit(1)).as("n_docs"))
      val tt = cm.groupBy(col("lang")).agg(sum(col("n_docs")).as("total"))
      cm.join(broadcast(tt), "lang")
        .withColumn("share_q", expr("(n_docs * 1000000) div total"))
        .select(col("lang"), col("lang_guess"), col("n_docs"), col("share_q"))
        .orderBy(col("lang"), col("lang_guess"))
    },

    // --------------------- evaluation: quality-classifier ROC-AUC (p73)
    // The fourth "measure, don't guess" evaluator (after p61 ANN recall,
    // p69 MinHash calibration, p72 lang-ID confusion): ROC-AUC of the
    // p55 perceptron's margin against the quality labels, per epoch — a
    // misclassification COUNT (p55's n_mis) hides ranking quality; AUC
    // is what a threshold-tuned filter actually buys. Exact Mann-Whitney
    // rank-sum with average-rank ties, all-integer (ClassifierOps
    // .rocAucQ), so both engines agree bit-for-bit. Physical shape: the
    // corpus collapses to a (epoch, margin) histogram in one
    // map-side-combinable agg; ranks run over distinct margins only.
    Q("p73_quality_auc", {
      val ws = (1 to PerceptronEpochs).map(n =>
        s"SELECT CAST($n AS INT) AS epoch, w0, w1, w2, w3 FROM e$n")
        .mkString("\nUNION ALL\n")
      s"""WITH $PerceptronCtes,
         |wt AS ($ws),
         |sc AS (SELECT epoch, w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3 AS score, y
         |       FROM f CROSS JOIN wt),
         |h AS (SELECT epoch, score, CAST(count(*) AS BIGINT) AS n_tot,
         |             CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS n_pos
         |      FROM sc GROUP BY epoch, score),
         |r AS (SELECT epoch, n_tot, n_pos,
         |             2 * sum(n_tot) OVER (PARTITION BY epoch ORDER BY score)
         |               - n_tot + 1 AS two_avg
         |      FROM h),
         |a AS (SELECT epoch, sum(n_pos) AS np, sum(n_tot) - sum(n_pos) AS nn,
         |             sum(n_pos * two_avg) AS two_r
         |      FROM r GROUP BY epoch)
         |SELECT epoch, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         |       CAST(CASE WHEN np = 0 OR nn = 0 THEN -1
         |            ELSE ((two_r - np * (np + 1)) * 1000000) // (2 * np * nn)
         |            END AS BIGINT) AS auc_q
         |FROM a ORDER BY epoch""".stripMargin
    }) { (s, dir) =>
      val feats = perceptronFeats(s, dir)
      val wdf = perceptronDf(s, dir)
        .select(col("epoch"), col("w0"), col("w1"), col("w2"), col("w3"))
      val scored = feats.crossJoin(broadcast(wdf)).select(
        col("epoch"),
        (col("w0") * col("x0") + col("w1") * col("x1")
          + col("w2") * col("x2") + col("w3") * col("x3")).as("score"),
        col("y"))
      graft.ops.ClassifierOps.rocAucQ(scored, "epoch", "score", "y")
        .orderBy(col("epoch"))
    },

    // ------------------------ dedup: pairwise source-overlap matrix (p74)
    // "How much of source B is already in source A?" — the question a
    // mixing plan asks before paying for a cross-source dedup (e.g. a
    // fresh crawl vs an existing dump). Per-source KMV bottom-k sketches
    // of the distinct-token universe, merged pairwise: for sources
    // (A, B), the k smallest hashes of S_A ∪ S_B are an unbiased sample
    // of the union, so |sample ∩ S_A ∩ S_B| / |sample| estimates
    // Jaccard(A, B) (Beyer et al., SIGMOD'07). Bottom-k is a pure
    // function of the hash set — both engines build the identical
    // sketch, so the ESTIMATE itself is the oracle-checked value.
    // Physical shape: the only corpus-scale stages are the distinct agg
    // and the per-source bottom-k (the p34 KMV shape); everything
    // pairwise runs on sources² × k sketch rows with broadcast joins —
    // the corpus is never joined to itself.
    Q("p74_source_overlap", {
      s"""WITH d AS (SELECT DISTINCT source, unnest(${tokenHashesSql("text")}) AS h
         |           FROM documents),
         |r AS (SELECT source, h,
         |             row_number() OVER (PARTITION BY source ORDER BY h) AS rk
         |      FROM d),
         |sk AS (SELECT source, h FROM r WHERE rk <= $OverlapK),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |ps AS (SELECT a.source AS src_a, b.source AS src_b
         |       FROM srcs a JOIN srcs b ON a.source < b.source),
         |u AS (SELECT src_a, src_b, h,
         |             max(side) AS in_b, min(side) AS in_a_inv
         |      FROM (SELECT ps.src_a, ps.src_b, sk.h, 0 AS side
         |            FROM ps JOIN sk ON sk.source = ps.src_a
         |            UNION ALL
         |            SELECT ps.src_a, ps.src_b, sk.h, 1 AS side
         |            FROM ps JOIN sk ON sk.source = ps.src_b)
         |      GROUP BY src_a, src_b, h),
         |m AS (SELECT src_a, src_b, in_a_inv, in_b,
         |             row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
         |      FROM u),
         |j AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_merged,
         |             CAST(count(*) FILTER (WHERE in_a_inv = 0 AND in_b = 1)
         |                  AS BIGINT) AS n_both
         |      FROM m WHERE rk <= $OverlapK GROUP BY src_a, src_b)
         |SELECT src_a, src_b, n_merged, n_both,
         |       (n_both * 1000000) // n_merged AS jacc_q
         |FROM j ORDER BY src_a, src_b""".stripMargin
    }) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"))
      val sk = t(s, dir, "documents")
        .select(col("source"), explode(tokenHashes(col("text"))).as("h"))
        .distinct()
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= OverlapK)
        .select(col("source"), col("h"))
      val srcs = sk.select(col("source")).distinct()
      val ps = srcs.as("a").join(srcs.as("b"),
          col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      val tagged = ps.join(broadcast(sk), col("source") === col("src_a"))
        .select(col("src_a"), col("src_b"), col("h"), lit(0).as("side"))
        .union(ps.join(broadcast(sk), col("source") === col("src_b"))
          .select(col("src_a"), col("src_b"), col("h"), lit(1).as("side")))
      val u = tagged.groupBy(col("src_a"), col("src_b"), col("h"))
        .agg(max(col("side")).as("in_b"), min(col("side")).as("in_a_inv"))
      val mw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
      val out = u.withColumn("rk", row_number().over(mw))
        .filter(col("rk") <= OverlapK)
        .groupBy(col("src_a"), col("src_b"))
        .agg(
          count(lit(1)).as("n_merged"),
          count(when(col("in_a_inv") === 0 && col("in_b") === 1, lit(1))).as("n_both"))
        .withColumn("jacc_q", expr("(n_both * 1000000) div n_merged"))
        .orderBy(col("src_a"), col("src_b"))
      graft.ops.Release.afterFirstUse(sk)
      out
    },

    // -------------------- dedup: canonical keep per near-dup group (p75)
    // The near-dup chain's LAST step: p15 labels the clusters; this op
    // DECIDES — per multi-doc cluster, keep the longest document
    // (n_chars desc, doc_id tiebreak) and report what the drop saves.
    // Shares the memoized ≥0.9 pair chain with p06/p15/p51, so in a
    // sweep it costs one extra keyed agg over the group labels; the
    // argmax is a max(struct) — no per-group window, one shuffle.
    Q("p75_dd_canonical", {
      s"""$NearDupPairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION ALL SELECT id_b, id_a FROM prs),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON e.a = r.b)
         |  SELECT * FROM r),
         |g AS (SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a),
         |gd AS (SELECT g.group_id, g.doc_id, d.n_chars
         |       FROM g JOIN documents d USING (doc_id)),
         |k AS (SELECT group_id, doc_id AS keep_id, n_chars AS keep_chars,
         |             row_number() OVER (PARTITION BY group_id
         |                                ORDER BY n_chars DESC, doc_id) AS rk,
         |             count(*) OVER (PARTITION BY group_id) AS n_docs,
         |             sum(n_chars) OVER (PARTITION BY group_id) AS sum_chars
         |      FROM gd)
         |SELECT group_id, keep_id, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(keep_chars AS BIGINT) AS keep_chars,
         |       CAST(sum_chars - keep_chars AS BIGINT) AS dropped_chars
         |FROM k WHERE rk = 1 AND n_docs >= 2 ORDER BY group_id""".stripMargin
    }) { (s, dir) =>
      val prsCp = nearDupPairs(s, dir).localCheckpoint(true)
      val groups = DedupOps.neardupGroups(
        t(s, dir, "documents"), "doc_id", prsCp, "id_a", "id_b")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(prsCp)
      groups
        .join(t(s, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("group_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          max(struct(col("n_chars").as("c"), (-col("doc_id")).as("negid"))).as("mx"))
        .filter(col("n_docs") >= 2)
        .select(
          col("group_id"),
          (-col("mx.negid")).as("keep_id"),
          col("n_docs"),
          col("mx.c").as("keep_chars"),
          (col("sum_chars") - col("mx.c")).as("dropped_chars"))
        .orderBy(col("group_id"))
    },

    // ------------------------- pipeline: funnel drop accounting (p76)
    // Where does the data die? The ingestion funnel runs the cleaning
    // gates in their pipeline order — quality rules (p30), language-ID
    // agreement (p03), repetition (p19) — and charges every document to
    // the FIRST gate that rejects it, aggregating docs and chars per
    // (source, stage). This is the report a pipeline owner reads before
    // touching any threshold: which gate is eating which source.
    // Gate formulas are the registered ones (shared threshold constants
    // QWords*/QWl*/QStop*/RepTop*; shared countIn/ngram helpers), so the
    // funnel can never disagree with the standalone gate queries.
    // Scale shape: ONE corpus scan computing all three verdicts as
    // per-row array expressions (no joins, no per-gate passes), then a
    // 4×sources-row aggregate — the funnel costs no more than the most
    // expensive single gate.
    Q("p76_pipeline_funnel", {
      val toks = "string_split(text, ' ')"
      val stops = TextOps.countInSql("toks", QualityStopwords)
      val scores = LangMarkers.map { case (lg, ws) =>
        s"${TextOps.countInSql("toks", ws)} AS score_$lg"
      }.mkString(",\n       ")
      val best = LangMarkers.map(_._1).map(lg => s"score_$lg")
        .reduceLeft((a, b) => s"greatest($a, $b)")
      val guess = LangMarkers.map(_._1)
        .map(lg => s"WHEN score_$lg = best THEN '$lg'").mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, unnest($toks) AS tok,
         |         generate_subscripts($toks, 1) AS pos
         |  FROM documents),
         |seq AS (SELECT doc_id, tok,
         |               lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2
         |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |wcnt AS (SELECT doc_id, max(c) AS topw, sum(c) AS n_tokens
         |         FROM (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
         |         GROUP BY doc_id),
         |bi AS (SELECT doc_id, max(c) AS topb, sum(c) AS n_bi
         |       FROM (SELECT doc_id, tok || ' ' || t1 AS g, count(*) AS c
         |             FROM seq WHERE t1 IS NOT NULL GROUP BY doc_id, g)
         |       GROUP BY doc_id),
         |tri AS (SELECT doc_id, sum(c) - count(*) AS dup_tri, sum(c) AS n_tri
         |        FROM (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS g, count(*) AS c
         |              FROM seq WHERE t2 IS NOT NULL GROUP BY doc_id, g)
         |        GROUP BY doc_id),
         |rep AS (SELECT d.doc_id,
         |               (floor(wcnt.topw * 1000000.0 / wcnt.n_tokens + 0.5) < $RepTopWordMax
         |                AND floor(coalesce(bi.topb, 0) * 1000000.0 / greatest(coalesce(bi.n_bi, 0), 1) + 0.5) < $RepTopBigramMax
         |                AND floor(coalesce(tri.dup_tri, 0) * 1000000.0 / greatest(coalesce(tri.n_tri, 0), 1) + 0.5) < $RepDupTrigramMax) AS rep_keep
         |        FROM documents d
         |        JOIN wcnt USING (doc_id)
         |        LEFT JOIN bi USING (doc_id)
         |        LEFT JOIN tri USING (doc_id)),
         |m AS (SELECT doc_id, source, lang, n_chars,
         |             len(toks) AS n_words,
         |             CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
         |             CAST($stops AS BIGINT) AS n_stop,
         |             $scores
         |      FROM (SELECT doc_id, source, lang, n_chars, $toks AS toks
         |            FROM documents)),
         |g AS (SELECT doc_id, source, n_chars,
         |             (n_words BETWEEN $QWordsMin AND $QWordsMax)
         |               AND ((sum_len * 100) // n_words BETWEEN $QWlMin AND $QWlMax)
         |               AND ((n_stop * 10000) // n_words >= $QStopMin) AS q_keep,
         |             lang = CASE $guess END AS lang_ok
         |      FROM (SELECT *, $best AS best FROM m)),
         |f AS (SELECT g.source,
         |             CASE WHEN NOT q_keep THEN 'quality'
         |                  WHEN NOT lang_ok THEN 'langid'
         |                  WHEN NOT rep_keep THEN 'repetition'
         |                  ELSE 'kept' END AS stage,
         |             g.n_chars
         |      FROM g JOIN rep USING (doc_id))
         |SELECT source, stage, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM f GROUP BY source, stage ORDER BY source, stage""".stripMargin
    }) { (s, dir) =>
      val toksC = tokens(col("text"))
      def rq(cnt: Column, denom: Column) =
        floor(cnt * lit(1000000.0) / denom + lit(0.5)).cast("long")
      // tw: the stage gate is one giant per-doc projection (token stats,
      // bigram/trigram arrays, array_distinct) feeding a single tiny
      // aggregation — textbook map-bound single-split work (r16)
      val m = tw(s, dir, "documents").select(
        Seq(
          col("source"), col("lang"), col("n_chars"),
          size(toksC).as("n_words"),
          aggregate(toksC, lit(0L), (acc, w) => acc + length(w)).as("sum_len"),
          countIn(toksC, QualityStopwords).cast("long").as("n_stop"),
          size(toksC).cast("long").as("n_tokens"),
          TextOps.maxMultiplicity(toksC).as("topw"),
          TextOps.ngrams(toksC, 2).as("big"),
          TextOps.ngrams(toksC, 3).as("trig"))
          ++ LangMarkers.map { case (lg, ws) => countIn(toksC, ws).as(s"score_$lg") }: _*)
      val best = LangMarkers.map(mk => col(s"score_${mk._1}")).reduceLeft(greatest(_, _))
      val guessCol = LangMarkers.map(_._1).reverse
        .foldLeft(lit(null).cast("string")) { (acc, lg) =>
          when(col(s"score_$lg") === col("best"), lg).otherwise(acc)
        }
      m.withColumn("best", best)
        .select(
          col("source"), col("n_chars"),
          (col("n_words").between(QWordsMin, QWordsMax)
            && expr("(sum_len * 100) div n_words").between(QWlMin, QWlMax)
            && (expr("(n_stop * 10000) div n_words") >= QStopMin)).as("q_keep"),
          (col("lang") === guessCol).as("lang_ok"),
          (rq(col("topw"), col("n_tokens")) < RepTopWordMax
            && rq(TextOps.maxMultiplicity(col("big")),
                 greatest(size(col("big")), lit(1)).cast("long")) < RepTopBigramMax
            && rq((size(col("trig")) - size(array_distinct(col("trig")))).cast("long"),
                 greatest(size(col("trig")), lit(1)).cast("long")) < RepDupTrigramMax)
            .as("rep_keep"))
        .select(col("source"), col("n_chars"),
          when(!col("q_keep"), "quality")
            .when(!col("lang_ok"), "langid")
            .when(!col("rep_keep"), "repetition")
            .otherwise("kept").as("stage"))
        .groupBy(col("source"), col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"), col("stage"))
    },

    // ------------------ similarity: hard-negative mining (p77)
    // Contrastive-training data prep: for every anchor vector, the
    // HardNegK most-similar vectors with a DIFFERENT label — "hard"
    // negatives the loss actually learns from — excluding candidates at
    // cos ≥ HardNegMaxCos (the near-dup band: probable unlabeled
    // duplicates, i.e. false negatives that would poison the batch).
    // Candidates come from the shared salted hyperplane-LSH buckets
    // (p10's machinery) — never all-pairs; the per-anchor top-k is one
    // row_number over the bucket-bounded candidate set, shuffled on the
    // anchor id (full-width key, no skew).
    Q("p77_sim_hard_negatives", {
      val cos = cosineSql("a.embedding", "b.embedding")
      val buckets = lshBucketsSql("embedding")
      s"""WITH eb AS (SELECT vec_id, embedding, label, $buckets AS buckets
         |           FROM embeddings),
         |ex AS (SELECT vec_id, unnest(range(${SimilarityOps.NumTables})) AS tbl,
         |              unnest(buckets) AS bucket FROM eb),
         |sx AS (SELECT vec_id, tbl, bucket,
         |         CAST(floor((row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) - 1)
         |              / ${DedupOps.BandBucketCap}.0) AS BIGINT) AS salt FROM ex),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sx a JOIN sx b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.salt = b.salt
         |   AND a.vec_id <> b.vec_id),
         |pairs AS (
         |  SELECT id_a AS vec_id, id_b AS neg_id, $cos AS cos
         |  FROM cand JOIN eb a ON a.vec_id = id_a JOIN eb b ON b.vec_id = id_b
         |  WHERE a.label <> b.label),
         |r AS (SELECT vec_id, neg_id, cos,
         |             row_number() OVER (PARTITION BY vec_id
         |                                ORDER BY cos DESC, neg_id) AS rnk
         |      FROM pairs WHERE cos < $HardNegMaxCos)
         |SELECT vec_id, neg_id, cos, rnk FROM r WHERE rnk <= $HardNegK
         |ORDER BY vec_id, rnk""".stripMargin
    }) { (s, dir) =>
      val eb = graft.ops.Release.afterFirstUse(
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"),
            lshBuckets(col("embedding")).as("buckets")))
      val ex = DedupOps.saltedBands(eb, "vec_id", "buckets", "tbl", "bucket")
      val cand = ex.as("x")
        .join(ex.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket")
            && col("x.salt") === col("y.salt") && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct()
      val pairs = cand
        .join(eb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
          col("label").as("l_a")), "id_a")
        .join(eb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
          col("label").as("l_b")), "id_b")
        .filter(col("l_a") =!= col("l_b"))
        .withColumn("cos", cosine(col("e_a"), col("e_b")))
        .filter(col("cos") < HardNegMaxCos)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= HardNegK)
        .select(col("id_a").as("vec_id"), col("id_b").as("neg_id"),
          col("cos"), col("rnk"))
        .orderBy(col("vec_id"), col("rnk"))
    },

    // ------------------- text: tokenizer fertility per slice (p78)
    // Tokenizer evaluation over the learned BPE (p42's merges): per
    // (source, lang), how many subword tokens the tokenizer spends per
    // word (fertility ×10⁶) and how many characters ride in each token
    // (chars/token ×10⁶) — the table a team reads to decide whether a
    // tokenizer fits a corpus slice before committing a training run.
    // Scale shape: UNLIKE p49 it never materializes the token stream —
    // the merge chain rewrites only the DISTINCT-word vocabulary
    // (TextOps.bpeVocab, the broadcast-sized table), per-word subtoken
    // stats are computed ON the vocabulary, and the corpus meets it
    // through one broadcast join feeding a (source, lang)-keyed agg
    // with map-side combine. One corpus scan, zero token explode.
    Q("p78_bpe_fertility", {
      s"""$BpeVocabCtes,
         |wi AS (SELECT source, lang, word
         |       FROM (SELECT source, lang, unnest(string_split(text, ' ')) AS word
         |             FROM documents)
         |       WHERE length(word) > 0 AND NOT contains(word, '|')),
         |ws AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_sub,
         |              CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS tchars
         |       FROM tok),
         |a AS (SELECT source, lang,
         |             CAST(count(*) AS BIGINT) AS n_words,
         |             CAST(sum(n_sub) AS BIGINT) AS n_tokens,
         |             CAST(sum(tchars) AS BIGINT) AS n_tok_chars
         |      FROM wi JOIN ws USING (word) GROUP BY source, lang)
         |SELECT source, lang, n_words, n_tokens, n_tok_chars,
         |       (n_tokens * 1000000) // n_words AS fert_q,
         |       (n_tok_chars * 1000000) // n_tokens AS cpt_q
         |FROM a ORDER BY source, lang""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = bpeMergeRows(s, dir).map(m => (m._2, m._3))
      val vocab = TextOps.bpeVocab(docs, "text", merges)
        .select(col("word"),
          size(col("toks")).cast("long").as("n_sub"),
          aggregate(col("toks"), lit(0L), (acc, tk) => acc + length(tk)).as("tchars"))
      docs
        .select(col("source"), col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0 && !col("word").contains("|"))
        .join(broadcast(vocab), "word")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_tokens"),
          sum(col("tchars")).as("n_tok_chars"))
        .select(col("source"), col("lang"), col("n_words"), col("n_tokens"),
          col("n_tok_chars"),
          expr("(n_tokens * 1000000) div n_words").as("fert_q"),
          expr("(n_tok_chars * 1000000) div n_tokens").as("cpt_q"))
        .orderBy(col("source"), col("lang"))
    },

    // -------------------- dedup: winnowing fingerprints (p79)
    // Schleimer-Wilkerson-Aiken SIGMOD'03 document fingerprinting: hash
    // every WinnowGram-token window, keep only the MINIMUM hash of each
    // WinnowWindow consecutive run (rightmost on ties — the robust
    // rule), report the selected fingerprints that appear in more than
    // one document. Same match semantics as p27's dense span index for
    // any shared run of ≥ gram+window−1 tokens, from an index ~2/(w+1)
    // the size — the sparse-index trade a corpus-scale plagiarism/
    // overlap scan actually ships. Selection is per-row array work
    // (no shuffle); the integer min-key h·2³³+(2³³−1−pos) makes the
    // rightmost-tie argmin a plain min() on BOTH engines.
    Q("p79_dd_winnow", {
      s"""$WinnowFpCtes,
         |dup AS (SELECT h, count(DISTINCT doc_id) AS nd FROM fp GROUP BY h
         |        HAVING count(DISTINCT doc_id) > 1)
         |SELECT fp.doc_id, fp.pos, fp.h, CAST(dup.nd AS BIGINT) AS nd
         |FROM fp JOIN dup USING (h) ORDER BY doc_id, pos""".stripMargin
    }) { (s, dir) =>
      // r17: scan fan-out — winnow's rolling-hash map leg off the
      // one-task scan (guide §2.5; warm min-of-3 solo 1.53 → 1.35 s)
      DedupOps.winnow(tw(s, dir, "documents"), "doc_id", "text",
          gram = WinnowGram, window = WinnowWindow)
        .orderBy(col("doc_id"), col("pos"))
    },

    // -------------------- dedup: winnowing duplicate-density audit (p82)
    // The per-source "how much of this source is copied text" dial a
    // curation team reads before weighting sources: of each document's
    // selected winnowing fingerprints (p79's sparse index, minDocs=1 so
    // unshared fingerprints count too), what fraction also appears in
    // another document? Emitted per source as an exact ×10⁶ integer
    // density. Scale: adds one dim-sized agg on top of p79's chain —
    // the fingerprint stream is already ~2/(w+1)-sparse, the per-doc
    // fold is map-side, and the per-source table is model-sized.
    Q("p82_dup_density", {
      s"""$WinnowFpCtes,
         |dup AS (SELECT h, count(DISTINCT doc_id) AS nd FROM fp GROUP BY h),
         |pd AS (SELECT fp.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |              CAST(sum(CASE WHEN dup.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sh
         |       FROM fp JOIN dup USING (h) GROUP BY fp.doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(pd.n_fp) AS BIGINT) AS n_fp,
         |       CAST(sum(pd.n_sh) AS BIGINT) AS n_shared,
         |       (CAST(sum(pd.n_sh) AS BIGINT) * 1000000)
         |         // CAST(sum(pd.n_fp) AS BIGINT) AS dens_q
         |FROM pd JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    }) { (s, dir) =>
      // r17 A/B: tw neutral here (1.67 vs 1.74 warm) — the doc join-back
      // side would also pay the exchange; left on t() per the
      // measured-wins-only discipline.
      val docs = t(s, dir, "documents")
      DedupOps.winnow(docs, "doc_id", "text",
          gram = WinnowGram, window = WinnowWindow, minDocs = 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_sh"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_fp")).as("n_fp"),
          sum(col("n_sh")).as("n_shared"))
        .select(col("source"), col("n_docs"), col("n_fp"), col("n_shared"),
          expr("(n_shared * 1000000) div n_fp").as("dens_q"))
        .orderBy(col("source"))
    },

    // -------------------- quality: word-bigram LM with pruned backoff (p80)
    // KenLM-style word-level LM filter (the companion of p26's
    // char-bigram NLL): P(w2|w1) from corpus counts, bigrams pruned
    // below LmMinCount (the vocabulary-bounding step every shipped
    // n-gram LM applies), pruned transitions backing off to the unigram
    // model. Score = mean transition probability ×10⁶, an integer
    // quotient per transition — value-exact cross-engine with no
    // log/float boundary. See TextOps.wordLmScore for the scale shape.
    Q("p80_lm_backoff", {
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM w GROUP BY w),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM w),
         |pr AS (SELECT doc_id, p[1] AS w1, p[2] AS w2
         |       FROM (SELECT doc_id,
         |                    unnest(list_zip(list_slice(toks, 1, len(toks) - 1),
         |                                    list_slice(toks, 2, len(toks)))) AS p
         |             FROM tk WHERE len(toks) >= 2)),
         |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |        FROM pr GROUP BY w1, w2 HAVING count(*) >= $LmMinCount),
         |sc AS (SELECT pr.doc_id,
         |              CASE WHEN big.c12 IS NOT NULL
         |                   THEN (big.c12 * 1000000) // u1.c1
         |                   ELSE (u2.c1 * 1000000) // tot.tot END AS p_q
         |       FROM pr LEFT JOIN big USING (w1, w2)
         |       JOIN uni u1 ON u1.w = pr.w1
         |       JOIN uni u2 ON u2.w = pr.w2
         |       CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(p_q) AS BIGINT) // CAST(count(*) AS BIGINT) AS score_q
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextOps.wordLmScore(t(s, dir, "documents"), "doc_id", "text", LmMinCount)
        .orderBy(col("doc_id"))
    },

    // -------------------- similarity: scalar int8 quantization audit (p81)
    // Per-dimension affine quantizer fit + reconstruction-error profile
    // (the FAISS ScalarQuantizer ship-readiness table): a PER-CHANNEL
    // quantizer trained on corpus min/max — the audit between p22's
    // per-vector abs-max int8 (row-local, no training pass) and p43's
    // 32× PQ (codebook-trained). All error figures are ×10⁶ integer
    // quotients of identical double expression trees.
    Q("p81_sq_audit", {
      s"""WITH e AS (SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         |                  CAST(unnest(embedding) AS DOUBLE) AS v
         |           FROM embeddings),
         |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim),
         |q AS (SELECT e.dim, e.v, st.mn, st.mx,
         |             CASE WHEN st.mx = st.mn THEN 0
         |                  ELSE LEAST(CAST(floor(((e.v - st.mn) * 255) / (st.mx - st.mn)) AS BIGINT),
         |                             255) END AS code
         |      FROM e JOIN st USING (dim)),
         |r AS (SELECT dim, v,
         |             CAST(floor(abs(v - (mn + (CAST(code AS DOUBLE) * (mx - mn)) / 255))
         |                        * 1000000) AS BIGINT) AS err_q
         |      FROM q)
         |SELECT dim, CAST(count(*) AS BIGINT) AS n,
         |       CAST(floor(min(v) * 1000000 + 0.5) AS BIGINT) AS mn_q,
         |       CAST(floor(max(v) * 1000000 + 0.5) AS BIGINT) AS mx_q,
         |       max(err_q) AS max_err_q,
         |       CAST(sum(err_q) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_err_q
         |FROM r GROUP BY dim ORDER BY dim""".stripMargin
    }) { (s, dir) =>
      SimilarityOps.sqAudit(t(s, dir, "embeddings"))
        .orderBy(col("dim"))
    },

    // -------------------- graph: PageRank over the mutual-kNN graph (p83)
    // The "which documents are most representative" read of the p60
    // similarity graph: fixed-iteration PageRank (Page et al. 1999)
    // with pure integer arithmetic — ranks are ×PrScale integers, each
    // contribution is an integer division by out-degree, and the
    // damping update is integer throughout, so Spark and DuckDB agree
    // bit-for-bit with no float fixpoint. On a mutual top-k graph
    // in-degree ≤ KnnK, so the summed contributions stay k·PrScale-
    // bounded at any corpus size (no overflow headroom to manage).
    //
    // Scale shape: the edge list (k·N-bounded, shared with p84 through
    // the mutualEdges memo) is persisted once; each of the PrIters
    // rounds is one id-keyed equi join plus one map-side-combining
    // keyed sum — the textbook distributed PageRank step. The driver
    // loops over a CONSTANT round count, never over data, and no round
    // sorts or broadcasts the graph.
    Q("p83_graph_pagerank", {
      val teleport = (PrDampDen - PrDampNum).toLong * PrScale
      val iterCtes = (1 to PrIters).map { i =>
        s"""r$i AS MATERIALIZED (SELECT n.v,
           |  CAST(($teleport + $PrDampNum * coalesce(s.m, 0)) // $PrDampDen AS BIGINT) AS r
           |  FROM n LEFT JOIN (
           |    SELECT ed.b AS v, sum(r${i - 1}.r // dg.deg) AS m
           |    FROM ed JOIN r${i - 1} ON r${i - 1}.v = ed.a
           |            JOIN dg ON dg.v = ed.a
           |    GROUP BY ed.b) s ON s.v = n.v)""".stripMargin
      }.mkString(",\n")
      s"""$MutualGraphCtes,
         |r0 AS (SELECT v, CAST($PrScale AS BIGINT) AS r FROM n),
         |$iterCtes
         |SELECT n.v AS vec_id, CAST(dg.deg AS BIGINT) AS deg, r$PrIters.r AS pr_q
         |FROM n JOIN dg ON dg.v = n.v JOIN r$PrIters ON r$PrIters.v = n.v
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      GraphOps.pagerank(mutualEdges(s, dir), PrIters, PrScale, PrDampNum, PrDampDen)
        .select(col("v").as("vec_id"), col("deg"), col("pr_q"))
        .orderBy(col("vec_id"))
    },

    // ------------------- graph: k-core peel of the mutual-kNN graph (p84)
    // The dense-near-dup-core detector one level up from p67's cluster
    // sizes: CoreRounds rounds of k-core peeling (Seidman 1983) drop
    // every node whose still-alive degree is < CoreK. Early-peeled
    // nodes are tree-like fringe (one mutual neighbor); survivors sit
    // on cycles — the over-represented content a curation pass
    // downweights first. The peel round is each node's coreness-order
    // signal; exactly integer/boolean output, no floats anywhere.
    //
    // Scale shape: each round is two id-keyed semi-join-shaped equi
    // joins of the (persisted, shared) edge list against the alive set
    // plus one keyed count — alive sets only shrink, rounds are a
    // constant, and the final flag assembly is node-sized left joins.
    Q("p84_graph_kcore", {
      val roundCtes = (1 to CoreRounds).map { i =>
        val prev = if (i == 1) "n" else s"a${i - 1}"
        s"""d$i AS (SELECT ed.a AS v, count(*) AS c
           |  FROM ed JOIN $prev x ON x.v = ed.a JOIN $prev y ON y.v = ed.b
           |  GROUP BY ed.a),
           |a$i AS MATERIALIZED (SELECT v FROM d$i WHERE c >= $CoreK)""".stripMargin
      }.mkString(",\n")
      val peelCase = (1 to CoreRounds).map(i => s"WHEN a$i.v IS NULL THEN $i").mkString(" ")
      val flagJoins = (1 to CoreRounds).map(i => s"LEFT JOIN a$i ON a$i.v = n.v").mkString("\n")
      s"""$MutualGraphCtes,
         |$roundCtes
         |SELECT n.v AS vec_id, CAST(dg.deg AS BIGINT) AS deg0,
         |       CAST(CASE $peelCase ELSE 0 END AS BIGINT) AS peel_round,
         |       a$CoreRounds.v IS NOT NULL AS in_core
         |FROM n JOIN dg ON dg.v = n.v
         |$flagJoins
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      GraphOps.corePeel(mutualEdges(s, dir), CoreK, CoreRounds)
        .select(col("v").as("vec_id"), col("deg0"), col("peel_round"), col("in_core"))
        .orderBy(col("vec_id"))
    },

    // ------------- graph: deterministic random-walk corpus prep (p85)
    // The DeepWalk/node2vec sentence-generation step (Perozzi et al.
    // 2014) over the p60 mutual-kNN graph: one walk per node, WalkLen
    // steps, each step choosing the neighbor minimizing a seeded hash
    // h(walk, step, neighbor) — pseudo-random but engine-exact (no RNG
    // state; ids are modulus-reduced BEFORE multiplying, the p69
    // overflow discipline). Walk rows are the skip-gram training corpus
    // a graph-embedding pass consumes downstream.
    //
    // Scale shape: the walk frontier is one row per walk; each step is
    // one id-keyed equi join against the shared persisted edge list
    // plus a map-side-combined min — constant step count, never
    // all-pairs, no global sort until the output convention.
    Q("p85_graph_walks", {
      val m = GraphOps.WalkMod
      val stepCtes = (1 to WalkLen).map { i =>
        val prev = if (i == 1) "w0" else s"s${i - 1}"
        s"""s$i AS MATERIALIZED (
           |  SELECT walk_id, b AS cur FROM (
           |    SELECT w.walk_id, ed.b,
           |           row_number() OVER (PARTITION BY w.walk_id
           |             ORDER BY (w.walk_id % $m) * 1000003 + ${i * 31} + (ed.b % $m) * 7919,
           |                      ed.b) AS rk
           |    FROM $prev w JOIN ed ON ed.a = w.cur)
           |  WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to WalkLen).map(i =>
        s"UNION ALL SELECT walk_id, CAST($i AS BIGINT), cur FROM s$i").mkString("\n")
      s"""$MutualGraphCtes,
         |w0 AS (SELECT v AS walk_id, v AS cur FROM n),
         |$stepCtes
         |SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS v FROM w0
         |$unions
         |ORDER BY walk_id, step""".stripMargin
    }) { (s, dir) =>
      GraphOps.hashWalks(mutualEdges(s, dir), WalkLen)
        .orderBy(col("walk_id"), col("step"))
    },

    // -------------- graph: triangles + clustering coefficient (p86)
    // The neighborhood-density dial one level below p84's core flags:
    // triangles via the ordered wedge join (each a<b<c generated once
    // from wedge (a,b)+(b,c), closed by (a,c) with a semi join — the
    // classic distributed formulation, keyed throughout), per-node
    // incident-triangle counts from one role-union agg, and the local
    // clustering coefficient 2·tri/(deg·(deg−1)) as an exact ×10⁶
    // integer. Wedge volume is Σ deg², k²-bounded per node on the
    // mutual top-k graph — no skew hazard at any corpus size.
    Q("p86_graph_triangles", {
      s"""$MutualGraphCtes,
         |mut2 AS MATERIALIZED (SELECT a, b FROM ed WHERE a < b),
         |tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM mut2 e1 JOIN mut2 e2 ON e2.a = e1.b
         |  JOIN mut2 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tc AS (SELECT v, count(*) AS n_tri FROM (
         |         SELECT x AS v FROM tri
         |         UNION ALL SELECT y FROM tri
         |         UNION ALL SELECT z FROM tri) u
         |       GROUP BY v)
         |SELECT n.v AS vec_id, CAST(dg.deg AS BIGINT) AS deg,
         |       CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
         |       CAST(CASE WHEN dg.deg < 2 THEN 0
         |            ELSE (2 * coalesce(tc.n_tri, 0) * 1000000)
         |                 // (dg.deg * (dg.deg - 1)) END AS BIGINT) AS cc_q
         |FROM n JOIN dg ON dg.v = n.v LEFT JOIN tc ON tc.v = n.v
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      GraphOps.triangles(mutualEdges(s, dir))
        .select(col("v").as("vec_id"), col("deg"), col("n_tri"), col("cc_q"))
        .orderBy(col("vec_id"))
    },

    // -------------------- text: vocabulary growth / Heaps' law (p87)
    // The tokenizer-budget planning curve: per source, vocabulary size
    // and token mass at four doc-id checkpoints (quarters of the global
    // id range). Sub-linear vocabulary growth (Heaps' law) is the
    // assumption behind every vocabulary-bounded claim in this library
    // (p78's merge chain, p88's lift table) — this op MEASURES it.
    // Scale shape: ONE explode into a (source, word) first-occurrence
    // agg (map-side combined, vocabulary-bounded out), one conditional
    // doc-level agg, a broadcast scalar for the checkpoints — no
    // corpus-sized join, no window over corpus rows; checkpoints are
    // id-VALUE thresholds, not ranks, precisely so no global sort or
    // per-source ordering is ever needed.
    Q("p87_txt_vocab_growth", {
      val quarters = (1 to 4).map(q =>
        s"""SELECT source, CAST($q AS BIGINT) AS quarter,
           |       CAST(d$q AS BIGINT) AS n_docs,
           |       CAST(coalesce(n$q, 0) AS BIGINT) AS n_tokens,
           |       CAST(v$q AS BIGINT) AS vocab FROM j""".stripMargin)
        .mkString("\nUNION ALL\n")
      val fvCols = (1 to 4)
        .map(q => s"count(*) FILTER (WHERE fd <= t$q) AS v$q").mkString(", ")
      val ddCols = (1 to 4).map(q =>
        s"count(*) FILTER (WHERE doc_id <= t$q) AS d$q, " +
          s"sum(len(string_split(text, ' '))) FILTER (WHERE doc_id <= t$q) AS n$q")
        .mkString(", ")
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |thr AS (SELECT (m * 1) // 4 AS t1, (m * 2) // 4 AS t2,
         |               (m * 3) // 4 AS t3, (m * 4) // 4 AS t4 FROM mx),
         |w AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents),
         |fw AS (SELECT source, word, min(doc_id) AS fd FROM w GROUP BY source, word),
         |fv AS (SELECT source, $fvCols FROM fw CROSS JOIN thr GROUP BY source),
         |dd AS (SELECT source, $ddCols FROM documents CROSS JOIN thr GROUP BY source),
         |j AS (SELECT * FROM dd JOIN fv USING (source))
         |$quarters
         |ORDER BY source, quarter""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("m"))
      def thr(q: Int) = expr(s"(m * $q) div 4")
      val fw = docs
        .select(col("source"), col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("source"), col("word")).agg(min(col("doc_id")).as("fd"))
      val fvAggs = (1 to 4).map(q => count(when(col("fd") <= thr(q), 1)).as(s"v$q"))
      val fv = fw.crossJoin(broadcast(mx)).groupBy(col("source"))
        .agg(fvAggs.head, fvAggs.tail: _*)
      val ddAggs = (1 to 4).flatMap(q => Seq(
        count(when(col("doc_id") <= thr(q), 1)).as(s"d$q"),
        coalesce(sum(when(col("doc_id") <= thr(q), col("nt"))), lit(0L)).as(s"n$q")))
      val dd = docs
        .select(col("source"), col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"))
        .crossJoin(broadcast(mx)).groupBy(col("source"))
        .agg(ddAggs.head, ddAggs.tail: _*)
      dd.join(fv, "source")
        .select(col("source"), explode(array((1 to 4).map(q => struct(
          lit(q.toLong).as("quarter"), col(s"d$q").as("n_docs"),
          col(s"n$q").as("n_tokens"), col(s"v$q").as("vocab"))): _*)).as("r"))
        .select(col("source"), col("r.quarter").as("quarter"),
          col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"),
          col("r.vocab").as("vocab"))
        .orderBy(col("source"), col("quarter"))
    },

    // ----------------------- text: source-distinctive words via lift (p88)
    // The "what is this source made of" table a mix designer reads:
    // per source, the top-LiftTopK words by frequency LIFT (in-source
    // share over corpus share), all-integer staged ppm arithmetic so
    // neither engine ever divides floats. Scale shape: one explode into
    // the (source, word) count agg; everything after is
    // vocabulary-bounded (word totals, source totals, the per-source
    // top-k window over candidates already gated by LiftMinCount) —
    // the p78 sub-linear-vocabulary argument, measured by p87.
    Q("p88_txt_word_lift", {
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |sw AS (SELECT source, word, count(*) AS c_sw FROM w GROUP BY source, word),
         |wt AS (SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY word),
         |st AS (SELECT source, sum(c_sw) AS t_s FROM sw GROUP BY source),
         |tt AS (SELECT sum(c_sw) AS tot FROM sw),
         |li AS (SELECT sw.source, sw.word, c_sw,
         |              ((c_sw * 1000000) // c_w * 1000000)
         |                // greatest((t_s * 1000000) // tot, 1) AS lift_q
         |       FROM sw JOIN wt USING (word) JOIN st USING (source) CROSS JOIN tt
         |       WHERE c_sw >= $LiftMinCount),
         |rk AS (SELECT source, word, c_sw, lift_q,
         |              row_number() OVER (PARTITION BY source
         |                                 ORDER BY lift_q DESC, word) AS rk
         |       FROM li)
         |SELECT source, CAST(rk AS BIGINT) AS rk, word,
         |       CAST(c_sw AS BIGINT) AS c_sw, CAST(lift_q AS BIGINT) AS lift_q
         |FROM rk WHERE rk <= $LiftTopK ORDER BY source, rk""".stripMargin
    }) { (s, dir) =>
      val sw = sourceWordCounts(s, dir).withColumnRenamed("c", "c_sw")
      val wt = sw.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
      val st = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
      val tt = st.agg(sum(col("t_s")).as("tot"))
      val li = sw.filter(col("c_sw") >= LiftMinCount)
        .join(wt, "word")
        .join(broadcast(st), "source")
        .crossJoin(broadcast(tt))
        .withColumn("lift_q", expr(
          "((c_sw * 1000000) div c_w * 1000000) div greatest((t_s * 1000000) div tot, 1)"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("lift_q").desc, col("word"))
      li.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= LiftTopK)
        .select(col("source"), col("rk"), col("word"), col("c_sw"), col("lift_q"))
        .orderBy(col("source"), col("rk"))
    },

    // -------------------- dedup: threshold-yield sensitivity sweep (p89)
    // "What would a different cutoff cost?" — pair and document yield
    // at six Jaccard thresholds, measured over the SAME deterministic
    // sampled pair population as p69 (the shared calibPairs memo: one
    // band join serves both audits, and the two tables can never
    // disagree about which pairs exist). Like p69, the counts are
    // sampled estimates — ~1/(CalibDocMod²·CalibSampleMod) of an
    // exhaustive sweep — which IS the 100 TB design for a 6-row dial
    // report. The threshold probe is a 6-row broadcast nested-loop
    // join: bounded-build-side BNLJ, the p53 discipline.
    Q("p89_dd_threshold_sweep", {
      val thrList = SweepThresholds.mkString("[", ", ", "]")
      s"""$CalibPairsCte,
         |th AS (SELECT CAST(unnest($thrList) AS BIGINT) AS thr_q),
         |ag AS (SELECT thr_q, count(*) AS n_pairs
         |       FROM th JOIN pe ON jacc_q >= thr_q GROUP BY thr_q),
         |dc AS (SELECT thr_q, count(DISTINCT d) AS n_docs
         |       FROM (SELECT thr_q, id_a AS d FROM th JOIN pe ON jacc_q >= thr_q
         |             UNION ALL
         |             SELECT thr_q, id_b FROM th JOIN pe ON jacc_q >= thr_q)
         |       GROUP BY thr_q)
         |SELECT th.thr_q, CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
         |FROM th LEFT JOIN ag USING (thr_q) LEFT JOIN dc USING (thr_q)
         |ORDER BY thr_q""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val th = SweepThresholds.toDF("thr_q")
      val j = calibPairs(s, dir).join(broadcast(th), col("jacc_q") >= col("thr_q"))
      val ag = j.groupBy(col("thr_q")).agg(count(lit(1)).as("n_pairs"))
      val dc = j.select(col("thr_q"), col("id_a").as("d"))
        .union(j.select(col("thr_q"), col("id_b").as("d")))
        .groupBy(col("thr_q")).agg(countDistinct(col("d")).as("n_docs"))
      th.join(ag, Seq("thr_q"), "left").join(dc, Seq("thr_q"), "left")
        .select(col("thr_q"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("thr_q"))
    },

    // ------------------------------ splits: balance audit table (p90)
    // The check a pipeline owner runs after p29's hash split: per
    // (split, source) cell, doc and char mass plus the ppm deviation of
    // the cell's in-split share from the source's corpus share — a
    // hash split is unbiased, and this table is the evidence (or the
    // alarm). Scale shape: one scan into a split×source agg (15 cells);
    // every join after is model-sized.
    Q("p90_split_balance", {
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-split-7'")
      s"""WITH b AS (SELECT source, n_chars,
         |                  CASE WHEN bucket < 98 THEN 'train'
         |                       WHEN bucket < 99 THEN 'val'
         |                       ELSE 'test' END AS split
         |           FROM (SELECT source, n_chars, $h % 100 AS bucket FROM documents)),
         |g AS (SELECT split, source, count(*) AS n_docs, sum(n_chars) AS sum_chars
         |      FROM b GROUP BY split, source),
         |st AS (SELECT split, sum(n_docs) AS split_total FROM g GROUP BY split),
         |so AS (SELECT source, sum(n_docs) AS src_total FROM g GROUP BY source),
         |tt AS (SELECT sum(n_docs) AS total FROM g)
         |SELECT split, source, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(sum_chars AS BIGINT) AS sum_chars,
         |       CAST(abs((n_docs * 1000000) // split_total
         |                - (src_total * 1000000) // total) AS BIGINT) AS dev_ppm
         |FROM g JOIN st USING (split) JOIN so USING (source) CROSS JOIN tt
         |ORDER BY split, source""".stripMargin
    }) { (s, dir) =>
      val bucket = pmod(
        TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-split-7"))),
        lit(100L))
      val g = t(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          when(bucket < 98, "train").when(bucket < 99, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val st = g.groupBy(col("split")).agg(sum(col("n_docs")).as("split_total"))
      val so = g.groupBy(col("source")).agg(sum(col("n_docs")).as("src_total"))
      val tt = so.agg(sum(col("src_total")).as("total"))
      g.join(broadcast(st), "split").join(broadcast(so), "source")
        .crossJoin(broadcast(tt))
        .select(col("split"), col("source"), col("n_docs"), col("sum_chars"),
          abs(expr("(n_docs * 1000000) div split_total")
            - expr("(src_total * 1000000) div total")).as("dev_ppm"))
        .orderBy(col("split"), col("source"))
    },

    // --------------- embeddings: per-label centroid shift audit (p91)
    // Encoder drift surveillance: quantize every embedding with p70's
    // int8 round/clamp (one global max-|x| scale), build per-label and
    // global ×10³ integer centroids, and report each label's SIGNED
    // squared cosine to the global centroid as an exact ×10⁶ integer
    // (dot·|dot|·10⁶ // (‖l‖²·‖g‖²) — the square sidesteps the integer
    // sqrt no engine shares, the sign keeps direction). Scale shape:
    // ONE corpus explode into a (label, dim) sum agg (map-side combined
    // to labels×64 cells; the global side derives from the SAME agg,
    // not a second pass), then model-sized joins; the big-integer
    // division rides decimal(38)/HUGEINT — both engines truncate
    // toward zero (p70's probed contract).
    Q("p91_embed_centroid_shift", {
      val absMax = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b))"
      s"""WITH g AS (SELECT greatest(max($absMax), 1e-12) / 127.0 AS scale
         |           FROM embeddings),
         |q AS (SELECT label, list_transform(embedding,
         |        x -> CAST(least(greatest(round(CAST(x AS DOUBLE) / scale, 0),
         |                                 -127.0), 127.0) AS BIGINT)) AS qv
         |      FROM embeddings CROSS JOIN g),
         |e AS (SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS dim FROM q),
         |ls AS (SELECT label, dim, sum(v) AS sv, count(*) AS cnt
         |       FROM e GROUP BY label, dim),
         |ln AS (SELECT label, cnt AS n FROM ls WHERE dim = 1),
         |lc AS (SELECT label, dim, (sv * 1000) // n AS c FROM ls JOIN ln USING (label)),
         |gs AS (SELECT dim, sum(sv) AS sv FROM ls GROUP BY dim),
         |gn AS (SELECT sum(n) AS n FROM ln),
         |gc AS (SELECT dim, (sv * 1000) // n AS c FROM gs CROSS JOIN gn),
         |dt AS (SELECT label, sum(l.c * g2.c) AS dot, sum(l.c * l.c) AS nl
         |       FROM lc l JOIN gc g2 USING (dim) GROUP BY label),
         |ng AS (SELECT sum(c * c) AS ng FROM gc)
         |SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n_vecs,
         |       CAST(dot AS BIGINT) AS dot_q,
         |       CAST((CAST(dot AS HUGEINT) * abs(CAST(dot AS HUGEINT)) * 1000000)
         |            // greatest(CAST(nl AS HUGEINT) * ng, 1) AS BIGINT) AS cos2_q
         |FROM dt JOIN ln USING (label) CROSS JOIN ng ORDER BY label""".stripMargin
    }) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val g = emb.agg((greatest(
        max(aggregate(col("embedding"), lit(0.0),
          (a, x) => greatest(a, abs(x.cast("double"))))), lit(1e-12)) / 127.0).as("scale"))
      val ls = emb.crossJoin(broadcast(g))
        .select(col("label"), posexplode(expr(
          """transform(embedding,
            |  x -> CAST(least(greatest(round(CAST(x AS DOUBLE) / scale), -127.0D),
            |                  127.0D) AS BIGINT))""".stripMargin)).as(Seq("dim0", "v")))
        .groupBy(col("label"), (col("dim0") + 1).as("dim"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      // every downstream table is model-sized (labels×64); persist the
      // one corpus-pass product and release after the query's action
      val lsCp = graft.ops.Release.afterFirstUse(ls)
      val ln = lsCp.filter(col("dim") === 1).select(col("label"), col("cnt").as("n"))
      val lc = lsCp.join(broadcast(ln), "label")
        .select(col("label"), col("dim"), expr("(sv * 1000) div n").as("c"))
      val gs = lsCp.groupBy(col("dim")).agg(sum(col("sv")).as("sv"))
      val gn = ln.agg(sum(col("n")).as("n"))
      val gc = gs.crossJoin(broadcast(gn))
        .select(col("dim"), expr("(sv * 1000) div n").as("c"))
      val dt = lc.join(broadcast(gc.withColumnRenamed("c", "gcv")), "dim")
        .groupBy(col("label"))
        .agg(sum(col("c") * col("gcv")).as("dot"), sum(col("c") * col("c")).as("nl"))
      val ng = gc.agg(sum(col("c") * col("c")).as("ng"))
      dt.join(broadcast(ln), "label").crossJoin(broadcast(ng))
        .select(col("label").cast("long").as("label"), col("n").as("n_vecs"),
          col("dot").as("dot_q"),
          expr("""cast((cast(dot as decimal(38,0)) * abs(cast(dot as decimal(38,0)))
                 |      * cast(1000000 as decimal(38,0)))
                 |     div greatest(cast(nl as decimal(38,0)) * cast(ng as decimal(38,0)),
                 |                  cast(1 as decimal(38,0))) as bigint)""".stripMargin)
            .as("cos2_q"))
        .orderBy(col("label"))
    },

    // ------------------ text: quality-ordered token budget curve (p92)
    // The curriculum/threshold dial: bucket documents by quantized
    // stopword density (the p02-family naturalness proxy), then report
    // the CUMULATIVE doc and token mass from the most-natural bucket
    // down — the table that answers "what density cutoff buys an
    // N-token corpus". Scale shape: one scan into a ≤11-bucket agg;
    // the cumulative window runs over those ≤11 rows, never the corpus.
    Q("p92_token_budget_curve", {
      val toks = "string_split(text, ' ')"
      val stop = countInSql(toks, Stopwords)
      s"""WITH m AS (SELECT len($toks) AS n_words, $stop AS n_stop FROM documents),
         |b AS (SELECT ((n_stop * 1000000) // n_words) // 100000 AS bucket,
         |             count(*) AS n_docs, sum(n_words) AS n_tokens
         |      FROM m GROUP BY bucket),
         |c AS (SELECT bucket, n_docs, n_tokens,
         |             sum(n_docs) OVER (ORDER BY bucket DESC) AS cum_docs,
         |             sum(n_tokens) OVER (ORDER BY bucket DESC) AS cum_tokens,
         |             sum(n_tokens) OVER () AS tot
         |      FROM b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(cum_docs AS BIGINT) AS cum_docs,
         |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |       CAST((cum_tokens * 1000000) // tot AS BIGINT) AS cum_share_ppm
         |FROM c ORDER BY bucket DESC""".stripMargin
    }) { (s, dir) =>
      val toksC = tokens(col("text"))
      val b = t(s, dir, "documents")
        .select(size(toksC).cast("long").as("n_words"),
          countIn(toksC, Stopwords).cast("long").as("n_stop"))
        .withColumn("bucket", expr("((n_stop * 1000000) div n_words) div 100000"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").desc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      b.withColumn("cum_docs", sum(col("n_docs")).over(wCum))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
        .withColumn("tot", sum(col("n_tokens")).over(wAll))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          col("cum_docs"), col("cum_tokens"),
          expr("(cum_tokens * 1000000) div tot").as("cum_share_ppm"))
        .orderBy(col("bucket").desc)
    },

    // ------------- quality: robust length outliers via median/MAD (p93)
    // The QC gate a scrape pipeline runs per source: exact median and
    // median-absolute-deviation of n_chars from the BOUNDED
    // (source, n_chars) histogram (rank = (n+1)//2 lower median — the
    // formula itself is the contract, both engines replay it rather
    // than calling an engine median), and the count of docs beyond
    // median ± MadOutlierK·MAD. Scale shape: the corpus collapses
    // map-side into the histogram (distinct lengths × sources cells);
    // the cumulative windows run over histogram rows, never corpus
    // rows — exact order statistics with no global sort.
    Q("p93_len_mad_outliers", {
      s"""WITH $MedianMadCtes
         |SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(med AS BIGINT) AS median_chars,
         |       CAST(mad AS BIGINT) AS mad, CAST(n_out AS BIGINT) AS n_outliers,
         |       CAST((n_out * 1000000) // n AS BIGINT) AS outlier_ppm
         |FROM n JOIN med USING (source) JOIN mad USING (source) JOIN outl USING (source)
         |ORDER BY source""".stripMargin
    }) { (s, dir) =>
      graft.ops.StatsOps.groupedMedianMadOutliers(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars", MadOutlierK)
        .select(col("source"), col("n").as("n_docs"), col("med").as("median_chars"),
          col("mad"), col("n_out").as("n_outliers"),
          expr("(n_out * 1000000) div n").as("outlier_ppm"))
        .orderBy(col("source"))
    },

    // ----------------------- text: hapax tail and head coverage (p94)
    // The two ends of the Zipf curve a tokenizer designer reads: per
    // source, the hapax-legomena share of the vocabulary (the tail that
    // a vocab can never amortize) and the token share covered by the
    // HeadK most frequent words (what a tiny vocab already buys).
    // Scale shape: one explode into the (source, word) agg; everything
    // downstream — per-source rollup, the head-k window — is
    // vocabulary-bounded.
    Q("p94_txt_hapax_tail", {
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |wc AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
         |ag AS (SELECT source, count(*) AS vocab,
         |              sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
         |              sum(c) AS n_tokens
         |       FROM wc GROUP BY source),
         |rk AS (SELECT source, word, c,
         |              row_number() OVER (PARTITION BY source
         |                                 ORDER BY c DESC, word) AS rk
         |       FROM wc),
         |hd AS (SELECT source, sum(c) AS head_tokens FROM rk
         |       WHERE rk <= $HeadK GROUP BY source)
         |SELECT source, CAST(vocab AS BIGINT) AS vocab, CAST(hapax AS BIGINT) AS hapax,
         |       CAST((hapax * 1000000) // vocab AS BIGINT) AS hapax_ppm,
         |       CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST((head_tokens * 1000000) // n_tokens AS BIGINT) AS head_ppm
         |FROM ag JOIN hd USING (source) ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val wcCp = sourceWordCounts(s, dir)
      val ag = wcCp.groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(col("c")).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("word"))
      val hd = wcCp.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= HeadK)
        .groupBy(col("source")).agg(sum(col("c")).as("head_tokens"))
      ag.join(hd, "source")
        .select(col("source"), col("vocab"), col("hapax"),
          expr("(hapax * 1000000) div vocab").as("hapax_ppm"),
          col("n_tokens"),
          expr("(head_tokens * 1000000) div n_tokens").as("head_ppm"))
        .orderBy(col("source"))
    },

    // ------------------- dedup: SimHash hamming calibration audit (p95)
    // p69's discipline pointed at the OTHER near-dup sketch: over the
    // sampled 4-band SimHash candidate pairs, the exact token-set
    // Jaccard per hamming distance — the table that justifies (or
    // indicts) p18's hamming ≤ 3 cutoff. Same two-level deterministic
    // sampling (seeded doc gate in the scan stage shrinking the band
    // join quadratically, integer pair hash before the distinct), same
    // all-integer arithmetic, ≤ 65 rows out however large the corpus.
    Q("p95_dd_simhash_calibration", {
      val th = TextOps.tokenHashesSql("text")
      val sim = DedupOps.simHashSql("hs")
      val bandsSql = DedupOps.SimHashBandSplit.map { case (off, w) =>
        s"(sim >> $off) & ${(1L << w) - 1}"
      }.mkString("[", ", ", "]")
      val docSample = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-simcal-13'")
      s"""WITH sh AS (
         |  SELECT doc_id, hs, sim, $bandsSql AS bands
         |  FROM (SELECT doc_id, hs, $sim AS sim
         |        FROM (SELECT doc_id, $th AS hs FROM documents
         |              WHERE $docSample % $SimCalDocMod = 0))),
         |sx AS (${DedupOps.saltedBandsSql("sh", "doc_id", 4)}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sx a JOIN sx b
         |    ON a.key = b.key AND a.band = b.band AND a.salt = b.salt
         |   AND a.doc_id < b.doc_id
         |   AND (((a.doc_id % 1000000007) * 1000003
         |         + (b.doc_id % 1000000007) * 31 + 7) % 1000000007)
         |         % $SimCalSampleMod = 3),
         |pe AS (
         |  SELECT bit_count(xor(a.sim, b.sim)) AS hamming,
         |         (len(list_intersect(a.hs, b.hs)) * 1000000)
         |           // greatest(len(a.hs) + len(b.hs)
         |                      - len(list_intersect(a.hs, b.hs)), 1) AS jacc_q
         |  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
         |SELECT CAST(hamming AS BIGINT) AS hamming,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(jacc_q) // count(*) AS BIGINT) AS mean_jacc_q
         |FROM pe GROUP BY hamming ORDER BY hamming""".stripMargin
    }) { (s, dir) =>
      val sh = graft.ops.Release.afterFirstUse(
        t(s, dir, "documents")
          .filter(pmod(
            TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-simcal-13"))),
            lit(SimCalDocMod.toLong)) === 0)
          .select(col("doc_id"), TextOps.tokenHashes(col("text")).as("hs"))
          .withColumn("sim", DedupOps.simHash(col("hs")))
          .withColumn("bands", array(DedupOps.SimHashBandSplit.map { case (off, w) =>
            shiftright(col("sim"), off).bitwiseAND(lit((1L << w) - 1))
          }: _*)))
      val exploded = DedupOps.saltedBands(sh, "doc_id")
      val cand = exploded.as("x")
        .join(exploded.as("y"),
          col("x.key") === col("y.key") && col("x.band") === col("y.band")
            && col("x.salt") === col("y.salt") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .filter(expr(
          s"(((id_a % 1000000007) * 1000003 + (id_b % 1000000007) * 31 + 7)" +
            s" % 1000000007) % $SimCalSampleMod = 3"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("hs").as("ha"), col("sim").as("sma")),
          "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hb"), col("sim").as("smb")),
          "id_b")
        .withColumn("hamming", DedupOps.hamming(col("sma"), col("smb")).cast("long"))
        .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("uni",
          size(col("ha")).cast("long") + size(col("hb")).cast("long") - col("inter"))
        .withColumn("jacc_q", expr("(inter * 1000000) div greatest(uni, 1)"))
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("jacc_q")).as("sum_j"))
        .withColumn("mean_jacc_q", expr("sum_j div n_pairs"))
        .select(col("hamming"), col("n_pairs"), col("mean_jacc_q"))
        .orderBy(col("hamming"))
    },

    // ------------- quality: score reliability / calibration table (p96)
    // The companion to p73's AUC: does the trained quality score MEAN
    // anything at a given value? Final-epoch perceptron scores bucketed
    // into 21 max-|score|-normalized bins, each reporting its empirical
    // positive rate — the calibration diagram a threshold-picker reads
    // before trusting a cutoff. All-integer: scores are exact integer
    // dot products (the p55 weights), the bin edge is (score·10)//max.
    // Scale shape: weights are driver-collected model state (the p55
    // discipline), scoring is one scan with a broadcast weight row, the
    // max-|score| scalar is one agg, the table is ≤21 rows.
    Q("p96_quality_reliability", {
      s"""WITH $PerceptronCtes,
         |sc AS (SELECT w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3 AS score, y
         |       FROM f CROSS JOIN e$PerceptronEpochs),
         |mx AS (SELECT greatest(max(abs(score)), 1) AS mx FROM sc),
         |bk AS (SELECT (score * 10) // mx AS bucket, count(*) AS n_tot,
         |              count(*) FILTER (WHERE y = 1) AS n_pos
         |       FROM sc CROSS JOIN mx GROUP BY bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_tot AS BIGINT) AS n_tot,
         |       CAST(n_pos AS BIGINT) AS n_pos,
         |       CAST((n_pos * 1000000) // n_tot AS BIGINT) AS pos_ppm
         |FROM bk ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      val feats = perceptronFeats(s, dir)
      val wN = perceptronDf(s, dir)
        .filter(col("epoch") === PerceptronEpochs)
        .select(col("w0"), col("w1"), col("w2"), col("w3"))
      val sc = graft.ops.Release.afterFirstUse(
        feats.crossJoin(broadcast(wN)).select(
          (col("w0") * col("x0") + col("w1") * col("x1")
            + col("w2") * col("x2") + col("w3") * col("x3")).as("score"),
          col("y")))
      val mx = sc.agg(greatest(max(abs(col("score"))), lit(1L)).as("mx"))
      sc.crossJoin(broadcast(mx))
        .withColumn("bucket", expr("(score * 10) div mx"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_tot"),
          count(when(col("y") === 1L, 1)).as("n_pos"))
        .select(col("bucket"), col("n_tot"), col("n_pos"),
          expr("(n_pos * 1000000) div n_tot").as("pos_ppm"))
        .orderBy(col("bucket"))
    },

    // ------------- dedup: cross-source near-dup contamination matrix (p97)
    // "Which sources duplicate which?" — the ≥0.9 near-dup pair memo
    // (the SAME population p06/p15/p51/p75 act on) rolled up by
    // unordered source pair, with each cell's share of all near-dup
    // mass and a cross-source flag. The table that decides whether a
    // new crawl needs cross-corpus dedup at all. Scale shape: the pair
    // table joins the slim (doc_id, source) projection twice (keyed,
    // pair-table-sized), then collapses to ≤ sources² rows; the LSH
    // chain cost is the shared memo's, paid once per session.
    Q("p97_dd_source_matrix", {
      s"""$NearDupPairsCte,
         |m AS (SELECT least(da.source, db.source) AS src_a,
         |             greatest(da.source, db.source) AS src_b,
         |             count(*) AS n_pairs
         |      FROM prs JOIN documents da ON da.doc_id = id_a
         |               JOIN documents db ON db.doc_id = id_b
         |      GROUP BY 1, 2),
         |tot AS (SELECT sum(n_pairs) AS tot FROM m)
         |SELECT src_a, src_b, CAST(n_pairs AS BIGINT) AS n_pairs,
         |       CAST((n_pairs * 1000000) // tot AS BIGINT) AS share_ppm,
         |       src_a <> src_b AS is_cross
         |FROM m CROSS JOIN tot ORDER BY src_a, src_b""".stripMargin
    }) { (s, dir) =>
      val docsSrc = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val m = graft.ops.Release.afterFirstUse(
        nearDupPairs(s, dir)
          .join(docsSrc.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(docsSrc.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
          .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs")))
      val tot = m.agg(sum(col("n_pairs")).as("tot"))
      m.crossJoin(broadcast(tot))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          expr("(n_pairs * 1000000) div tot").as("share_ppm"),
          (col("src_a") =!= col("src_b")).as("is_cross"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // ------------------ splits: token-distribution drift audit (p98)
    // p90 checks the split's DOC balance; this checks its CONTENT
    // balance: the pairwise L1 distance between the three splits'
    // unigram distributions, as exact ×10⁶ integers via the p66
    // HUGEINT/decimal cross-multiplication (|c_a·t_b − c_b·t_a| summed
    // over the vocabulary, scaled once at the end — no inner division,
    // no float). A hash split drawn from one corpus should sit near the
    // sampling noise floor; a big L1 here means the split leaked
    // structure (e.g. id-correlated content). Scale shape: ONE explode
    // into a per-word conditional-count agg (vocabulary-bounded out),
    // then three global sums — the corpus is scanned once.
    Q("p98_split_token_drift", {
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-split-7'")
      def pair(nm: String, ta: String, tb: String) =
        s"""SELECT '$nm' AS pair, CAST($ta AS BIGINT) AS tot_a,
           |       CAST($tb AS BIGINT) AS tot_b,
           |       CAST((s_$nm * 1000000) // greatest(CAST($ta AS HUGEINT) * $tb, 1)
           |            AS BIGINT) AS l1_ppm
           |FROM l CROSS JOIN t""".stripMargin
      s"""WITH b AS (SELECT CASE WHEN bucket < 98 THEN 'train'
         |                       WHEN bucket < 99 THEN 'val'
         |                       ELSE 'test' END AS split,
         |                  string_split(text, ' ') AS toks
         |           FROM (SELECT text, $h % 100 AS bucket FROM documents)),
         |w AS (SELECT split, unnest(toks) AS word FROM b),
         |wc AS (SELECT word,
         |              count(*) FILTER (WHERE split = 'train') AS c_tr,
         |              count(*) FILTER (WHERE split = 'val') AS c_va,
         |              count(*) FILTER (WHERE split = 'test') AS c_te
         |       FROM w GROUP BY word),
         |t AS (SELECT sum(c_tr) AS t_tr, sum(c_va) AS t_va, sum(c_te) AS t_te
         |      FROM wc),
         |l AS (SELECT
         |        sum(abs(CAST(c_tr AS HUGEINT) * t_va - CAST(c_va AS HUGEINT) * t_tr))
         |          AS s_tv,
         |        sum(abs(CAST(c_tr AS HUGEINT) * t_te - CAST(c_te AS HUGEINT) * t_tr))
         |          AS s_tt,
         |        sum(abs(CAST(c_va AS HUGEINT) * t_te - CAST(c_te AS HUGEINT) * t_va))
         |          AS s_vt
         |      FROM wc CROSS JOIN t)
         |${pair("tv", "t_tr", "t_va")}
         |UNION ALL
         |${pair("tt", "t_tr", "t_te")}
         |UNION ALL
         |${pair("vt", "t_va", "t_te")}
         |ORDER BY pair""".stripMargin
    }) { (s, dir) =>
      val bucket = pmod(
        TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-split-7"))),
        lit(100L))
      val wc = t(s, dir, "documents")
        .select(when(bucket < 98, "train").when(bucket < 99, "val")
          .otherwise("test").as("split"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(
          count(when(col("split") === "train", 1)).as("c_tr"),
          count(when(col("split") === "val", 1)).as("c_va"),
          count(when(col("split") === "test", 1)).as("c_te"))
      val wcCp = graft.ops.Release.afterFirstUse(wc)
      val tt = wcCp.agg(sum(col("c_tr")).as("t_tr"), sum(col("c_va")).as("t_va"),
        sum(col("c_te")).as("t_te"))
      val l = wcCp.crossJoin(broadcast(tt)).agg(
        sum(abs(expr("CAST(c_tr AS DECIMAL(38,0)) * t_va - CAST(c_va AS DECIMAL(38,0)) * t_tr"))).as("s_tv"),
        sum(abs(expr("CAST(c_tr AS DECIMAL(38,0)) * t_te - CAST(c_te AS DECIMAL(38,0)) * t_tr"))).as("s_tt"),
        sum(abs(expr("CAST(c_va AS DECIMAL(38,0)) * t_te - CAST(c_te AS DECIMAL(38,0)) * t_va"))).as("s_vt"))
      val j = l.crossJoin(broadcast(tt))
      def row(nm: String, sCol: String, ta: String, tb: String) =
        j.select(lit(nm).as("pair"), col(ta).as("tot_a"), col(tb).as("tot_b"),
          expr(s"""cast(($sCol * cast(1000000 as decimal(38,0)))
                  |     div greatest(cast($ta as decimal(38,0)) * cast($tb as decimal(38,0)),
                  |                  cast(1 as decimal(38,0))) as bigint)""".stripMargin)
            .as("l1_ppm"))
      row("tv", "s_tv", "t_tr", "t_va")
        .union(row("tt", "s_tt", "t_tr", "t_te"))
        .union(row("vt", "s_vt", "t_va", "t_te"))
        .orderBy(col("pair"))
    },

    // --------------- dedup: duplicate-rate trend over ingest order (p99)
    // The crawler-loop detector: exact-hash duplicate share per
    // sixteenth of the doc-id range (ingestion order). A healthy crawl
    // has a slowly rising dup rate as the frontier saturates; a spike
    // in late buckets means the crawler is revisiting. Exact semantics:
    // a doc is a duplicate iff an EARLIER doc_id carries the same text
    // hash — bucket-exactly accounted by comparing each (fp, bucket)
    // cell's min id against the fp's global first id. Scale shape: ONE
    // (fp, bucket) corpus agg with map-side combine (the p04 exact-
    // dedup shuffle), then fp-bounded joins; never a corpus self-join.
    Q("p99_dup_rate_trend", {
      val fp = TextOps.polyHashSql("text")
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |d AS (SELECT doc_id, $fp AS fp,
         |             least((doc_id * 16) // (m + 1), 15) AS bucket
         |      FROM documents CROSS JOIN mx),
         |g AS (SELECT fp, bucket, count(*) AS c, min(doc_id) AS bmin
         |      FROM d GROUP BY fp, bucket),
         |f AS (SELECT fp, min(bmin) AS first FROM g GROUP BY fp),
         |pb AS (SELECT bucket, sum(c) AS n_docs,
         |              sum(c - CASE WHEN bmin = first THEN 1 ELSE 0 END) AS n_dups
         |       FROM g JOIN f USING (fp) GROUP BY bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_dups AS BIGINT) AS n_dups,
         |       CAST((n_dups * 1000000) // n_docs AS BIGINT) AS dup_ppm
         |FROM pb ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("m"))
      val g = docs.crossJoin(broadcast(mx))
        .select(col("doc_id"), TextOps.polyHash(col("text")).as("fp"),
          least(expr("(doc_id * 16) div (m + 1)"), lit(15L)).as("bucket"))
        .groupBy(col("fp"), col("bucket"))
        .agg(count(lit(1)).as("c"), min(col("doc_id")).as("bmin"))
      val gCp = graft.ops.Release.afterFirstUse(g)
      val f = gCp.groupBy(col("fp")).agg(min(col("bmin")).as("first"))
      gCp.join(f, "fp")
        .groupBy(col("bucket"))
        .agg(sum(col("c")).as("n_docs"),
          sum(col("c") - when(col("bmin") === col("first"), 1L).otherwise(0L)).as("n_dups"))
        .select(col("bucket"), col("n_docs"), col("n_dups"),
          expr("(n_dups * 1000000) div n_docs").as("dup_ppm"))
        .orderBy(col("bucket"))
    },

    // -------------------- pipeline: per-source corpus health report (p100)
    // The one-row-per-source dashboard a data owner reads weekly,
    // composing the registered audit signals from THEIR OWN formulas
    // (the p76 discipline — p93's median/MAD chain is the literal
    // shared MedianMadCtes / StatsOps helper, the dup rate is p99's
    // first-occurrence rule rolled up by source, the vocabulary tail is
    // p94's hapax rule): doc/char mass, robust length location and
    // outlier share, exact-duplicate share, vocabulary size and hapax
    // share. Scale shape: three independent one-scan aggregations
    // (length histogram, text-fingerprint agg, word counts) joined on
    // the sources-sized key — the report costs no more than its most
    // expensive standalone audit.
    Q("p100_corpus_health", {
      val fp = TextOps.polyHashSql("text")
      s"""WITH $MedianMadCtes,
         |sc AS (SELECT source, sum(n_chars) AS sum_chars
         |       FROM documents GROUP BY source),
         |d AS (SELECT source, doc_id, $fp AS fp FROM documents),
         |ff AS (SELECT fp, min(doc_id) AS first FROM d GROUP BY fp),
         |dup AS (SELECT source,
         |               coalesce(count(*) FILTER (WHERE doc_id > first), 0) AS n_dup
         |        FROM d JOIN ff USING (fp) GROUP BY source),
         |w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |      FROM documents),
         |wc AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
         |vg AS (SELECT source, count(*) AS vocab,
         |              sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax
         |       FROM wc GROUP BY source)
         |SELECT n.source, CAST(n AS BIGINT) AS n_docs,
         |       CAST(sum_chars AS BIGINT) AS sum_chars,
         |       CAST(med AS BIGINT) AS median_chars, CAST(mad AS BIGINT) AS mad,
         |       CAST((n_out * 1000000) // n AS BIGINT) AS outlier_ppm,
         |       CAST((n_dup * 1000000) // n AS BIGINT) AS dup_ppm,
         |       CAST(vocab AS BIGINT) AS vocab,
         |       CAST((hapax * 1000000) // vocab AS BIGINT) AS hapax_ppm
         |FROM n JOIN med USING (source) JOIN mad USING (source)
         | JOIN outl USING (source) JOIN sc USING (source)
         | JOIN dup USING (source) JOIN vg USING (source)
         |ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents") // r17 A/B: tw neutral-to-loss here; left
      // sum_chars rides the helper's histogram (its `sv` column) — no
      // separate corpus scan for it
      val mm = graft.ops.StatsOps.groupedMedianMadOutliers(
        docs.select(col("source"), col("n_chars")), "source", "n_chars", MadOutlierK)
      // dup leg in ONE pass: a min-over-fingerprint window replaces the
      // r13 shape (persist fp table → first-occurrence agg → join back)
      // — same shuffle count on the fp key, but no persist
      // materialization job, no join, and no InMemoryRelation, which is
      // what the in-sweep-vs-solo gap was made of (4.08 s vs 2.98 s:
      // driver job count, not data work). count(when(...)) is 0 for a
      // dup-free source, so every source still emits a row.
      val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val dup = docs
        .select(col("source"), col("doc_id"), TextOps.polyHash(col("text")).as("fp"))
        .withColumn("first", min(col("doc_id")).over(wFp))
        .groupBy(col("source"))
        .agg(count(when(col("doc_id") > col("first"), 1)).as("n_dup"))
      val vg = sourceWordCounts(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      mm.join(broadcast(dup), "source")
        .join(broadcast(vg), "source")
        .select(col("source"), col("n").as("n_docs"), col("sv").as("sum_chars"),
          col("med").as("median_chars"), col("mad"),
          expr("(n_out * 1000000) div n").as("outlier_ppm"),
          expr("(n_dup * 1000000) div n").as("dup_ppm"),
          col("vocab"),
          expr("(hapax * 1000000) div vocab").as("hapax_ppm"))
        .orderBy(col("source"))
    },

    // ------------------- curriculum: difficulty-staged corpus (p101)
    // Curriculum pretraining orders data easy→hard; this op assigns every
    // document a difficulty STAGE (per-source quartile of the lexical
    // difficulty score — p02's long-token ratio, quantized ×10⁶) and
    // reports each (source, stage) cell's mass and score bounds. The
    // quartile is computed HISTOGRAM-FIRST: the score is a bounded
    // integer, so stage boundaries come from a cumulative sum over the
    // (source, score) aggregate — never a corpus sort or a corpus-wide
    // window (the 100 TB shape: one grouped agg, then score-bounded
    // bookkeeping). Equal scores land in the same stage by construction
    // (boundary rule: b_k = min score with 4·cum ≥ k·N), so the staging
    // is deterministic on both engines with no tie order anywhere.
    Q("p101_curriculum_stages", {
      s"""WITH $CurriculumCtes
         |SELECT source, CAST(stage AS BIGINT) AS stage,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(min(score) AS BIGINT) AS min_score,
         |       CAST(max(score) AS BIGINT) AS max_score
         |FROM stg GROUP BY source, stage ORDER BY source, stage""".stripMargin
    }) { (s, dir) =>
      val toks = tokens(col("text"))
      val score = floor(
        size(filter(toks, tk => length(tk) >= 6)) * lit(1000000.0) / size(toks)
          + lit(0.5)).cast("long")
      val h = graft.ops.Release.afterFirstUse(
        t(s, dir, "documents")
          .select(col("source"), col("n_chars"), score.as("score"))
          .groupBy(col("source"), col("score"))
          .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("sc")))
      val n = h.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val cum = h.withColumn("cc",
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("score"))))
      val b = cum.join(broadcast(n), "source")
        .groupBy(col("source"))
        .agg(
          min(when(col("cc") * 4 >= col("n"), col("score"))).as("b1"),
          min(when(col("cc") * 4 >= col("n") * 2, col("score"))).as("b2"),
          min(when(col("cc") * 4 >= col("n") * 3, col("score"))).as("b3"))
      cum.join(broadcast(b), "source")
        .withColumn("stage",
          lit(1) + when(col("score") > col("b1"), 1).otherwise(0)
            + when(col("score") > col("b2"), 1).otherwise(0)
            + when(col("score") > col("b3"), 1).otherwise(0))
        .groupBy(col("source"), col("stage").cast("long").as("stage"))
        .agg(sum(col("c")).as("n_docs"), sum(col("sc")).as("sum_chars"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy(col("source"), col("stage"))
    },

    // ----------------- text: unigram concentration per source (p102)
    // Simpson repeat-rate — the probability two tokens drawn without
    // replacement from a source are the SAME word (Herfindahl-style
    // concentration; boilerplate-heavy sources spike it long before a
    // mean frequency moves) — plus the type-token ratio. Sums of c·(c−1)
    // reach ~T² ≈ 10¹³ at sf10 and the ×10⁹ quantization would overflow
    // int64, so the numerators ride HUGEINT/decimal cross-multiplication
    // (the p66/p98 discipline — integer end to end, no float boundary).
    // Scale shape: one corpus scan into the (source, word) agg
    // (vocabulary-bounded out, map-side combined), then a sources-sized
    // rollup — state never scales with the corpus.
    Q("p102_txt_simpson", {
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |wc AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
         |a AS (SELECT source, sum(c) AS t, count(*) AS v,
         |             sum(CAST(c AS HUGEINT) * (c - 1)) AS r
         |      FROM wc GROUP BY source)
         |SELECT source, CAST(t AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS n_types,
         |       CAST((v * 1000000) // t AS BIGINT) AS ttr_ppm,
         |       CAST((r * 1000000000)
         |            // greatest(CAST(t AS HUGEINT) * (t - 1), 1) AS BIGINT)
         |         AS simpson_ppb
         |FROM a ORDER BY source""".stripMargin
    }) { (s, dir) =>
      sourceWordCounts(s, dir)
        .groupBy(col("source"))
        .agg(sum(col("c")).as("t"), count(lit(1)).as("v"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("r"))
        .select(col("source"), col("t").as("n_tokens"), col("v").as("n_types"),
          expr("(v * 1000000) div t").as("ttr_ppm"),
          expr("""cast((r * cast(1000000000 as decimal(38,0)))
                 |     div greatest(cast(t as decimal(38,0)) * (t - 1),
                 |                  cast(1 as decimal(38,0))) as bigint)""".stripMargin)
            .as("simpson_ppb"))
        .orderBy(col("source"))
    },

    // ---------- similarity: matryoshka truncation recall curve (p103)
    // MRL-style embeddings are served truncated; this op measures what
    // truncation costs: for each probe query, top-5 cosine neighbors at
    // dims 8/16/32 versus the full 64-dim top-5, reported as per-(query,
    // dim) overlap counts (exact integers — recall@5 in ppm). ONE corpus
    // scan computes all four dims' cosines (the fused expression over
    // array slices — prefix sums share the pass), so adding a dim costs
    // arithmetic, not I/O. Scale shape: broadcast probe set × corpus
    // scan, then a window over the (probes × dims)-keyed score stream —
    // the p09 brute-force contract, never corpus × corpus.
    Q("p103_sim_dim_recall", {
      def cosAt(d: Int) =
        if (d == 64) cosineSql("q.embedding", "c.embedding")
        else cosineSql(s"q.embedding[1:$d]", s"c.embedding[1:$d]")
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |              ${cosAt(8)} AS cos8, ${cosAt(16)} AS cos16,
         |              ${cosAt(32)} AS cos32, ${cosAt(64)} AS cos64
         |       FROM q JOIN embeddings c ON q.vec_id <> c.vec_id),
         |x AS (SELECT query_id, neighbor_id, dim,
         |             CASE dim WHEN 8 THEN cos8 WHEN 16 THEN cos16
         |                      WHEN 32 THEN cos32 ELSE cos64 END AS cosd
         |      FROM sc CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim)),
         |r AS (SELECT query_id, dim, neighbor_id,
         |             row_number() OVER (PARTITION BY query_id, dim
         |                                ORDER BY cosd DESC, neighbor_id) AS rnk
         |      FROM x),
         |top AS (SELECT query_id, dim, neighbor_id FROM r WHERE rnk <= 5),
         |fl AS (SELECT query_id, neighbor_id FROM top WHERE dim = 64)
         |SELECT t.query_id, CAST(t.dim AS BIGINT) AS dim,
         |       CAST(count(fl.neighbor_id) AS BIGINT) AS n_overlap,
         |       CAST(count(fl.neighbor_id) * 200000 AS BIGINT) AS recall_ppm
         |FROM top t LEFT JOIN fl ON fl.query_id = t.query_id
         |                       AND fl.neighbor_id = t.neighbor_id
         |WHERE t.dim < 64
         |GROUP BY t.query_id, t.dim ORDER BY t.query_id, t.dim""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = broadcast(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
      val scored = q
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(slice(col("qe"), 1, 8), slice(col("ce"), 1, 8)).as("cos8"),
          cosine(slice(col("qe"), 1, 16), slice(col("ce"), 1, 16)).as("cos16"),
          cosine(slice(col("qe"), 1, 32), slice(col("ce"), 1, 32)).as("cos32"),
          cosine(col("qe"), col("ce")).as("cos64"))
        .selectExpr("query_id", "neighbor_id",
          "stack(4, 8L, cos8, 16L, cos16, 32L, cos32, 64L, cos64) AS (dim, cosd)")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("dim"))
        .orderBy(col("cosd").desc, col("neighbor_id"))
      val top = graft.ops.Release.afterFirstUse(
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("query_id"), col("dim"), col("neighbor_id")))
      val fl = top.filter(col("dim") === 64)
        .select(col("query_id").as("f_q"), col("neighbor_id").as("f_n"))
      top.filter(col("dim") < 64)
        .join(broadcast(fl),
          col("query_id") === col("f_q") && col("neighbor_id") === col("f_n"),
          "left")
        .groupBy(col("query_id"), col("dim"))
        .agg(count(col("f_n")).as("n_overlap"))
        .select(col("query_id"), col("dim"), col("n_overlap"),
          (col("n_overlap") * 200000L).as("recall_ppm"))
        .orderBy(col("query_id"), col("dim"))
    },

    // ------------------ text: Zipf rank-frequency checkpoints (p104)
    // The corpus-statistics sanity plot, in exact integers: per source,
    // the word frequency at exponentially spaced ranks (1, 2, 4, …,
    // 1024) plus the rank·freq product — flat zipf_mass across rows is
    // Zipf's law holding; a cliff betrays template spam or truncated
    // extraction. Rank ties break lexically, so both engines agree on
    // the checkpointed words. Scale shape: one corpus scan into the
    // (source, word) agg, then a window over the per-source VOCABULARY
    // (bounded), never the corpus.
    Q("p104_txt_zipf_ranks", {
      val ranks = ZipfRanks.mkString(", ")
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |wc AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
         |r AS (SELECT source, word, c,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY c DESC, word) AS rnk
         |      FROM wc)
         |SELECT source, CAST(rnk AS BIGINT) AS rank, word,
         |       CAST(c AS BIGINT) AS freq,
         |       CAST(rnk * c AS BIGINT) AS zipf_mass
         |FROM r WHERE rnk IN ($ranks) ORDER BY source, rank""".stripMargin
    }) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("word"))
      sourceWordCounts(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk").isin(ZipfRanks: _*))
        .select(col("source"), col("rnk").cast("long").as("rank"), col("word"),
          col("c").as("freq"), (col("rnk") * col("c")).cast("long").as("zipf_mass"))
        .orderBy(col("source"), col("rank"))
    },

    // -------------------- packing: streaming ingest-time packer (p105)
    // The batch packer (p31) decides bins after the corpus lands; this is
    // the same greedy recurrence running AT ingest — O(1) GroupState per
    // bucket (open-bin id + fill), each arriving document assigned the
    // moment it is seen, across ≥3 real micro-batch boundaries. The
    // oracle is p31's recursive CTE VERBATIM (one shared def), so the
    // streaming and batch packers are pinned to identical bin
    // assignments — the "pack on arrival, never repack" contract a
    // training-data ingest pipeline needs.
    Q("p105_pack_stream", PackGreedyOracle) { (s, dir) =>
      runDocStream(s, dir, "p105") { raw =>
        PackOps.streamingPack(
          raw.select(col("doc_id"), size(split(col("text"), " ")).as("n_tok")),
          "doc_id", "n_tok", buckets = PackBuckets, budget = PackBudget).toDF()
      }.orderBy(col("doc_id"))
    },

    // --------------- dedup: b-bit minhash calibration audit (p106)
    // Storage-optimal near-dup signatures (Li & König 2010): keep only
    // the LOWEST BIT of each minhash — 64 bits/doc instead of 64×64 —
    // and estimate Jaccard from bit agreement (E[agree] = (1+J)/2).
    // This audit measures what the 64× compression costs, per exact-
    // Jaccard decile: the 1-bit estimator's mean |error| and signed
    // bias next to p69's full-width columns, over the SAME shared
    // sampled calibration pair memo (the band join — the dominant
    // cost — runs once for p69/p89/p106 together). The table a dedup
    // owner reads before switching signature storage to b=1 at 100 TB.
    Q("p106_dd_bbit_minhash", {
      s"""$CalibPairsCte
         |SELECT jacc_q // 100000 AS decile,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(abs(bit1_q - jacc_q)) // count(*) AS BIGINT) AS mean_err_q,
         |       CAST(sum(bit1_q - jacc_q) // count(*) AS BIGINT) AS bias_q
         |FROM pe GROUP BY jacc_q // 100000 ORDER BY decile""".stripMargin
    }) { (s, dir) =>
      calibPairs(s, dir)
        .withColumn("decile", expr("jacc_q div 100000"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("bit1_q") - col("jacc_q"))).as("sum_err"),
          sum(col("bit1_q") - col("jacc_q")).as("sum_bias"))
        .select(col("decile"), col("n_pairs"),
          expr("sum_err div n_pairs").as("mean_err_q"),
          expr("sum_bias div n_pairs").as("bias_q"))
        .orderBy(col("decile"))
    },

    // ----------------- splits: naive-split leakage measurement (p107)
    // p51 PREVENTS near-dup leakage; this MEASURES it for the naive
    // per-doc split (p29's exact hash rule): every ≥0.9 near-dup pair
    // from the shared memo labeled with both sides' splits, rolled up
    // by unordered split pair — the train↔val/train↔test cells are the
    // leaked evaluation mass a group-unaware split ships. The number a
    // team needs to justify turning on group-aware splitting (and the
    // p97 source-matrix discipline applied to splits). Scale shape:
    // two slim keyed joins onto the memoized pair table, then a ≤9-row
    // rollup; the LSH chain cost is the memo's, paid once per session.
    Q("p107_split_leakage_rate", {
      val h = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-split-7'")
      s"""$NearDupPairsCte,
         |sp AS (SELECT doc_id,
         |              CASE WHEN $h % 100 < 98 THEN 'train'
         |                   WHEN $h % 100 < 99 THEN 'val'
         |                   ELSE 'test' END AS split
         |       FROM documents),
         |m AS (SELECT least(sa.split, sb.split) AS split_a,
         |             greatest(sa.split, sb.split) AS split_b,
         |             count(*) AS n_pairs
         |      FROM prs JOIN sp sa ON sa.doc_id = id_a
         |               JOIN sp sb ON sb.doc_id = id_b
         |      GROUP BY 1, 2),
         |tot AS (SELECT sum(n_pairs) AS tot FROM m)
         |SELECT split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
         |       CAST((n_pairs * 1000000) // tot AS BIGINT) AS share_ppm,
         |       split_a <> split_b AS is_leak
         |FROM m CROSS JOIN tot ORDER BY split_a, split_b""".stripMargin
    }) { (s, dir) =>
      val bucket = pmod(
        TextOps.polyHash(concat(col("doc_id").cast("string"), lit("#graft-split-7"))),
        lit(100L))
      val sp = t(s, dir, "documents")
        .select(col("doc_id"),
          when(bucket < 98, "train").when(bucket < 99, "val")
            .otherwise("test").as("split"))
      val m = graft.ops.Release.afterFirstUse(
        nearDupPairs(s, dir)
          .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
          .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
          .select(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .groupBy(col("split_a"), col("split_b")).agg(count(lit(1)).as("n_pairs")))
      val tot = m.agg(sum(col("n_pairs")).as("tot"))
      m.crossJoin(broadcast(tot))
        .select(col("split_a"), col("split_b"), col("n_pairs"),
          expr("(n_pairs * 1000000) div tot").as("share_ppm"),
          (col("split_a") =!= col("split_b")).as("is_leak"))
        .orderBy(col("split_a"), col("split_b"))
    },

    // ------------- mixing: streaming per-source token quota gate (p108)
    // The ingest-time mix enforcer: each source admits documents in
    // arrival order until its token budget fills, then rejects — the
    // decision made AT ingest with one long of state per source
    // (PackOps.streamingTokenQuota), across ≥3 real micro-batch
    // boundaries. The hard-cutoff rule (admit iff the source's running
    // total including the doc stays ≤ quota) depends only on the
    // per-source prefix sum, so the oracle restates it as a window
    // cumsum and the streaming verdicts must match it exactly. Output
    // is the per-source admission report (admitted docs/tokens,
    // rejections, first rejected id).
    Q("p108_mix_stream_quota", {
      s"""WITH d AS (SELECT doc_id, source,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |           FROM documents),
         |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |      FROM d),
         |f AS (SELECT doc_id, source, n_tok, cum <= $QuotaTokens AS admitted FROM c)
         |SELECT source,
         |       CAST(count(*) FILTER (WHERE admitted) AS BIGINT) AS n_admitted,
         |       CAST(coalesce(sum(n_tok) FILTER (WHERE admitted), 0) AS BIGINT)
         |         AS adm_tokens,
         |       CAST(count(*) FILTER (WHERE NOT admitted) AS BIGINT) AS n_rejected,
         |       CAST(coalesce(min(doc_id) FILTER (WHERE NOT admitted), -1) AS BIGINT)
         |         AS first_rejected
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val verdicts = runDocStream(s, dir, "p108") { raw =>
        PackOps.streamingTokenQuota(
          raw.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok")),
          "doc_id", "source", "n_tok", quota = QuotaTokens).toDF()
      }
      verdicts
        .groupBy(col("source"))
        .agg(
          count(when(col("admitted"), 1)).as("n_admitted"),
          coalesce(sum(when(col("admitted"), col("n_tok"))), lit(0L)).as("adm_tokens"),
          count(when(!col("admitted"), 1)).as("n_rejected"),
          coalesce(min(when(!col("admitted"), col("doc_id"))), lit(-1L)).as("first_rejected"))
        .orderBy(col("source"))
    },

    // ------------- similarity: IVF rank-agreement scorecard (p109)
    // p61 reports set recall; this scores ORDER: for each probe query,
    // the rank-weighted agreement between the IVF top-5 and the exact
    // top-5 — each neighbor both lists contain contributes (6 − its
    // exact rank), so losing the top hit costs 5× losing the fifth
    // (an integer discounted-gain; max 15) — plus the count of
    // position-exact matches. Both rankings come from the shared
    // IvfExactCtes chain (one owner with p61), so recall and rank
    // agreement can never disagree about which lists were compared.
    // Scale shape: the p14/p61 IVF contract — broadcast centroids,
    // cluster-keyed scans, never corpus × corpus.
    Q("p109_sim_rank_agree", {
      s"""WITH $IvfExactCtes,
         |m AS (SELECT e.query_id,
         |             sum(6 - e.rnk) AS wscore,
         |             count(CASE WHEN e.rnk = i.rnk THEN 1 END) AS n_pos
         |      FROM exact e JOIN ivf i USING (query_id, neighbor_id)
         |      GROUP BY e.query_id)
         |SELECT q.vec_id AS query_id,
         |       CAST(coalesce(wscore, 0) AS BIGINT) AS wscore,
         |       CAST(coalesce(n_pos, 0) AS BIGINT) AS n_pos,
         |       CAST(coalesce(wscore, 0) * 1000000 // 15 AS BIGINT) AS agree_ppm
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) q
         |LEFT JOIN m ON m.query_id = q.vec_id
         |ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val exact = bruteTopK(q, e, 5)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("rnk_e"))
      val ivf = SimilarityOps.ivfTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("rnk_i"))
      val m = exact.join(ivf, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"))
        .agg(sum(lit(6L) - col("rnk_e")).as("wscore"),
          count(when(col("rnk_e") === col("rnk_i"), 1)).as("n_pos"))
      q.select(col("vec_id").as("query_id"))
        // r17: same bounded-right broadcast hint as p61 (guide §3.1)
        .join(broadcast(m), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("wscore"), lit(0L)).as("wscore"),
          coalesce(col("n_pos"), lit(0L)).as("n_pos"),
          expr("coalesce(wscore, 0) * 1000000 div 15").as("agree_ppm"))
        .orderBy(col("query_id"))
    },

    // ----------- dedup: content-defined chunk dedup (FastCDC rule, p110)
    // p52 chunks at fixed 16-token offsets, so one inserted token shifts
    // every later chunk and kills its dedup; content-defined boundaries
    // (rolling 3-gram hash % $CdcMod == $CdcRes — word-granularity
    // FastCDC/LBFS) follow the TEXT, making chunk identity insertion-
    // resilient. Same downstream accounting as p52 (global first
    // occurrence by (doc, idx) struct min — the range-free addendum-23
    // encoding — kept/total counts, cleaned reassembly), so the two
    // queries differ ONLY in where edges fall. See
    // DedupOps.cdcChunkDedup for the shuffle budget.
    Q("p110_dd_cdc_chunks", {
      val ph = TextOps.polyHashSql("t2 || ' ' || t1 || ' ' || tk")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk,
         |                  generate_subscripts(string_split(text, ' '), 1) AS p
         |           FROM documents),
         |g AS (SELECT doc_id, p, tk,
         |             lag(tk, 2) OVER w AS t2, lag(tk, 1) OVER w AS t1
         |      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
         |b AS (SELECT doc_id, p, tk,
         |             (p >= $CdcN AND $ph % $CdcMod = $CdcRes) AS is_b
         |      FROM g),
         |c AS (SELECT doc_id, p, tk,
         |             coalesce(sum(CASE WHEN is_b THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY doc_id ORDER BY p
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |               0) AS chunk_idx
         |      FROM b),
         |ch AS (SELECT doc_id, chunk_idx,
         |              string_agg(tk, ' ' ORDER BY p) AS chunk
         |       FROM c GROUP BY doc_id, chunk_idx),
         |k AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS key FROM ch),
         |f AS (SELECT key, min(doc_id) AS fdoc FROM k GROUP BY key),
         |f2 AS (SELECT key, fdoc, min(chunk_idx) AS fidx
         |       FROM k JOIN f USING (key) WHERE doc_id = fdoc GROUP BY key, fdoc)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(*) FILTER (WHERE doc_id = fdoc AND chunk_idx = fidx)
         |            AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN doc_id = fdoc AND chunk_idx = fidx
         |                                THEN chunk END, ' '
         |                           ORDER BY chunk_idx), '') AS text_clean
         |FROM k JOIN f2 USING (key)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // r17 A/B: tw fan-out a LOSS (1.31 vs 1.17 warm min-of-3); left.
      DedupOps.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text",
          n = CdcN, mod = CdcMod, res = CdcRes)
        .orderBy(col("doc_id"))
    },

    // --------- similarity: greedy k-center coreset selection (p111)
    // Data pruning keeps a diverse skeleton, not a uniform sample:
    // farthest-first traversal (Gonzalez '85) picks, at each step, the
    // vector farthest (min 1−cosine to the chosen set) from everything
    // chosen so far — a 2-approximation of the optimal k-center cover.
    // Global farthest-first is sequential, so this is the two-level
    // discipline: a seeded 1-in-$CoresetDocMod sample bounds the
    // population in the scan stage, vectors hash into $CoresetBuckets
    // independent buckets, and each bucket runs exact farthest-first
    // over its sample-bounded members ($CoresetK picks). The oracle
    // replays the identical greedy as $CoresetK unrolled argmax CTEs
    // over the same sample — distances via the shared element-order
    // cosine fold, ties to the smaller id, so both engines pick the
    // same centers at every step.
    Q("p111_sim_coreset", {
      val docSample = TextOps.polyHashSql("CAST(vec_id AS VARCHAR) || '#graft-coreset-17'")
      def cosVC(v: String, c: String) = cosineSql(v, c)
      // step k: ek carries each remaining vector's min distance to the
      // chosen set; ck is the argmax pick (d DESC, id)
      val steps = (2 to CoresetK).map { k =>
        val prevE = if (k == 2) "" else
          s"JOIN e${k - 1} pe ON pe.bucket = s.bucket AND pe.vec_id = s.vec_id"
        val prevD = if (k == 2) s"1 - ${cosVC("s.embedding", "cs.embedding")}"
        else s"least(pe.d, 1 - ${cosVC("s.embedding", "cs.embedding")})"
        s"""e$k AS (
           |  SELECT s.bucket, s.vec_id, $prevD AS d
           |  FROM s JOIN c${k - 1} c ON c.bucket = s.bucket
           |  JOIN s cs ON cs.vec_id = c.cid
           |  $prevE
           |  WHERE s.vec_id <> c.cid),
           |c$k AS (
           |  SELECT bucket, vec_id AS cid, d FROM (
           |    SELECT bucket, vec_id, d,
           |           row_number() OVER (PARTITION BY bucket
           |                              ORDER BY d DESC, vec_id) AS rk
           |    FROM e$k) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val out = (1 to CoresetK).map { k =>
        if (k == 1)
          s"SELECT bucket, CAST(1 AS BIGINT) AS step, cid AS center_id, CAST(-1 AS BIGINT) AS dist_q FROM c1"
        else
          s"SELECT bucket, CAST($k AS BIGINT), cid, CAST(floor(d * 1000000 + 0.5) AS BIGINT) FROM c$k"
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT vec_id % $CoresetBuckets AS bucket, vec_id, embedding
         |           FROM embeddings
         |           WHERE $docSample % $CoresetDocMod = 0),
         |c1 AS (SELECT bucket, min(vec_id) AS cid FROM s GROUP BY bucket),
         |$steps
         |$out
         |ORDER BY bucket, step""".stripMargin
    }) { (s, dir) =>
      val sample = t(s, dir, "embeddings")
        .filter(pmod(
          TextOps.polyHash(concat(col("vec_id").cast("string"), lit("#graft-coreset-17"))),
          lit(CoresetDocMod.toLong)) === 0)
      SimilarityOps.kCenterCoreset(sample, CoresetBuckets, CoresetK).toDF()
        .orderBy(col("bucket"), col("step"))
    },

    // ------------- similarity: IVF cell-balance audit (p112)
    // The health check every IVF deployment needs before it scales:
    // per-cell population of the registered coarse quantizer (the SAME
    // cent/asg chain p14/p61/p109 serve from — one shared owner), each
    // cell's corpus share and its balance factor (×10⁶ = perfectly
    // uniform; a 5×10⁶ cell serves 5× the scan cost at query time; an
    // empty cell is a wasted probe). Scale shape: the one broadcast-
    // centroid assignment pass the IVF family already pays, then a
    // K-row rollup.
    Q("p112_sim_ivf_cells", {
      s"""WITH $IvfAsgCtes,
         |cells AS (SELECT cluster, count(*) AS n FROM asg GROUP BY cluster),
         |tot AS (SELECT sum(n) AS tot, count(*) AS k FROM cells)
         |SELECT c_id AS cluster, CAST(coalesce(n, 0) AS BIGINT) AS n_vecs,
         |       CAST(coalesce(n, 0) * 1000000 // tot AS BIGINT) AS share_ppm,
         |       CAST((coalesce(n, 0) * k * 1000000) // tot AS BIGINT) AS balance_ppm
         |FROM cent LEFT JOIN cells ON cells.cluster = cent.c_id CROSS JOIN tot
         |ORDER BY cluster""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cent = SimilarityOps.seedCentroids(e, SimilarityOps.IvfK)
      val cells = SimilarityOps.clusterAssign(e, cent)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      val cellsCp = graft.ops.Release.afterFirstUse(cells)
      val tot = cellsCp.agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))
      cent.select(col("c_id").as("cluster"))
        .join(broadcast(cellsCp), Seq("cluster"), "left")
        .crossJoin(broadcast(tot))
        .select(col("cluster"),
          coalesce(col("n"), lit(0L)).as("n_vecs"),
          expr("coalesce(n, 0) * 1000000 div tot").as("share_ppm"),
          expr("(coalesce(n, 0) * k * 1000000) div tot").as("balance_ppm"))
        .orderBy(col("cluster"))
    },

    // ---------------- packing: bin-utilization report (p113)
    // What the packer's bins actually look like: per bucket, the bin
    // count, packed docs/tokens, and the fill ratio against the token
    // budget (×10⁶; oversized singleton docs can push a bin past 10⁶ —
    // the report shows it rather than hiding it). Composes the
    // registered greedy recurrence VERBATIM (the shared PackGreedyCtes —
    // p31/p105/p113 are pinned to the same bins by construction), so
    // the utilization numbers can never drift from the packer they
    // describe. Scale shape: the packer's own cost plus a buckets-sized
    // rollup.
    Q("p113_pack_stats", {
      s"""WITH RECURSIVE $PackGreedyCtes
         |SELECT bucket, CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         |       CAST((sum(n_tok) * 1000000)
         |            // ((max(bin_id) + 1) * $PackBudget) AS BIGINT) AS fill_ppm
         |FROM g GROUP BY bucket ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      PackOps.packGreedy(
          t(s, dir, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tok")),
          "doc_id", "n_tok", buckets = PackBuckets, budget = PackBudget)
        .groupBy(col("bucket"))
        .agg((max(col("bin_id")) + 1).as("n_bins"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tok"))
        .select(col("bucket"), col("n_bins"), col("n_docs"), col("sum_tok"),
          expr(s"(sum_tok * 1000000) div (n_bins * $PackBudget)").as("fill_ppm"))
        .orderBy(col("bucket"))
    },

    // ----------- packing: curriculum-ordered sequence packing (p114)
    // The composition a curriculum-trained run actually consumes: bins
    // packed WITHIN each (difficulty stage, bucket), so a trainer
    // streaming bins stage-by-stage sees easy→hard order while every
    // stage still packs in parallel across buckets. Stage assignment is
    // the registered p101 rule (the shared CurriculumCtes — one owner,
    // the staging can never drift) and the bin recurrence is the
    // registered greedy (PackOps.packGreedyBy — p31's scan with a
    // caller-supplied key). Scale shape: the p101 histogram pass plus
    // the packer's one shuffle, now keyed on (stage, bucket).
    Q("p114_pack_curriculum", {
      s"""WITH RECURSIVE $CurriculumCtes,
         |pd AS (SELECT doc_id, stage, doc_id % $PackBuckets AS bucket, n_tok
         |       FROM stg),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY stage, bucket
         |                                    ORDER BY doc_id) AS rn
         |       FROM pd),
         |g2 AS (
         |  SELECT stage, bucket, rn, doc_id, n_tok,
         |         CAST(0 AS BIGINT) AS bin_id, n_tok AS fill
         |  FROM r2 WHERE rn = 1
         |  UNION ALL
         |  SELECT r2.stage, r2.bucket, r2.rn, r2.doc_id, r2.n_tok,
         |         CASE WHEN g2.fill > 0 AND g2.fill + r2.n_tok > $PackBudget
         |              THEN g2.bin_id + 1 ELSE g2.bin_id END,
         |         CASE WHEN g2.fill > 0 AND g2.fill + r2.n_tok > $PackBudget
         |              THEN r2.n_tok ELSE g2.fill + r2.n_tok END
         |  FROM r2 JOIN g2 ON r2.stage = g2.stage AND r2.bucket = g2.bucket
         |                 AND r2.rn = g2.rn + 1)
         |SELECT doc_id, CAST(stage AS BIGINT) AS stage, bucket, n_tok, bin_id
         |FROM g2 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val toks = tokens(col("text"))
      val score = floor(
        size(filter(toks, tk => length(tk) >= 6)) * lit(1000000.0) / size(toks)
          + lit(0.5)).cast("long")
      val cd = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"),
          score.as("score"))
      val cdCp = graft.ops.Release.afterFirstUse(cd)
      val h = cdCp.groupBy(col("source"), col("score")).agg(count(lit(1)).as("c"))
      val n = h.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val cum = h.withColumn("cc",
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("score"))))
      val b = cum.join(broadcast(n), "source")
        .groupBy(col("source"))
        .agg(
          min(when(col("cc") * 4 >= col("n"), col("score"))).as("b1"),
          min(when(col("cc") * 4 >= col("n") * 2, col("score"))).as("b2"),
          min(when(col("cc") * 4 >= col("n") * 3, col("score"))).as("b3"))
      val staged = cdCp.join(broadcast(b), "source")
        .withColumn("stage",
          (lit(1) + when(col("score") > col("b1"), 1).otherwise(0)
            + when(col("score") > col("b2"), 1).otherwise(0)
            + when(col("score") > col("b3"), 1).otherwise(0)).cast("long"))
        .withColumn("key",
          (col("stage") - 1) * PackBuckets + pmod(col("doc_id"), lit(PackBuckets.toLong)))
      PackOps.packGreedyBy(staged, "doc_id", "n_tok", "key",
          partitions = PackBuckets * 4, budget = PackBudget)
        .select(col("doc_id"),
          (expr(s"bucket div $PackBuckets") + 1).as("stage"),
          pmod(col("doc_id"), lit(PackBuckets.toLong)).as("bucket"),
          col("n_tok"), col("bin_id"))
        .orderBy(col("doc_id"))
    },

    // --------------- mixing: token-weighted temperature mix (p115)
    // p33 rebalances by DOCUMENT counts; training budgets are set in
    // TOKENS, so this is the same τ=0.5 temperature rule over each
    // language's token mass — sqrt of the token share, quantized ×10⁹
    // numerators, integer normalization (exactly-rounded IEEE ops both
    // engines agree on) — plus each language's slice of a 100M-token
    // budget. Scale shape: one corpus scan into a |languages|-row agg;
    // the whole-table windows run over that aggregate.
    Q("p115_mix_temperature_tokens", {
      s"""WITH c AS (SELECT lang,
         |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |           FROM documents GROUP BY lang),
         |t AS (SELECT *, (SELECT sum(n_tokens) FROM c) AS total FROM c),
         |q AS (SELECT lang, n_tokens,
         |             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / total) * 1000000000 + 0.5)
         |                  AS BIGINT) AS num_q
         |      FROM t),
         |s AS (SELECT *, (SELECT sum(num_q) FROM q) AS denom FROM q)
         |SELECT lang, n_tokens, num_q,
         |       CAST((num_q * 1000000) // denom AS BIGINT) AS weight_ppm,
         |       CAST((num_q * 100000000) // denom AS BIGINT) AS budget_tokens
         |FROM s ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      val whole = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
        .withColumn("total", sum(col("n_tokens")).over(whole))
        .withColumn("num_q",
          floor(sqrt(col("n_tokens").cast("double") / col("total")) * 1000000000L + 0.5)
            .cast("long"))
        .withColumn("denom", sum(col("num_q")).over(whole))
        .select(col("lang"), col("n_tokens"), col("num_q"),
          expr("(num_q * 1000000) div denom").as("weight_ppm"),
          expr("(num_q * 100000000) div denom").as("budget_tokens"))
        .orderBy(col("lang"))
    },

    // -------------------- mix: UniMax budget allocation (p116)
    // Temperature mixing (p33/p115) over-samples small sources without
    // bound; UniMax (Chung et al. '23) instead walks sources ASCENDING
    // by token mass, granting each min(E·n_i, remaining/left) — small
    // sources are capped at E epochs, the freed budget flows to larger
    // ones, and no source repeats more than E times. The recurrence is
    // over the SOURCE list (20 rows — model-sized), so the Spark side
    // aggregates token mass distributedly, collects the tiny table, and
    // folds on the driver (the BPE-argmax discipline: driver paths only
    // over data bounded by the model, never the corpus). Budget = 3×
    // total tokens, E = 5 — both corpus-relative, so the capped and
    // fair-shared branches are BOTH exercised at every SF. All integer
    // arithmetic (floor division), so both engines agree exactly.
    Q("p116_mix_unimax", {
      s"""WITH RECURSIVE c AS (
         |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
         |  FROM documents GROUP BY source),
         |tt AS (SELECT CAST($UniMaxBudgetX * sum(n) AS BIGINT) AS b,
         |              CAST(count(*) AS BIGINT) AS l FROM c),
         |o AS (SELECT source, n,
         |             CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS rk
         |      FROM c),
         |r AS (
         |  SELECT CAST(0 AS BIGINT) AS rk, b AS remaining, l AS lft,
         |         CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n,
         |         CAST(NULL AS BIGINT) AS alloc, CAST(NULL AS BOOLEAN) AS capped
         |  FROM tt
         |  UNION ALL
         |  SELECT o.rk, r.remaining - least($UniMaxEpochs * o.n, r.remaining // r.lft),
         |         r.lft - 1, o.source, o.n,
         |         least($UniMaxEpochs * o.n, r.remaining // r.lft),
         |         $UniMaxEpochs * o.n <= r.remaining // r.lft
         |  FROM r JOIN o ON o.rk = r.rk + 1)
         |SELECT source, n AS n_tokens, alloc AS budget_tokens, capped,
         |       CAST(alloc * 1000000 // (SELECT b FROM tt) AS BIGINT) AS weight_ppm
         |FROM r WHERE rk >= 1 ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val perSource = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(size(tokens(col("text"))).cast("long")).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (src, n) => (n, src) }
      val total = perSource.map(_._2).sum
      val b = UniMaxBudgetX * total
      var remaining = b
      var left = perSource.length.toLong
      val out = perSource.map { case (src, n) =>
        val fair = remaining / left
        val alloc = math.min(UniMaxEpochs * n, fair)
        val capped = UniMaxEpochs * n <= fair
        remaining -= alloc
        left -= 1
        (src, n, alloc, capped, alloc * 1000000L / b)
      }
      val sess = s
      import sess.implicits._
      out.toSeq
        .toDF("source", "n_tokens", "budget_tokens", "capped", "weight_ppm")
        .orderBy(col("source"))
    },

    // -------------------- text: character-entropy quality gate (p117)
    // Low character entropy flags degenerate text (single-char floods,
    // keyboard mash, base64-ish blobs read HIGH, repeated boilerplate
    // reads LOW) — a standard cheap quality signal next to p19's
    // repetition shares and p26's char-LM NLL. H = ln(n) − (Σ c·ln c)/n
    // over the per-doc char histogram; quantized ×10⁴ with the
    // bigramNll floor discipline so the float log stays off the compare
    // boundary. Scale shape: one ×L char explode (the charBigrams
    // precedent) into a (doc, char)-keyed partial count, then a
    // doc-keyed rollup — two shuffles, both corpus-linear, histogram
    // state bounded by the alphabet.
    Q("p117_txt_char_entropy", {
      s"""WITH ch AS (
         |  SELECT doc_id, count(*) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
         |  WHERE length(ch) > 0 GROUP BY doc_id, ch),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_nz,
         |             CAST(count(*) AS BIGINT) AS n_distinct,
         |             sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slnc
         |      FROM ch GROUP BY doc_id)
         |SELECT doc_id, n_chars_nz, n_distinct,
         |       CAST(floor((ln(CAST(n_chars_nz AS DOUBLE)) - slnc / n_chars_nz)
         |                  * 10000 + 0.5) AS BIGINT) AS entropy_q,
         |       CAST(floor((ln(CAST(n_chars_nz AS DOUBLE)) - slnc / n_chars_nz)
         |                  * 10000 + 0.5) AS BIGINT) >= $EntropyMinQ AS keep
         |FROM a ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode_outer(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_chars_nz"),
          count(lit(1)).as("n_distinct"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("slnc"))
        .select(col("doc_id"), col("n_chars_nz"), col("n_distinct"),
          floor((log(col("n_chars_nz").cast("double")) - col("slnc") / col("n_chars_nz"))
            * 10000 + 0.5).cast("long").as("entropy_q"))
        .withColumn("keep", col("entropy_q") >= EntropyMinQ)
        .orderBy(col("doc_id"))
    },

    // -------------- ingest: CUSUM changepoint audit per source (p118)
    // Drift audits (p66/p98) compare whole distributions; a CUSUM
    // (Page '54) instead watches the ingest ORDER and flags the first
    // sustained upward shift in a per-doc signal — the "source started
    // shipping bloated docs mid-crawl" alarm. One-sided CUSUM over
    // token counts, S_t = max(0, S_{t−1} + x_t − c), in its CLOSED
    // form S_t = P_t − min(0, running_min(P_t)) with P the cumulative
    // sum of (x − c): two window passes, no recursion, exact integers
    // in both engines. c = 1.1× the global mean token count (integer
    // floor), alarm at S ≥ $CusumH — calibrated so alarm and
    // non-alarm rows both exist at every SF. Scale shape: a broadcast
    // 1-row constant onto the doc table, then per-SOURCE ordered
    // windows — CUSUM is inherently sequential per key, so the window
    // partition is the source (shard the key finer if one source
    // dominates a corpus).
    Q("p118_src_cusum", {
      s"""WITH d AS (SELECT source, doc_id,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |           FROM documents),
         |c AS (SELECT (sum(n_tok) * 11) // (10 * count(*)) AS cc FROM d),
         |p AS (SELECT source, doc_id, n_tok,
         |             CAST(sum(n_tok - (SELECT cc FROM c))
         |               OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS pp
         |      FROM d)
         |SELECT source, doc_id, n_tok,
         |       pp - least(CAST(0 AS BIGINT),
         |                  min(pp) OVER (PARTITION BY source ORDER BY doc_id)) AS cusum,
         |       pp - least(CAST(0 AS BIGINT),
         |                  min(pp) OVER (PARTITION BY source ORDER BY doc_id))
         |         >= $CusumH AS alarm
         |FROM p ORDER BY source, doc_id""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
      val cc = d.agg(expr("(sum(n_tok) * 11) div (10 * count(1))").as("cc"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      d.crossJoin(broadcast(cc))
        .withColumn("pp", sum(col("n_tok") - col("cc")).over(w))
        .withColumn("cusum", col("pp") - least(lit(0L), min(col("pp")).over(w)))
        .select(col("source"), col("doc_id"), col("n_tok"), col("cusum"),
          (col("cusum") >= CusumH).as("alarm"))
        .orderBy(col("source"), col("doc_id"))
    },

    // ------------- dedup: edit-distance verification of the ≥0.9
    // candidates (p119). MinHash Jaccard is a SET similarity — blind to
    // order and multiplicity — so "jaccard ≥ 0.9" admits pairs whose
    // texts differ structurally (reordered spans, repeated words). The
    // character-level Levenshtein similarity over the SAME shared pair
    // memo (p06/p15/p51/p97's chain) separates true edit-near copies
    // from set-near rearrangements. sim = (maxlen − lev) / maxlen as
    // an integer ppm; both engines ship the classic unit-cost DP, so
    // the values agree exactly. Scale shape: the memo's pair set is
    // bucket-capped and ≥0.9-filtered (sparse); the per-pair DP is
    // O(len²) but runs on that bounded set — never corpus × corpus.
    Q("p119_dd_edit_verify", {
      s"""$NearDupPairsCte,
         |tx AS (SELECT doc_id, text FROM documents)
         |SELECT id_a, id_b,
         |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
         |       CAST(greatest(length(ta.text), length(tb.text), 1) AS BIGINT) AS maxlen,
         |       CAST(((greatest(length(ta.text), length(tb.text), 1)
         |              - levenshtein(ta.text, tb.text)) * 1000000)
         |            // greatest(length(ta.text), length(tb.text), 1) AS BIGINT) AS sim_ppm,
         |       ((greatest(length(ta.text), length(tb.text), 1)
         |         - levenshtein(ta.text, tb.text)) * 1000000)
         |         // greatest(length(ta.text), length(tb.text), 1)
         |         >= $EditStrongPpm AS strong
         |FROM prs JOIN tx ta ON ta.doc_id = id_a JOIN tx tb ON tb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      val tx = t(s, dir, "documents").select(col("doc_id"), col("text"))
      nearDupPairs(s, dir)
        .join(tx.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(tx.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        // bit-parallel exact Levenshtein (blocked Myers): value-identical
        // to functions.levenshtein (ExprSpec pin) at O(⌈len/64⌉·len)
        // word ops — the sf1 Spark side dropped from ~50 min to 97 s
        // (SCALE.md round-14 addendum 1)
        .withColumn("lev",
          org.apache.spark.sql.graftexpr.VectorExprs.levExact(col("ta"), col("tb"))
            .cast("long"))
        .withColumn("maxlen",
          greatest(length(col("ta")), length(col("tb")), lit(1)).cast("long"))
        .select(col("id_a"), col("id_b"), col("lev"), col("maxlen"),
          expr("((maxlen - lev) * 1000000) div maxlen").as("sim_ppm"))
        .withColumn("strong", col("sim_ppm") >= EditStrongPpm)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---------- ingest: STREAMING CUSUM changepoint gate (p120)
    // p118's decision-at-ingest twin: documents arrive in id order
    // across ≥3 REAL micro-batches (doc-stream scaffold) and each
    // source folds S ← max(0, S + n_tok − c) with ONE long of state —
    // the alarm fires the moment the shift is seen, not in a nightly
    // audit. The reference level c is a FIXED deployment knob (a
    // stream cannot know the corpus mean p118 derives); the oracle is
    // the same closed form P − min(0, running_min(P)) with that fixed
    // c, so streaming must equal batch however the stream is sliced
    // (the fold's split-composability, fuzzed in StatsOpsSpec, crossed
    // with real state-store boundaries here).
    Q("p120_src_cusum_stream", {
      s"""WITH d AS (SELECT source, doc_id,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |           FROM documents),
         |p AS (SELECT source, doc_id, n_tok,
         |             CAST(sum(n_tok - $CusumStreamC)
         |               OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS pp
         |      FROM d)
         |SELECT source, doc_id, n_tok,
         |       pp - least(CAST(0 AS BIGINT),
         |                  min(pp) OVER (PARTITION BY source ORDER BY doc_id)) AS cusum,
         |       pp - least(CAST(0 AS BIGINT),
         |                  min(pp) OVER (PARTITION BY source ORDER BY doc_id))
         |         >= $CusumH AS alarm
         |FROM p ORDER BY source, doc_id""".stripMargin
    }) { (s, dir) =>
      val verdicts = runDocStream(s, dir, "p120") { raw =>
        graft.ops.StatsOps.streamingCusum(
          raw.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok")),
          "doc_id", "source", "n_tok", c = CusumStreamC, h = CusumH).toDF()
      }
      verdicts
        .select(col("source"), col("doc_id"), col("n_tok"), col("cusum"), col("alarm"))
        .orderBy(col("source"), col("doc_id"))
    },

    // ---------- splits: largest-remainder eval-budget apportionment (p121)
    // Carving a fixed eval budget across (source, lang) cells by naive
    // proportional floor under-allocates (the floors lose up to one doc
    // per cell); largest-remainder (Hamilton) apportionment hands the
    // leftover slots to the cells with the biggest truncated remainders
    // — the unique allocation that is both house-monotone-free and
    // within one of exact proportionality. Budget = 10% of the corpus
    // (integer floor). Entirely window arithmetic over the CELLS table
    // (|sources|×|langs| rows — model-sized), exact integers both
    // engines; the whole-table window is the p115 precedent (model-
    // sized input, never the corpus).
    Q("p121_split_apportion", {
      s"""WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
         |               FROM documents GROUP BY source, lang),
         |t AS (SELECT *, (SELECT sum(n_docs) FROM cells) AS n,
         |             (SELECT sum(n_docs) // 10 FROM cells) AS b
         |      FROM cells),
         |q AS (SELECT source, lang, n_docs,
         |             (b * n_docs) // n AS base,
         |             (b * n_docs) % n AS rem, b
         |      FROM t),
         |r AS (SELECT *, (SELECT max(b) - sum(base) FROM q) AS leftover,
         |             row_number() OVER (ORDER BY rem DESC, source, lang) AS rk
         |      FROM q)
         |SELECT source, lang, n_docs, CAST(base AS BIGINT) AS base,
         |       CAST(rem AS BIGINT) AS rem,
         |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |         AS alloc
         |FROM r ORDER BY source, lang""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cells = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n", sum(col("n_docs")).over(whole))
        .withColumn("b", expr("n div 10"))
        .withColumn("base", expr("(b * n_docs) div n"))
        .withColumn("rem", expr("(b * n_docs) % n"))
        .withColumn("leftover", col("b") - sum(col("base")).over(whole))
        .withColumn("rk", row_number().over(
          Window.partitionBy(lit(1))
            .orderBy(col("rem").desc, col("source"), col("lang"))))
      cells.select(col("source"), col("lang"), col("n_docs"), col("base"),
        col("rem"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
        .orderBy(col("source"), col("lang"))
    },

    // ---------- text: Good-Turing unseen-mass estimate per source (p122)
    // How OPEN is each source's vocabulary — i.e. how much probability
    // mass do words never seen in it carry? The Turing estimator says
    // P(unseen) ≈ n₁/N (the singleton share), and the Good-Turing
    // adjusted count for singletons is r* = 2·n₂/n₁ — both pure
    // count-of-count arithmetic over the SHARED (source, word) count
    // memo (p88/p94/p100/p102/p104's owner — one corpus explode serves
    // all six). A source full of hapaxes (open vocabulary, n₁ high) is
    // where new data still buys coverage; a closed one is saturated.
    // All-integer ppm; n₁ = 0 → −1 sentinel for r*.
    Q("p122_txt_good_turing", {
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |sw AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
         |g AS (SELECT source,
         |             CAST(sum(c) AS BIGINT) AS n_tokens,
         |             CAST(count(*) AS BIGINT) AS n_types,
         |             CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n1,
         |             CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS n2
         |      FROM sw GROUP BY source)
         |SELECT source, n_tokens, n_types, n1, n2,
         |       CAST((n1 * 1000000) // n_tokens AS BIGINT) AS unseen_ppm,
         |       CAST(CASE WHEN n1 = 0 THEN -1
         |                 ELSE (2 * n2 * 1000000) // n1 END AS BIGINT) AS r1_star_q
         |FROM g ORDER BY source""".stripMargin
    }) { (s, dir) =>
      sourceWordCounts(s, dir)
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          count(when(col("c") === 1, 1)).as("n1"),
          count(when(col("c") === 2, 1)).as("n2"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n1"), col("n2"),
          expr("(n1 * 1000000) div n_tokens").as("unseen_ppm"),
          when(col("n1") === 0, -1L)
            .otherwise(expr("(2 * n2 * 1000000) div n1")).as("r1_star_q"))
        .orderBy(col("source"))
    },

    // ------- embeddings: split-half reliability of class centroids (p123)
    // Is a label's mean embedding an estimate or an artifact? Classic
    // split-half reliability: interleave each label's vectors into two
    // halves (vec_id parity — deterministic, balanced), quantize
    // elementwise (×1000 floor, the p70 integer discipline) and compare
    // the two half-SUMS per dimension by exact cross-multiplication
    // (the p66 trick — |s0·n1 − s1·n0| against the magnitude sum, no
    // float division anywhere). A stable class shows small per-dim
    // relative differences; an encoder failure or a label mixing two
    // clusters shows up as large ones. Output per label: half sizes,
    // the worst-drifting dimension (ties to the smaller dim), and the
    // mean ppm across dims. Scale shape: one embedding explode into a
    // (label, dim)-keyed partial agg — the (label×dim) table is
    // model-sized, so the windows cost nothing.
    Q("p123_emb_split_half", {
      s"""WITH q AS (SELECT label, vec_id % 2 AS half,
         |                  generate_subscripts(embedding, 1) AS dim,
         |                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000)
         |                       AS BIGINT) AS qv
         |           FROM embeddings),
         |n AS (SELECT label,
         |             CAST(count(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END)
         |                  AS BIGINT) AS n0,
         |             CAST(count(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END)
         |                  AS BIGINT) AS n1
         |      FROM embeddings GROUP BY label),
         |g AS (SELECT label, dim,
         |             CAST(coalesce(sum(CASE WHEN half = 0 THEN qv END), 0)
         |                  AS BIGINT) AS s0,
         |             CAST(coalesce(sum(CASE WHEN half = 1 THEN qv END), 0)
         |                  AS BIGINT) AS s1
         |      FROM q GROUP BY label, dim),
         |d AS (SELECT g.label, g.dim,
         |             CAST(abs(CAST(s0 AS HUGEINT) * n.n1 - CAST(s1 AS HUGEINT) * n.n0) * 1000000
         |               // (abs(CAST(s0 AS HUGEINT)) * n.n1 + abs(CAST(s1 AS HUGEINT)) * n.n0 + 1)
         |               AS BIGINT) AS ppm
         |      FROM g JOIN n USING (label)),
         |r AS (SELECT label, dim, ppm,
         |             row_number() OVER (PARTITION BY label
         |                                ORDER BY ppm DESC, dim) AS rk
         |      FROM d),
         |m AS (SELECT label, CAST(sum(ppm) // count(*) AS BIGINT) AS mean_ppm
         |      FROM d GROUP BY label)
         |SELECT CAST(n.label AS BIGINT) AS label, n.n0, n.n1,
         |       CAST(r.dim AS BIGINT) AS max_dim, CAST(r.ppm AS BIGINT) AS max_ppm,
         |       m.mean_ppm
         |FROM n JOIN r ON r.label = n.label AND r.rk = 1
         |JOIN m ON m.label = n.label
         |ORDER BY label""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val n = emb.groupBy(col("label"))
        .agg(count(when(col("vec_id") % 2 === 0, 1)).as("n0"),
          count(when(col("vec_id") % 2 === 1, 1)).as("n1"))
      val g = emb
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode_outer(col("embedding")).as(Seq("dim0", "x")))
        .select(col("label"), col("half"), (col("dim0") + 1).cast("long").as("dim"),
          floor(col("x").cast("double") * 1000).cast("long").as("qv"))
        .groupBy(col("label"), col("dim"))
        .agg(coalesce(sum(when(col("half") === 0, col("qv"))), lit(0L)).as("s0"),
          coalesce(sum(when(col("half") === 1, col("qv"))), lit(0L)).as("s1"))
      val d = g.join(broadcast(n), "label")
        // DECIMAL(38,0) cross-products (the p102 route): s0*n1*10⁶ passes
        // Long.MaxValue once a label holds ≳1e5 vectors per half — int64
        // would wrap silently in Spark (non-ANSI) while the HUGEINT
        // oracle stays exact, a silent cross-engine divergence
        .withColumn("ppm",
          expr("""cast((abs(cast(s0 as decimal(38,0)) * n1 - cast(s1 as decimal(38,0)) * n0) * 1000000)
                 |  div (abs(cast(s0 as decimal(38,0))) * n1
                 |       + abs(cast(s1 as decimal(38,0))) * n0 + 1) as bigint)""".stripMargin))
      val r = d.withColumn("rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("ppm").desc, col("dim"))))
        .filter(col("rk") === 1)
        .select(col("label"), col("dim").as("max_dim"), col("ppm").as("max_ppm"))
      val m = d.groupBy(col("label"))
        .agg(expr("sum(ppm) div count(1)").as("mean_ppm"))
      n.join(r, "label").join(m, "label")
        .select(col("label").cast("long"), col("n0"), col("n1"),
          col("max_dim"), col("max_ppm"), col("mean_ppm"))
        .orderBy(col("label"))
    },

    // ---------- similarity: recall-vs-nProbe tuning sweep (p124)
    // THE question an IVF deployment asks: how many cells must a query
    // probe before recall is acceptable? p61 answers at the registered
    // nProbe = 2; this sweeps {1, 2, 4, 8} in ONE pass — the corpus
    // assignment, the probe ranking (to 8) and every candidate cosine
    // compute once, and each setting re-ranks its prefix of probed
    // cells (SimilarityOps.ivfTopKSweep; per-setting output pinned
    // EQUAL to ivfTopK(nProbe = p) in SimilarityOpsSpec). Ground truth
    // is the SHARED exact-top-5 CTE owner, so p61/p109/p124 can never
    // disagree about the reference ranking. Output one row per
    // setting: mean/min recall@5 ppm over the 20 probe queries —
    // recall monotone in nProbe by construction (prefix candidates).
    Q("p124_sim_nprobe_sweep", {
      val cosQN = cosineSql("q.embedding", "c.embedding")
      val cosQC = cosineSql("q.embedding", "cc.c_emb")
      val probesArr = SweepProbes.mkString("[", ", ", "]")
      s"""WITH $IvfExactTopCte,
         |$IvfAsgCtes,
         |prbx AS (
         |  SELECT query_id, cluster, rnk AS prnk FROM (
         |    SELECT q.vec_id AS query_id, cc.c_id AS cluster,
         |           row_number() OVER (PARTITION BY q.vec_id
         |                              ORDER BY $cosQC DESC, cc.c_id) AS rnk
         |    FROM embeddings q CROSS JOIN cent cc WHERE q.vec_id < 20)
         |  WHERE rnk <= ${SweepProbes.max}),
         |st AS (SELECT CAST(unnest($probesArr) AS BIGINT) AS nprobe),
         |iv AS (
         |  SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT s.nprobe, p.query_id, a.neighbor_id,
         |           row_number() OVER (PARTITION BY s.nprobe, p.query_id
         |                              ORDER BY $cosQN DESC, a.neighbor_id) AS rnk
         |    FROM st s JOIN prbx p ON p.prnk <= s.nprobe
         |    JOIN asg a ON a.cluster = p.cluster AND a.neighbor_id <> p.query_id
         |    JOIN embeddings q ON q.vec_id = p.query_id
         |    JOIN embeddings c ON c.vec_id = a.neighbor_id) WHERE rnk <= 5),
         |rc AS (SELECT i.nprobe, i.query_id, count(*) AS hits
         |       FROM iv i JOIN exact e
         |         ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |       GROUP BY i.nprobe, i.query_id),
         |f AS (SELECT s.nprobe, q.vec_id AS query_id
         |      FROM st s CROSS JOIN (SELECT vec_id FROM embeddings
         |                            WHERE vec_id < 20) q)
         |SELECT f.nprobe, CAST(count(*) AS BIGINT) AS n_queries,
         |       CAST(sum(coalesce(hits, 0)) * 200000 // count(*) AS BIGINT)
         |         AS mean_recall_ppm,
         |       CAST(min(coalesce(hits, 0)) * 200000 AS BIGINT) AS min_recall_ppm
         |FROM f LEFT JOIN rc ON rc.nprobe = f.nprobe AND rc.query_id = f.query_id
         |GROUP BY f.nprobe ORDER BY f.nprobe""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val exact = SimilarityOps.bruteTopK(q, e, 5)
        .select(col("query_id"), col("neighbor_id"))
      val swept = SimilarityOps.ivfTopKSweep(e, q, k = 5, probes = SweepProbes)
      val rc = swept.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy(col("nprobe"), col("query_id"))
        .agg(count(lit(1)).as("hits"))
      val sess = s
      import sess.implicits._
      val frame = SweepProbes.map(_.toLong).toDF("nprobe")
        .crossJoin(q.select(col("vec_id").as("query_id")))
      // r17: rc ≤ |probes|×|queries| rows at any scale — broadcast
      // hint (guide §3.1); was the one surviving final-plan SMJ here
      frame.join(broadcast(rc), Seq("nprobe", "query_id"), "left")
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_queries"),
          expr("sum(coalesce(hits, 0)) * 200000 div count(1)").as("mean_recall_ppm"),
          (min(coalesce(col("hits"), lit(0L))) * 200000).as("min_recall_ppm"))
        .orderBy(col("nprobe"))
    },

    // ---------- multimodal: frame-hash near-dup candidates (p125)
    // The video-dedup candidate generator: media sharing ≥2 of their 4
    // sampled frame checksums are near-dup candidates (frame hashing is
    // how real pipelines match re-encoded/clipped video — here the
    // checksums come from p13's byte-slice frames, the stubbed stand-in
    // for a perceptual hash; the SAME fr table text via one CTE owner,
    // so p13 and p125 can never disagree about frame identity). The
    // pair generator is a (frame_no, checksum)-bucket self-join — group
    // sizes bounded by the duplicate-cluster density, never all-pairs.
    // n_shared grades the match (4 = every frame byte-exact). Fixed-
    // stride framing catches exact and aligned-edit copies ONLY — an
    // insertion shifts every boundary, which is precisely why p110's
    // content-defined chunking exists; the two ops are the multimodal
    // and text ends of the same dedup trade-off. The frame hash must be
    // FULL-RANGE: a byte-sum checksum (range ~19k) birthday-collided
    // into 417,688 accidental sf1 candidates vs 9 true matches at
    // sf0.1 under the positional hash (MultimodalOps.sampleFrames).
    Q("p125_mm_frame_neardup", {
      s"""WITH $MmFrameTableCteWithFixture,
         |j AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
         |             CAST(count(*) AS BIGINT) AS n_shared
         |      FROM fr a JOIN fr b
         |        ON a.frame_no = b.frame_no
         |       AND a.frame_checksum = b.frame_checksum
         |       AND a.media_id < b.media_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared, n_shared = 4 AS full_match
         |FROM j ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      // the fixture ids clear ScaleGen's k·10⁹ world offsets only while
      // the world count stays under ~900 (≈ sf90): past that a REAL
      // scaled doc_id would equal a fixture id and silently corrupt the
      // sentinel rows on both engines. Make the implicit ceiling loud —
      // one column-pruned max over doc_id (parquet footer statistics
      // territory), paid once per p125 run
      val realMax = t(s, dir, "documents").agg(max(col("doc_id"))).as[Long].head()
      require(realMax < MmFixtureIdBase,
        s"p125 fixture-id ceiling breached: max real doc_id $realMax >= fixture base " +
          s"$MmFixtureIdBase — move MmFixtureMedia ids higher before certifying this scale")
      // the sentinel fixture rides the SAME asMedia → sampleFrames
      // kernel as the corpus, so the two engines derive its frames
      // from one shared formula (see MmFixtureMedia)
      val withFixture = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .union(MmFixtureMedia.toDF("doc_id", "text"))
      val media = MultimodalOps.asMedia(withFixture, "doc_id", "text")
        .as[MultimodalOps.MediaRow]
      val fr = MultimodalOps.sampleFrames(media, 4).toDF()
        .select(col("media_id"), col("frame_no"), col("frame_checksum"))
      fr.as("a")
        .join(fr.as("b"),
          col("a.frame_no") === col("b.frame_no")
            && col("a.frame_checksum") === col("b.frame_checksum")
            && col("a.media_id") < col("b.media_id"))
        .groupBy(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .select(col("id_a"), col("id_b"), col("n_shared"),
          (col("n_shared") === 4).as("full_match"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---------- stats: Mann-Whitney U split-half length audit (p126)
    // Are a source's document lengths EXCHANGEABLE across two seeded
    // pseudo-random halves (hash parity — NOT doc_id parity: sources
    // are id-residue classes in this corpus, so raw parity is constant
    // within a source; the seeded hash is layout-agnostic, the p29
    // split discipline)? The p123 idea, here for lengths. The Mann-Whitney U is the
    // standard nonparametric two-sample statistic: U/(n₁n₀) ≈ 0.5
    // under exchangeability, drifting toward 0/1 when one half's
    // lengths stochastically dominate. Computed EXACTLY over the
    // per-source length histogram with ×2 midranks (ties get the
    // doubled average rank 2·cum_before + c + 1 — an integer, so no
    // float ever appears): U₁×2 = Σ c_even·r₂ − n_even(n_even+1).
    // Scale shape: one (source, n_chars) count aggregate (histogram,
    // vocabulary-bounded), then source-partitioned running windows
    // over that model-sized table.
    Q("p126_len_mw_u", {
      val hp = TextOps.polyHashSql("CAST(doc_id AS VARCHAR) || '#graft-mwu-3'")
      s"""WITH t2 AS (SELECT source, n_chars,
         |                   count(*) FILTER (WHERE $hp % 2 = 0) AS c_even,
         |                   count(*) AS ct
         |            FROM documents GROUP BY source, n_chars),
         |r AS (SELECT source, c_even, ct,
         |             2 * coalesce(sum(ct) OVER (PARTITION BY source ORDER BY n_chars
         |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               + ct + 1 AS r2
         |      FROM t2),
         |g AS (SELECT source, CAST(sum(c_even) AS BIGINT) AS n_even,
         |             CAST(sum(ct - c_even) AS BIGINT) AS n_odd,
         |             CAST(sum(c_even * r2) AS BIGINT) AS rr2
         |      FROM r GROUP BY source)
         |SELECT source, n_even, n_odd,
         |       CAST(rr2 - n_even * (n_even + 1) AS BIGINT) AS u2,
         |       CAST(CASE WHEN n_even * n_odd = 0 THEN -1
         |                 ELSE (rr2 - n_even * (n_even + 1)) * 500000
         |                      // (n_even * n_odd) END AS BIGINT) AS u_ppm
         |FROM g ORDER BY source""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val half = pmod(TextOps.polyHash(
        concat(col("doc_id").cast("string"), lit("#graft-mwu-3"))), lit(2L))
      val t2 = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars"))
        .agg(count(when(half === 0, 1)).as("c_even"),
          count(lit(1)).as("ct"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val g = t2
        .withColumn("r2", lit(2L) * coalesce(sum(col("ct")).over(w), lit(0L))
          + col("ct") + 1L)
        .groupBy(col("source"))
        .agg(sum(col("c_even")).as("n_even"),
          sum(col("ct") - col("c_even")).as("n_odd"),
          sum(col("c_even") * col("r2")).as("rr2"))
      g.select(col("source"), col("n_even"), col("n_odd"),
          (col("rr2") - col("n_even") * (col("n_even") + 1L)).as("u2"))
        .withColumn("u_ppm",
          when(col("n_even") * col("n_odd") === 0, -1L)
            .otherwise(expr("(u2 * 500000) div (n_even * n_odd)")))
        .orderBy(col("source"))
    }
  )

  /** p124 probe-count grid (max also bounds the shared probe ranking). */
  private def SweepProbes: Seq[Int] = Seq(1, 2, 4, 8)

  /** p120 fixed reference level: 60 tokens/doc — the deployment knob a
    * streaming gate must pin upfront (p118's corpus-derived 1.1× mean
    * lands at 59 on this corpus, so the two registrations watch the
    * same regime). Def (queries-val init order).
    */
  private def CusumStreamC: Long = 60L

  /** p118 CUSUM knobs: reference level c = 1.1× the global mean token
    * count (the slack absorbs in-control noise); alarm threshold h
    * calibrated so both branches fire at every SF (sf0.001/0.01/0.1 →
    * 34/11/789 alarm rows). Defs (queries-val init order).
    */
  private def CusumH: Long = 120L

  /** p119 strong-pair threshold: ≥ 0.85 character-level similarity
    * (the ≥0.9 TOKEN-set Jaccard memo admits weaker char-level
    * matches — reordered or multiplicity-shifted spans sit below
    * this line). Def (queries-val init order).
    */
  private def EditStrongPpm: Long = 850000L

  /** p116 UniMax knobs: budget = UniMaxBudgetX × total corpus tokens;
    * every source is capped at UniMaxEpochs passes over its own mass.
    * Budget/epoch ratio 39/40 sits just under 1 so the near-uniform
    * source masses split into BOTH branches at every SF (simulated:
    * 13/13/5 of 20 capped at sf0.001/0.01/0.1). The ppm scaling keeps
    * alloc×10⁶ inside int64 up to ~9×10¹² allocated tokens; beyond
    * that (a ≳40T-token corpus) divide the budget first. Defs
    * (queries-val init order).
    */
  private def UniMaxBudgetX: Long = 39L
  private def UniMaxEpochs: Long = 40L

  /** p117 keep threshold: ×10⁴-quantized char entropy ≥ 2.8 nats —
    * the corpus's per-doc entropies span ≈2.5–2.9 (space-delimited
    * word soup over a small alphabet), so 2.8 splits the population
    * and both gate branches are exercised at every SF. Def
    * (queries-val init order).
    */
  private def EntropyMinQ: Long = 28000L

  /** p68 collocation thresholds: min bigram support and the audit's
    * top-k. Defs (queries-val init order).
    */
  private def CollocMinCount: Int = 5
  private def CollocTopK: Int = 100

  /** p69 sampling moduli: 1-in-CalibDocMod documents enter the band
    * join at all (quadratic join shrink), then 1-in-CalibSampleMod of
    * the surviving candidate pairs feed the calibration table. Defs
    * (queries-val init order).
    */
  /** p88 lift gate: minimum in-source occurrences before a word can
    * enter the lift table (noise floor), and the per-source top-k.
    */
  private def LiftMinCount: Int = 8
  private def LiftTopK: Int = 20

  /** p89 threshold grid (×10⁶ Jaccard). */
  private def SweepThresholds: Seq[Long] =
    Seq(500000L, 600000L, 700000L, 800000L, 900000L, 950000L)

  /** Shared exact-vs-IVF top-5 CTE chain for the 20 probe queries,
    * ending at `exact(query_id, neighbor_id, rnk)` and
    * `ivf(query_id, neighbor_id, rnk)` — one owner for p61 (recall) and
    * p109 (rank agreement), so the two evals can never disagree about
    * either ranking. A def (queries-val init order).
    */
  /** The registered IVF coarse layer as shared CTE text: the seed
    * centroid table `cent(c_id, c_emb)` and the corpus assignment
    * `asg(neighbor_id, cluster)` — one owner for the IVF evals
    * ([[IvfExactCtes]]) and the p112 cell-balance audit. A def
    * (queries-val init order).
    */
  private def IvfAsgCtes: String = {
    val cosEC = cosineSql("e.embedding", "cc.c_emb")
    s"""cent AS (SELECT vec_id AS c_id, embedding AS c_emb
       |         FROM embeddings ORDER BY vec_id LIMIT ${SimilarityOps.IvfK}),
       |asg AS (
       |  SELECT neighbor_id, cluster FROM (
       |    SELECT e.vec_id AS neighbor_id, cc.c_id AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, cc.c_id) AS rnk
       |    FROM embeddings e CROSS JOIN cent cc) WHERE rnk = 1)""".stripMargin
  }

  /** Exact brute-force top-5 CTE for the 20 probe queries — ONE owner
    * for p61/p109 (via [[IvfExactCtes]]) and the p124 probe sweep, so
    * every IVF eval scores against the same ground truth text. A def
    * (queries-val init order).
    */
  private def IvfExactTopCte: String = {
    val cosQN = cosineSql("q.embedding", "c.embedding")
    s"""exact AS (
       |  SELECT query_id, neighbor_id, rnk FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                              ORDER BY $cosQN DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 20) WHERE rnk <= 5)""".stripMargin
  }

  private def IvfExactCtes: String = {
    val cosQN = cosineSql("q.embedding", "c.embedding")
    val cosQC = cosineSql("q.embedding", "cc.c_emb")
    s"""$IvfExactTopCte,
       |$IvfAsgCtes,
       |prb AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT q.vec_id AS query_id, cc.c_id AS cluster,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosQC DESC, cc.c_id) AS rnk
       |    FROM embeddings q CROSS JOIN cent cc WHERE q.vec_id < 20)
       |  WHERE rnk <= ${SimilarityOps.IvfProbes}),
       |ivf AS (
       |  SELECT query_id, neighbor_id, rnk FROM (
       |    SELECT p.query_id, a.neighbor_id,
       |           row_number() OVER (PARTITION BY p.query_id
       |                              ORDER BY $cosQN DESC, a.neighbor_id) AS rnk
       |    FROM prb p JOIN asg a ON a.cluster = p.cluster AND a.neighbor_id <> p.query_id
       |    JOIN embeddings q ON q.vec_id = p.query_id
       |    JOIN embeddings c ON c.vec_id = a.neighbor_id) WHERE rnk <= 5)""".stripMargin
  }

  /** p93 outlier gate: |n_chars − median| > MadOutlierK · MAD. */
  private def MadOutlierK: Int = 3

  /** p93's median/MAD oracle CTE chain (h → n → cum → med → dh → dcum →
    * mad → outl), one owner shared with p100's health report so the
    * standalone audit and the composed report can never drift — the
    * p76 gate-formula discipline. A def (queries-val init order).
    */
  private def MedianMadCtes: String =
    s"""h AS (SELECT source, n_chars, count(*) AS c
       |           FROM documents GROUP BY source, n_chars),
       |n AS (SELECT source, sum(c) AS n FROM h GROUP BY source),
       |cum AS (SELECT source, n_chars, c,
       |               sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cc
       |        FROM h),
       |med AS (SELECT source, min(n_chars) AS med
       |        FROM cum JOIN n USING (source)
       |        WHERE cc >= (n + 1) // 2 GROUP BY source),
       |dh AS (SELECT h.source, abs(n_chars - med) AS dev, sum(c) AS c
       |       FROM h JOIN med USING (source) GROUP BY h.source, abs(n_chars - med)),
       |dcum AS (SELECT source, dev, c,
       |                sum(c) OVER (PARTITION BY source ORDER BY dev) AS cc
       |         FROM dh),
       |mad AS (SELECT source, min(dev) AS mad
       |        FROM dcum JOIN n USING (source)
       |        WHERE cc >= (n + 1) // 2 GROUP BY source),
       |outl AS (SELECT dh.source,
       |                coalesce(sum(c) FILTER (WHERE dev > $MadOutlierK * mad), 0)
       |                  AS n_out
       |         FROM dh JOIN mad USING (source) GROUP BY dh.source)""".stripMargin

  /** p94 head-coverage size (token share of the top-HeadK words). */
  private def HeadK: Int = 100

  /** The curriculum staging chain as shared CTE text ending at
    * `stg(doc_id, source, n_chars, n_tok, score, stage)`: the quantized
    * long-token difficulty score per doc, its per-source histogram, the
    * cumulative quartile boundaries (b_k = min score with 4·cum ≥ k·N),
    * and the per-doc stage. One owner for p101 (the stage report) and
    * p114 (curriculum-ordered packing), so the two can never disagree
    * about a document's stage. A def (queries-val init order).
    */
  private def CurriculumCtes: String =
    s"""cd AS (
       |  SELECT doc_id, source, n_chars,
       |         CAST(len(toks) AS BIGINT) AS n_tok,
       |         CAST(floor(len(list_filter(toks, t -> length(t) >= 6)) * 1000000.0
       |                    / len(toks) + 0.5) AS BIGINT) AS score
       |  FROM (SELECT doc_id, source, n_chars, string_split(text, ' ') AS toks
       |        FROM documents)),
       |h AS (SELECT source, score, count(*) AS c FROM cd GROUP BY source, score),
       |n AS (SELECT source, sum(c) AS n FROM h GROUP BY source),
       |cum AS (SELECT source, score, c,
       |               sum(c) OVER (PARTITION BY source ORDER BY score) AS cc
       |        FROM h),
       |b AS (SELECT source,
       |             min(CASE WHEN cc * 4 >= n THEN score END) AS b1,
       |             min(CASE WHEN cc * 4 >= 2 * n THEN score END) AS b2,
       |             min(CASE WHEN cc * 4 >= 3 * n THEN score END) AS b3
       |      FROM cum JOIN n USING (source) GROUP BY source),
       |stg AS (SELECT cd.doc_id, cd.source, cd.n_chars, cd.n_tok, cd.score,
       |              1 + CASE WHEN score > b1 THEN 1 ELSE 0 END
       |                + CASE WHEN score > b2 THEN 1 ELSE 0 END
       |                + CASE WHEN score > b3 THEN 1 ELSE 0 END AS stage
       |       FROM cd JOIN b USING (source))""".stripMargin

  /** p104 Zipf checkpoint ranks (exponential spacing). A def
    * (queries-val init order).
    */
  private def ZipfRanks: Seq[Long] =
    Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)

  /** p110 content-defined chunking rule: boundary after token p iff the
    * rolling CdcN-gram hash ending at p ≡ CdcRes (mod CdcMod) — expected
    * chunk length CdcMod tokens. Defs (queries-val init order).
    */
  private def CdcN: Int = 3
  private def CdcMod: Long = 8L
  private def CdcRes: Long = 3L

  /** p111 coreset knobs (the p69 two-level discipline): 1-in-
    * CoresetDocMod seeded vector sample, CoresetBuckets independent
    * greedy groups, CoresetK farthest-first picks per group.
    */
  private def CoresetDocMod: Int = 4
  private def CoresetBuckets: Int = 8
  private def CoresetK: Int = 4

  /** p108 per-source token budget. At every generated SF a source's
    * token mass exceeds this, so the cutoff (and a first_rejected id)
    * exists everywhere the gate runs. A def (queries-val init order).
    */
  private def QuotaTokens: Long = 400L

  /** p31/p105 packing knobs: bucket-local greedy bins of at most
    * PackBudget tokens over PackBuckets independent doc-id-hashed
    * streams. Defs (queries-val init order).
    */
  private def PackBuckets: Int = 32
  private def PackBudget: Long = 512L

  /** The bucket-local greedy packing recurrence as one recursive-CTE
    * oracle — shared VERBATIM by p31 (batch packer) and p105 (streaming
    * packer), so the two registered forms are pinned to the same bin
    * assignments by construction. A def (queries-val init order).
    */
  private def PackGreedyCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id % $PackBuckets AS bucket,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
       |      FROM d),
       |g AS (
       |  SELECT bucket, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS bin_id, n_tok AS fill
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.bucket, r.rn, r.doc_id, r.n_tok,
       |         CASE WHEN g.fill > 0 AND g.fill + r.n_tok > $PackBudget
       |              THEN g.bin_id + 1 ELSE g.bin_id END,
       |         CASE WHEN g.fill > 0 AND g.fill + r.n_tok > $PackBudget
       |              THEN r.n_tok ELSE g.fill + r.n_tok END
       |  FROM r JOIN g ON r.bucket = g.bucket AND r.rn = g.rn + 1)""".stripMargin

  private def PackGreedyOracle: String =
    s"""WITH RECURSIVE $PackGreedyCtes
       |SELECT doc_id, bucket, n_tok, bin_id
       |FROM g ORDER BY doc_id""".stripMargin

  /** p95 sampling moduli (the p69 two-level discipline with its own
    * seed): 1-in-SimCalDocMod docs enter the SimHash band join,
    * 1-in-SimCalSampleMod of the surviving candidate pairs are kept.
    */
  private def SimCalDocMod: Int = 2
  private def SimCalSampleMod: Int = 8

  private def CalibDocMod: Int = 4
  private def CalibSampleMod: Int = 16

  /** p70 geometry: embedding dim (required, loud failure on drift),
    * 1-in-PcaSampleMod seeded vector sample, fixed power-iteration
    * count. Defs (queries-val init order).
    */
  private def PcaDim: Int = 64
  private def PcaSampleMod: Int = 4
  private def PcaIters: Int = 4

  /** p71 outlier report size. A def (queries-val init order). */
  private def OutlierK: Int = 50

  /** p63 sample size: per-partition top-k merged on the driver — k rows
    * per task regardless of corpus size. A def (queries-val init order).
    */
  private def WsampleK: Int = 100

  /** Posting-list block width (docs per shard row) for p39. A def — see
    * QualityStopwords on initialization order.
    */
  private def IndexBlockSize = 1000L

  /** KMV sketch size (k smallest hashes kept per group). */
  private def KmvK: Int = 256

  /** Number of BPE merges learned by p42 (a def — queries-val init order). */
  private def BpeSteps: Int = 10

  /** The unrolled sequential BPE recursion as DuckDB SQL — shared by p42
    * (sequential loop) and p48 (batched loop): both engines must land on
    * the same `BpeSteps` (step, lhs, rhs, merged, cnt) rows.
    */
  private def BpeUnrolledOracle: String = {
    val steps = (1 to BpeSteps).map { k =>
      s"""p$k AS (SELECT l, r, sum(freq) AS cnt FROM (
         |   SELECT freq,
         |          unnest(list_slice(toks, 1, len(toks) - 1)) AS l,
         |          unnest(list_slice(toks, 2, len(toks))) AS r
         |   FROM (SELECT freq, string_split(trim(state, '|'), '||') AS toks FROM w${k - 1})
         | ) GROUP BY l, r),
         |b$k AS (SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM p$k
         |        ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (SELECT replace(state, '|' || b.l || '||' || b.r || '|',
         |                       '|' || b.l || b.r || '|') AS state, freq
         |        FROM w${k - 1} CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeSteps).map { k =>
      s"SELECT CAST($k AS BIGINT) AS step, l AS lhs, r AS rhs, l || r AS merged, cnt FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS (
       |  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS state,
       |         CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 AND NOT contains(word, '|') GROUP BY word),
       |$steps
       |SELECT * FROM ($out) ORDER BY step""".stripMargin
  }

  /** The learned-merge tokenization of the DISTINCT-word vocabulary as
    * DuckDB CTEs ending at `tok(word, toks)` — the v0→vN merge chain of
    * [[BpeUnrolledOracle]] applied to the word STATES (not just the
    * merge list), shared verbatim by p49 (full tokenization) and p78
    * (fertility stats): both oracles must tokenize through the same
    * vocabulary or the subtoken counts drift.
    */
  private def BpeVocabCtes: String = {
    val steps = (1 to BpeSteps).map { k =>
      s"""p$k AS (SELECT l, r, sum(freq) AS cnt FROM (
         |   SELECT freq,
         |          unnest(list_slice(toks, 1, len(toks) - 1)) AS l,
         |          unnest(list_slice(toks, 2, len(toks))) AS r
         |   FROM (SELECT freq, string_split(trim(state, '|'), '||') AS toks FROM v${k - 1})
         | ) GROUP BY l, r),
         |b$k AS (SELECT l, r FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |v$k AS (SELECT word, replace(state, '|' || b.l || '||' || b.r || '|',
         |                             '|' || b.l || b.r || '|') AS state, freq
         |        FROM v${k - 1} CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""WITH v0 AS (
       |  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS state,
       |         CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 AND NOT contains(word, '|') GROUP BY word),
       |$steps,
       |tok AS (SELECT word, string_split(trim(state, '|'), '||') AS toks FROM v${BpeSteps})""".stripMargin
  }

  /** Count-Min geometry: 4 independent hash rows × 1024 buckets, with
    * fixed prime seeds — determinism is what lets the DuckDB oracle
    * reproduce the sketch exactly. Defs (queries-val init order).
    */
  private def CmW: Int = 1024
  private def CmSeeds: Seq[(Long, Long)] = Seq(
    (1299721L, 15485863L), (2750159L, 32452843L),
    (4256233L, 49979687L), (5800079L, 67867967L))

  /** Fixed probe vocabulary for the CM point queries (known corpus words
    * plus absent ones to exercise the zero path).
    */
  private def CmProbes: Seq[String] = Seq(
    "the", "a", "table", "spark", "query", "window", "batch", "vector",
    "zzz_absent", "qqq_missing")

  /** Paragraph width in tokens for p52's CCNet-style chunk dedup (defs,
    * not vals — referenced inside the `queries` val, which inits first).
    */
  private def ChunkW: Int = 16

  /** p79 winnowing geometry: gram width (tokens per hashed window) and
    * the selection window (consecutive gram hashes per min-pick). Any
    * shared run of ≥ gram+window−1 tokens is guaranteed a shared
    * fingerprint (SIGMOD'03 §2).
    */
  private def WinnowGram: Int = 8
  private def WinnowWindow: Int = 4

  /** Shared winnowing CTE chain (p79/p82): everything up to the `fp`
    * table of selected (doc_id, h, pos) fingerprints — the DuckDB twin
    * of [[graft.ops.DedupOps.winnow]]'s selection stage.
    */
  private def WinnowFpCtes: String = {
    val shift = 8589934592L
    val hashOf = TextOps.polyHashSql(
      s"array_to_string(list_slice(toks, pos + 1, pos + $WinnowGram), ' ')")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(range(0, len(toks) - ${WinnowGram - 1})) AS pos, toks
       |      FROM tk WHERE len(toks) >= ${WinnowGram + WinnowWindow - 1}),
       |k AS (SELECT doc_id, pos,
       |             $hashOf * $shift + ($shift - 1 - pos) AS key
       |      FROM g),
       |ng AS (SELECT doc_id, len(toks) - ${WinnowGram - 1} AS n_g FROM tk),
       |wm AS (SELECT k.doc_id, k.pos - off.o AS p, min(key) AS wkey
       |       FROM k CROSS JOIN (SELECT unnest(range($WinnowWindow)) AS o) off
       |       WHERE k.pos - off.o >= 0
       |       GROUP BY k.doc_id, p),
       |sel AS (SELECT DISTINCT wm.doc_id, wm.wkey
       |        FROM wm JOIN ng USING (doc_id)
       |        WHERE wm.p + ${WinnowWindow - 1} <= ng.n_g - 1),
       |fp AS (SELECT doc_id, CAST(wkey // $shift AS BIGINT) AS h,
       |              CAST(($shift - 1) - (wkey % $shift) AS BIGINT) AS pos
       |       FROM sel)""".stripMargin
  }

  /** p80's bigram-pruning floor: transitions seen fewer times back off
    * to the unigram model (the count floor that keeps the shipped
    * bigram table vocabulary-bounded instead of corpus-bounded).
    */
  private def LmMinCount: Int = 3

  /** Rolling-window width in tokens for p56's exact-substring scrub. */
  private def ScrubW: Int = 16

  /** Heavy-hitter denominator for p57: heavy ⇔ cnt·HhDenom > N (φ =
    * 1/900 — calibrated so the synthetic bigram distribution yields both
    * true heavies and visible CM false positives at every SF).
    */
  private def HhDenom: Long = 900L

  /** The CM seed set, exposed for spec use. */
  private[graft] def cmSeedsForSpec: Seq[(Long, Long)] = CmSeeds

  /** Output width of p58's hashing-trick doc embeddings. */
  private def FhDims: Int = 256

  /** Ingest-gate (p59) geometry: Bloom bits sized to the existing-corpus
    * chunk-key count; reject when n_exact · GateRejectDen ≥ n_chunks
    * (i.e. ≥ 1/GateRejectDen of the doc already exists).
    */
  private def GateBloomM: Int = 65536
  private def GateRejectDen: Long = 4L

  /** Neighbors per node in p60's mutual kNN graph. */
  private def KnnK: Int = 3

  /** Graph-family (p83/p84) geometry: PageRank iteration count, the
    * ×10¹² integer rank scale, the 85/100 damping rational, the k-core
    * threshold and peel-round bound. Defs (queries-val init order).
    */
  private def PrIters: Int = 3
  private def PrScale: Long = 1000000000000L
  private def PrDampNum: Int = 85
  private def PrDampDen: Int = 100
  private def CoreK: Int = 2
  private def CoreRounds: Int = 3

  /** Steps per walk in p85's hash-seeded walk corpus. */
  private def WalkLen: Int = 3

  /** Shared oracle CTE prefix for the graph family: p60's exact salted
    * LSH top-k chain (eb/sc/e), the mutual filter (mut), the symmetric
    * directed edge list (ed), the vertex set (n) and out-degrees (dg).
    * Mirrors [[mutualEdges]] — one owner for the graph both engines
    * read. Qualified references in the reversal SELECT keep DuckDB's
    * lateral column aliases from capturing the swap. The multiply-
    * referenced CTEs are MATERIALIZED: DuckDB inlines CTEs by default,
    * and the iteration chains reference ed/n/dg once per round — an
    * inlined LSH self-join re-executes per reference and turns a
    * seconds-long compare into an exponential blowup at sf1 (the exact
    * hazard p67's staged oracle works around for recursive closure).
    */
  private def MutualGraphCtes: String = {
    val bucket = SimilarityOps.lshBucketSql("embedding")
    val cos = SimilarityOps.cosineSql("q.embedding", "c.embedding")
    val cap = DedupOps.BandBucketCap
    s"""WITH eb AS MATERIALIZED (
       |  SELECT vec_id, embedding, bucket,
       |         CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY vec_id) - 1)
       |              / $cap.0) AS BIGINT) AS salt
       |  FROM (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)),
       |sc AS (SELECT q.vec_id AS vec_id, c.vec_id AS nn_id,
       |              row_number() OVER (PARTITION BY q.vec_id
       |                                 ORDER BY $cos DESC, c.vec_id) AS rnk
       |       FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.salt = c.salt
       |                          AND q.vec_id <> c.vec_id),
       |e AS MATERIALIZED (SELECT vec_id, nn_id FROM sc WHERE rnk <= $KnnK),
       |mut AS (SELECT e.vec_id AS a, e.nn_id AS b
       |        FROM e JOIN e r ON r.vec_id = e.nn_id AND r.nn_id = e.vec_id
       |        WHERE e.vec_id < e.nn_id),
       |ed AS MATERIALIZED (SELECT a, b FROM mut UNION ALL SELECT mut.b AS a, mut.a AS b FROM mut),
       |n AS MATERIALIZED (SELECT DISTINCT a AS v FROM ed),
       |dg AS MATERIALIZED (SELECT a AS v, count(*) AS deg FROM ed GROUP BY a)""".stripMargin
  }

  /** p62's token budget = corpus total / MixBudgetDen. */
  private def MixBudgetDen: Long = 5L

  /** Hybrid-retrieval (p53) geometry: query-id cutoff, per-leg rank
    * depth entering the fusion, and the fused top-k emitted.
    */
  private def RrfQueries: Int = 20
  private def RrfDepth: Int = 20
  private def RrfTopK: Int = 10

  /** Output dimensionality of p54's random projection. */
  private def RpDims: Int = 16

  /** Training epochs for p55's batch perceptron. */
  private def PerceptronEpochs: Int = 3

  /** The perceptron feature projection shared by p55 (training) and p73
    * (AUC evaluation) — one owner for the feature/label formulas so the
    * trainer and its evaluator can never drift apart. Features: bias,
    * token count, stopword count, long-token count; labels from the p02
    * quality rule.
    */
  private def perceptronFeats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = countIn(toks, Stopwords)
    t(s, dir, "documents").select(
      lit(1L).as("x0"),
      size(toks).cast("long").as("x1"),
      stop.cast("long").as("x2"),
      size(filter(toks, tk => length(tk) >= 6)).cast("long").as("x3"),
      when(size(toks) >= 20 && stop > 0, 1L).otherwise(-1L).as("y"))
  }

  /** SQL twin of [[perceptronFeats]] + the unrolled epoch recursion:
    * CTEs `f` (features) and `e1..eN` (weights after each epoch), shared
    * by the p55 and p73 oracles. Each epoch's update is Σ y·x over the
    * rows the previous weights misclassify (margin ≤ 0); epoch 1 starts
    * from w = 0, under which every row is misclassified.
    */
  private def PerceptronCtes: String = {
    val toks = "string_split(text, ' ')"
    val stop = TextOps.countInSql(toks, TextOps.Stopwords)
    def epoch(prev: Option[String], n: Int) = {
      val inner = prev match {
        case None =>
          "SELECT f.*, CAST(0 AS BIGINT) AS pw0, CAST(0 AS BIGINT) AS pw1, " +
            "CAST(0 AS BIGINT) AS pw2, CAST(0 AS BIGINT) AS pw3, TRUE AS m FROM f"
        case Some(p) =>
          s"""SELECT f.*, $p.w0 AS pw0, $p.w1 AS pw1, $p.w2 AS pw2, $p.w3 AS pw3,
             |       ($p.w0 * x0 + $p.w1 * x1 + $p.w2 * x2 + $p.w3 * x3) * y <= 0 AS m
             |FROM f CROSS JOIN $p""".stripMargin
      }
      s"""e$n AS (
         |  SELECT max(pw0) + coalesce(sum(CASE WHEN m THEN y * x0 END), 0) AS w0,
         |         max(pw1) + coalesce(sum(CASE WHEN m THEN y * x1 END), 0) AS w1,
         |         max(pw2) + coalesce(sum(CASE WHEN m THEN y * x2 END), 0) AS w2,
         |         max(pw3) + coalesce(sum(CASE WHEN m THEN y * x3 END), 0) AS w3,
         |         CAST(count(*) FILTER (WHERE m) AS BIGINT) AS n_mis
         |  FROM ($inner))""".stripMargin
    }
    val epochs = (1 to PerceptronEpochs).map(n =>
      epoch(if (n == 1) None else Some(s"e${n - 1}"), n)).mkString(",\n")
    s"""f AS (
       |  SELECT doc_id,
       |         CAST(1 AS BIGINT) AS x0,
       |         CAST(len($toks) AS BIGINT) AS x1,
       |         CAST($stop AS BIGINT) AS x2,
       |         CAST(len(list_filter($toks, t -> length(t) >= 6)) AS BIGINT) AS x3,
       |         CAST(CASE WHEN len($toks) >= 20 AND $stop > 0
       |                   THEN 1 ELSE -1 END AS BIGINT) AS y
       |  FROM documents),
       |$epochs""".stripMargin
  }

  /** KMV sample size per source for p74's overlap matrix. */
  private def OverlapK: Int = 256

  /** Gopher-style stopword set for the quality gate (the synthetic corpus
    * carries 'the'/'a' as its function words). Defs, not vals: they are
    * referenced inside the `queries` val above, which initializes first.
    */
  private def QualityStopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** p30's quality-rule thresholds (word count band, ×100 mean word
    * length band, ×10⁴ stopword-ratio floor) — one owner shared with
    * p76's funnel so the standalone rule and the funnel's first gate can
    * never drift. Defs (queries-val init order).
    */
  private def QWordsMin: Int = 30
  private def QWordsMax: Int = 80
  private def QWlMin: Int = 300
  private def QWlMax: Int = 460
  private def QStopMin: Int = 200

  /** p19's repetition-gate ceilings (×10⁶ top-word share, top-bigram
    * share, duplicate-trigram share) — shared with p76's third gate.
    */
  private def RepTopWordMax: Long = 300000L
  private def RepTopBigramMax: Long = 180000L
  private def RepDupTrigramMax: Long = 300000L

  /** p77 hard-negative geometry: negatives returned per anchor, and the
    * near-dup cosine guard — candidates at or above it are likely
    * unlabeled duplicates of the anchor (the p10 near-dup threshold),
    * so they are excluded as probable false negatives.
    */
  private def HardNegK: Int = 3
  private def HardNegMaxCos: Double = 0.95

  /** PII patterns restricted to the Java-regex ∩ RE2 common subset. */
  private def PiiEmailRe: String = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
  private def PiiIpRe: String = "\\d+\\.\\d+\\.\\d+\\.\\d+"

  /** DuckDB list of byte values from a hex string column `hx` (uppercase).
    * A def, not a val: it is interpolated inside the `queries` val above,
    * which initializes first.
    */
  private def HexBytesSql: String =
    """list_transform(range(1, n_bytes + 1), i ->
      |  (strpos('0123456789ABCDEF', substring(hx, 2*i - 1, 1)) - 1) * 16 +
      |  (strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1))""".stripMargin

  /** Sentinel near-dup media planted into p125 ON BOTH ENGINES so the
    * driver gate exercises the match path at EVERY scale (the r13 nit:
    * no near-dup frames exist at sf0.01, so the gate row was a vacuous
    * 0 == 0 and correctness rested entirely on the sf1/sf10 certs).
    * Ids sit far above any real doc_id at EVERY scale (ScaleGen worlds
    * occupy k·10⁹ + orig, so 9·10¹¹ clears sf10's ~10¹¹ ceiling);
    * payloads are 40 bytes in four 10-byte quarters, built so A/B are
    * a FULL match (4 shared frames) and A/C, B/C are PARTIAL (frames
    * 0-1 only) — both output shapes exercised. The fixture is part of
    * p125's registered contract: the oracle unions the identical rows
    * (see [[mmFrameTableCte]]).
    */
  /** Floor of the fixture id range; p125 REQUIRES max real doc_id stay
    * below it at run time (ScaleGen worlds occupy k·10⁹ + orig, so the
    * base holds through ~sf90 — the guard makes the ceiling explicit
    * instead of silently corrupting the sentinels past it).
    */
  private[graft] def MmFixtureIdBase: Long = 900000000000L

  private[graft] def MmFixtureMedia: Seq[(Long, String)] = { // def: queries-val init order
    val q1 = "0123456789"
    Seq(
      (MmFixtureIdBase + 1, q1 * 4),
      (MmFixtureIdBase + 2, q1 * 4),
      (MmFixtureIdBase + 3, q1 + q1 + "ABCDEFGHIJ" + "KLMNOPQRST"))
  }

  private def MmFixtureValuesSql: String =
    MmFixtureMedia
      .map { case (id, tx) => s"($id, '$tx')" }
      .mkString("(VALUES ", ", ", ") v(doc_id, text)")

  private def MmFrameTableCte: String = mmFrameTableCte("documents")

  /** p125 passes the fixture-augmented source; p13 keeps the plain
    * corpus (the frame DUMP has no sentinel rows — the fixture belongs
    * to the near-dup contract only).
    */
  private def MmFrameTableCteWithFixture: String = mmFrameTableCte(
    s"(SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM $MmFixtureValuesSql)")

  /** The 4-frame media checksum table `fr(media_id, frame_no, offset,
    * frame_checksum)` — MultimodalOps.sampleFrames restated in SQL over
    * `src`, ONE owner for p13 (plain corpus) and p125 (fixture-
    * augmented), so the two can never disagree about frame identity.
    * A def (queries-val init order).
    */
  private def mmFrameTableCte(src: String): String =
    s"""h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |            octet_length(encode(text)) AS n_bytes FROM $src),
       |b AS (SELECT media_id, n_bytes, $HexBytesSql AS bytes FROM h),
       |f AS (SELECT media_id, n_bytes, bytes, unnest(range(4)) AS frame_no FROM b),
       |fr AS (SELECT media_id, CAST(frame_no AS INT) AS frame_no,
       |              CAST(frame_no * n_bytes // 4 AS BIGINT) AS offset,
       |              CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                bytes[(frame_no * n_bytes // 4 + 1):((frame_no + 1) * n_bytes // 4)]
       |              ), (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS frame_checksum
       |       FROM f)""".stripMargin
}
