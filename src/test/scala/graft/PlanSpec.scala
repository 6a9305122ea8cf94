package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Physical-plan assertions for the scale-critical queries: predicate/
  * projection pushdown reaching the parquet scan, broadcast only for the
  * fixed-size dims, and no all-pairs (cartesian / nested-loop) joins in the
  * LSH-routed similarity queries.
  */
class PlanSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def planOf(name: String): String = {
    val q = SparkEntry.queries(name)
    q(spark, sfDir).queryExecution.executedPlan.toString
  }

  "saltedBands" should "bound every (band, key, salt) bucket at BandBucketCap" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    // adversarial corpus: 2500 identical docs all land in the same band
    // buckets — without the salt the self-join would be O(n²) on one key
    val docs = (1 to 2500).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val sigs = docs
      .select(col("doc_id"), sort_array(ops.TextOps.tokenHashes(col("text"))).as("hashes"))
      .withColumn("bands", bandKeys(minHashSig(col("hashes")), PairBands))
    val sizes = saltedBands(sigs, "doc_id")
      .groupBy(col("band"), col("key"), col("salt")).count()
    sizes.agg(max(col("count"))).collect()(0).getLong(0) should be <= BandBucketCap.toLong
    // and the salt actually split the hot bucket (2500 docs > cap)
    sizes.filter(col("salt") > 0).count() should be > 0L
  }

  "q04_filter_scan" should "push filters and prune columns at the parquet scan" in {
    val plan = planOf("q04_filter_scan")
    plan should include("PushedFilters")
    plan should include regex "(?i)PushedFilters: \\[.*GreaterThan"
    // projection pruning: the scan must not read all 16 lineitem columns
    plan should include regex "ReadSchema: struct<l_orderkey"
    plan should not include "l_comment"
  }

  "q02_join_revenue" should "broadcast the fixed-size dims, never the SF-scaled customer" in {
    val plan = planOf("q02_join_revenue")
    plan should include("BroadcastHashJoin")
    // the fact-side joins shuffle on their keys; customer must not carry a
    // planner-forced broadcast hint from our code. (AQE may still choose a
    // broadcast at tiny SF — what we assert is the absence of the hint in
    // the optimized logical plan.)
    val logical = SparkEntry.queries("q02_join_revenue")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // exactly two user-forced broadcast hints: nation and region
    "(?i)ResolvedHint".r.findAllIn(logical).size should be <= 2
  }

  "p08_dd_ngram_nn" should "contain no cartesian or nested-loop join" in {
    val plan = planOf("p08_dd_ngram_nn")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p10_dd_embed_nn" should "contain no cartesian or nested-loop join" in {
    val plan = planOf("p10_dd_embed_nn")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "cef07_det_points" should "shuffle exactly once (the partition-key repartition)" in {
    val plan = planOf("cef07_det_points")
    // one Exchange for repartition(partition); the final orderBy adds a
    // rangepartitioning Exchange — allow those two, nothing more
    val exchanges = "Exchange".r.findAllIn(plan).size
    exchanges should be <= 2
  }

  "q03_topk" should "compile to TakeOrderedAndProject" in {
    planOf("q03_topk") should include("TakeOrderedAndProject")
  }

  "q19_band_join" should "bin the band predicate into a hash join (no nested loop)" in {
    val plan = planOf("q19_band_join")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include regex "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
  }

  "q16_asof" should "contain no join at all (union + window form)" in {
    val plan = planOf("q16_asof")
    plan should not include "Join"
    plan should include("Window")
    plan should include("Union")
  }

  "the shared near-dup pair table" should "survive a stale pair DataFrame executed after the grouping query" in {
    // p06's DataFrame wraps the memoized pair table, whose cache may be
    // dropped under it (an LRU eviction, clearCache, a sweepStart). A
    // persisted table recomputes from lineage after unpersist — build p06
    // first, run p15, THEN execute p06 (which must work whether the memo
    // is still warm or released).
    val p06 = SparkEntry.queries("p06_dd_minhash_pairs")(spark, sfDir)
    SparkEntry.queries("p15_dd_neardup_groups")(spark, sfDir).count() should be > 0L
    p06.count() should be > 0L
  }

  "p08/p10/p18 signature caches" should "not survive their query's execution" in {
    // each query persists its signature table for the duration of its own
    // action and auto-releases it via the execution-listener hook
    // (Release.afterFirstUse) — no storage block may outlive the query
    for (name <- Seq("p08_dd_ngram_nn", "p10_dd_embed_nn", "p18_dd_simhash_pairs",
        "p20_txt_tfidf")) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.queries(name)(spark, sfDir).count()
      // the listener bus delivers asynchronously — poll for the release
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100)
        leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      }
      withClue(s"$name leaked persistent RDDs: ") { leaked shouldBe empty }
    }
  }

  "Release.afterFirstUse" should "bound the listener population when cached DataFrames are never consumed" in {
    // a long-lived server issuing many unconsumed cached DataFrames must
    // not accumulate plan-scanning listeners forever: after MaxMisses
    // unrelated executions each abandoned listener expires, dropping its
    // cache (safe — recompute from lineage) and deregistering
    // earlier tests' listeners release asynchronously on the bus — drain
    // to a clean baseline first so their in-flight expiry doesn't race
    // this test's counts
    // expiry is execution-driven, and earlier tests may leave listeners
    // whose consumer never ran — drive unrelated executions until the
    // population empties (this IS the bounded-lifetime property)
    def drainTo(target: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (ops.Release.activeListeners > target && System.nanoTime() < deadline) {
        spark.range(3).selectExpr("sum(id)").collect()
        Thread.sleep(20)
      }
    }
    drainTo(0)
    ops.Release.activeListeners shouldBe 0
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val abandoned = (1 to 8).map(i => ops.Release.afterFirstUse(
      spark.range(100 + i).toDF("n")))
    ops.Release.activeListeners shouldBe 8
    drainTo(0)
    ops.Release.activeListeners shouldBe 0
    (spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore) shouldBe empty
    // expired ≠ broken: the DataFrame still computes (from lineage)
    abandoned.head.count() shouldBe 101L
  }

  "p18_dd_simhash_pairs" should "verify candidates on the band join itself (no join-backs)" in {
    val plan = planOf("p18_dd_simhash_pairs")
    // one self-join of the exploded band table, nothing else: the simhash
    // rides through the explode, so there is no join back to the
    // signature table for verification
    "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(plan).size shouldBe 1
  }

  "p20_txt_tfidf" should "feed both the score join and the df aggregation from the cached tf table" in {
    val plan = planOf("p20_txt_tfidf")
    // two InMemoryTableScans = both consumers read the persisted (doc,
    // term) counts; without the persist the df branch re-reads and
    // re-explodes the corpus (the plan-string FileScan count is not
    // usable here: each cache reference embeds the build plan's scan)
    "InMemoryTableScan".r.findAllIn(plan).size shouldBe 2
  }

  "p21_sample_stratified" should "be map-only: the seeded-hash predicate runs in the scan stage" in {
    val plan = planOf("p21_sample_stratified")
    // the only exchange is the range partitioning for the ordered output
    "Exchange".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
  }

  "p24_filter_compose" should "fuse the whole cleaning chain into window + scan stages (no join)" in {
    val plan = planOf("p24_filter_compose")
    plan should not include "Join"
    // canonical-id window + ordered output; repetition + sampling stages
    // ride the scan, so two exchanges is the whole plan
    "Exchange".r.findAllIn(plan).size should be <= 2
  }

  "p25_txt_dropfreq" should "rewrite map-only: the frequent set rides the scan stage as a literal" in {
    val plan = planOf("p25_txt_dropfreq")
    // the df aggregation runs at build time (driver-collected bounded
    // set); the RETURNED plan is scan → project → sort, no join
    plan should not include "Join"
    "Exchange".r.findAllIn(plan).size shouldBe 1 // the orderBy range exchange
  }

  "p26_txt_lm_quality" should "broadcast the alphabet-bounded LM, never the corpus" in {
    val plan = planOf("p26_txt_lm_quality")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the LM side (bigram count table, |charset|²-bounded) builds the
    // broadcast; the scoring pass streams the exploded corpus through it
    plan should include("BroadcastHashJoin")
    plan should include("charbigrams") // the fused kernel, not the HOF chain
  }

  "p27_dd_dupspans" should "join duplicated fingerprints back without a cartesian" in {
    val plan = planOf("p27_dd_dupspans")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // both consumers read the persisted window table (signature-cache
    // discipline), not two separate rolling-hash corpus passes
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
  }

  "p28_embed_truncate" should "fold per-row in the scan stage (map-only)" in {
    val plan = planOf("p28_embed_truncate")
    plan should not include "Join"
    "Exchange".r.findAllIn(plan).size shouldBe 1 // the orderBy range exchange
  }

  "p16_txt_normalize" should "dedup via one window shuffle, no self-join" in {
    val plan = planOf("p16_txt_normalize")
    // the canonical id is a window min over the fingerprint: no join back
    // to the normalized table (which would recompute the normalization
    // chain on both sides)
    plan should not include "Join"
    plan should include("Window")
  }

  "p17_txt_decontaminate" should "broadcast the benchmark shingles against the corpus" in {
    val plan = planOf("p17_txt_decontaminate")
    // the benchmark side is broadcast; the corpus is scanned, never
    // shuffled with its text payload
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  "p37_bloom_decontaminate" should "broadcast the bit table and the benchmark set, never the corpus" in {
    val plan = planOf("p37_bloom_decontaminate")
    // both the ≤4096-row bit table and the exact-leg benchmark set ride
    // as broadcasts; the corpus only shuffles sketch-sized count rows
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p38_hll_distinct" should "aggregate registers map-side with no join on the corpus path" in {
    val plan = planOf("p38_hll_distinct")
    // the only join is the final ≤|sources|-row sketch ⋈ exact table;
    // the corpus path is explode → partial agg → one shuffle
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // map-side partial aggregation before the register shuffle
    plan should include regex "(?i)HashAggregate.*partial"
  }

  "p39_inverted_index" should "build as pure aggregation — no join, bounded exchanges" in {
    val plan = planOf("p39_inverted_index")
    plan should not include "Join"
    // (term,doc) agg → (term,block) agg → output order: ≤3 exchanges
    "Exchange".r.findAllIn(plan).size should be <= 3
  }

  "p40_bm25_probes" should "prune to the probe terms before aggregating, never cartesian the corpus" in {
    val plan = planOf("p40_bm25_probes")
    plan should not include "CartesianProduct"
    // df and corpus stats ride as broadcasts; the only nested-loop join
    // is the single-row stats crossJoin
    plan should include("BroadcastHashJoin")
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 1
    // the probe-vocabulary filter applies in the explode stage (a
    // derived column can't reach PushedFilters, but it must exist
    // before the first aggregation)
    plan should include regex "(?i)Filter.*term"
  }

  "p14_sim_ivf_topk" should "cross only against the K-row centroid table, equi-join on the cell" in {
    val plan = planOf("p14_sim_ivf_topk")
    // the only nested-loop joins are the broadcasts against the K-row
    // centroid table (assignment + probe ranking); candidate scoring is
    // an equi-join on the cell id — never corpus x corpus
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 2
    plan should not include "CartesianProduct"
    // probe-to-assignment join carries the cluster equi-key
    plan should include regex "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin).*cluster"
  }

  "p41_dd_semdedup" should "cross only against the centroid broadcast; pair scan is cluster-keyed" in {
    val plan = planOf("p41_dd_semdedup")
    // the assignment table feeds three consumers — it must come from the
    // persisted argmax (every textual BroadcastNestedLoopJoin occurrence
    // sits INSIDE the InMemoryRelation repr, so the centroid cross runs
    // once, at cache build), and the intra-cluster pair scan must be an
    // equi-join on the cluster id (never corpus x corpus)
    plan should include ("InMemoryTableScan")
    // every textual BNLJ occurrence is a reprint of the cached argmax
    // plan (one per InMemoryRelation reference) — none outside it
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <=
      "InMemoryRelation".r.findAllIn(plan).size
    plan should not include "CartesianProduct"
    plan should include regex "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin).*cluster"
  }

  "p43_sim_pq_topk" should "encode and ADC-scan map-side — one bounded NL join, one exchange" in {
    val plan = planOf("p43_sim_pq_topk")
    // the codebook is a driver-collected literal, so encode and the
    // per-query LUT are map-side; the only join is the ADC scan's
    // BroadcastNestedLoopJoin whose build side is the Q-row LUT table
    // (query-count-bounded, never corpus-sized), and the only exchange
    // in the ranked plan is the top-k window's hashpartitioning
    plan should not include "CartesianProduct"
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size shouldBe 1
    // shuffles: window hashpartitioning + the registered orderBy's
    // rangepartitioning only (the third Exchange match is the LUT's
    // BroadcastExchange — data movement bounded by the query count)
    "Exchange (hash|range)partitioning".r.findAllIn(plan).size should be <= 2
    plan should not include "SortMergeJoin"
  }

  "p42's merge loop" should "never touch the corpus after the single word-count pass" in {
    // bpeMerges' registered result is a driver-built local table, so the
    // loop's scale shape is pinned on its factored step plans instead:
    // after bpeWordStates (the one corpus pass) is checkpointed, both
    // per-step plans must read ONLY the vocabulary-bounded RDD — a
    // parquet scan appearing in either means the loop re-reads the
    // corpus every merge.
    val docs = Tables(spark, sfDir, "documents")
    val wcPlan = graft.ops.TextOps.bpeWordStates(docs, "text")
      .queryExecution.executedPlan.toString
    "parquet".r.findAllIn(wcPlan).size should be >= 1 // the corpus pass itself
    val words = graft.ops.TextOps.bpeWordStates(docs, "text").localCheckpoint(true)
    try {
      val best = graft.ops.TextOps.bpeBestPair(words)
        .queryExecution.executedPlan.toString
      best should not include "parquet"
      best should include("ExistingRDD") // reads the checkpointed vocab only
      best should include("TakeOrderedAndProject") // the 1-row argmax collect
      val rewrite = graft.ops.TextOps.bpeApplyMerge(words, "a", "b")
        .queryExecution.executedPlan.toString
      rewrite should not include "parquet"
      rewrite should not include "Exchange" // map-only rewrite, no shuffle
    } finally org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(words)
  }

  "p48's batched merge round" should "keep the p42 shape: vocab-only reads, one map-only combined rewrite" in {
    // the batched loop reuses bpeWordStates' single corpus pass; each
    // ROUND is then one top-slice collect over the checkpointed vocab
    // plus ONE combined rewrite for the whole batch — a parquet scan or
    // an Exchange in either step plan breaks the launch-cost story
    val docs = Tables(spark, sfDir, "documents")
    val words = graft.ops.TextOps.bpeWordStates(docs, "text").localCheckpoint(true)
    try {
      import org.apache.spark.sql.functions.col
      val top = graft.ops.TextOps.bpePairCounts(words)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(17)
        .queryExecution.executedPlan.toString
      top should not include "parquet"
      top should include("ExistingRDD")
      top should include("TakeOrderedAndProject") // the model-sized top-slice collect
      val rewrite = graft.ops.TextOps
        .bpeApplyMerges(words, Seq(("a", "b"), ("c", "d"), ("e", "f")))
        .queryExecution.executedPlan.toString
      rewrite should not include "parquet"
      rewrite should not include "Exchange" // the whole batch is one map-only projection
    } finally org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(words)
  }

  "p45_txt_bpe_encode" should "join the corpus only through broadcasts (vocab side never shuffles docs)" in {
    val plan = planOf("p45_txt_bpe_encode")
    // the merge chain rewrites the distinct-word table; documents meet
    // it through ONE broadcast equi-join on `word` — a SortMergeJoin
    // here would shuffle the full corpus explode against the vocabulary
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p44_dsir_select" should "feed LM build and scoring from ONE persisted explode; LM rides a broadcast" in {
    val plan = planOf("p44_dsir_select")
    // the ×L bigram explode is persisted and consumed twice (LM
    // aggregation + scoring join) — two InMemoryTableScans, not two
    // corpus explodes; the alphabet²-bounded LM joins back as a
    // broadcast, never shuffling the corpus against it
    "InMemoryTableScan".r.findAllIn(plan).size shouldBe 2
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("charbigrams") // the fused kernel feeds the cache
  }

  "p52_dd_chunk_dedup" should "find first occurrences by aggregation, never a window over the chunk hash" in {
    val plan = planOf("p52_dd_chunk_dedup")
    // a Window over the md5 key would pile every occurrence of a hot
    // boilerplate chunk into ONE partition; the argmin must be a
    // partially-aggregable groupBy and the join back an equi join
    plan should not include "Window"
    plan should include regex "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p53_sim_hybrid_rrf" should "broadcast only the bounded query set; the corpus side stays equi-joined" in {
    val plan = planOf("p53_sim_hybrid_rrf")
    // ONE nested-loop join is the design: the fixed query set rides a
    // broadcast across a single corpus scan (p09's brute-force shape);
    // the corpus↔sidecar link must be an equi join, never all-pairs
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size shouldBe 1
    plan should not include "CartesianProduct"
    plan should include regex "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
  }

  "p54_embed_rp" should "stay map-only: no joins, no aggregates, only the output sort exchanges" in {
    val plan = planOf("p54_embed_rp")
    plan should not include "Join"
    plan should not include "HashAggregate"
    // two exchanges by design (r16): the Tables.wide scan fan-out
    // (RoundRobin — the projection fold is the query's whole cost and
    // must not run on the single-split scan task) and the registered
    // query's output ORDER BY. Anything further means a join or
    // aggregate crept in.
    "Exchange".r.findAllIn(plan).size should be <= 2
    plan should include ("RoundRobinPartitioning")
  }

  "p56_dd_substr_scrub" should "share one persisted fingerprint table; argmin by aggregation, all joins equi" in {
    val plan = planOf("p56_dd_substr_scrub")
    // the rolling-fingerprint table feeds BOTH the min+count agg and the
    // dup-instance join — persisted, not re-derived from the corpus
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
    plan should not include "Window"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p57_ngram_heavyhitters" should "filter candidates map-side against sketch literals, never a join" in {
    val plan = planOf("p57_ngram_heavyhitters")
    // the sketch rides into the scan as array literals: the candidate
    // filter and min-of-rows estimate are pure projections — any Join
    // here means the sketch was joined instead of broadcast-embedded
    plan should not include "Join"
    plan should not include "CartesianProduct"
    plan should include("HashAggregate") // only the candidate-bounded exact count
  }

  "p58_txt_feature_hash" should "stay two keyed aggregations + one equi join, no window" in {
    val plan = planOf("p58_txt_feature_hash")
    plan should not include "Window"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include regex "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
  }

  "p59_dd_ingest_gate" should "probe the bloom via broadcast and reuse both persisted chunk tables" in {
    val plan = planOf("p59_dd_ingest_gate")
    // the bit set rides a broadcast into the batch-chunk scan; the
    // existing-key table and the batch-chunk table each feed two
    // consumers from their caches rather than re-deriving the corpus
    plan should include("BroadcastHashJoin")
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p60_sim_knn_graph" should "build edges bucket-locally and reuse the edge list for mutuality" in {
    val plan = planOf("p60_sim_knn_graph")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the k·N edge list is persisted and consumed twice (forward +
    // reverse side of the mutuality join)
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
  }

  "p83_graph_pagerank" should "iterate as keyed equi joins over cached graph state — never all-pairs" in {
    val plan = planOf("p83_graph_pagerank")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the shared mutual-edge memo plus the loop-invariant (node, deg)
    // tables are persisted — each PageRank round reads caches, it never
    // re-derives the LSH chain
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
  }

  "p84_graph_kcore" should "peel with one cached-edge join per round — never all-pairs" in {
    val plan = planOf("p84_graph_kcore")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the edge memo + each round's alive set come from caches; round 1
    // is a degree filter with no join at all
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
  }

  "p85_graph_walks" should "advance the walk frontier by cached-edge equi joins — never all-pairs" in {
    val plan = planOf("p85_graph_walks")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // each step reads the shared edge memo + the persisted frontier;
    // the neighbor choice is a keyed min aggregation, not a sort
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
  }

  "p86_graph_triangles" should "close wedges with keyed joins over the cached oriented edges — never all-pairs" in {
    val plan = planOf("p86_graph_triangles")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
  }

  "p62_mix_select" should "join the class cumsum and quotas as broadcasts; doc windows stay class-local" in {
    val plan = planOf("p62_mix_select")
    // the (lang, score)-class table and the per-lang quota table ride
    // broadcasts back onto the doc scan — a SortMergeJoin here would
    // shuffle the corpus against model-sized state
    "BroadcastHashJoin".r.findAllIn(plan).size should be >= 2
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // the doc-level window partitions on (lang, score) — the bounded
    // class — never on lang alone (the whole-domain sort this design
    // exists to avoid)
    plan should include regex "Window.*lang[#0-9L]*, score"
  }

  "p46_txt_novelty" should "shuffle fingerprints once into a shared table; all joins equi" in {
    val plan = planOf("p46_txt_novelty")
    // the exploded shingle table is persisted and feeds BOTH the
    // first-owner aggregation and the attribution join — re-deriving it
    // would double the corpus-scale fingerprint work
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include regex "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
  }

  "p63_sample_weighted" should "be a shuffle-free per-partition top-k (TakeOrderedAndProject)" in {
    val plan = planOf("p63_sample_weighted")
    // the whole point of order sampling: the corpus is NEVER sorted or
    // shuffled — each task ships its k best priorities to the driver
    plan should include("TakeOrderedAndProject")
    plan should not include "Exchange"
  }

  "p65_group_quantiles" should "read only (lang, n_chars) and never sort or shuffle doc rows" in {
    val plan = planOf("p65_group_quantiles")
    // the histogram design: the scan must prune to the two tiny columns
    // (reading `text` here would be a 100 TB scan for a 20-row answer)
    plan should include("ReadSchema: struct<lang:string,n_chars:bigint")
    plan should not include "text"
    // the only corpus-wide operator is the partially-aggregable
    // histogram groupBy; the window/cumsum runs over histogram rows
    plan should not include "CartesianProduct"
  }

  "p64_contaminate_score" should "probe the benchmark shingle set via broadcast; the corpus never self-joins" in {
    val plan = planOf("p64_contaminate_score")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the shingle table is persisted and feeds the benchmark set, the
    // hit counting AND the per-doc gram sizes from one computation
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
  }

  "p66_source_drift" should "keep all joins equi/broadcast off one persisted (source, word) count" in {
    val plan = planOf("p66_source_drift")
    // sc feeds cc, ns and the term sum — one corpus-scale count, three
    // cached reads; totals ride broadcasts (sources are bounded)
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
    plan should not include "CartesianProduct"
  }

  "p68_txt_collocations" should "end in a per-partition top-k with only equi joins" in {
    val plan = planOf("p68_txt_collocations")
    // the collocation table is vocabulary-bounded but still unsorted —
    // the final ranking must be TakeOrderedAndProject, never a global sort
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p69_dd_minhash_calibration" should "serve the band explode and both join-backs from one signature cache" in {
    val plan = planOf("p69_dd_minhash_calibration")
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p67_sim_cluster_stats" should "never go all-pairs: LSH-bucketed edges, equi joins throughout" in {
    val plan = planOf("p67_sim_cluster_stats")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p71_embed_outliers" should "broadcast the centroid table and end in a per-partition bottom-k" in {
    val plan = planOf("p71_embed_outliers")
    // the K-row centroid table rides a broadcast against one corpus
    // scan; the outlier report is TakeOrdered, never a global sort
    plan should include("BroadcastNestedLoopJoin") // K-row cross join by design
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  "p73_quality_auc" should "score via a model-row broadcast and rank over the histogram only" in {
    val plan = planOf("p73_quality_auc")
    // the (epochs × 5)-cell weight table rides a broadcast over one
    // feature scan; the corpus collapses to a (epoch, margin) histogram
    // before any sort — a SortMergeJoin or corpus-scale Window here
    // would shuffle rows the rank-sum never needs
    plan should include("BroadcastNestedLoopJoin") // epoch-weights cross join by design
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  "p74_source_overlap" should "keep everything past the per-source sketch on broadcast joins" in {
    val plan = planOf("p74_source_overlap")
    // corpus-scale work ends at the distinct agg + per-source bottom-k;
    // the pairwise merge joins sources² × k sketch rows — broadcast,
    // never a corpus shuffle join, and the corpus never self-joins
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // the sketch is persisted once and feeds both sides of the pair tag
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
  }

  "p75_dd_canonical" should "decide keeps in one keyed agg — no per-group window, no all-pairs" in {
    val plan = planOf("p75_dd_canonical")
    // the argmax is max(struct(n_chars, -id)) inside the group agg; a
    // row_number window here would re-sort every cluster's rows
    plan should not include "Window"
    plan should not include "CartesianProduct"
  }

  "p76_pipeline_funnel" should "compute all three gates in one join-free corpus scan" in {
    val plan = planOf("p76_pipeline_funnel")
    // every gate verdict is a per-row array expression over ONE scan of
    // documents; a join or window here would mean a gate ran as its own
    // corpus pass
    plan should not include "Join"
    plan should not include "Window"
    "Scan parquet".r.findAllIn(plan).size should be <= 1
    // doc_id is never needed — the scan must prune it
    plan should not include "doc_id"
  }

  "p77_sim_hard_negatives" should "route candidates through salted LSH buckets, never all-pairs" in {
    val plan = planOf("p77_sim_hard_negatives")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the label-mismatch filter applies before the cosine top-k window
    plan should include("Window")
  }

  "p79_dd_winnow" should "select fingerprints inside the row — no window shuffle, no self-join" in {
    val plan = planOf("p79_dd_winnow")
    // the SQL-window formulation would shuffle every gram hash; the
    // per-row array formulation keeps selection in the scan stage
    plan should not include "Window"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "cef49_streaming_drift" should "compare against a broadcast reference — never shuffle the corpus twice" in {
    val plan = planOf("cef49_streaming_drift")
    // the qb-row global histogram rides a broadcast against the per-key
    // snapshot explode; a SortMergeJoin here would shuffle sketch rows
    // on a 64-value key
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  "p80_lm_backoff" should "persist the bigram explode and unigram model — two corpus scans total" in {
    val plan = planOf("p80_lm_backoff")
    // the bigram explode feeds both the model build and the scoring
    // join from ONE persisted pass; uni feeds both join legs + the
    // token total. Without the persists this plan scans documents 4×.
    // (A cached relation's displayed subtree still prints its FileScan,
    // so count the cache READS: 2 pairs consumers + 3 uni consumers.)
    ("InMemoryTableScan".r.findAllIn(plan).size) should be >= 5
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  "p81_sq_audit" should "broadcast the per-dim quantizer stats back over one error scan" in {
    val plan = planOf("p81_sq_audit")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // two corpus passes are inherent (train the quantizer, measure the
    // error); anything more means the stats weren't reused
    ("FileScan parquet".r.findAllIn(plan).size) shouldBe 2
  }

  "p82_dup_density" should "reuse the persisted fingerprint stream — no extra winnowing pass" in {
    val plan = planOf("p82_dup_density")
    // the fingerprint stream is persisted by winnow and consumed by
    // both the nd aggregation and the per-doc fold
    ("InMemoryTableScan".r.findAllIn(plan).size) should be >= 2
    plan should not include "Window"
    plan should not include "CartesianProduct"
  }

  "p78_bpe_fertility" should "broadcast the vocabulary stats — the token stream never materializes" in {
    val plan = planOf("p78_bpe_fertility")
    // the corpus meets the merge chain only through the broadcast
    // vocabulary join; per-(source,lang) counts partial-aggregate
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // no posexplode of subtokens anywhere — that is p49's job
    plan should not include "posexplode"
  }

  "p87_txt_vocab_growth" should "collapse to conditional aggregates — one explode, no corpus join" in {
    val plan = planOf("p87_txt_vocab_growth")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // the id-range checkpoints ride single-row broadcasts; vocabulary
    // comes from ONE (source, word) first-occurrence aggregation
    plan should include("HashAggregate")
  }

  "p89_dd_threshold_sweep" should "probe the shared pair memo with a bounded broadcast threshold join" in {
    val plan = planOf("p89_dd_threshold_sweep")
    plan should not include "CartesianProduct"
    // the 6-row threshold table is the BNLJ build side (the p53
    // bounded-query discipline); the pair population comes from the
    // calibPairs cache, not a rebuilt band join
    plan should include("BroadcastNestedLoopJoin")
    plan should include("InMemoryTableScan")
  }

  "p91_embed_centroid_shift" should "derive label and global centroids from ONE explode agg" in {
    val plan = planOf("p91_embed_centroid_shift")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // the labels×64 sum table is persisted and reused by every branch
    // (per-label centroids, global centroid, counts)
    plan should include("InMemoryTableScan")
    plan should include("BroadcastHashJoin")
  }

  "p93_len_mad_outliers" should "run order statistics over the bounded histogram only" in {
    val plan = planOf("p93_len_mad_outliers")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // both cumulative windows partition on source OVER HISTOGRAM ROWS;
    // the group aggregates ride broadcasts back onto histogram cells
    plan should include("Window")
    plan should include("BroadcastHashJoin")
    plan should include("InMemoryTableScan")
    // the r15 fusion: only the VALUE histogram is cached, read exactly
    // twice (median pass + deviation build) — the r14 shape also cached
    // the deviation histogram and read the pair five times across four
    // jobs for a 20-row result
    plan.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") shouldBe 2
  }

  "p95_dd_simhash_calibration" should "form candidates bucket-locally — never all-pairs" in {
    val plan = planOf("p95_dd_simhash_calibration")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "p101_curriculum_stages" should "stage from the score histogram — window over histogram rows, broadcast boundaries" in {
    val plan = planOf("p101_curriculum_stages")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // the cumulative window and both joins (per-source totals, stage
    // boundaries) run over the persisted (source, score) histogram —
    // the corpus is touched exactly once, by the histogram aggregation
    plan should include("Window")
    plan should include("BroadcastHashJoin")
    plan should include("InMemoryTableScan")
  }

  "p102_txt_simpson" should "collapse to one explode aggregation — no joins anywhere" in {
    val plan = planOf("p102_txt_simpson")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("HashAggregate")
  }

  "p103_sim_dim_recall" should "broadcast the probe set against one corpus scan — never corpus x corpus" in {
    val plan = planOf("p103_sim_dim_recall")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // probe x corpus is the bounded-query BNLJ (20 rows build side); the
    // full-dim/truncated overlap join rides the persisted top-k table
    plan should include("BroadcastNestedLoopJoin")
    plan should include("InMemoryTableScan")
  }

  "p106_dd_bbit_minhash" should "ride the shared calibration memo — no rebuilt band join" in {
    val plan = planOf("p106_dd_bbit_minhash")
    plan should not include "CartesianProduct"
    // the sampled pair population comes from the calibPairs cache (the
    // p69/p89 memo), so the only work is a decile rollup over it
    plan should include("InMemoryTableScan")
  }

  "p107_split_leakage_rate" should "join splits onto the memoized pair table — never all-pairs" in {
    val plan = planOf("p107_split_leakage_rate")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // split labels are a map-only hash over the slim (doc_id) projection;
    // both join-backs are keyed; the single nested-loop join is the
    // 1-row total broadcast onto the <=9-row rollup
    plan should include("InMemoryTableScan")
  }

  "p104_txt_zipf_ranks" should "rank within the per-source vocabulary aggregate — no corpus window" in {
    val plan = planOf("p104_txt_zipf_ranks")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    plan should include("Window")
    plan should include("HashAggregate")
  }

  "p109_sim_rank_agree" should "keep the p14 IVF contract — centroid broadcasts only, cluster-keyed scoring" in {
    val plan = planOf("p109_sim_rank_agree")
    plan should not include "CartesianProduct"
    // exact side: one bounded probe-set BNLJ (p09's contract); IVF side:
    // centroid-table broadcasts (assignment + probe ranking)
    plan should include regex "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin).*cluster"
  }

  "p110_dd_cdc_chunks" should "chunk inside the row and dedup via one keyed join — no windows, never all-pairs" in {
    val plan = planOf("p110_dd_cdc_chunks")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the rolling hash + boundary rule is doc-local, computed with array
    // higher-order functions inside each row — NO token explode, NO
    // doc-partitioned window, no shuffle before chunks exist;
    // first-occurrence is an aggregation over the persisted chunk
    // table, joined back by chunk key
    plan should not include "Window"
    plan should include("InMemoryTableScan")
  }

  "p112_sim_ivf_cells" should "assign via the centroid broadcast only, then a K-row rollup" in {
    val plan = planOf("p112_sim_ivf_cells")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // one BNLJ against the broadcast K-row centroid table (the p14
    // contract, printed twice — inline and in the persisted cell
    // table's lineage) plus the 1-row totals cross; the join back onto
    // cent is a broadcast hash join on the cluster key
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 3
    plan should include regex "BroadcastHashJoin.*cluster"
    plan should include("InMemoryTableScan")
  }

  "p113_pack_stats" should "cost the packer plus a buckets-sized rollup — one shuffle, no joins" in {
    val plan = planOf("p113_pack_stats")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("HashAggregate")
  }

  "p114_pack_curriculum" should "stage via broadcast boundaries and pack with one keyed shuffle" in {
    val plan = planOf("p114_pack_curriculum")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastNestedLoopJoin"
    // staging: histogram window + sources-sized boundary broadcast onto
    // the persisted per-doc table; packing: the single key repartition
    plan should include("Window")
    plan should include("BroadcastHashJoin")
    plan should include("InMemoryTableScan")
    plan should include regex "Exchange hashpartitioning\\(bucket"
  }

  "p111_sim_coreset" should "gate the sample in the scan stage and run greedy bucket-locally — no joins" in {
    val plan = planOf("p111_sim_coreset")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    plan should not include "BroadcastNestedLoopJoin"
    // the seeded 1-in-4 sample predicate runs against the scan output,
    // before the single bucket shuffle into the greedy groups
    plan should include regex "(?i)Filter.*polyhash"
  }

  "p116_mix_unimax" should "fold on the driver over the sources-sized table only — the result is local" in {
    // the distributed leg (per-source token agg) is collected at 20
    // rows (model-sized); the returned frame must be a LocalTableScan
    // sort, never a corpus-side join or shuffle chain
    val plan = planOf("p116_mix_unimax")
    plan should include("LocalTableScan")
    plan should not include "Join"
    plan should not include "FileScan"
  }

  "p117_txt_char_entropy" should "be two keyed aggregations — no joins, histogram state alphabet-bounded" in {
    val plan = planOf("p117_txt_char_entropy")
    plan should not include "CartesianProduct"
    plan should not include "Join"
    plan should not include "Window"
    "HashAggregate".r.findAllIn(plan).size should be >= 2
  }

  "p118_src_cusum" should "broadcast the 1-row reference level and run per-source ordered windows" in {
    val plan = planOf("p118_src_cusum")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // the global constant rides a 1-row broadcast; the CUSUM closed
    // form is two source-partitioned running windows — never a
    // whole-corpus single partition
    plan should include("BroadcastNestedLoopJoin")
    plan should include("Window")
    plan should include regex "windowspecdefinition\\(source"
  }

  "p119_dd_edit_verify" should "verify over the shared pair memo only — never corpus×corpus" in {
    val plan = planOf("p119_dd_edit_verify")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the candidate set is the shared ≥0.9 memo (its lifecycle is pinned
    // by SessionMemoSpec; by this point in a full suite run the memo may
    // legitimately have been dropped, so the pin here is the join SHAPE,
    // not the cache);
    // texts join in by id, the DP runs per candidate row (r14: the
    // banded exact kernel replaced functions.levenshtein — value-
    // identical, ExprSpec-pinned, O(k·len) on the ≥0.9 candidates)
    plan should include("levexact")
    plan should include regex "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
  }

  "p121_split_apportion" should "window over the cells table only — one corpus agg, no joins" in {
    val plan = planOf("p121_split_apportion")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    // the whole-table windows run on the (source, lang) CELLS aggregate
    // (model-sized); the only corpus-scale work is that one HashAggregate
    plan should include("Window")
    plan should include("HashAggregate")
  }

  "p122_txt_good_turing" should "compose the shared (source, word) count memo — no joins, no windows" in {
    val plan = planOf("p122_txt_good_turing")
    plan should not include "CartesianProduct"
    plan should not include "Join"
    plan should not include "Window"
    plan should include("InMemoryTableScan")
  }

  "p123_emb_split_half" should "explode into a (label, dim) agg and window only the model-sized table" in {
    val plan = planOf("p123_emb_split_half")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    // the half-size table broadcasts onto the (label×dim) aggregate;
    // the argmax window partitions by label over that tiny table
    plan should include("BroadcastHashJoin")
    plan should include regex "windowspecdefinition\\(label"
  }

  "q21_local_supplier" should "broadcast the fixed dims and never go cartesian on the 6-table cycle" in {
    val plan = planOf("q21_local_supplier")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // nation/region are force-broadcast; the co-nationality predicate
    // must ride the supplier equi-join, not a post-join filter scan
    plan should include("BroadcastHashJoin")
  }

  "q22_unpivot" should "lower the melt to a single Expand over the wide aggregate" in {
    val plan = planOf("q22_unpivot")
    plan should not include "CartesianProduct"
    plan should include("Expand")
  }

  "q23_grouping_sets" should "lower to one Expand + one aggregate — not a union of groupBys" in {
    val plan = planOf("q23_grouping_sets")
    plan should not include "Union"
    plan should include("Expand")
    plan should include("HashAggregate")
  }

  "p126_len_mw_u" should "rank over the histogram only — one corpus agg, windows on the model-sized table" in {
    val plan = planOf("p126_len_mw_u")
    plan should not include "CartesianProduct"
    plan should not include "Join"
    // the U statistic reads the (source, n_chars) HISTOGRAM — the
    // running-rank window partitions by source over that bounded table,
    // never over corpus rows
    plan should include regex "windowspecdefinition\\(source"
    plan should include("HashAggregate")
  }

  "p125_mm_frame_neardup" should "bucket-join on (frame_no, checksum) — never all-pairs" in {
    val plan = planOf("p125_mm_frame_neardup")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the self-join keys on the frame identity (equi-join) — the media
    // population never crosses itself unbucketed
    plan should include regex "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin).*frame"
  }

  "p124_sim_nprobe_sweep" should "run ONE assignment pass for all probe settings — no per-setting rescans" in {
    val plan = planOf("p124_sim_nprobe_sweep")
    plan should not include "CartesianProduct"
    // the settings explode AFTER the shared assignment + candidate
    // cosines, so the scan/broadcast counts are CONSTANT in the number
    // of probe settings (4 here): assignment BNLJ + probe-rank BNLJ +
    // bruteTopK's bounded-query BNLJ + the 4-row settings frame — and
    // 8 fixed corpus scans, NOT one per setting. (The remaining joins
    // ride model-sized eval tables; AQE broadcasts them at runtime.)
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 4
    "FileScan parquet".r.findAllIn(plan).size should be <= 8
  }

  "p100_corpus_health" should "compute the dup leg in one windowed pass — no persist, no join-back" in {
    val plan = planOf("p100_corpus_health")
    // r14 shape: a min-over-fingerprint window replaces the persisted
    // fp table + first-occurrence agg + join-back, so the dup leg is a
    // single scan→window→agg chain with no InMemoryRelation of its own
    // (the r13 pin asserted the persist; the persist itself was the
    // in-sweep driver-job overhead p100 was paying for)
    plan should include("Window")
    plan should not include "CartesianProduct"
    // the fp window must not have resurrected a second text scan: the
    // only joins left are the model-sized broadcast assemblies
    "SortMergeJoin".r.findAllIn(plan).size shouldBe 0
  }

  "q24_corr_subquery" should "decorrelate into one aggregate + join — never per-row re-execution" in {
    val plan = planOf("q24_corr_subquery")
    // RewriteCorrelatedScalarSubquery must have lowered the correlated
    // avg into a grouped aggregate joined back on l_partkey: no
    // cartesian/nested-loop, and exactly two lineitem scans (the fact
    // pass + the decorrelated aggregate), not one per outer row
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("HashAggregate")
    "FileScan parquet".r.findAllIn(plan).size should be <= 3 // 2x lineitem + part
  }

  // ------------- the scan fan-out's PRODUCTION no-op (r16 VERDICT Next #7)

  "Tables.wide" should "leave a size-above-threshold directory-backed read untouched" in {
    // a multi-part dataset whose DATA size exceeds the per-task floor ×
    // cores must never gain the RoundRobin fan-out — this is exactly the
    // scale case, where big tables split on their own. It also pins the
    // r16 ADVICE directory-size fix: Files.size(dir) returns the inode
    // size (~bytes), which would have misclassified this table as small.
    val sparkS = spark
    import sparkS.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-widegate")
    try {
      (1 to 20000).map(i => (i.toLong, s"row $i payload #$i")).toDF("id", "s")
        .repartition(3).write.parquet(dir.resolve("big.parquet").toString)
      spark.conf.set(Tables.SmallScanBytesPerTaskKey, "1024") // floor: 2 KB on local[2]
      val plan = Tables.wide(spark, dir.toString, "big")
        .queryExecution.executedPlan.toString
      plan should not include "RoundRobinPartitioning"
    } finally {
      spark.conf.unset(Tables.SmallScanBytesPerTaskKey)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  it should "reject a malformed per-task-bytes conf with an error naming the key" in {
    spark.conf.set(Tables.SmallScanBytesPerTaskKey, "banana")
    try {
      val e = intercept[IllegalArgumentException] {
        Tables.wide(spark, sfDir, "documents")
      }
      e.getMessage should include(Tables.SmallScanBytesPerTaskKey)
    } finally spark.conf.unset(Tables.SmallScanBytesPerTaskKey)
  }
}
