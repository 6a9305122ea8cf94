package graft.ops

import graft.cef.spark.Keyed
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sequence packing for training-data assembly: place documents into
  * fixed-token-budget bins (the "example packing" step before LLM
  * pretraining batches). Global greedy packing is inherently sequential,
  * so the distributed form is BUCKET-LOCAL greedy: documents hash into
  * `buckets` independent streams, each packed greedily in doc-id order.
  * This is the standard shard-local packing real pipelines use — bin
  * quality is within one doc of first-fit, and every bucket packs in
  * parallel.
  *
  * Scale shape: ONE shuffle (repartition on bucket) followed by Spark's
  * EXTERNAL sort within partitions and a streaming mapPartitions — the
  * greedy scan holds O(1) state per bucket and never materializes a
  * bucket in memory, so bucket size is bounded by disk, not heap.
  * `buckets` is the parallelism knob: at 100 TB raise it so each bucket
  * sorts comfortably (the greedy itself is O(n)).
  */
object PackOps {

  /** Returns (doc_id, bucket, n_tok, bin_id): greedy packing of each
    * bucket's docs (in doc_id order) into bins of at most `budget`
    * tokens; a document larger than the budget occupies a bin alone.
    */
  def packGreedy(
      docs: DataFrame,
      idCol: String,
      nTokCol: String,
      buckets: Int,
      budget: Long): DataFrame =
    packGreedyBy(
      docs.withColumn("__bucket", pmod(col(idCol).cast("long"), lit(buckets.toLong))),
      idCol, nTokCol, "__bucket", buckets, budget)

  /** [[packGreedy]] with a CALLER-SUPPLIED stream key: each distinct
    * `bucketCol` value is one independent greedy stream packed in id
    * order (curriculum-ordered packing keys on (stage, bucket), the
    * plain packer on a doc-id hash). Same plan shape: one shuffle on
    * the key, external sort within partitions, O(1)-state streaming
    * scan with state reset on key change.
    */
  def packGreedyBy(
      docs: DataFrame,
      idCol: String,
      nTokCol: String,
      bucketCol: String,
      partitions: Int,
      budget: Long): DataFrame = {
    val sparkS = docs.sparkSession
    import sparkS.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(nTokCol).cast("long").as("n_tok"),
        col(bucketCol).cast("long").as("bucket"))
      .repartition(partitions, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // several buckets can hash into one partition; the sort groups
        // them, so the O(1) greedy state just resets on bucket change
        var cur = Long.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (docId, nTok, bucket) =>
          if (bucket != cur) { cur = bucket; bin = 0L; fill = 0L }
          if (fill > 0L && fill + nTok > budget) { bin += 1L; fill = nTok }
          else fill += nTok
          (docId, bucket, nTok, bin)
        }
      }
      .toDF("doc_id", "bucket", "n_tok", "bin_id")
  }

  /** One packed document: its bucket, token count and assigned bin. */
  final case class PackedDoc(doc_id: Long, bucket: Long, n_tok: Long, bin_id: Long)

  private[graft] final case class PackIn(doc_id: Long, n_tok: Long, bucket: Long)

  /** Open-bin cursor for one bucket: the id of the bin being filled and
    * its current token fill. Two longs per key — corpus-size-independent.
    */
  final case class PackState(bin: Long, fill: Long)

  /** Streaming counterpart of [[packGreedy]]: the ingest-time packer.
    * Documents arrive id-ordered (the ingestion contract), hash into
    * `buckets` independent keyed streams, and each bucket's GroupState
    * holds only the OPEN bin cursor (bin id + fill) — O(1) state per key,
    * so a year of ingest costs the same state as a day. Emits each
    * document's bin assignment the moment it is packed; the assignment
    * stream is byte-identical to the batch packer's output on the same
    * id-ordered corpus (the p105 gate and PackSpec both pin this).
    *
    * Rows WITHIN one micro-batch are buffered per (bucket, batch) and
    * sorted by id — micro-batch slices are id-range-ordered, so the sort
    * restores the global ingestion order the greedy recurrence needs; the
    * buffer is one bucket's share of one micro-batch, never the stream.
    */
  def streamingPack(
      docs: DataFrame,
      idCol: String,
      nTokCol: String,
      buckets: Int,
      budget: Long): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    val in = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(nTokCol).cast("long").as("n_tok"),
        pmod(col(idCol).cast("long"), lit(buckets.toLong)).as("bucket"))
      .as[PackIn]
    Keyed.fold[Long, PackIn, PackState, PackedDoc](in)(_.bucket) { (bucket, prior, rows, emit) =>
      val batch = rows.toArray.sortBy(_.doc_id)
      var st = prior.getOrElse(PackState(0L, 0L))
      batch.foreach { d =>
        st =
          if (st.fill > 0L && st.fill + d.n_tok > budget) PackState(st.bin + 1L, d.n_tok)
          else PackState(st.bin, st.fill + d.n_tok)
        emit(PackedDoc(d.doc_id, bucket, d.n_tok, st.bin))
      }
      st
    }
  }

  /** One admission verdict: the doc, its source, token count, and
    * whether it made it under the source's token budget.
    */
  final case class QuotaVerdict(doc_id: Long, source: String, n_tok: Long, admitted: Boolean)

  private[graft] final case class QuotaIn(doc_id: Long, source: String, n_tok: Long)

  /** Streaming per-source token-budget admission (the ingest-time mix
    * enforcer): each source admits documents in arrival (id) order until
    * its cumulative token count would exceed `quota`, then rejects
    * everything after — the hard-cutoff rule, so a document is admitted
    * iff the source's running total INCLUDING it stays ≤ quota. State is
    * ONE long per source (the running total): a 100 TB ingest year costs
    * |sources| longs. The rule depends only on the per-source prefix
    * sum, so the streaming verdicts are byte-identical to a batch window
    * cumsum (the p108 gate pins this; the cumsum being monotone is what
    * makes "reject forever after the cutoff" stateless to describe).
    */
  def streamingTokenQuota(
      docs: DataFrame,
      idCol: String,
      srcCol: String,
      nTokCol: String,
      quota: Long): Dataset[QuotaVerdict] = {
    import docs.sparkSession.implicits._
    val in = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(srcCol).cast("string").as("source"),
        col(nTokCol).cast("long").as("n_tok"))
      .as[QuotaIn]
    Keyed.fold[String, QuotaIn, Long, QuotaVerdict](in)(_.source) { (source, prior, rows, emit) =>
      val batch = rows.toArray.sortBy(_.doc_id)
      var cum = prior.getOrElse(0L)
      batch.foreach { d =>
        cum += d.n_tok
        emit(QuotaVerdict(d.doc_id, source, d.n_tok, cum <= quota))
      }
      cum
    }
  }
}
