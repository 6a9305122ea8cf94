package graft.cef.spark

import graft.cef._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, map_keys, map_values}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.language.implicitConversions

/** The keyed operator of the reference engine (InferenceJob.java:215-216
  * keyBy(mmsi) → WayebEngine) as two Spark operators over one
  * [[KeyedRuntime]] contract and one input type ([[KeyedEvents]]):
  *
  *   - [[scan]], batch: ONE hash shuffle on the partition attribute, an
  *     external (spillable) sort within partitions on (partition, ts, id),
  *     then a single `mapPartitions` pass that keeps O(1) state per key
  *     (the secondary-sort pattern). No per-group materialization — a key
  *     with millions of events never lives in memory at once, and the
  *     per-key state (a runtime or a small holder) rides the task closure
  *     as a factory.
  *   - [[stream]], Structured Streaming, on [[fold]] — the one
  *     `flatMapGroupsWithState` of the code base, which the per-key folds
  *     of `graft.ops` share; per key and micro-batch the runtime is
  *     restored from GroupState, steps the batch's events in (timestamp,
  *     id) order and is snapshotted back — exactly what the reference
  *     keeps in Flink ValueState (WayebEngine.java:276-287).
  *
  * Spark gives no intra-batch order guarantee, and automaton determinism
  * needs event-time totality within a key (SURVEY.md §7.4), hence the
  * sort. Cross-batch reordering is NOT absorbed: like the reference (which
  * trusts Flink's keyed in-order delivery after the 60 s watermark),
  * callers feed watermarked, de-duplicated input.
  */
object Keyed {

  /** Shuffle by key, external-sort by (key, ts, id), stream per-key state:
    * `mk(key)` at each key's first row, `step` for every event. `attrs`
    * are the attributes `step` reads ([[CompiledPattern.attrsRead]]); an
    * [[EventStream]] drops the others before the shuffle
    * ([[KeyedEvents.prune]]).
    */
  def scan[R, O: Encoder](events: KeyedEvents, attrs: Set[String])(mk: String => R)(
      step: (R, CEvent) => Iterator[O]): Dataset[O] = {
    val pruned = events.prune(attrs)
    val rebuild = pruned.rebuild
    pruned.rows
      .repartition(col("partition"))
      .sortWithinPartitions(col("partition"), col("timestamp"), col("id"))
      .mapPartitions { rows =>
        var currentKey: String = null
        var holder: R = null.asInstanceOf[R]
        rows.flatMap { row =>
          val e = rebuild(row)
          if (e.partition != currentKey) {
            currentKey = e.partition
            holder = mk(currentKey)
          }
          step(holder, e)
        }
      }
  }

  /** The keyed stream: one GroupState per key holding the runtime's
    * snapshot, on [[fold]]. `stateTtl` (milliseconds, 0 = keep forever)
    * expires idle keys — the Spark analogue of the reference's run-pool
    * expiration GC (`expirationDeadline`, ERFEngine.scala:95-101,
    * RunPool.scala:186; SURVEY.md §2.3 K5): a key that receives no events
    * for the TTL loses its state and restarts from a fresh runtime. See
    * [[fold]] for the trigger a TTL stream needs.
    *
    * `attrs` are the attributes the runtime reads, as in [[scan]].
    */
  def stream[S: Encoder, O: Encoder](events: KeyedEvents, attrs: Set[String], stateTtl: Long = 0L)(
      mk: String => KeyedRuntime[S, O]): Dataset[O] = {
    val pruned = events.prune(attrs)
    val rebuild = pruned.rebuild
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    fold[String, pruned.Row, S, O](pruned.rows, stateTtl)(_.partition) { (key, prior, rows, emit) =>
      replay(mk(key), prior, sortedEvents(rows, rebuild))(emit)
    }
  }

  /** The one GroupState operator under every keyed stream: the engine's
    * runtimes ([[stream]]) and the per-key folds of `graft.ops`. Rows are
    * grouped by `key`; per key and micro-batch, `step` gets the key, the
    * state it returned last time (None on the key's first batch and after
    * an expiry), the batch's rows in no particular order and an `emit`
    * callback, and returns the state to save. Emitted rows are buffered
    * and handed to Spark after the state is saved, so a step never needs
    * to force its outputs before it returns.
    *
    * `stateTtl` (milliseconds, 0 = keep forever) drops the state of a key
    * that receives no rows for that long. Spark plans another micro-batch
    * after every batch under that timeout, so a TTL stream needs a
    * trigger interval (`Trigger.ProcessingTime`): with the default
    * trigger an idle query runs empty batches back to back. Under any
    * trigger `processAllAvailable()` does not return, because a batch is
    * always planned.
    *
    * The session's checkpoint files go through [[CheckpointFiles]] unless
    * it names its own manager.
    */
  def fold[K: Encoder, R, S: Encoder, O: Encoder](rows: Dataset[R], stateTtl: Long = 0L)(
      key: R => K)(step: (K, Option[S], Iterator[R], O => Unit) => S): Dataset[O] = {
    val timeout =
      if (stateTtl > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    CheckpointFiles.selectIn(rows.sparkSession)
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeout) {
        (k: K, group: Iterator[R], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove() // stale key reclaimed
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[O]
            state.update(step(k, state.getOption, group, out += _))
            if (stateTtl > 0) state.setTimeoutDuration(stateTtl)
            out.iterator
          }
      }
  }

  /** One key's micro-batch of a runtime: restore `prior`, feed the
    * events to `emit`; returns the snapshot to save. */
  private[spark] def replay[S, O](run: KeyedRuntime[S, O], prior: Option[S],
      events: Array[CEvent])(emit: O => Unit): S = {
    prior.foreach(run.restore)
    events.foreach(run.feed(_, emit))
    run.snapshot
  }

  /** One group's rows → (timestamp, id)-sorted CEvents, rebuilt
    * post-shuffle. */
  private[spark] def sortedEvents[R](rows: Iterator[R], rebuild: R => CEvent): Array[CEvent] = {
    val arr = rows.map(rebuild).toArray
    java.util.Arrays.sort(arr, (a: CEvent, b: CEvent) => {
      val c = java.lang.Long.compare(a.timestamp, b.timestamp)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    })
    arr
  }
}

/** The one event input of the keyed operators: narrow rows that carry
  * `partition`, `timestamp` and `id` columns, and the `rebuild` that makes
  * each row a CEvent exactly once, after the shuffle. Both ingest shapes
  * convert to it implicitly, so every operation takes either:
  *
  *   - an [[EventStream]] ([[Detect.toEventStream]]): rows carry only the
  *     attr VALUE arrays, the names ride in the closure;
  *   - a `Dataset[CEvent]`: projected on the Catalyst side to
  *     [[NarrowEvent]] rows, the attr maps as parallel key/value arrays
  *     (map_keys/map_values, no JVM objects).
  *
  * Shuffling `Dataset[CEvent]` directly pays Catalyst's generic Map
  * deserializer per row on both sides of the exchange — measured at ~2.4x
  * the whole streaming steady state (SCALE.md round-13 throughput table:
  * 0.52 -> 1.24 M ev/s at a 4M batch) and 1.5x on the batch scan (2.28 →
  * 3.37 M ev/s over 4M events).
  *
  * Pruning rule ([[prune]]): an [[EventStream]] ships only the
  * attributes the pattern reads. An attribute in the set that is present
  * on an event stays present, and an absent one stays absent, so
  * `CEvent.numberOf`/`stringOf` keep their num↔str fallbacks and their
  * errors; the stream is rebuilt from its source for the kept names, so
  * the attributes outside the set are never built. A `Dataset[CEvent]`
  * ships its maps whole: its attribute names live in each row, so
  * filtering them would add a pass over every row's maps on the batch
  * scans, where that was never shown to pay.
  */
sealed abstract class KeyedEvents {
  type Row <: KeyedRow
  def rows: Dataset[Row]
  /** Serializable and free of the Dataset: it rides the task closure. */
  val rebuild: Row => CEvent
  /** The same events; an [[EventStream]] keeps only the attributes in
    * `attrs` (the pruning rule above). */
  def prune(attrs: Set[String]): KeyedEvents
}

object KeyedEvents {
  private val narrowEnc: Encoder[NarrowEvent] = Encoders.product[NarrowEvent]

  implicit def fromDataset(events: Dataset[CEvent]): KeyedEvents = new KeyedEvents {
    type Row = NarrowEvent
    val rows: Dataset[NarrowEvent] = events.toDF().select(
      col("id"), col("eventType"), col("timestamp"), col("partition"),
      map_keys(col("num")).as("numK"), map_values(col("num")).as("numV"),
      map_keys(col("str")).as("strK"), map_values(col("str")).as("strV"))
      .as[NarrowEvent](narrowEnc)
    val rebuild: NarrowEvent => CEvent = NarrowEvent.rebuild
    def prune(attrs: Set[String]): KeyedEvents = this
  }

  implicit def fromStream(events: EventStream): KeyedEvents = new KeyedEvents {
    type Row = NEvent
    lazy val rows: Dataset[NEvent] = events.ds
    val rebuild: NEvent => CEvent = NEvent.rebuilder(events.numNames, events.strNames)
    def prune(attrs: Set[String]): KeyedEvents = fromStream(events.prune(attrs))
  }
}

/** A shuffled event row: the key both operators group and sort on. */
trait KeyedRow {
  def partition: String
}

/** Row shape of [[EventStream]]: attr values only, positionally aligned
  * with the stream's attr-name lists. Primitive/flat fields keep the
  * Catalyst codec out of generic-Map territory on the keyed shuffle.
  */
final case class NEvent(
    id: Long,
    eventType: String,
    timestamp: Long,
    partition: String,
    numV: Array[Double],
    strV: Array[String]) extends KeyedRow

object NEvent {
  /** Rebuild rows whose values align with these attr names. */
  def rebuilder(numNames: Array[String], strNames: Array[String]): NEvent => CEvent = n => {
    var num = Map.empty[String, Double]
    var i = 0
    while (i < numNames.length) { num = num.updated(numNames(i), n.numV(i)); i += 1 }
    var str = Map.empty[String, String]
    i = 0
    while (i < strNames.length) { str = str.updated(strNames(i), n.strV(i)); i += 1 }
    CEvent(n.id, n.eventType, n.timestamp, n.partition, num, str)
  }
}

/** Narrow ingest handle ([[Detect.toEventStream]],
  * [[Kafka.maritimeEventStream]]): the attr names of the stream and its
  * source, which builds the typed event rows for any subset of them. The
  * names arrays serialize once into each task closure.
  */
final class EventStream private (
    val numNames: Array[String],
    val strNames: Array[String],
    source: (Array[String], Array[String]) => Dataset[NEvent]) {

  /** The rows: one value slot per attr name, in name order. */
  lazy val ds: Dataset[NEvent] = source(numNames, strNames)

  /** The attributes in `attrs` only: the stream is rebuilt from its source
    * for the kept names, so the dropped attributes are never parsed or
    * computed. */
  def prune(attrs: Set[String]): EventStream = {
    val num = numNames.filter(attrs)
    val str = strNames.filter(attrs)
    if (num.length == numNames.length && str.length == strNames.length) this
    else new EventStream(num, str, source)
  }
}

object EventStream {
  /** A stream of these attrs; `source(num, str)` builds the rows of any
    * subset of the names, values aligned with the names it is given. */
  def apply(numNames: Seq[String], strNames: Seq[String])(
      source: (Array[String], Array[String]) => Dataset[NEvent]): EventStream =
    new EventStream(numNames.toArray, strNames.toArray, source)
}

/** Shuffle-side row of a `Dataset[CEvent]`: the attr maps as parallel
  * key/value arrays (see [[KeyedEvents]]).
  */
private[spark] final case class NarrowEvent(
    id: Long,
    eventType: String,
    timestamp: Long,
    partition: String,
    numK: Array[String],
    numV: Array[Double],
    strK: Array[String],
    strV: Array[String]) extends KeyedRow

private[spark] object NarrowEvent {
  def rebuild(n: NarrowEvent): CEvent = {
    var num = Map.empty[String, Double]
    var i = 0
    while (i < n.numK.length) { num = num.updated(n.numK(i), n.numV(i)); i += 1 }
    var str = Map.empty[String, String]
    i = 0
    while (i < n.strK.length) { str = str.updated(n.strK(i), n.strV(i)); i += 1 }
    CEvent(n.id, n.eventType, n.timestamp, n.partition, num, str)
  }
}
