package graft.cef.spark

import graft.cef._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Structured Streaming inference (SURVEY.md §7.1.2): the keyed stateful
  * operator that mirrors the reference's Flink engine
  * (java/.../WayebEngine.java:225-320) —
  *
  *   kafka/socket/memory source → parse → groupByKey(partitionAttr)
  *     → flatMapGroupsWithState[RunState, Output]
  *
  * Every operation here is one runtime on the one keyed stream
  * ([[Keyed.stream]]); GroupState persists exactly what the reference
  * snapshots into Flink ValueState (WayebEngine.java:276-287): automaton
  * state, event counter, running-match bounds, and (for forecasting runs)
  * the symbol buffer.
  */
object Stream {

  implicit private val detEnc: Encoder[Detection] = Encoders.product[Detection]
  implicit private val matchEnc: Encoder[MatchOut] = Encoders.product[MatchOut]
  implicit private val forecastEnc: Encoder[ForecastOut] = Encoders.product[ForecastOut]
  implicit private val detStateEnc: Encoder[DetRunState] = Encoders.product[DetRunState]

  /** Deterministic detection-point stream (R1 over the streaming SDFA).
    * `stateTtl` (milliseconds, 0 = keep forever) expires idle keys, see
    * [[Keyed.stream]].
    */
  def detections(
      events: KeyedEvents,
      cp: CompiledPattern,
      stateTtl: Long = 0L): Dataset[Detection] =
    Keyed.stream(events, stateTtl)(key => new DetRun(cp, key))

  /** C10 deterministic register-pattern stream: the DSRA hyper-state
    * (configuration set + valuations + window anchors) lives in GroupState,
    * mirroring the reference's DSRAStreaming Configuration payloads.
    */
  def detectionsDsra(events: KeyedEvents, cp: CompiledPattern): Dataset[Detection] = {
    implicit val dsraStateEnc: Encoder[DsraRunState] = Encoders.product[DsraRunState]
    Keyed.stream(events)(key => new DsraRun(cp, key))
  }

  /** Full match-enumeration stream (R4): thread pool lives in GroupState,
    * like the reference's run pool registered per (fsmId, partition value)
    * (ERFEngine.scala:230-266, RunPool.scala:33-211).
    */
  def matches(
      events: KeyedEvents,
      cp: CompiledPattern,
      maxThreads: Int = MatchRun.DefaultMaxThreads): Dataset[MatchOut] = {
    implicit val matchStateEnc: Encoder[MatchRunState] = Encoders.product[MatchRunState]
    Keyed.stream(events)(key => new MatchRun(cp, key, maxThreads))
  }

  /** F5 through the streaming engine: the forecasting runtime ([[SpstRun]]
    * — DetRun 4-tuple + SPST symbol buffer) round-trips GroupState at
    * every micro-batch boundary (reference: the Flink engine emits
    * forecasts from the identical per-key snapshot, WayebEngine.java:
    * 276-320). The model and its precomputed forecast table ride the task
    * closure — they are model-sized immutable values, exactly like the
    * compiled pattern.
    */
  def forecasts(
      events: KeyedEvents,
      cp: CompiledPattern,
      spst: Spst,
      table: Map[(List[Int], Int), ForecastInterval]): Dataset[ForecastOut] = {
    implicit val stEnc: Encoder[SpstStreamState] = Encoders.product[SpstStreamState]
    Keyed.stream(events)(key => new SpstRun(cp, spst, table, key))
  }

  /** F5 for REGISTER patterns (C10×F2): the DSRA hyper-state plus the
    * SPSTm symbol buffer ([[SpstmRun]]) round-trip GroupState at every
    * micro-batch boundary. Each event is symbolized exactly like
    * [[Detect.dsraTrace]] (`grid` for TIME windows), and the (PST label,
    * abstract state) pair indexes the precomputed SPSTm forecast table —
    * the register-pattern face of [[forecasts]].
    */
  def forecastsSpstm(
      events: KeyedEvents,
      cp: CompiledPattern,
      m: SpstM,
      table: Map[(List[Int], Int), ForecastInterval],
      grid: Long = 0L): Dataset[ForecastOut] = {
    implicit val stEnc: Encoder[SpstmStreamState] = Encoders.product[SpstmStreamState]
    val symbolizer = DsraSymbolizer(cp, grid)
    Keyed.stream(events)(key => new SpstmRun(symbolizer(key), m, table))
  }

  /** The same deterministic runtime on Spark 4's transformWithState
    * operator — the successor to flatMapGroupsWithState (typed state
    * variables, native TTL, RocksDB-only backend). Functionally identical
    * to [[detections]]; both are kept because transformWithState requires
    * the RocksDB state store while flatMapGroupsWithState runs anywhere.
    */
  def detectionsTws(
      events: KeyedEvents,
      cp: CompiledPattern,
      stateTtl: Long = 0L): Dataset[Detection] = {
    // Spark 4 rejects TTLConfig outside ProcessingTime mode
    // (StatefulProcessorHandleImpl.validateTTLConfig)
    val timeMode = if (stateTtl > 0) TimeMode.ProcessingTime() else TimeMode.None()
    events.rows
      .groupByKey((r: events.Row) => r.partition)(Encoders.STRING)
      .transformWithState(new DetProcessor(cp, stateTtl, events.rebuild), timeMode, OutputMode.Append())
  }
}

/** The transformWithState face of the [[KeyedRuntime]] contract for
  * [[DetRun]]: the run snapshot lives in a typed ValueState with optional
  * native TTL (K5 run-pool expiry).
  */
final class DetProcessor[R](cp: CompiledPattern, stateTtl: Long, rebuild: R => CEvent)
    extends StatefulProcessor[String, R, Detection] {

  @transient private var state: org.apache.spark.sql.streaming.ValueState[DetRunState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = if (stateTtl > 0) TTLConfig(java.time.Duration.ofMillis(stateTtl)) else TTLConfig.NONE
    state = getHandle.getValueState[DetRunState](
      "detRun", Encoders.product[DetRunState], ttl)
  }

  override def handleInputRows(
      key: String,
      rows: Iterator[R],
      timerValues: TimerValues): Iterator[Detection] =
    Keyed.replay(new DetRun(cp, key), Option(state.get()), Keyed.sortedEvents(rows, rebuild))(
      state.update)
}
