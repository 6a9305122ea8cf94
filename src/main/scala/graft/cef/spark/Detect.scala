package graft.cef.spark

import graft.cef._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Batch pattern detection over DataFrames — the Spark-native face of the
  * CEF engine (reference wiring: InferenceJob.java:215-216 keyBy(mmsi) →
  * WayebEngine; SURVEY.md §2.3 K1/K5, §2.5 R1). Every per-key operation
  * is the one batch scan ([[Keyed.scan]]: one shuffle, an external sort,
  * one pass) over [[KeyedEvents]]; at 1000 executors the keys spread
  * across tasks and the compiled automaton rides along in the task
  * closure (it is a small immutable value).
  */
object Detect {

  implicit private val eventEnc: Encoder[CEvent] = Encoders.product[CEvent]
  implicit private val detEnc: Encoder[Detection] = Encoders.product[Detection]
  implicit private val matchEnc: Encoder[MatchOut] = Encoders.product[MatchOut]

  /** Adapt a DataFrame to the engine's event model. `tsCol` must be a
    * timestamp column (converted to epoch micros) or integral epoch column.
    */
  def toEvents(
      df: DataFrame,
      idCol: String,
      typeCol: String,
      tsCol: String,
      partitionCol: String,
      numAttrs: Seq[String] = Nil,
      strAttrs: Seq[String] = Nil): Dataset[CEvent] = {
    val tsExpr = tsExprFor(df, tsCol)
    val numMap =
      if (numAttrs.isEmpty) map().cast("map<string,double>")
      else map(numAttrs.flatMap(a => Seq(lit(a), col(a).cast("double"))): _*)
    val strMap =
      if (strAttrs.isEmpty) map().cast("map<string,string>")
      else map(strAttrs.flatMap(a => Seq(lit(a), col(a).cast("string"))): _*)
    df.select(
      col(idCol).cast("long").as("id"),
      col(typeCol).cast("string").as("eventType"),
      tsExpr.as("timestamp"),
      col(partitionCol).cast("string").as("partition"),
      numMap.as("num"),
      strMap.as("str"))
      .as[CEvent]
  }

  private def tsExprFor(df: DataFrame, tsCol: String) =
    df.schema(tsCol).dataType.typeName match {
      case "timestamp" => unix_micros(col(tsCol))
      // TIMESTAMP_NTZ (e.g. parquet micros with isAdjustedToUTC=false):
      // unix_micros rejects it, and an NTZ→TZ cast would resolve against
      // the ambient session timezone; an NTZ-to-NTZ timestampdiff against
      // the epoch literal recovers the stored micros unconditionally
      case "timestamp_ntz" =>
        expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `$tsCol`)")
      case _ => col(tsCol).cast("long")
    }

  /** Narrow ingest (the hot path of every keyed operation): rows carry
    * only the attr VALUE arrays; the names — constants of the dataset, not
    * of the row — ride in the operator closure and the CEvent is rebuilt
    * exactly once, post-shuffle ([[KeyedEvents]]). Same normalization
    * rules as [[toEvents]] (shared `tsExpr`). The stream's source is this
    * one `select`, of the kept attr columns only when it is pruned.
    */
  def toEventStream(
      df: DataFrame,
      idCol: String,
      typeCol: String,
      tsCol: String,
      partitionCol: String,
      numAttrs: Seq[String] = Nil,
      strAttrs: Seq[String] = Nil): EventStream = {
    val nEnc: Encoder[NEvent] = Encoders.product[NEvent]
    val tsExpr = tsExprFor(df, tsCol)
    EventStream(numAttrs, strAttrs) { (num, str) =>
      df.select(
        col(idCol).cast("long").as("id"),
        col(typeCol).cast("string").as("eventType"),
        tsExpr.as("timestamp"),
        col(partitionCol).cast("string").as("partition"),
        array(num.map(a => col(a).cast("double")).toSeq: _*).cast("array<double>").as("numV"),
        array(str.map(a => col(a).cast("string")).toSeq: _*).cast("array<string>").as("strV"))
        .as[NEvent](nEnc)
    }
  }

  /** Detection points from the deterministic streaming-SDFA runtime. */
  def detections(events: KeyedEvents, cp: CompiledPattern): Dataset[Detection] =
    Keyed.scan(events, cp.attrsRead)(key => new DetRun(cp, key))((run, e) => run.step(e).iterator)

  /** Multi-pattern detection (a `&`-separated pattern file, docs/lang.md):
    * one pass over the data drives ALL automata per key — the reference's
    * run pool registered per (fsmId, partition value)
    * (ERFEngine.scala:230-266). Output rows carry the pattern index.
    */
  def detectionsMulti(
      events: KeyedEvents,
      cps: Seq[CompiledPattern]): Dataset[(Int, Detection)] = {
    implicit val enc: Encoder[(Int, Detection)] =
      Encoders.tuple(Encoders.scalaInt, detEnc)
    Keyed.scan(events, cps.flatMap(_.attrsRead).toSet)(
        key => cps.map(cp => new DetRun(cp, key)).toArray) {
      (runs, e) => runs.iterator.zipWithIndex.flatMap {
        case (run, fsmId) => run.step(e).map(fsmId -> _)
      }
    }
  }

  /** C10: deterministic detection for count-windowed register (SREMO)
    * patterns via the anchor-windowed DSRA runtime ([[graft.cef.DsraRun]]):
    * detection points with a bounded per-key configuration population —
    * the forecast-ready alternative to match enumeration.
    */
  def detectionsDsra(events: KeyedEvents, cp: CompiledPattern): Dataset[Detection] =
    Keyed.scan(events, cp.attrsRead)(key => new DsraRun(cp, key))((run, e) => run.step(e).iterator)

  /** SPSTm symbolization of the DSRA runtime: one row per event with its
    * symbol and anchor-age state ([[graft.cef.DsraSymbolizer]]; `grid`,
    * in micros per cell, only for TIME windows).
    */
  def dsraTrace(
      events: KeyedEvents,
      cp: CompiledPattern,
      grid: Long = 0L): Dataset[DsraStep] = {
    implicit val stepEnc: Encoder[DsraStep] = Encoders.product[DsraStep]
    Keyed.scan(events, cp.attrsRead)(DsraSymbolizer(cp, grid))((sym, e) => sym.step(e).iterator)
  }

  /** Full match enumeration from the nondeterministic runtime.
    * `maxThreads` caps the per-key thread pool (MatchRun population guard).
    */
  def matches(
      events: KeyedEvents,
      cp: CompiledPattern,
      maxThreads: Int = MatchRun.DefaultMaxThreads): Dataset[MatchOut] =
    Keyed.scan(events, cp.attrsRead)(key => new MatchRun(cp, key, maxThreads))(
      (run, e) => run.step(e).iterator)

  /** MonoRun fast path for the reference opt engine's regime
    * (ERFOptEngine.scala:91-287): a SINGLE pattern with NO partition
    * attribute. The per-key machinery is pure overhead there, and the
    * hash repartition a constant key forces ships the whole stream
    * through one shuffle write + read. This plan instead NARROWS to one
    * task (`coalesce(1)` — no shuffle files; parent partitions are read
    * directly) and external-sorts within it, then drives the
    * registry-free [[MonoRun]] loop, which shares per-state transition
    * resolution across all runs parked at the same state. Register
    * (SREMO) patterns fall back to a single pooled [[MatchRun]] on the
    * same shuffle-free plan.
    *
    * Inherently one-task: a global total-order run is sequential in the
    * reference too (a single-threaded stream listener). At scale, give
    * the pattern a partition attribute and use [[matches]] — this path
    * exists for parity with the reference's single-run throughput mode.
    */
  def matchesMono(
      events: KeyedEvents,
      cp: CompiledPattern,
      maxThreads: Int = MatchRun.DefaultMaxThreads): Dataset[MatchOut] = {
    val pruned = events.prune(cp.attrsRead)
    val rebuild = pruned.rebuild
    pruned.rows.coalesce(1)
      .sortWithinPartitions(col("timestamp"), col("id"))
      .mapPartitions { rows =>
        val evs = rows.map(rebuild)
        if (MonoRun.eligible(cp)) MonoRun.run(cp, evs, maxThreads)
        else {
          val run = new MatchRun(cp, "", maxThreads)
          evs.flatMap(run.step)
        }
      }
  }
}
