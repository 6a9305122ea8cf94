package graft.queries

import graft.{Q, Tables}
import graft.cef.{CEvent, Compiler, CompiledPattern, ForecastMethod}
import graft.cef.spark.{Detect, Inference, Stream, Train}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** CEF pattern queries over the `events` table — the engine's capability
  * surface (SURVEY.md §2.4-2.5) exposed as driver-checkable queries.
  *
  * Each query compiles an SRE pattern (reference language:
  * Wayeb/docs/lang.md) and runs one of the two runtimes:
  *   - `matches`    — nondeterministic full-match enumeration,
  *   - `detections` — deterministic streaming-SDFA detection points.
  * The DuckDB oracles restate the same semantics with window functions /
  * joins, which is exactly how strict-contiguity, skip-till-any and
  * skip-till-next project onto SQL.
  */
object Cef {

  /** Patterns are compiled once on the driver (plan time), not per query run. */
  private lazy val pSeq2 = Compiler.compile(
    ";(IsEventTypePredicate(error),IsEventTypePredicate(purchase))")
  private lazy val pSeq3 = Compiler.compile(
    ";(IsEventTypePredicate(signup),IsEventTypePredicate(click),IsEventTypePredicate(purchase))")
  private lazy val pChoice = Compiler.compile(
    ";(+(IsEventTypePredicate(click),IsEventTypePredicate(view)),IsEventTypePredicate(purchase))")
  private lazy val pIter = Compiler.compile(
    ";(IsEventTypePredicate(signup),*(IsEventTypePredicate(click)),IsEventTypePredicate(purchase))")
  private lazy val pSkipAnyWin = Compiler.compile(
    "#(;(IsEventTypePredicate(error),IsEventTypePredicate(purchase))){window:10}{windowType:count}")
  private lazy val pSkipNext = Compiler.compile(
    "@(;(IsEventTypePredicate(signup),IsEventTypePredicate(purchase)))")
  private lazy val pSkipAny = Compiler.compile(
    "#(;(IsEventTypePredicate(error),IsEventTypePredicate(purchase)))")
  private lazy val pValue = Compiler.compile(
    ";(GTPredicate(value,120.0),LTPredicate(value,10.0))")
  private lazy val pSremo = Compiler.compileMatchOnly(
    """#(;(GTPredicate(value,120.0)["x"],GTAttrPredicate(value,"x"))){window:10}{windowType:count}""")
  // 200,000 s in engine micros — the DSRA path's time-window variant
  private lazy val pSremoTime = Compiler.compileMatchOnly(
    """#(;(GTPredicate(value,120.0)["x"],GTAttrPredicate(value,"x"))){window:200000000000}{windowType:time}""")
  // string-register variant: the follow-up spike must carry the SAME event
  // type as the stored event (EQAttrStr over the virtual EventType attr)
  private lazy val pSremoStr = Compiler.compileMatchOnly(
    """#(;(GTPredicate(value,120.0)["x"],^(GTAttrPredicate(value,"x"),EQAttrStrPredicate(EventType,"x")))){window:10}{windowType:count}""")
  private lazy val pJsonAttr = Compiler.compile(
    ";(GTPredicate(k,80.0),LTPredicate(k,20.0))")
  private lazy val pComplexSent = Compiler.compile(
    ";(^(IsEventTypePredicate(view),BTPredicate(value,50.0,100.0)),|(IsEventTypePredicate(purchase),IsEventTypePredicate(signup)))")

  private def events(s: SparkSession, dir: String) =
    Detect.toEvents(Tables(s, dir, "events"),
      idCol = "event_id", typeCol = "event_type", tsCol = "ts",
      partitionCol = "user_id", numAttrs = Seq("value"))

  /** Narrow-ingest twin of [[events]] for the batch Detect scans (the
    * per-row Map decode is 1.5x of the whole batch pass — SCALE.md r13).
    * Training consumers keep [[events]]: they aggregate at plan level.
    */
  private def eventsN(s: SparkSession, dir: String) =
    Detect.toEventStream(Tables(s, dir, "events"),
      idCol = "event_id", typeCol = "event_type", tsCol = "ts",
      partitionCol = "user_id", numAttrs = Seq("value"))

  /** Open-schema variant (P2 semantics): the JSON `props` bag is projected
    * into a typed attribute before entering the engine — schema-on-read
    * feeding predicate evaluation.
    */
  private def eventsWithProps(s: SparkSession, dir: String) =
    Detect.toEventStream(
      Tables(s, dir, "events")
        // a props bag without 'k' becomes NaN, which fails every comparison
        // predicate (matching the oracle's NULL-filtering semantics) and
        // keeps the numeric attr array free of nulls
        .withColumn("k",
          coalesce(get_json_object(col("props"), "$.k").cast("double"), lit(Double.NaN))),
      idCol = "event_id", typeCol = "event_type", tsCol = "ts",
      partitionCol = "user_id", numAttrs = Seq("value", "k"))

  /** The shared order-2 skip-any SPST: nine cef queries train the
    * IDENTICAL model over `dir`/events (cef11/12/26/27/29/30 and the
    * streaming trio cef33/38/39) — in a Bench sweep that was nine copies
    * of the same distributed n-gram aggregation for one KB-sized
    * driver-side model, so it is a [[graft.ops.SessionMemo]] model.
    */
  private def spstSkipAny(s: SparkSession, dir: String): graft.cef.Spst =
    graft.ops.SessionMemo.model(s, dir, "spst-skipany-o2")(
      Train.learnSpst(events(s, dir), pSkipAny, order = 2))

  /** The shared time-windowed SPSTm (cef32/cef41), memoized likewise. */
  private def spstmTime(s: SparkSession, dir: String): graft.cef.SpstM =
    graft.ops.SessionMemo.model(s, dir, "spstm-time-o2")(
      Train.learnSpstm(events(s, dir), pSremoTime, order = 2,
        grid = SpstmTimeOracle.GridMicros))

  private def matches2(s: SparkSession, dir: String, cp: CompiledPattern): DataFrame =
    Detect.matches(eventsN(s, dir), cp).toDF()
      .select(
        col("partition").cast("long").as("user_id"),
        element_at(col("eventIds"), 1).as("id_a"),
        element_at(col("eventIds"), 2).as("id_b"))
      .orderBy(col("user_id"), col("id_a"), col("id_b"))

  /** Shared oracle scaffold: per-user stream order = (ts, event_id). */
  private val RnCte =
    """WITH b AS (
      |  SELECT event_id, user_id, event_type, value, ts,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)""".stripMargin

  /** Deterministic late-arrival injection for the watermark gate
    * (cef40): every 101st event id is held back one slice, so it
    * ARRIVES a micro-batch after its event-time position. The rule is
    * pure arithmetic over (ntile slice, event_id) ([[lateShift]]), so
    * the DuckDB oracle replays the exact same arrival schedule.
    */
  private val LateEveryId = 101

  /** Every [[Late2EveryId]]th event id is held back TWO slices. Spark
    * filters late rows against the PREVIOUS batch's eviction watermark
    * (watermarkForLateEvents, one batch behind watermarkForEviction), so
    * a one-slice-late row always lands while its filter watermark is
    * still a batch stale — only the two-slice-late rows can actually be
    * dropped, and only when their window end is already behind the
    * watermark computed from two batches back.
    */
  private val Late2EveryId = 257

  /** cef40's bounded out-of-orderness, in ms (Spark watermark delays are
    * ms-granular): 5 days against ~10-day slices splits the held-back
    * rows into in-watermark stragglers and beyond-watermark drops.
    */
  private val WmDelayMs = 5L * 86400L * 1000L

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------- strict sequence (2)
    Q("cef01_seq2_strict",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id,
         |             lag(event_type) OVER w AS p_type, lag(event_id) OVER w AS p_id
         |      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         |SELECT user_id, p_id AS id_a, event_id AS id_b
         |FROM c WHERE event_type = 'purchase' AND p_type = 'error'
         |ORDER BY user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pSeq2)
    },

    // ------------------------------------------------- strict sequence (3)
    Q("cef02_seq3_strict",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id,
         |             lag(event_type, 2) OVER w AS p2_type, lag(event_id, 2) OVER w AS p2_id,
         |             lag(event_type, 1) OVER w AS p1_type, lag(event_id, 1) OVER w AS p1_id
         |      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         |SELECT user_id, p2_id AS id_a, p1_id AS id_b, event_id AS id_c
         |FROM c
         |WHERE event_type = 'purchase' AND p1_type = 'click' AND p2_type = 'signup'
         |ORDER BY user_id, id_a, id_b, id_c""".stripMargin) { (s, dir) =>
      Detect.matches(eventsN(s, dir), pSeq3).toDF()
        .select(
          col("partition").cast("long").as("user_id"),
          element_at(col("eventIds"), 1).as("id_a"),
          element_at(col("eventIds"), 2).as("id_b"),
          element_at(col("eventIds"), 3).as("id_c"))
        .orderBy(col("user_id"), col("id_a"), col("id_b"), col("id_c"))
    },

    // ------------------------------------------- choice inside a sequence
    Q("cef03_choice_strict",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id,
         |             lag(event_type) OVER w AS p_type, lag(event_id) OVER w AS p_id
         |      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         |SELECT user_id, p_id AS id_a, event_id AS id_b
         |FROM c WHERE event_type = 'purchase' AND p_type IN ('click', 'view')
         |ORDER BY user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pChoice)
    },

    // ------------------------------------------------ iteration (Kleene *)
    Q("cef04_iter_strict",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id, rn,
         |             last_value(CASE WHEN event_type <> 'click' THEN event_id END IGNORE NULLS)
         |               OVER wp AS p_id,
         |             last_value(CASE WHEN event_type <> 'click' THEN event_type END IGNORE NULLS)
         |               OVER wp AS p_type,
         |             last_value(CASE WHEN event_type <> 'click' THEN rn END IGNORE NULLS)
         |               OVER wp AS p_rn
         |      FROM b WINDOW wp AS (PARTITION BY user_id ORDER BY rn
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT user_id, p_id AS first_id, event_id AS last_id, rn - p_rn + 1 AS n_events
         |FROM c WHERE event_type = 'purchase' AND p_type = 'signup'
         |ORDER BY user_id, first_id, last_id""".stripMargin) { (s, dir) =>
      Detect.matches(eventsN(s, dir), pIter).toDF()
        .select(
          col("partition").cast("long").as("user_id"),
          element_at(col("eventIds"), 1).as("first_id"),
          element_at(col("eventIds"), -1).as("last_id"),
          size(col("eventIds")).cast("long").as("n_events"))
        .orderBy(col("user_id"), col("first_id"), col("last_id"))
    },

    // ----------------------------- skip-till-any with a count window of 10
    Q("cef05_skipany_win",
      s"""$RnCte
         |SELECT a.user_id, a.event_id AS id_a, p.event_id AS id_b
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < 10
         |WHERE a.event_type = 'error' AND p.event_type = 'purchase'
         |ORDER BY a.user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pSkipAnyWin)
    },

    // ---------------------------------- skip-till-next (first next match)
    Q("cef06_skipnext",
      s"""$RnCte,
         |s AS (SELECT user_id, event_id AS id_a, rn AS rn_a FROM b WHERE event_type = 'signup'),
         |p AS (SELECT user_id, event_id AS id_b, rn AS rn_b FROM b WHERE event_type = 'purchase')
         |SELECT s.user_id, s.id_a, arg_min(p.id_b, p.rn_b) AS id_b
         |FROM s JOIN p ON p.user_id = s.user_id AND p.rn_b > s.rn_a
         |GROUP BY s.user_id, s.id_a
         |ORDER BY s.user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pSkipNext)
    },

    // --------------------- deterministic detection points (streaming SDFA)
    Q("cef07_det_points",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id, rn, ts,
         |             count(CASE WHEN event_type = 'error' THEN 1 END)
         |               OVER (PARTITION BY user_id ORDER BY rn
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |      FROM b)
         |SELECT user_id, event_id, rn AS counter, epoch_us(ts) AS ts_us
         |FROM c WHERE event_type = 'purchase' AND n_err > 0
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      Detect.detections(eventsN(s, dir), pSkipAny).toDF()
        .select(
          col("partition").cast("long").as("user_id"),
          col("eventId").as("event_id"),
          col("counter"),
          col("timestamp").as("ts_us"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // --------------------------------- numeric predicates on `value`
    Q("cef08_value_pred",
      s"""$RnCte,
         |c AS (SELECT user_id, event_id, value,
         |             lag(value) OVER w AS p_value, lag(event_id) OVER w AS p_id
         |      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         |SELECT user_id, p_id AS id_a, event_id AS id_b
         |FROM c WHERE p_value > 120.0 AND value < 10.0
         |ORDER BY user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pValue)
    },

    // --------- complex sentences (P7): conjunction + between on the first
    // element, disjunction on the second — a view with value in [50,100)
    // immediately followed by a purchase or signup.
    Q("cef17_complex_sentence",
      s"""$RnCte,
         |c AS (SELECT user_id, event_id, event_type, value,
         |             lag(event_type) OVER w AS p_type, lag(value) OVER w AS p_value,
         |             lag(event_id) OVER w AS p_id
         |      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         |SELECT user_id, p_id AS id_a, event_id AS id_b
         |FROM c
         |WHERE event_type IN ('purchase', 'signup')
         |  AND p_type = 'view' AND p_value >= 50.0 AND p_value < 100.0
         |ORDER BY user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pComplexSent)
    },

    // --------- open-schema attributes (P2): the pattern predicates read a
    // field parsed out of the JSON props bag — a high-k event immediately
    // followed by a low-k event, per user.
    Q("cef16_json_attr",
      s"""$RnCte,
         |c AS (SELECT user_id, event_id, rn,
         |             CAST(json_extract_string(props, '$$.k') AS DOUBLE) AS k
         |      FROM (SELECT b.*, e.props FROM b
         |            JOIN events e USING (event_id))),
         |d AS (SELECT user_id, event_id, k,
         |             lag(k) OVER w AS p_k, lag(event_id) OVER w AS p_id
         |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY rn))
         |SELECT user_id, p_id AS id_a, event_id AS id_b
         |FROM d WHERE p_k > 80.0 AND k < 20.0
         |ORDER BY user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      Detect.matches(eventsWithProps(s, dir), pJsonAttr).toDF()
        .select(
          col("partition").cast("long").as("user_id"),
          element_at(col("eventIds"), 1).as("id_a"),
          element_at(col("eventIds"), 2).as("id_b"))
        .orderBy(col("user_id"), col("id_a"), col("id_b"))
    },

    // ------------- SREMO register pattern (C10): a value spike > 120
    // followed within 10 events by a LARGER spike — the second predicate
    // compares against the event stored in register x, which is exactly a
    // non-equi self-join in SQL.
    Q("cef13_sremo_spikes",
      s"""$RnCte
         |SELECT a.user_id, a.event_id AS id_a, p.event_id AS id_b
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < 10
         |WHERE a.value > 120.0 AND p.value > a.value
         |ORDER BY a.user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      matches2(s, dir, pSremo)
    },

    // C10 deterministic path: the same SREMO pattern through the
    // anchor-windowed DSRA runtime — detection points (one per completing
    // event) instead of match enumerations, with a bounded per-key
    // configuration population (DsraRun; cross-runtime equivalence pinned
    // in DsraSpec).
    Q("cef18_sremo_det",
      s"""$RnCte
         |SELECT DISTINCT a.user_id AS user_id, p.rn AS counter, p.event_id AS event_id
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < 10
         |WHERE a.value > 120.0 AND p.value > a.value
         |ORDER BY a.user_id, counter""".stripMargin) { (s, dir) =>
      Detect.detectionsDsra(eventsN(s, dir), pSremo).toDF()
        .select(col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"))
        .orderBy(col("user_id"), col("counter"))
    },

    // C10 deterministic path, TIME window: the same register pattern with
    // the window measured on event time (200,000 s in engine micros) —
    // the per-config first-TAKE anchor enforces it identically to the
    // count case (reference windowed SREM semantics; DsraSpec pins the
    // cross-runtime equivalence for both window kinds).
    Q("cef19_sremo_time",
      s"""$RnCte
         |SELECT DISTINCT a.user_id AS user_id, p.rn AS counter, p.event_id AS event_id
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn
         | AND epoch_us(p.ts) - epoch_us(a.ts) < 200000000000
         |WHERE a.value > 120.0 AND p.value > a.value
         |ORDER BY a.user_id, counter""".stripMargin) { (s, dir) =>
      Detect.detectionsDsra(eventsN(s, dir), pSremoTime).toDF()
        .select(col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"))
        .orderBy(col("user_id"), col("counter"))
    },

    // C10 deterministic path, STRING register read: the follow-up spike
    // must exceed the stored value AND repeat the stored event's TYPE —
    // a conjunction of a numeric and a string register predicate over the
    // virtual EventType attribute (the projection-keyed config identity
    // carries both the numeric and the string read projections).
    Q("cef20_sremo_str",
      s"""$RnCte
         |SELECT DISTINCT a.user_id AS user_id, p.rn AS counter, p.event_id AS event_id
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < 10
         |WHERE a.value > 120.0 AND p.value > a.value
         |  AND p.event_type = a.event_type
         |ORDER BY a.user_id, counter""".stripMargin) { (s, dir) =>
      Detect.detectionsDsra(eventsN(s, dir), pSremoStr).toDF()
        .select(col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"))
        .orderBy(col("user_id"), col("counter"))
    },

    // ---------------- forecast evaluation: interval join + per-key MCC
    // (SURVEY.md §2.8 A2/A4). Detections come from the deterministic
    // engine; the forecast rule here is the SQL-expressible baseline
    // "an error predicts a detection within the next 10 events" so the
    // whole evaluation pipeline has an exact DuckDB twin. tp iff positive
    // ∧ ∃ detection counter in [start,end] — the reference's rule
    // (ClassificationForecastCollector.scala:104-150); MCC in the
    // overflow-safe form (ClassificationStatsEstimator.scala:52-85).
    Q("cef09_forecast_eval",
      s"""$RnCte,
         |det AS (
         |  SELECT user_id, rn AS counter
         |  FROM (SELECT user_id, event_type, rn,
         |               count(CASE WHEN event_type = 'error' THEN 1 END)
         |                 OVER (PARTITION BY user_id ORDER BY rn
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |        FROM b)
         |  WHERE event_type = 'purchase' AND n_err > 0),
         |fc AS (SELECT user_id, rn, event_type = 'error' AS positive,
         |              rn + 1 AS fs, rn + 10 AS fe FROM b),
         |ev AS (
         |  SELECT fc.user_id, fc.rn, fc.positive,
         |         max(CASE WHEN det.counter IS NOT NULL THEN 1 ELSE 0 END) = 1 AS hit
         |  FROM fc LEFT JOIN det
         |    ON det.user_id = fc.user_id AND det.counter BETWEEN fc.fs AND fc.fe
         |  GROUP BY fc.user_id, fc.rn, fc.positive),
         |conf AS (
         |  SELECT user_id,
         |         CAST(sum(CASE WHEN positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN NOT positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         CAST(sum(CASE WHEN positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN NOT positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM ev GROUP BY user_id)
         |SELECT user_id, tp, tn, fp, fn, ${mccSql} AS mcc
         |FROM conf ORDER BY user_id""".stripMargin) { (s, dir) =>
      forecastEval(s, dir).orderBy(col("user_id"))
    },

    // ------------- global tumbling-window report aggregation (A5 shape):
    // same evaluation, aggregated per day across all keys.
    Q("cef10_report_agg",
      s"""$RnCte,
         |det AS (
         |  SELECT user_id, rn AS counter
         |  FROM (SELECT user_id, event_type, rn,
         |               count(CASE WHEN event_type = 'error' THEN 1 END)
         |                 OVER (PARTITION BY user_id ORDER BY rn
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |        FROM b)
         |  WHERE event_type = 'purchase' AND n_err > 0),
         |fc AS (SELECT user_id, rn, ts, event_type = 'error' AS positive,
         |              rn + 1 AS fs, rn + 10 AS fe FROM b),
         |ev AS (
         |  SELECT fc.user_id, fc.rn, fc.positive,
         |         CAST(date_trunc('day', fc.ts) AS DATE) AS day,
         |         max(CASE WHEN det.counter IS NOT NULL THEN 1 ELSE 0 END) = 1 AS hit
         |  FROM fc LEFT JOIN det
         |    ON det.user_id = fc.user_id AND det.counter BETWEEN fc.fs AND fc.fe
         |  GROUP BY fc.user_id, fc.rn, fc.positive, day),
         |conf AS (
         |  SELECT day,
         |         CAST(sum(CASE WHEN positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN NOT positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         CAST(sum(CASE WHEN positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN NOT positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM ev GROUP BY day HAVING tp + fp + fn > 0)
         |SELECT day, tp, tn, fp, fn, ${mccSql} AS mcc
         |FROM conf ORDER BY day""".stripMargin) { (s, dir) =>
      // silent windows (tp+fp+fn == 0) suppressed like the reference
      // MetricsAggregator.java:21-90
      forecastEvalByDay(s, dir)
        .filter(col("tp") + col("fp") + col("fn") > 0)
        .orderBy(col("day"))
    },

    // ---------------- SPST: distributed training + wt-based forecasts
    // (T1/T2/F2/F3/F5). The full pipeline — n-gram counting, PST learning,
    // wt recursion, per-event replay — is restated in DuckDB SQL by
    // [[SpstOracle]]; probabilities emitted as ×10⁶ integers (engine-exact,
    // see mccSql). The algorithms stay unit-tested against brute force in
    // WtSpec/VmmSpec.
    Q("cef11_spst_wt", SpstOracle.sql11) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val rows = spst.pst.leaves.flatMap { leaf =>
        (0 until spst.sdfa.nStates).map { st =>
          val wt = spst.wtDistribution(leaf.label, st, horizon = 20)
          (leaf.label.mkString(":"), st,
            math.floor(wt.wt.values.sum * 1000000 + 0.5).toLong,
            math.floor(wt.classifyNextK(0.5, 10).prob * 1000000 + 0.5).toLong)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "wt_mass", "p_next10")
        .orderBy(col("label"), col("state"))
    },

    // ------------- T3/F1 with exact oracles: the streaming SDFA of the
    // skip-till-any error→purchase pattern has exactly three semantically
    // labelable states — start (no error yet), armed (error seen), final
    // (detection) — so the MLE transition matrix and the Markov-chain
    // waiting-time distribution are both recomputable in pure SQL.
    Q("cef14_mle_matrix",
      s"""$RnCte,
         |c AS (SELECT user_id, rn, event_type,
         |             count(CASE WHEN event_type = 'error' THEN 1 END)
         |               OVER (PARTITION BY user_id ORDER BY rn) AS err_upto
         |      FROM b),
         |st AS (SELECT user_id, rn,
         |              CASE WHEN err_upto = 0 THEN 'start'
         |                   WHEN event_type = 'purchase' THEN 'final'
         |                   ELSE 'armed' END AS to_state
         |       FROM c),
         |tr AS (SELECT coalesce(lag(to_state) OVER (PARTITION BY user_id ORDER BY rn),
         |                       'start') AS from_state, to_state
         |       FROM st)
         |SELECT from_state, to_state, count(*) AS n,
         |       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY from_state), 6) AS p
         |FROM tr GROUP BY from_state, to_state
         |ORDER BY from_state, to_state""".stripMargin) { (s, dir) =>
      mleLabelMatrix(s, dir)
        .select(col("from_state"), col("to_state"), col("n"), round(col("p"), 6).as("p"))
        .orderBy(col("from_state"), col("to_state"))
    },

    Q("cef15_mc_wt",
      s"""$RnCte,
         |c AS (SELECT user_id, rn, event_type,
         |             count(CASE WHEN event_type = 'error' THEN 1 END)
         |               OVER (PARTITION BY user_id ORDER BY rn) AS err_upto
         |      FROM b),
         |st AS (SELECT user_id, rn,
         |              CASE WHEN err_upto = 0 THEN 'start'
         |                   WHEN event_type = 'purchase' THEN 'final'
         |                   ELSE 'armed' END AS to_state
         |       FROM c),
         |tr AS (SELECT coalesce(lag(to_state) OVER (PARTITION BY user_id ORDER BY rn),
         |                       'start') AS from_state, to_state
         |       FROM st),
         |probs AS (SELECT from_state, to_state,
         |                 count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY from_state) AS p
         |          FROM tr GROUP BY from_state, to_state),
         |pm AS (SELECT
         |  coalesce(max(CASE WHEN from_state='start' AND to_state='start' THEN p END), 0) AS p_ss,
         |  coalesce(max(CASE WHEN from_state='start' AND to_state='armed' THEN p END), 0) AS p_sa,
         |  coalesce(max(CASE WHEN from_state='start' AND to_state='final' THEN p END), 0) AS p_sf,
         |  coalesce(max(CASE WHEN from_state='armed' AND to_state='start' THEN p END), 0) AS p_as,
         |  coalesce(max(CASE WHEN from_state='armed' AND to_state='armed' THEN p END), 0) AS p_aa,
         |  coalesce(max(CASE WHEN from_state='armed' AND to_state='final' THEN p END), 0) AS p_af
         |  FROM probs),
         |rec AS (
         |  WITH RECURSIVE step(t, ps, pa, hit) AS (
         |    SELECT 0, CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
         |    UNION ALL
         |    SELECT t + 1,
         |           ps * p_ss + pa * p_as,
         |           ps * p_sa + pa * p_aa,
         |           ps * p_sf + pa * p_af
         |    FROM step, pm WHERE t < 20)
         |  SELECT * FROM step)
         |SELECT t, round(hit, 6) AS p FROM rec WHERE t >= 1 ORDER BY t""".stripMargin) { (s, dir) =>
      import s.implicits._
      val counts = labelCounts(s, dir)
      val idx = Map("start" -> 0, "armed" -> 1, "final" -> 2)
      val mc = graft.cef.MarkovChain.mle(3,
        counts.map { case ((f, t), n) => ((idx(f), idx(t)), n) }, Set(2))
      val wt = mc.wtDistribution(0, 20)
      (1 to 20).map(t => (t, BigDecimal(wt(t)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("t", "p")
        .orderBy(col("t"))
    },

    Q("cef12_spst_forecasts", SpstOracle.sql12) { (s, dir) =>
      val ev = events(s, dir)
      val spst = spstSkipAny(s, dir)
      Train.forecasts(ev, pSkipAny, spst, ForecastMethod.ClassifyNextK,
          threshold = 0.4, spread = 10, horizon = 20).toDF()
        .select(
          col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"),
          col("startCounter").as("fs"), col("endCounter").as("fe"),
          (floor(col("prob") * 1000000 + 0.5)).cast("long").as("prob"), col("positive"))
        .orderBy(col("user_id"), col("counter"))
    },

    // ---------------- SPSTm: forecasting for REGISTER patterns over the
    // DSRA runtime (reference SPSTmTask.scala / SPSTmInterface.scala).
    // The runtime's deterministic observables symbolize the stream
    // (detection / new window anchor / other) and the anchor-age
    // abstraction of the count window is the state; a PST trained on the
    // distributed symbol trace drives the same wt recursion as cef11. The
    // oracle restates the WHOLE pipeline: detection points (the cef18
    // self-join), symbolization, n-gram counts, PST learning and the
    // unrolled wt recursion — automaton constants interpolated from the
    // same SpstM.anchorAgeTables the Spark side runs.
    Q("cef21_spstm_wt", SpstmOracle.sql21) { (s, dir) =>
      val ev = events(s, dir)
      val m = Train.learnSpstm(ev, pSremo, order = 2)
      val rows = m.pst.leaves.flatMap { leaf =>
        (0 until m.nStates).map { st =>
          val wt = m.wtDistribution(leaf.label, st, horizon = 20)
          (leaf.label.mkString(":"), st,
            math.floor(wt.wt.values.sum * 1000000 + 0.5).toLong,
            math.floor(wt.classifyNextK(0.5, 10).prob * 1000000 + 0.5).toLong)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "wt_mass", "p_next10")
        .orderBy(col("label"), col("state"))
    },

    // ---------------- SPSTm over a TIME-windowed register pattern: the
    // same pipeline as cef21 with the anchor age measured in event time
    // and bucketed to a 20,000 s grid (10 cells over the 200,000 s
    // window — the reference's SPSTm path is window-kind-agnostic,
    // SPSTmTask.scala). Symbols come from the runtime's time-window
    // semantics (the cef19 detection self-join); the oracle restates
    // symbolization, PST learning and the wt recursion with the
    // 10-cell age automaton interpolated from the same
    // SpstM.anchorAgeTables the Spark side runs.
    Q("cef32_spstm_time", SpstmTimeOracle.sql32) { (s, dir) =>
      val m = spstmTime(s, dir)
      val rows = m.pst.leaves.flatMap { leaf =>
        (0 until m.nStates).map { st =>
          val wt = m.wtDistribution(leaf.label, st, horizon = 20)
          (leaf.label.mkString(":"), st,
            math.floor(wt.wt.values.sum * 1000000 + 0.5).toLong,
            math.floor(wt.classifyNextK(0.5, 10).prob * 1000000 + 0.5).toLong)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "wt_mass", "p_next10")
        .orderBy(col("label"), col("state"))
    },

    // ---------------- F5 forecasts through ACTUAL Structured Streaming:
    // the cef12 pipeline (train SPST, precompute the classify-nextk
    // table) with emission through Stream.forecasts — the forecasting
    // runtime's snapshot (automaton state + symbol buffer) round-trips
    // GroupState at every micro-batch boundary, and the cef12 oracle
    // gates that the multi-batch streaming output equals the batch
    // pipeline's exactly.
    Q("cef33_streaming_forecasts", SpstOracle.sql12) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val table = spst.forecastTable(ForecastMethod.ClassifyNextK,
        threshold = 0.4, spread = 10, horizon = 20)
      runDetectionStream(s, dir, "cef33")(Stream.forecasts(_, pSkipAny, spst, table))
        .select(
          col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"),
          col("startCounter").as("fs"), col("endCounter").as("fe"),
          (floor(col("prob") * 1000000 + 0.5)).cast("long").as("prob"), col("positive"))
        .orderBy(col("user_id"), col("counter"))
    },

    // ---------------- the COMPOSED InferenceJob as ONE streaming query
    // (reference InferenceJob.java:215-302): detections + forecasts +
    // per-key periodic reports all emitted from a SINGLE
    // flatMapGroupsWithState pass as a tagged union (Inference.engine —
    // Spark's substitute for Flink side outputs, SURVEY.md §7.1.2),
    // through the ≥3-micro-batch scaffold, so the engine snapshot that
    // round-trips GroupState here is the FULL keyed state set: run
    // state + symbol buffer + pending unresolved forecasts + cumulative/
    // last-reported confusion counts + the report schedule. The oracle
    // ([[SpstOracle.sql38]]) restates all three output kinds; control
    // plane is quiescent (no pause/swap — cef39 gates the swap).
    Q("cef38_inference_job", SpstOracle.sql38) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val table = spst.forecastTable(ForecastMethod.ClassifyNextK,
        threshold = 0.4, spread = 10, horizon = 20)
      val handle = new Inference.ControlHandle
      runDetectionStream(s, dir, "cef38")(
        Inference.engine(_, pSkipAny, _ => (spst, table), handle,
          initialModelId = 0, swapDelay = 0L,
          reportingDistance = SpstOracle.ReportEveryMicros))
        .select(
          col("kind"),
          col("partition").cast("long").as("user_id"),
          col("counter"),
          col("eventId").as("event_id"),
          col("timestamp").as("ts_us"),
          when(col("kind") === "forecast", col("startCounter")).otherwise(lit(-1L)).as("fs"),
          when(col("kind") === "forecast", col("endCounter")).otherwise(lit(-1L)).as("fe"),
          when(col("kind") === "forecast", floor(col("prob") * 1000000 + 0.5))
            .when(col("kind") === "report", floor(col("prob") * 10000 + 0.5))
            .otherwise(lit(1000000L)).cast("long").as("prob_q"),
          col("positive"),
          when(col("kind") === "report", col("startCounter")).otherwise(lit(-1L)).as("tp"),
          when(col("kind") === "report",
            get_json_object(col("payload"), "$.batch.tn").cast("long"))
            .otherwise(lit(-1L)).as("tn"),
          when(col("kind") === "report", col("endCounter")).otherwise(lit(-1L)).as("fp"),
          when(col("kind") === "report",
            get_json_object(col("payload"), "$.batch.fn").cast("long"))
            .otherwise(lit(-1L)).as("fn"))
        .orderBy(col("kind"), col("user_id"), col("counter"))
    },

    // ---------------- the MID-STREAM synchronized model swap, driver-
    // gated (reference WayebEngine.java:300-315): the control plane has
    // already published model 1 (ControlHandle.pushModel) when the
    // stream starts, so each key arms a pending swap at its FIRST event
    // (syncTs = first event time + 12 days — inside slice 2 of the
    // 30-day stream for every key) and swaps per key when EVENT time
    // passes syncTs, mid-micro-batch, with the symbol buffer surviving
    // (warm forecasts continue immediately). Model 0 forecasts
    // classify-next-10 @ θ=0.4; model 1 classify-next-5 @ θ=0.6 over
    // the same SPST — the oracle ([[SpstOracle.sql39]]) replays the
    // piecewise join: ft before the per-key syncTs, ft5 after.
    // Reports are suppressed (distance ≫ stream span) — cef38 gates
    // them; detections are model-invariant and prove the run state
    // itself survived the swap.
    Q("cef39_model_swap", SpstOracle.sql39) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val tableA = spst.forecastTable(ForecastMethod.ClassifyNextK,
        threshold = 0.4, spread = 10, horizon = 20)
      val tableB = spst.forecastTable(ForecastMethod.ClassifyNextK,
        threshold = 0.6, spread = 5, horizon = 20)
      val handle = new Inference.ControlHandle
      handle.pushModel(1)
      runDetectionStream(s, dir, "cef39")(
        Inference.engine(_, pSkipAny,
          id => if (id == 0) (spst, tableA) else (spst, tableB), handle,
          initialModelId = 0, swapDelay = SpstOracle.SwapDelayMicros,
          reportingDistance = Long.MaxValue / 4))
        .select(
          col("kind"),
          col("partition").cast("long").as("user_id"),
          col("counter"),
          col("eventId").as("event_id"),
          col("timestamp").as("ts_us"),
          when(col("kind") === "forecast", col("startCounter")).otherwise(lit(-1L)).as("fs"),
          when(col("kind") === "forecast", col("endCounter")).otherwise(lit(-1L)).as("fe"),
          when(col("kind") === "forecast", floor(col("prob") * 1000000 + 0.5))
            .otherwise(lit(1000000L)).cast("long").as("prob_q"),
          col("positive"))
        .orderBy(col("kind"), col("user_id"), col("counter"))
    },

    // ---------------- O1–O8 the adaptation control plane as ONE
    // driver-checked query: the day-windowed report stream (cef10
    // arithmetic) feeds the REAL Observer; its instructions drive the
    // REAL Controller + Factory — every retrain trains on the
    // retention-bounded archive before its day (AdaptOracle.RetentionDays,
    // the Collector last-K stand-in), and the first optimize runs
    // a full seeded ask/tell session (10 in-memory train/test
    // evaluations over the locked dataset's 80/20 split, argmin
    // finalise) with pause/play engine-sync commands. The oracle
    // restates the WHOLE loop in SQL — Observer recursion, the
    // k-dimensioned candidate PST trainings, the per-event forecast
    // replay, confusion/MCC arithmetic, argmin and the model-counter/
    // MIN_DATA_THRESHOLD bookkeeping ([[AdaptOracle]]). Dispatch scope:
    // every retrain + ONE optimization cycle (the first optimize) — the
    // reference's single in-flight session; later optimize instructions
    // are recorded as Observer output only.
    Q("cef31_adapt_loop", AdaptOracle.sql31) { (s, dir) =>
      import graft.cef.ClassStats
      import graft.cef.adapt._
      def q4(x: Double) = math.floor(x * 10000 + 0.5).toLong
      def q9(x: Double) = math.floor(x * 1000000000L + 0.5).toLong
      val rows = scala.collection.mutable.ListBuffer
        .empty[(String, Long, Long, Long, Long, Long, Long, String, Long, Long, Long, Long)]

      val reps = forecastEvalByDay(s, dir)
        .select(col("day"), col("tp"), col("tn"), col("fp"), col("fn"))
        .orderBy(col("day")).collect()
      val observer = new Observer(lowScore = AdaptOracle.LowScore,
        optDiff = AdaptOracle.OptDiff, trainDiff = AdaptOracle.TrainDiff,
        graceInit = AdaptOracle.GraceInit)
      val instructions = scala.collection.mutable.ListBuffer.empty[(Long, java.sql.Date, Instruction)]
      reps.zipWithIndex.foreach { case (r, idx) =>
        val i = idx + 1L
        val st = ClassStats(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        rows += (("report", i, st.tp, st.tn, st.fp, st.fn, q4(st.mcc), "", -1L, -1L, -1L, -1L))
        observer.onReport(Report(i, "global", MetricGroup.zero, MetricGroup.of(st))).foreach { ins =>
          rows += (("instruction", i, -1L, -1L, -1L, -1L, -1L,
            ins.instructionType, ins.id.toLong, -1L, -1L, -1L))
          instructions += ((i, r.getDate(0), ins))
        }
      }

      val ev = events(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("cef31-models")
      try {
        val factory = new Factory(pSkipAny, tmp.toString, order = 2)
        val controller = new Controller(() => new AskTellOptimizer(
          nInitialPoints = AdaptOracle.NEvals, nTotalEvals = AdaptOracle.NEvals, seed = 42L))
        val evalMcc = scala.collection.mutable.Map.empty[Int, Double]
        var sessionDone = false
        instructions.foreach { case (i, day, ins) =>
          val dispatch = ins.instructionType == "retrain" ||
            (ins.instructionType == "optimize" && !sessionDone)
          if (dispatch) {
            if (ins.instructionType == "optimize") sessionDone = true
            // the Collector-retention-bounded archive (AdaptOracle.RetentionDays)
            val dayStartMicros = day.toLocalDate.toEpochDay * 86400L * 1000000L
            val fromMicros = dayStartMicros - AdaptOracle.RetentionDays * 86400L * 1000000L
            val ds = ev.filter(e => e.timestamp < dayStartMicros && e.timestamp >= fromMicros)
              .collect().toSeq
            factory.onDataset(i.toInt, ds)
            val out0 = controller.onInstruction(ins)
            out0.syncCommands.foreach(sc => rows += (("sync", i, -1L, -1L, -1L, -1L, -1L,
              sc.cmdType, sc.modelId.toLong, -1L, -1L, -1L)))
            var pending = out0.factoryCommands
            while (pending.nonEmpty) {
              pending = pending.flatMap { cmd =>
                val rep = factory.onCommand(cmd)
                rep.reportType match {
                  case "opt_step_done" =>
                    val mcc = rep.metrics("mcc")
                    evalMcc(rep.modelId) = mcc
                    val List(pm, gm) = cmd.params.get
                    rows += (("eval", rep.modelId.toLong, -1L, -1L, -1L, -1L, q4(mcc),
                      "", -1L, q9(pm), q9(gm), ds.size.toLong))
                  case "opt_finalised" =>
                    rows += (("select", cmd.bestI.toLong, -1L, -1L, -1L, -1L,
                      q4(evalMcc(cmd.bestI)), "finalised", rep.modelId.toLong,
                      q9(rep.metrics("pMin")), q9(rep.metrics("gamma")), ds.size.toLong))
                  case "trained" =>
                    val List(pm, gm) = cmd.params.get
                    rows += (("train", i, -1L, -1L, -1L, -1L, -1L, "trained",
                      rep.modelId.toLong, q9(pm), q9(gm), ds.size.toLong))
                  case "error" =>
                    rows += (("factory_error", i, -1L, -1L, -1L, -1L, -1L,
                      cmd.cmdType, rep.metrics("reason").toLong, -1L, -1L, ds.size.toLong))
                  case _ => () // opt_initialised: protocol-internal, no sink output
                }
                val o = controller.onFactoryReport(rep)
                o.syncCommands.foreach(sc => rows += (("sync", i, -1L, -1L, -1L, -1L, -1L,
                  sc.cmdType, sc.modelId.toLong, -1L, -1L, -1L)))
                o.factoryCommands
              }
            }
          }
        }
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
      import s.implicits._
      rows.toSeq
        .toDF("kind", "seq", "tp", "tn", "fp", "fn", "mcc_q",
          "decision", "model_id", "p1_q", "p2_q", "n")
        .orderBy(col("kind"), col("seq"), col("decision"))
    },

    // ---------------- the deterministic runtime on Spark 4's
    // transformWithState operator (typed state variables, RocksDB-only
    // backend) — the successor API to flatMapGroupsWithState, gated with
    // the same skip-any oracle as cef22 so BOTH keyed-stateful operator
    // generations are driver-checked. The provider conf is scoped to
    // this query (set before, restored after — it is read at stream
    // start).
    Q("cef35_streaming_tws",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id, rn, ts,
         |             count(CASE WHEN event_type = 'error' THEN 1 END)
         |               OVER (PARTITION BY user_id ORDER BY rn
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |      FROM b)
         |SELECT user_id, event_id, rn AS counter, epoch_us(ts) AS ts_us
         |FROM c WHERE event_type = 'purchase' AND n_err > 0
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        runDetectionStream(s, dir, "cef35")(Stream.detectionsTws(_, pSkipAny))
          .select(
            col("partition").cast("long").as("user_id"),
            col("eventId").as("event_id"),
            col("counter"),
            col("timestamp").as("ts_us"))
          .orderBy(col("user_id"), col("event_id"))
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    },

    // ---------------- stream-stream INNER JOIN state: purchases joined
    // to the errors of the preceding day per user, both sides carved
    // from the same watermarked stream — the join buffers BOTH inputs in
    // state across micro-batches (a purchase in batch 2 must still find
    // its batch-1 errors), which the ≥3-batch scaffold makes the
    // load-bearing property; the time-range condition is what lets the
    // engine eventually evict (the canonical watermarked interval-join
    // shape). Inner-join output is batching-independent, so the batch
    // SQL join is an exact oracle.
    Q("cef37_streaming_join",
      """SELECT p.user_id AS user_id, p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) - 86400000000 AND epoch_us(p.ts)
        |ORDER BY user_id, purchase_id, error_id""".stripMargin) { (s, dir) =>
      runEventStream(s, dir, "cef37", "append") { raw =>
        val purchases = raw.filter(col("event_type") === "purchase")
          .withWatermark("ts", "1 minute")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("ts").as("pts"))
        val errors = raw.filter(col("event_type") === "error")
          .withWatermark("ts", "1 minute")
          .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
            col("ts").as("ets"))
        purchases.join(errors,
          col("p_user") === col("e_user") &&
            col("ets").between(col("pts") - expr("interval 1 day"), col("pts")))
      }
        .select(col("p_user").cast("long").as("user_id"),
          col("purchase_id"), col("error_id"))
        .orderBy(col("user_id"), col("purchase_id"), col("error_id"))
    },

    // ---------------- streaming dedup state: dropDuplicates over the
    // watermarked stream — a key seen in micro-batch 1 must NOT re-emit
    // from batch 2/3, so the dedup state store round-trips batch
    // boundaries (the ≥3-batch scaffold makes that the load-bearing
    // property; which physical duplicate wins is nondeterministic, so
    // only the key columns are emitted — the set is deterministic).
    Q("cef36_streaming_dedup",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      runEventStream(s, dir, "cef36", "append") { raw =>
        raw.withWatermark("ts", "1 minute")
          .dropDuplicates("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
      }
        .orderBy(col("user_id"), col("event_type"))
    },

    // ---------------- watermark / late-data semantics (P5, the
    // reference's bounded-out-of-orderness source): the ordinary
    // scaffold's slices are globally time-ordered, so the late path
    // never fires there — this gate replays a DELIBERATELY out-of-order
    // arrival schedule (every [[LateEveryId]]th event id held back one
    // slice) through a watermarked tumbling aggregation in APPEND mode,
    // where Spark's own watermark machinery decides per row: a straggler
    // whose day-window is still open against the late-events watermark
    // is aggregated, one whose window that watermark already closed is
    // dropped, and a window is emitted only once the eviction watermark
    // passes its end. The oracle replays the exact rule, including the
    // one-batch LAG between the two watermarks (the late filter for
    // batch N uses batch N-1's eviction watermark, i.e. ms-truncated
    // max event time over batches 1..N-2 minus 5 days): keep iff window
    // end > that lagged wm at the arrival batch, emit iff window end ≤
    // final wm (max over ALL batches − 5 days, applied by the trailing
    // no-data batch). The in-query require() proves BOTH paths fire:
    // ≥1 held-back row lands inside a LIVE (finite) filter watermark
    // and is kept, and ≥1 lands beyond it and is dropped.
    Q("cef40_watermark_late",
      s"""WITH b AS (
         |  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS tsu,
         |         ntile(3) OVER (ORDER BY ts, event_id) AS s0
         |  FROM events),
         |a AS (SELECT b.*,
         |        LEAST(3, s0 + CASE WHEN event_id % $Late2EveryId = 0 THEN 2
         |                           WHEN event_id % $LateEveryId = 0 THEN 1
         |                           ELSE 0 END) AS sl
         |      FROM b),
         |wm AS (SELECT s.sl,
         |         (SELECT CAST((floor(max(a2.tsu) / 1000) - ${WmDelayMs}) * 1000 AS BIGINT)
         |          FROM a a2 WHERE a2.sl < s.sl - 1) AS w
         |       FROM (SELECT DISTINCT sl FROM a) s),
         |k AS (SELECT a.*, epoch_us(date_trunc('day', a.ts)) AS day_us FROM a),
         |kept AS (
         |  SELECT k.* FROM k JOIN wm ON wm.sl = k.sl
         |  WHERE wm.w IS NULL OR k.day_us + 86400000000 > wm.w),
         |fwm AS (SELECT CAST((floor(max(tsu) / 1000) - ${WmDelayMs}) * 1000 AS BIGINT) AS w
         |        FROM a)
         |SELECT user_id, day_us, count(*) AS cnt,
         |       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
         |FROM kept, fwm
         |WHERE day_us + 86400000000 <= fwm.w
         |GROUP BY user_id, day_us
         |ORDER BY user_id, day_us""".stripMargin) { (s, dir) =>
      // prove the injected schedule exercises BOTH decisions of the rule.
      // r17 (VERDICT r16 What's-wrong #1): the probe reads the s0
      // assignment OFF the cached base slice files — slice file i IS
      // ntile result i — and applies the shared [[lateShift]] rule,
      // exactly how [[eventSlices]] derives the late set the gate
      // replays (LateSliceSpec pins derived ≡ direct file-for-file) —
      // instead of re-running a single-partition ntile window over the
      // events table per run (the last per-run global-window site).
      val probe = StreamScaffold.read(s, eventSlices(s, dir, late = false))
        .select(col("event_id"), col("ts"), col(StreamScaffold.SliceCol).as("s0"))
        .withColumn("sl", lateShift(col("s0")))
        .withColumn("tsu", unix_micros(col("ts")))
        .withColumn("wend",
          unix_micros(date_trunc("day", col("ts"))) + lit(86400000000L))
      val wmBySlice = probe.groupBy("sl").agg(max("tsu").as("mx"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // the late-events filter watermark lags eviction by one batch
      def wmFor(sl: Int): Long = (1 until sl - 1).map(wmBySlice).reduceOption(_ max _)
        .map(m => (m / 1000 - WmDelayMs) * 1000).getOrElse(Long.MinValue)
      val moved = probe.filter(col("s0") =!= col("sl"))
        .select("sl", "wend").collect()
      val keptFinite = moved.count(r =>
        wmFor(r.getInt(0)) != Long.MinValue && r.getLong(1) > wmFor(r.getInt(0)))
      val dropped = moved.count(r => r.getLong(1) <= wmFor(r.getInt(0)))
      require(keptFinite >= 1 && dropped >= 1,
        s"late schedule must both keep (vs a live watermark) and drop: " +
          s"kept $keptFinite, dropped $dropped of ${moved.length} held-back rows")
      runEventStream(s, dir, "cef40", "append", late = true, noDataBatches = true) { raw =>
        raw.withWatermark("ts", s"$WmDelayMs milliseconds")
          .groupBy(col("user_id"), window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("cnt"),
            count(when(col("event_type") === "error", 1)).as("n_err"))
          .select(col("user_id"), unix_micros(col("window.start")).as("day_us"),
            col("cnt"), col("n_err"))
      }
        .orderBy(col("user_id"), col("day_us"))
    },

    // ---------------- the register-pattern (SPSTm over DSRA) forecasting
    // runtime through ACTUAL Structured Streaming: cef33 streams SpstRun
    // over an SDFA pattern; this gate streams the TIME-windowed SREMO
    // pattern's forecaster — the DSRA hyper-state (config set +
    // valuations + anchors) AND the SPSTm symbol buffer round-trip
    // GroupState at every micro-batch boundary (Stream.forecastsSpstm),
    // with per-event forecasts keyed by (PST label, grid-bucketed
    // anchor age). The oracle ([[SpstmTimeOracle.sql41]]) restates the
    // cef32 learning chain plus the per-event replay.
    Q("cef41_streaming_spstm", SpstmTimeOracle.sql41) { (s, dir) =>
      val m = spstmTime(s, dir)
      val table = m.forecastTable(ForecastMethod.ClassifyNextK,
        threshold = 0.4, spread = 10, horizon = 20)
      runDetectionStream(s, dir, "cef41")(
        Stream.forecastsSpstm(_, pSremoTime, m, table, SpstmTimeOracle.GridMicros))
        .select(
          col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"),
          col("startCounter").as("fs"), col("endCounter").as("fe"),
          (floor(col("prob") * 1000000 + 0.5)).cast("long").as("prob"), col("positive"))
        .orderBy(col("user_id"), col("counter"))
    },

    // ---------------- R4 match ENUMERATION through ACTUAL Structured
    // Streaming — the fourth and last runtime under the streaming gate
    // (cef22 = DetRun, cef25 = DsraRun, cef33 = SpstRun, this = MatchRun):
    // the register-pattern spike enumeration of cef13, with the per-key
    // thread pool round-tripping GroupState at every micro-batch
    // boundary, against the same non-equi self-join oracle.
    Q("cef34_streaming_matches",
      s"""$RnCte
         |SELECT a.user_id, a.event_id AS id_a, p.event_id AS id_b
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < 10
         |WHERE a.value > 120.0 AND p.value > a.value
         |ORDER BY a.user_id, id_a, id_b""".stripMargin) { (s, dir) =>
      runDetectionStream(s, dir, "cef34")(Stream.matches(_, pSremo))
        .select(
          col("partition").cast("long").as("user_id"),
          element_at(col("eventIds"), 1).as("id_a"),
          element_at(col("eventIds"), 2).as("id_b"))
        .orderBy(col("user_id"), col("id_a"), col("id_b"))
    },

    // ---------------- the deterministic runtime as an ACTUAL Structured
    // Streaming query (SURVEY.md §7.1.2): the same skip-any detection
    // points as cef07, but through readStream(file source) →
    // Stream.detections (flatMapGroupsWithState) → memory sink under
    // Trigger.AvailableNow — so the driver's DuckDB oracle checks the
    // streaming execution path itself, not just its batch twin.
    // The scaffold slices the source into StreamScaffold.Slices ordered files
    // (maxFilesPerTrigger=1), so this gate covers cross-micro-batch
    // GroupState snapshot/restore, not just the single-batch pass;
    // cross-batch event-time order within a key is the slicing's
    // contract (contiguous (ts, id) ranges), same as the reference's
    // Flink engine trusting watermarked keyed delivery.
    Q("cef22_streaming",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id, rn, ts,
         |             count(CASE WHEN event_type = 'error' THEN 1 END)
         |               OVER (PARTITION BY user_id ORDER BY rn
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |      FROM b)
         |SELECT user_id, event_id, rn AS counter, epoch_us(ts) AS ts_us
         |FROM c WHERE event_type = 'purchase' AND n_err > 0
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      runDetectionStream(s, dir, "cef22")(Stream.detections(_, pSkipAny))
        .select(
          col("partition").cast("long").as("user_id"),
          col("eventId").as("event_id"),
          col("counter"),
          col("timestamp").as("ts_us"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // ---------------- the DSRA (register-pattern) runtime as an ACTUAL
    // streaming query: the configuration-set hyper-state (valuations +
    // window anchors) lives in GroupState and the file-source micro-batch
    // drives it under Trigger.AvailableNow — the same oracle as the
    // batch twin cef18 (DISTINCT because the SQL join enumerates what
    // the deterministic runtime emits once).
    Q("cef25_streaming_dsra",
      s"""$RnCte
         |SELECT DISTINCT a.user_id AS user_id, p.rn AS counter, p.event_id AS event_id
         |FROM b a JOIN b p
         |  ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < 10
         |WHERE a.value > 120.0 AND p.value > a.value
         |ORDER BY a.user_id, counter""".stripMargin) { (s, dir) =>
      runDetectionStream(s, dir, "cef25")(Stream.detectionsDsra(_, pSremo))
        .select(col("partition").cast("long").as("user_id"),
          col("counter"), col("eventId").as("event_id"))
        .orderBy(col("user_id"), col("counter"))
    },

    // ---------------- multi-pattern detection (K5/R1 over a pattern SET):
    // ONE pass over the stream drives ALL automata per key — the
    // reference's run pool registered per (fsmId, partition value)
    // (ERFEngine.scala:230-266) — instead of one scan per pattern. The
    // oracle is the UNION of the per-pattern detection-point queries
    // tagged with the pattern index, which is exactly the semantics.
    Q("cef24_multi_pattern",
      s"""$RnCte,
         |c AS (SELECT user_id, event_type, event_id, rn,
         |             lag(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS p_type,
         |             count(CASE WHEN event_type = 'error' THEN 1 END)
         |               OVER (PARTITION BY user_id ORDER BY rn
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |      FROM b)
         |SELECT CAST(0 AS INT) AS fsm_id, user_id, event_id, rn AS counter
         |FROM c WHERE event_type = 'purchase' AND n_err > 0
         |UNION ALL
         |SELECT CAST(1 AS INT), user_id, event_id, rn
         |FROM c WHERE event_type = 'purchase' AND p_type = 'error'
         |ORDER BY fsm_id, user_id, event_id""".stripMargin) { (s, dir) =>
      Detect.detectionsMulti(eventsN(s, dir), Seq(pSkipAny, pSeq2)).toDF("fsm_id", "det")
        .select(col("fsm_id"),
          col("det.partition").cast("long").as("user_id"),
          col("det.eventId").as("event_id"),
          col("det.counter"))
        .orderBy(col("fsm_id"), col("user_id"), col("event_id"))
    },

    // ---------------- F3 interval builders driver-checked: the
    // fixed-spread method over the SPST waiting-time series — for every
    // (leaf, state), the 6-event window with the highest completion mass
    // above θ=0.2 (earliest start on ties). The oracle scans the same
    // candidate windows over the shared wt CTE chain; the builder's loop
    // bound (wt support) is pinned to the full horizon on the Spark side
    // so both engines enumerate identical candidates.
    Q("cef26_spst_fixedspread", SpstOracle.sql26) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val rows = spst.pst.leaves.flatMap { leaf =>
        (0 until spst.sdfa.nStates).map { st =>
          val wt = spst.wtDistribution(leaf.label, st, horizon = 20)
          require(wt.horizon == 20,
            s"fixedSpread oracle assumes full wt support, got ${wt.horizon}")
          val fi = wt.fixedSpread(0.2, 5)
          (leaf.label.mkString(":"), st, fi.start.toLong, fi.end.toLong,
            if (fi.isValid) math.floor(fi.prob * 1000000 + 0.5).toLong else -1L)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "fs", "fe", "prob_q")
        .orderBy(col("label"), col("state"))
    },

    // ---------------- P5/A5 event-time tumbling-window aggregation as an
    // ACTUAL streaming query: the canonical watermark/window groupBy
    // shape (daily event-type counts) through the streaming engine with
    // a memory sink in complete mode under Trigger.AvailableNow, against
    // the plain GROUP BY oracle.
    Q("cef28_streaming_window",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
        |FROM events GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin) { (s, dir) =>
      runEventStream(s, dir, "cef28", "complete") { raw =>
        raw.withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      }
        .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"))
        .orderBy(col("day"), col("event_type"))
    },

    // ---------------- per-key SESSION windows through the REAL streaming
    // engine: gap-merged sessions (1-day inactivity gap) computed by
    // session_window across ≥3 micro-batches — sessions that straddle a
    // slice boundary must MERGE across batches through the session-store
    // state, which is exactly what the oracle's lag-gap/cumulative-sum
    // replay checks. Complete mode sidesteps the withheld-final-session
    // problem the same way cef28 does for its tumbling windows (cef40
    // gates watermark/late semantics separately). Session end = last
    // event + gap. Tie semantics: an event at EXACTLY prev_ts + gap
    // JOINS the session — its [t, t+gap) window touches the session end
    // and Spark merges touching windows (batch and streaming agree;
    // StreamFuzzSpec pins this edge) — hence the oracle's STRICT >
    // breakpoint. Ties cannot occur in the events table's continuous
    // micros timestamps, but the oracle encodes the true semantics.
    Q("cef42_streaming_sessions",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |x AS (SELECT user_id, tsu,
        |             CASE WHEN tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu)
        |                       > 86400000000 THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |s AS (SELECT user_id, tsu,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY tsu
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x)
        |SELECT user_id, min(tsu) AS sess_start, max(tsu) + 86400000000 AS sess_end,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin) { (s, dir) =>
      runEventStream(s, dir, "cef42", "complete") { raw =>
        raw.groupBy(session_window(col("ts"), "1 day").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }
        .select(col("user_id"),
          unix_micros(col("w.start")).as("sess_start"),
          unix_micros(col("w.end")).as("sess_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    },

    // ---------------- streaming sketch state: KMV distinct-count folded
    // across micro-batches through GroupState (SketchOps.streamingKmv).
    // Each batch a key appears in emits a snapshot; the FINAL snapshot
    // per key must equal the batch KMV over the whole stream (the
    // oracle), which only holds if the k-min set survives every batch
    // boundary — the same snapshot/restore machinery the automaton
    // gates pin, applied to an aggregation sketch. The in-query require
    // proves ≥1 key actually folded across ≥2 batches.
    Q("cef43_streaming_kmv", {
      import graft.ops.TextOps
      val k = StreamKmvK
      val est = s"(CAST(${k - 1} AS BIGINT) * ${TextOps.HashMod}) // kth_min"
      s"""WITH b AS (SELECT user_id, CAST(floor(value * 10) AS BIGINT) AS bucket
         |           FROM events),
         |h AS (SELECT DISTINCT user_id,
         |             ${TextOps.polyHashSql("CAST(bucket AS VARCHAR)")} AS h
         |      FROM b),
         |r AS (SELECT user_id, h,
         |             row_number() OVER (PARTITION BY user_id ORDER BY h) AS rk
         |      FROM h),
         |a AS (SELECT user_id, count(*) AS n_sample, max(h) AS kth_min
         |      FROM r WHERE rk <= $k GROUP BY user_id),
         |n AS (SELECT user_id, count(*) AS n_seen FROM events GROUP BY user_id)
         |SELECT user_id, n_seen, CAST(n_sample AS BIGINT) AS n_sample, kth_min,
         |       CAST(CASE WHEN n_sample < $k THEN n_sample ELSE $est END AS BIGINT)
         |         AS est_distinct
         |FROM a JOIN n USING (user_id) ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.{SketchOps, TextOps}
      val snaps = runEventStream(s, dir, "cef43", "append") { raw =>
        SketchOps.streamingKmv(
          raw.withColumn("bucket", floor(col("value") * 10).cast("long"))
            .withColumn("h", TextOps.polyHash(col("bucket").cast("string"))),
          "user_id", "h", StreamKmvK).toDF()
      }
      requireCrossBatchFold(snaps, "cef43", "user_id")
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"), col("n_sample"),
          col("kth_min"), col("est_distinct"))
        .orderBy(col("user_id"))
    },

    // ---------------- MonoRun fast path driver-checked: the reference
    // opt engine's regime (ERFOptEngine.scala:91 — single pattern, NO
    // partition attribute) over the GLOBAL event stream. One
    // registry-free run on a shuffle-free plan (coalesce + in-task
    // sort; MonoRunSpec pins no-Exchange and the ≡-pooled-engine fuzz).
    // Oracle = cef05's windowed pair join with a GLOBAL stream order.
    Q("cef44_mono_matches",
      """WITH b AS (
        |  SELECT event_id, event_type,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT a.event_id AS id_a, p.event_id AS id_b
        |FROM b a JOIN b p ON p.rn > a.rn AND p.rn - a.rn < 10
        |WHERE a.event_type = 'error' AND p.event_type = 'purchase'
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val global = Detect.toEventStream(
        Tables(s, dir, "events").withColumn("gkey", lit("")),
        idCol = "event_id", typeCol = "event_type", tsCol = "ts",
        partitionCol = "gkey", numAttrs = Seq("value"))
      Detect.matchesMono(global, pSkipAnyWin).toDF()
        .select(
          element_at(col("eventIds"), 1).as("id_a"),
          element_at(col("eventIds"), 2).as("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---------------- streaming per-key Count-Min gate: the second
    // cross-batch sketch fold (cef43 is KMV). Each key's GroupState
    // holds one rows×width CM table (constant-size — the sketch
    // contract); CM updates are sums, so the fold is exactly
    // associative and the streamed sketch ≡ the batch sketch however
    // the stream is sliced — which is precisely what the oracle (a
    // batch CM restated per user in SQL) certifies through the ≥3 real
    // micro-batches the scaffold forces. Probes mix present and absent
    // value-buckets to exercise both the overcount and the zero path.
    Q("cef45_streaming_cm", {
      import graft.ops.TextOps
      val seeds = Pipeline.cmSeedsForSpec
      val aL = seeds.map(_._1).mkString("[", ", ", "]")
      val bL = seeds.map(_._2).mkString("[", ", ", "]")
      val probes = StreamCmProbes.mkString("[", ", ", "]")
      val w = StreamCmWidth
      s"""WITH b AS (SELECT user_id, CAST(floor(value * 10) AS BIGINT) AS bucket
         |           FROM events),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen FROM b GROUP BY user_id),
         |h AS (SELECT user_id, ${TextOps.polyHashSql("CAST(bucket AS VARCHAR)")} AS h FROM b),
         |rr AS (SELECT unnest(range(${seeds.size})) AS r),
         |sk AS (SELECT user_id, r, cell, count(*) AS c FROM (
         |         SELECT user_id, r, ((h * $aL[r + 1] + $bL[r + 1]) % ${TextOps.HashMod}) % $w
         |                  AS cell
         |         FROM h CROSS JOIN rr) GROUP BY user_id, r, cell),
         |pc AS (SELECT probe, r,
         |              ((h * $aL[r + 1] + $bL[r + 1]) % ${TextOps.HashMod}) % $w AS cell
         |       FROM (SELECT probe, ${TextOps.polyHashSql("CAST(probe AS VARCHAR)")} AS h
         |             FROM (SELECT unnest($probes) AS probe)) CROSS JOIN rr),
         |est AS (SELECT u.user_id, pc.probe, min(coalesce(sk.c, 0)) AS est_cnt
         |        FROM (SELECT DISTINCT user_id FROM b) u CROSS JOIN pc
         |        LEFT JOIN sk ON sk.user_id = u.user_id AND sk.r = pc.r AND sk.cell = pc.cell
         |        GROUP BY u.user_id, pc.probe)
         |SELECT e.user_id, e.probe, n.n_seen, CAST(e.est_cnt AS BIGINT) AS est_cnt
         |FROM est e JOIN n USING (user_id)
         |ORDER BY user_id, probe""".stripMargin
    }) { (s, dir) =>
      import graft.ops.{SketchOps, TextOps}
      val snaps = runEventStream(s, dir, "cef45", "append") { raw =>
        SketchOps.streamingCmPoints(
          raw.withColumn("bucket", floor(col("value") * 10).cast("long"))
            .withColumn("h", TextOps.polyHash(col("bucket").cast("string"))),
          "user_id", "h",
          probes = StreamCmProbes,
          probeHashes = StreamCmProbes.map(p => TextOps.polyHashJvm(p.toString)),
          seeds = Pipeline.cmSeedsForSpec, width = StreamCmWidth).toDF()
      }
      requireCrossBatchFold(snaps, "cef45", "user_id", "probe")
      latestSnapshotPerKey(snaps, "user_id", "probe")
        .select(col("user_id"), col("probe"), col("n_seen"), col("est_cnt"))
        .orderBy(col("user_id"), col("probe"))
    },

    // ---------------- streaming per-key weighted sample: the third
    // cross-batch state fold (cef43 = KMV sketch, cef45 = CM sketch,
    // this = a RESERVOIR). Sequential-Poisson order sampling (p63's
    // exact design: integer priority (u·10⁹) div w, u = seeded
    // polyHash(event_id), w from the event's value) folded per key
    // through GroupState — "k smallest of a set" is associative and
    // commutative, so the streamed sample ≡ the batch sample however
    // the micro-batches split (StatsOpsSpec fuzzes arbitrary splits);
    // the oracle restates it as a per-key row_number over priorities.
    // State is O(k) per key; the final snapshot per key carries the
    // sample, exploded to (event, rank) rows.
    Q("cef46_streaming_wsample", {
      import graft.ops.{StatsOps, TextOps}
      val h = TextOps.polyHashSql("CAST(event_id AS VARCHAR) || '#graft-stream-ws'")
      s"""WITH p AS (
         |  SELECT user_id, event_id,
         |         ($h * ${StatsOps.PriScale})
         |           // (CAST(floor(value * 10) AS BIGINT) + 1) AS pri
         |  FROM events),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM events GROUP BY user_id),
         |r AS (SELECT user_id, event_id, pri,
         |             row_number() OVER (PARTITION BY user_id ORDER BY pri, event_id)
         |               AS rk
         |      FROM p)
         |SELECT r.user_id, n.n_seen, r.event_id, r.pri, CAST(r.rk AS BIGINT) AS rk
         |FROM r JOIN n USING (user_id) WHERE rk <= $StreamWsK
         |ORDER BY user_id, rk""".stripMargin
    }) { (s, dir) =>
      import graft.ops.{StatsOps, TextOps}
      val snaps = runEventStream(s, dir, "cef46", "append") { raw =>
        StatsOps.streamingWeightedSample(
          raw.withColumn("w", floor(col("value") * 10).cast("long") + 1)
            .withColumn("num",
              TextOps.polyHash(concat(col("event_id").cast("string"),
                lit("#graft-stream-ws"))) * StatsOps.PriScale)
            .withColumn("pri", expr("num div w")),
          "user_id", "event_id", "pri", StreamWsK).toDF()
      }
      requireCrossBatchFold(snaps, "cef46", "user_id")
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"),
          posexplode(arrays_zip(col("ids"), col("pris"))))
        .select(col("user_id"), col("n_seen"),
          col("col.ids").as("event_id"), col("col.pris").as("pri"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy(col("user_id"), col("rk"))
    },

    // ---------------- streaming per-key Misra-Gries heavy hitters: the
    // fourth cross-batch state fold, and the first ORDER-dependent one
    // (KMV/CM/the reservoir are associative-commutative; MG folds
    // sequentially). Each micro-batch contributes the key's EXACT item
    // counts; the state merges them into ≤ k counters via the
    // "Mergeable Summaries" rule (sum counterwise, subtract the
    // (k+1)-th largest count, drop non-positives) — a pure function of
    // the counts, so the DuckDB oracle replays the identical fold:
    // slice assignment is ntile(StreamScaffold.Slices) over (ts, event_id), the
    // exact rule StreamScaffold.slices uses, and one reduction CTE per
    // micro-batch. This gates that GroupState round-trips EVERY batch
    // boundary in sequence — a restore skipping batch 2 would shift
    // every surviving count.
    Q("cef47_streaming_mg", {
      val k = StreamMgK
      def reduce(src: String, dst: String) =
        s"""$dst AS (
           |  SELECT user_id, item, c - t AS c FROM (
           |    SELECT user_id, item, c,
           |           coalesce(max(CASE WHEN rn = ${k + 1} THEN c END)
           |                    OVER (PARTITION BY user_id), 0) AS t
           |    FROM (SELECT user_id, item, c,
           |                 row_number() OVER (PARTITION BY user_id
           |                                    ORDER BY c DESC, item) AS rn
           |          FROM $src))
           |  WHERE c - t > 0)""".stripMargin
      def merge(prev: String, cnts: String, dst: String) =
        s"""$dst AS (SELECT coalesce(m.user_id, c.user_id) AS user_id,
           |              coalesce(m.item, c.item) AS item,
           |              coalesce(m.c, 0) + coalesce(c.c, 0) AS c
           |       FROM $prev m FULL OUTER JOIN $cnts c
           |         ON m.user_id = c.user_id AND m.item = c.item)""".stripMargin
      // the slice/merge/reduce chain is GENERATED from StreamScaffold.Slices
      // (r10 advice): MG is order-dependent across batches, so a
      // hard-coded 3 would silently desynchronize this oracle from the
      // stream the scaffold actually replays if StreamScaffold.Slices changed
      val slices = (1 to StreamScaffold.Slices).map(i =>
        s"c$i AS (SELECT user_id, item, count(*) AS c FROM e WHERE sl = $i GROUP BY user_id, item)")
        .mkString(",\n")
      val fold = (Seq(reduce("c1", "m1")) ++
        (2 to StreamScaffold.Slices).flatMap(i =>
          Seq(merge(s"m${i - 1}", s"c$i", s"a$i"), reduce(s"a$i", s"m$i"))))
        .mkString(",\n")
      s"""WITH e AS (SELECT user_id, event_type AS item,
         |                  ntile(${StreamScaffold.Slices}) OVER (ORDER BY ts, event_id) AS sl
         |           FROM events),
         |$slices,
         |$fold,
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM events GROUP BY user_id)
         |SELECT m.user_id, n.n_seen, m.item, CAST(m.c AS BIGINT) AS cnt,
         |       CAST(row_number() OVER (PARTITION BY m.user_id
         |                               ORDER BY m.c DESC, m.item) AS BIGINT) AS rk
         |FROM m${StreamScaffold.Slices} m JOIN n USING (user_id)
         |ORDER BY user_id, rk""".stripMargin
    }) { (s, dir) =>
      import graft.ops.StatsOps
      val snaps = runEventStream(s, dir, "cef47", "append") { raw =>
        StatsOps.streamingMisraGries(raw, "user_id", "event_type", StreamMgK).toDF()
      }
      requireCrossBatchFold(snaps, "cef47", "user_id")
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"),
          posexplode(arrays_zip(col("items"), col("cnts"))))
        .select(col("user_id"), col("n_seen"),
          col("col.items").as("item"), col("col.cnts").as("cnt"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy(col("user_id"), col("rk"))
    },

    // ---------------- streaming per-key histogram quantiles: the batch
    // histogram-quantile design (p65) as a cross-batch state fold —
    // q fixed-resolution bucket counters per key (value div 8, clamped),
    // folded through GroupState. Counter addition is associative and
    // commutative, so the final snapshot's histogram equals the
    // whole-stream histogram however the micro-batches split, and the
    // p50/p90/p99 buckets read off its cumulative counts (smallest
    // bucket whose cum reaches p% of n_seen) are EXACT for the
    // bucketized distribution — which is why the oracle can restate the
    // whole stream in one batch statement. The div-8 bucketize is an
    // exact binary-exponent shift, so no float boundary crosses the
    // engines. Completes the per-key streaming sketch family:
    // KMV (cef43), CM (cef45), reservoir (cef46), Misra-Gries (cef47),
    // quantiles (this).
    Q("cef48_streaming_quantiles", {
      val qb = StreamQhBuckets
      s"""WITH b AS (
         |  SELECT user_id,
         |         LEAST(GREATEST(CAST(floor(value / 8) AS BIGINT), 0), ${qb - 1})
         |           AS bucket
         |  FROM events),
         |h AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS c
         |      FROM b GROUP BY user_id, bucket),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM b GROUP BY user_id),
         |cum AS (SELECT user_id, bucket,
         |               sum(c) OVER (PARTITION BY user_id ORDER BY bucket) AS cum
         |        FROM h)
         |SELECT user_id, n_seen,
         |       min(CASE WHEN cum * 100 >= 50 * n_seen THEN bucket END) AS p50_b,
         |       min(CASE WHEN cum * 100 >= 90 * n_seen THEN bucket END) AS p90_b,
         |       min(CASE WHEN cum * 100 >= 99 * n_seen THEN bucket END) AS p99_b
         |FROM cum JOIN n USING (user_id)
         |GROUP BY user_id, n_seen
         |ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.StatsOps
      val qb = StreamQhBuckets
      val snaps = runEventStream(s, dir, "cef48", "append") { raw =>
        StatsOps.streamingHistogram(
          raw.withColumn("bucket",
            least(greatest(floor(col("value") / 8).cast("long"), lit(0L)),
              lit((qb - 1).toLong))),
          "user_id", "bucket", qb).toDF()
      }
      requireCrossBatchFold(snaps, "cef48", "user_id")
      val w = Window.partitionBy(col("user_id")).orderBy(col("pos"))
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"), posexplode(col("cnts")).as(Seq("pos", "c")))
        .withColumn("cum", sum(col("c")).over(w))
        .groupBy(col("user_id"), col("n_seen"))
        .agg(
          min(when(col("cum") * 100 >= col("n_seen") * 50, col("pos")))
            .cast("long").as("p50_b"),
          min(when(col("cum") * 100 >= col("n_seen") * 90, col("pos")))
            .cast("long").as("p90_b"),
          min(when(col("cum") * 100 >= col("n_seen") * 99, col("pos")))
            .cast("long").as("p99_b"))
        .orderBy(col("user_id"))
    },

    // ---------------- streaming per-key drift monitor: the first
    // cross-sketch COMPARISON read on the streaming family. Each key's
    // value distribution folds through the cef48 histogram GroupState
    // (associative counters, so the snapshot equals the whole-stream
    // histogram for any micro-batch split); at read time the per-key
    // histogram is compared against the GLOBAL reference distribution
    // (a qb-row broadcast) via an all-integer total-variation score:
    // tv_q = Σ_b |share_key(b) − share_global(b)| with shares ×10⁶
    // integer-quotients — the "is this key drifting from the corpus"
    // alarm a live ingestion pipeline keeps per source. The top
    // offending bucket rides the same integer argmax encoding both
    // engines compute identically (diff×qb + (qb−1−bucket): ties break
    // to the SMALLEST bucket). Scale: state O(qb) per key, reference
    // O(qb) broadcast, one keyed agg — corpus-size-independent.
    Q("cef49_streaming_drift", {
      val qb = StreamQhBuckets
      s"""WITH b AS (
         |  SELECT user_id,
         |         LEAST(GREATEST(CAST(floor(value / 8) AS BIGINT), 0), ${qb - 1})
         |           AS bucket
         |  FROM events),
         |u AS (SELECT DISTINCT user_id FROM b),
         |bk AS (SELECT user_id, unnest(range($qb)) AS bucket FROM u),
         |h AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS c
         |      FROM b GROUP BY user_id, bucket),
         |hh AS (SELECT bk.user_id, bk.bucket, coalesce(h.c, 0) AS c
         |       FROM bk LEFT JOIN h USING (user_id, bucket)),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM b GROUP BY user_id),
         |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS gc
         |      FROM b GROUP BY bucket),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b),
         |d AS (SELECT hh.user_id, hh.bucket,
         |             abs((hh.c * 1000000) // n.n_seen
         |                 - (coalesce(g.gc, 0) * 1000000) // tot.nn) AS diff_q
         |      FROM hh JOIN n USING (user_id)
         |      LEFT JOIN g USING (bucket) CROSS JOIN tot),
         |a AS (SELECT d.user_id, sum(diff_q) AS tv,
         |             max(diff_q * $qb + (${qb - 1} - bucket)) AS mk
         |      FROM d GROUP BY d.user_id)
         |SELECT a.user_id, n.n_seen, CAST(a.tv AS BIGINT) AS tv_q,
         |       CAST(${qb - 1} - (a.mk % $qb) AS BIGINT) AS top_bucket,
         |       CAST(a.mk // $qb AS BIGINT) AS top_diff_q
         |FROM a JOIN n USING (user_id)
         |ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.StatsOps
      val qb = StreamQhBuckets
      def bucketize(c: org.apache.spark.sql.Column) =
        least(greatest(floor(c / 8).cast("long"), lit(0L)), lit((qb - 1).toLong))
      val snaps = runEventStream(s, dir, "cef49", "append") { raw =>
        StatsOps.streamingHistogram(
          raw.withColumn("bucket", bucketize(col("value"))),
          "user_id", "bucket", qb).toDF()
      }
      requireCrossBatchFold(snaps, "cef49", "user_id")
      // the qb-row global reference (batch leg: the whole-stream
      // distribution every key is compared against)
      val ev = graft.Tables(s, dir, "events")
        .select(bucketize(col("value")).as("bucket"))
      val g = broadcast(ev.groupBy(col("bucket")).agg(count(lit(1)).as("gc"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("nn")))))
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"),
          posexplode(col("cnts")).as(Seq("bucket", "c")))
        .join(g, Seq("bucket"), "left")
        .withColumn("diff_q",
          abs(expr("(c * 1000000) div n_seen")
            - coalesce(expr("(gc * 1000000) div nn"), lit(0L))))
        .groupBy(col("user_id"), col("n_seen"))
        .agg(sum(col("diff_q")).as("tv"),
          max(col("diff_q") * qb + (lit(qb - 1) - col("bucket"))).as("mk"))
        .select(col("user_id"), col("n_seen"),
          col("tv").cast("long").as("tv_q"),
          (lit(qb - 1) - col("mk") % qb).cast("long").as("top_bucket"),
          (col("mk").cast("long") / qb).cast("long").as("top_diff_q"))
        .orderBy(col("user_id"))
    },

    // ---------------- streaming per-key decayed activity counters: an
    // EWMA with α = 1/2 at micro-batch granularity — on each batch
    // that touches a key, the carried count/value-sum halve and the
    // batch's exact totals add on. The recency-weighted rate read a
    // drift monitor keeps next to cef49's full-history comparison.
    // Order-dependent across batches like the MG fold (cef47): the
    // gate certifies GroupState round-trips every boundary IN
    // SEQUENCE (a skipped or reordered batch shifts every halving).
    // Decay fires only on batches where the key APPEARS (GroupState
    // invokes present groups only); the oracle's merge CTEs — one per
    // micro-batch, generated from StreamScaffold.Slices (the cef47 discipline)
    // — mirror that with a CASE on the slice side. All-integer
    // state; the value column is clamped at 0 on both sides so the
    // truncating halving agrees between the engines.
    Q("cef50_streaming_decay", {
      def merge(prev: String, cur: String, dst: String) =
        s"""$dst AS (SELECT coalesce(p.user_id, c.user_id) AS user_id,
           |              CASE WHEN c.user_id IS NULL THEN p.dc
           |                   ELSE coalesce(p.dc, 0) // 2 + c.n END AS dc,
           |              CASE WHEN c.user_id IS NULL THEN p.ds
           |                   ELSE coalesce(p.ds, 0) // 2 + c.s END AS ds
           |       FROM $prev p FULL OUTER JOIN $cur c
           |         ON p.user_id = c.user_id)""".stripMargin
      val slices = (1 to StreamScaffold.Slices).map(i =>
        s"""c$i AS (SELECT user_id, count(*) AS n, sum(v_q) AS s
           |        FROM e WHERE sl = $i GROUP BY user_id)""".stripMargin)
        .mkString(",\n")
      val fold = (Seq("d1 AS (SELECT user_id, n AS dc, s AS ds FROM c1)") ++
        (2 to StreamScaffold.Slices).map(i => merge(s"d${i - 1}", s"c$i", s"d$i")))
        .mkString(",\n")
      s"""WITH e AS (SELECT user_id,
         |                  GREATEST(CAST(floor(value * 10) AS BIGINT), 0) AS v_q,
         |                  ntile(${StreamScaffold.Slices}) OVER (ORDER BY ts, event_id) AS sl
         |           FROM events),
         |$slices,
         |$fold,
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM e GROUP BY user_id)
         |SELECT d.user_id, n.n_seen, CAST(d.dc AS BIGINT) AS dec_cnt,
         |       CAST(d.ds AS BIGINT) AS dec_sum
         |FROM d${StreamScaffold.Slices} d JOIN n USING (user_id)
         |ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.StatsOps
      val snaps = runEventStream(s, dir, "cef50", "append") { raw =>
        StatsOps.streamingDecay(
          raw.withColumn("v_q",
            greatest(floor(col("value") * 10).cast("long"), lit(0L))),
          "user_id", "v_q").toDF()
      }
      requireCrossBatchFold(snaps, "cef50", "user_id")
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"), col("dec_cnt"), col("dec_sum"))
        .orderBy(col("user_id"))
    },

    // ---------------- streaming per-key MinHash signature: the fourth
    // cross-batch sketch fold (cef43 KMV, cef45 CM, cef47 MG). Each
    // key's GroupState holds StreamMhLanes per-permutation minima —
    // elementwise min is exactly associative, so the streamed signature
    // equals the batch signature however the stream is sliced (the
    // property MinHashFoldSpec fuzzes and this oracle certifies through
    // ≥3 real micro-batches). Unlike KMV, the lanes make the state a
    // SIMILARITY sketch: the finalize step estimates each key's Jaccard
    // overlap with the global value-bucket set by comparing its
    // signature with the elementwise-min of all final signatures (the
    // signature of the union — a snapshot-sized batch epilogue, never a
    // second pass over the stream).
    Q("cef51_streaming_minhash", {
      import graft.ops.{DedupOps, TextOps}
      val lanes = StreamMhLanes
      val sigSql = (0 until lanes).map { i =>
        s"list_min(list_transform(hs, x -> (${DedupOps.MinHashA(i)} * x" +
          s" + ${DedupOps.MinHashB(i)}) % ${TextOps.HashMod}))"
      }.mkString("[", ", ", "]")
      val fp = s"list_reduce(list_prepend(CAST(0 AS BIGINT), sig), " +
        s"(a, b) -> (a * 31 + b) % ${TextOps.HashMod})"
      s"""WITH b AS (SELECT user_id, CAST(floor(value * 10) AS BIGINT) AS bucket
         |           FROM events),
         |h AS (SELECT DISTINCT user_id,
         |             ${TextOps.polyHashSql("CAST(bucket AS VARCHAR)")} AS h
         |      FROM b),
         |u AS (SELECT user_id, $sigSql AS sig
         |      FROM (SELECT user_id, list(h) AS hs FROM h GROUP BY user_id)),
         |g AS (SELECT $sigSql AS sig
         |      FROM (SELECT list(DISTINCT h) AS hs FROM h)),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM events GROUP BY user_id),
         |m AS (SELECT user_id, u.sig AS sig,
         |             len(list_filter(range($lanes),
         |                             i -> u.sig[i + 1] = g.sig[i + 1])) AS n_match
         |      FROM u CROSS JOIN g)
         |SELECT m.user_id, n.n_seen, $fp AS sig_fp,
         |       CAST(n_match AS BIGINT) AS n_match,
         |       CAST(n_match * ${1000000 / lanes} AS BIGINT) AS est_jacc_q
         |FROM m JOIN n ON n.user_id = m.user_id
         |ORDER BY m.user_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.{SketchOps, TextOps}
      val lanes = StreamMhLanes
      val snaps = runEventStream(s, dir, "cef51", "append") { raw =>
        SketchOps.streamingMinHash(
          raw.withColumn("bucket", floor(col("value") * 10).cast("long"))
            .withColumn("h", TextOps.polyHash(col("bucket").cast("string"))),
          "user_id", "h", lanes).toDF()
      }
      requireCrossBatchFold(snaps, "cef51", "user_id")
      val fin = latestSnapshotPerKey(snaps, "user_id")
      // union signature = elementwise min over the final per-key
      // signatures: lane-explode the snapshot table (keys × lanes rows,
      // model-sized), min per lane, compare back — a batch epilogue on
      // sketch-sized data, no second stream pass
      val lanesDf = fin.select(col("user_id"),
        posexplode(col("sig")).as(Seq("lane", "v")))
      val gmin = lanesDf.groupBy(col("lane")).agg(min(col("v")).as("gv"))
      val matches = lanesDf.join(broadcast(gmin), "lane")
        .groupBy(col("user_id"))
        .agg(count(when(col("v") === col("gv"), 1)).as("n_match"))
      fin
        .withColumn("sig_fp", aggregate(col("sig"), lit(0L),
          (acc, x) => (acc * 31 + x) % TextOps.HashMod))
        .join(matches, "user_id")
        .select(col("user_id"), col("n_seen"), col("sig_fp"), col("n_match"),
          (col("n_match") * lit((1000000 / lanes).toLong)).as("est_jacc_q"))
        .orderBy(col("user_id"))
    },

    // ---------------- streaming per-key HyperLogLog: register-wise max
    // is exactly associative, so the streamed registers equal the batch
    // registers under any slicing — the oracle restates p38's HLL
    // formulas per user over the full stream and the gate certifies the
    // fold through ≥3 real micro-batches (HllFoldSpec fuzzes arbitrary
    // splits). Next to cef43's KMV this covers the OTHER classical
    // distinct sketch: constant 32-register state per key vs KMV's
    // k-min list, same one-shuffle stateful shape.
    Q("cef52_streaming_hll", {
      import graft.ops.{SketchOps, TextOps}
      val twoPow = 1L << SketchOps.HllRhoMax
      val num = SketchOps.HllAlphaNum * SketchOps.HllM * SketchOps.HllM * twoPow
      s"""WITH b AS (SELECT user_id, CAST(floor(value * 10) AS BIGINT) AS bucket
         |           FROM events),
         |d AS (SELECT DISTINCT user_id,
         |             ${TextOps.polyHashSql("CAST(bucket AS VARCHAR)")} AS h
         |      FROM b),
         |r AS (SELECT user_id, ${SketchOps.hllRegisterSql("h")} AS reg,
         |             ${SketchOps.hllRhoSql("h")} AS rho
         |      FROM d),
         |mx AS (SELECT user_id, reg, max(rho) AS mr FROM r GROUP BY user_id, reg),
         |sa AS (SELECT user_id, count(*) AS n_regs_hit,
         |              sum(CAST(power(2, ${SketchOps.HllRhoMax} - mr) AS BIGINT)) AS s_hit
         |       FROM mx GROUP BY user_id),
         |tt AS (SELECT user_id, n_regs_hit,
         |              s_hit + (${SketchOps.HllM} - n_regs_hit) * $twoPow AS s_scaled
         |       FROM sa),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM events GROUP BY user_id)
         |SELECT tt.user_id, n.n_seen,
         |       CAST(n_regs_hit AS BIGINT) AS n_regs_hit,
         |       CAST(s_scaled AS BIGINT) AS s_scaled,
         |       CAST($num // (${SketchOps.HllAlphaDen} * s_scaled) AS BIGINT) AS est_hll
         |FROM tt JOIN n ON n.user_id = tt.user_id
         |ORDER BY tt.user_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.{SketchOps, TextOps}
      val snaps = runEventStream(s, dir, "cef52", "append") { raw =>
        SketchOps.streamingHll(
          raw.withColumn("bucket", floor(col("value") * 10).cast("long"))
            .withColumn("h", TextOps.polyHash(col("bucket").cast("string"))),
          "user_id", "h").toDF()
      }
      requireCrossBatchFold(snaps, "cef52", "user_id")
      latestSnapshotPerKey(snaps, "user_id")
        .select(col("user_id"), col("n_seen"), col("n_regs_hit"),
          col("s_scaled"), col("est_hll"))
        .orderBy(col("user_id"))
    },

    // ---------------- streaming per-key Bloom filter: bitwise OR is
    // the remaining associative fold of the sketch family (min = KMV/
    // MinHash/reservoir, sum = CM, max = HLL, order-dependent = MG/
    // decay; OR = this). Each key's GroupState holds one 4096-bit set
    // (64 longs, constant-size), and every batch emits the fixed
    // probes' membership verdicts plus the live bit count — the
    // streamed filter must equal the batch filter however the stream
    // is sliced, which the oracle (p37's Bloom position arithmetic
    // restated per key over the full stream) certifies through ≥3
    // real micro-batches. Probes mix present and absent value-buckets
    // so hits AND misses cross batch boundaries; Bloom's one-sided
    // guarantee (no false negatives) is visible in the final table.
    Q("cef53_streaming_bloom", {
      import graft.ops.{SketchOps, TextOps}
      val probes = StreamCmProbes.mkString("[", ", ", "]")
      val probePos = SketchOps.bloomPositionsSql(
        TextOps.polyHashSql("CAST(probe AS VARCHAR)"))
      s"""WITH b AS (SELECT user_id, CAST(floor(value * 10) AS BIGINT) AS bucket
         |           FROM events),
         |h AS (SELECT DISTINCT user_id,
         |             ${TextOps.polyHashSql("CAST(bucket AS VARCHAR)")} AS h
         |      FROM b),
         |pos AS (SELECT DISTINCT user_id,
         |               unnest(${SketchOps.bloomPositionsSql("h")}) AS pos
         |        FROM h),
         |nb AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_bits
         |       FROM pos GROUP BY user_id),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
         |      FROM events GROUP BY user_id),
         |pr AS (SELECT CAST(unnest($probes) AS BIGINT) AS probe),
         |pp AS (SELECT DISTINCT probe, unnest($probePos) AS pos FROM pr),
         |need AS (SELECT probe, count(*) AS k FROM pp GROUP BY probe),
         |hitc AS (SELECT u.user_id, d.probe, count(*) AS got
         |         FROM pp d JOIN pos u ON u.pos = d.pos
         |         GROUP BY u.user_id, d.probe)
         |SELECT n.user_id, n.n_seen, nb.n_bits, need.probe,
         |       coalesce(hitc.got, 0) = need.k AS hit
         |FROM n JOIN nb USING (user_id) CROSS JOIN need
         |LEFT JOIN hitc ON hitc.user_id = n.user_id AND hitc.probe = need.probe
         |ORDER BY n.user_id, need.probe""".stripMargin
    }) { (s, dir) =>
      import graft.ops.{SketchOps, TextOps}
      val snaps = runEventStream(s, dir, "cef53", "append") { raw =>
        SketchOps.streamingBloomPoints(
          raw.withColumn("bucket", floor(col("value") * 10).cast("long"))
            .withColumn("h", TextOps.polyHash(col("bucket").cast("string"))),
          "user_id", "h",
          probes = StreamCmProbes,
          probeHashes = StreamCmProbes.map(p => TextOps.polyHashJvm(p.toString))).toDF()
      }
      requireCrossBatchFold(snaps, "cef53", "user_id", "probe")
      latestSnapshotPerKey(snaps, "user_id", "probe")
        .select(col("user_id"), col("n_seen"), col("n_bits"), col("probe"), col("hit"))
        .orderBy(col("user_id"), col("probe"))
    },

    // ---------------- streaming gap sessionization: episode assembly
    // at ingest (cutting interaction logs into training conversations).
    // Per user, an event opens a NEW session iff its gap to the
    // previous event exceeds SessGapUs — decided the moment the event
    // arrives, with TWO longs of GroupState per user, across ≥3 real
    // micro-batches. Arrival order is (ts, event_id) (the slice
    // discipline), so every verdict must equal the batch
    // gaps-and-islands closed form (lag + running sum of breaks) —
    // the q11 pattern, certified here against real state-store
    // boundaries (the fold's split-invariance is fuzzed in
    // StatsOpsSpec).
    Q("cef54_streaming_sessions", {
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
         |l AS (SELECT user_id, event_id, tsu,
         |             lag(tsu) OVER (PARTITION BY user_id
         |                            ORDER BY tsu, event_id) AS pts
         |      FROM e),
         |f AS (SELECT user_id, event_id, tsu,
         |             (pts IS NULL OR tsu - pts > $SessGapUs) AS is_new
         |      FROM l)
         |SELECT user_id, event_id,
         |       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY user_id ORDER BY tsu, event_id)
         |            - 1 AS BIGINT) AS session_idx,
         |       is_new
         |FROM f ORDER BY user_id, event_id""".stripMargin
    }) { (s, dir) =>
      val verdicts = runEventStream(s, dir, "cef54", "append") { raw =>
        graft.ops.StatsOps.streamingSessions(
          raw.withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "event_id", "ts_us", gapUs = SessGapUs).toDF()
      }
      verdicts
        .select(col("user_id"), col("event_id"), col("session_idx"), col("is_new"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // ---------------- F3 smart-scan intervals driver-checked: the
    // two-pointer smallest-window scan (VLDBJ'22 algorithm) against an
    // exhaustive SQL window enumeration — the fullScan semantics the
    // scan is spec-pinned equal to.
    Q("cef27_spst_smartscan", SpstOracle.sql27) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val rows = spst.pst.leaves.flatMap { leaf =>
        (0 until spst.sdfa.nStates).map { st =>
          val wt = spst.wtDistribution(leaf.label, st, horizon = 20)
          require(wt.horizon == 20,
            s"smartScan oracle assumes full wt support, got ${wt.horizon}")
          val fi = wt.smartScan(0.3, 10)
          (leaf.label.mkString(":"), st, fi.start.toLong, fi.end.toLong,
            if (fi.isValid) math.floor(fi.prob * 1000000 + 0.5).toLong else -1L)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "fs", "fe", "prob_q")
        .orderBy(col("label"), col("state"))
    },

    // ---------------- F3 argmax intervals driver-checked: grow outward
    // from the wt mode absorbing the higher-probability neighbor until
    // θ=0.5 (left on ties, invalid past spread 10); the oracle's
    // recursive CTE replays the identical growth sequence.
    Q("cef29_spst_argmax", SpstOracle.sql29) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val rows = spst.pst.leaves.flatMap { leaf =>
        (0 until spst.sdfa.nStates).map { st =>
          val wt = spst.wtDistribution(leaf.label, st, horizon = 20)
          require(wt.horizon == 20,
            s"argmax oracle assumes full wt support, got ${wt.horizon}")
          val fi = wt.argmax(0.5, 10)
          (leaf.label.mkString(":"), st,
            (if (fi.isValid) fi.start else -1).toLong,
            (if (fi.isValid) fi.end else -1).toLong,
            if (fi.isValid) math.floor(fi.prob * 1000000 + 0.5).toLong else -1L)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "fs", "fe", "prob_q")
        .orderBy(col("label"), col("state"))
    },

    // ---------------- F3 classify-win driver-checked: the fixed centered
    // window's completion mass and threshold classification — the last
    // of the six interval builders to come under the gate.
    Q("cef30_spst_classifywin", SpstOracle.sql30) { (s, dir) =>
      val spst = spstSkipAny(s, dir)
      val rows = spst.pst.leaves.flatMap { leaf =>
        (0 until spst.sdfa.nStates).map { st =>
          val wt = spst.wtDistribution(leaf.label, st, horizon = 20)
          require(wt.horizon == 20,
            s"classifyWin oracle assumes full wt support, got ${wt.horizon}")
          val fi = wt.classifyWin(center = 6, threshold = 0.3, len = 6)
          (leaf.label.mkString(":"), st, fi.start.toLong, fi.end.toLong,
            math.floor(fi.prob * 1000000 + 0.5).toLong, fi.positive)
        }
      }
      import s.implicits._
      rows.toDF("label", "state", "fs", "fe", "prob_q", "positive")
        .orderBy(col("label"), col("state"))
    },

    // ---------------- T6 order selection as a driver-checked query: the
    // distributed held-out cross-validation ([[Train.orderCv]]) over the
    // skip-any symbolization. The oracle restates the WHOLE pipeline —
    // per-user 80/20 prefix split, train n-gram counts, the
    // Ron/Singer/Tishby tree-growing predicates per candidate order, the
    // smoothed deepest-suffix lookups and the grouped-trigram log-loss —
    // in pure SQL; losses are ×10⁴ integers (engine-rounding, see mccSql)
    // and `n_leaves` pins the learned tree SHAPE against the SQL
    // restatement of the retention predicates.
    Q("cef23_order_cv", OrderCvOracle.sql23) { (s, dir) =>
      val rows = Train.orderCv(events(s, dir), pSkipAny, maxOrder = 2)
        .map { case (m, leaves, loss) =>
          (m.toLong, leaves.toLong, math.floor(loss * 10000 + 0.5).toLong)
        }
      val bestM = rows.minBy { case (m, _, lq) => (lq, m) }._1
      import s.implicits._
      rows.map { case (m, leaves, lq) => (m, leaves, lq, m == bestM) }
        .toDF("m", "n_leaves", "loss_q", "selected")
        .orderBy(col("m"))
    }
  )

  /** The streaming detection gates (cef22/cef25 …): the event stream,
    * narrowed to an EventStream, through a stateful detection runtime in
    * the shared scaffold ([[runEventStream]]).
    */
  private def runDetectionStream(s: SparkSession, dir: String, tag: String)(
      detect: graft.cef.spark.EventStream =>
        org.apache.spark.sql.Dataset[_]): DataFrame =
    runEventStream(s, dir, tag, "append") { raw =>
      // narrow ingest (Detect.toEventStream): the keyed shuffle moves
      // value arrays, not per-row attr maps — the r13 throughput fix
      detect(Detect.toEventStream(raw,
        idCol = "event_id", typeCol = "event_type", tsCol = "ts",
        partitionCol = "user_id", numAttrs = Seq("value"))).toDF()
    }

  /** cef43 KMV size: small enough that the cap path (est from kth_min)
    * engages at sf0.01+ where per-user distinct value-buckets exceed it,
    * while sparse keys exercise the exact path. A def, not a val: it is
    * interpolated inside the `queries` val above, which initializes
    * first (the same trap Pipeline's CmSeeds documents).
    */
  private def StreamKmvK = 16

  /** cef51 signature width: 16 permutation lanes divide 10⁶ exactly
    * (est_jacc_q = n_match · 62500) and keep per-key state at 16 longs.
    * A def (queries-val init order).
    */
  private def StreamMhLanes = 16

  /** cef46 reservoir size: smaller than any key's event count at
    * sf0.01+ (~67 events/user) so the sample actually SELECTS, while
    * several micro-batches each beat the current kth priority and force
    * real cross-batch merges. A def (queries-val init order).
    */
  private def StreamWsK = 8

  /** cef47 Misra-Gries counter budget: below the 5-type item domain so
    * the reduction genuinely decrements/evicts every batch (k ≥ domain
    * would degenerate to exact counting). A def (queries-val init
    * order).
    */
  private def StreamMgK = 3

  /** cef45's per-key CM geometry (width per hash row) and its fixed
    * point-query probes — value-buckets both present and absent in the
    * stream. Defs (queries-val init order).
    */
  private def StreamCmWidth = 64
  private def StreamCmProbes: Seq[Long] = Seq(0L, 7L, 42L, 123L, 999L, 4242L)

  /** cef54 session gap: 50,000 s in micros — between the corpus's
    * median (~26k s) and p90 (~90k s) per-user inter-event gap, so
    * users split into several sessions AND sessions hold several
    * events at every SF.
    */
  private def SessGapUs: Long = 50000L * 1000000L

  /** cef48 histogram resolution: 64 buckets of width 8 cover the
    * events value range (0–490) without clamp saturation, and per-key
    * counts at sf0.01+ (~67 events/user) spread across enough buckets
    * that p50/p90/p99 land in distinct cells. A def (queries-val init
    * order).
    */
  private def StreamQhBuckets = 64

  /** The events table's cached slice set: `ntile` over (ts, event_id)
    * with `ts` normalized at build time (nanos-as-long / TIMESTAMP_NTZ /
    * micros — Tables.normalizeTs), so the slice files are always plain
    * TIMESTAMP(MICROS) and the streaming read needs no per-encoding
    * gate. `late = true` selects the [[LateEveryId]] hold-back variant,
    * derived from the base files by [[lateShift]] (slice file i IS the
    * ntile result i), not by a second global sort of the table.
    */
  private[graft] def eventSlices(s: SparkSession, dir: String, late: Boolean): StreamScaffold.SliceSet = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = java.nio.file.Paths.get(s"$dir/events.parquet")
      .toAbsolutePath.normalize.toString
    val base = StreamScaffold.slices(s, path, col("ts"), col("event_id"))(
      Tables.normalizeTs(s, s.read.parquet(path)))
    if (!late) base
    else StreamScaffold.cached(s, path, s"$path#late")(StreamScaffold.read(s, base)
      .withColumn(StreamScaffold.SliceCol, lateShift(col(StreamScaffold.SliceCol))))
  }

  /** Populate the events slice sets without running any gate. Bench's
    * UNTIMED warm-up region calls it so the per-session scaffold setup
    * also covers the LATE variant, which only cef40 consumes and which
    * would otherwise charge its build to cef40's timed run (r17).
    */
  private[graft] def warmEventSlices(s: SparkSession, dir: String, late: Boolean): Unit = {
    eventSlices(s, dir, late)
    ()
  }

  /** The hold-back rule of the [[LateEveryId]] schedule: slice s0 plus
    * 0/1/2 by event_id residue, capped at the last slice. One owner for
    * the derived late slice set, cef40's schedule probe and the direct
    * reference build LateSliceSpec compares against.
    */
  private[queries] def lateShift(s0: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(StreamScaffold.Slices), s0 +
      when(col("event_id") % Late2EveryId === 0, 2)
        .when(col("event_id") % LateEveryId === 0, 1).otherwise(0))

  /** Shared discipline of the streaming sketch/reservoir gates
    * (cef43/45/46/47): the gate is vacuous unless some key emitted
    * snapshots in ≥ 2 micro-batches (multiple snapshots = GroupState
    * restored + grown across a boundary) — one owner for the
    * threshold, so every gate checks the SAME discipline.
    */
  private def requireCrossBatchFold(
      snaps: DataFrame, tag: String, keyCols: String*): Unit = {
    // r17 (guide §5 "the driver should do almost no data work" read the
    // other way around): `snaps` is ALWAYS the local DataFrame
    // runEventStream re-created from the drained memory sink — its rows
    // already live on the driver, so the old groupBy().count() here was
    // a full 2-stage Spark job per gate (~0.1-0.2 s × 11 gates) spent
    // re-counting rows the driver holds. collect() on a LocalRelation
    // is the no-job fast path; the grouped count is a driver loop over
    // the snapshot set (bounded by the oracle-compare contract).
    val keys = snaps.select(keyCols.map(col): _*).collect()
    val multi = keys.groupBy(_.toSeq).count(_._2.length >= 2)
    require(multi > 0, s"$tag expected >=1 key folding across >=2 micro-batches")
  }

  /** Each key's max-n_seen snapshot — the full-stream answer the
    * oracles restate. One owner for the selection rule (and its
    * implicit invariant: n_seen strictly grows per key, so the max is
    * unique and no secondary tie-break is needed).
    */
  private def latestSnapshotPerKey(snaps: DataFrame, keyCols: String*): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("n_seen").desc)
    snaps.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** The events table through `transform` in the shared scaffold
    * ([[StreamScaffold.run]]). Slice i holds the (ts, event_id)-contiguous
    * range before slice i+1, which restricted to any key is exactly the
    * per-key order the runtimes sort to within a batch — cross-batch
    * replay is therefore the same total order as the single-batch path,
    * with the hyper-state round-tripping through GroupState at each
    * boundary.
    */
  private def runEventStream(s: SparkSession, dir: String, tag: String, mode: String,
      late: Boolean = false, noDataBatches: Boolean = false)(
      transform: DataFrame => DataFrame): DataFrame =
    StreamScaffold.run(s, eventSlices(s, dir, late), tag, mode, noDataBatches)(transform)

  /** DuckDB oracle for the order-CV query (cef23): restates
    * [[graft.cef.spark.Train.orderCv]] end-to-end in SQL. Train-region
    * n-gram counts (per-user prefix split), the PST retention predicates
    * per candidate order (the same count-ratio conditions as
    * [[PstSql]]'s `ret2`, plus their depth-1 form), the smoothed
    * deepest-suffix probability lookups, and the grouped-trigram
    * held-out log-loss. All comparisons are on exact integer counts;
    * the only floats are the per-triple probability terms (single
    * IEEE-correctly-rounded ops from identical integers in both
    * engines) and the ≤|Σ|³-term loss sum, absorbed by the ×10⁴
    * quantization.
    */
  private object OrderCvOracle {
    private val iso = pSkipAny.iso
    private def symOf(t: String) = iso.evaluate(CEvent.simple(1, t, 1))
    private val E = symOf("error")
    private val P = symOf("purchase")
    private val O = symOf("view")

    // KEEP IN SYNC with PstSql.core's ret2/s2s/s3s/nd CTEs: the ret1/ret2
    // blocks below restate the same PstLearner retention predicates over
    // the TRAIN-region counts (tr) instead of the whole stream (w); a
    // change to PstLearner must update both restatements.
    private val pMin = 0.001
    private val alpha = 0.05
    private val gammaMin = 0.001
    private val r = 1.05
    private val thresh = (1 + alpha) * gammaMin
    private val rInv = 1 / r
    private val frac = 0.8

    // smoothed probability: raw * (1 - |Σ|γ) + γ, |Σ| from the ksz CTE
    private def sm(raw: String) = s"($raw) * (1 - fl.k * $gammaMin) + $gammaMin"

    val sql23: String =
      s"""WITH b AS (
         |  SELECT event_id, user_id, event_type, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |sym AS MATERIALIZED (SELECT user_id, rn,
         |        CASE event_type WHEN 'error' THEN $E WHEN 'purchase' THEN $P ELSE $O END AS s
         |      FROM b),
         |u AS MATERIALIZED (SELECT user_id, count(*) AS n_u FROM sym GROUP BY user_id),
         |w AS MATERIALIZED (SELECT y.user_id, y.rn, y.s,
         |        lag(y.s, 1) OVER (PARTITION BY y.user_id ORDER BY y.rn) AS s1,
         |        lag(y.s, 2) OVER (PARTITION BY y.user_id ORDER BY y.rn) AS s2,
         |        CAST(floor(u.n_u * $frac) AS BIGINT) AS cut
         |      FROM sym y JOIN u USING (user_id)),
         |tr AS MATERIALIZED (SELECT * FROM w WHERE rn <= cut),
         |te AS MATERIALIZED (SELECT s, s1, s2, count(*) AS c FROM w WHERE rn > cut GROUP BY s, s1, s2),
         |nte AS MATERIALIZED (SELECT sum(c) AS n FROM te),
         |n0 AS MATERIALIZED (SELECT count(*) AS c FROM tr),
         |n1 AS MATERIALIZED (SELECT s AS a, count(*) AS c FROM tr GROUP BY s),
         |n2 AS MATERIALIZED (SELECT s AS a, s1 AS b, count(*) AS c FROM tr WHERE s1 IS NOT NULL GROUP BY s, s1),
         |n3 AS MATERIALIZED (SELECT s AS a, s1 AS b, s2 AS d, count(*) AS c FROM tr WHERE s2 IS NOT NULL GROUP BY s, s1, s2),
         |al AS MATERIALIZED (SELECT DISTINCT s FROM tr),
         |ksz AS MATERIALIZED (SELECT count(*) AS k FROM al),
         |s2s AS MATERIALIZED (SELECT b AS ctx, sum(c) AS sc FROM n2 GROUP BY b),
         |s3s AS MATERIALIZED (SELECT b AS c1, d AS c2, sum(c) AS sc FROM n3 GROUP BY b, d),
         |ret1 AS MATERIALIZED (
         |  SELECT ca.a
         |  FROM n1 ca CROSS JOIN n0
         |  WHERE CAST(ca.c AS DOUBLE) / n0.c >= $pMin
         |    AND EXISTS (
         |      SELECT 1 FROM n2 JOIN n1 ns ON ns.a = n2.a CROSS JOIN n0 nn
         |      WHERE n2.b = ca.a
         |        AND CAST(n2.c AS DOUBLE) / ca.c >= $thresh
         |        AND ((CAST(n2.c AS DOUBLE) / ca.c) / (CAST(ns.c AS DOUBLE) / nn.c) >= $r
         |          OR (CAST(n2.c AS DOUBLE) / ca.c) / (CAST(ns.c AS DOUBLE) / nn.c) <= $rInv))),
         |ret2 AS MATERIALIZED (
         |  SELECT c2.a, c2.b
         |  FROM n2 c2 JOIN n1 ca ON ca.a = c2.a CROSS JOIN n0
         |  WHERE CAST(ca.c AS DOUBLE) / n0.c >= $pMin
         |    AND CAST(c2.c AS DOUBLE) / (n0.c - 1) >= $pMin
         |    AND EXISTS (
         |      SELECT 1 FROM n3 JOIN n2 sx ON sx.a = n3.a AND sx.b = n3.b
         |      WHERE n3.b = c2.a AND n3.d = c2.b
         |        AND CAST(n3.c AS DOUBLE) / c2.c >= $thresh
         |        AND ((CAST(n3.c AS DOUBLE) / c2.c) / (CAST(sx.c AS DOUBLE) / ca.c) >= $r
         |          OR (CAST(n3.c AS DOUBLE) / c2.c) / (CAST(sx.c AS DOUBLE) / ca.c) <= $rInv))),
         |int1 AS MATERIALIZED (SELECT DISTINCT a FROM ret2),
         |fl AS MATERIALIZED (SELECT
         |  EXISTS (SELECT 1 FROM ret1) AS has1,
         |  (EXISTS (SELECT 1 FROM ret1) OR EXISTS (SELECT 1 FROM ret2)) AS has2,
         |  (SELECT count(*) FROM int1) AS ni,
         |  (SELECT CAST(k AS BIGINT) FROM ksz) AS k),
         |pt AS MATERIALIZED (SELECT te.s, te.s1, te.s2, te.c,
         |  (SELECT CAST(n1.c AS DOUBLE) / n0.c FROM n1 CROSS JOIN n0 WHERE n1.a = te.s) AS r0,
         |  CASE WHEN te.s1 IS NULL OR te.s1 NOT IN (SELECT s FROM al) THEN NULL
         |       ELSE coalesce((SELECT CAST(n2.c AS DOUBLE) FROM n2 WHERE n2.a = te.s AND n2.b = te.s1)
         |                   / (SELECT CAST(sc AS DOUBLE) FROM s2s WHERE ctx = te.s1), 0.0) END AS r1,
         |  CASE WHEN te.s2 IS NULL OR te.s1 IS NULL THEN NULL
         |       WHEN NOT EXISTS (SELECT 1 FROM n2 WHERE n2.a = te.s1 AND n2.b = te.s2) THEN NULL
         |       ELSE coalesce((SELECT CAST(n3.c AS DOUBLE) FROM n3
         |                      WHERE n3.a = te.s AND n3.b = te.s1 AND n3.d = te.s2)
         |                   / (SELECT CAST(sc AS DOUBLE) FROM s3s WHERE c1 = te.s1 AND c2 = te.s2), 0.0)
         |  END AS r2
         |  FROM te),
         |ls AS MATERIALIZED (SELECT
         |  sum(pt.c * -ln(CASE WHEN pt.r0 IS NULL THEN 1e-12 ELSE ${sm("pt.r0")} END)) AS l0,
         |  sum(pt.c * -ln(CASE WHEN pt.r0 IS NULL THEN 1e-12
         |       WHEN pt.r1 IS NULL OR NOT fl.has1 THEN ${sm("pt.r0")}
         |       ELSE ${sm("pt.r1")} END)) AS l1,
         |  sum(pt.c * -ln(CASE WHEN pt.r0 IS NULL THEN 1e-12
         |       WHEN pt.r1 IS NULL OR NOT fl.has2 THEN ${sm("pt.r0")}
         |       WHEN pt.r2 IS NULL OR pt.s1 NOT IN (SELECT a FROM int1) THEN ${sm("pt.r1")}
         |       ELSE ${sm("pt.r2")} END)) AS l2
         |  FROM pt CROSS JOIN fl),
         |res AS (
         |  SELECT CAST(0 AS BIGINT) AS m, CAST(1 AS BIGINT) AS n_leaves,
         |         CAST(floor(l0 / nte.n * 10000 + 0.5) AS BIGINT) AS loss_q
         |  FROM ls CROSS JOIN nte
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), (SELECT CASE WHEN has1 THEN k ELSE CAST(1 AS BIGINT) END FROM fl),
         |         CAST(floor(l1 / nte.n * 10000 + 0.5) AS BIGINT)
         |  FROM ls CROSS JOIN nte
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), (SELECT CASE WHEN NOT has2 THEN CAST(1 AS BIGINT)
         |                         ELSE ni * k + (k - ni) END FROM fl),
         |         CAST(floor(l2 / nte.n * 10000 + 0.5) AS BIGINT)
         |  FROM ls CROSS JOIN nte)
         |SELECT m, n_leaves, loss_q,
         |       row_number() OVER (ORDER BY loss_q, m) = 1 AS selected
         |FROM res ORDER BY m""".stripMargin
  }

  /** Overflow-safe MCC as a SQL expression over tp/tn/fp/fn columns —
    * TEXTUALLY shared between the Spark plan (via expr) and the DuckDB
    * oracle so both engines evaluate the identical IEEE formula. Emitted
    * as a ×10⁴ integer (floor half-up) because `round(double, 4)` is
    * engine-specific on binary doubles (Spark re-rounds via HALF_UP
    * decimal conversion, DuckDB rounds the double directly); every op
    * below — divide, multiply, sqrt, subtract, floor — is a correctly
    * rounded IEEE-754 primitive, identical in both engines. The real
    * fractional MCC stays unit-pinned in ProfilerSpec.
    */
  private def mccSql: String =
    """CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0 OR tn + fn = 0 THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor((
      |       sqrt((CAST(tp AS DOUBLE)/(tp+fp)) * (CAST(tp AS DOUBLE)/(tp+fn))
      |          * (CAST(tn AS DOUBLE)/(tn+fp)) * (CAST(tn AS DOUBLE)/(tn+fn)))
      |     - sqrt((1 - CAST(tp AS DOUBLE)/(tp+fp)) * (1 - CAST(tp AS DOUBLE)/(tp+fn))
      |          * (1 - CAST(tn AS DOUBLE)/(tn+fp)) * (1 - CAST(tn AS DOUBLE)/(tn+fn)))
      |     ) * 10000 + 0.5) AS BIGINT)
      |END""".stripMargin.replace('\n', ' ')

  /** Shared Spark side of cef09/cef10: engine detections + rule-based
    * forecasts + interval join + confusion counts.
    */
  private def withEval(s: SparkSession, dir: String): DataFrame = {
    val evd = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val fc = evd
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("user_id"), col("rn"), col("ts"),
        (col("event_type") === "error").as("positive"),
        (col("rn") + 1).as("fs"), (col("rn") + 10).as("fe"))
    val det = Detect.detections(eventsN(s, dir), pSkipAny).toDF()
      .select(col("partition").cast("long").as("d_user"), col("counter").as("d_counter"))
    fc.join(det,
        col("d_user") === col("user_id") &&
          col("d_counter").between(col("fs"), col("fe")), "left")
      .groupBy(col("user_id"), col("rn"), col("positive"), col("ts"))
      .agg((max(when(col("d_counter").isNotNull, 1).otherwise(0)) === 1).as("hit"))
  }

  private def confAgg(ev: DataFrame, keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    ev.groupBy(keys: _*)
      .agg(
        sum(when(col("positive") && col("hit"), 1).otherwise(0)).as("tp"),
        sum(when(!col("positive") && !col("hit"), 1).otherwise(0)).as("tn"),
        sum(when(col("positive") && !col("hit"), 1).otherwise(0)).as("fp"),
        sum(when(!col("positive") && col("hit"), 1).otherwise(0)).as("fn"))
      .withColumn("mcc", expr(mccSql))

  /** Distributed SDFA transition counting (T3) aggregated to the three
    * semantic labels of the skip-any pattern's streaming automaton.
    */
  private def labelCounts(s: SparkSession, dir: String): Seq[((String, String), Long)] = {
    val sdfa = pSkipAny.sdfa
    def label(id: Int): String =
      if (id == sdfa.start) "start" else if (sdfa.finals.contains(id)) "final" else "armed"
    Train.countTransitions(events(s, dir), pSkipAny).collect()
      .groupBy { case ((f, t), _) => (label(f), label(t)) }
      .map { case (k, xs) => k -> xs.map(_._2).sum }
      .toSeq
  }

  private def mleLabelMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = labelCounts(s, dir)
    val totals = counts.groupBy(_._1._1).map { case (f, xs) => f -> xs.map(_._2).sum }
    counts.map { case ((f, t), n) => (f, t, n, n.toDouble / totals(f)) }
      .toDF("from_state", "to_state", "n", "p")
  }

  private def forecastEval(s: SparkSession, dir: String): DataFrame =
    confAgg(withEval(s, dir), Seq(col("user_id")))

  private def forecastEvalByDay(s: SparkSession, dir: String): DataFrame =
    confAgg(
      withEval(s, dir).withColumn("day", date_trunc("day", col("ts")).cast("date")),
      Seq(col("day")))

  /** DuckDB oracles for the SPST queries (cef11/cef12): the full pipeline —
    * n-gram counting (Train.countWindows), PST learning (PstLearner.learn,
    * Ron/Singer/Tishby variant), the SPST waiting-time recursion
    * (Spst.wtDistribution) and the per-event forecast replay (SpstRun) —
    * restated in pure SQL. The stream enters only through n-gram counts
    * (window functions), the PST through count-ratio predicates, and the
    * wt recursion through `horizon` unrolled aggregate-join steps (ANSI SQL
    * has no aggregation inside recursive CTEs). Automaton constants
    * (minterm ids, delta, finals) are interpolated from the compiled
    * pattern at construction time and assertions pin the semantic state
    * labeling the per-event replay relies on (same technique as cef14).
    *
    * Probability outputs are emitted as ×10⁶ integers (floor half-up) for
    * the same engine-rounding reason as [[mccSql]].
    */
  /** Shared SQL machinery for the PST-based forecasters (cef11/cef12/
    * cef21): given a CTE prefix ending at `sym(user_id, rn, event_id, s)`
    * and the deterministic automaton as (state, symbol, nextState, hit)
    * VALUES rows, emits the CTE chain that learns the order-2 PST from
    * n-gram counts and unrolls the waiting-time recursion to
    * `ft(lbl, st, mass_all, prob)`. The learner/forecast hyperparameters
    * are fixed here and MUST match the Scala training calls.
    */
  private object PstSql {
    // KEEP IN SYNC with OrderCvOracle: its ret1/ret2 blocks restate this
    // retention SQL over train-region counts (see the note there).
    val pMin = 0.001
    val alpha = 0.05
    val gammaMin = 0.001
    val r = 1.05
    val cutoff = 0.001
    val horizon = 20
    val k10 = 10

    // (1+alpha)*gammaMin and 1/r evaluated here so DuckDB parses the exact
    // double the Scala learner compares against
    private val thresh = (1 + alpha) * gammaMin
    private val rInv = 1 / r

    private val steps = (1 to horizon).map { t =>
      val prev = s"f${t - 1}"
      val h =
        s"""h$t AS MATERIALIZED (
           |  SELECT lbl0, st0, sum(f.mass * x.p) AS hit
           |  FROM $prev f JOIN trx x ON x.lbl = f.lbl AND x.st = f.st
           |  WHERE x.hit GROUP BY lbl0, st0)""".stripMargin
      val fc =
        if (t == horizon) ""
        else
          s""",
             |f$t AS MATERIALIZED (
             |  SELECT lbl0, st0, x.nlbl AS lbl, x.nst AS st, sum(f.mass * x.p) AS mass
             |  FROM $prev f JOIN trx x ON x.lbl = f.lbl AND x.st = f.st
             |  WHERE NOT x.hit AND f.mass * x.p > $cutoff
             |  GROUP BY lbl0, st0, x.nlbl, x.nst)""".stripMargin
      h + fc
    }.mkString(",\n")
    private val hitsUnion =
      (1 to horizon).map(t => s"SELECT lbl0, st0, hit, $t AS t FROM h$t").mkString("\nUNION ALL ")

    def core(prefix: String, deltaRows: String, stateRows: String): String =
      s"""$prefix,
         |w AS MATERIALIZED (SELECT user_id, rn, s,
         |        lag(s, 1) OVER (PARTITION BY user_id ORDER BY rn) AS s1,
         |        lag(s, 2) OVER (PARTITION BY user_id ORDER BY rn) AS s2
         |      FROM sym),
         |n0 AS MATERIALIZED (SELECT count(*) AS c FROM w),
         |n1 AS MATERIALIZED (SELECT s AS a, count(*) AS c FROM w GROUP BY s),
         |n2 AS MATERIALIZED (SELECT s AS a, s1 AS b, count(*) AS c FROM w WHERE s1 IS NOT NULL GROUP BY s, s1),
         |n3 AS MATERIALIZED (SELECT s AS a, s1 AS b, s2 AS d, count(*) AS c FROM w WHERE s2 IS NOT NULL GROUP BY s, s1, s2),
         |al AS MATERIALIZED (SELECT DISTINCT s FROM w),
         |ksz AS MATERIALIZED (SELECT count(*) AS k FROM al),
         |ret2 AS MATERIALIZED (
         |  SELECT c2.a, c2.b
         |  FROM n2 c2 JOIN n1 ca ON ca.a = c2.a CROSS JOIN n0
         |  WHERE CAST(ca.c AS DOUBLE) / n0.c >= $pMin
         |    AND CAST(c2.c AS DOUBLE) / (n0.c - 1) >= $pMin
         |    AND EXISTS (
         |      SELECT 1 FROM n3 JOIN n2 sx ON sx.a = n3.a AND sx.b = n3.b
         |      WHERE n3.b = c2.a AND n3.d = c2.b
         |        AND CAST(n3.c AS DOUBLE) / c2.c >= $thresh
         |        AND ((CAST(n3.c AS DOUBLE) / c2.c) / (CAST(sx.c AS DOUBLE) / ca.c) >= $r
         |          OR (CAST(n3.c AS DOUBLE) / c2.c) / (CAST(sx.c AS DOUBLE) / ca.c) <= $rInv))),
         |int1 AS MATERIALIZED (SELECT DISTINCT a FROM ret2),
         |lv AS MATERIALIZED (
         |  SELECT CAST(a.s AS VARCHAR) || ':' || CAST(bb.s AS VARCHAR) AS lbl,
         |         a.s AS h, bb.s AS h2, 2 AS dep
         |  FROM int1 i JOIN al a ON a.s = i.a CROSS JOIN al bb
         |  UNION ALL
         |  SELECT CAST(a.s AS VARCHAR) AS lbl, a.s AS h, NULL AS h2, 1 AS dep
         |  FROM al a WHERE a.s NOT IN (SELECT a FROM int1)),
         |s2s AS MATERIALIZED (SELECT b AS ctx, sum(c) AS sc FROM n2 GROUP BY b),
         |s3s AS MATERIALIZED (SELECT b AS c1, d AS c2, sum(c) AS sc FROM n3 GROUP BY b, d),
         |nd AS MATERIALIZED (
         |  SELECT l.lbl, l.h, al.s AS sig,
         |    (CASE
         |      WHEN l.dep = 2 AND EXISTS (SELECT 1 FROM n2 WHERE n2.a = l.h AND n2.b = l.h2)
         |        THEN coalesce((SELECT CAST(n3.c AS DOUBLE) FROM n3
         |                       WHERE n3.a = al.s AND n3.b = l.h AND n3.d = l.h2)
         |                      / (SELECT CAST(sc AS DOUBLE) FROM s3s WHERE c1 = l.h AND c2 = l.h2), 0.0)
         |      ELSE coalesce((SELECT CAST(n2.c AS DOUBLE) FROM n2 WHERE n2.a = al.s AND n2.b = l.h)
         |                    / (SELECT CAST(sc AS DOUBLE) FROM s2s WHERE ctx = l.h), 0.0)
         |    END) * (1.0 - CAST(ksz.k AS DOUBLE) * $gammaMin) + $gammaMin AS p
         |  FROM lv l CROSS JOIN al CROSS JOIN ksz),
         |dl(st, sy, nst, hit) AS (VALUES $deltaRows),
         |sts(st) AS (VALUES $stateRows),
         |tr AS MATERIALIZED (
         |  SELECT nd.lbl, nd.sig, nd.p,
         |         CASE WHEN nd.sig IN (SELECT a FROM int1)
         |              THEN CAST(nd.sig AS VARCHAR) || ':' || CAST(nd.h AS VARCHAR)
         |              ELSE CAST(nd.sig AS VARCHAR) END AS nlbl
         |  FROM nd),
         |trx AS MATERIALIZED (SELECT t.lbl, d.st, t.sig, t.p, t.nlbl, d.nst, d.hit
         |        FROM tr t JOIN dl d ON d.sy = t.sig),
         |f0 AS MATERIALIZED (SELECT l.lbl AS lbl0, s.st AS st0, l.lbl AS lbl, s.st AS st,
         |              CAST(1.0 AS DOUBLE) AS mass
         |       FROM lv l CROSS JOIN sts s),
         |$steps,
         |hh AS MATERIALIZED ($hitsUnion),
         |wts AS MATERIALIZED (SELECT lbl0, st0, sum(hit) AS mass_all,
         |               sum(CASE WHEN t <= $k10 THEN hit ELSE 0.0 END) AS mass_10
         |        FROM hh GROUP BY lbl0, st0),
         |ft AS MATERIALIZED (SELECT l.lbl, s.st,
         |              coalesce(ww.mass_all, 0.0) AS mass_all,
         |              coalesce(ww.mass_10, 0.0) AS prob
         |       FROM lv l CROSS JOIN sts s
         |       LEFT JOIN wts ww ON ww.lbl0 = l.lbl AND ww.st0 = s.st)""".stripMargin

    /** ft → the cef11/cef21 output shape (×10⁶ integers). */
    val tableSelect: String =
      """SELECT f.lbl AS label, f.st AS state,
        |       CAST(floor(f.mass_all * 1000000 + 0.5) AS BIGINT) AS wt_mass,
        |       CAST(floor(f.prob * 1000000 + 0.5) AS BIGINT) AS p_next10
        |FROM ft f ORDER BY label, state""".stripMargin
  }

  private object SpstOracle {
    import PstSql.k10

    private val iso = pSkipAny.iso
    private val sdfa = pSkipAny.sdfa
    private def symOf(t: String) = iso.evaluate(CEvent.simple(1, t, 1))
    private val E = symOf("error")
    private val P = symOf("purchase")
    private val O = symOf("view")
    require(symOf("click") == O && symOf("signup") == O && Set(E, P, O).size == 3
      && iso.size == 3, "skip-any minterm alphabet must be {error, purchase, other}")

    // Semantic state ids for the per-event replay (verified, not assumed):
    // start (no error yet), first-error, error-again, final (purchase after
    // error), other-after-error. All armed states share one delta row.
    private val s0 = sdfa.start
    private val sFE = sdfa.delta(s0)(E)
    private val sE = sdfa.delta(sFE)(E)
    private val sF = sdfa.delta(sFE)(P)
    private val sO = sdfa.delta(sFE)(O)
    require(sdfa.delta(s0)(P) == s0 && sdfa.delta(s0)(O) == s0,
      "start state must loop on non-error symbols")
    require(Seq(sFE, sE, sF, sO).forall(st =>
      sdfa.delta(st)(E) == sE && sdfa.delta(st)(P) == sF && sdfa.delta(st)(O) == sO),
      "armed/final states must share the armed delta row")
    require(sdfa.finals == Set(sF) && !sdfa.isFinal(s0)
      && Set(s0, sFE, sE, sF, sO).size == sdfa.nStates,
      "state space must be exactly the five semantic states")

    private val deltaRows = (for {
      st <- 0 until sdfa.nStates
      sy <- 0 until iso.size
    } yield s"($st, $sy, ${sdfa.delta(st)(sy)}, ${sdfa.isFinal(sdfa.delta(st)(sy))})").mkString(", ")
    private val stateRows = (0 until sdfa.nStates).map(s => s"($s)").mkString(", ")

    private val prefix =
      s"""WITH b AS (
         |  SELECT event_id, user_id, event_type, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |sym AS MATERIALIZED (SELECT user_id, rn, event_id,
         |        CASE event_type WHEN 'error' THEN $E WHEN 'purchase' THEN $P ELSE $O END AS s
         |        FROM b)""".stripMargin

    /** CTE chain ending at `ft(lbl, st, mass_all, prob)` — the forecast
      * table over every (leaf label × SDFA state) pair ([[PstSql.core]]).
      */
    private val core: String = PstSql.core(prefix, deltaRows, stateRows)

    val sql11: String =
      s"""$core
         |${PstSql.tableSelect}""".stripMargin

    /** cef27: smart-scan interval selection — the SMALLEST window with
      * mass ≥ 0.3 (capped at spread 10), highest mass then earliest
      * start on ties. The engine runs the two-pointer smartScan; the
      * oracle enumerates all candidate windows with fresh sums, which is
      * exactly the fullScan semantics smartScan is spec-pinned equal to
      * (WtSpec).
      */
    val sql27: String =
      s"""$core,
         |cand AS MATERIALIZED (
         |  SELECT l.lbl, s.st, gs.s, gs.e,
         |         (SELECT coalesce(sum(hh.hit), 0.0) FROM hh
         |          WHERE hh.lbl0 = l.lbl AND hh.st0 = s.st
         |            AND hh.t BETWEEN gs.s AND gs.e) AS p
         |  FROM lv l CROSS JOIN sts s
         |  CROSS JOIN (
         |    SELECT a.s, b.e
         |    FROM (SELECT unnest(range(1, 21)) AS s) a
         |    CROSS JOIN (SELECT unnest(range(1, 21)) AS e) b
         |    WHERE b.e >= a.s AND b.e - a.s <= 10) gs),
         |best AS MATERIALIZED (
         |  SELECT lbl, st, s, e, p,
         |         row_number() OVER (PARTITION BY lbl, st
         |                            ORDER BY e - s, p DESC, s) AS rk
         |  FROM cand WHERE p >= 0.3)
         |SELECT l.lbl AS label, s.st AS state,
         |       coalesce(b.s, -1) AS fs, coalesce(b.e, -1) AS fe,
         |       CASE WHEN b.s IS NULL THEN CAST(-1 AS BIGINT)
         |            ELSE CAST(floor(b.p * 1000000 + 0.5) AS BIGINT) END AS prob_q
         |FROM lv l CROSS JOIN sts s
         |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.lbl = l.lbl AND b.st = s.st
         |ORDER BY label, state""".stripMargin

    /** cef30: classify-win — mass of the fixed window of length `len`
      * centered on `center` (left edge clamped at 1), positive iff it
      * reaches θ. Completes the interval-builder family under the gate
      * (classifyNextK = cef12, fixedSpread = cef26, smartScan ≡ fullScan
      * = cef27, argmax = cef29).
      */
    private val cwCenter = 6
    private val cwLen = 6
    private val cwLeft = math.max(1, cwCenter - cwLen / 2)
    private val cwRight = cwCenter + cwLen / 2
    val sql30: String =
      s"""$core,
         |cw AS MATERIALIZED (
         |  SELECT l.lbl, s.st,
         |         (SELECT coalesce(sum(hh.hit), 0.0) FROM hh
         |          WHERE hh.lbl0 = l.lbl AND hh.st0 = s.st
         |            AND hh.t BETWEEN $cwLeft AND $cwRight) AS p
         |  FROM lv l CROSS JOIN sts s)
         |SELECT lbl AS label, st AS state,
         |       CAST($cwLeft AS BIGINT) AS fs, CAST($cwRight AS BIGINT) AS fe,
         |       CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS prob_q,
         |       p >= 0.3 AS positive
         |FROM cw ORDER BY label, state""".stripMargin

    /** cef29: argmax neighbor-growth interval — start at the wt mode
      * (earliest on ties) and repeatedly absorb the higher-probability
      * neighbor until θ is reached (left on ties), exactly
      * WtDistribution.argmax. The recursive CTE replays the SAME growth
      * sequence — each step adds the same value in the same order as the
      * engine loop — and the terminal row per (leaf, state) is the one
      * that reached θ or exhausted the support.
      */
    val sql29: String =
      s"""$core,
         |hv AS MATERIALIZED (
         |  SELECT l.lbl, s.st, gs.t,
         |         coalesce((SELECT hit FROM hh
         |                   WHERE hh.lbl0 = l.lbl AND hh.st0 = s.st AND hh.t = gs.t), 0.0) AS hit
         |  FROM lv l CROSS JOIN sts s CROSS JOIN (SELECT unnest(range(1, 21)) AS t) gs),
         |mx AS MATERIALIZED (
         |  SELECT lbl, st, t AS mi, hit AS mp FROM (
         |    SELECT lbl, st, t, hit,
         |           row_number() OVER (PARTITION BY lbl, st ORDER BY hit DESC, t) AS rk
         |    FROM hv) WHERE rk = 1),
         |arec AS MATERIALIZED (
         |  WITH RECURSIVE g(lbl, st, l, r, area) AS (
         |    SELECT lbl, st, mi, mi, mp FROM mx
         |    UNION ALL
         |    SELECT lbl, st,
         |           CASE WHEN pr > pl THEN l ELSE l - 1 END,
         |           CASE WHEN pr > pl THEN r + 1 ELSE r END,
         |           area + CASE WHEN pr > pl THEN pr ELSE pl END
         |    FROM (
         |      SELECT g.*,
         |        CASE WHEN l > 1 THEN (SELECT hit FROM hv
         |                              WHERE hv.lbl = g.lbl AND hv.st = g.st AND hv.t = l - 1)
         |             ELSE -1.0 END AS pl,
         |        CASE WHEN r < 20 THEN (SELECT hit FROM hv
         |                               WHERE hv.lbl = g.lbl AND hv.st = g.st AND hv.t = r + 1)
         |             ELSE -1.0 END AS pr
         |      FROM g) x
         |    WHERE area < 0.5 AND NOT (pl < 0 AND pr < 0))
         |  SELECT * FROM g),
         |term AS MATERIALIZED (
         |  SELECT * FROM arec WHERE area >= 0.5 OR (l = 1 AND r = 20))
         |SELECT t.lbl AS label, t.st AS state,
         |       CASE WHEN t.area >= 0.5 AND t.r - t.l <= 10 THEN t.l ELSE -1 END AS fs,
         |       CASE WHEN t.area >= 0.5 AND t.r - t.l <= 10 THEN t.r ELSE -1 END AS fe,
         |       CASE WHEN t.area >= 0.5 AND t.r - t.l <= 10
         |            THEN CAST(floor(t.area * 1000000 + 0.5) AS BIGINT)
         |            ELSE CAST(-1 AS BIGINT) END AS prob_q
         |FROM term t ORDER BY label, state""".stripMargin

    /** cef26: fixed-spread interval selection over the same wt series —
      * for every (leaf, state), the best window [s, s+5] with mass > 0.2
      * (highest mass, earliest start on ties, exactly
      * WtDistribution.fixedSpread). hh carries hit(t); absent rows are
      * zero-mass, and the Spark side REQUIRES full-support horizons so
      * the SQL's fixed s-range 1..15 matches the builder's loop bound.
      */
    val sql26: String =
      s"""$core,
         |cand AS MATERIALIZED (
         |  SELECT l.lbl, s.st, gs.s,
         |         (SELECT coalesce(sum(hh.hit), 0.0) FROM hh
         |          WHERE hh.lbl0 = l.lbl AND hh.st0 = s.st
         |            AND hh.t BETWEEN gs.s AND gs.s + 5) AS p
         |  FROM lv l CROSS JOIN sts s
         |  CROSS JOIN (SELECT unnest(range(1, 16)) AS s) gs),
         |best AS MATERIALIZED (
         |  SELECT lbl, st, s, p,
         |         row_number() OVER (PARTITION BY lbl, st ORDER BY p DESC, s) AS rk
         |  FROM cand WHERE p > 0.2)
         |SELECT l.lbl AS label, s.st AS state,
         |       coalesce(b.s, -1) AS fs, coalesce(b.s + 5, -1) AS fe,
         |       CASE WHEN b.s IS NULL THEN CAST(-1 AS BIGINT)
         |            ELSE CAST(floor(b.p * 1000000 + 0.5) AS BIGINT) END AS prob_q
         |FROM lv l CROSS JOIN sts s
         |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.lbl = l.lbl AND b.st = s.st
         |ORDER BY label, state""".stripMargin

    /** Per-event replay chain shared by sql12 and sql38: `ev` (symbol +
      * cumulative error count), `evl` (PST label + semantic SDFA state).
      */
    private val evChain: String =
      s""",
         |ev AS MATERIALIZED (SELECT user_id, rn, event_id, s,
         |              lag(s) OVER (PARTITION BY user_id ORDER BY rn) AS s1,
         |              count(CASE WHEN s = $E THEN 1 END)
         |                OVER (PARTITION BY user_id ORDER BY rn) AS errs
         |       FROM sym),
         |evl AS MATERIALIZED (SELECT user_id, rn, event_id,
         |               CASE WHEN s IN (SELECT a FROM int1)
         |                    THEN CAST(s AS VARCHAR) || ':' || CAST(s1 AS VARCHAR)
         |                    ELSE CAST(s AS VARCHAR) END AS lbl,
         |               CASE WHEN errs = 0 THEN $s0
         |                    WHEN s = $E AND errs = 1 THEN $sFE
         |                    WHEN s = $E THEN $sE
         |                    WHEN s = $P THEN $sF
         |                    ELSE $sO END AS st
         |        FROM ev WHERE s1 IS NOT NULL)""".stripMargin

    val sql12: String =
      s"""$core$evChain
         |SELECT e.user_id, e.rn AS counter, e.event_id,
         |       e.rn + 1 AS fs, e.rn + $k10 AS fe,
         |       CAST(floor(f.prob * 1000000 + 0.5) AS BIGINT) AS prob,
         |       f.prob >= 0.4 AS positive
         |FROM evl e JOIN ft f ON f.lbl = e.lbl AND f.st = e.st
         |ORDER BY user_id, counter""".stripMargin

    /** cef38's per-key report cadence (event-time micros): the engine
      * schedules the next report `ReportEveryMicros` after the event that
      * fired (or initialized) the schedule — 3 days against the ~0.4-day
      * per-user event cadence gives ~10 reports per key.
      */
    val ReportEveryMicros: Long = 3L * 86400L * 1000000L

    /** cef38: the COMPOSED InferenceJob — detections + forecasts + per-key
      * periodic reports from ONE keyed streaming pass
      * ([[graft.cef.spark.Inference.engine]]; reference
      * InferenceJob.java:215-302 side outputs). The oracle restates all
      * three tagged outputs over the shared CTEs:
      *   - detections: the cef07 purchase-after-error predicate on `ev`,
      *   - forecasts: the sql12 replay join against `ft`,
      *   - reports: the A1 online-resolution protocol — a forecast
      *     resolves tp/fn at the FIRST detection inside its interval, or
      *     fp/tn at interval expiry (first event past `fe`); unresolved
      *     tails at stream end are never reported. The event-time report
      *     schedule (next fire = firing event's ts + distance) is a
      *     per-key chain replayed by a recursive CTE, cumulative counts
      *     are resolution-time-bounded sums, batch deltas are lag()
      *     differences, and the batch MCC is [[mccSql]] (ofBatch's
      *     silent-window 0.0 coincides with mccSql's zero-margin case).
      */
    val sql38: String =
      s"""$core$evChain,
         |fcr AS MATERIALIZED (
         |  SELECT e.user_id, e.rn, e.event_id, e.rn + 1 AS fs, e.rn + $k10 AS fe,
         |         f.prob, f.prob >= 0.4 AS positive
         |  FROM evl e JOIN ft f ON f.lbl = e.lbl AND f.st = e.st),
         |det2 AS MATERIALIZED (
         |  SELECT user_id, rn, event_id FROM ev WHERE s = $P AND errs > 0),
         |mxr AS MATERIALIZED (SELECT user_id, max(rn) AS mx FROM b GROUP BY user_id),
         |hitj AS MATERIALIZED (
         |  SELECT f.user_id, f.rn, min(d.rn) AS hit_rn
         |  FROM fcr f JOIN det2 d
         |    ON d.user_id = f.user_id AND d.rn BETWEEN f.fs AND f.fe
         |  GROUP BY f.user_id, f.rn),
         |resv AS MATERIALIZED (
         |  SELECT f.user_id, f.positive,
         |         coalesce(h.hit_rn, f.fe + 1) AS res_rn,
         |         h.hit_rn IS NOT NULL AS hit
         |  FROM fcr f
         |  LEFT JOIN hitj h ON h.user_id = f.user_id AND h.rn = f.rn
         |  JOIN mxr m ON m.user_id = f.user_id
         |  WHERE h.hit_rn IS NOT NULL OR f.fe + 1 <= m.mx),
         |rrec AS MATERIALIZED (
         |  WITH RECURSIVE rp(user_id, idx, rn, tsu) AS (
         |    SELECT user_id, 0, rn, epoch_us(ts) FROM b WHERE rn = 1
         |    UNION ALL
         |    SELECT x.user_id, x.idx + 1, x.nrn,
         |           (SELECT epoch_us(b.ts) FROM b
         |            WHERE b.user_id = x.user_id AND b.rn = x.nrn)
         |    FROM (SELECT r.user_id, r.idx,
         |                 (SELECT min(b.rn) FROM b
         |                  WHERE b.user_id = r.user_id
         |                    AND epoch_us(b.ts) >= r.tsu + $ReportEveryMicros) AS nrn
         |          FROM rp r) x
         |    WHERE x.nrn IS NOT NULL)
         |  SELECT * FROM rp WHERE idx >= 1),
         |repc AS MATERIALIZED (
         |  SELECT r.user_id, r.idx, r.rn, r.tsu,
         |         coalesce(sum(CASE WHEN v.hit AND v.positive THEN 1 END), 0) AS ctp,
         |         coalesce(sum(CASE WHEN NOT v.hit AND NOT v.positive THEN 1 END), 0) AS ctn,
         |         coalesce(sum(CASE WHEN NOT v.hit AND v.positive THEN 1 END), 0) AS cfp,
         |         coalesce(sum(CASE WHEN v.hit AND NOT v.positive THEN 1 END), 0) AS cfn
         |  FROM rrec r LEFT JOIN resv v
         |    ON v.user_id = r.user_id AND v.res_rn <= r.rn
         |  GROUP BY r.user_id, r.idx, r.rn, r.tsu),
         |repb AS MATERIALIZED (
         |  SELECT user_id, idx, rn, tsu,
         |         CAST(ctp - coalesce(lag(ctp) OVER w, 0) AS BIGINT) AS tp,
         |         CAST(ctn - coalesce(lag(ctn) OVER w, 0) AS BIGINT) AS tn,
         |         CAST(cfp - coalesce(lag(cfp) OVER w, 0) AS BIGINT) AS fp,
         |         CAST(cfn - coalesce(lag(cfn) OVER w, 0) AS BIGINT) AS fn
         |  FROM repc WINDOW w AS (PARTITION BY user_id ORDER BY idx))
         |SELECT 'detection' AS kind, d.user_id AS user_id, d.rn AS counter,
         |       d.event_id AS event_id, epoch_us(b.ts) AS ts_us,
         |       CAST(-1 AS BIGINT) AS fs, CAST(-1 AS BIGINT) AS fe,
         |       CAST(1000000 AS BIGINT) AS prob_q, TRUE AS positive,
         |       CAST(-1 AS BIGINT) AS tp, CAST(-1 AS BIGINT) AS tn,
         |       CAST(-1 AS BIGINT) AS fp, CAST(-1 AS BIGINT) AS fn
         |FROM det2 d JOIN b ON b.user_id = d.user_id AND b.rn = d.rn
         |UNION ALL
         |SELECT 'forecast', f.user_id, f.rn, f.event_id, epoch_us(b.ts),
         |       f.fs, f.fe, CAST(floor(f.prob * 1000000 + 0.5) AS BIGINT), f.positive,
         |       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
         |FROM fcr f JOIN b ON b.user_id = f.user_id AND b.rn = f.rn
         |UNION ALL
         |SELECT 'report', user_id, rn, b_event_id, tsu,
         |       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), ${mccSql}, tp + fp + fn > 0,
         |       tp, tn, fp, fn
         |FROM (SELECT r.*, b.event_id AS b_event_id
         |      FROM repb r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn)
         |ORDER BY kind, user_id, counter""".stripMargin

    /** cef39's per-key swap delay: 12 days (micros). First events land in
      * days 0–3 of the 30-day stream, so every key's syncTs (first event
      * ts + delay) falls in days 12–15 — inside the middle slice of the
      * 3-slice streaming replay, i.e. the swap boundary is mid-batch.
      */
    val SwapDelayMicros: Long = 12L * 86400L * 1000000L

    /** cef39: the synchronized mid-stream model swap. Model 0 =
      * classify-next-10 @ θ=0.4 (the `ft` CTE); model 1 =
      * classify-next-5 @ θ=0.6 (`ft5`, the same wt series `hh` re-summed
      * to k=5 — both tables precomputed the way cef12 does). Each key's
      * syncTs is its first event time + [[SwapDelayMicros]]; the
      * piecewise replay joins `ft` strictly before syncTs and `ft5` at or
      * after it (the engine swaps BEFORE stepping the boundary event).
      * Detections are model-invariant and pin that the run state
      * survived the swap intact.
      */
    val sql39: String =
      s"""$core$evChain,
         |ft5 AS MATERIALIZED (
         |  SELECT l.lbl, s.st, coalesce(w5.m, 0.0) AS prob
         |  FROM lv l CROSS JOIN sts s
         |  LEFT JOIN (SELECT lbl0, st0,
         |                    sum(CASE WHEN t <= 5 THEN hit ELSE 0.0 END) AS m
         |             FROM hh GROUP BY lbl0, st0) w5
         |    ON w5.lbl0 = l.lbl AND w5.st0 = s.st),
         |swp AS MATERIALIZED (
         |  SELECT user_id, epoch_us(ts) + $SwapDelayMicros AS swap_ts
         |  FROM b WHERE rn = 1),
         |det2 AS MATERIALIZED (
         |  SELECT user_id, rn, event_id FROM ev WHERE s = $P AND errs > 0),
         |fc AS MATERIALIZED (
         |  SELECT e.user_id, e.rn, e.event_id, epoch_us(b.ts) AS tsu,
         |         CASE WHEN epoch_us(b.ts) >= w.swap_ts THEN 5 ELSE 10 END AS spread,
         |         CASE WHEN epoch_us(b.ts) >= w.swap_ts THEN fb.prob ELSE fa.prob END AS prob,
         |         CASE WHEN epoch_us(b.ts) >= w.swap_ts THEN 0.6 ELSE 0.4 END AS th
         |  FROM evl e
         |  JOIN b ON b.user_id = e.user_id AND b.rn = e.rn
         |  JOIN swp w ON w.user_id = e.user_id
         |  JOIN ft fa ON fa.lbl = e.lbl AND fa.st = e.st
         |  JOIN ft5 fb ON fb.lbl = e.lbl AND fb.st = e.st)
         |SELECT 'detection' AS kind, d.user_id AS user_id, d.rn AS counter,
         |       d.event_id AS event_id, epoch_us(b.ts) AS ts_us,
         |       CAST(-1 AS BIGINT) AS fs, CAST(-1 AS BIGINT) AS fe,
         |       CAST(1000000 AS BIGINT) AS prob_q, TRUE AS positive
         |FROM det2 d JOIN b ON b.user_id = d.user_id AND b.rn = d.rn
         |UNION ALL
         |SELECT 'forecast', user_id, rn, event_id, tsu,
         |       rn + 1, rn + spread,
         |       CAST(floor(prob * 1000000 + 0.5) AS BIGINT), prob >= th
         |FROM fc
         |ORDER BY kind, user_id, counter""".stripMargin
  }

  /** DuckDB oracle for the SPSTm query (cef21): the register pattern's
    * detection points (the cef18 windowed self-join), the runtime-trace
    * symbolization (detection / new anchor / other) and the anchor-age
    * state machine, fed through the shared PST + wt machinery
    * ([[PstSql.core]]). The (delta, hit) VALUES rows are interpolated
    * from the SAME [[graft.cef.SpstM.anchorAgeTables]] the Spark query
    * runs, so the two sides share one definition of the abstraction.
    */
  private object SpstmOracle {
    import graft.cef.SpstM

    /** pSremo's count window. */
    private val W = 10

    private val (delta, hit) = SpstM.anchorAgeTables(W)
    private val deltaRows = (for {
      st <- 0 to W
      sy <- 0 until SpstM.NumSymbols
    } yield s"($st, $sy, ${delta(st)(sy)}, ${hit(st)(sy)})").mkString(", ")
    private val stateRows = (0 to W).map(s => s"($s)").mkString(", ")

    private val prefix =
      s"""$RnCte,
         |det AS MATERIALIZED (
         |  SELECT DISTINCT a.user_id AS user_id, p.rn AS rn
         |  FROM b a JOIN b p
         |    ON a.user_id = p.user_id AND p.rn > a.rn AND p.rn - a.rn < $W
         |  WHERE a.value > 120.0 AND p.value > a.value),
         |sym AS MATERIALIZED (
         |  SELECT b.user_id, b.rn, b.event_id,
         |         CASE WHEN d.rn IS NOT NULL THEN ${SpstM.SymD}
         |              WHEN b.value > 120.0 THEN ${SpstM.SymA}
         |              ELSE ${SpstM.SymO} END AS s
         |  FROM b LEFT JOIN det d ON d.user_id = b.user_id AND d.rn = b.rn)""".stripMargin

    val sql21: String =
      s"""${PstSql.core(prefix, deltaRows, stateRows)}
         |${PstSql.tableSelect}""".stripMargin
  }

  /** cef32's oracle: the cef21 pipeline over the TIME-windowed register
    * pattern — detections from the cef19 event-time self-join, the same
    * D/A/O symbolization (an arming event is a fresh anchor in both
    * window kinds), and the wt recursion over the 10-cell grid-bucketed
    * anchor-age automaton ([[graft.cef.SpstM.anchorAgeTables]] with
    * window/grid cells, interpolated as VALUES rows exactly like cef21).
    */
  private object SpstmTimeOracle {
    import graft.cef.SpstM

    /** pSremoTime's window in engine micros (200,000 s). */
    private val W = 200000000000L
    /** Age-grid cell: 20,000 s → 10 abstract age cells. */
    val GridMicros: Long = 20000000000L
    private val Cells = (W / GridMicros).toInt

    private val (delta, hit) = SpstM.anchorAgeTables(Cells)
    private val deltaRows = (for {
      st <- 0 to Cells
      sy <- 0 until SpstM.NumSymbols
    } yield s"($st, $sy, ${delta(st)(sy)}, ${hit(st)(sy)})").mkString(", ")
    private val stateRows = (0 to Cells).map(s => s"($s)").mkString(", ")

    private val prefix =
      s"""$RnCte,
         |det AS MATERIALIZED (
         |  SELECT DISTINCT a.user_id AS user_id, p.rn AS rn
         |  FROM b a JOIN b p
         |    ON a.user_id = p.user_id AND p.rn > a.rn
         |   AND epoch_us(p.ts) - epoch_us(a.ts) < $W
         |  WHERE a.value > 120.0 AND p.value > a.value),
         |sym AS MATERIALIZED (
         |  SELECT b.user_id, b.rn, b.event_id,
         |         CASE WHEN d.rn IS NOT NULL THEN ${SpstM.SymD}
         |              WHEN b.value > 120.0 THEN ${SpstM.SymA}
         |              ELSE ${SpstM.SymO} END AS s
         |  FROM b LEFT JOIN det d ON d.user_id = b.user_id AND d.rn = b.rn)""".stripMargin

    val sql32: String =
      s"""${PstSql.core(prefix, deltaRows, stateRows)}
         |${PstSql.tableSelect}""".stripMargin

    /** cef41: per-event SPSTm forecasts over the TIME-windowed register
      * pattern — the cef32 learning chain (`core` ending at `ft`) plus a
      * per-event replay: PST label from the last-2 trace symbols (the
      * sql12 label rule over the SPSTm alphabet), abstract state from
      * the newest arming event's age, grid-bucketed and capped exactly
      * like [[graft.cef.spark.Detect.dsraTrace]] (the cap also absorbs
      * runtime eviction: an anchor at or beyond the window reads as the
      * idle cell either way). Forecasts exist from each key's second
      * trace row (the order-2 buffer fills), classify-next-10 @ θ=0.4.
      */
    val sql41: String =
      s"""${PstSql.core(prefix, deltaRows, stateRows)},
         |ctx AS MATERIALIZED (
         |  SELECT sym.user_id, sym.rn, sym.event_id, sym.s,
         |         lag(sym.s) OVER (PARTITION BY sym.user_id ORDER BY sym.rn) AS s1
         |  FROM sym),
         |anc AS MATERIALIZED (
         |  SELECT b.user_id, b.rn,
         |         (SELECT max(b2.rn) FROM b b2
         |          WHERE b2.user_id = b.user_id AND b2.rn <= b.rn
         |            AND b2.value > 120.0) AS arn
         |  FROM b),
         |evl AS MATERIALIZED (
         |  SELECT c.user_id, c.rn, c.event_id,
         |         CASE WHEN c.s IN (SELECT a FROM int1)
         |              THEN CAST(c.s AS VARCHAR) || ':' || CAST(c.s1 AS VARCHAR)
         |              ELSE CAST(c.s AS VARCHAR) END AS lbl,
         |         CASE WHEN a.arn IS NULL THEN $Cells
         |              ELSE LEAST((epoch_us(b.ts) - epoch_us(ba.ts)) // $GridMicros,
         |                         $Cells) END AS st
         |  FROM ctx c
         |  JOIN anc a ON a.user_id = c.user_id AND a.rn = c.rn
         |  JOIN b ON b.user_id = c.user_id AND b.rn = c.rn
         |  LEFT JOIN b ba ON ba.user_id = c.user_id AND ba.rn = a.arn
         |  WHERE c.s1 IS NOT NULL)
         |SELECT e.user_id, e.rn AS counter, e.event_id,
         |       e.rn + 1 AS fs, e.rn + 10 AS fe,
         |       CAST(floor(f.prob * 1000000 + 0.5) AS BIGINT) AS prob,
         |       f.prob >= 0.4 AS positive
         |FROM evl e JOIN ft f ON f.lbl = e.lbl AND f.st = e.st
         |ORDER BY user_id, counter""".stripMargin
  }

  /** cef31's oracle: the WHOLE adaptation control plane (O1–O8) restated
    * in SQL over the events table —
    *
    *   - the day-windowed report stream (the cef10 arithmetic, silent
    *     windows included);
    *   - the Observer's threshold/grace/history state machine as a
    *     recursive CTE over the day-ordered reports
    *     (reference ObserverProcess.java:72-166);
    *   - the Controller/Factory optimize session for the FIRST optimize
    *     instruction: the seeded ask sequence interpolated as constants
    *     (all [[graft.cef.adapt.AskTellOptimizer]] proposals are
    *     seed-only when nInitialPoints == nTotalEvals — the exact ask/
    *     tell contract, reference optimizer.py:78-120), each candidate's
    *     f_val recomputed from first principles — chronological 80/20
    *     split, candidate-parameterized PST learning over the train
    *     region (one k-dimensioned clone of the cef11 learning chain),
    *     the unrolled wt recursion, the per-event SpstRun forecast
    *     replay over the test region and the confusion/MCC arithmetic
    *     (reference WayebAdapter.scala:41-185) — and argmin selection
    *     (controller_coprocess.py:88-257);
    *   - Factory `train` handling for every retrain instruction with the
    *     model-counter and MIN_DATA_THRESHOLD arithmetic
    *     (ModelFactoryEngine.java:226-512), and the pause/play sync
    *     commands either path emits.
    *
    * The gate scopes the Controller/Factory dispatch to every retrain
    * plus ONE optimization cycle (the first optimize instruction) — the
    * reference runs a single in-flight session too; later optimize
    * instructions are recorded as Observer output only. Doubles follow
    * the mccSql discipline: both engines evaluate textually identical
    * IEEE expressions, quantized ×10⁴ (MCC) / ×10⁹ (params) at the edge.
    */
  private object AdaptOracle {
    import graft.cef.adapt.AskTellOptimizer

    val LowScore = -0.12
    val OptDiff = 0.10
    val TrainDiff = 0.05
    val GraceInit = 8
    val NEvals = 10
    val MinData = 50
    /** Factory datasets cover the RetentionDays-day archive before the
      * instruction's day — the deterministic stand-in for the
      * Collector's last-K bucket retention (O5/O6): the training set is
      * retention-bounded, never corpus-sized, which is what keeps the
      * driver-side in-memory train/test bridge (T5, the reference's own
      * architecture) safe at scale.
      */
    val RetentionDays = 5
    private val alpha = 0.05
    private val r = 1.05
    private val rInv = 1 / 1.05
    private val gate = (1 + alpha) // × candidate gamma = retention threshold
    private val cutoff = 0.001
    private val horizon = 20

    /** The seeded ask sequence — all proposals are init-strata points
      * (nInitialPoints == nTotalEvals), so they are pure functions of
      * the seed, independent of any told f_val: interpolable constants,
      * exactly like the automaton VALUES rows elsewhere.
      */
    val Candidates: List[List[Double]] = {
      val o = new AskTellOptimizer(nInitialPoints = NEvals, nTotalEvals = NEvals, seed = 42L)
      List.fill(NEvals)(o.ask())
    }
    private val candRows = Candidates.zipWithIndex
      .map { case (ps, k) => s"($k, ${ps.head}, ${ps(1)})" }.mkString(", ")

    // pSkipAny automaton constants (the SpstOracle requires pin these)
    private val iso = pSkipAny.iso
    private val sdfa = pSkipAny.sdfa
    private def symOf(t: String) = iso.evaluate(CEvent.simple(1, t, 1))
    private val E = symOf("error")
    private val P = symOf("purchase")
    private val O = symOf("view")
    private val s0 = sdfa.start
    private val sFE = sdfa.delta(s0)(E)
    private val sE = sdfa.delta(sFE)(E)
    private val sF = sdfa.delta(sFE)(P)
    private val sO = sdfa.delta(sFE)(O)
    private val deltaRows = (for {
      st <- 0 until sdfa.nStates
      sy <- 0 until iso.size
    } yield s"($st, $sy, ${sdfa.delta(st)(sy)}, ${sdfa.isFinal(sdfa.delta(st)(sy))})").mkString(", ")
    private val stateRows = (0 until sdfa.nStates).map(s => s"($s)").mkString(", ")

    /** ClassStats.mcc as SQL over the given count columns — the same
      * IEEE evaluation order as the Scala formula and [[mccSql]], raw
      * double (the Observer and argmin compare unquantized values).
      */
    private def mccRaw(tp: String, tn: String, fp: String, fn: String): String =
      s"""CASE WHEN $tp + $fp = 0 OR $tp + $fn = 0 OR $tn + $fp = 0 OR $tn + $fn = 0
         |     THEN CAST(0.0 AS DOUBLE)
         |     ELSE sqrt((CAST($tp AS DOUBLE)/($tp+$fp)) * (CAST($tp AS DOUBLE)/($tp+$fn))
         |             * (CAST($tn AS DOUBLE)/($tn+$fp)) * (CAST($tn AS DOUBLE)/($tn+$fn)))
         |        - sqrt((1 - CAST($tp AS DOUBLE)/($tp+$fp)) * (1 - CAST($tp AS DOUBLE)/($tp+$fn))
         |             * (1 - CAST($tn AS DOUBLE)/($tn+$fp)) * (1 - CAST($tn AS DOUBLE)/($tn+$fn)))
         |END""".stripMargin.replace('\n', ' ')

    /** Observer decision expression over the incoming state (o.prev,
      * implicit non-silent, grace already checked) and report r. */
    private val decExpr =
      s"""CASE WHEN r.mcc < $LowScore THEN 'optimize'
         |     WHEN o.prev IS NOT NULL AND o.prev - r.mcc > $OptDiff THEN 'optimize'
         |     WHEN o.prev IS NOT NULL AND o.prev - r.mcc > $TrainDiff THEN 'retrain'
         |     ELSE NULL END""".stripMargin.replace('\n', ' ')

    // k-dimensioned wt recursion (the PstSql.core steps with a candidate axis)
    private val steps = (1 to horizon).map { t =>
      val prev = s"fk${t - 1}"
      val h =
        s"""hk$t AS MATERIALIZED (
           |  SELECT f.k, lbl0, st0, sum(f.mass * x.p) AS hit
           |  FROM $prev f JOIN trxk x ON x.k = f.k AND x.lbl = f.lbl AND x.st = f.st
           |  WHERE x.hitf GROUP BY f.k, lbl0, st0)""".stripMargin
      val fc =
        if (t == horizon) ""
        else
          s""",
             |fk$t AS MATERIALIZED (
             |  SELECT f.k, lbl0, st0, x.nlbl AS lbl, x.nst AS st, sum(f.mass * x.p) AS mass
             |  FROM $prev f JOIN trxk x ON x.k = f.k AND x.lbl = f.lbl AND x.st = f.st
             |  WHERE NOT x.hitf AND f.mass * x.p > $cutoff
             |  GROUP BY f.k, lbl0, st0, x.nlbl, x.nst)""".stripMargin
      h + fc
    }.mkString(",\n")
    private val hitsUnion =
      (1 to horizon).map(t => s"SELECT k, lbl0, st0, hit, $t AS t FROM hk$t").mkString("\nUNION ALL ")

    private val nullCols =
      "CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)"

    val sql31: String =
      s"""$RnCte,
         |det0 AS MATERIALIZED (
         |  SELECT user_id, rn AS counter
         |  FROM (SELECT user_id, event_type, rn,
         |               count(CASE WHEN event_type = 'error' THEN 1 END)
         |                 OVER (PARTITION BY user_id ORDER BY rn
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_err
         |        FROM b)
         |  WHERE event_type = 'purchase' AND n_err > 0),
         |fc0 AS (SELECT user_id, rn, ts, event_type = 'error' AS positive,
         |               rn + 1 AS fs, rn + 10 AS fe FROM b),
         |ev0 AS MATERIALIZED (
         |  SELECT fc0.user_id, fc0.rn, fc0.positive,
         |         CAST(date_trunc('day', fc0.ts) AS DATE) AS day,
         |         max(CASE WHEN det0.counter IS NOT NULL THEN 1 ELSE 0 END) = 1 AS hit
         |  FROM fc0 LEFT JOIN det0
         |    ON det0.user_id = fc0.user_id AND det0.counter BETWEEN fc0.fs AND fc0.fe
         |  GROUP BY fc0.user_id, fc0.rn, fc0.positive, day),
         |rconf AS MATERIALIZED (
         |  SELECT day,
         |         CAST(sum(CASE WHEN positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN NOT positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         CAST(sum(CASE WHEN positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN NOT positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM ev0 GROUP BY day),
         |rep AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY day) AS i, day, tp, tn, fp, fn,
         |         ${mccRaw("tp", "tn", "fp", "fn")} AS mcc
         |  FROM rconf),
         |obs AS MATERIALIZED (
         |  WITH RECURSIVE o(i, g, prev, dec) AS (
         |    SELECT CAST(0 AS BIGINT), 0, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
         |    UNION ALL
         |    SELECT r.i,
         |      CASE WHEN r.tp + r.fp + r.fn = 0 THEN greatest(o.g - 1, 0)
         |           WHEN o.g > 0 THEN o.g - 1
         |           WHEN ($decExpr) IS NOT NULL THEN $GraceInit
         |           ELSE 0 END,
         |      CASE WHEN r.tp + r.fp + r.fn = 0 THEN o.prev ELSE r.mcc END,
         |      CASE WHEN r.tp + r.fp + r.fn = 0 OR o.g > 0 THEN NULL ELSE ($decExpr) END
         |    FROM o JOIN rep r ON r.i = o.i + 1)
         |  SELECT i, dec FROM o WHERE i >= 1),
         |ins AS MATERIALIZED (
         |  SELECT i, dec, row_number() OVER (ORDER BY i) - 1 AS ins_id
         |  FROM obs WHERE dec IS NOT NULL),
         |fo AS (SELECT min(i) AS i FROM ins WHERE dec = 'optimize'),
         |disp AS MATERIALIZED (
         |  SELECT i, dec, ins_id FROM ins
         |  WHERE dec = 'retrain' OR i = (SELECT i FROM fo)),
         |dsn AS MATERIALIZED (
         |  SELECT d.i, d.dec, d.ins_id,
         |         (SELECT count(*) FROM b
         |          WHERE CAST(date_trunc('day', b.ts) AS DATE) <
         |            (SELECT r2.day FROM rep r2 WHERE r2.i = d.i)
         |            AND CAST(date_trunc('day', b.ts) AS DATE) >=
         |            (SELECT r2.day FROM rep r2 WHERE r2.i = d.i) - $RetentionDays) AS n
         |  FROM disp d),
         |sess AS MATERIALIZED (SELECT i, n FROM dsn WHERE dec = 'optimize'),
         |sd AS MATERIALIZED (
         |  SELECT event_id, user_id, event_type, ts,
         |         row_number() OVER (ORDER BY ts, event_id) AS grn
         |  FROM b WHERE CAST(date_trunc('day', ts) AS DATE) <
         |    (SELECT r3.day FROM rep r3 WHERE r3.i = (SELECT i FROM sess))
         |    AND CAST(date_trunc('day', ts) AS DATE) >=
         |    (SELECT r3.day FROM rep r3 WHERE r3.i = (SELECT i FROM sess)) - $RetentionDays),
         |scut AS (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) AS c, count(*) AS n FROM sd),
         |cands(k, pmin, gamma) AS (VALUES $candRows),
         |trn AS MATERIALIZED (
         |  SELECT user_id, event_type,
         |         row_number() OVER (PARTITION BY user_id ORDER BY grn) AS rn
         |  FROM sd WHERE grn <= (SELECT c FROM scut)),
         |tsym AS (SELECT user_id, rn,
         |        CASE event_type WHEN 'error' THEN $E WHEN 'purchase' THEN $P ELSE $O END AS s
         |      FROM trn),
         |twn AS MATERIALIZED (SELECT user_id, rn, s,
         |        lag(s, 1) OVER (PARTITION BY user_id ORDER BY rn) AS s1,
         |        lag(s, 2) OVER (PARTITION BY user_id ORDER BY rn) AS s2
         |      FROM tsym),
         |tn0 AS MATERIALIZED (SELECT count(*) AS c FROM twn),
         |tn1 AS MATERIALIZED (SELECT s AS a, count(*) AS c FROM twn GROUP BY s),
         |tn2 AS MATERIALIZED (SELECT s AS a, s1 AS bb, count(*) AS c FROM twn WHERE s1 IS NOT NULL GROUP BY s, s1),
         |tn3 AS MATERIALIZED (SELECT s AS a, s1 AS bb, s2 AS d, count(*) AS c FROM twn WHERE s2 IS NOT NULL GROUP BY s, s1, s2),
         |tal AS MATERIALIZED (SELECT DISTINCT s FROM twn),
         |tksz AS MATERIALIZED (SELECT count(*) AS kk FROM tal),
         |ret2k AS MATERIALIZED (
         |  SELECT cd.k, c2.a, c2.bb
         |  FROM cands cd CROSS JOIN tn2 c2 JOIN tn1 ca ON ca.a = c2.a CROSS JOIN tn0
         |  WHERE CAST(ca.c AS DOUBLE) / tn0.c >= cd.pmin
         |    AND CAST(c2.c AS DOUBLE) / (tn0.c - 1) >= cd.pmin
         |    AND EXISTS (
         |      SELECT 1 FROM tn3 JOIN tn2 sx ON sx.a = tn3.a AND sx.bb = tn3.bb
         |      WHERE tn3.bb = c2.a AND tn3.d = c2.bb
         |        AND CAST(tn3.c AS DOUBLE) / c2.c >= $gate * cd.gamma
         |        AND ((CAST(tn3.c AS DOUBLE) / c2.c) / (CAST(sx.c AS DOUBLE) / ca.c) >= $r
         |          OR (CAST(tn3.c AS DOUBLE) / c2.c) / (CAST(sx.c AS DOUBLE) / ca.c) <= $rInv))),
         |int1k AS MATERIALIZED (SELECT DISTINCT k, a FROM ret2k),
         |lvk AS MATERIALIZED (
         |  SELECT i.k, CAST(a.s AS VARCHAR) || ':' || CAST(bb.s AS VARCHAR) AS lbl,
         |         a.s AS h, bb.s AS h2, 2 AS dep
         |  FROM int1k i JOIN tal a ON a.s = i.a CROSS JOIN tal bb
         |  UNION ALL
         |  SELECT cd.k, CAST(a.s AS VARCHAR) AS lbl, a.s AS h, NULL AS h2, 1 AS dep
         |  FROM cands cd CROSS JOIN tal a
         |  WHERE NOT EXISTS (SELECT 1 FROM int1k ii WHERE ii.k = cd.k AND ii.a = a.s)),
         |ts2s AS MATERIALIZED (SELECT bb AS ctx, sum(c) AS sc FROM tn2 GROUP BY bb),
         |ts3s AS MATERIALIZED (SELECT bb AS c1, d AS c2, sum(c) AS sc FROM tn3 GROUP BY bb, d),
         |ndk AS MATERIALIZED (
         |  SELECT l.k, l.lbl, l.h, tal.s AS sig,
         |    (CASE
         |      WHEN l.dep = 2 AND EXISTS (SELECT 1 FROM tn2 WHERE tn2.a = l.h AND tn2.bb = l.h2)
         |        THEN coalesce((SELECT CAST(tn3.c AS DOUBLE) FROM tn3
         |                       WHERE tn3.a = tal.s AND tn3.bb = l.h AND tn3.d = l.h2)
         |                      / (SELECT CAST(sc AS DOUBLE) FROM ts3s WHERE c1 = l.h AND c2 = l.h2), 0.0)
         |      ELSE coalesce((SELECT CAST(tn2.c AS DOUBLE) FROM tn2 WHERE tn2.a = tal.s AND tn2.bb = l.h)
         |                    / (SELECT CAST(sc AS DOUBLE) FROM ts2s WHERE ctx = l.h), 0.0)
         |    END) * (1.0 - CAST(tksz.kk AS DOUBLE) * cd.gamma) + cd.gamma AS p
         |  FROM lvk l JOIN cands cd ON cd.k = l.k CROSS JOIN tal CROSS JOIN tksz),
         |dl(st, sy, nst, hitf) AS (VALUES $deltaRows),
         |stt(st) AS (VALUES $stateRows),
         |trk AS MATERIALIZED (
         |  SELECT ndk.k, ndk.lbl, ndk.sig, ndk.p,
         |         CASE WHEN EXISTS (SELECT 1 FROM int1k ii WHERE ii.k = ndk.k AND ii.a = ndk.sig)
         |              THEN CAST(ndk.sig AS VARCHAR) || ':' || CAST(ndk.h AS VARCHAR)
         |              ELSE CAST(ndk.sig AS VARCHAR) END AS nlbl
         |  FROM ndk),
         |trxk AS MATERIALIZED (SELECT t.k, t.lbl, d.st, t.sig, t.p, t.nlbl, d.nst, d.hitf
         |        FROM trk t JOIN dl d ON d.sy = t.sig),
         |fk0 AS MATERIALIZED (SELECT l.k, l.lbl AS lbl0, s.st AS st0, l.lbl AS lbl, s.st AS st,
         |              CAST(1.0 AS DOUBLE) AS mass
         |       FROM lvk l CROSS JOIN stt s),
         |$steps,
         |hhk AS MATERIALIZED ($hitsUnion),
         |wtsk AS MATERIALIZED (SELECT k, lbl0, st0,
         |               sum(CASE WHEN t <= 10 THEN hit ELSE 0.0 END) AS mass_10
         |        FROM hhk GROUP BY k, lbl0, st0),
         |ftk AS MATERIALIZED (
         |  SELECT l.k, l.lbl, s.st, coalesce(w2.mass_10, 0.0) AS prob
         |  FROM lvk l CROSS JOIN stt s
         |  LEFT JOIN wtsk w2 ON w2.k = l.k AND w2.lbl0 = l.lbl AND w2.st0 = s.st),
         |tst AS MATERIALIZED (
         |  SELECT user_id, event_type,
         |         row_number() OVER (PARTITION BY user_id ORDER BY grn) AS rn
         |  FROM sd WHERE grn > (SELECT c FROM scut)),
         |xrun AS MATERIALIZED (
         |  SELECT user_id, rn, s,
         |         lag(s) OVER (PARTITION BY user_id ORDER BY rn) AS s1,
         |         count(CASE WHEN s = $E THEN 1 END)
         |           OVER (PARTITION BY user_id ORDER BY rn) AS errs
         |  FROM (SELECT user_id, rn,
         |               CASE event_type WHEN 'error' THEN $E WHEN 'purchase' THEN $P ELSE $O END AS s
         |        FROM tst)),
         |xdet AS MATERIALIZED (SELECT user_id, rn FROM xrun WHERE s = $P AND errs > 0),
         |xfck AS MATERIALIZED (
         |  SELECT cd.k, x.user_id, x.rn,
         |         CASE WHEN x.errs = 0 THEN $s0
         |              WHEN x.s = $E AND x.errs = 1 THEN $sFE
         |              WHEN x.s = $E THEN $sE
         |              WHEN x.s = $P THEN $sF
         |              ELSE $sO END AS st,
         |         CASE WHEN EXISTS (SELECT 1 FROM int1k ii WHERE ii.k = cd.k AND ii.a = x.s)
         |              THEN CAST(x.s AS VARCHAR) || ':' || CAST(x.s1 AS VARCHAR)
         |              ELSE CAST(x.s AS VARCHAR) END AS lbl
         |  FROM cands cd CROSS JOIN xrun x WHERE x.s1 IS NOT NULL),
         |xevk AS MATERIALIZED (
         |  SELECT f.k, ft.prob >= 0.5 AS positive,
         |         EXISTS (SELECT 1 FROM xdet d WHERE d.user_id = f.user_id
         |                 AND d.rn BETWEEN f.rn + 1 AND f.rn + 10) AS hit
         |  FROM xfck f JOIN ftk ft ON ft.k = f.k AND ft.lbl = f.lbl AND ft.st = f.st),
         |confk AS MATERIALIZED (
         |  SELECT k,
         |         CAST(sum(CASE WHEN positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN NOT positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         CAST(sum(CASE WHEN positive AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN NOT positive AND hit THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM xevk GROUP BY k),
         |fvk AS MATERIALIZED (
         |  SELECT cd.k, cd.pmin, cd.gamma,
         |         ${mccRaw("coalesce(c.tp, 0)", "coalesce(c.tn, 0)",
                            "coalesce(c.fp, 0)", "coalesce(c.fn, 0)")} AS mcc
         |  FROM cands cd LEFT JOIN confk c ON c.k = cd.k),
         |selk AS MATERIALIZED (
         |  SELECT k, pmin, gamma, mcc,
         |         row_number() OVER (ORDER BY mcc DESC, k) AS rk
         |  FROM fvk),
         |sessok AS (SELECT EXISTS (SELECT 1 FROM sess WHERE n >= $MinData) AS ok)
         |SELECT * FROM (
         |  SELECT 'report' AS kind, i AS seq, tp, tn, fp, fn,
         |         CAST(floor(mcc * 10000 + 0.5) AS BIGINT) AS mcc_q,
         |         '' AS decision, CAST(-1 AS BIGINT) AS model_id,
         |         CAST(-1 AS BIGINT) AS p1_q, CAST(-1 AS BIGINT) AS p2_q,
         |         CAST(-1 AS BIGINT) AS n
         |  FROM rep
         |  UNION ALL
         |  SELECT 'instruction', i, $nullCols, -1, dec, ins_id, -1, -1, -1 FROM ins
         |  UNION ALL
         |  SELECT 'train', d.i, $nullCols, -1, 'trained',
         |         (SELECT count(*) FROM dsn d2
         |          WHERE d2.dec = 'retrain' AND d2.i < d.i AND d2.n >= $MinData)
         |         + (CASE WHEN EXISTS (SELECT 1 FROM sess ss
         |                              WHERE ss.i < d.i AND ss.n >= $MinData)
         |                 THEN 1 ELSE 0 END),
         |         CAST(floor(0.05 * 1000000000 + 0.5) AS BIGINT),
         |         CAST(floor(0.001 * 1000000000 + 0.5) AS BIGINT), d.n
         |  FROM dsn d WHERE d.dec = 'retrain' AND d.n >= $MinData
         |  UNION ALL
         |  SELECT 'factory_error', d.i, $nullCols, -1,
         |         CASE WHEN d.dec = 'optimize' THEN 'opt_step' ELSE 'train' END,
         |         2, -1, -1, d.n
         |  FROM dsn d WHERE d.n < $MinData
         |  UNION ALL
         |  SELECT 'sync', i, $nullCols, -1, 'pause', -1, -1, -1, -1 FROM sess
         |  UNION ALL
         |  SELECT 'sync', s5.i, $nullCols, -1, 'play',
         |         CASE WHEN s5.n >= $MinData
         |              THEN (SELECT count(*) FROM dsn d2
         |                    WHERE d2.dec = 'retrain' AND d2.i < s5.i AND d2.n >= $MinData)
         |              ELSE -1 END, -1, -1, -1
         |  FROM sess s5
         |  UNION ALL
         |  SELECT 'sync', d.i, $nullCols, -1, 'play', -1, -1, -1, -1
         |  FROM dsn d WHERE d.dec = 'retrain' AND d.n < $MinData
         |  UNION ALL
         |  SELECT 'eval', f.k, $nullCols,
         |         CAST(floor(f.mcc * 10000 + 0.5) AS BIGINT), '', -1,
         |         CAST(floor(f.pmin * 1000000000 + 0.5) AS BIGINT),
         |         CAST(floor(f.gamma * 1000000000 + 0.5) AS BIGINT),
         |         (SELECT n FROM scut)
         |  FROM fvk f WHERE (SELECT ok FROM sessok)
         |  UNION ALL
         |  SELECT 'select', s6.k, $nullCols,
         |         CAST(floor(s6.mcc * 10000 + 0.5) AS BIGINT), 'finalised',
         |         (SELECT count(*) FROM dsn d2
         |          WHERE d2.dec = 'retrain' AND d2.i < (SELECT i FROM sess) AND d2.n >= $MinData),
         |         CAST(floor(s6.pmin * 1000000000 + 0.5) AS BIGINT),
         |         CAST(floor(s6.gamma * 1000000000 + 0.5) AS BIGINT),
         |         (SELECT n FROM scut)
         |  FROM selk s6 WHERE s6.rk = 1 AND (SELECT ok FROM sessok)
         |)
         |ORDER BY kind, seq, decision""".stripMargin
  }
}
