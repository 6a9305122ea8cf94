package graft.perfbench

import graft.SparkEntry
import graft.ops.Release
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The queries layer: streaming gates of `graft.queries.Cef`, run the way
  * `graft.Verify` runs them (`Release.sweepStart` / `beginQuery` /
  * `queryFinished`, sorted by name) over a generated sf0.01-shaped `events`
  * table, after a warm-up on a small one. Each gate's rows are written out
  * after the timed region; `run.py` compares them with the gate's DuckDB
  * oracle.
  */
final class GateBench(root: Path, tables: Path, tracing: Boolean) {

  /** One gate per streaming shape: keyed detection, complete-mode window,
    * the inference job, late data under a watermark, a cross-batch sketch
    * fold and event-time sessions.
    */
  val Gates: Seq[String] = Seq("cef22_streaming", "cef28_streaming_window", "cef38_inference_job",
    "cef40_watermark_late", "cef43_streaming_kmv", "cef54_streaming_sessions")
  val WarmGate = "cef22_streaming"

  private val timer = new Timer(tracing)

  def run(session: () => (SparkSession, Double)): Result = {
    // stale scaffold dirs of dead JVMs slow every gate (the r12 incident)
    val swept = graft.queries.StreamScaffold.sweepStale()
    val (spark, _) = session()
    val progress = new ProgressLog(timer)
    spark.streams.addListener(progress)
    val warmDir = tables.resolve("warm").toString
    val dir = tables.resolve("main").toString

    // set-up: the warm-up gate on a small table, twice
    val reps = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(WarmGate)(spark, warmDir).collect()
      (System.nanoTime() - t0) / 1e9
    }
    timer.time("gate.slices_s") {
      graft.queries.Cef.warmEventSlices(spark, dir, late = false)
      graft.queries.Cef.warmEventSlices(spark, dir, late = true)
    }

    // timed: the gates, sorted, with the sweep discipline of graft.Verify
    val before = progress.all.size
    Release.sweepStart(spark)
    val rows = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val times = mutable.LinkedHashMap.empty[String, Double]
    Gates.sorted.foreach { name =>
      Release.beginQuery(name)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val got = df.collect()
      val dt = System.nanoTime() - t0
      timer.span(s"gate.$name", t0, dt)
      Release.queryFinished(spark, name)
      times(name) = dt / 1e9
      rows(name) = (got, df.schema)
    }
    org.apache.spark.PerfbenchBus.drain(spark)
    val gateProgress = progress.all.drop(before)

    // outputs for the oracle check, outside the timed region
    val out = root.resolve("gates")
    rows.foreach { case (name, (rs, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
        .coalesce(1).write.parquet(out.resolve(name).toString)
    }
    Files.writeString(out.resolve("oracle_sql.json"), graft.cef.adapt.Json.render(
      Gates.map(g => g -> SparkEntry.oracleSql(g)): _*))

    val gatesS = times.values.sum
    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= times.map { case (n, s) => s"gate.${n.takeWhile(_ != '_')}_s" -> s }
    layers("gate.total_s") = gatesS
    layers("gate.batches") = gateProgress.size.toDouble
    layers("gate.slices_s") = timer.totals("gate.slices_s") / 1e3

    val record = mutable.LinkedHashMap[String, Any](
      "mb.batches" -> gateProgress.size, "gates" -> Gates.sorted, "gate_rows" -> rows.map {
        case (n, (rs, _)) => n -> rs.length }.toMap,
      "scaffold_base" -> graft.queries.StreamScaffold.bases.head.toString,
      "swept_stale" -> swept, "warmup_s" -> reps, "gates_s" -> gatesS,
      "trigger_ms" -> gateProgress.map(_.durationMs.get("triggerExecution").toLong))
    val traceOut = if (!tracing) Map.empty[String, Any] else Map(
      "spans" -> timer.spans.toSeq.map { case (n, s, d) => Seq(n, s / 1e6, d / 1e6) })
    Result(Map.empty, layers, record, traceOut, attempted = Gates.size.toLong, failed = 0L, correct = true)
  }
}
