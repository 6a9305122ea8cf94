package graft.perfbench

import graft.cef.adapt.Json
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** JVM entry of the benchmark. `perfbench/run.py` builds the program,
  * prepares a run root and starts this with:
  *
  *   --workload many_keys|drift_adapt --seed N --seconds S --trace 0|1
  *   --root DIR [--inject 1] [--tables DIR]
  *
  * With `--tables` (traced many_keys runs), the streaming gates also run
  * over the `events` tables under DIR after the stream.
  *
  * It writes `DIR/result.json`: end-to-end and per-layer metrics, the run
  * record (output hash, mcc, exact counts, environment stamp) and, when
  * tracing, the spans.
  */
object Main {
  val Master = "local[2]"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(a("root")).toAbsolutePath
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val tracing = a.get("trace").contains("1")
    val inject = a.get("inject").contains("1")
    var spark: SparkSession = null
    def session(): (SparkSession, Double) = {
      if (spark != null) return (spark, 0.0)
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(Master)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", root.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      (spark, (System.nanoTime() - t0) / 1e9)
    }
    val result = a("workload") match {
      case "many_keys" =>
        val r = new StreamBench(StreamSpec.ManyKeys, seed, seconds, root, tracing, inject).run(session)
        // a traced run also measures the queries layer: the streaming gates
        a.get("tables").fold(r) { t =>
          val g = new GateBench(root, Paths.get(t), tracing).run(session)
          r.copy(layers = r.layers ++ g.layers.filter(_._1.startsWith("gate.")),
            record = r.record ++ Map("gate_sweep" -> g.record.toMap),
            trace = r.trace ++ Map("gate_spans" -> g.trace.getOrElse("spans", Nil)))
        }
      case "drift_adapt" => new StreamBench(StreamSpec.DriftAdapt, seed, seconds, root, tracing, inject).run(session)
      case w             => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val env = Env(Master, sys.props.getOrElse("perfbench.heap", ""), Env.calibrate(spark))
    spark.stop()
    Files.writeString(root.resolve("result.json"), Json.render(
      "correct" -> result.correct,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "e2e" -> result.e2e.toMap,
      "layers" -> result.layers.toMap,
      "record" -> (result.record.toMap ++ env.stamp(seed)),
      "trace" -> result.trace.toMap))
  }
}
