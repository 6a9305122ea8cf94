package graft

import graft.cef._
import graft.cef.adapt.ModelStore
import graft.cef.spark.{Detect, Train}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Batch CLI over the engine — the counterpart of the reference's WayebCLI
  * (ui/WayebCLI.scala:57, command dispatch :338-342; pipelines traced in
  * SURVEY.md §3.2). Commands:
  *
  *   compile   --pattern <sre> [--declarations <decl>]
  *             print the compiled automaton's shape
  *   recognition --pattern <sre> --input <path> --out <dir> [--mode det|match]
  *             batch detection over events parquet (events-table schema)
  *   learnSpst --pattern <sre> --input <path> --order N [--pMin --gamma] --out <file>
  *             distributed SPST training, Java-serialized model artifact
  *   mle       --pattern <sre> --input <path> [--order N] --out <dir>
  *             MLE transition matrix (optionally on the disambiguated SDFA)
  *   forecasting --pattern <sre> --model <file> --input <path> --out <dir>
  *             [--threshold --spread --horizon]
  *             SPST CLASSIFY_NEXTK forecasts + detections
  *
  * It runs on [[Runner.session]]: `local[SPARK_GRAFT_CPUS]`, or the
  * cluster given the Spark way (`spark-submit --master <url>`).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val (cmd, opts) = parse(args)
    val spark = Runner.session()
    try run(spark, cmd, opts) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, cmd: String, opts: Map[String, String]): Unit = {
    def pattern = opts("pattern")
    def decls = opts.getOrElse("declarations", "")
    def events: Dataset[CEvent] = {
      val df = spark.read.parquet(opts("input"))
      Detect.toEvents(df, "event_id", "event_type", "ts", "user_id", Seq("value"))
    }

    cmd match {
      case "compile" =>
        val cp = Compiler.compile(pattern, decls)
        println(s"pattern: $pattern")
        println(s"alphabet: ${cp.iso.size} minterms over ${cp.iso.predicates.size} predicates")
        println(s"snfa: ${cp.snfa.states.size} states, ${cp.snfa.trans.size} transitions")
        println(s"sdfa: ${cp.sdfa.nStates} states, finals ${cp.sdfa.finals.toList.sorted.mkString(",")}")

      case "recognition" =>
        val cp = Compiler.compile(pattern, decls)
        val out = opts.getOrElse("mode", "det") match {
          case "match" => Detect.matches(events, cp).toDF()
          case _       => Detect.detections(events, cp).toDF()
        }
        out.write.mode("overwrite").parquet(opts("out"))
        println(s"wrote ${spark.read.parquet(opts("out")).count()} rows to ${opts("out")}")

      case "learnSpst" =>
        val cp = Compiler.compile(pattern, decls)
        val spst = Train.learnSpst(events, cp,
          order = opts.getOrElse("order", "2").toInt,
          pMin = opts.getOrElse("pMin", "0.001").toDouble,
          gammaMin = opts.getOrElse("gamma", "0.001").toDouble)
        ModelStore.save(spst, opts("out"))
        println(s"saved SPST (order ${spst.order}, ${spst.pst.nodes.size} PST nodes) to ${opts("out")}")

      case "mle" =>
        val cp = Compiler.compile(pattern, decls)
        val order = opts.getOrElse("order", "0").toInt
        val (mc, dis) =
          if (order == 0)
            (Train.mleMarkovChain(events, cp),
              Disambiguator.disambiguate(cp.sdfa, 0))
          else Train.mleMarkovChain(events, cp, order)
        import spark.implicits._
        val rows = for {
          i <- 0 until mc.nStates; j <- 0 until mc.nStates
          if mc.probs(i)(j) > 0
        } yield (i, j, mc.probs(i)(j))
        rows.toDF("from", "to", "p").write.mode("overwrite").parquet(opts("out"))
        println(s"wrote MLE matrix (${mc.nStates} states, order $order) to ${opts("out")}")

      case "forecasting" =>
        val cp = Compiler.compile(pattern, decls)
        val spst = ModelStore.load(opts("model"))
        val fc = Train.forecasts(events, cp, spst, ForecastMethod.ClassifyNextK,
          threshold = opts.getOrElse("threshold", "0.5").toDouble,
          spread = opts.getOrElse("spread", "10").toInt,
          horizon = opts.getOrElse("horizon", "20").toInt)
        fc.toDF().write.mode("overwrite").parquet(opts("out"))
        println(s"wrote ${spark.read.parquet(opts("out")).count()} forecasts to ${opts("out")}")

      case other =>
        throw new IllegalArgumentException(
          s"unknown command '$other' (compile|recognition|learnSpst|mle|forecasting)")
    }
  }

  private def parse(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty, "usage: Cli <command> [--key value ...]")
    val opts = args.tail.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    (args.head, opts)
  }
}
