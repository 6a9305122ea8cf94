package graft.cef

import graft.cef.spark.{Detect, Stream}
import graft.queries.StreamScaffold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Where does the per-QUERY streaming-scaffold constant go? (VERDICT r14
  * item 4: cef37/38/40/41 + p50 ≈ 16 s of the 163 s sweep is "forced
  * multi-batch state-store commits" — is it the store commits, the
  * per-batch driver re-planning, the no-data finalization batch, or the
  * sink drain?)
  *
  * Replays the gates' own scaffold — the cached event slice set the cef
  * gates read (`Cef.eventSlices`) through `StreamScaffold.run`, with its
  * conf scoping, memory sink and sink drain — over sf0.1 events for a
  * ladder of transforms:
  *
  *   passthrough — stateless projection: planning + source listing +
  *                 sink only (no shuffle, no state store)
  *   noopstate   — keyed count in GroupState: + shuffle + store commits
  *   detections  — the real SDFA runtime (cef22's transform)
  *
  * each with the trailing no-data batch on and off. Each cell runs 3
  * reps (rep 1 carries codegen/JIT); prints per-rep wall, batch count and
  * rows drained, and the last rep's phase durations.
  *
  * Usage (on `local[SPARK_GRAFT_CPUS]`, see `graft.Runner.session`):
  *   sbt "Test/runMain graft.cef.ScaffoldCostMain /root/testdata/sf0.1"
  */
object ScaffoldCostMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Runner.session()
    import spark.implicits._

    // built once, outside the timed cells, like Bench's slice warm-up
    val slices = graft.queries.Cef.eventSlices(spark, sfDir, late = false)
    val cp = Compiler.compile(
      "#(;(IsEventTypePredicate(error),IsEventTypePredicate(purchase)))")
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def cell(tag: String, noData: Boolean)(transform: DataFrame => DataFrame): Unit = {
      val reps = (1 to 3).map { _ =>
        progress.clear()
        val t0 = System.nanoTime()
        val out = StreamScaffold.run(spark, slices, "probe", "append", noData)(transform)
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        (wall, out.count(), progress.asScala.toList)
      }
      val w = reps.map(_._1)
      println(f"CELL $tag%-12s noData=$noData%-5s " +
        f"reps=${w.map(x => f"$x%6.2f").mkString(" ")} s  " +
        f"batches=${reps.map(_._3.size).mkString("/")} rows=${reps.last._2}")
      // phase attribution from the engine's own progress metrics
      // (last rep, summed over batches): where the per-batch constant is
      val agg = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      reps.last._3.foreach { p =>
        p.durationMs.forEach((k, v) => agg(k) = agg.getOrElse(k, 0L) + v)
      }
      println("  durMs " + agg.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }

    def detect(raw: DataFrame) =
      Stream.detections(Detect.toEventStream(raw,
        idCol = "event_id", typeCol = "event_type", tsCol = "ts",
        partitionCol = "user_id", numAttrs = Seq("value")), cp).toDF()

    def noop(raw: DataFrame) = {
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      raw.select(col("user_id").cast("string").as("k"), col("event_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (k: String, it: Iterator[(String, Long)], st: GroupState[Long]) =>
            val n = st.getOption.getOrElse(0L) + it.size
            st.update(n)
            Iterator((k, n))
        }.toDF("k", "n")
    }

    def pass(raw: DataFrame) = raw.select("event_id", "user_id", "ts")

    for (noData <- Seq(true, false)) {
      cell("passthrough", noData)(pass)
      cell("noopstate", noData)(noop)
      cell("detections", noData)(detect)
    }
    spark.stop()
  }
}
