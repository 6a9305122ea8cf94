package graft.cef

import graft.cef.spark.{Detect, Stream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Where does the per-QUERY streaming-scaffold constant go? (VERDICT r14
  * item 4: cef37/38/40/41 + p50 ≈ 16 s of the 163 s sweep is "forced
  * multi-batch state-store commits" — is it the store commits, the
  * per-batch driver re-planning, the no-data finalization batch, or the
  * sink drain?)
  *
  * Replays the EXACT bench scaffold shape (3 ts-ordered slices,
  * maxFilesPerTrigger=1, AvailableNow, memory sink, shuffle partitions
  * scoped to 8) over sf0.1 events for a ladder of transforms:
  *
  *   passthrough — stateless projection: planning + source listing +
  *                 sink only (no shuffle, no state store)
  *   noopstate   — keyed count in GroupState: + shuffle + store commits
  *   detections  — the real SDFA runtime (cef22's transform)
  *
  * and a config grid: shuffle partitions {8,4}, noDataMicroBatches
  * {on,off}. Each cell runs 3 reps (rep 1 carries codegen/JIT); prints
  * per-rep wall, batch count (recentProgress), and rows drained.
  *
  * Usage: scripts/run_main.sh with test-classes on the cp, or
  *   sbt "Test/runMain graft.cef.ScaffoldCostMain /root/testdata/sf0.1"
  */
object ScaffoldCostMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .appName("scaffold-cost")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ---- slice build: same shape as StreamScaffold.slices (3 ts-ordered
    // files with increasing mtimes), built once and reused by every cell
    val srcDir = graft.queries.StreamScaffold.track(spark,
      graft.queries.StreamScaffold.newScaffoldDir("graft-stream-src"))
    val tmp = graft.queries.StreamScaffold.newScaffoldDir("graft-stream-slices")
    val raw0 = spark.read.parquet(s"$sfDir/events.parquet")
    val tsCol = raw0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => (col("ts") / 1000L).cast("timestamp")
      case _ => col("ts").cast("timestamp")
    }
    val ordered = raw0.withColumn("ts", tsCol)
      .withColumn("__slice", ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    val out = tmp.resolve("out")
    ordered.coalesce(1).write.mode("overwrite").partitionBy("__slice").parquet(out.toString)
    import scala.jdk.CollectionConverters._
    for (i <- 1 to 3) {
      val part = java.nio.file.Files.list(out.resolve(s"__slice=$i")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(f"slice-$i%03d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + i * 1000L))
    }
    val schema = spark.read.parquet(srcDir.toString).schema
    val cp = Compiler.compile(
      "#(;(IsEventTypePredicate(error),IsEventTypePredicate(purchase)))")
    val runs = new java.util.concurrent.atomic.AtomicLong(0L)

    def cell(tag: String, parts: String, noData: Boolean)(
        transform: DataFrame => DataFrame): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
      val walls = (1 to 3).map { _ =>
        val ckpt = graft.queries.StreamScaffold.newCheckpointDir(spark, "probe")
        val sink = s"probe_sink_${runs.incrementAndGet()}"
        val t0 = System.nanoTime()
        val q = transform(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(srcDir.toString))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val rows = spark.table(sink).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val batches = q.recentProgress.length
        spark.catalog.dropTempView(sink)
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
        graft.queries.StreamScaffold.untrack(ckpt)
        (wall, batches, rows, q.recentProgress.toSeq)
      }
      val w = walls.map(_._1)
      println(f"CELL $tag%-12s parts=$parts%-2s noData=$noData%-5s " +
        f"reps=${w.map(x => f"$x%6.2f").mkString(" ")} s  " +
        f"batches=${walls.map(_._2).mkString("/")} rows=${walls.last._3}")
      // phase attribution from the engine's own progress metrics
      // (last rep, summed over batches): where the per-batch constant is
      val agg = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      walls.last._4.foreach { p =>
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

    for (noData <- Seq(true, false); parts <- Seq("8", "4")) {
      cell("passthrough", parts, noData)(pass)
      cell("noopstate", parts, noData)(noop)
      cell("detections", parts, noData)(detect)
    }
    graft.queries.StreamScaffold.cleanAll()
    spark.stop()
  }
}
