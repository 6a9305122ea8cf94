package graft.cef

import graft.cef.spark.{Detect, Stream}
import graft.queries.StreamScaffold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryListener, StreamingQueryProgress}
import scala.util.Random

/** Structured-streaming throughput grid (VERDICT r12 item 2): where do
  * the microseconds go between the ~14 M ev/s in-JVM engine loop
  * (ThroughputSpec) and the ~0.35 M ev/s steady state the real SS path
  * sustains (StreamEngineThroughputSpec)? Measures, per config, the
  * steady-state rate of ONE large micro-batch after two warm-up batches,
  * replayed through the gates' own scaffold (`StreamScaffold.cached`
  * slice files, `StreamScaffold.run` with its conf scoping — 4 shuffle
  * partitions — memory sink and sink drain):
  *
  *   stage ladder (attribution): no-op state (narrow tuple) → +CEvent
  *     encode → full detections (Dataset[CEvent], then EventStream)
  *   store grid: HDFS-backed vs RocksDB vs RocksDB+changelog
  *   sizing grid: batch rows {1M,4M} × scan splits {default,16MB}
  *
  * SCALE.md's round-13 table was measured with hand-built slices at 8 and
  * 32 shuffle partitions, before this probe ran on the scaffold. Usage
  * (on `local[SPARK_GRAFT_CPUS]`, see `graft.Runner.session`):
  *   SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.cef.StreamTputGridMain 1000000"
  */
object StreamTputGridMain {
  private val Keys = 32
  private val WarmRows = 50000

  def main(args: Array[String]): Unit = {
    val mainRows = args.headOption.fold(1000000)(_.toInt)
    val spark = graft.Runner.session()

    val cp = Compiler.compile(
      ";(IsEventTypePredicate(a),+(IsEventTypePredicate(b),IsEventTypePredicate(c)),GTPredicate(value,100.0))")

    def eventsDf(from: Int, n: Int): DataFrame = {
      val types = Array("a", "b", "c", "d")
      import spark.implicits._
      spark.range(from, from + n).map { i =>
        val r = new Random(i)
        (i, types(r.nextInt(4)), i, s"u${i % Keys}", r.nextInt(200).toDouble)
      }.toDF("event_id", "event_type", "ts", "user_id", "value")
    }

    /** Two warm-up slices of WarmRows, then one of `rows`: the slice
      * set is built by the scaffold's own publish, keyed per size.
      */
    def slices(rows: Int): StreamScaffold.SliceSet = {
      val base = StreamScaffold.track(spark, StreamScaffold.newScaffoldDir("graft-stream-src"))
      StreamScaffold.cached(spark, base.toString, s"tput-grid-$rows")(
        eventsDf(0, 2 * WarmRows + rows).withColumn(StreamScaffold.SliceCol,
          when(col("event_id") < WarmRows, lit(1))
            .when(col("event_id") < 2 * WarmRows, lit(2)).otherwise(lit(3))))
    }

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def runOnce(set: StreamScaffold.SliceSet, confs: Map[String, String])(
        transform: DataFrame => DataFrame): (Long, Double) = {
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        progress.clear()
        StreamScaffold.run(spark, set, "grid")(transform)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val last = progress.asScala.toSeq.filter(_.numInputRows > 0).last
        if (sys.env.contains("GRID_DURATIONS")) {
          val dm = last.durationMs.asScala.toSeq.sortBy(-_._2.toLong)
            .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
          println(s"GRIDDUR $dm")
        }
        (last.numInputRows, last.durationMs.get("triggerExecution").toDouble / 1000.0)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    def best(label: String, set: StreamScaffold.SliceSet,
        confs: Map[String, String], attempts: Int = 2)(
        transform: DataFrame => DataFrame): Double = {
      var bestRate = 0.0
      for (_ <- 1 to attempts) {
        val (rows, secs) = runOnce(set, confs)(transform)
        bestRate = math.max(bestRate, rows / secs)
      }
      println(f"GRID $label%-42s ${bestRate / 1e6}%6.2f M ev/s")
      bestRate
    }

    def toEvents(df: DataFrame) =
      Detect.toEvents(df, idCol = "event_id", typeCol = "event_type",
        tsCol = "ts", partitionCol = "user_id", numAttrs = Seq("value"))

    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)

    // no-op keyed-stateful op: same shuffle + sort + state-commit shape
    // as detections, zero engine work — isolates the plumbing share
    def noopStateful(df: DataFrame) =
      toEvents(df).groupByKey(_.partition)
        .flatMapGroupsWithState[Long, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key: String, rows: Iterator[CEvent], state: GroupState[Long]) =>
            var n = state.getOption.getOrElse(0L)
            rows.foreach(_ => n += 1)
            state.update(n)
            Iterator.single((key, n))
        }

    // the same no-op shape WITHOUT the CEvent attr maps: a narrow tuple
    // encode — isolates what the per-row Map construction costs
    def noopNarrow(df: DataFrame) = {
      implicit val rowEnc: Encoder[(Long, String, Long, String, Double)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
          Encoders.scalaLong, Encoders.STRING, Encoders.scalaDouble)
      df.selectExpr("cast(event_id as long)", "event_type",
          "cast(ts as long)", "user_id", "value")
        .as[(Long, String, Long, String, Double)]
        .groupByKey(_._4)
        .flatMapGroupsWithState[Long, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key: String, rows: Iterator[(Long, String, Long, String, Double)],
           state: GroupState[Long]) =>
            var n = state.getOption.getOrElse(0L)
            rows.foreach(_ => n += 1)
            state.update(n)
            Iterator.single((key, n))
        }
    }

    // r14 probe (VERDICT item 2): the partition key is the last
    // non-primitive in the keyed shuffle — does swapping the STRING
    // key for a hashed LONG move the plumbing ceiling? Same no-op
    // state shape as noopNarrow, only the groupByKey key type differs,
    // so the delta between the two rows IS the key-type cost (and an
    // upper bound on what a hashed-key detections path could gain).
    def noopNarrowLongKey(df: DataFrame) = {
      implicit val rowEnc: Encoder[(Long, String, Long, String, Double)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
          Encoders.scalaLong, Encoders.STRING, Encoders.scalaDouble)
      implicit val outEnc2: Encoder[(Long, Long)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      df.selectExpr("cast(event_id as long)", "event_type",
          "cast(ts as long)", "user_id", "value")
        .as[(Long, String, Long, String, Double)]
        .groupByKey { r => // FNV-1a 64, zero-alloc
          val s = r._4; var h = -3750763034362895579L; var i = 0
          while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
          h
        }
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key: Long, rows: Iterator[(Long, String, Long, String, Double)],
           state: GroupState[Long]) =>
            var n = state.getOption.getOrElse(0L)
            rows.foreach(_ => n += 1)
            state.update(n)
            Iterator.single((key, n))
        }
    }

    val src1m = slices(mainRows)
    val hdfs = Map.empty[String, String]
    val rocks = Map("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocksCl = rocks + ("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val split16m = Map("spark.sql.files.maxPartitionBytes" -> (16L * 1024 * 1024).toString)

    def toES(df: DataFrame) =
      Detect.toEventStream(df, idCol = "event_id", typeCol = "event_type",
        tsCol = "ts", partitionCol = "user_id", numAttrs = Seq("value"))

    println(s"=== stage ladder (${spark.sparkContext.master}, ${mainRows / 1000000}M batch, hdfs store; all stages emit tiny output)")
    best("noop stateful, narrow tuple (no maps)", src1m, hdfs)(df => noopNarrow(df).toDF())
    best("noop stateful, CEvent (attr maps)", src1m, hdfs)(df => noopStateful(df).toDF())
    best("full detections (Dataset[CEvent] compat)", src1m, hdfs)(df => Stream.detections(toEvents(df), cp).toDF())
    best("full detections (EventStream narrow)", src1m, hdfs)(df => Stream.detections(toES(df), cp).toDF())

    println(s"=== state store grid (detections, EventStream)")
    best("detections / rocksdb", src1m, rocks)(df => Stream.detections(toES(df), cp).toDF())
    best("detections / rocksdb+changelog", src1m, rocksCl)(df => Stream.detections(toES(df), cp).toDF())

    println(s"=== sizing grid (detections, EventStream)")
    best("detections / 16MB scan splits", src1m, split16m)(df => Stream.detections(toES(df), cp).toDF())
    val src4m = slices(4 * mainRows)
    best("detections / 4M batch", src4m, hdfs)(df => Stream.detections(toES(df), cp).toDF())
    best("detections / 4M batch + 16MB splits", src4m, split16m)(df => Stream.detections(toES(df), cp).toDF())
    best("detections CEvent / 4M + 16MB splits", src4m, split16m)(df => Stream.detections(toEvents(df), cp).toDF())
    best("noop narrow / 4M + 16MB splits", src4m, split16m)(df => noopNarrow(df).toDF())
    best("noop narrow LONG key / 4M + 16MB", src4m, split16m)(df => noopNarrowLongKey(df).toDF())

    spark.stop()
  }
}
