package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every main shares: the session it runs on and the query sweep.
  *
  *  - [[cpus]]: the core count, from `SPARK_GRAFT_CPUS` (default 4) — the
  *    one session setting a main reads.
  *  - [[session]]: sweeps stale streaming-scaffold dirs, then builds a
  *    `local[cpus]` session — or keeps the launcher's `spark.master`, as
  *    spark-submit's `--master` sets it — with `cpus` shuffle partitions,
  *    UTC, no UI and WARN logging. Settings Hadoop reads only when the
  *    session is built (its FileSystem cache ignores later conf) go here.
  *  - [[sweep]]: opens a sweep boundary, then lists every registered
  *    query by name — the order Bench times and Verify dumps.
  */
object Runner {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def session(cpus: Int = Runner.cpus): SparkSession = {
    // stale scaffold dirs from crashed earlier JVMs poison a run (the r12
    // contamination: ~30 leftover slice dirs uniformly ~2x-ed the
    // streaming family), so they go before anything is timed
    val swept = graft.queries.StreamScaffold.sweepStale()
    if (swept > 0) System.err.println(s"[runner] swept $swept stale scaffold dirs")
    val builder = SparkSession.builder()
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Start a sweep on `spark` (the session memo starts cold, so every
    * shared value is built once, by its first consumer) and return the
    * registered queries sorted by name.
    */
  def sweep(spark: SparkSession): Seq[(String, (SparkSession, String) => DataFrame)] = {
    graft.ops.Release.sweepStart(spark)
    SparkEntry.queries.toSeq.sortBy(_._1)
  }
}
