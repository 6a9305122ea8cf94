package graft.queries

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, ntile}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Pins the slice sets the streaming gates replay (StreamScaffold's
  * builder and reader):
  *
  *  - cef40's LATE slice set is DERIVED from the cached base slice files
  *    (Cef.eventSlices) instead of a second global-window build; it must
  *    equal the direct build — `lateShift` over the ntile — file for
  *    file and row for row (the file source replays files as written),
  *    also when Spark splits a slice file into several read partitions;
  *  - the base event slices and the document slices are exactly
  *    `ntile(3) OVER (ORDER BY ts, event_id)` / `OVER (ORDER BY doc_id)`,
  *    the rule the DuckDB oracles replay.
  */
class LateSliceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("late-slice-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tablePath(sfDir: String, table: String): String =
    java.nio.file.Paths.get(s"$sfDir/$table.parquet").toAbsolutePath.normalize.toString

  private def eventsRead(path: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(spark, spark.read.parquet(path))
  }

  /** The direct late build: the hold-back rule applied to the global
    * ntile, published through the scaffold under its own cache key.
    */
  private def directLate(path: String): StreamScaffold.SliceSet =
    StreamScaffold.cached(spark, path, s"$path#direct-late")(
      eventsRead(path).withColumn(StreamScaffold.SliceCol, Cef.lateShift(
        ntile(StreamScaffold.Slices).over(Window.orderBy(col("ts"), col("event_id"))))))

  /** A slice file's rows in file order (each file is far below the
    * default split size, so one read partition).
    */
  private def fileRows(set: StreamScaffold.SliceSet, i: Int): Seq[String] =
    spark.read.parquet(set.file(i).toString).collect().map(_.toString).toSeq

  private def sliceFiles(set: StreamScaffold.SliceSet): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(set.dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
  }

  private def sameFiles(got: StreamScaffold.SliceSet, want: StreamScaffold.SliceSet): Unit = {
    sliceFiles(got) shouldBe sliceFiles(want)
    sliceFiles(got) should have size StreamScaffold.Slices.toLong
    for (i <- 1 to StreamScaffold.Slices) withClue(s"slice $i: ") {
      fileRows(got, i) shouldBe fileRows(want, i)
    }
  }

  "deriveLateFrom" should "reproduce the direct late build file-for-file, row-for-row" in {
    StreamScaffold.cleanAll()
    val dir = sfDirs.head
    sameFiles(Cef.eventSlices(spark, dir, late = true), directLate(tablePath(dir, "events")))
  }

  it should "keep intra-slice row order when Spark splits a slice file" in {
    StreamScaffold.cleanAll()
    val dir = sfDirs.last
    // small row groups and a small split size: every slice file spans
    // several row groups and reads back as several non-empty partitions
    val scoped = Seq("parquet.block.size" -> "4096",
      "spark.sql.files.maxPartitionBytes" -> "16384")
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    val (derived, direct) =
      try {
        val base = Cef.eventSlices(spark, dir, late = false)
        val filled = spark.read.parquet(base.file(1).toString).rdd
          .mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
        withClue("slice-001 must split into several non-empty read partitions: ") {
          filled should be > 1
        }
        (Cef.eventSlices(spark, dir, late = true), directLate(tablePath(dir, "events")))
      } finally scoped.foreach { case (k, _) => spark.conf.unset(k) }
    sameFiles(derived, direct)
  }

  "the slice builder" should "lay out events by ntile(3) over (ts, event_id) and documents over doc_id" in {
    for (dir <- sfDirs) withClue(s"$dir: ") {
      StreamScaffold.cleanAll()
      eventsRead(tablePath(dir, "events")).createOrReplaceTempView("ev")
      spark.read.parquet(tablePath(dir, "documents")).createOrReplaceTempView("docs")
      val cases = Seq(
        ("events", Cef.eventSlices(spark, dir, late = false), "ev", "ts, event_id"),
        ("documents", Pipeline.docSlices(spark, dir), "docs", "doc_id"))
      for ((table, set, view, order) <- cases) withClue(s"$table: ") {
        sliceFiles(set) shouldBe
          (1 to StreamScaffold.Slices).map(i => f"slice-$i%03d.parquet").toSet
        val ref = spark.sql(
          s"SELECT *, ntile(3) OVER (ORDER BY $order) AS sl FROM $view")
        for (i <- 1 to StreamScaffold.Slices) withClue(s"slice $i: ") {
          val want = ref.filter(col("sl") === i).drop("sl")
            .orderBy(order.split(", ").toSeq.map(col): _*)
            .collect().map(_.toString).toSeq
          want should not be empty
          fileRows(set, i) shouldBe want
        }
      }
    }
  }
}
