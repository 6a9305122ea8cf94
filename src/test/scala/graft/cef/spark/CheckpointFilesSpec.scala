package graft.cef.spark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.cef.{Compiler, KeyedCases, KeyedEv}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The checkpoint contract of [[CheckpointFiles]] (Structured Streaming:
  * a file becomes visible only whole, by an atomic rename; an existing
  * file is never overwritten unless asked) and how the keyed stream
  * selects it.
  */
class CheckpointFilesSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("checkpoint-files-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("ckpt-files")
    try body(dir)
    finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  private def manager(dir: JPath) = new CheckpointFiles(new Path(dir.toUri), new Configuration())
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
  private def read(f: JPath): String = new String(Files.readAllBytes(f), UTF_8)

  "a file: checkpoint" should "go to the java.nio manager" in withDir { dir =>
    manager(dir).underlying shouldBe a[CheckpointFiles.Local]
    manager(dir).isLocal shouldBe true
  }

  "a write cancelled halfway" should "leave no visible file and no temp file" in withDir { dir =>
    val out = manager(dir).createAtomic(new Path(dir.toUri.toString, "0"), overwriteIfPossible = false)
    out.write("half a batch".getBytes(UTF_8))
    out.flush()
    names(dir) should have size 1 // the temp file only
    names(dir) should not contain "0"
    out.cancel()
    names(dir) shouldBe empty
  }

  "createAtomic without overwrite" should "fail on an existing file and leave it intact" in withDir { dir =>
    val m = manager(dir)
    val target = new Path(dir.toUri.toString, "0")
    val first = m.createAtomic(target, overwriteIfPossible = false)
    first.write("first".getBytes(UTF_8))
    first.close()
    val second = m.createAtomic(target, overwriteIfPossible = false)
    second.write("second".getBytes(UTF_8))
    a[FileAlreadyExistsException] should be thrownBy second.close()
    read(dir.resolve("0")) shouldBe "first"
    names(dir) shouldBe Set("0")
  }

  "createAtomic with overwrite" should "replace the file atomically" in withDir { dir =>
    val m = manager(dir)
    val target = new Path(dir.toUri.toString, "state.delta")
    Files.write(dir.resolve("state.delta"), "old".getBytes(UTF_8))
    Files.write(dir.resolve(".state.delta.crc"), Array[Byte](1, 2, 3)) // a stale Hadoop checksum
    val out = m.createAtomic(target, overwriteIfPossible = true)
    out.write("new".getBytes(UTF_8))
    out.flush()
    read(dir.resolve("state.delta")) shouldBe "old" // not visible before close
    out.close()
    read(dir.resolve("state.delta")) shouldBe "new"
    names(dir) shouldBe Set("state.delta")
    val in = m.open(target)
    try new String(in.readAllBytes(), UTF_8) shouldBe "new" finally in.close()
  }

  "a non-file: checkpoint" should "get Spark's FileContext manager" in {
    // constructing the manager resolves the scheme's client; nothing connects
    val m = new CheckpointFiles(new Path("hdfs://localhost:1/ckpt"), new Configuration())
    m.underlying shouldBe a[FileContextBasedCheckpointFileManager]
  }

  "the keyed stream" should "select the manager when the session names none, and run on it" in
    withDir { dir =>
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      spark.conf.unset(CheckpointFiles.Key)
      val mem = MemoryStream[KeyedEv]
      val q = Stream.detections(KeyedCases.narrow(mem.toDF()), KeyedCases.pDet).writeStream
        .format("memory").queryName("ckpt_files_sink").outputMode("append")
        .option("checkpointLocation", dir.toString)
        .start()
      spark.conf.get(CheckpointFiles.Key) shouldBe classOf[CheckpointFiles].getName
      try KeyedCases.events.grouped(120).foreach { c => mem.addData(c); q.processAllAvailable() }
      finally { q.stop(); spark.catalog.dropTempView("ckpt_files_sink") }
      val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      files should contain allOf ("0", "1", "metadata")
      // Hadoop's checksummed writers would have left hidden .crc files (Spark's
      // own state checksums are `<file>.crc`); the temp files of an atomic
      // write never outlive it
      files.filter(n => n.startsWith(".") && (n.endsWith(".crc") || n.endsWith(".tmp"))) shouldBe empty
    }

  it should "keep a manager the session chose" in {
    val own = classOf[FileSystemBasedCheckpointFileManager].getName
    spark.conf.set(CheckpointFiles.Key, own)
    try {
      val cp = Compiler.compile(";(IsEventTypePredicate(a),IsEventTypePredicate(b))")
      Stream.detections(KeyedCases.narrow(spark.createDataFrame(Seq.empty[KeyedEv])), cp)
      spark.conf.get(CheckpointFiles.Key) shouldBe own
      CheckpointFiles.setting(spark) shouldBe None // the streaming-gate scaffold keeps it too
    } finally spark.conf.unset(CheckpointFiles.Key)
  }
}
