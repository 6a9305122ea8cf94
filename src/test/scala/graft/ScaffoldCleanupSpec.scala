package graft

import graft.queries.StreamScaffold
import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import java.nio.file.{Files, Path, Paths}

/** The r12 contamination fix (VERDICT r12 item 1): streaming-scaffold
  * temp dirs must not outlive their SparkSession. Before this janitor,
  * back-to-back driver runs accumulated ~30 `/tmp/graft-stream-src*`
  * dirs whose tmpfs pressure uniformly ~2x-ed the streaming family in
  * the official BENCH_r12 (445.5 s vs a true 247.2 s).
  *
  * Asserted here against the REAL session-stop path: run a cef event
  * stream and the p50 doc stream, record the scaffold dirs on disk (an
  * events and a documents slice set among them),
  * `spark.stop()`, and require every one gone — then require a fresh
  * session rebuilds cleanly (the slice caches were invalidated, not
  * stranded on dead paths).
  */
class ScaffoldCleanupSpec extends AnyFlatSpec with Matchers {

  private val sfDir = "/root/testdata/sf0.001"

  private def newSession(): SparkSession = SparkSession.builder()
    .master("local[4]").appName("scaffold-cleanup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def scaffoldDirs(): Set[Path] = {
    import scala.jdk.CollectionConverters._
    // all janitor bases (tmpfs-preferred since r16), not just java.io.tmpdir
    StreamScaffold.bases.filter(Files.isDirectory(_)).flatMap { base =>
      Files.list(base).iterator().asScala.filter { p =>
        StreamScaffold.Prefixes.exists(p.getFileName.toString.startsWith)
      }.toSeq
    }.toSet
  }

  "StreamScaffold" should "delete every scaffold dir when the session stops, then rebuild cleanly" in {
    val s1 = newSession()
    SparkEntry.queries("cef22_streaming")(s1, sfDir).count() should be > 0L
    SparkEntry.queries("p50_dd_stream_neardup")(s1, sfDir).count() should be > 0L
    val live = scaffoldDirs()
    // one slice set per table, named after it (StreamScaffold.cached)
    live.count(_.getFileName.toString.startsWith("graft-stream-src-events-")) should be >= 1
    live.count(_.getFileName.toString.startsWith("graft-stream-src-documents-")) should be >= 1
    s1.stop()
    // the listener bus drains on stop(), but allow a short grace window
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (live.exists(Files.exists(_)) && System.nanoTime() < deadline)
      Thread.sleep(50)
    val leftover = live.filter(Files.exists(_))
    withClue(s"scaffold dirs survived session stop: $leftover") {
      leftover shouldBe empty
    }

    // fresh session: the slice caches must have been invalidated with
    // their dirs, so the gates rebuild instead of reading a dead path
    val s2 = newSession()
    try {
      SparkEntry.queries("cef22_streaming")(s2, sfDir).count() should be > 0L
      scaffoldDirs().count(
        _.getFileName.toString.startsWith("graft-stream-src-events-")) should be >= 1
    } finally s2.stop()
  }

  it should "sweep only dirs with a DEAD owner (or unmarked pre-JVM ones), never live-owned ones" in {
    // backdate relative to the JVM's actual start (r13 advice: a fixed
    // now-1h offset stopped predating JVM start once the test JVM had
    // been up an hour — a latent flake in long suite runs)
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val preJvm = java.nio.file.attribute.FileTime.fromMillis(jvmStart - 60000L)

    // unmarked + pre-JVM mtime → swept by the legacy fallback rule
    val unmarkedStale = Files.createTempDirectory("graft-stream-src")
    Files.createFile(unmarkedStale.resolve("slice-001.parquet"))
    Files.setLastModifiedTime(unmarkedStale, preJvm)
    // unmarked + made now by this JVM → kept by the same rule
    val fresh = Files.createTempDirectory("graft-stream-src")
    // marker naming a LIVE process: even with a pre-JVM mtime this is a
    // concurrently RUNNING sibling's dir — the exact case the old
    // mtime rule got wrong — and must survive. (Our own pid stands in
    // for the sibling's: both are "a live process that isn't tracked
    // by this sweep".)
    val liveOwned = StreamScaffold.newScaffoldDir("graft-stream-src")
    Files.setLastModifiedTime(liveOwned, preJvm)
    // marker naming a DEAD pid, mtime NEWER than JVM start: a crashed
    // sibling that started after us — swept despite the fresh mtime
    val deadOwned = Files.createTempDirectory("graft-stream-src")
    val deadPid = Iterator.iterate(999999L)(_ + 7919)
      .find(p => ProcessHandle.of(p).isEmpty).get
    Files.writeString(deadOwned.resolve(StreamScaffold.OwnerMarker), deadPid.toString)
    try {
      StreamScaffold.sweepStale()
      Files.exists(unmarkedStale) shouldBe false
      Files.exists(fresh) shouldBe true
      Files.exists(liveOwned) shouldBe true
      Files.exists(deadOwned) shouldBe false
      // non-scaffold names are never touched regardless of age
      val other = Files.createTempDirectory("unrelated-tmp")
      Files.setLastModifiedTime(other, preJvm)
      try { StreamScaffold.sweepStale(); Files.exists(other) shouldBe true }
      finally Files.deleteIfExists(other)
    } finally {
      Seq(unmarkedStale.resolve("slice-001.parquet"), unmarkedStale,
        liveOwned.resolve(StreamScaffold.OwnerMarker), liveOwned,
        deadOwned.resolve(StreamScaffold.OwnerMarker), deadOwned, fresh)
        .foreach(Files.deleteIfExists(_))
    }
  }

  it should "refuse scaffold prefixes the sweep cannot see" in {
    an[IllegalArgumentException] should be thrownBy
      StreamScaffold.newScaffoldDir("graft-rogue-prefix")
    // every prefix the probe mains use is registered (the r13 nit:
    // BatchNarrowProbeMain's dir was invisible to the sweep)
    StreamScaffold.Prefixes should contain("graft-batchprobe")
  }
}
