package graft.cef.adapt

import graft.cef._
import graft.cef.spark.Inference
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** Adaptation control-plane specs (SURVEY.md §2.9 O1-O8): Observer decision
  * rules, Controller phase machine, ask/tell optimizer contract, Collector
  * bucket rotation + GC, Factory train/opt cycle, and the full closed loop
  * Observer → Controller → Factory → play(best model).
  */
class AdaptSpec extends AnyFlatSpec with Matchers {

  private def report(ts: Long, mcc: Double, active: Boolean = true): Report = {
    val batch =
      if (active) MetricGroup(10, 10, 3, 2, 0.7, 0.8, 0.75, mcc)
      else MetricGroup(0, 5, 0, 0, 0, 0, 0, 0)
    Report(ts, "GLOBAL", batch, batch)
  }

  "the Observer" should "emit optimize when MCC drops below the low-score threshold" in {
    val obs = new Observer(graceInit = 2)
    obs.onReport(report(1, 0.8)) shouldBe None
    val ins = obs.onReport(report(2, 0.1))
    ins.map(_.instructionType) shouldBe Some("optimize")
    ins.get.metrics("f_val") shouldBe -0.1 +- 1e-12
  }

  it should "emit optimize on a major drop and retrain on a minor drop" in {
    val obs = new Observer(graceInit = 0)
    obs.onReport(report(1, 0.9)) shouldBe None
    obs.onReport(report(2, 0.82)).map(_.instructionType) shouldBe Some("retrain") // drop 0.08
    obs.onReport(report(3, 0.60)).map(_.instructionType) shouldBe Some("optimize") // drop 0.22
  }

  it should "skip silent windows and honor the grace period" in {
    val obs = new Observer(graceInit = 2)
    obs.onReport(report(1, 0.9)) shouldBe None
    obs.onReport(report(2, 0.1)).map(_.instructionType) shouldBe Some("optimize")
    // grace: next two active reports ignored even though score is bad
    obs.onReport(report(3, 0.05)) shouldBe None
    obs.onReport(report(4, 0.05)) shouldBe None
    // silent windows don't trigger anything
    obs.onReport(report(5, 0.0, active = false)) shouldBe None
    // grace over → fires again
    obs.onReport(report(6, 0.05)).map(_.instructionType) shouldBe Some("optimize")
  }

  "the ask/tell optimizer" should "propose within the space and track the argmin" in {
    val opt = new AskTellOptimizer()
    val fvals = Seq(-0.3, -0.7, -0.5, -0.2, -0.9, -0.4, -0.6, -0.1, -0.8, -0.55)
    var i = 0
    var continue = true
    while (continue) {
      val p = opt.ask()
      p(0) should (be >= 0.001 and be <= 0.1)
      p(1) should (be >= 0.0 and be <= 0.005)
      continue = opt.tell(fvals(i))
      i += 1
    }
    i shouldBe 10
    val (bestI, bestObj, _) = opt.best
    bestI shouldBe 4 // argmin of fvals
    bestObj shouldBe -0.9
  }

  it should "be deterministic under the seed" in {
    val a = new AskTellOptimizer(seed = 42)
    val b = new AskTellOptimizer(seed = 42)
    (1 to 5).foreach { _ =>
      a.ask() shouldBe b.ask()
      a.tell(0.5); b.tell(0.5)
    }
  }

  "the Collector" should "rotate buckets, notify with lastK, and GC on ACK" in {
    val dir = Files.createTempDirectory("collector").toString
    val c = new Collector(dir, bucketSizeSec = 100L, lastK = 3)
    def ev(id: Long, ts: Long) = CEvent(id, "x", ts, "k", Map.empty, Map.empty)

    // bucket 0: ts 0-99, bucket 100: ts 100-199, …
    c.processBatch(Seq(ev(1, 10), ev(2, 50))) shouldBe Nil
    val n1 = c.processBatch(Seq(ev(3, 110)))
    n1.size shouldBe 1
    n1.head.bucketsRange shouldBe List(0L)
    val n2 = c.processBatch(Seq(ev(4, 210), ev(5, 350)))
    n2.size shouldBe 2
    n2(1).bucketsRange shouldBe List(0L, 100L, 200L)

    // files exist, and an ACK from bucket 200 onward deletes older ones
    Files.exists(java.nio.file.Paths.get(s"$dir/buckets/bucket_0")) shouldBe true
    val dropped = c.onAck(AssemblyAck(0, 0, List(200L, 300L)))
    dropped shouldBe Seq(0L, 100L)
    Files.exists(java.nio.file.Paths.get(s"$dir/buckets/bucket_0")) shouldBe false

    // round-trip: events written can be read back as a dataset
    val readBack = c.readDataset(DatasetNotification(0, s"$dir/buckets/bucket_", List(200L), 0, 0, 1))
    readBack.map(_.id) shouldBe Seq(4L)
  }

  it should "adopt a late bucket that was empty when current passed it" in {
    val dir = Files.createTempDirectory("collector-late").toString
    val c = new Collector(dir, bucketSizeSec = 100L, lastK = 5)
    def ev(id: Long, ts: Long) = CEvent(id, "x", ts, "k", Map.empty, Map.empty)

    // bucket 0 fills, then bucket 300 arrives (100 and 200 stay empty)
    c.processBatch(Seq(ev(1, 10)))
    c.processBatch(Seq(ev(2, 310)))
    // late events for the never-seen bucket 200: file written AND the
    // bucket joins history in order — not orphaned
    c.processBatch(Seq(ev(3, 210))) shouldBe Nil
    Files.exists(java.nio.file.Paths.get(s"$dir/buckets/bucket_200")) shouldBe true
    // next rotation's notification includes it, in ascending order
    val n = c.processBatch(Seq(ev(4, 410)))
    n.size shouldBe 1
    n.head.bucketsRange shouldBe List(0L, 200L, 300L)
    // and ACK GC can now delete its file
    c.onAck(AssemblyAck(0, 0, List(300L))) shouldBe Seq(0L, 200L)
    Files.exists(java.nio.file.Paths.get(s"$dir/buckets/bucket_200")) shouldBe false
  }

  "the full adaptation loop" should "pause, run 10 opt steps, finalise the argmin model, and play" in {
    val cp = Compiler.compile("#(;(IsEventTypePredicate(a),IsEventTypePredicate(b)))")
    val modelDir = Files.createTempDirectory("models").toString
    val factory = new Factory(cp, modelDir, order = 1)
    val controller = new Controller()

    // a dataset with a learnable structure: a's half the time followed by b's
    val rnd = new scala.util.Random(3)
    val events = (1 to 400).map { i =>
      val tpe = rnd.nextInt(4) match {
        case 0 => "a"
        case 1 => "b"
        case _ => "c"
      }
      CEvent(i.toLong, tpe, i.toLong, s"k${i % 2}", Map.empty, Map.empty)
    }
    factory.onDataset(0, events)

    // Observer fires an optimize instruction
    val obs = new Observer(graceInit = 0)
    obs.onReport(report(1, 0.9))
    val ins = obs.onReport(report(2, 0.05)).get
    ins.instructionType shouldBe "optimize"

    // Controller: pause + opt_initialise + first opt_step
    val out0 = controller.onInstruction(ins)
    out0.syncCommands.map(_.cmdType) shouldBe List("pause")
    out0.factoryCommands.map(_.cmdType) shouldBe List("opt_initialise", "opt_step")

    // drive the loop: factory evaluates each step, controller tells + asks
    var pendingCmds = out0.factoryCommands
    var playCmd: Option[SyncCommand] = None
    var steps = 0
    val fvals = scala.collection.mutable.ListBuffer.empty[Double]
    while (playCmd.isEmpty && steps < 30) {
      val next = pendingCmds.flatMap { cmd =>
        val rep = factory.onCommand(cmd)
        rep.reportType should not be "error"
        if (cmd.cmdType == "opt_step") fvals += rep.metrics("f_val")
        val o = controller.onFactoryReport(rep)
        playCmd = playCmd.orElse(o.syncCommands.find(_.cmdType == "play"))
        o.factoryCommands
      }
      pendingCmds = next
      steps += 1
    }

    fvals.size shouldBe 10
    playCmd.isDefined shouldBe true
    playCmd.get.modelId should be >= 0
    controller.currentPhase shouldBe "Idle"
    // the promoted model exists and loads
    val m = ModelStore.load(s"$modelDir/model_v${playCmd.get.modelId}.spst")
    m.order shouldBe 1
    // intermediates were cleaned up
    Files.list(java.nio.file.Paths.get(modelDir)).count() shouldBe 1

    // JSON round-trips of every message on the wire
    val cmd = out0.factoryCommands(1)
    FactoryCommand.fromJson(cmd.toJson) shouldBe cmd
    SyncCommand.fromJson(playCmd.get.toJson) shouldBe playCmd.get
    Instruction.fromJson(ins.toJson) shouldBe ins
  }

  "EngineRun" should "skip paused events and swap losslessly at sync time" in {
    val cp = Compiler.compile(";(IsEventTypePredicate(a),IsEventTypePredicate(b))")
    val train = (1 to 100).map(i =>
      CEvent(i.toLong, if (i % 2 == 0) "b" else "a", i.toLong, "k", Map.empty, Map.empty))
    // order 2: the symbol buffer holds more than the newest event, so a
    // swap that rebuilt the run would show in it
    val spst = InMemory.train(train, cp, order = 2, pMin = 0.001, gammaMin = 0.001)
    val table = spst.forecastTable(ForecastMethod.ClassifyNextK, 0.5, 10, 20)
    def load(id: Int) = (spst, table)
    def ev(id: Long, t: String, ts: Long) = CEvent(id, t, ts, "k", Map.empty, Map.empty)

    // each micro-batch of the key runs a new EngineRun on the last
    // snapshot and reads the control state once, at its start
    val controls = new Inference.ControlHandle
    var last: Option[Inference.EngineSnapshot] = None
    def batch(): (Inference.EngineRun, ArrayBuffer[Inference.Out]) = {
      val run = new Inference.EngineRun("k", cp, load, controls,
        initialModelId = 0, swapDelay = 5L, reportingDistance = 3600L)
      last.foreach(run.restore)
      (run, ArrayBuffer.empty[Inference.Out])
    }

    // detections flow normally
    val (run1, out1) = batch()
    Seq(ev(1, "a", 100), ev(2, "b", 101)).foreach(run1.feed(_, out1 += _))
    out1.filter(_.kind == "detection").map(_.eventId) shouldBe Seq(2L)
    val s1 = run1.snapshot
    last = Some(s1)

    // paused: nothing comes out, state frozen
    controls.push(SyncCommand.pause(102))
    val (run2, out2) = batch()
    run2.feed(ev(3, "a", 102), out2 += _)
    out2 shouldBe empty
    val s2 = run2.snapshot
    s2.paused shouldBe true
    (s2.counter, s2.buffer.toSeq) shouldBe ((s1.counter, s1.buffer.toSeq))
    last = Some(s2)

    // play with a new model id: swap happens once event time passes syncTime
    controls.push(SyncCommand.play(103, 1))
    val (run3, out3) = batch()
    run3.feed(ev(4, "a", 103), out3 += _)
    val pre = run3.snapshot
    pre.paused shouldBe false
    pre.currentModelId shouldBe 0 // pending (syncTime = 103 + 5)
    pre.pendingSwapAt shouldBe 108L
    run3.feed(ev(5, "x", 109), out3 += _)
    val post = run3.snapshot
    post.currentModelId shouldBe 1 // swapped
    post.pendingSwapAt shouldBe -1L
    // lossless: the run goes on from the pre-swap counter and buffer
    post.counter shouldBe pre.counter + 1
    post.buffer.length shouldBe 2
    post.buffer(1) shouldBe pre.buffer(0)
  }
}
