package graft.cef.adapt

import graft.cef._
import java.io._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** S12: serialized model sink/source. The reference Java-serializes
  * SPSTInterface to `.spst` (WayebAdapter.scala:76-83); our artifacts use
  * the same mechanism over our own classes — compatibility is at the
  * semantic level (SURVEY.md §7.4), not binary.
  */
object ModelStore {
  def save(spst: Spst, path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val oos = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try oos.writeObject(spst) finally oos.close()
  }

  def load(path: String): Spst = {
    val ois = new ObjectInputStream(new BufferedInputStream(new FileInputStream(path)))
    try ois.readObject().asInstanceOf[Spst] finally ois.close()
  }
}

/** T5: in-memory train/test bridge — the exact wiring the reference factory
  * uses for candidate evaluation (WayebAdapter.scala:41-185 trainInMemory /
  * testInMemory). Training sets are small (lastK buckets), so this runs
  * driver-side like the reference; the distributed path is
  * [[graft.cef.spark.Train.learnSpst]].
  */
object InMemory {

  def train(
      events: Seq[CEvent],
      cp: CompiledPattern,
      order: Int,
      pMin: Double,
      gammaMin: Double,
      alpha: Double = 0.05,
      r: Double = 1.05): Spst = {
    val cst = new Cst
    val buffers = mutable.Map.empty[String, SymbolBuffer]
    events.sortBy(e => (e.partition, e.timestamp, e.id)).foreach { e =>
      if (!e.isReset) {
        val buf = buffers.getOrElseUpdate(e.partition, new SymbolBuffer(order + 1))
        val sym = cp.iso.evaluate(e)
        if (sym >= 0) { buf.push(sym); cst.add(buf.pop) }
      }
    }
    val pst = PstLearner.learn(cst, order, pMin, alpha, gammaMin, r)
    Spst(cp.sdfa, pst, order)
  }

  /** Replay with forecasting, evaluate CLASSIFY_NEXTK forecasts against the
    * detections per key, return aggregate stats (the MCC the optimizer
    * minimizes the negative of).
    */
  def test(
      spst: Spst,
      events: Seq[CEvent],
      cp: CompiledPattern,
      threshold: Double = 0.5,
      spread: Int = 10,
      horizon: Int = 20): ClassStats = {
    val table = spst.forecastTable(ForecastMethod.ClassifyNextK, threshold, spread, horizon)
    val byKey = events.filterNot(_.isReset).groupBy(_.partition)
    byKey.values.foldLeft(ClassStats(0, 0, 0, 0)) { (acc, evs) =>
      val run = new SpstRun(cp, spst, table, evs.head.partition)
      val dets = mutable.ListBuffer.empty[Long]
      val fcs = mutable.ListBuffer.empty[(Boolean, Long, Long)]
      evs.sortBy(e => (e.timestamp, e.id)).foreach { e =>
        val (d, f) = run.step(e)
        d.foreach(x => dets += x.counter)
        f.foreach(x => fcs += ((x.positive, x.startCounter, x.endCounter)))
      }
      acc + Profiler.evaluateAll(fcs.toSeq, dets.toSeq)
    }
  }
}

/** O7/O8: the model factory — dataset assembly, (re)training and the
  * Bayesian evaluation steps (reference ModelFactoryEngine.java:130-580).
  *
  * Commands: `train` (params → train, emit model report), `opt_initialise`
  * (lock dataset), `opt_step` (train + test-in-memory → f_val report),
  * `opt_finalise` (promote best candidate, clean intermediates, emit model).
  * The MIN_DATA_THRESHOLD=50 guard rejects training on tiny datasets
  * (ModelFactoryEngine.java:226-260).
  */
final class Factory(
    cp: CompiledPattern,
    modelDir: String,
    order: Int = 2,
    trainFraction: Double = 0.8,
    minDataThreshold: Int = 50) extends Serializable {

  private var datasets = Map.empty[Int, Seq[CEvent]] // version → events
  private var latestVersion = -1
  private var lockedVersion = -1
  private val candidates = mutable.Map.empty[Int, (String, List[Double])] // iter → (path, params)
  private var iterCounter = 0
  private var modelCounter = 0

  def onDataset(version: Int, events: Seq[CEvent]): AssemblyAck =
    onDataset(version, events, datasetId = version, bucketsRange = Nil)

  /** O7: register a dataset version and ACK back the notification's bucket
    * range — the ACK is what drives the Collector's O6 GC
    * (Collector.java:139-166), so it must echo the range, not be empty.
    */
  def onDataset(version: Int, events: Seq[CEvent], datasetId: Int, bucketsRange: List[Long]): AssemblyAck = {
    datasets += version -> events
    latestVersion = math.max(latestVersion, version)
    // delete stale unlocked datasets (ModelFactoryEngine.java:514-580)
    datasets = datasets.filter { case (v, _) => v == latestVersion || v == lockedVersion }
    AssemblyAck(datasetId, version, bucketsRange)
  }

  /** Convenience: assemble from a Collector notification. */
  def onNotification(n: DatasetNotification, events: Seq[CEvent]): AssemblyAck =
    onDataset(n.version, events, n.datasetId, n.bucketsRange)

  /** Chronological train/test split (reference python/split_dataset.py:28). */
  private def split(events: Seq[CEvent]): (Seq[CEvent], Seq[CEvent]) = {
    val sorted = events.sortBy(e => (e.timestamp, e.id))
    val cut = (sorted.size * trainFraction).toInt
    (sorted.take(cut), sorted.drop(cut))
  }

  def onCommand(cmd: FactoryCommand): FactoryReport = cmd.cmdType match {
    case "opt_initialise" =>
      lockedVersion = latestVersion
      iterCounter = 0
      candidates.clear()
      FactoryReport(cmd.id, "opt_initialised", -1, "", Map.empty)

    case "opt_step" =>
      datasets.get(lockedVersion) match {
        case None =>
          FactoryReport(cmd.id, "error", -1, "", Map("reason" -> 1.0))
        case Some(ds) if ds.size < minDataThreshold =>
          FactoryReport(cmd.id, "error", -1, "", Map("reason" -> 2.0))
        case Some(ds) =>
          val List(pMin, gamma) = cmd.params.get
          val (tr, te) = split(ds)
          val spst = InMemory.train(tr, cp, order, pMin, gamma)
          val stats = InMemory.test(spst, te, cp)
          val path = s"$modelDir/candidate_$iterCounter.spst"
          ModelStore.save(spst, path)
          candidates(iterCounter) = (path, List(pMin, gamma))
          val rep = FactoryReport(cmd.id, "opt_step_done", iterCounter, path,
            Map("mcc" -> stats.mcc, "f_val" -> -stats.mcc))
          iterCounter += 1
          rep
      }

    case "opt_finalise" =>
      candidates.get(cmd.bestI) match {
        case None => FactoryReport(cmd.id, "error", -1, "", Map("reason" -> 3.0))
        case Some((path, params)) =>
          val finalPath = s"$modelDir/model_v$modelCounter.spst"
          Files.createDirectories(Paths.get(finalPath).getParent)
          Files.copy(Paths.get(path), Paths.get(finalPath),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // cleanup intermediate candidate models (ModelFactoryEngine.java:480-512)
          candidates.values.foreach { case (p, _) => Files.deleteIfExists(Paths.get(p)) }
          candidates.clear()
          lockedVersion = -1
          val rep = FactoryReport(cmd.id, "opt_finalised", modelCounter, finalPath,
            Map("pMin" -> params.head, "gamma" -> params(1)))
          modelCounter += 1
          rep
      }

    case "train" =>
      datasets.get(latestVersion) match {
        case Some(ds) if ds.size >= minDataThreshold =>
          val List(pMin, gamma) = cmd.params.get
          val spst = InMemory.train(ds, cp, order, pMin, gamma)
          val path = s"$modelDir/model_v$modelCounter.spst"
          ModelStore.save(spst, path)
          val rep = FactoryReport(cmd.id, "trained", modelCounter, path, Map.empty)
          modelCounter += 1
          rep
        case _ => FactoryReport(cmd.id, "error", -1, "", Map("reason" -> 2.0))
      }

    case _ =>
      FactoryReport(cmd.id, "error", -1, "", Map("reason" -> 0.0))
  }
}
