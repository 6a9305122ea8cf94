package graft

/** Dump a registered query's POST-EXECUTION plan (AQE final) — the r16
  * plan_shape_audit counted join nodes in the pre-execution explain,
  * where every AdaptiveSparkPlan is still `isFinalPlan=false` and AQE's
  * runtime SMJ→BHJ/SHJ rewrites are invisible. This runner executes the
  * query first (count), then prints the executed plan, which for AQE
  * plans is the final re-optimized one.
  *
  * `Test/runMain graft.FinalPlanDumpMain <sfDir> <outDir> <name>...`
  * (on `local[SPARK_GRAFT_CPUS]`, see [[Runner.session]])
  */
object FinalPlanDumpMain {
  /** One AQE `+- == Initial Plan ==` header (at any indent) and every
    * following line indented deeper than it.
    */
  private[graft] val InitialPlan = "(?m)^( *)\\+- == Initial Plan ==\\n(?:\\1 {3}.*(?:\\n|$))*".r

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val names = args.drop(2).toSeq
    val spark = Runner.session()
    graft.ops.Release.sweepStart(spark)
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      // collect(), NOT count(): count() builds its own QueryExecution and
      // leaves df's plan unexecuted (isFinalPlan stays false)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      java.nio.file.Files.writeString(outDir.resolve(s"$n.txt"), plan)
      // count join nodes in the FINAL sections only: every
      // AdaptiveSparkPlan (the root, each subquery) prints "== Final
      // Plan ==" then "== Initial Plan ==", so drop each Initial Plan
      // header with the lines indented under it
      val finalPart = InitialPlan.replaceAllIn(plan, "")
      val smj = "SortMergeJoin".r.findAllIn(finalPart).size
      val bhj = "BroadcastHashJoin".r.findAllIn(finalPart).size
      val shj = "ShuffledHashJoin".r.findAllIn(finalPart).size
      println(s"FINALPLAN $n SMJ=$smj BHJ=$bhj SHJ=$shj")
    }
    spark.stop()
  }
}
