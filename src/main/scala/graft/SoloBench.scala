package graft
import org.apache.spark.sql.SparkSession
object SoloBench {
  def main(args: Array[String]): Unit = {
    graft.queries.StreamScaffold.sweepStale()
    val sfDir = args.head
    val names = args.tail
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.ops.Release.sweepStart(spark)
    for (n <- names) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      val ts = (1 to 2).map { _ =>
        val t1 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t1) / 1e9
      }
      println(f"SOLO $n%-24s cold $cold%8.2f s, warm ${ts.min}%8.2f s")
    }
    spark.stop()
  }
}
