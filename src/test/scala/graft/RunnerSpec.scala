package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The one session policy every main runs on: `Runner.session`. */
class RunnerSpec extends AnyFlatSpec with Matchers {

  /** Run `body` with the `spark.*` system properties in `props` (value
    * None = unset), restoring the old values afterwards.
    */
  private def withProps[T](props: (String, Option[String])*)(body: => T): T = {
    val old = props.map { case (k, _) => k -> sys.props.get(k) }
    def set(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None)    => sys.props -= k
    }
    set(props)
    try body finally set(old)
  }

  "Runner.session" should "run local[cpus] in UTC and keep a launcher's spark.master" in {
    // getOrCreate hands back a session an earlier suite left running;
    // the policy shows only on a session Runner builds
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    // the test JVM's own -Dspark.sql.session.timeZone is set aside, so
    // UTC below comes from Runner
    withProps("spark.sql.session.timeZone" -> None, "spark.master" -> None) {
      val spark = Runner.session(2)
      try {
        spark.sparkContext.master shouldBe "local[2]"
        spark.conf.get("spark.sql.shuffle.partitions") shouldBe "2"
        spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      } finally spark.stop()
    }
    // spark-submit's --master reaches the driver as this system property
    withProps("spark.master" -> Some("local[3]")) {
      val spark = Runner.session(2)
      try {
        spark.sparkContext.master shouldBe "local[3]"
        spark.conf.get("spark.sql.shuffle.partitions") shouldBe "2"
      } finally spark.stop()
    }
  }
}
