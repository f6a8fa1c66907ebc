package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  /** Runs `body` under the session confs `kv`, then restores them. */
  protected def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A test under [[SparkSuite.spread]], so partition boundaries (and
    * partitions that begin with null values) occur on small inputs. */
  protected def spreadTest(name: String)(body: => Unit): Unit =
    test(name)(withConf(SparkSuite.spread: _*)(body))
}

object SparkSuite {
  /** Exchanges keep 7 partitions: AQE does not coalesce them. */
  val spread: Seq[(String, String)] = Seq("spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // saveAsTable targets (BucketingSpecs) go to a temp dir, not ./spark-warehouse
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
