package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate ⇒ one JVM-wide
  * session; Test/fork is on, so this never collides with the user app).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session()
}

object SparkTestBase {
  /** The shared session, or a new one with the same settings once a
    * suite has stopped it. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
