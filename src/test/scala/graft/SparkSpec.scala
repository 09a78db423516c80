package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for all specs — UTC session tz (timestamps in
  * fixtures and oracles assume it) and few shuffle partitions for speed.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc: SparkSession = spark

  /** Register a test that reads external input files. Where any of them
    * is absent the test is registered as ignored, so it stays in the suite
    * and reports as skipped without running; wherever all of them exist it
    * runs unchanged. (A `cancel`/`assume` inside the body would not do:
    * sbt's JUnit XML report writes a canceled test like a passed one.)
    */
  def testOnFiles(name: String, paths: String*)(body: => Any)(
      implicit pos: org.scalactic.source.Position): Unit =
    if (paths.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
      test(name)(body)
    else ignore(name)(body)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
