package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

/** One shared local session for all suites (sbt forks a single test JVM).
  * Every test runs under a time limit, so a hang (an unbounded
  * `processAllAvailable()`, say) fails as a named test instead of
  * stalling the whole run. The limit is far above the slowest test:
  * the heaviest whole spec takes about a minute. */
trait SparkTestBase extends AnyFunSuite with TimeLimitedTests {
  lazy val spark: SparkSession = SparkTestBase.session
  val timeLimit: Span = Span(10, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler
  def sf(name: String): DataFrame = Tables(spark, "/root/testdata/sf0.001", name)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
