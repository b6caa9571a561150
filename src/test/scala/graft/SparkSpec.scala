package graft

import org.apache.spark.sql.SparkSession
import org.scalactic.source.Position
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll with TimeLimits {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext

  /** A test with a wall-clock budget: past `seconds` the test thread is
    * interrupted and the test fails under its own name, so a plan
    * blow-up or a hung job cannot stall the whole suite. */
  protected def timedTest(name: String, seconds: Int)(body: => Any)(
      implicit pos: Position): Unit =
    test(name) {
      implicit val signaler: Signaler = ThreadSignaler
      failAfter(Span(seconds, Seconds))(body)
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
