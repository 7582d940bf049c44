package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, small shuffle
  * fan-out so tiny fixtures don't pay 32-partition overhead).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session(getClass.getSimpleName)

  override def afterAll(): Unit = {
    // keep the session alive across suites (same JVM) — stop() would
    // break suites that run after this one in sbt's single test JVM
    super.afterAll()
  }
}

/** The single source of truth for the test-session config: suites that
  * must manage session lifecycle themselves (e.g. the stopped-session
  * scenarios in SessionMemoSpec) build/restore through here, so the restored
  * session can't drift from the fixture's.
  */
object SparkSpec {
  def session(appName: String = "graft-spec"): SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
