package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session —
  * [[Session]]'s getOrCreate reuses it across suites). Specs pin plans
  * under the engine's own settings at the default thread count,
  * whatever `SPARK_GRAFT_CPUS` the test run exports.
  */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = Session(Session.DefaultCpus, Map(
    // unique per JVM: a fixed path leaves orphan table dirs behind that a
    // fresh in-memory catalog then refuses to overwrite (LOCATION_ALREADY_EXISTS)
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-test-warehouse").toString))

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
}
