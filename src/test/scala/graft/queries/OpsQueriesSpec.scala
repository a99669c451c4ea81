package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class OpsQueriesSpec extends AnyFunSuite with Matchers {

  test("every shared fixture Bench reports names a suite gate") {
    OpsQueries.sharedFixtures should not be empty
    OpsQueries.sharedFixtures.foreach(SparkEntry.queries.keySet should contain(_))
  }
}
