package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class OpsQueriesSpec extends AnyFunSuite with Matchers {

  test("every shared fixture Bench reports names a suite gate") {
    OpsQueries.sharedFixtures should not be empty
    OpsQueries.sharedFixtures.foreach(SparkEntry.queries.keySet should contain(_))
  }

  // An oracle composed from SQL fragments: a fragment interpolated
  // without its stripMargin would reach DuckDB as a syntax error only.
  test("no oracle SQL line keeps a stripMargin margin") {
    val margin = """^\s*\|(?!\|)""".r
    val unstripped = for {
      (gate, sql) <- SparkEntry.oracleSql.toSeq
      line <- sql.linesIterator
      if margin.findFirstIn(line).isDefined
    } yield s"$gate: $line"
    SparkEntry.oracleSql should not be empty
    unstripped shouldBe empty
  }
}
