package graft.models

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Invariants of the one warehouse model table, [[Dag.nodes]], that the
  * scheduler and the incremental batch apply rely on. Structural only:
  * no DataFrame is built.
  */
class DagSpec extends AnyFunSuite with Matchers {

  private val nodes = Dag.nodes(Map.empty)

  test("the table declares 44 uniquely named models") {
    nodes.size shouldBe 44
    nodes.map(_.name).distinct.size shouldBe 44
  }

  test("every dependency names a model declared earlier (declared order is topological)") {
    nodes.foldLeft(Set.empty[String]) { (declared, n) =>
      withClue(s"${n.name}: ") { n.deps.filterNot(declared) shouldBe empty }
      declared + n.name
    }
  }

  test("bronze models, and only they, scan a source; each loader table feeds one") {
    nodes.filter(_.source.isDefined).map(_.name) shouldBe
      nodes.filter(_.deps.isEmpty).map(_.name)
    Dag.sourceModel.size shouldBe 17
    Dag.sourceModel.keySet shouldBe
      Loader.delimitedSources.keySet ++ Set("customer_mgmt", "cmp", "sec", "fin")
    Dag.sourceModel("customer_mgmt") shouldBe "crm_customer_mgmt"
  }

  test("downstream of the CRM log is the account/customer spine and the facts it keys") {
    Dag.downstream(Set("crm_customer_mgmt")) shouldBe Set(
      "crm_customer_mgmt", "accounts", "customers", "cash_transactions",
      "dim_customer", "dim_account", "fact_trade", "fact_cash_transactions",
      "fact_cash_balances", "fact_holdings", "fact_watches")
  }
}
