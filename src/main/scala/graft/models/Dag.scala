package graft.models

import java.util.concurrent.{Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The TPC-DI warehouse DAG, declared once: 17 bronze, 14 silver and 13
  * gold models, mirroring the reference's dbt project
  * (dbt_project.yml:29-50) — each [[Node]] is a model, its `deps` are
  * dbt's `ref()` edges and its `fn` is the model's SQL. The ephemeral
  * work model (wrk_company_financials) is inlined into its one
  * consumer, like the reference.
  *
  * [[Warehouse]] is the one evaluator of this table: its memoised cell
  * is the only place a node's `fn` meets `mat`. [[force]] is the one
  * scheduler over those cells, the dbt-scheduler analog (20 threads in
  * the reference build, README.md:215): the serial build runs it at
  * parallelism 1, [[runParallel]] lets independent branches (the
  * FINWIRE/company spine, the trade spine, the CRM spine) materialize
  * concurrently, with Spark's scheduler interleaving their jobs across
  * the executor slots.
  */
object Dag {

  /** One model. Bronze models read no model: `source` names the loader
    * table they scan.
    */
  final case class Node(name: String, deps: Seq[String],
                        fn: Map[String, DataFrame] => DataFrame,
                        source: Option[String] = None)

  /** The 44 materialized models in dependency order (bronze → silver →
    * gold; observed build order README.md:216-305).
    */
  def nodes(sources: Map[String, DataFrame]): Seq[Node] = {
    def src(model: String, key: String, typed: DataFrame => DataFrame = identity) =
      Node(model, Nil, _ => typed(sources(key)), Some(key))
    Seq(
      src("brokerage_cash_transaction", "cash_transaction"),
      src("brokerage_daily_market", "daily_market"),
      src("brokerage_holding_history", "holding_history"),
      src("brokerage_trade", "trade"),
      src("brokerage_trade_history", "trade_history"),
      src("brokerage_watch_history", "watch_history"),
      src("crm_customer_mgmt", "customer_mgmt"),
      src("finwire_company", "cmp"),
      // bronze finwire typing (finwire_financial.sql / finwire_security.sql)
      src("finwire_financial", "fin", Finwire.finTyped),
      src("finwire_security", "sec", Finwire.secTyped),
      src("hr_employee", "hr"),
      // reference_date.sql:1-20 — SK_DATE_ID replaced by the date value
      src("reference_date", "date", _.withColumn("sk_date_id", col("date_value"))),
      src("reference_industry", "industry"),
      src("reference_status_type", "status_type"),
      src("reference_tax_rate", "tax_rate"),
      src("reference_trade_type", "trade_type"),
      src("syndicated_prospect", "prospect"),

      Node("date", Seq("reference_date"), d => Silver.date(d("reference_date"))),
      Node("employees", Seq("hr_employee"), d => Silver.employees(d("hr_employee"))),
      Node("accounts", Seq("crm_customer_mgmt", "reference_tax_rate"),
        d => Silver.accounts(d("crm_customer_mgmt"), d("reference_tax_rate"))),
      Node("customers", Seq("crm_customer_mgmt", "reference_tax_rate"),
        d => Silver.customers(d("crm_customer_mgmt"), d("reference_tax_rate"))),
      Node("companies", Seq("finwire_company", "reference_status_type", "reference_industry"),
        d => Silver.companies(d("finwire_company"), d("reference_status_type"),
          d("reference_industry"))),
      Node("financials", Seq("finwire_financial", "companies"),
        d => Silver.financials(d("finwire_financial"), d("companies"))),
      Node("securities", Seq("finwire_security", "companies"),
        d => Silver.securities(d("finwire_security"), d("companies"))),
      Node("trades_history",
        Seq("brokerage_trade", "brokerage_trade_history",
          "reference_trade_type", "reference_status_type"),
        d => Silver.tradesHistory(d("brokerage_trade"), d("brokerage_trade_history"),
          d("reference_trade_type"), d("reference_status_type"))),
      Node("trades", Seq("trades_history"), d => Silver.trades(d("trades_history"))),
      Node("cash_transactions", Seq("brokerage_cash_transaction", "accounts"),
        d => Silver.cashTransactions(d("brokerage_cash_transaction"), d("accounts"))),
      Node("daily_market", Seq("brokerage_daily_market"),
        d => Silver.dailyMarket(d("brokerage_daily_market"))),
      Node("watches_history", Seq("brokerage_watch_history", "securities"),
        d => Silver.watchesHistory(d("brokerage_watch_history"), d("securities"))),
      Node("watches", Seq("watches_history"), d => Silver.watches(d("watches_history"))),
      Node("holdings_history", Seq("brokerage_holding_history", "trades"),
        d => Silver.holdingsHistory(d("brokerage_holding_history"), d("trades"))),

      Node("dim_date", Seq("date"), d => Gold.dimDate(d("date"))),
      Node("dim_broker", Seq("employees"), d => Gold.dimBroker(d("employees"))),
      Node("dim_company", Seq("companies"), d => Gold.dimCompany(d("companies"))),
      Node("dim_customer", Seq("customers", "syndicated_prospect"),
        d => Gold.dimCustomer(d("customers"), d("syndicated_prospect"))),
      Node("dim_account", Seq("accounts", "dim_customer", "dim_broker"),
        d => Gold.dimAccount(d("accounts"), d("dim_customer"), d("dim_broker"))),
      Node("dim_security", Seq("securities", "dim_company"),
        d => Gold.dimSecurity(d("securities"), d("dim_company"))),
      Node("dim_trade", Seq("trades_history"), d => Gold.dimTrade(d("trades_history"))),
      Node("fact_trade", Seq("trades", "dim_trade", "dim_account", "dim_security"),
        d => Gold.factTrade(d("trades"), d("dim_trade"), d("dim_account"),
          d("dim_security"))),
      Node("fact_cash_transactions", Seq("cash_transactions", "dim_account"),
        d => Gold.factCashTransactions(d("cash_transactions"), d("dim_account"))),
      Node("fact_cash_balances", Seq("fact_cash_transactions"),
        d => Gold.factCashBalances(d("fact_cash_transactions"))),
      Node("fact_holdings",
        Seq("holdings_history", "dim_trade", "dim_account", "dim_security"),
        d => Gold.factHoldings(d("holdings_history"), d("dim_trade"),
          d("dim_account"), d("dim_security"))),
      Node("fact_watches", Seq("watches", "dim_customer", "dim_security"),
        d => Gold.factWatches(d("watches"), d("dim_customer"), d("dim_security"))),
      // work model inlined (ephemeral), like the reference
      Node("fact_market_history", Seq("daily_market", "dim_security", "financials", "dim_company"),
        d => Gold.factMarketHistory(d("daily_market"), d("dim_security"),
          Gold.wrkCompanyFinancials(d("financials"), d("dim_company")))))
  }

  private val declared = nodes(Map.empty)

  /** Source table key → the bronze model that scans it (the roots a
    * source delta dirties in the DAG).
    */
  val sourceModel: Map[String, String] =
    declared.flatMap(n => n.source.map(_ -> n.name)).toMap

  /** Models transitively downstream of `roots` (inclusive) — structural
    * only, no DataFrames touched. One pass suffices because declared
    * order is topological. This is what lets an incremental batch apply
    * skip every model whose upstream closure the delta can't reach
    * ([[Warehouse.applyBatch]]).
    */
  def downstream(roots: Set[String]): Set[String] =
    declared.foldLeft(roots) { (affected, n) =>
      if (n.deps.exists(affected)) affected + n.name else affected
    }

  /** Materialize the whole DAG through [[Warehouse.writeThenRead]] with
    * `parallelism` concurrent model builds ([[force]]), so every model
    * computes exactly once and downstream models scan its table.
    * Returns per-model wall seconds (overlapping).
    */
  def runParallel(spark: SparkSession, sources: Map[String, DataFrame],
                  outDir: String, parallelism: Int = 8): Map[String, Double] =
    force(new Warehouse(sources, Warehouse.writeThenRead(spark, outDir)), parallelism)

  /** Force every model of `wh`, at most `parallelism` at once. A model
    * starts once all its dependencies are forced, so no pool thread
    * waits on another's cell. Models start in the order they become
    * ready (the bronze roots first, in declared order), which starts a
    * long chain such as the trade spine as soon as its inputs exist.
    * Returns each model's wall seconds.
    *
    * When one model fails, no further model starts; the call waits for
    * the models already running, then throws the first failure, naming
    * its model.
    */
  private[graft] def force(wh: Warehouse, parallelism: Int): Map[String, Double] = {
    val ready = mutable.Queue.from(declared.filter(_.deps.isEmpty))
    val wall = mutable.Map.empty[String, Double] // also the set of forced models
    var running = 0
    var failure: Option[Throwable] = None
    val lock = new Object
    val pool = Executors.newFixedThreadPool(parallelism)

    // callers hold `lock`
    def dispatch(): Unit =
      while (failure.isEmpty && running < parallelism && ready.nonEmpty) {
        val n = ready.dequeue()
        running += 1
        pool.execute(() => build(n.name))
      }

    def build(name: String): Unit = {
      val t0 = System.nanoTime()
      val error = try { wh(name); None } catch { case e: Throwable => Some(e) }
      lock.synchronized {
        running -= 1
        if (error.isEmpty) {
          wall(name) = (System.nanoTime() - t0) / 1e9
          ready ++= declared.filter(n => n.deps.contains(name) && n.deps.forall(wall.contains))
        } else if (failure.isEmpty)
          failure = error.map(new RuntimeException(s"warehouse model $name failed", _))
        dispatch()
        lock.notifyAll()
      }
    }

    try lock.synchronized {
      dispatch()
      while (running > 0) lock.wait()
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    failure.foreach(e => throw e)
    wall.toMap
  }
}
