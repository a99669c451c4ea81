package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-DI warehouse as one memoised evaluation of the [[Dag]]
  * table: `wh("fact_trade")` builds a model from its dependencies' frames,
  * at most once per Warehouse instance (one lazy cell per model, so
  * concurrent callers share it). Spark keeps everything lazy until a
  * sink materializes it (the Dynamic Table refresh semantics reduce to
  * batch recompute in dependency order, SURVEY §2.9); [[all]] forces the
  * models in declared order — the serial scheduler beside
  * [[Dag.runParallel]].
  *
  * `mat` is the materialization hook, applied to every model as it is
  * first evaluated. Default = identity (fully lazy, for composition).
  * `Warehouse.build` passes [[Warehouse.writeThenRead]], which is dbt's
  * semantics: each model computes ONCE and downstream models scan its
  * table — without it, every gold fact re-derives its whole upstream
  * from the raw files (measured 2× the total build time on
  * fact_holdings alone at 500k trades).
  *
  * `overrides` replaces a model wholesale (its upstream plan is never
  * built, and `mat` never sees it) — how [[Warehouse.applyBatch2]] makes
  * DOWNSTREAM models read the incrementally-merged dims instead of
  * re-deriving full rebuilds.
  *
  * @param sources the 17 loader tables (Loader.loadAll or test fixtures)
  * @param mat     materialization hook (name, plan) => DataFrame seen
  *                by downstream models
  */
final class Warehouse(val sources: Map[String, DataFrame],
                      mat: (String, DataFrame) => DataFrame = (_, df) => df,
                      overrides: Map[String, DataFrame] = Map.empty) {

  private final class Cell(f: => DataFrame) { lazy val df: DataFrame = f }

  private val nodes = Dag.nodes(sources)
  private val cells: Map[String, Cell] = nodes.map { n =>
    n.name -> new Cell(overrides.getOrElse(n.name,
      mat(n.name, n.fn(n.deps.map(d => d -> apply(d)).toMap))))
  }.toMap

  /** The model `name`, built on first use. */
  def apply(name: String): DataFrame = cells(name).df

  /** All 44 models in declared (dependency) order, each forced. */
  def all: Seq[(String, DataFrame)] = nodes.map(n => n.name -> apply(n.name))

  def accounts: DataFrame = apply("accounts")
  def customers: DataFrame = apply("customers")

  /** tests/fact_trade__unique_trade.sql:1-6 — sk_trade_id must be unique
    * in fact_trade; non-empty result = violation.
    */
  def uniqueTradeViolations: DataFrame =
    apply("fact_trade").groupBy("sk_trade_id").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
}

object Warehouse {
  /** Build from a DIGen Batch1 directory. */
  def fromBatchDir(spark: SparkSession, batchDir: String): Warehouse =
    new Warehouse(Loader.loadAll(spark, batchDir))

  /** dbt's `table` materialization: write the model's parquet under
    * `outDir` and hand back the table read from it.
    */
  def writeThenRead(spark: SparkSession, outDir: String): (String, DataFrame) => DataFrame =
    (name, df) => {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      spark.read.parquet(s"$outDir/$name")
    }

  /** Materialize every model to parquet under outDir in dependency
    * order — the dbt-build analog (zone target_lag reduces to batch
    * recompute, SURVEY §3.2-3.3). Each model is computed exactly once
    * and every downstream model reads the written table instead of
    * re-deriving the upstream plan.
    *
    * Returns the materialized Warehouse (all models backed by parquet).
    */
  def build(spark: SparkSession, sources: Map[String, DataFrame],
            outDir: String): Warehouse = {
    val wh = new Warehouse(sources, writeThenRead(spark, outDir))
    wh.all.foreach(_ => ()) // force every model in dependency order
    wh
  }

  /** Warehouse-level Batch2/3 refresh — the incremental path the
    * reference names as future work (README.md:325, SURVEY §7.6).
    *
    * `batch2` holds per-source DELTA frames in the same shapes the
    * Batch1 loader produces (only sources with new data need appear).
    * Returns every model of the refreshed warehouse, maintained
    * incrementally where the model's structure allows it:
    *
    *  - `accounts` / `customers` (silver SCD2 from the CRM action log):
    *    [[Incremental.mergeScd2Batch]] over the delta actions routed
    *    through the SAME bronze→silver projection as the full model
    *    (`Silver.accountsBase`/`customersBase`) — shuffle volume scales
    *    with touched entities, not dimension size.
    *  - `dim_customer` / `dim_account` (gold projections + dim-sized
    *    temporal joins OVER the merged silver dims): recomputed from the
    *    merged inputs — dim-sized work, and a new dim version must be
    *    able to re-close its neighbors' end timestamps.
    *  - `trades_history` / `trades` / `dim_trade` / `fact_trade`: the
    *    per-trade-local chain is rebuilt ONLY for trades touched by the
    *    batch (their full history, reference semantics) and merged by
    *    grain key via [[Incremental.mergeFactBatch]] — at 100 TB this is
    *    the difference between recomputing a few million late trades and
    *    re-reading every fact input.
    *  - `cash_transactions` / `fact_cash_transactions` /
    *    `fact_cash_balances`: the ledger chain is append-local given
    *    the dims, so the delta's chain output APPENDS; the balances
    *    aggregate rebuilds only the groups the new rows touch.
    *  - `watches_history` / `watches` / `fact_watches`: per-(customer,
    *    symbol) local — touched keys' full action log rebuilds through
    *    the same silver chain and merges by key.
    *  - `daily_market` / `fact_market_history`: per-symbol local —
    *    touched symbols' full price history rebuilds through the same
    *    52-week window and merges by symbol (full-key rebuild, so
    *    correctness does not lean on the append-only watermark).
    *  - `holdings_history` / `fact_holdings`: holding rows are dirty
    *    when their event batch arrives OR when either referenced trade
    *    (current or PREVIOUS — the fact joins dim_trade twice) is
    *    touched by the trade delta; dirty keys rebuild against the
    *    MERGED trades/dim_trade and merge by trade_id.
    *  - models the delta cannot reach (upstream closure excludes every
    *    delta source, per [[Dag.downstream]]): passed through from
    *    `existing` VERBATIM — the FINWIRE spine skips entirely for
    *    any combination of the seven delta streams.
    *  - every remaining affected model: recomputed from the unioned
    *    sources, READING the merged dims above (injected as model
    *    `overrides` into the recompute DAG — downstream facts like
    *    fact_cash_transactions join the incrementally-merged
    *    dim_account, and nothing re-derives a merged model's upstream
    *    from the raw log a second time).
    *
    * Facts that replaced their natural keys with surrogate keys recover
    * the merge grain through the dims; the sk→key maps are DEDUPLICATED
    * (duplicate source rows can mint two dim rows sharing one sk — the
    * trades_history tie shape — and an undeduped recovery join would
    * silently multiply fact rows; caught by gate q47's 18-model diff).
    *
    * A delta touching any OTHER source (a lookup table like tax_rate or
    * trade_type, a FINWIRE stream) degrades the whole apply to a plain
    * full refresh over the unioned sources: a new lookup row changes
    * the joined values of UNTOUCHED entities, which no entity-scoped
    * merge can see — correctness first, incrementality only where the
    * dependency structure proves it.
    *
    * Assumes standard warehouse batch semantics: delta timestamps are
    * not earlier than the batch1 watermark (TPC-DI batches are strictly
    * ordered), so closing a previously-current SCD2 version cannot
    * re-route the temporal lookup of an untouched batch1 fact row.
    * Result is model-for-model equal to a full rebuild over
    * batch1 ∪ batch2 (oracle gate q47; kernel gates q27/q32).
    */
  def applyBatch2(existing: Warehouse, batch2: Map[String, DataFrame],
                  mat: (String, DataFrame) => DataFrame = (_, df) => df,
                  factPart: Option[FactPartition] = None)
      : Map[String, DataFrame] =
    applyBatch(existing, batch2, mat, factPart).all.toMap

  /** Opt-in partitioned storage layout for fact_trade: the fact is
    * stored partitioned on `partCol` (an immutable event-time
    * derivation, e.g. trade month) and CARRIES its grain key
    * (`trade_id`) plus `partCol` as physical columns. With this layout
    * [[applyBatch]] merges the fact via
    * [[Incremental.mergeFactBatchPartitioned]] — the returned
    * `fact_trade` holds ONLY the touched partitions' merged rows, and
    * the materializer must write them with `partitionBy(partCol)` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` and hand back
    * the re-read full table. Write IO then scales with the touched time
    * slice, not the fact size — at 100 TB the rewrite, not the merge,
    * is what dominates a whole-table fact refresh.
    *
    * @param partCol  partition column name (present in the stored fact)
    * @param partExpr expression deriving partCol from the rebuilt fact
    *                 rows (must be immutable per grain key)
    */
  final case class FactPartition(partCol: String,
                                 partExpr: org.apache.spark.sql.Column)

  /** [[applyBatch2]] returning the refreshed WAREHOUSE instead of a
    * model map — the chaining form: `applyBatch(applyBatch(wh, b2), b3)`
    * applies the full TPC-DI batch sequence, each step merging only the
    * delta's reach (gate q49 pins the chained result equal to a full
    * rebuild over b1∪b2∪b3; q50 audits SCD2 continuity through the
    * double merge). The returned warehouse's sources are the unioned
    * logs and its models are the merged/pass-through frames injected as
    * overrides, so a further applyBatch reads exactly what a
    * materialized deployment would have on disk.
    *
    * Chained LAZY applies stack plans (each step's merge reads the
    * previous step's plan); production chains materialize between
    * batches via `mat` — write-then-reread keeps every step's plan
    * depth flat, which is how [[build]] behaves for Batch1.
    */
  def applyBatch(existing: Warehouse, batch2: Map[String, DataFrame],
                 mat: (String, DataFrame) => DataFrame = (_, df) => df,
                 factPart: Option[FactPartition] = None): Warehouse = {
    val batch1 = existing.sources
    val unioned = batch1.map { case (k, v) =>
      k -> batch2.get(k).map(v.unionByName(_)).getOrElse(v)
    }
    val incrementalSources =
      Set("customer_mgmt", "trade", "trade_history", "cash_transaction",
        "watch_history", "daily_market", "holding_history",
        "cmp", "sec", "fin")
    if (!batch2.keySet.subsetOf(incrementalSources))
      return new Warehouse(unioned, mat)

    // models the delta cannot reach (their upstream closure excludes
    // every delta source) pass through from the existing warehouse
    // untouched — at 100 TB the FINWIRE/market/watch spines skip
    // entirely when only CRM + trades arrive in the batch
    val existingByName = existing.all.toMap
    val affected = Dag.downstream(batch2.keySet.map(Dag.sourceModel))

    // silver SCD2 dims: merge the CRM delta actions; with no CRM delta
    // the whole CRM spine passes through untouched (recomputing the
    // gold dims from unchanged silver would be a full dim-sized
    // recompute — and a full rewrite under a write-materializer — for
    // frames equal to the existing ones)
    val (accounts2, customers2, dimCustomer2, dimAccount2) =
      batch2.get("customer_mgmt") match {
        case Some(crmDelta) =>
          val acc = mat("accounts", Incremental.mergeScd2Batch(
            existing("accounts"),
            Silver.accountsBase(crmDelta, unioned("tax_rate")),
            Seq("account_id"), "action_ts"))
          val cust = mat("customers", Incremental.mergeScd2Batch(
            existing("customers"),
            Silver.customersBase(crmDelta, unioned("tax_rate")),
            Seq("customer_id"), "action_ts"))
          val dc = mat("dim_customer",
            Gold.dimCustomer(cust, unioned("prospect")))
          // dim_broker sits outside the delta's reach (guard above)
          val da = mat("dim_account",
            Gold.dimAccount(acc, dc, existing("dim_broker")))
          (acc, cust, dc, da)
        case None => (existing("accounts"), existing("customers"),
          existing("dim_customer"), existing("dim_account"))
      }

    // FINWIRE spine: companies SCD2-merge the CMP delta through the
    // same projection as the full model; securities rebuild touched
    // SYMBOLS' full record history (SEC delta only — a new company
    // VERSION cannot re-route an old security row's temporal lookup
    // under the batch watermark); financials rebuild touched COMPANIES'
    // full quarter history (FIN delta). Gold dims recompute dim-sized
    // over the merged silver, exactly the dim_customer/dim_account
    // pattern. Everything downstream of dim_security reads the MERGED
    // dim (trade/holdings/watch/market blocks below).
    val cmpDelta = batch2.get("cmp")
    val secDelta = batch2.get("sec")
    val finDelta = batch2.get("fin")
    val anyFinwire = cmpDelta.nonEmpty || secDelta.nonEmpty || finDelta.nonEmpty
    val (companies2, dimCompany2) = cmpDelta match {
      case Some(d) =>
        val c2 = mat("companies", Incremental.mergeScd2Batch(
          existing("companies"),
          Silver.companiesBase(d, unioned("status_type"), unioned("industry")),
          Seq("company_id"), "pts"))
        (c2, mat("dim_company", Gold.dimCompany(c2)))
      case None => (existing("companies"), existing("dim_company"))
    }
    val secTouchedSyms: Option[DataFrame] = secDelta.map(d =>
      Finwire.secTyped(d).select(col("symbol")).distinct())
    val (securities2, dimSecurity2) = secDelta match {
      case Some(_) =>
        val syms = secTouchedSyms.get
        val touched = Finwire.secTyped(unioned("sec"))
          .join(syms, Seq("symbol"), "left_semi")
        val s2 = mat("securities", Incremental.mergeFactBatch(
          existing("securities"), syms,
          Silver.securities(touched, companies2), Seq("symbol")))
        (s2, mat("dim_security", Gold.dimSecurity(s2, dimCompany2)))
      case None if cmpDelta.nonEmpty =>
        // old security versions still match their (possibly re-closed)
        // company versions under the watermark; the dim-sized recompute
        // over the merged dim_company avoids carrying that proof
        (existing("securities"),
          mat("dim_security", Gold.dimSecurity(existing("securities"), dimCompany2)))
      case None => (existing("securities"), existing("dim_security"))
    }
    // financials: resolve the delta's company keys through the same
    // dual-key (cik-or-name) join, then rebuild those companies' full
    // quarter history. The key-attribute frame is dim-sized, so the
    // OR-keyed history restriction broadcasts.
    val finTouchedCompanies: Option[DataFrame] = finDelta.map { d =>
      Silver.financials(Finwire.finTyped(d), companies2)
        .select(col("company_id")).distinct()
    }
    val financials2 = finDelta match {
      case Some(_) =>
        val keys = finTouchedCompanies.get
        val keyAttrs = companies2
          .join(keys, Seq("company_id"), "left_semi")
          .select(col("company_id").as("__fk_id"), col("name").as("__fk_name"))
          .distinct()
        val finAll = Finwire.finTyped(unioned("fin"))
        val touched = finAll.join(broadcast(keyAttrs),
          finAll("cik") === col("__fk_id") ||
            finAll("company_name") === col("__fk_name"), "left_semi")
        mat("financials", Incremental.mergeFactBatch(existing("financials"),
          keys, Silver.financials(touched, companies2), Seq("company_id")))
      case None => existing("financials")
    }
    val finwireModels: Map[String, DataFrame] =
      if (!anyFinwire) Map.empty
      else Map("companies" -> companies2, "dim_company" -> dimCompany2,
        "securities" -> securities2, "dim_security" -> dimSecurity2,
        "financials" -> financials2)

    // trades chain: rebuild the touched trades' full history, merge by key
    val tradeDelta = batch2.get("trade")
    val thDelta = batch2.get("trade_history")
    val tradeModels: Map[String, DataFrame] =
      if (tradeDelta.isEmpty && thDelta.isEmpty)
        Map("trades_history" -> existing("trades_history"),
          "trades" -> existing("trades"), "dim_trade" -> existing("dim_trade"),
          "fact_trade" -> existing("fact_trade"))
      else {
        val affected = (tradeDelta.map(_.select(col("t_id").as("trade_id"))).toSeq ++
            thDelta.map(_.select(col("th_t_id").as("trade_id"))).toSeq)
          .reduce(_.unionByName(_)).distinct()
        val touchedBt = unioned("trade").join(
          affected.select(col("trade_id").as("t_id")), Seq("t_id"), "left_semi")
        val touchedBth = unioned("trade_history").join(
          affected.select(col("trade_id").as("th_t_id")), Seq("th_t_id"), "left_semi")
        val thTouched = mat("trades_history_touched",
          Silver.tradesHistory(touchedBt, touchedBth,
            unioned("trade_type"), unioned("status_type")))
        val dimTradeTouched = mat("dim_trade_touched", Gold.dimTrade(thTouched))
        val factTouched = Gold.factTrade(Silver.trades(thTouched),
            dimTradeTouched, dimAccount2, dimSecurity2)
          .join(dimTradeTouched.select(col("sk_trade_id"), col("trade_id")),
            Seq("sk_trade_id"))
        val factMerged = factPart match {
          case Some(fp) =>
            // partitioned layout: the stored fact already carries
            // trade_id + partCol; emit ONLY the touched partitions'
            // merged rows for a dynamic-partition-overwrite write.
            // The rebuilt chain is delta-sized but appears TWICE in the
            // merge plan (partition discovery + the union) — an eager
            // localCheckpoint computes it once, which is what makes the
            // partitioned path cheaper than the whole-table merge in
            // wall time, not just write IO (measured: without it the
            // double chain evaluation eats the entire write saving)
            val rebuilt = factTouched.withColumn(fp.partCol, fp.partExpr)
              .localCheckpoint()
            Incremental.mergeFactBatchPartitioned(existing("fact_trade"),
              affected, rebuilt, Seq("trade_id"), fp.partCol)
          case None =>
            // existing fact lacks the grain key — recover it through
            // dim_trade exactly as the rebuilt side does
            val existingFactWithId = existing("fact_trade").join(
              existing("dim_trade").select(col("sk_trade_id"), col("trade_id")),
              Seq("sk_trade_id"))
            Incremental.mergeFactBatch(
              existingFactWithId, affected, factTouched, Seq("trade_id"))
              .drop("trade_id")
        }
        Map(
          "trades_history" -> Incremental.mergeFactBatch(
            existing("trades_history"), affected, thTouched, Seq("trade_id")),
          "trades" -> Incremental.mergeFactBatch(
            existing("trades"), affected, Silver.trades(thTouched), Seq("trade_id")),
          "dim_trade" -> Incremental.mergeFactBatch(
            existing("dim_trade"), affected, dimTradeTouched, Seq("trade_id")),
          "fact_trade" -> (factPart match {
            case Some(_) => mat("fact_trade", factMerged)
            case None => factMerged
          }))
      }

    // cash stream: the ledger chain is APPEND-local given the dims (a
    // new transaction's temporal lookup can't re-route an old row's,
    // batch watermark assumption), so the silver ledger and the fact
    // just append the delta's chain output; the balances aggregate
    // rebuilds ONLY the (customer, account, date, description) groups
    // the new rows touch and merges by group key
    val cashModels: Map[String, DataFrame] = batch2.get("cash_transaction")
      .map { ctDelta =>
        val ctNew = mat("cash_transactions_new",
          Silver.cashTransactions(ctDelta, accounts2))
        val cash2 = existing("cash_transactions").unionByName(ctNew)
        val factNew = mat("fact_cash_transactions_new",
          Gold.factCashTransactions(ctNew, dimAccount2))
        val factCash2 = existing("fact_cash_transactions").unionByName(factNew)
        val balKeys = Seq("sk_customer_id", "sk_account_id",
          "sk_transaction_date", "description")
        val affectedBal = factNew.select(balKeys.map(col): _*).distinct()
        val rebuiltBal = Gold.factCashBalances(
          factCash2.join(affectedBal, balKeys, "left_semi"))
        Map(
          "cash_transactions" -> cash2,
          "fact_cash_transactions" -> factCash2,
          "fact_cash_balances" -> Incremental.mergeFactBatch(
            existing("fact_cash_balances"), affectedBal, rebuiltBal, balKeys))
      }.getOrElse(Map.empty)

    // watches stream: per-(customer, symbol) local — rebuild touched
    // keys' FULL action log through the same silver chain, merge by
    // key. The fact lost its natural keys to SKs; recover them through
    // the dims (sk → natural key is functional: SKs are unique and
    // stable under the merge), exactly the fact_trade grain-recovery
    // trick. Dirty keys come from the watch DELTA and from SEC-touched
    // symbols: watches_history joins securities NON-temporally (all
    // versions), so a new security version changes every watch row of
    // its symbol.
    val watchDelta = batch2.get("watch_history")
    val watchModels: Map[String, DataFrame] =
      if (watchDelta.isEmpty && secTouchedSyms.isEmpty) Map.empty
      else {
        val keys = (watchDelta.map(_.select(col("w_c_id").as("customer_id"),
            col("w_s_symb").as("symbol"))).toSeq ++
          secTouchedSyms.map(syms => unioned("watch_history")
            .join(syms.select(col("symbol").as("w_s_symb")),
              Seq("w_s_symb"), "left_semi")
            .select(col("w_c_id").as("customer_id"),
              col("w_s_symb").as("symbol"))).toSeq)
          .reduce(_.unionByName(_)).distinct()
        val touched = unioned("watch_history").join(
          keys.select(col("customer_id").as("w_c_id"),
            col("symbol").as("w_s_symb")),
          Seq("w_c_id", "w_s_symb"), "left_semi")
        val whTouched = mat("watches_history_touched",
          Silver.watchesHistory(touched, securities2))
        val wTouched = Silver.watches(whTouched)
        // sk → natural key is FUNCTIONAL but not necessarily row-unique
        // (duplicate source rows can mint two dim rows with one sk —
        // the trades_history tie shape), so the recovery maps dedup or
        // the join would multiply fact rows
        val custMap = dimCustomer2.select(col("sk_customer_id"), col("customer_id"))
          .distinct()
        val secMap = dimSecurity2
          .select(col("sk_security_id"), col("symbol")).distinct()
        val factWTouched = Gold.factWatches(wTouched, dimCustomer2, dimSecurity2)
          .join(custMap, Seq("sk_customer_id")).join(secMap, Seq("sk_security_id"))
        val existingFw = existing("fact_watches")
          .join(custMap, Seq("sk_customer_id")).join(secMap, Seq("sk_security_id"))
        Map(
          "watches_history" -> Incremental.mergeFactBatch(
            existing("watches_history"), keys, whTouched, Seq("customer_id", "symbol")),
          "watches" -> Incremental.mergeFactBatch(
            existing("watches"), keys, wTouched, Seq("customer_id", "symbol")),
          "fact_watches" -> Incremental.mergeFactBatch(
            existingFw, keys, factWTouched, Seq("customer_id", "symbol"))
            .drop("customer_id", "symbol"))
      }

    // daily-market stream: the 52-week windows are per-symbol local, so
    // touched symbols' FULL price history rebuilds through the same
    // silver window and merges by symbol (append-only batches mean
    // existing rows never see future data, but the full-key rebuild
    // makes the merge correct without leaning on that). The market FACT
    // is also dirtied by the FINWIRE spine: SEC-touched symbols (their
    // dim_security versions changed) and FIN-touched companies' symbols
    // (new wrk quarters join old market rows BY sk_company_id,
    // non-temporally) — those symbols' fact rows rebuild against the
    // merged dims even when no market delta arrived.
    val dmDelta = batch2.get("daily_market")
    val dmSilverSyms = dmDelta.map(_.select(col("dm_s_symb")).distinct())
    val dailyMarket2 = dmDelta match {
      case Some(_) =>
        val syms = dmSilverSyms.get
        val touched = unioned("daily_market").join(syms, Seq("dm_s_symb"), "left_semi")
        Incremental.mergeFactBatch(existing("daily_market"), syms,
          mat("daily_market_touched", Silver.dailyMarket(touched)),
          Seq("dm_s_symb"))
      case None => existing("daily_market")
    }
    val fmhSymFrames = dmSilverSyms.toSeq ++
      secTouchedSyms.map(_.select(col("symbol").as("dm_s_symb"))).toSeq ++
      finTouchedCompanies.map(keys => securities2
        .join(keys, Seq("company_id"), "left_semi")
        .select(col("symbol").as("dm_s_symb")).distinct()).toSeq
    val dmModels: Map[String, DataFrame] =
      fmhSymFrames.reduceOption(_.unionByName(_)).map(_.distinct()) match {
        case Some(syms) =>
          val wrk = Gold.wrkCompanyFinancials(financials2, dimCompany2)
          val secMap = dimSecurity2
            .select(col("sk_security_id"), col("symbol").as("dm_s_symb")).distinct()
          val dmRows = dailyMarket2.join(syms, Seq("dm_s_symb"), "left_semi")
          val fmhTouched = Gold.factMarketHistory(dmRows, dimSecurity2, wrk)
            .join(secMap, Seq("sk_security_id"))
          val existingFmh = existing("fact_market_history")
            .join(secMap, Seq("sk_security_id"))
          dmDelta.map(_ => Map("daily_market" -> dailyMarket2))
            .getOrElse(Map.empty[String, DataFrame]) +
            ("fact_market_history" -> Incremental.mergeFactBatch(
              existingFmh, syms, fmhTouched, Seq("dm_s_symb"))
              .drop("dm_s_symb"))
        case None => Map.empty
      }

    // holdings stream: holding rows are dirty when their event batch
    // arrives, when either of the trades they reference (current or
    // PREVIOUS — fact_holdings joins dim_trade twice) is touched by the
    // trade delta (a touched trade's rebuilt trades/dim_trade row
    // changes the joined attributes), OR when their trade's SYMBOL got
    // a new security version — fact_holdings joins dim_security
    // NON-temporally (all versions), so a SEC delta adds a fact row per
    // new version to every holding row of that symbol. Dirty keys'
    // rows rebuild against the MERGED trades/dim_trade/dim_security and
    // merge by trade_id.
    val hhDelta = batch2.get("holding_history")
    val holdingModels: Map[String, DataFrame] =
      if (hhDelta.isEmpty && tradeDelta.isEmpty && thDelta.isEmpty &&
          secTouchedSyms.isEmpty) Map.empty
      else {
        val touchedTradeIds =
          (hhDelta.map(_.select(col("hh_t_id").as("trade_id"))).toSeq ++
            hhDelta.map(_.select(col("hh_h_t_id").as("trade_id"))).toSeq ++
            tradeDelta.map(_.select(col("t_id").as("trade_id"))).toSeq ++
            thDelta.map(_.select(col("th_t_id").as("trade_id"))).toSeq ++
            secTouchedSyms.map(syms => unioned("trade")
              .join(syms.select(col("symbol").as("t_s_symb")),
                Seq("t_s_symb"), "left_semi")
              .select(col("t_id").as("trade_id"))).toSeq)
            .reduce(_.unionByName(_)).distinct()
        val hh = unioned("holding_history")
        val dirtyKeys = hh
          .join(touchedTradeIds.select(col("trade_id").as("hh_t_id")),
            Seq("hh_t_id"), "left_semi")
          .select(col("hh_t_id"))
          .unionByName(hh
            .join(touchedTradeIds.select(col("trade_id").as("hh_h_t_id")),
              Seq("hh_h_t_id"), "left_semi")
            .select(col("hh_t_id")))
          .distinct().select(col("hh_t_id").as("trade_id"))
        val touchedHh = hh.join(dirtyKeys.select(col("trade_id").as("hh_t_id")),
          Seq("hh_t_id"), "left_semi")
        val trades2 = tradeModels.getOrElse("trades", existing("trades"))
        val dimTrade2 = tradeModels.getOrElse("dim_trade", existing("dim_trade"))
        val hhTouched = mat("holdings_history_touched",
          Silver.holdingsHistory(touchedHh, trades2))
        // dedup: duplicate (trade_id, ts) source rows mint two dim_trade
        // rows sharing one sk (the trades_history tie shape) — without
        // distinct() this recovery join would multiply fact rows
        val tradeMap = dimTrade2.select(
          col("sk_trade_id").as("sk_current_trade_id"), col("trade_id"))
          .distinct()
        val factHTouched = Gold.factHoldings(hhTouched, dimTrade2,
            dimAccount2, dimSecurity2)
          .join(tradeMap, Seq("sk_current_trade_id"))
        val existingFh = existing("fact_holdings")
          .join(tradeMap, Seq("sk_current_trade_id"))
        Map(
          "holdings_history" -> Incremental.mergeFactBatch(
            existing("holdings_history"), dirtyKeys, hhTouched, Seq("trade_id")),
          "fact_holdings" -> Incremental.mergeFactBatch(
            existingFh, dirtyKeys, factHTouched, Seq("trade_id"))
            .drop("trade_id"))
      }

    // final DAG: merged models and untouched pass-throughs are injected
    // as overrides, so (a) every affected model's recompute reads the
    // MERGED dims (fact_cash_transactions → merged dim_account,
    // fact_holdings → merged trades/dim_trade, …), and (b) models the
    // delta can't reach are the existing frames verbatim — nothing
    // re-derives a full rebuild of anything
    val merged = tradeModels ++ cashModels ++ watchModels ++ dmModels ++
      holdingModels ++ finwireModels ++ Map(
      "accounts" -> accounts2, "customers" -> customers2,
      "dim_customer" -> dimCustomer2, "dim_account" -> dimAccount2)
    val passThrough = existingByName.filter { case (n, _) =>
      !affected(n) && !merged.contains(n)
    }
    new Warehouse(unioned, mat, overrides = passThrough ++ merged)
  }

  /** [[applyBatch2]] straight from batch directories (DIGen-style file
    * layouts; the delta directory holds the same file shapes as Batch1).
    */
  def applyBatch2Dir(spark: SparkSession, batch1Dir: String,
                     batch2Dir: String): Map[String, DataFrame] =
    applyBatch2(fromBatchDir(spark, batch1Dir),
      Loader.loadAll(spark, batch2Dir))

  /** Chained [[applyBatch]] straight from batch directories — the full
    * TPC-DI batch sequence (Batch2, Batch3, …) applied in order, each
    * step merging only its delta's reach (gate q49 pins the chained
    * equality).
    */
  def applyBatchDirs(spark: SparkSession, batch1Dir: String,
                     deltaDirs: Seq[String]): Map[String, DataFrame] =
    deltaDirs.foldLeft(fromBatchDir(spark, batch1Dir)) { (wh, d) =>
      applyBatch(wh, Loader.loadAll(spark, d))
    }.all.toMap
}
