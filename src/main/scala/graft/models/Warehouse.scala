package graft.models

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-DI warehouse as one memoised evaluation of the [[Dag]]
  * table: `wh("fact_trade")` builds a model from its dependencies' frames,
  * at most once per Warehouse instance (one lazy cell per model, the
  * only place a node's `fn` meets `mat`). Spark keeps everything lazy
  * until a sink materializes it (the Dynamic Table refresh semantics
  * reduce to batch recompute in dependency order, SURVEY §2.9). [[all]]
  * forces the models in declared order; [[Dag.force]] schedules them.
  *
  * `mat` is the materialization hook, applied to every model as it is
  * first evaluated. Default = identity (fully lazy, for composition).
  * `Warehouse.build` passes [[Warehouse.writeThenRead]], which is dbt's
  * semantics: each model computes ONCE and downstream models scan its
  * table — without it, every gold fact re-derives its whole upstream
  * from the raw files (measured 2× the total build time on
  * fact_holdings alone at 500k trades). Each table swaps in atomically
  * ([[Warehouse.publish]]: a staging copy, then a rename), as a
  * dynamic-table refresh does, so a failed build leaves every model's
  * last good table in place.
  *
  * `overrides` replaces a model wholesale (its upstream plan is never
  * built, and `mat` never sees it); `rules`, given this Warehouse's own
  * models, may hand a cell a frame for `mat` in place of its `fn` — how
  * [[Warehouse.applyBatch]] refreshes.
  *
  * @param sources the 17 loader tables (Loader.loadAll or test fixtures)
  * @param mat     materialization hook (name, plan) => DataFrame seen
  *                by downstream models
  */
final class Warehouse private[models] (
    val sources: Map[String, DataFrame],
    mat: (String, DataFrame) => DataFrame,
    overrides: Map[String, DataFrame],
    rules: (String => DataFrame) => Map[String, () => Option[DataFrame]]) {

  def this(sources: Map[String, DataFrame],
           mat: (String, DataFrame) => DataFrame = (_, df) => df,
           overrides: Map[String, DataFrame] = Map.empty) =
    this(sources, mat, overrides, _ => Map.empty)

  private final class Cell(f: => DataFrame) { lazy val df: DataFrame = f }

  private val nodes = Dag.nodes(sources)
  private val ruleOf = rules(apply)
  private val cells: Map[String, Cell] = nodes.map { n =>
    def recompute = n.fn(n.deps.map(d => d -> apply(d)).toMap)
    n.name -> new Cell(overrides.getOrElse(n.name,
      mat(n.name, ruleOf.get(n.name).flatMap(_()).getOrElse(recompute))))
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

  /** dbt's `table` materialization: [[publish]] the model's parquet
    * under `outDir` and hand back the table read from it.
    */
  def writeThenRead(spark: SparkSession, outDir: String): (String, DataFrame) => DataFrame =
    (name, df) => {
      publish(spark, outDir)(name, df)
      spark.read.parquet(s"$outDir/$name")
    }

  /** Atomically replace the parquet table `<outDir>/<name>` with `df`,
    * the swap a dynamic-table refresh makes: write a complete
    * `<name>.staging` copy, rename the current table (if any) to
    * `<name>.old`, rename the staging copy into place, then delete the
    * old copy. At every instant a complete table exists on disk, so a
    * failed write leaves the last good table where it was (an in-place
    * overwrite is delete-then-write: a mid-job failure would destroy the
    * only copy).
    */
  def publish(spark: SparkSession, outDir: String)(name: String, df: DataFrame): Unit = {
    val path = new Path(s"$outDir/$name")
    val staging = path.suffix(".staging")
    val old = path.suffix(".old")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def renameOrFail(src: Path, dst: Path): Unit =
      require(fs.rename(src, dst), s"warehouse publish rename failed: $src -> $dst")
    // Crash recovery BEFORE touching the table: a prior publish may have
    // died between the two renames — table absent, <name>.old holding the
    // only good copy. Restore it, then clear any stale staging/old dirs so
    // the renames below cannot silently no-op (or nest dirs on HDFS)
    // against leftover targets.
    if (!fs.exists(path) && fs.exists(old)) {
      require(fs.rename(old, path),
        s"warehouse publish recovery failed: cannot restore $old -> $path")
    }
    if (fs.exists(staging)) fs.delete(staging, true)
    if (fs.exists(old)) fs.delete(old, true)
    df.write.mode("overwrite").parquet(staging.toString)
    if (fs.exists(path)) renameOrFail(path, old)
    renameOrFail(staging, path)
    fs.delete(old, true)
  }

  /** Materialize every model to parquet under outDir in dependency
    * order — the dbt-build analog (zone target_lag reduces to batch
    * recompute, SURVEY §3.2-3.3): [[Dag.force]] at parallelism 1, so the
    * serial and parallel builds share one failure contract. Each model
    * is computed exactly once and every downstream model reads the
    * written table instead of re-deriving the upstream plan.
    *
    * Returns the materialized Warehouse (all models backed by parquet).
    */
  def build(spark: SparkSession, sources: Map[String, DataFrame],
            outDir: String): Warehouse = {
    val wh = new Warehouse(sources, writeThenRead(spark, outDir))
    Dag.force(wh, parallelism = 1)
    wh
  }

  /** Warehouse-level Batch2/3 refresh — the incremental path the
    * reference names as future work (README.md:325, SURVEY §7.6) — as a
    * model map: [[applyBatch]]'s 44 models.
    */
  def applyBatch2(existing: Warehouse, batch2: Map[String, DataFrame],
                  mat: (String, DataFrame) => DataFrame = (_, df) => df)
      : Map[String, DataFrame] =
    applyBatch(existing, batch2, mat).all.toMap

  /** The source streams [[mergeRules]] maintain. A delta touching any
    * other source (a lookup table like tax_rate or trade_type, HR, the
    * date file) degrades the whole apply to a plain full refresh over
    * the unioned sources: a new lookup row changes the joined values of
    * UNTOUCHED entities, which no entity-scoped merge can see.
    */
  private[models] val incrementalSources =
    Set("customer_mgmt", "trade", "trade_history", "cash_transaction",
      "watch_history", "daily_market", "holding_history",
      "cmp", "sec", "fin")

  /** Apply one batch of per-source DELTA frames (the shapes the Batch1
    * loader produces; only sources with new data need appear) to
    * `existing`. The result is a Warehouse over the unioned sources in
    * which each model gets exactly one treatment:
    *
    *  1. the delta cannot reach it ([[Dag.downstream]] of the delta's
    *     bronze models excludes it): the existing frame, as an override
    *     — the FINWIRE spine skips entirely for a brokerage/CRM batch,
    *     and `mat` never sees it;
    *  2. a [[mergeRules]] rule covers it and returns the whole refreshed
    *     model, which its cell passes through `mat`;
    *  3. anything else: its cell's node `fn` over the refreshed
    *     dependencies, through `mat` — e.g. dim_customer/dim_account
    *     recompute dim-sized over the refreshed silver dims (a new version
    *     must be able to re-close its neighbours' end timestamps).
    *
    * The rules read the refreshed models from that same Warehouse, so
    * nothing runs until a model is forced, whatever order forces them:
    * every model the delta reaches passes through `mat` exactly once,
    * and downstream models read the frames `mat` returned. The chaining
    * form: `applyBatch(applyBatch(wh, b2), b3)` applies the
    * TPC-DI batch sequence, and a further apply reads exactly what a
    * materialized deployment has on disk (gate q49 pins the chain equal
    * to a full rebuild over b1∪b2∪b3; q50 audits SCD2 continuity through
    * the double merge). A delta outside [[incrementalSources]] returns
    * `new Warehouse(unioned, mat)`.
    *
    * Assumes standard warehouse batch semantics: delta timestamps are
    * not earlier than the existing watermark (TPC-DI batches are
    * strictly ordered), so closing a previously-current SCD2 version
    * cannot re-route the temporal lookup of an untouched older fact row.
    * Result is model-for-model equal to a full rebuild over
    * batch1 ∪ batch2 (oracle gate q47; kernel gates q27/q32).
    */
  def applyBatch(existing: Warehouse, batch2: Map[String, DataFrame],
                 mat: (String, DataFrame) => DataFrame = (_, df) => df): Warehouse = {
    val unioned = existing.sources.map { case (k, v) =>
      k -> batch2.get(k).map(v.unionByName(_)).getOrElse(v)
    }
    if (!batch2.keySet.subsetOf(incrementalSources)) new Warehouse(unioned, mat)
    else {
      val reached = Dag.downstream(batch2.keySet.map(Dag.sourceModel))
      val kept = Dag.nodes(Map.empty).map(_.name).filterNot(reached)
      new Warehouse(unioned, mat, kept.map(n => n -> existing(n)).toMap,
        r => mergeRules(existing, batch2, mat, r))
    }
  }

  /** The models whose refresh differs from a recompute, keyed by model.
    * A rule is consulted only for a model the delta reaches; it returns
    * the WHOLE refreshed model, or None ("recompute") when its stream
    * has no delta. `r` reads the refreshed models (the refreshed
    * Warehouse itself; a rule reads only models upstream of its own).
    * The rules of one stream
    * share that stream's touched-key frames as lazy values, and the
    * rebuilt touched slices go through `mat` under `<model>_touched` /
    * `<model>_new` names.
    *
    *  - accounts / customers / companies: [[Incremental.mergeScd2Batch]]
    *    of the delta routed through the SAME bronze→silver projection
    *    as the full model — shuffle volume scales with touched entities.
    *  - securities / financials: touched symbols' / companies' FULL
    *    record history rebuilds and merges by key; under a CMP-only
    *    delta both stay as they are (an old security or quarter row
    *    still matches its, possibly re-closed, company version under the
    *    watermark), and their gold dims recompute over the refreshed
    *    companies.
    *  - trades_history / trades / dim_trade / fact_trade: the
    *    per-trade-local chain rebuilds ONLY the touched trades (their
    *    full history) and merges by trade_id; without a trade delta
    *    fact_trade stays as it is.
    *  - cash_transactions / fact_cash_transactions: append-local given
    *    the dims, so the delta's chain output APPENDS; fact_cash_balances
    *    rebuilds only the groups the new rows touch.
    *  - watches_history / watches / fact_watches, daily_market /
    *    fact_market_history, holdings_history / fact_holdings: touched
    *    keys' full input history rebuilds through the same chain and
    *    merges by key (dirty-key sources are noted per stream below).
    *
    * Facts that replaced their natural keys with surrogate keys recover
    * the merge grain through the dims; the sk→key maps are DEDUPLICATED
    * (duplicate source rows can mint two dim rows sharing one sk — the
    * trades_history tie shape — and an undeduped recovery join would
    * silently multiply fact rows; caught by gate q47's 18-model diff).
    */
  private[models] def mergeRules(existing: Warehouse, delta: Map[String, DataFrame],
                                 mat: (String, DataFrame) => DataFrame,
                                 r: String => DataFrame)
      : Map[String, () => Option[DataFrame]] = {
    def merge(model: String, keys: DataFrame, rebuilt: DataFrame,
              keyCols: String*): DataFrame =
      Incremental.mergeFactBatch(existing(model), keys, rebuilt, keyCols)
    // a fact keyed by surrogate keys merges on the natural key `withKey`
    // recovers on both sides
    def mergeRecovered(model: String, withKey: DataFrame => DataFrame, keys: DataFrame,
                       rebuilt: DataFrame, keyCols: String*): DataFrame =
      Incremental.mergeFactBatch(withKey(existing(model)), keys, withKey(rebuilt), keyCols)
        .drop(keyCols: _*)
    def unionAll(frames: Seq[DataFrame]): Option[DataFrame] =
      frames.reduceOption(_.unionByName(_)).map(_.distinct())

    val crm = delta.get("customer_mgmt")
    val cmp = delta.get("cmp")
    val secSyms = delta.get("sec").map(d =>
      Finwire.secTyped(d).select(col("symbol")).distinct())
    // the delta's company keys, resolved through the same dual-key
    // (cik-or-name) join as the full model
    lazy val finKeys = delta.get("fin").map(d =>
      Silver.financials(Finwire.finTyped(d), r("companies"))
        .select(col("company_id")).distinct())

    val tradeIds = unionAll(
      delta.get("trade").map(_.select(col("t_id").as("trade_id"))).toSeq ++
        delta.get("trade_history").map(_.select(col("th_t_id").as("trade_id"))).toSeq)
    lazy val thTouched = tradeIds.map(ids => mat("trades_history_touched",
      Silver.tradesHistory(
        r("brokerage_trade").join(
          ids.select(col("trade_id").as("t_id")), Seq("t_id"), "left_semi"),
        r("brokerage_trade_history").join(
          ids.select(col("trade_id").as("th_t_id")), Seq("th_t_id"), "left_semi"),
        r("reference_trade_type"), r("reference_status_type"))))
    lazy val dimTradeTouched =
      thTouched.map(th => mat("dim_trade_touched", Gold.dimTrade(th)))

    // a new transaction's temporal lookup can't re-route an old row's
    // (watermark), so the ledger chain appends
    lazy val cashNew = delta.get("cash_transaction").map(d =>
      mat("cash_transactions_new", Silver.cashTransactions(d, r("accounts"))))
    lazy val factCashNew = cashNew.map(c => mat("fact_cash_transactions_new",
      Gold.factCashTransactions(c, r("dim_account"))))

    // dirty (customer, symbol) keys come from the watch delta AND from
    // SEC-touched symbols: watches_history joins securities
    // NON-temporally (all versions), so a new security version changes
    // every watch row of its symbol
    val watchKey = Seq("customer_id", "symbol")
    lazy val watchKeys = unionAll(
      delta.get("watch_history").map(_.select(col("w_c_id").as("customer_id"),
        col("w_s_symb").as("symbol"))).toSeq ++
        secSyms.map(syms => r("brokerage_watch_history")
          .join(syms.select(col("symbol").as("w_s_symb")), Seq("w_s_symb"), "left_semi")
          .select(col("w_c_id").as("customer_id"), col("w_s_symb").as("symbol"))).toSeq)
    lazy val whTouched = watchKeys.map(keys => mat("watches_history_touched",
      Silver.watchesHistory(r("brokerage_watch_history").join(
        keys.select(col("customer_id").as("w_c_id"), col("symbol").as("w_s_symb")),
        Seq("w_c_id", "w_s_symb"), "left_semi"), r("securities"))))
    lazy val watchesTouched = whTouched.map(Silver.watches)

    // the 52-week windows are per-symbol local; the full-key rebuild
    // keeps the merge correct without leaning on append-only batches
    val dmSyms = delta.get("daily_market").map(_.select(col("dm_s_symb")).distinct())
    // the market FACT is also dirtied by the FINWIRE spine: SEC-touched
    // symbols (new dim_security versions) and FIN-touched companies'
    // symbols (new wrk quarters join old market rows BY sk_company_id,
    // non-temporally)
    lazy val fmhSyms = unionAll(dmSyms.toSeq ++
      secSyms.map(_.select(col("symbol").as("dm_s_symb"))).toSeq ++
      finKeys.map(keys => r("securities").join(keys, Seq("company_id"), "left_semi")
        .select(col("symbol").as("dm_s_symb"))).toSeq)

    // holding rows are dirty when their event batch arrives, when either
    // trade they reference (current or PREVIOUS — fact_holdings joins
    // dim_trade twice) is touched, OR when their trade's symbol got a
    // new security version (fact_holdings joins dim_security
    // NON-temporally, so a SEC delta adds a fact row per new version)
    val hhDelta = delta.get("holding_history")
    lazy val dirtyHoldings = unionAll(
      hhDelta.map(_.select(col("hh_t_id").as("trade_id"))).toSeq ++
        hhDelta.map(_.select(col("hh_h_t_id").as("trade_id"))).toSeq ++
        tradeIds.toSeq ++
        secSyms.map(syms => r("brokerage_trade")
          .join(syms.select(col("symbol").as("t_s_symb")), Seq("t_s_symb"), "left_semi")
          .select(col("t_id").as("trade_id"))).toSeq)
      .map { ids =>
        val hh = r("brokerage_holding_history")
        hh.join(ids.select(col("trade_id").as("hh_t_id")), Seq("hh_t_id"), "left_semi")
          .select(col("hh_t_id"))
          .unionByName(hh
            .join(ids.select(col("trade_id").as("hh_h_t_id")), Seq("hh_h_t_id"), "left_semi")
            .select(col("hh_t_id")))
          .distinct().select(col("hh_t_id").as("trade_id"))
      }
    lazy val hhTouched = dirtyHoldings.map(keys => mat("holdings_history_touched",
      Silver.holdingsHistory(r("brokerage_holding_history").join(
        keys.select(col("trade_id").as("hh_t_id")), Seq("hh_t_id"), "left_semi"),
        r("trades"))))

    Map(
      "accounts" -> (() => crm.map(d => Incremental.mergeScd2Batch(existing("accounts"),
        Silver.accountsBase(d, r("reference_tax_rate")), Seq("account_id"), "action_ts"))),
      "customers" -> (() => crm.map(d => Incremental.mergeScd2Batch(existing("customers"),
        Silver.customersBase(d, r("reference_tax_rate")), Seq("customer_id"), "action_ts"))),
      "companies" -> (() => cmp.map(d => Incremental.mergeScd2Batch(existing("companies"),
        Silver.companiesBase(d, r("reference_status_type"), r("reference_industry")),
        Seq("company_id"), "pts"))),
      "securities" -> (() => Some(secSyms.fold(existing("securities")) { syms =>
        merge("securities", syms, Silver.securities(
          r("finwire_security").join(syms, Seq("symbol"), "left_semi"), r("companies")),
          "symbol")
      })),
      // the key-attribute frame is dim-sized, so the OR-keyed history
      // restriction broadcasts
      "financials" -> (() => Some(finKeys.fold(existing("financials")) { keys =>
        val keyAttrs = r("companies").join(keys, Seq("company_id"), "left_semi")
          .select(col("company_id").as("__fk_id"), col("name").as("__fk_name"))
          .distinct()
        val fin = r("finwire_financial")
        val touched = fin.join(broadcast(keyAttrs),
          fin("cik") === col("__fk_id") || fin("company_name") === col("__fk_name"),
          "left_semi")
        merge("financials", keys, Silver.financials(touched, r("companies")), "company_id")
      })),

      "trades_history" -> (() => for (ids <- tradeIds; th <- thTouched)
        yield merge("trades_history", ids, th, "trade_id")),
      "trades" -> (() => for (ids <- tradeIds; th <- thTouched)
        yield merge("trades", ids, Silver.trades(th), "trade_id")),
      "dim_trade" -> (() => for (ids <- tradeIds; dt <- dimTradeTouched)
        yield merge("dim_trade", ids, dt, "trade_id")),
      "fact_trade" -> (() => Some((for {
        ids <- tradeIds; th <- thTouched; dt <- dimTradeTouched
      } yield {
        def tradeMap(dimTrade: DataFrame) =
          dimTrade.select(col("sk_trade_id"), col("trade_id"))
        // the existing fact lacks the grain key: recover it through
        // dim_trade exactly as the rebuilt side does
        val rebuilt = Gold.factTrade(Silver.trades(th), dt, r("dim_account"),
          r("dim_security")).join(tradeMap(dt), Seq("sk_trade_id"))
        Incremental.mergeFactBatch(
          existing("fact_trade").join(tradeMap(existing("dim_trade")), Seq("sk_trade_id")),
          ids, rebuilt, Seq("trade_id")).drop("trade_id")
      }).getOrElse(existing("fact_trade")))),

      "cash_transactions" -> (() =>
        cashNew.map(existing("cash_transactions").unionByName(_))),
      "fact_cash_transactions" -> (() =>
        factCashNew.map(existing("fact_cash_transactions").unionByName(_))),
      "fact_cash_balances" -> (() => factCashNew.map { f =>
        val keys = Seq("sk_customer_id", "sk_account_id", "sk_transaction_date",
          "description")
        val groups = f.select(keys.map(col): _*).distinct()
        merge("fact_cash_balances", groups, Gold.factCashBalances(
          r("fact_cash_transactions").join(groups, keys, "left_semi")), keys: _*)
      }),

      "watches_history" -> (() => for (keys <- watchKeys; wh <- whTouched)
        yield merge("watches_history", keys, wh, watchKey: _*)),
      "watches" -> (() => for (keys <- watchKeys; w <- watchesTouched)
        yield merge("watches", keys, w, watchKey: _*)),
      "fact_watches" -> (() => for (keys <- watchKeys; w <- watchesTouched) yield {
        val custMap = r("dim_customer").select(col("sk_customer_id"), col("customer_id"))
          .distinct()
        val secMap = r("dim_security").select(col("sk_security_id"), col("symbol"))
          .distinct()
        mergeRecovered("fact_watches",
          _.join(custMap, Seq("sk_customer_id")).join(secMap, Seq("sk_security_id")), keys,
          Gold.factWatches(w, r("dim_customer"), r("dim_security")), watchKey: _*)
      }),

      "daily_market" -> (() => dmSyms.map(syms => merge("daily_market", syms,
        mat("daily_market_touched", Silver.dailyMarket(
          r("brokerage_daily_market").join(syms, Seq("dm_s_symb"), "left_semi"))),
        "dm_s_symb"))),
      "fact_market_history" -> (() => fmhSyms.map { syms =>
        val secMap = r("dim_security")
          .select(col("sk_security_id"), col("symbol").as("dm_s_symb")).distinct()
        mergeRecovered("fact_market_history", _.join(secMap, Seq("sk_security_id")), syms,
          Gold.factMarketHistory(
            r("daily_market").join(syms, Seq("dm_s_symb"), "left_semi"), r("dim_security"),
            Gold.wrkCompanyFinancials(r("financials"), r("dim_company"))),
          "dm_s_symb")
      }),

      "holdings_history" -> (() => for (keys <- dirtyHoldings; hh <- hhTouched)
        yield merge("holdings_history", keys, hh, "trade_id")),
      "fact_holdings" -> (() => for (keys <- dirtyHoldings; hh <- hhTouched) yield {
        val tradeMap = r("dim_trade")
          .select(col("sk_trade_id").as("sk_current_trade_id"), col("trade_id")).distinct()
        mergeRecovered("fact_holdings", _.join(tradeMap, Seq("sk_current_trade_id")), keys,
          Gold.factHoldings(hh, r("dim_trade"), r("dim_account"), r("dim_security")),
          "trade_id")
      }))
  }

  /** Chained [[applyBatch]] straight from batch directories
    * (DIGen-style file layouts; each delta directory holds the same
    * file shapes as Batch1) — the full TPC-DI batch sequence (Batch2,
    * Batch3, …) applied in order, each step merging only its delta's
    * reach (gate q49 pins the chained equality). This is the
    * dynamic-table refresh on arrival of new files: `LoaderCli --batch2`
    * publishes its result model by model through [[publish]].
    */
  def applyBatchDirs(spark: SparkSession, batch1Dir: String,
                     deltaDirs: Seq[String]): Map[String, DataFrame] =
    deltaDirs.foldLeft(fromBatchDir(spark, batch1Dir)) { (wh, d) =>
      applyBatch(wh, Loader.loadAll(spark, d))
    }.all.toMap
}
