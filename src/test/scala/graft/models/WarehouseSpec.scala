package graft.models

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end DAG test: tiny literal fixtures for all 17 sources pushed
  * through every silver and gold model, asserting the reference's
  * semantics (SCD2 chains, temporal lookups, gap-fill, surrogate-key
  * uniqueness — tests/fact_trade__unique_trade.sql).
  */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private val crmSchema = StructType(Seq(
    StructField("action_ts", TimestampType), StructField("action_type", StringType),
    StructField("c_id", LongType), StructField("c_tax_id", StringType),
    StructField("c_gndr", StringType), StructField("c_tier", LongType),
    StructField("c_dob", DateType), StructField("c_l_name", StringType),
    StructField("c_f_name", StringType), StructField("c_m_name", StringType),
    StructField("c_adline1", StringType), StructField("c_adline2", StringType),
    StructField("c_zipcode", StringType), StructField("c_city", StringType),
    StructField("c_state_prov", StringType), StructField("c_ctry", StringType),
    StructField("c_prim_email", StringType), StructField("c_alt_email", StringType),
    StructField("c_phone_1", StringType), StructField("c_phone_2", StringType),
    StructField("c_phone_3", StringType), StructField("c_lcl_tx_id", StringType),
    StructField("c_nat_tx_id", StringType), StructField("ca_id", StringType),
    StructField("ca_tax_st", LongType), StructField("ca_b_id", LongType),
    StructField("ca_name", StringType)))

  private def crm(vals: (String, Any)*): Row = {
    val m = vals.toMap
    Row.fromSeq(crmSchema.fields.map(f => m.getOrElse(f.name, null)).toSeq)
  }

  private lazy val wh: Warehouse = {
    val customerMgmt = spark.createDataFrame(
      java.util.Arrays.asList(
        crm("action_ts" -> ts("2020-01-05 09:00:00"), "action_type" -> "NEW",
          "c_id" -> 42L, "c_tax_id" -> "TX42", "c_gndr" -> "F", "c_tier" -> 2L,
          "c_dob" -> d("1986-04-11"), "c_l_name" -> "Doe", "c_f_name" -> "Jane",
          "c_adline1" -> "1 Elm St", "c_zipcode" -> "94105", "c_city" -> "SF",
          "c_state_prov" -> "CA", "c_ctry" -> "USA", "c_prim_email" -> "j@x.com",
          "c_lcl_tx_id" -> "CA1", "c_nat_tx_id" -> "US1",
          "ca_id" -> "7", "ca_tax_st" -> 1L, "ca_b_id" -> 1L, "ca_name" -> "Main"),
        crm("action_ts" -> ts("2020-03-01 09:00:00"), "action_type" -> "UPDCUST",
          "c_id" -> 42L, "c_city" -> "Oakland"),  // sparse update: rest null
        crm("action_ts" -> ts("2020-04-01 09:00:00"), "action_type" -> "ADDACCT",
          "c_id" -> 42L, "ca_id" -> "8", "ca_tax_st" -> 2L, "ca_b_id" -> 1L,
          "ca_name" -> "Second"),
        crm("action_ts" -> ts("2020-01-06 09:00:00"), "action_type" -> "NEW",
          "c_id" -> 43L, "c_tax_id" -> "TX43", "c_gndr" -> "M", "c_tier" -> 1L,
          "c_dob" -> d("1990-01-01"), "c_l_name" -> "Roe", "c_f_name" -> "Rick",
          "c_adline1" -> "2 Oak St", "c_zipcode" -> "10001", "c_city" -> "NYC",
          "c_state_prov" -> "NY", "c_ctry" -> "USA",
          "c_lcl_tx_id" -> "CA1", "c_nat_tx_id" -> "US1",
          "ca_id" -> "9", "ca_tax_st" -> 1L, "ca_b_id" -> 1L, "ca_name" -> "Solo")),
      crmSchema)

    // FINWIRE raw extracts via the real fixed-width parser
    val pad = (s: String, n: Int) => s.padTo(n, ' ')
    def cmpLine(ptsS: String, name: String, cik: String) =
      pad(ptsS, 15) + "CMP" + pad(name, 60) + pad(cik, 10) + pad("ACTV", 4) +
        "AB" + pad("AAA", 4) + pad("19870105", 8) + pad("1 Main St", 80) +
        pad("", 80) + pad("94105", 12) + pad("SF", 25) + pad("CA", 20) +
        pad("USA", 24) + pad("Jane Doe", 46) + pad("Stuff", 150)
    def secLine(ptsS: String, sym: String, cik: String) =
      pad(ptsS, 15) + "SEC" + pad(sym, 15) + pad("COMMON", 6) + pad("ACTV", 4) +
        pad(s"$sym Common", 70) + pad("NYSE", 6) + pad("1000000", 13) +
        pad("19870106", 8) + pad("19870107", 8) + pad("0.42", 12) + pad(cik, 60)
    def finLine(ptsS: String, q: String, qStart: String, eps: String, cik: String) =
      pad(ptsS, 15) + "FIN" + "2020" + q + pad(qStart, 8) + pad("20200315", 8) +
        pad("1000000.5", 17) + pad("250000.25", 17) + pad(eps, 12) +
        pad("1.20", 12) + pad("0.25", 12) + pad("50000", 17) + pad("2000000", 17) +
        pad("750000", 17) + pad("1000000", 13) + pad("1050000", 13) + pad(cik, 60)
    val finwire = Finwire.parsePrefix(Seq(
      cmpLine("20200101-090000", "Acme Corporation", "0000012345"),
      cmpLine("20200601-090000", "Acme Corporation", "0000012345"),
      secLine("20200201-090000", "ACME", "0000012345"),
      finLine("20200315-170000", "1", "20200101", "1.25", "0000012345"),
      finLine("20200620-170000", "2", "20200401", "1.10", "0000012345"))
      .toDF("value"))

    new Warehouse(Map(
      "cash_transaction" -> Seq(
        (7L, ts("2020-03-15 12:00:00"), 100.0, "deposit"),
        (7L, ts("2020-03-15 13:00:00"), -40.0, "withdrawal"))
        .toDF("ct_ca_id", "ct_dts", "ct_amt", "ct_name"),
      "daily_market" -> Seq(
        (d("2020-03-02"), "ACME", 10.0, 11.0, 9.0, 1000.0),
        (d("2020-03-03"), "ACME", 10.5, 12.0, 10.0, 1100.0),
        (d("2020-03-04"), "ACME", 11.0, 12.5, 8.5, 1200.0),
        (d("2020-03-05"), "ACME", 11.5, 13.0, 10.5, 1300.0),
        (d("2020-03-06"), "ACME", 12.0, 14.0, 11.0, 1400.0))
        .toDF("dm_date", "dm_s_symb", "dm_close", "dm_high", "dm_low", "dm_vol"),
      "holding_history" -> Seq((100L, 100L, 0.0, 10.0), (100L, 101L, 10.0, 5.0))
        .toDF("hh_h_t_id", "hh_t_id", "hh_before_qty", "hh_after_qty"),
      "trade" -> Seq(
        (100L, ts("2020-03-10 10:00:00"), "CMPT", "TMB", true, "ACME", 10.0,
          9.5, 7L, "Jane Doe", 10.1, 1.0, 0.5, 0.2),
        (101L, ts("2020-03-11 10:00:00"), "CNCL", "TMS", false, "ACME", 5.0,
          11.0, 7L, "Jane Doe", 0.0, 1.0, 0.5, 0.0))
        .toDF("t_id", "t_dts", "t_st_id", "t_tt_id", "t_is_cash", "t_s_symb",
          "t_qty", "t_bid_price", "t_ca_id", "t_exec_name", "t_trade_price",
          "t_chrg", "t_comm", "t_tax"),
      "trade_history" -> Seq(
        (100L, ts("2020-03-10 10:00:00"), "SBMT"),
        (100L, ts("2020-03-10 11:00:00"), "CMPT"),
        (101L, ts("2020-03-11 10:00:00"), "SBMT"),
        (101L, ts("2020-03-11 11:00:00"), "CNCL"))
        .toDF("th_t_id", "th_dts", "th_st_id"),
      "watch_history" -> Seq(
        (42L, "ACME", ts("2020-02-10 09:00:00"), "ACTV"),
        (42L, "ACME", ts("2020-05-01 09:00:00"), "CNCL"),
        (43L, "ACME", ts("2020-02-15 09:00:00"), "ACTV"))
        .toDF("w_c_id", "w_s_symb", "w_dts", "w_action"),
      "customer_mgmt" -> customerMgmt,
      "cmp" -> Finwire.cmp(finwire),
      "sec" -> Finwire.sec(finwire),
      "fin" -> Finwire.fin(finwire),
      "hr" -> Seq((1, 0, "Bob", "Broker", "B", 314, "HQ", "1F", "555"))
        .toDF("employee_id", "manager_id", "employee_first_name",
          "employee_last_name", "employee_mi", "employee_job_code",
          "employee_branch", "employee_office", "employee_phone"),
      "date" -> Seq((20200302, d("2020-03-02"), "March 2, 2020", 2020))
        .toDF("sk_date_id", "date_value", "date_desc", "calendar_year_id"),
      "industry" -> Seq(("AB", "Airlines", "SC1"))
        .toDF("in_id", "in_name", "in_sc_id"),
      "status_type" -> Seq(("ACTV", "Active"), ("CMPT", "Completed"),
        ("CNCL", "Canceled"), ("PNDG", "Pending"), ("SBMT", "Submitted"),
        ("INAC", "Inactive")).toDF("st_id", "st_name"),
      "tax_rate" -> Seq(("US1", "US Federal", 0.30), ("CA1", "California", 0.10))
        .toDF("tx_id", "tx_name", "tx_rate"),
      "trade_type" -> Seq(("TMB", "Market Buy", false, true),
        ("TMS", "Market Sell", true, true)).toDF(
        "tt_id", "tt_name", "tt_is_sell", "tt_is_market"),
      "prospect" -> Seq(("AG1", "Roe", "Rick", "P", "M", "2 Oak St", null,
        "10001", "NYC", "NY", "USA", "555", 90000, 1, 0, "S", 36, 720, "O",
        "ACME", 3, 500000L))
        .toDF("agency_id", "last_name", "first_name", "middle_initial",
          "gender", "address_line1", "address_line2", "postal_code", "city",
          "state", "country", "phone", "income", "number_cars",
          "number_children", "marital_status", "age", "credit_rating",
          "own_or_rent_flag", "employer", "number_credit_cards", "net_worth")))
  }

  test("silver accounts: one SCD2 version per account action, ca filter") {
    val a = wh("accounts").orderBy("account_id").collect()
    a.length shouldBe 3 // ca 7 (NEW), 8 (ADDACCT), 9 (NEW); UPDCUST has null ca
    a.map(_.getAs[String]("account_id")) shouldBe Array("7", "8", "9")
    all(a.map(_.getAs[Boolean]("is_current"))) shouldBe true
    a(0).getAs[Double]("national_tax_rate") shouldBe 0.30
    a(0).getAs[Double]("local_tax_rate") shouldBe 0.10
    a(0).getAs[String]("status") shouldBe "Active"
  }

  test("silver customers: NEW/UPDCUST only, SCD2 chain closes v1") {
    val c42 = wh("customers").filter($"customer_id" === 42).orderBy("effective_timestamp").collect()
    c42.length shouldBe 2
    c42(0).getAs[java.sql.Timestamp]("end_timestamp") shouldBe ts("2020-03-01 08:59:59.999")
    c42(0).getAs[Boolean]("is_current") shouldBe false
    c42(1).getAs[Boolean]("is_current") shouldBe true
  }

  test("silver companies: 2 SCD2 versions from 2 CMP records") {
    val c = wh("companies").orderBy("effective_timestamp").collect()
    c.length shouldBe 2
    c(0).getAs[Long]("company_id") shouldBe 12345L
    c(0).getAs[String]("name") shouldBe "Acme Corporation" // trimmed
    c(0).getAs[String]("industry") shouldBe "Airlines"
    c(0).getAs[String]("status") shouldBe "Active"
    c(0).getAs[java.sql.Timestamp]("end_timestamp") shouldBe ts("2020-06-01 08:59:59.999")
    c(1).getAs[Boolean]("is_current") shouldBe true
  }

  test("silver securities + financials: dual-key temporal match by cik") {
    val s = wh("securities").collect()
    s.length shouldBe 1
    s(0).getAs[Long]("company_id") shouldBe 12345L
    s(0).getAs[String]("company_name") shouldBe "Acme Corporation"
    s(0).getAs[String]("name") shouldBe "ACME Common" // SEC's own name survives
    val f = wh("financials").orderBy("quarter").collect()
    f.length shouldBe 2
    f(0).getAs[Long]("company_id") shouldBe 12345L
    f(0).getAs[Double]("eps") shouldBe 1.25
    f(1).getAs[Boolean]("is_current") shouldBe true
  }

  test("silver trades_history/trades: 5-way join + W4 create/close") {
    wh("trades_history").count() shouldBe 4
    val t = wh("trades").orderBy("trade_id").collect()
    t.length shouldBe 2
    t(0).getAs[java.sql.Timestamp]("create_timestamp") shouldBe ts("2020-03-10 10:00:00")
    t(0).getAs[java.sql.Timestamp]("close_timestamp") shouldBe ts("2020-03-10 11:00:00")
    t(0).getAs[String]("trade_status") shouldBe "Completed"
    t(0).getAs[String]("transaction_type") shouldBe "Cash"
    t(1).getAs[String]("transaction_type") shouldBe "Margin"
  }

  test("silver cash_transactions resolves customer via temporal account") {
    val ct = wh("cash_transactions").orderBy("transaction_timestamp").collect()
    ct.length shouldBe 2
    all(ct.map(_.getAs[Long]("customer_id"))) shouldBe 42L
  }

  test("silver daily_market: 52wk extremes with dates, deduped") {
    val dm = wh("daily_market").orderBy("dm_date").collect()
    dm.length shouldBe 5
    dm(4).getAs[Double]("fifty_two_week_high") shouldBe 14.0
    dm(4).getAs[java.sql.Date]("fifty_two_week_high_date") shouldBe d("2020-03-06")
    dm(4).getAs[Double]("fifty_two_week_low") shouldBe 8.5
    dm(4).getAs[java.sql.Date]("fifty_two_week_low_date") shouldBe d("2020-03-04")
  }

  test("silver watches: one row per watch with placed/removed + status") {
    val w = wh("watches").orderBy("customer_id").collect()
    w.length shouldBe 2
    w(0).getAs[String]("watch_status") shouldBe "Inactive"  // c42 cancelled
    w(1).getAs[String]("watch_status") shouldBe "Active"    // c43 open
    w(0).getAs[java.sql.Timestamp]("placed_timestamp") shouldBe ts("2020-02-10 09:00:00")
    w(0).getAs[java.sql.Timestamp]("removed_timestamp") shouldBe ts("2020-05-01 09:00:00")
  }

  test("gold dim_customer: gap-fill carries city forward, prospect match") {
    val v = wh("dim_customer").filter($"customer_id" === 42)
      .orderBy("effective_timestamp").collect()
    v.length shouldBe 2
    v(1).getAs[String]("city") shouldBe "Oakland"
    v(1).getAs[String]("last_name") shouldBe "Doe"   // filled from v1
    v(1).getAs[Long]("tier") shouldBe 2L             // filled from v1
    // prospect enrichment matched for customer 43 (5-col USING with nulls
    // on address_line2 fails equality — reference semantics; 43 has
    // non-null line1 but null line2 on both sides -> no match either)
    val p42 = wh("dim_customer").filter($"customer_id" === 42).collect()
    all(p42.map(_.isNullAt(p42.head.fieldIndex("net_worth")))) shouldBe true
  }

  test("gold dims: surrogate keys unique") {
    Seq(wh("dim_account") -> "sk_account_id", wh("dim_customer") -> "sk_customer_id",
      wh("dim_company") -> "sk_company_id", wh("dim_security") -> "sk_security_id",
      wh("dim_trade") -> "sk_trade_id", wh("dim_broker") -> "sk_broker_id")
      .foreach { case (df, k) =>
        df.groupBy(k).count().filter($"count" > 1).count() shouldBe 0L
      }
  }

  test("gold fact_trade: one row per trade, all SKs resolved; uniqueness test") {
    val ft = wh("fact_trade").orderBy("sk_create_date").collect()
    ft.length shouldBe 2
    ft.foreach { r =>
      r.isNullAt(r.fieldIndex("sk_trade_id")) shouldBe false
      r.isNullAt(r.fieldIndex("sk_account_id")) shouldBe false
      r.isNullAt(r.fieldIndex("sk_customer_id")) shouldBe false
      r.isNullAt(r.fieldIndex("sk_security_id")) shouldBe false
      r.isNullAt(r.fieldIndex("sk_broker_id")) shouldBe false
    }
    wh.uniqueTradeViolations.count() shouldBe 0L
  }

  test("gold fact_cash_balances aggregates per day/account") {
    val b = wh("fact_cash_balances").collect()
    b.length shouldBe 2 // two descriptions
    b.map(_.getAs[Double]("amount")).sorted shouldBe Array(-40.0, 100.0)
  }

  test("gold fact_holdings: current+previous trade SKs resolve") {
    val fh = wh("fact_holdings").orderBy("trade_timestamp").collect()
    fh.length should be >= 2 // 2 holding events (x dim_trade versions)
    fh.foreach { r =>
      r.isNullAt(r.fieldIndex("sk_current_trade_id")) shouldBe false
      r.isNullAt(r.fieldIndex("sk_trade_id")) shouldBe false
    }
  }

  test("gold fact_watches + fact_market_history resolve temporal lookups") {
    wh("fact_watches").count() shouldBe 2
    val fmh = wh("fact_market_history").orderBy("sk_date_id").collect()
    fmh.length shouldBe 5
    fmh(0).getAs[Double]("yield") shouldBe (0.42 / 10.0) / 100 +- 1e-12
    val wf = Gold.wrkCompanyFinancials(wh("financials"), wh("dim_company"))
      .orderBy("quarter_start_date").collect()
    wf.length shouldBe 2
    wf(0).getAs[Double]("sum_basic_eps") shouldBe 0.0  // first quarter: no priors
    wf(1).getAs[Double]("sum_basic_eps") shouldBe 1.25
  }

  /** The CRM action log and the trade and cash streams split at a
    * cutoff that leaves real work on both sides: batch2 carries the
    * ADDACCT action (a new account entity) and trade 101 with its full
    * history, while batch1 keeps customer NEW/UPDCUST versions and trade
    * 100.
    */
  private def crmTradeCashSplit(src: Map[String, DataFrame])
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val cutoff = ts("2020-03-11 00:00:00")
    val tsCols = Map("customer_mgmt" -> "action_ts", "trade" -> "t_dts",
      "trade_history" -> "th_dts", "cash_transaction" -> "ct_dts")
    (src ++ tsCols.map { case (k, c) => k -> src(k).filter(col(c) < cutoff) },
      tsCols.map { case (k, c) => k -> src(k).filter(col(c) >= cutoff) })
  }

  private def assertSameRows(model: String, got: DataFrame, want: DataFrame): Unit =
    withClue(s"model $model: ") {
      val g = got.select(want.columns.map(col): _*)
      g.exceptAll(want).count() shouldBe 0L
      want.exceptAll(g).count() shouldBe 0L
      g.count() shouldBe want.count()
    }

  private lazy val modelNames = Dag.nodes(Map.empty).map(_.name)

  test("applyBatch2: warehouse-level incremental refresh == full rebuild") {
    val (b1, b2) = crmTradeCashSplit(wh.sources)
    val refreshed = Warehouse.applyBatch2(new Warehouse(b1), b2)
    val full = wh.all.toMap
    for (m <- allStreamModels) assertSameRows(m, refreshed(m), full(m))
  }

  test("applyBatch: each reached model passes through mat once, the rest are the existing frames") {
    val (b1, b2) = crmTradeCashSplit(wh.sources)
    val existing = new Warehouse(b1)
    val reached = Dag.downstream(b2.keySet.map(Dag.sourceModel))
    // forced in declared order; in reverse, where each cell must pull in
    // its dependencies (and the rules' shared touched-key frames); and by
    // the scheduler, four cells at a time
    val orders: Seq[(String, Warehouse => Unit)] = Seq(
      "declared" -> (w => modelNames.foreach(w(_))),
      "reverse" -> (w => modelNames.reverse.foreach(w(_))),
      "scheduled" -> (w => Dag.force(w, parallelism = 4)))
    for ((order, force) <- orders) withClue(s"$order order: ") {
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val refreshed = Warehouse.applyBatch(existing, b2,
        (n, df) => { seen.synchronized(seen += n); df })
      force(refreshed)
      val calls = seen.groupBy(identity).map { case (n, ns) => n -> ns.size }
      for (m <- modelNames) withClue(s"model $m: ") {
        if (reached(m)) calls.get(m) shouldBe Some(1)
        else {
          calls.get(m) shouldBe None
          (refreshed(m) eq existing(m)) shouldBe true
        }
      }
      (calls.keySet -- modelNames) should contain only ("trades_history_touched",
        "dim_trade_touched", "cash_transactions_new", "fact_cash_transactions_new",
        "holdings_history_touched")
    }
    Warehouse.mergeRules(existing, b2, (_, df) => df, _ => fail("no rule runs"))
      .keySet.foreach(modelNames should contain(_))
    Warehouse.incrementalSources.foreach(Dag.sourceModel.keySet should contain(_))
  }

  test("applyBatch: a lookup-table delta falls back to the full rebuild") {
    // batch1's customer 43 names a local tax rate only batch2 adds, next
    // to the CRM/trade/cash delta: an entity-scoped merge would leave
    // its untouched account without the rate
    val src = wh.sources + ("customer_mgmt" -> wh.sources("customer_mgmt")
      .withColumn("c_lcl_tx_id", when($"c_id" === 43L, lit("NV1")).otherwise($"c_lcl_tx_id")))
    val (b1, crmTradeCash) = crmTradeCashSplit(src)
    val b2 = crmTradeCash + ("tax_rate" ->
      Seq(("NV1", "Nevada", 0.05)).toDF("tx_id", "tx_name", "tx_rate"))
    val existing = new Warehouse(b1)
    def localRate(accounts: DataFrame) = accounts.filter($"account_id" === "9")
      .select($"local_tax_rate").as[Option[Double]].collect().toSeq
    localRate(existing("accounts")) shouldBe Seq(None)
    val full = new Warehouse(b1.map { case (k, v) =>
      k -> b2.get(k).map(v.unionByName(_)).getOrElse(v) }).all.toMap
    localRate(full("accounts")) shouldBe Seq(Some(0.05))
    val refreshed = Warehouse.applyBatch2(existing, b2)
    for (m <- modelNames) assertSameRows(m, refreshed(m), full(m))
  }

  private def slice3(cut1: java.sql.Timestamp, cut2: java.sql.Timestamp) = {
    val src = wh.sources
    def in(tsc: String, t: DataFrame, lo: Option[java.sql.Timestamp],
           hi: Option[java.sql.Timestamp]) = {
      val loF = lo.map(c => t.filter(col(tsc) >= c)).getOrElse(t)
      hi.map(c => loF.filter(col(tsc) < c)).getOrElse(loF)
    }
    val tsCols = Map("customer_mgmt" -> "action_ts", "trade" -> "t_dts",
      "trade_history" -> "th_dts", "cash_transaction" -> "ct_dts",
      "watch_history" -> "w_dts", "daily_market" -> "dm_date",
      "cmp" -> "pts", "sec" -> "pts", "fin" -> "pts")
    def slice(lo: Option[java.sql.Timestamp], hi: Option[java.sql.Timestamp]) = {
      val m = tsCols.map { case (k, c) => k -> in(c, src(k), lo, hi) }
      // holding events ride their trade's batch (no timestamp of their own)
      m + ("holding_history" -> src("holding_history").join(
        m("trade").select(col("t_id").as("hh_t_id")), Seq("hh_t_id"), "left_semi"))
    }
    val b1 = src ++ slice(None, Some(cut1))
    val b2 = slice(Some(cut1), Some(cut2))
    val b3 = slice(Some(cut2), None)
    (b1, b2, b3)
  }

  private val allStreamModels = Seq("accounts", "customers", "dim_customer",
    "dim_account", "trades_history", "trades", "dim_trade", "fact_trade",
    "cash_transactions", "fact_cash_transactions", "fact_cash_balances",
    "watches_history", "watches", "fact_watches", "daily_market",
    "fact_market_history", "holdings_history", "fact_holdings",
    "companies", "dim_company", "securities", "dim_security", "financials")

  test("applyBatch chaining: b2 then b3 == full rebuild over b1∪b2∪b3") {
    // Three-way split with real work in every step: b2 carries the
    // UPDCUST action (a new customer version closing v1) and both
    // trades with their histories; b3 carries the ADDACCT action (a new
    // account entity minted on an already-merged dim) and the cash
    // transactions. Batch3's SCD2 merge must read versions batch2's
    // merge minted, and its cash chain must join the twice-merged
    // account dim.
    val (b1, b2, b3) = slice3(ts("2020-03-01 00:00:00"), ts("2020-03-15 00:00:00"))
    // sanity: each batch is non-empty for the spine it claims to touch
    b2("customer_mgmt").count() shouldBe 1  // UPDCUST
    b2("trade").count() shouldBe 2
    b2("daily_market").count() shouldBe 5   // all market days
    b2("holding_history").count() shouldBe 2 // ride trades 100/101
    b3("customer_mgmt").count() shouldBe 1  // ADDACCT
    b3("cash_transaction").count() shouldBe 2
    b3("watch_history").count() shouldBe 1  // the CNCL action
    b3("cmp").count() shouldBe 1            // the June company version
    b3("fin").count() shouldBe 2            // both quarterly records
    val chained = Warehouse.applyBatch(
      Warehouse.applyBatch(new Warehouse(b1), b2), b3).all.toMap
    val full = wh.all.toMap
    for (m <- allStreamModels) assertSameRows(m, chained(m), full(m))
  }

  test("two arrivals == one batch == full rebuild") {
    // The composition gate: batch2's CRM actions arrive as TWO deltas,
    // each chained through Warehouse.applyBatch and published to its own
    // directory (the dynamic-table refresh on arrival). The accounts and
    // customers dims must equal (a) the one-batch applyBatch2 merge and
    // (b) a clean full rebuild — the same merge fed at different
    // granularity, pinned three ways.
    val cutoff = ts("2020-02-01 00:00:00")
    val src = wh.sources
    val crmB2 = src("customer_mgmt").filter($"action_ts" >= cutoff)
    val wh1 = new Warehouse(
      src + ("customer_mgmt" -> src("customer_mgmt").filter($"action_ts" < cutoff)))
    val refreshed = Warehouse.applyBatch2(wh1, Map("customer_mgmt" -> crmB2))
    val full = wh.all.toMap
    // arrival waves: UPDCUST (2020-03-01) then ADDACCT (2020-04-01)
    val wave1 = crmB2.filter($"action_ts" < ts("2020-03-15 00:00:00"))
    val wave2 = crmB2.filter($"action_ts" >= ts("2020-03-15 00:00:00"))
    wave1.count() shouldBe 1
    wave2.count() shouldBe 1
    val arrived = Seq(wave1, wave2).foldLeft(wh1) { (w, wave) =>
      Warehouse.applyBatch(w, Map("customer_mgmt" -> wave), Warehouse.writeThenRead(
        spark, java.nio.file.Files.createTempDirectory("arrival").toString))
    }
    for (name <- Seq("accounts", "customers");
         (label, target) <- Seq("full rebuild" -> full(name),
           "applyBatch2" -> refreshed(name)))
      assertSameRows(s"$name vs $label", arrived(name), target)
  }

  test("publish: recovers from a crash between the swap renames") {
    val out = java.nio.file.Files.createTempDirectory("publishcrash").toString
    val mat = Warehouse.writeThenRead(spark, out)
    mat("dim", Seq((1L, "v1")).toDF("id", "payload"))
    // the worst crash window of a prior publish: the table renamed away
    // (<name>.old holds the only good copy), a stale staging copy left
    // behind — the next publish must restore, clear the leftovers and
    // swap in the new table
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$out/dim"),
      new org.apache.hadoop.fs.Path(s"$out/dim.old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/dim.staging"))
    val want = Seq((1L, "v1"), (2L, "w1")).toDF("id", "payload")
    // the old copy is restored before the write, so even a failing
    // publish leaves it as the table
    intercept[Exception](mat("dim", want.withColumn("payload",
      raise_error(lit("injected publish failure")).cast("string"))))
    spark.read.parquet(s"$out/dim").as[(Long, String)].collect() shouldBe Array((1L, "v1"))
    assertSameRows("dim", mat("dim", want), want)
    new java.io.File(out).list().toSet shouldBe Set("dim")
  }

  test("publish: a failure keeps the last good table; rerun == clean build") {
    val out = java.nio.file.Files.createTempDirectory("publishfault").toString
    def tables() = modelNames.map(m => m -> spark.read.parquet(s"$out/$m").collect().toSeq).toMap
    Warehouse.build(spark, wh.sources, out)
    val clean = tables()
    // a plan that fails mid-job, on one row
    val faulty = wh("accounts").withColumn("account_desc",
      when($"account_id" === "8", raise_error(lit("injected publish failure")).cast("string"))
        .otherwise($"account_desc"))
    val e = intercept[Exception](Warehouse.writeThenRead(spark, out)("accounts", faulty))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected publish failure")) shouldBe true
    spark.read.parquet(s"$out/accounts").collect().toSeq should contain theSameElementsAs
      clean("accounts")
    // fail one model mid-build, then rerun into the same directory
    val hr = wh.sources("hr").withColumn("employee_first_name",
      raise_error(lit("injected hr failure")).cast("string"))
    intercept[Exception](Warehouse.build(spark, wh.sources + ("hr" -> hr), out))
    Warehouse.build(spark, wh.sources, out)
    // the rerun clears the staging copies the failed attempts left
    new java.io.File(out).list().toSet shouldBe modelNames.toSet
    val rerun = tables()
    for (m <- modelNames) withClue(s"model $m: ") {
      rerun(m) should contain theSameElementsAs clean(m)
    }
  }
}
