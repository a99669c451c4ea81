package graft.models

import graft.SparkSpec
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.{lit, raise_error}

/** End-to-end through the REAL file formats: writes a miniature DIGen
  * Batch1 directory (pipe/comma-delimited, fixed-width FINWIRE quarter
  * files, CustomerMgmt.xml), loads it with Loader.loadAll, and builds
  * the full warehouse DAG from files.
  */
class LoaderSpec extends SparkSpec {

  private def pad(s: String, n: Int) = s.padTo(n, ' ')

  private lazy val batchDir: Path = {
    val dir = Files.createTempDirectory("batch1")
    def w(name: String, lines: String*): Unit =
      Files.writeString(dir.resolve(name), lines.mkString("", "\n", "\n"))

    w("Date.txt", "20200302|2020-03-02|March 2, 2020|2020|2020|1|2020-Q1|3|2020-03|10|2020-W10|1|Monday|2020|F2020|1|F2020-Q1|false")
    w("DailyMarket.txt",
      "2020-03-02|ACME|10.0|11.0|9.0|1000",
      "2020-03-03|ACME|10.5|12.0|10.0|1100",
      "2020-03-04|ACME|11.0|12.5|8.5|1200")
    w("Industry.txt", "AB|Airlines|SC1")
    w("Prospect.csv", "AG1,Roe,Rick,P,M,2 Oak St,,10001,NYC,NY,USA,555,90000,1,0,S,36,720,O,ACME,3,500000")
    w("TaxRate.txt", "US1|US Federal|0.30", "CA1|California|0.10")
    w("HR.csv", "1,0,Bob,Broker,B,314,HQ,1F,555")
    w("WatchHistory.txt",
      "42|ACME|2020-02-10 09:00:00|ACTV",
      "42|ACME|2020-05-01 09:00:00|CNCL")
    w("Trade.txt",
      "100|2020-03-10 10:00:00|CMPT|TMB|true|ACME|10.0|9.5|7|Jane Doe|10.1|1.0|0.5|0.2")
    w("TradeHistory.txt",
      "100|2020-03-10 10:00:00|SBMT",
      "100|2020-03-10 11:00:00|CMPT")
    w("StatusType.txt", "ACTV|Active", "CMPT|Completed", "CNCL|Canceled",
      "PNDG|Pending", "SBMT|Submitted", "INAC|Inactive")
    w("TradeType.txt", "TMB|Market Buy|false|true", "TMS|Market Sell|true|true")
    w("HoldingHistory.txt", "100|100|0|10")
    w("CashTransaction.txt", "7|2020-03-15 12:00:00|100.0|deposit")

    // two FINWIRE quarter files exercising the glob + shared parse
    w("FINWIRE2020Q1",
      pad("20200101-090000", 15) + "CMP" + pad("Acme Corporation", 60) +
        pad("0000012345", 10) + pad("ACTV", 4) + "AB" + pad("AAA", 4) +
        pad("19870105", 8) + pad("1 Main St", 80) + pad("", 80) +
        pad("94105", 12) + pad("SF", 25) + pad("CA", 20) + pad("USA", 24) +
        pad("Jane Doe", 46) + pad("Stuff", 150),
      pad("20200201-090000", 15) + "SEC" + pad("ACME", 15) + pad("COMMON", 6) +
        pad("ACTV", 4) + pad("ACME Common", 70) + pad("NYSE", 6) +
        pad("1000000", 13) + pad("19870106", 8) + pad("19870107", 8) +
        pad("0.42", 12) + pad("0000012345", 60))
    w("FINWIRE2020Q2",
      pad("20200315-170000", 15) + "FIN" + "2020" + "1" + pad("20200101", 8) +
        pad("20200315", 8) + pad("1000000.5", 17) + pad("250000.25", 17) +
        pad("1.25", 12) + pad("1.20", 12) + pad("0.25", 12) + pad("50000", 17) +
        pad("2000000", 17) + pad("750000", 17) + pad("1000000", 13) +
        pad("1050000", 13) + pad("Acme Corporation", 60))

    w("CustomerMgmt.xml",
      """<?xml version="1.0" encoding="UTF-8"?>""",
      """<TPCDI:Actions xmlns:TPCDI="http://tpc.org">""",
      """ <TPCDI:Action ActionType="NEW" ActionTS="2020-01-05T09:00:00">""",
      """  <Customer C_ID="42" C_TAX_ID="TX42" C_GNDR="F" C_TIER="2" C_DOB="1986-04-11">""",
      """   <Name><C_L_NAME>Doe</C_L_NAME><C_F_NAME>Jane</C_F_NAME></Name>""",
      """   <Address><C_ADLINE1>1 Elm St</C_ADLINE1><C_ZIPCODE>94105</C_ZIPCODE><C_CITY>SF</C_CITY><C_STATE_PROV>CA</C_STATE_PROV><C_CTRY>USA</C_CTRY></Address>""",
      """   <ContactInfo><C_PRIM_EMAIL>j@x.com</C_PRIM_EMAIL></ContactInfo>""",
      """   <TaxInfo><C_LCL_TX_ID>CA1</C_LCL_TX_ID><C_NAT_TX_ID>US1</C_NAT_TX_ID></TaxInfo>""",
      """   <Account CA_ID="7" CA_TAX_ST="1"><CA_B_ID>1</CA_B_ID><CA_NAME>Main</CA_NAME></Account>""",
      """  </Customer>""",
      """ </TPCDI:Action>""",
      """</TPCDI:Actions>""")
    dir
  }

  private lazy val wh = Warehouse.fromBatchDir(spark, batchDir.toString)

  test("all 17 sources load from files with declared schemas") {
    val src = Loader.loadAll(spark, batchDir.toString)
    src.keySet should contain allElementsOf Loader.delimitedSources.keySet
    src("trade").count() shouldBe 1
    src("status_type").count() shouldBe 6
    src("cmp").count() shouldBe 1
    src("sec").count() shouldBe 1
    src("fin").count() shouldBe 1   // from the OTHER quarter file (glob)
    src("customer_mgmt").count() shouldBe 1
    // typed checks through the csv schemas
    src("trade").collect()(0).getAs[Boolean]("t_is_cash") shouldBe true
    src("daily_market").collect()(0).getAs[java.sql.Date]("dm_date") shouldBe
      d("2020-03-02")
  }

  test("full DAG builds from files: facts resolve, uniqueness test passes") {
    wh("fact_trade").count() shouldBe 1
    wh("fact_cash_transactions").count() shouldBe 1
    wh("fact_market_history").count() shouldBe 3
    wh("fact_watches").count() shouldBe 1
    wh.uniqueTradeViolations.count() shouldBe 0
    val ft = wh("fact_trade").collect()(0)
    ft.isNullAt(ft.fieldIndex("sk_security_id")) shouldBe false
    ft.isNullAt(ft.fieldIndex("sk_customer_id")) shouldBe false
  }

  test("Warehouse.build materializes every model once, downstream reads parquet") {
    val out = Files.createTempDirectory("whout").toString
    val built = Warehouse.build(spark, Loader.loadAll(spark, batchDir.toString), out)
    new java.io.File(out).list().toSet.size shouldBe built.all.size
    spark.read.parquet(s"$out/fact_trade").count() shouldBe 1
    // materialized warehouse models are parquet-backed scans
    built("fact_trade").queryExecution.executedPlan.toString should
      include("Scan parquet")
    built.uniqueTradeViolations.count() shouldBe 0
  }

  test("parallel DAG runner produces the same models as the sequential build") {
    val seqOut = Files.createTempDirectory("whseq").toString
    val sources = Loader.loadAll(spark, batchDir.toString)
    Warehouse.build(spark, sources, seqOut)
    val names = Dag.nodes(Map.empty).map(_.name)
    for (parallelism <- Seq(4, 1)) withClue(s"parallelism $parallelism: ") {
      val parOut = Files.createTempDirectory("whpar").toString
      val timings = Dag.runParallel(spark, sources, parOut, parallelism)
      timings.keySet shouldBe names.toSet
      // each model swapped in whole: no staging or old copy is left behind
      for (dir <- Seq(seqOut, parOut)) new java.io.File(dir).list().toSet shouldBe names.toSet
      for (m <- names) withClue(s"$m: ") {
        val a = spark.read.parquet(s"$seqOut/$m")
        val b = spark.read.parquet(s"$parOut/$m")
        a.count() shouldBe b.count()
        a.exceptAll(b).count() shouldBe 0L
        b.exceptAll(a).count() shouldBe 0L
      }
    }
  }

  test("parallel DAG runner names the failed model and starts nothing after it") {
    val sources = Loader.loadAll(spark, batchDir.toString)
    val hr = sources("hr").withColumn("employee_first_name",
      raise_error(lit("injected hr failure")).cast("string"))
    val faulty = sources + ("hr" -> hr)
    // the bronze roots start first, in declared order: at parallelism 1
    // (and in Warehouse.build, which runs the same scheduler serially)
    // no model declared after hr_employee starts
    val afterHr = Dag.nodes(Map.empty).map(_.name).dropWhile(_ != "hr_employee").tail.toSet
    val runs: Seq[(String, String => Unit, Boolean)] = Seq(
      ("parallelism 4", out => Dag.runParallel(spark, faulty, out, parallelism = 4), false),
      ("parallelism 1", out => Dag.runParallel(spark, faulty, out, parallelism = 1), true),
      ("Warehouse.build", out => Warehouse.build(spark, faulty, out), true))
    for ((label, run, serial) <- runs) withClue(s"$label: ") {
      val out = Files.createTempDirectory("whfail").toString
      val e = intercept[RuntimeException](run(out))
      e.getMessage should include("hr_employee")
      val written = new java.io.File(out).list().toSet
      written should not contain "employees"
      written should not contain "dim_broker"
      if (serial) (written & afterHr) shouldBe empty
    }
  }
}
