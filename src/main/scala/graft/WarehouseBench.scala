package graft

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.models.{Dag, Loader, Warehouse}

/** End-to-end warehouse benchmark: generates a deterministic
  * DIGen-format Batch1 directory at a parameterized scale, then times
  * the full 44-model DAG build — the direct analog of the reference's
  * one published number (dbt build of 44 dynamic tables + 1 test in
  * 70.51 s at SF=10 on Snowflake, BASELINE.md). [[Bench]] runs it at
  * 50k customers / 500k trades (`runMain graft.Bench warehouse_build`).
  */
object WarehouseBench {

  private def pad(s: String, n: Int) = if (s.length >= n) s.take(n) else s.padTo(n, ' ')

  def generate(dir: String, nCust: Int, nTrades: Int): Unit = {
    val rnd = new scala.util.Random(42)
    // Wipe a reused work dir before writing: stale files from a prior
    // run with different parameters would silently ride the loader's
    // globs (FINWIRE??????), and a leftover partial file is how the
    // read side sees a transient parse failure.
    val d = new java.io.File(dir)
    if (d.exists()) d.listFiles().foreach(f => if (f.isFile) f.delete())
    Files.createDirectories(Paths.get(dir))
    def writer(name: String) = new BufferedWriter(new FileWriter(s"$dir/$name"), 1 << 20)
    val nComp = math.max(nCust / 100, 10)
    val nSym = nComp // one security per company
    val statuses = Seq("ACTV" -> "Active", "CMPT" -> "Completed",
      "CNCL" -> "Canceled", "PNDG" -> "Pending", "SBMT" -> "Submitted",
      "INAC" -> "Inactive")

    locally { val w = writer("StatusType.txt")
      statuses.foreach { case (a, b) => w.write(s"$a|$b\n") }; w.close() }
    locally { val w = writer("TradeType.txt")
      w.write("TMB|Market Buy|false|true\nTMS|Market Sell|true|true\n")
      w.write("TLB|Limit Buy|false|false\nTLS|Limit Sell|true|false\n"); w.close() }
    locally { val w = writer("Industry.txt")
      (0 until 10).foreach(i => w.write(f"I$i%d|Industry $i%d|SC$i%d\n")); w.close() }
    locally { val w = writer("TaxRate.txt")
      (0 until 50).foreach(i => w.write(f"TX$i%03d|Tax $i%d|0.${10 + i % 30}%d\n")); w.close() }
    locally { val w = writer("HR.csv")
      (1 to math.max(nCust / 50, 10)).foreach(i =>
        w.write(s"$i,${i / 10},First$i,Last$i,M,314,HQ,1F,555-$i\n")); w.close() }
    locally { val w = writer("Date.txt")
      (0 until 730).foreach { i =>
        val d = java.time.LocalDate.of(2019, 1, 1).plusDays(i)
        w.write(s"${20190101 + i}|$d|$d|${d.getYear}|${d.getYear}|1|Q|1|M|1|W|1|D|${d.getYear}|F|1|FQ|false\n")
      }; w.close() }
    locally { val w = writer("Prospect.csv")
      (0 until nCust / 2).foreach(i =>
        w.write(s"AG$i,Last$i,First$i,M,F,${i} Main St,,ZIP$i,City,ST,USA,555,90000,1,0,S,36,720,O,EMP,3,500000\n"))
      w.close() }

    // FINWIRE: one quarter file per quarter of 2019, CMP+SEC in Q1, FIN all
    (1 to 4).foreach { q =>
      val w = writer(s"FINWIRE2019Q$q")
      val pts = f"2019${q * 3 - 2}%02d15-090000"
      (0 until nComp).foreach { c =>
        val cik = f"$c%010d"
        if (q == 1) {
          w.write(pad(pts, 15) + "CMP" + pad(s"Company $c", 60) + cik +
            pad("ACTV", 4) + f"I${c % 10}%-2s" + pad("AAA", 4) + "19870105" +
            pad(s"$c Main St", 80) + pad("", 80) + pad("94105", 12) +
            pad("SF", 25) + pad("CA", 20) + pad("USA", 24) +
            pad(s"CEO $c", 46) + pad("Descr", 150) + "\n")
          w.write(pad(pts, 15) + "SEC" + pad(s"SYM$c", 15) + pad("COMMON", 6) +
            pad("ACTV", 4) + pad(s"Security $c", 70) + pad("NYSE", 6) +
            pad("1000000", 13) + "19870106" + "19870107" + pad("0.42", 12) +
            pad(cik, 60) + "\n")
        }
        w.write(pad(pts, 15) + "FIN" + "2019" + q.toString +
          f"2019${q * 3 - 2}%02d01" + f"2019${q * 3 - 2}%02d15" +
          pad("1000000.5", 17) + pad("250000.25", 17) + pad("1.25", 12) +
          pad("1.20", 12) + pad("0.25", 12) + pad("50000", 17) +
          pad("2000000", 17) + pad("750000", 17) + pad("1000000", 13) +
          pad("1050000", 13) + pad(cik, 60) + "\n")
      }
      w.close()
    }

    // CustomerMgmt.xml: NEW (with account) + UPDCUST per customer
    locally { val w = writer("CustomerMgmt.xml")
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      w.write("<TPCDI:Actions xmlns:TPCDI=\"http://tpc.org\">\n")
      (0 until nCust).foreach { c =>
        val broker = c % math.max(nCust / 50, 10) + 1
        w.write(s""" <TPCDI:Action ActionType="NEW" ActionTS="2019-01-05T09:00:00"><Customer C_ID="$c" C_TAX_ID="T$c" C_GNDR="F" C_TIER="2" C_DOB="1986-04-11"><Name><C_L_NAME>Last$c</C_L_NAME><C_F_NAME>First$c</C_F_NAME></Name><Address><C_ADLINE1>$c Main St</C_ADLINE1><C_ZIPCODE>ZIP$c</C_ZIPCODE><C_CITY>City</C_CITY><C_STATE_PROV>ST</C_STATE_PROV><C_CTRY>USA</C_CTRY></Address><ContactInfo><C_PRIM_EMAIL>u$c@x.com</C_PRIM_EMAIL></ContactInfo><TaxInfo><C_LCL_TX_ID>TX${"%03d".format(c % 50)}</C_LCL_TX_ID><C_NAT_TX_ID>TX${"%03d".format((c + 1) % 50)}</C_NAT_TX_ID></TaxInfo><Account CA_ID="$c" CA_TAX_ST="1"><CA_B_ID>$broker</CA_B_ID><CA_NAME>Acct$c</CA_NAME></Account></Customer></TPCDI:Action>\n""")
        if (c % 3 == 0)
          w.write(s""" <TPCDI:Action ActionType="UPDCUST" ActionTS="2019-06-01T09:00:00"><Customer C_ID="$c"><Address><C_CITY>NewCity</C_CITY></Address></Customer></TPCDI:Action>\n""")
      }
      w.write("</TPCDI:Actions>\n"); w.close() }

    // trades + history (2 status rows per trade), holdings, cash, watches, market
    locally {
      val t = writer("Trade.txt"); val th = writer("TradeHistory.txt")
      val hh = writer("HoldingHistory.txt"); val ct = writer("CashTransaction.txt")
      (0 until nTrades).foreach { i =>
        val ca = i % nCust; val sym = s"SYM${i % nSym}"
        val day = i % 28 + 1
        val ts0 = f"2020-01-$day%02d 10:00:00"; val ts1 = f"2020-01-$day%02d 11:00:00"
        val st = if (i % 7 == 0) "CNCL" else "CMPT"
        t.write(s"$i|$ts1|$st|${if (i % 2 == 0) "TMB" else "TMS"}|${i % 2 == 0}|$sym|10.0|9.5|$ca|Exec $i|10.1|1.0|0.5|0.2\n")
        th.write(s"$i|$ts0|SBMT\n"); th.write(s"$i|$ts1|$st\n")
        if (i % 2 == 0) hh.write(s"$i|$i|0|10\n")
        if (i % 3 == 0) ct.write(s"$ca|$ts1|${rnd.nextInt(1000)}.0|txn $i\n")
      }
      t.close(); th.close(); hh.close(); ct.close()
    }
    locally { val w = writer("WatchHistory.txt")
      (0 until nCust).foreach { c =>
        w.write(s"$c|SYM${c % nSym}|2020-01-10 09:00:00|ACTV\n")
        if (c % 4 == 0) w.write(s"$c|SYM${c % nSym}|2020-01-20 09:00:00|CNCL\n")
      }; w.close() }
    locally { val w = writer("DailyMarket.txt")
      (0 until nSym).foreach { s =>
        (1 to 250).foreach { d0 =>
          val d = java.time.LocalDate.of(2019, 1, 1).plusDays(d0 * 365L / 250)
          val base = 10.0 + (s % 50) + math.sin(d0 / 10.0) * 3
          w.write(f"$d|SYM$s%d|$base%.2f|${base + 1}%.2f|${base - 1}%.2f|1000\n")
        }
      }; w.close() }
  }

  /** Generate + sequential 44-model build + parallel DAG build on an
    * existing session; returns the JSON payload of Bench's
    * `warehouse_build` block, so the bench-vs-BASELINE ratio lives in
    * the committed BENCH_full.json artifact.
    */
  def run(spark: SparkSession, nCust: Int, nTrades: Int,
          work: String): String = {
    val batch = s"$work/batch1"; val out = s"$work/out"
    val tGen0 = System.nanoTime()
    generate(batch, nCust, nTrades)
    val genSec = (System.nanoTime() - tGen0) / 1e9

    val t0 = System.nanoTime()
    // load ONCE and share between the sequential and parallel builds:
    // a second loadAll on the same dir re-caches the identical finwire
    // plan, which only re-marks the existing cache entry (and logs a
    // CacheManager warning) — same plans, same data, zero benefit
    val sources = Loader.loadAll(spark, batch)
    // the sequential build is Warehouse.build's, with its walls kept
    val wh = new Warehouse(sources, Warehouse.writeThenRead(spark, out))
    val serialWall = Dag.force(wh, parallelism = 1)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val violations = wh.uniqueTradeViolations.count()
    val ftRows = spark.read.parquet(s"$out/fact_trade").count()

    // parallel DAG build (the reference used 20 dbt threads)
    val tp0 = System.nanoTime()
    val parWall = Dag.runParallel(spark, sources, s"$work/out_par")
    val parSec = (System.nanoTime() - tp0) / 1e9
    val ftParRows = spark.read.parquet(s"$work/out_par/fact_trade").count()

    // per-model build walls in declared order (overlapping when parallel)
    def perModel(wall: collection.Map[String, Double]) = wh.all.map { case (n, _) =>
      "\"" + n + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(wall(n)))
    }.mkString("{", ",", "}")
    s""""value":$buildSec,"unit":"sec","parallel_sec":$parSec,"models":${wh.all.size},"n_customers":$nCust,"n_trades":$nTrades,"fact_trade_rows":$ftRows,"fact_trade_rows_parallel":$ftParRows,"unique_trade_violations":$violations,"gen_sec":$genSec,"model_sec":${perModel(serialWall)},"model_parallel_sec":${perModel(parWall)}"""
  }
}
