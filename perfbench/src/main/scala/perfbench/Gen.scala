package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate

/** Seeded DIGen-format input generator.
  *
  * `batch1` writes the 17 source files of a TPC-DI Batch1 directory;
  * `batch2` writes a late delta (new trades with their histories, CRM
  * updates and new customers, matching cash and watch rows) in the same
  * file formats. The seed drives account and symbol assignment, trade
  * timestamps, the cancel share and which customers get CRM updates, so
  * two seeds give two different warehouses of the same size.
  */
object Gen {

  final case class Size(nCust: Int, nTrades: Int) {
    val nComp: Int = math.max(nCust / 100, 10)
    val nSym: Int = nComp
    val nBrokers: Int = math.max(nCust / 50, 10)
  }

  /** What `batch2` wrote, for the benchmark's own checks. */
  final case class Delta(trades: Int, updatedCustomers: Int, newCustomers: Int)

  private def pad(s: String, n: Int) = if (s.length >= n) s.take(n) else s.padTo(n, ' ')

  private def freshDir(dir: String): Unit = {
    val d = new File(dir)
    if (d.exists()) d.listFiles().foreach(f => if (f.isFile) f.delete())
    d.mkdirs()
  }

  private def withWriter(dir: String, name: String)(body: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new FileWriter(s"$dir/$name"), 1 << 20)
    try body(w) finally w.close()
  }

  private def newCustomerXml(c: Int, ts: String, broker: Int, gender: String): String =
    s""" <TPCDI:Action ActionType="NEW" ActionTS="$ts"><Customer C_ID="$c" C_TAX_ID="T$c" C_GNDR="$gender" C_TIER="${c % 3 + 1}" C_DOB="1986-04-11"><Name><C_L_NAME>Last$c</C_L_NAME><C_F_NAME>First$c</C_F_NAME></Name><Address><C_ADLINE1>$c Main St</C_ADLINE1><C_ZIPCODE>ZIP$c</C_ZIPCODE><C_CITY>City</C_CITY><C_STATE_PROV>ST</C_STATE_PROV><C_CTRY>USA</C_CTRY></Address><ContactInfo><C_PRIM_EMAIL>u$c@x.com</C_PRIM_EMAIL></ContactInfo><TaxInfo><C_LCL_TX_ID>TX${"%03d".format(c % 50)}</C_LCL_TX_ID><C_NAT_TX_ID>TX${"%03d".format((c + 1) % 50)}</C_NAT_TX_ID></TaxInfo><Account CA_ID="$c" CA_TAX_ST="1"><CA_B_ID>$broker</CA_B_ID><CA_NAME>Acct$c</CA_NAME></Account></Customer></TPCDI:Action>\n"""

  private def updCustomerXml(c: Int, ts: String, city: String): String =
    s""" <TPCDI:Action ActionType="UPDCUST" ActionTS="$ts"><Customer C_ID="$c"><Address><C_CITY>$city</C_CITY></Address></Customer></TPCDI:Action>\n"""

  private def xmlHeader(w: BufferedWriter): Unit = {
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    w.write("<TPCDI:Actions xmlns:TPCDI=\"http://tpc.org\">\n")
  }

  private val tradeTypes = Array("TMB", "TMS", "TLB", "TLS")

  /** One trade row, its two history rows and (sometimes) a cash row. */
  private def writeTrade(rnd: scala.util.Random, id: Long, ts1: java.time.LocalDateTime,
                         cancelShare: Double, size: Size, nAccounts: Int,
                         t: BufferedWriter, th: BufferedWriter,
                         ct: BufferedWriter): Unit = {
    val ca = rnd.nextInt(nAccounts)
    val sym = s"SYM${rnd.nextInt(size.nSym)}"
    val ts0 = ts1.minusMinutes(1 + rnd.nextInt(59))
    val st = if (rnd.nextDouble() < cancelShare) "CNCL" else "CMPT"
    val tt = tradeTypes(rnd.nextInt(tradeTypes.length))
    val qty = 1 + rnd.nextInt(500)
    val price = 5.0 + rnd.nextInt(9000) / 100.0
    val f1 = ts1.toString.replace('T', ' ')
    val f0 = ts0.toString.replace('T', ' ')
    t.write(s"$id|$f1|$st|$tt|${tt.startsWith("TM")}|$sym|$qty.0|$price|$ca|Exec $id|${price + 0.1}|1.0|0.5|0.2\n")
    th.write(s"$id|$f0|SBMT\n"); th.write(s"$id|$f1|$st\n")
    if (rnd.nextInt(3) == 0) ct.write(s"$ca|$f1|${rnd.nextInt(100000) / 100.0}|txn $id\n")
  }

  /** Timestamps with whole seconds, so the `toString` form keeps `:ss`. */
  private def at(day: LocalDate, rnd: scala.util.Random): java.time.LocalDateTime =
    day.atTime(9 + rnd.nextInt(7), rnd.nextInt(60), 1 + rnd.nextInt(59))

  def batch1(dir: String, size: Size, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    freshDir(dir)
    import size._
    val statuses = Seq("ACTV" -> "Active", "CMPT" -> "Completed",
      "CNCL" -> "Canceled", "PNDG" -> "Pending", "SBMT" -> "Submitted",
      "INAC" -> "Inactive")
    withWriter(dir, "StatusType.txt") { w =>
      statuses.foreach { case (a, b) => w.write(s"$a|$b\n") } }
    withWriter(dir, "TradeType.txt") { w =>
      w.write("TMB|Market Buy|false|true\nTMS|Market Sell|true|true\n")
      w.write("TLB|Limit Buy|false|false\nTLS|Limit Sell|true|false\n") }
    withWriter(dir, "Industry.txt") { w =>
      (0 until 10).foreach(i => w.write(f"I$i%d|Industry $i%d|SC$i%d\n")) }
    withWriter(dir, "TaxRate.txt") { w =>
      (0 until 50).foreach(i => w.write(f"TX$i%03d|Tax $i%d|0.${10 + i % 30}%d\n")) }
    withWriter(dir, "HR.csv") { w =>
      (1 to nBrokers).foreach(i =>
        w.write(s"$i,${i / 10},First$i,Last$i,M,314,HQ,1F,555-$i\n")) }
    withWriter(dir, "Date.txt") { w =>
      (0 until 730).foreach { i =>
        val d = LocalDate.of(2019, 1, 1).plusDays(i)
        w.write(s"${20190101 + i}|$d|$d|${d.getYear}|${d.getYear}|1|Q|1|M|1|W|1|D|${d.getYear}|F|1|FQ|false\n")
      } }
    withWriter(dir, "Prospect.csv") { w =>
      (0 until nCust / 2).foreach(i =>
        w.write(s"AG$i,Last$i,First$i,M,F,$i Main St,,ZIP$i,City,ST,USA,555,${30000 + rnd.nextInt(90000)},${rnd.nextInt(3)},${rnd.nextInt(4)},S,${20 + rnd.nextInt(60)},${500 + rnd.nextInt(350)},O,EMP,3,${rnd.nextInt(2000000)}\n")) }

    // FINWIRE: one file per quarter of 2019, CMP+SEC in Q1, FIN every quarter
    (1 to 4).foreach { q =>
      withWriter(dir, s"FINWIRE2019Q$q") { w =>
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
            pad(s"${1000000 + rnd.nextInt(100000)}.5", 17) +
            pad(s"${200000 + rnd.nextInt(100000)}.25", 17) +
            pad(f"${1 + rnd.nextInt(100) / 100.0}%.2f", 12) +
            pad("1.20", 12) + pad("0.25", 12) + pad("50000", 17) +
            pad("2000000", 17) + pad("750000", 17) + pad("1000000", 13) +
            pad("1050000", 13) + pad(cik, 60) + "\n")
        }
      }
    }

    // CustomerMgmt.xml: NEW (customer + account) per customer, UPDCUST
    // for a seeded third of them
    withWriter(dir, "CustomerMgmt.xml") { w =>
      xmlHeader(w)
      (0 until nCust).foreach { c =>
        w.write(newCustomerXml(c, "2019-01-05T09:00:00", c % nBrokers + 1,
          if (rnd.nextBoolean()) "F" else "M"))
        if (rnd.nextInt(3) == 0)
          w.write(updCustomerXml(c, f"2019-06-${1 + rnd.nextInt(28)}%02dT09:00:00", "NewCity"))
      }
      w.write("</TPCDI:Actions>\n")
    }

    // trades in January 2020 with a seeded cancel share, their histories,
    // holdings for about half of them and cash for about a third
    val cancelShare = 0.08 + rnd.nextInt(13) / 100.0
    withWriter(dir, "Trade.txt") { t =>
      withWriter(dir, "TradeHistory.txt") { th =>
        withWriter(dir, "CashTransaction.txt") { ct =>
          withWriter(dir, "HoldingHistory.txt") { hh =>
            (0 until nTrades).foreach { i =>
              val day = LocalDate.of(2020, 1, 1 + rnd.nextInt(28))
              writeTrade(rnd, i.toLong, at(day, rnd), cancelShare, size, nCust, t, th, ct)
              if (rnd.nextBoolean()) hh.write(s"$i|$i|0|${1 + rnd.nextInt(100)}\n")
            }
          }
        }
      }
    }
    withWriter(dir, "WatchHistory.txt") { w =>
      (0 until nCust).foreach { c =>
        val sym = s"SYM${rnd.nextInt(nSym)}"
        w.write(s"$c|$sym|2020-01-${10 + rnd.nextInt(5)} 09:00:00|ACTV\n")
        if (rnd.nextInt(4) == 0) w.write(s"$c|$sym|2020-01-20 09:00:00|CNCL\n")
      } }
    withWriter(dir, "DailyMarket.txt") { w =>
      (0 until nSym).foreach { s =>
        val phase = rnd.nextDouble() * 6.28
        (1 to 250).foreach { d0 =>
          val d = LocalDate.of(2019, 1, 1).plusDays(d0 * 365L / 250)
          val base = 10.0 + (s % 50) + math.sin(d0 / 10.0 + phase) * 3
          w.write(f"$d|SYM$s%d|$base%.2f|${base + 1}%.2f|${base - 1}%.2f|1000\n")
        }
      } }
  }

  /** The late batch: 2% new trades dated February 2020 (ids after
    * Batch1's), each with its two history rows and, for a third, a cash
    * row; UPDCUST actions for 0.5% of existing customers and NEW customers
    * (with accounts) for another 0.5%; one new watch per updated customer.
    * Only these five source files are written.
    */
  def batch2(dir: String, size: Size, seed: Long): Delta = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    freshDir(dir)
    import size._
    val nDelta = math.max(1, nTrades * 2 / 100)
    val nCrm = math.max(2, nCust / 100)
    val updated = rnd.shuffle((0 until nCust).toVector).take(nCrm / 2).sorted
    val nNew = nCrm - updated.size
    withWriter(dir, "Trade.txt") { t =>
      withWriter(dir, "TradeHistory.txt") { th =>
        withWriter(dir, "CashTransaction.txt") { ct =>
          (0 until nDelta).foreach { i =>
            val day = LocalDate.of(2020, 2, 1 + rnd.nextInt(5))
            writeTrade(rnd, nTrades.toLong + i, at(day, rnd), 0.1, size, nCust, t, th, ct)
          }
        }
      }
    }
    withWriter(dir, "CustomerMgmt.xml") { w =>
      xmlHeader(w)
      updated.foreach(c => w.write(updCustomerXml(c,
        f"2020-02-0${1 + rnd.nextInt(5)}T10:00:00", s"Moved${rnd.nextInt(100)}")))
      (nCust until nCust + nNew).foreach(c => w.write(newCustomerXml(c,
        "2020-02-06T09:00:00", c % nBrokers + 1, "F")))
      w.write("</TPCDI:Actions>\n")
    }
    withWriter(dir, "WatchHistory.txt") { w =>
      updated.foreach(c =>
        w.write(s"$c|SYM${rnd.nextInt(nSym)}|2020-02-0${1 + rnd.nextInt(5)} 12:00:00|ACTV\n"))
    }
    Delta(nDelta, updated.size, nNew)
  }
}
