package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.engine.Sources
import graft.models.{Audit, CustomerXml, Dag, Loader, Warehouse}

/** One timed operation: its value, wall and executor CPU seconds, span,
  * JVM GC seconds and the change in block-manager storage across it.
  */
final case class Timed[T](value: T, wallS: Double, cpuS: Double, span: Span,
                          gcS: Double, storageDeltaMb: Double)

/** The workloads. Each returns its [[Result]]; see [[Main]]. */
final class Run(spark: SparkSession, tr: Trace, o: Main.Opts, cores: Int,
                jvmStartMs: Double) {

  private val res = new Result(Main.PerLayer)
  private val work = new File(o.work).getAbsolutePath
  private val modelNames: Seq[String] = Dag.nodes(Map.empty).map(_.name)
  private val bronze: Set[String] =
    Dag.nodes(Map.empty).filter(_.deps.isEmpty).map(_.name).toSet

  private def layerOf(model: String): String =
    if (bronze(model)) "bronze"
    else if (model.startsWith("dim_") || model.startsWith("fact_")) "gold"
    else "silver"

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def rmTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  private def dirBytes(path: String): Long =
    Option(new File(path).listFiles()).toSeq.flatten.filter(_.isFile).map(_.length).sum

  private def setupDone(): Unit = {
    res.setupS = (tr.nowMs - jvmStartMs) / 1e3
    phase("setup done")
  }

  private var lastPhaseMs = jvmStartMs
  /** Progress line on stderr with the seconds since the previous one. */
  private def phase(what: String): Unit = {
    val now = tr.nowMs
    System.err.println(f"[perfbench] ${(now - lastPhaseMs) / 1e3}%7.2f s  $what")
    lastPhaseMs = now
  }

  private def timed[T](name: String, layer: String)(body: => T): Timed[T] = {
    tr.drain()
    val c0 = tr.cpuS; val g0 = gcS; val st0 = tr.storageMb
    val before = tr.spans.size
    val v = tr.span(name, layer)(body)
    tr.drain()
    val s = tr.spans.drop(before).filter(x => x.name == name && x.layer == layer).last
    Timed(v, s.wallS, tr.cpuS - c0, s, gcS - g0, tr.storageMb - st0)
  }

  /** Run a timed operation as an attempted operation; None if it threw. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    res.attempted += 1
    try Some(body) catch { case e: Throwable =>
      res.failed += 1
      System.err.println(s"[perfbench] $what threw: $e")
      e.printStackTrace()
      None
    }
  }

  /** Closed loop: run rounds until `--seconds` have passed, at least one. */
  private def loop(body: Int => Unit): Unit = {
    val start = tr.nowMs
    var round = 0
    while (round == 0 || tr.nowMs - start < o.seconds * 1000) {
      tr.traceId = round + 1
      body(round)
      round += 1
    }
  }

  private def writeMat(out: String, onWrite: String => Unit = _ => ())
      : (String, DataFrame) => DataFrame = (name, df) =>
    tr.span(name, layerOf(name)) {
      df.write.mode("overwrite").parquet(s"$out/$name")
      onWrite(name)
      spark.read.parquet(s"$out/$name")
    }

  /** `Warehouse.build`; traced runs build through the same `mat` with a
    * span around each model's write-then-reread.
    */
  private def serialBuild(src: Map[String, DataFrame], out: String): Warehouse =
    if (!tr.detailed) Warehouse.build(spark, src, out)
    else {
      val wh = new Warehouse(src, writeMat(out))
      wh.all.foreach(_ => ())
      wh
    }

  /** Replace a written model with `f` of it (self-test corruptions). */
  private def rewrite(dir: String, model: String)(f: DataFrame => DataFrame): Unit = {
    f(spark.read.parquet(s"$dir/$model")).write.parquet(s"$dir/$model.tmp")
    rmTree(s"$dir/$model")
    new File(s"$dir/$model.tmp").renameTo(new File(s"$dir/$model"))
  }

  private def layerSpans(round: Int, within: Span): Seq[Span] =
    tr.spans.filter(s => s.trace == round + 1 && s.startMs >= within.startMs &&
      s.endMs <= within.endMs && Set("bronze", "silver", "gold")(s.layer))

  private def addLayerMetrics(spans: Seq[Span], withRows: Boolean): Unit =
    Seq("bronze", "silver", "gold").foreach { l =>
      val ls = spans.filter(_.layer == l)
      val c = ls.map(tr.countersIn).foldLeft(Counters())(_ + _)
      res.add(res.layer, Seq(s"$l.wall_s" -> ls.map(_.wallS).sum,
        s"$l.task_cpu_s" -> c.cpuS,
        s"$l.jobs" -> ls.map(tr.jobsIn(_).size).sum.toDouble) ++
        (if (l == "bronze") (if (withRows) Seq("bronze.rows_out" -> c.recordsWritten) else Nil)
         else Seq(s"$l.shuffle_mb" -> c.shuffleMb)))
    }

  private def addSparkMetrics(ops: Seq[Timed[_]]): Unit = {
    val c = ops.map(t => tr.countersIn(t.span)).foldLeft(Counters())(_ + _)
    val wall = ops.map(_.wallS).sum
    res.add(res.layer, Seq("spark.gc_s" -> ops.map(_.gcS).sum,
      "spark.spill_mb" -> c.spillMb, "spark.shuffle_mb" -> c.shuffleMb,
      "spark.core_util" -> c.taskS / (cores * wall),
      "spark.retained_mb" -> ops.map(_.storageDeltaMb).sum))
  }

  // ------------------------------------------------------------- warehouse

  /** Longest dependency chain of `Dag.nodes`, weighted by model walls. */
  private def criticalPath(wall: Map[String, Double]): Double = {
    val nodes = Dag.nodes(Map.empty).map(n => n.name -> n.deps).toMap
    val memo = scala.collection.mutable.Map.empty[String, Double]
    def finish(n: String): Double = memo.getOrElseUpdate(n,
      wall.getOrElse(n, 0.0) + nodes(n).map(finish).foldLeft(0.0)(math.max))
    nodes.keys.map(finish).max
  }

  /** The parallel build of Batch1 ∪ Batch2, then the serial build of
    * Batch1, then the incremental refresh of the serial build with
    * Batch2. The parallel build doubles as the refresh's reference: every
    * model the delta reaches must come out of the refresh equal to it,
    * and every model it cannot reach must be equal in the two builds.
    * The first round's parallel build runs in a fresh JVM, as a one-shot
    * `dbt build` does; the serial build and refresh after it run warm.
    */
  def warehouse(): Result = {
    val b1 = s"$work/batch1"; val b2 = s"$work/batch2"
    phase("session")
    Gen.batch1(b1, Main.Size, o.seed)
    val delta0 = Gen.batch2(b2, Main.Size, o.seed)
    phase(s"generate (delta: $delta0)")
    val srcUri = SourceFs.uri(b1)
    val srcBytes = dirBytes(b1).toDouble
    def delimited(key: String) = {
      val (file, schema) = Loader.delimitedSources(key)
      Sources.delimited(spark, s"$b2/$file", schema)
    }
    val delta: Map[String, DataFrame] = Seq("trade", "trade_history",
      "cash_transaction", "watch_history").map(k => k -> delimited(k)).toMap +
      ("customer_mgmt" -> CustomerXml.customerMgmt(spark, s"$b2/CustomerMgmt.xml"))
    val affected = Dag.downstream(delta.keySet.map(Dag.sourceModel))
    setupDone()

    loop { round =>
      val out = s"$work/r$round"
      val (outS, outP, outI) = (s"$out/serial", s"$out/parallel", s"$out/refresh")
      val failed0 = res.failed

      spark.catalog.clearCache()
      val unioned = Loader.loadAll(spark, srcUri).map { case (k, v) =>
        k -> delta.get(k).map(v.unionByName(_)).getOrElse(v) }
      val par = attempt("parallel build")(timed("build_parallel", "build")(
        Dag.runParallel(spark, unioned, outP, cores)))
      phase("parallel build")
      if (o.corrupt.contains("drop_row")) par.foreach(_ =>
        rewrite(outP, "fact_trade")(df => df.limit((df.count() - 1).toInt)))

      spark.catalog.clearCache()
      val text0 = SourceFs.bytesRead
      val serial = attempt("serial build")(timed("build", "build")(
        serialBuild(Loader.loadAll(spark, srcUri), outS)))
      val buildText = (SourceFs.bytesRead - text0).toDouble
      phase("serial build")
      serial.foreach { s =>
        val wh = s.value
        res.check("uniqueTradeViolations empty")(wh.uniqueTradeViolations.isEmpty)
        res.check("scd2Continuity(accounts, customers) == 0")(
          Seq(wh.accounts -> "account_id", wh.customers -> "customer_id").forall {
            case (df, id) => Audit.scd2Continuity(df, Seq(id))
              .agg(sum(col("n_violations"))).first().getLong(0) == 0L })
      }

      spark.catalog.clearCache()
      // the materialised Batch1 warehouse a deployment has on disk when
      // the late batch arrives, opened through the parquet tables the
      // serial build read back; opening it is not part of the refresh
      val existing = serial.map(s => new Warehouse(Loader.loadAll(spark, srcUri),
        overrides = s.value.all.toMap))
      val text1 = SourceFs.bytesRead
      val ref = existing.flatMap(e => attempt("refresh")(timed("refresh", "refresh")(
        refresh(e, outI, delta, affected))))
      val refreshText = (SourceFs.bytesRead - text1) / 1e6
      phase("refresh")

      if (serial.isDefined && par.isDefined) {
        val unaffected = modelNames.filterNot(affected)
        val reached = modelNames.filter(affected)
        if (o.corrupt.contains("extra_column")) ref.foreach(_ =>
          rewrite(outI, "fact_trade")(_.withColumn("merge_key", lit(0L))))
        // each output is read with its own schema, and the column names and
        // types are compared as well as the digests
        val columns = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
        val paths = modelNames.map(n => s"$outP/$n") ++ unaffected.map(n => s"$outS/$n") ++
          (if (ref.isDefined) reached.map(n => s"$outI/$n") else Nil)
        val d = attempt("digests")(Main.digests(paths.map(p => p -> (() => {
          val df = spark.read.parquet(p)
          columns.put(p, df.schema.fields.map(f => f.name -> f.dataType.simpleString).sortBy(_._1).toSeq)
          df }))))
        def same(a: String, b: String, ds: Map[String, (Long, Long)]) =
          ds.get(a) == ds.get(b) && columns.get(a) == columns.get(b)
        d.foreach { d =>
          res.check("fact_trade rows == generated Batch1 + Batch2 trades")(
            d(s"$outP/fact_trade")._1 == Main.Size.nTrades + delta0.trades)
          unaffected.foreach(n => res.check(s"$n: serial build == parallel build")(
            same(s"$outS/$n", s"$outP/$n", d)))
          if (ref.isDefined) reached.foreach(n => res.check(s"$n: refresh == full rebuild")(
            same(s"$outI/$n", s"$outP/$n", d)))
        }
      }
      phase("checks")

      if (res.failed == failed0) for (s <- serial; p <- par; r <- ref) {
        res.add(res.e2e, Seq("wall_s" -> (s.wallS + p.wallS + r.wallS),
          "task_cpu_s" -> (s.cpuS + p.cpuS + r.cpuS)))
        res.add(res.layer, Seq("build_s" -> s.wallS, "build_parallel_s" -> p.wallS,
          "refresh_s" -> r.wallS))
        if (tr.detailed) {
          val models = layerSpans(round, s.span)
          addLayerMetrics(models, withRows = true)
          res.add(res.layer, Seq("bronze.read_amp" -> buildText / srcBytes,
            "build.driver_gap_s" -> tr.gapS(s.span),
            "build.unexplained_s" -> (s.wallS - models.map(_.wallS).sum)))
          val wall = models.map(m => m.name -> m.wallS).toMap
          Main.HeavyModels.foreach(m => res.add(res.layer, Seq(s"model.$m.wall_s" -> wall.getOrElse(m, 0.0))))
          val pc = tr.countersIn(p.span)
          res.add(res.layer, Seq("dag.critical_path_s" -> criticalPath(wall),
            "dag.overlap" -> p.value.values.sum / p.wallS,
            "dag.core_util" -> pc.taskS / (cores * p.wallS)))

          val (written, overrides) = r.value
          val inRef = tr.spans.filter(x => x.trace == round + 1 &&
            x.startMs >= r.span.startMs && x.endMs <= r.span.endMs)
          def wallOf(name: String, layer: String) =
            inRef.filter(x => x.name == name && x.layer == layer).map(_.wallS).sum
          val c = tr.countersIn(r.span)
          res.add(res.layer, Seq(
            "refresh.apply_s" -> wallOf("apply", "refresh"),
            "refresh.override_write_s" -> wallOf("override_write", "refresh"),
            "refresh.models_written" -> (written + overrides).toDouble,
            "refresh.read_ratio" -> c.recordsRead / pc.recordsRead,
            "refresh.write_ratio" -> c.bytesWrittenMb / pc.bytesWrittenMb,
            "refresh.raw_text_mb" -> refreshText,
            "refresh.task_cpu_s" -> c.cpuS,
            "refresh.jobs" -> tr.jobsIn(r.span).size.toDouble,
            "model.fact_trade.refresh_s" -> wallOf("fact_trade", "gold"),
            "model.accounts.refresh_s" -> wallOf("accounts", "silver")))
          addSparkMetrics(Seq(s, p, r))
        }
      }
      rmTree(out)
    }
    res
  }

  /** `Warehouse.applyBatch2` over `existing` with a write-then-reread
    * `mat`, then a write of every affected model it returned as a merge
    * override (those bypass `mat`). Returns the number of models `mat`
    * wrote and the number of overrides written.
    */
  private def refresh(existing: Warehouse, out: String, delta: Map[String, DataFrame],
                      affected: Set[String]): (Int, Int) = {
    val written = scala.collection.mutable.Set.empty[String]
    val refreshed = tr.span("apply", "refresh")(
      Warehouse.applyBatch2(existing, delta, writeMat(out, written += _)))
    var overrides = 0
    tr.span("override_write", "refresh") {
      refreshed.foreach { case (n, df) =>
        if (affected(n) && !written(n)) tr.span(n, layerOf(n)) {
          df.write.mode("overwrite").parquet(s"$out/$n"); overrides += 1 }
      }
    }
    (written.size, overrides)
  }

  // ------------------------------------------------------------------- ops

  def ops(): Result = {
    val data = new File(o.data).getAbsolutePath
    val expected: Map[String, (Long, Long)] = {
      val src = scala.io.Source.fromFile(s"$data/ops_digests.txt")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
      finally src.close()
    }
    val want = if (o.corrupt.contains("gate_digest")) {
      val g = Main.Gates.head._2
      expected.updated(g, (expected(g)._1, expected(g)._2 ^ 1L))
    } else expected
    setupDone()

    loop { round =>
      val failed0 = res.failed
      spark.catalog.clearCache()
      val s = spark.newSession()
      val gates = scala.collection.mutable.ArrayBuffer.empty[(String, Timed[(Long, Long)])]
      val suite = timed("suite", "ops") {
        Main.Gates.foreach { case (id, name) =>
          attempt(name)(timed(id, "ops")(
            Main.digest(SparkEntry.queries(name)(s, data))))
            .foreach(t => gates += id -> t)
        }
      }
      gates.foreach { case (id, t) =>
        val name = Main.Gates.toMap.apply(id)
        res.check(s"$name digest == recorded")(want.get(name).contains(t.value))
      }
      if (res.failed == failed0) {
        res.add(res.e2e, Seq("wall_s" -> suite.wallS, "task_cpu_s" -> suite.cpuS))
        res.add(res.layer, Seq("suite_s" -> suite.wallS))
        if (tr.detailed) {
          gates.foreach { case (id, t) =>
            val c = tr.countersIn(t.span)
            val (blocks, peak) = tr.storageIn(t.span)
            res.add(res.layer, Seq(s"$id.wall_s" -> t.wallS, s"$id.task_cpu_s" -> c.cpuS,
              s"$id.core_util" -> c.taskS / (cores * t.wallS),
              s"$id.gc_s" -> t.gcS, s"$id.jobs" -> tr.jobsIn(t.span).size.toDouble,
              s"$id.driver_gap_s" -> tr.gapS(t.span), s"$id.blocks_stored" -> blocks.toDouble,
              s"$id.peak_storage_mb" -> peak))
          }
          addSparkMetrics(Seq(suite))
        }
      }
    }
    res
  }
}
