package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Benchmark driver: one workload per process, one closed-loop client.
  *
  * Each workload sets up (untimed, reported as `setup_s`), then repeats
  * its timed operation until `--seconds` have passed (at least once).
  * Every operation and every correctness check counts as attempted; a
  * failed check or an exception counts as failed, and the samples of a
  * round with a failure are not reported. No timed operation reads a
  * cache or memo an earlier timed operation filled: every round starts
  * with `clearCache()`, a fresh `Loader.loadAll`, and (for the query
  * gates, whose memos are keyed by session) a fresh `newSession()`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --result FILE [--trace-file FILE]
  *   [--corrupt drop_row|extra_column|gate_digest]
  */
object Main {

  val Workloads = Seq("warehouse", "ops_index")

  /** The ops_index gates, run in this order; short ids name their
    * per-layer metrics.
    */
  val Gates: Seq[(String, String)] = Seq(
    "d28" -> "d28_substr_index_incremental",
    "n29" -> "n29_ann_graph_exact",
    "d14" -> "d14_components_incremental")

  /** Batch1 size of the warehouse workload. */
  val Size = Gen.Size(nCust = 1000, nTrades = 10000)

  /** The five heaviest serial models at the paper-scale sizing. */
  val HeavyModels = Seq("trades_history", "crm_customer_mgmt",
    "brokerage_cash_transaction", "trades", "fact_holdings")

  /** Every per-layer metric name, in report order. */
  val PerLayer: Seq[String] =
    Seq("bronze", "silver", "gold").flatMap(l =>
      Seq(s"$l.wall_s", s"$l.task_cpu_s", s"$l.jobs") ++
        (if (l == "bronze") Seq("bronze.rows_out", "bronze.read_amp")
         else Seq(s"$l.shuffle_mb"))) ++
    HeavyModels.map(m => s"model.$m.wall_s") ++
    Seq("build.driver_gap_s", "build.unexplained_s",
      "build_s", "build_parallel_s", "refresh_s", "suite_s",
      "dag.critical_path_s", "dag.overlap", "dag.core_util",
      "refresh.apply_s", "refresh.override_write_s", "refresh.models_written",
      "refresh.read_ratio", "refresh.write_ratio", "refresh.raw_text_mb",
      "refresh.task_cpu_s", "refresh.jobs",
      "model.fact_trade.refresh_s", "model.accounts.refresh_s") ++
    Gates.flatMap { case (g, _) =>
      Seq("wall_s", "task_cpu_s", "core_util", "gc_s", "jobs", "driver_gap_s",
        "blocks_stored", "peak_storage_mb").map(m => s"$g.$m") } ++
    Seq("spark.gc_s", "spark.spill_mb", "spark.shuffle_mb", "spark.core_util",
      "spark.retained_mb")

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, data: String,
                        result: String, traceFile: Option[String],
                        corrupt: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("result"),
      m.get("trace-file"), m.get("corrupt"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors
    new File(o.work).mkdirs()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config(s"spark.hadoop.fs.${SourceFs.Scheme}.impl", classOf[SourceFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tr = new Trace(spark.sparkContext, o.trace)
      val run = new Run(spark, tr, o, cores, jvmStartMs)
      val r = o.workload match {
        case "warehouse" => run.warehouse()
        case "ops_index" => run.ops()
      }
      o.traceFile.filter(_ => o.trace).foreach(tr.write)
      val json = r.json(o.trace)
      java.nio.file.Files.write(java.nio.file.Paths.get(o.result), (json + "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Row count and order-insensitive content hash of a frame. Columns
    * are taken by sorted name and floating columns are rounded to 6
    * places, so two computations of one table agree whatever their
    * column order and summation order.
    */
  def digestCols(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.columns.sorted.toSeq.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(s"`$c`"), 6).as(c)
        case _ => col(s"`$c`")
      }
    }

  /** Digests of several frames, all computed by one Spark job with no
    * shuffle: each partition of each frame yields (name, rows, xor of row
    * hashes), folded on the driver.
    */
  def digests(frames: Seq[(String, () => DataFrame)]): Map[String, (Long, Long)] = {
    // resolving and planning a frame (for a parquet table: a footer read)
    // is driver work that dominates at this size, so it runs on a pool
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val parts = try frames.map { case (name, df) =>
      pool.submit(new java.util.concurrent.Callable[RDD[(String, Long, Long)]] {
        def call() = hashParts(name, df())
      })
    }.map(_.get()) finally pool.shutdown()
    val all = parts.head.sparkContext.union(parts).collect()
    frames.map { case (name, _) =>
      name -> all.filter(_._1 == name).foldLeft((0L, 0L))((a, p) => (a._1 + p._2, a._2 ^ p._3))
    }.toMap
  }

  /** Per partition of `d`: (name, rows, xor of row hashes). */
  private def hashParts(name: String, d: DataFrame): RDD[(String, Long, Long)] = {
    val names = d.columns.sorted.toSeq
    d.select(digestCols(d): _*)
      .select(xxhash64(struct(names.map(c => col(s"`$c`")): _*)))
      .queryExecution.toRdd.mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r => n += 1; h ^= r.getLong(0) }
        Iterator((name, n, h))
      }
  }

  def digest(df: DataFrame): (Long, Long) = digests(Seq("df" -> (() => df)))("df")
}

/** Per-round samples plus operation accounting for one run. */
final class Result(layerNames: Seq[String]) {
  var attempted = 0
  var failed = 0
  var setupS = 0.0
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  layerNames.foreach(n => layer(n) = Vector.empty)

  /** Run one check as an operation; false or an exception fails it. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      System.err.println(s"[perfbench] check $what threw: $e"); false }
    if (!pass) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    pass
  }

  def add(to: scala.collection.mutable.Map[String, Vector[Double]], kv: Iterable[(String, Double)]): Unit =
    kv.foreach { case (k, v) => to(k) = to.getOrElse(k, Vector.empty) :+ v }

  private def median(xs: Vector[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def json(traced: Boolean): String = {
    def unit(name: String): String =
      if (name.endsWith("_s")) "s" else if (name.endsWith("_mb")) "MB"
      else if (name.endsWith("_ratio") || name.endsWith("overlap") ||
        name.endsWith("core_util") || name.endsWith("read_amp")) "ratio"
      else "count"
    val metrics =
      if (traced) layer.map { case (k, v) => k -> (median(v), unit(k)) }
      else (Seq("setup_s" -> (setupS, "s")) ++
        e2e.map { case (k, v) => k -> (median(v), unit(k)) }).toMap
    val body = metrics.toSeq.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}""" }
      .mkString(",")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}
