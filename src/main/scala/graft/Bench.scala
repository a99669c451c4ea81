package graft
import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one benchmark main: per-gate seconds plus the 44-model warehouse
  * build, as one JSON line.
  *
  * `runMain graft.Bench` runs every gate of [[SparkEntry.queries]] and
  * the warehouse build and writes BENCH_full.json. Positional names
  * restrict the run: gate names and `warehouse_build` (the 50k/500k
  * build alone). A named run writes /tmp/BENCH_partial.json instead and
  * prints one stderr line per gate with its wall, job count and no-job
  * gap.
  *
  * Queries run in sorted-name order (Map iteration order would shift
  * with every recompile, silently re-assigning the JVM/codegen warmup
  * cost to a different query). A warmup pass — scan every table + one
  * small shuffle — absorbs first-query JIT, parquet footer reads, and
  * codegen compilation so per-query numbers are comparable.
  *
  * Alongside wall, every query records executor CPU seconds from the
  * [[Metrics]] listener (bus-drained between samples so attribution is
  * exact). Wall on a shared host is hostage to co-tenant contention —
  * the round-8 bench artifact reported 2-3× the wall of a same-code
  * quiet-host run — but CPU consumed by the
  * tasks barely moves under contention, so the `queries_cpu` column is
  * the number to compare across environments. Driver-side compute
  * (bounded trainer loops, codebook updates) is outside task CPU by
  * design; for those gates CPU reads low and wall remains the signal.
  *
  * `queries_gc` (JVM GC seconds inside tasks) and `queries_spill`
  * (memory + disk shuffle-spill bytes) make the artifact
  * self-adjudicating — the columns two straight rounds of contended
  * driver runs needed a quiet-host re-run to supply: host memory
  * pressure shows as GC inflating WITH wall at flat spill (and severe
  * pressure inflates CPU too — GC threads burn task-attributed CPU);
  * a real regression in a query's memory footprint shows as spill
  * bytes moving at stable GC. Interpretation guide in PLANS.md.
  * `queries_jobs` and `queries_gap` (seconds in which no Spark job
  * ran) come from the same sample as the wall, so a gate's per-job
  * driver cost needs no second tool.
  */
object Bench {

  /** One gate's reported (min-wall) sample and its metrics, plus the
    * mean wall of all its samples and whether the reported one still
    * looks contention-poisoned.
    */
  final case class Gate(name: String, wall: Double, mean: Double,
                        m: Metrics.Delta, poisoned: Boolean)

  private val WarehouseBuild = "warehouse_build"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(a =>
      a == WarehouseBuild || SparkEntry.queries.contains(a))
    require(unknown.isEmpty,
      s"not a gate name or $WarehouseBuild: ${unknown.mkString(", ")}")
    // the artifact name below depends on it
    val cpus = Session.envCpus
    val spark = Session(cpus)
    val metrics = Metrics(spark)
    // no args = the full suite
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }

    // warmup: touch every table and exercise shuffle + window codegen
    if (selected.nonEmpty) {
      Tables.all.foreach { t =>
        try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => }
      }
      try {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        Tables.load(spark, sfDir, "orders")
          .withColumn("rn", row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate")))
          .groupBy("rn").count().count()
      } catch { case _: Throwable => }
    }

    // Evaluation sink: full-row hash aggregate, NOT count(). Under
    // count() Catalyst prunes every unused projection, so
    // projection-only queries would time the scan instead of their
    // compute. Hashing a struct of all output columns forces every
    // expression to actually evaluate, at the cost of one cheap
    // map-side-combined aggregate. bit_xor, not sum: summing hashes
    // overflows int64 and under ANSI mode (Spark 4 default) the job
    // ABORTS mid-query — the timing would measure a partial run.
    import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
    // Each query runs `iters` times and reports min + mean. One sample
    // per query makes the artifact hostage to VM throttle windows (a
    // 1.3 s query recorded as 27.7 s in round 3); the min of repeated
    // runs is the throttle-robust headline, the mean keeps the noise
    // visible. Iterations run back-to-back per query so a throttle
    // window has to span every repeat to poison a number.
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt)
    // Quiet-run reference for the contention retry below: per-query
    // wall/cpu from a committed clean-host full-suite artifact
    // (BENCH_quiet_ref.json, refreshed when the catalog or a gate's
    // cost profile changes on purpose). Missing file or missing query
    // (a gate newer than the reference) just disables that trigger.
    val (refWall, refCpu) = {
      def block(txt: String, key: String): Map[String, Double] =
        ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(txt)
          .map(_.group(1).split(",").toSeq.flatMap { kv =>
            kv.split(":") match {
              case Array(k, v) =>
                try Some(k.replace("\"", "") -> v.toDouble)
                catch { case _: NumberFormatException => None }
              case _ => None
            }
          }.toMap).getOrElse(Map.empty[String, Double])
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_quiet_ref.json")), "UTF-8")
        (block(txt, "queries"), block(txt, "queries_cpu"))
      } catch { case _: Throwable =>
        (Map.empty[String, Double], Map.empty[String, Double])
      }
    }
    // Heavy chained gates run ONE timed sample after ONE UNTIMED warmup
    // evaluation: their first evaluation pays fixed gate-construction
    // cost (q47/q49 each force the shared three-way batch-split
    // fixtures and evaluate three full warehouse DAGs), which at 2
    // timed iters was 58% of total bench wall, drowning the operator
    // signal — but a single COLD sample over-reports just as badly
    // (round-8 measured q47 at 154.6 s cold vs 41.8 s warm: the
    // reported number became the fixture build, not the operator). The
    // warmup builds the memoized fixtures off the clock; the timed
    // sample then measures the chain evaluation the way min-of-2 used
    // to, at the same total wall. The correctness gate (Verify) still
    // runs them fully every round. e04 is timed cold with no warmup:
    // nothing in it memoizes (training IS the operator), so a warmup
    // would only double its wall.
    val warmFirst = Set("q47_warehouse_batch2", "q49_warehouse_batch3_chain")
    // One cold sample for gates whose evaluation IS construction:
    // training (e04, t23, t25, n28's residual codebooks), state and
    // index building, merges, and whole shard/index lifecycles (n40
    // builds three indexes per evaluation, n62 seven IVF-PQ builds plus
    // append, rebalance and saves). Nothing in them memoizes across
    // iterations, so a second sample doubles wall for no extra signal.
    val singleIter = warmFirst ++ Set(
      "e04_pca_randomized_truncated", "t23_hashed_classifier",
      "t24_bm25_incremental", "t25_hashed_softmax_langid",
      "t30_unigram_prune", "t31_bm25_delete", "n28_ann_opq_parametric",
      "d25_substr_dedup_exact", "d26_substr_dedup_cut",
      "d27_substr_decontaminate", "d28_substr_index_incremental",
      "d29_substr_index_decontaminate", "d30_substr_index_delete",
      "d31_substr_index_bucketed", "d32_decontaminate_cut",
      "n38_index_delete", "n29_ann_graph_exact",
      "n32_graph_index_persist", "n33_graph_index_append",
      "n37_graph_index_delete",
      "n34_ann_graph_pq", "n35_ann_graph_pruned", "n36_ann_graph_opq",
      "n39_knn_graph_descent", "n40_ann_hnsw",
      "n41_hnsw_index_lifecycle", "d33_minhash_index_lifecycle",
      "d34_components_delete", "t34_bm25_state_persist",
      "n42_ann_hnsw_pq", "n43_hnsw_pq_persist", "n44_ann_hnsw_filtered",
      "d35_minhash_index_bucketed", "n45_hnsw_index_stats",
      "n46_graph_index_merge", "n47_hnsw_index_merge",
      "d36_minhash_index_merge", "n48_index_compact",
      "d37_substr_index_compact", "n49_ivfpq_index_merge",
      "n50_hnsw_pq_rerank", "n51_pq_encode_merge",
      "n52_ivfpq_partitioned_serve", "n53_graph_bucketed_serve",
      "n54_spatial_shard_merge", "n55_merge_associativity",
      "n56_ivfpq_scatter_serve", "n58_shard_rebalance",
      "n59_ivfpq_scatter_agg",
      "n60_graph_scatter_agg", "n61_shard_routed_append",
      "n62_shard_lifecycle", "n63_recut_from_state",
      "n64_shard_routed_delete", "n65_persisted_fleet_drift")
    def evaluate(fn: (SparkSession, String) => DataFrame): Unit =
      try {
        val df = fn(spark, sfDir)
        df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
      } catch { case _: Throwable => }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (warmFirst(name)) evaluate(fn)
      val nIters = if (singleIter(name)) 1 else iters
      def sample(): (Double, Metrics.Delta) = {
        val m0 = metrics.snapshot()
        val t0 = System.nanoTime()
        evaluate(fn)
        val wall = (System.nanoTime() - t0) / 1e9
        (wall, metrics.snapshot() - m0)
      }
      val firstTimes = (1 to nIters).map(_ => sample())
      // Contention-poisoned samples re-run ONCE (keep the better
      // sample). A sample looks poisoned when:
      //  - gc/wall > 0.3 (healthy runs sit at 0.02-0.06) — host
      //    memory pressure;
      //  - wall or task-CPU > 2× the committed quiet-run reference
      //    (BENCH_quiet_ref.json) — pure CPU-steal, which the
      //    six-rounds-running contended driver host shows WITHOUT gc
      //    (same-code back-to-back samples read 7.7 s then 1.2 s at
      //    proportional task CPU, so a cpu/wall RATIO test can't see
      //    it; the absolute-vs-quiet-reference test can). The 1 s
      //    reference floor keeps trivia from re-running on noise; a
      //    genuine code regression just re-runs once and reproduces.
      // Round-16 extension (suite-wide contention self-defense): the
      // retry now also fires for MULTI-iter gates when EVERY sample
      // is poisoned — min-of-iters cannot rescue a run where a
      // throttle window spanned both back-to-back samples, which is
      // exactly what 8 of the 10 phantom regressions in PERF_r15 were.
      // Bounded extra wall, spent only on fully-poisoned gates.
      def isPoisoned(t: (Double, Metrics.Delta)): Boolean = {
        val (w, m) = t
        w > 0 && (m.gcS / w > 0.3 ||
          refWall.get(name).exists(r => r > 1.0 && w > 2.0 * r) ||
          refCpu.get(name).exists(r => r > 1.0 && m.cpuS > 2.0 * r))
      }
      val times =
        if (firstTimes.forall(isPoisoned)) firstTimes :+ sample()
        else firstTimes
      // CPU/GC/spill/jobs/gap are reported from the min-WALL sample:
      // they come from one run, so the per-query ratios (cpu/wall
      // parallelism, gc/wall pressure) stay meaningful (min-of-each
      // would mix runs). `isPoisoned(best)` feeds the header's
      // poisoned_pct and `queries_poisoned`: the gates whose REPORTED
      // sample still looks contention-poisoned after the retry, so a
      // PERF reader can discount a dirty run from the artifact alone.
      val (wall, m) = times.minBy(_._1)
      if (args.nonEmpty)
        System.err.println(f"[bench] $name: wall $wall%.2f s, " +
          f"jobs ${m.jobs}, no-job gap ${m.gapS}%.2f s")
      Gate(name, wall, times.map(_._1).sum / times.length, m,
        isPoisoned((wall, m)))
    }
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // in comma-decimal locales would emit "361,530" — invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(f: Gate => String): String =
      results.map(g => "\"" + g.name + "\":" + f(g)).mkString("{", ",", "}")
    val qs = jsonMap(g => fmt(g.wall))
    val qsMean = jsonMap(g => fmt(g.mean))
    val qsCpu = jsonMap(g => fmt(g.m.cpuS))
    val qsGc = jsonMap(g => fmt(g.m.gcS))
    val qsSpill = jsonMap(g => fmt(g.m.spillBytes.toDouble))
    val qsJobs = jsonMap(_.m.jobs.toString)
    val qsGap = jsonMap(g => fmt(g.m.gapS))
    val qsPoisoned = results.filter(_.poisoned)
      .map(g => "\"" + g.name + "\"").mkString("[", ",", "]")
    val total = results.map(_.wall).sum
    val totalCpu = results.map(_.m.cpuS).sum
    val totalGc = results.map(_.m.gcS).sum
    val totalSpill = results.map(_.m.spillBytes.toDouble).sum
    // Contention index, derived so a reader (or the driver) can flag a
    // poisoned run from the header alone: healthy quiet-host runs sit
    // at gc_frac ≈ 0.02-0.06; the four contended driver rounds read
    // 0.29-0.63 at zero spill (PLANS.md interpretation guide). p95 of
    // per-query gc/wall localizes whether pressure was suite-wide or
    // one victim query.
    val gcFrac = if (total > 0) totalGc / total else 0.0
    // share of gates whose reported sample still fails the poisoned
    // test after the retry — 0 on a quiet host; a PERF comparison can
    // auto-discount per-query walls when this is high
    val poisonedPct =
      if (results.isEmpty) 0.0
      else 100.0 * results.count(_.poisoned) / results.length
    val gcFracs = results.map(g => if (g.wall > 0) g.m.gcS / g.wall else 0.0)
      .sorted
    val gcFracP95 =
      if (gcFracs.isEmpty) 0.0
      else gcFracs(math.min(gcFracs.length - 1,
        (0.95 * gcFracs.length).toInt))
    // The relational headline (judge-run every round until now): the
    // full 44-model warehouse build, sequential + parallel, at the
    // 50000/500000 scale the BASELINE comparison uses — committed into
    // the artifact so the bench-vs-BASELINE ratio needs no solo run.
    // A named run builds it only when `warehouse_build` is named; a
    // failure degrades to an error string, never a missing artifact.
    val whJson =
      if (args.nonEmpty && !args.contains(WarehouseBuild))
        """"warehouse_build":"skipped (partial run)""""
      else try {
        val wh = WarehouseBench.run(spark, 50000, 500000,
          "/tmp/graft-bench-wh")
        s""""warehouse_build":{$wh}"""
      } catch { case e: Throwable =>
        // full trace to stderr (the artifact keeps only the class name,
        // but a failed build must be diagnosable from the run log)
        e.printStackTrace()
        s""""warehouse_build":"failed: ${e.getClass.getSimpleName}""""
      }
    val sharedFixtures = graft.queries.OpsQueries.sharedFixtures
      .map(n => s"\"$n\"").mkString("\"shared_fixtures\":[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_sec":${fmt(totalCpu)},"gc_sec":${fmt(totalGc)},"gc_frac":${fmt(gcFrac)},"gc_frac_p95":${fmt(gcFracP95)},"poisoned_pct":${fmt(poisonedPct)},"queries_poisoned":$qsPoisoned,"spill_bytes":${fmt(totalSpill)},"iters":$iters,$sharedFixtures,$whJson,"queries":$qs,"queries_mean":$qsMean,"queries_cpu":$qsCpu,"queries_gc":$qsGc,"queries_spill":$qsSpill,"queries_jobs":$qsJobs,"queries_gap":$qsGap,"sf":"$sfDir"}"""
    // Full per-query results: one stdout line (for complete logs) plus a
    // file, because the driver's artifact keeps only the LAST ~2000
    // chars of sbt output. With 120+ queries the full JSON line is
    // several KB, so its head falls outside that tail window and the
    // driver's parser has recorded `parsed: null` every round. The
    // final printed line below is therefore a COMPACT JSON — total +
    // the heaviest queries, greedily added while the line stays under
    // the window budget (sbt appends its own "[success] Total time…"
    // line after us, so leave headroom for it).
    println(fullLine)
    // Named-query (partial) runs are solo-profiling tools — writing the
    // committed artifact from one would clobber the full-suite numbers
    // with a handful of queries. Partial output goes to /tmp instead.
    // Reduced-core scaling runs (SPARK_GRAFT_CPUS below the host's
    // core count) write BENCH_full_c<cpus>.json: round 15's c8 scaling
    // run overwrote the committed 32-core BENCH_full.json, destroying
    // the per-query CPU/GC columns the round's adjudication needed.
    val hostCores = Runtime.getRuntime.availableProcessors
    val outPath =
      if (args.nonEmpty) "/tmp/BENCH_partial.json"
      else if (cpus < hostCores) s"BENCH_full_c$cpus.json"
      else "BENCH_full.json"
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => }
    val budget = 1500
    val byCost = results.sortBy(-_.wall)
    val header =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_sec":${fmt(totalCpu)},"gc_sec":${fmt(totalGc)},"gc_frac":${fmt(gcFrac)},"poisoned_pct":${fmt(poisonedPct)},"spill_bytes":${fmt(totalSpill)},"iters":$iters,"sf":"$sfDir","nq":${results.length},"full":"$outPath","queries":{"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = header.length + 2 // closing }}
    for (r <- byCost) {
      val e = "\"" + r.name + "\":" + fmt(r.wall)
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
    }
    println(header + entries.mkString(",") + "}}")
    spark.stop()
  }
}
