package graft
import graft.engine.Tables

/** Per-round benchmark: one JSON line with total + per-query seconds.
  *
  * Queries run in sorted-name order (Map iteration order would shift
  * with every recompile, silently re-assigning the JVM/codegen warmup
  * cost to a different query). A warmup pass — scan every table + one
  * small shuffle — absorbs first-query JIT, parquet footer reads, and
  * codegen compilation so per-query numbers are comparable.
  *
  * Alongside wall, every query records executor CPU seconds (sum of
  * per-task `executorCpuTime` via a SparkListener, bus-drained between
  * samples so attribution is exact). Wall on a shared host is hostage
  * to co-tenant contention — the round-8 driver artifact reported 2-3×
  * the wall of a same-code quiet-host run — but CPU consumed by the
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
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the artifact name below depends on it
    val cpus = Session.envCpus
    val spark = Session(cpus)

    // Per-task counters, bus-drained between samples so attribution is
    // exact. CPU is the contention-robust headline; GC time and
    // shuffle spill are the self-adjudication columns: a contended
    // host shows wall AND GC inflating together at flat spill, while
    // a genuine memory-pressure regression shows spill bytes moving —
    // so a bench artifact reader can tell environment from code
    // without a quiet-host re-run.
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMillis = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            cpuNanos.addAndGet(m.executorCpuTime)
            gcMillis.addAndGet(m.jvmGCTime)
            spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      })
    def snapshot(): (Long, Long, Long) = {
      org.apache.spark.graftbridge.CoreBridge
        .drainListenerBus(spark.sparkContext)
      (cpuNanos.get(), gcMillis.get(), spillBytes.get())
    }

    // warmup: touch every table and exercise shuffle + window codegen
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

    // Evaluation sink: full-row hash aggregate, NOT count(). Under
    // count() Catalyst prunes every unused projection, so
    // projection-only queries would time the scan instead of their
    // compute. Hashing a struct of all output columns forces every
    // expression to actually evaluate, at the cost of one cheap
    // map-side-combined aggregate. bit_xor, not sum: summing hashes
    // overflows int64 and under ANSI mode (Spark 4 default) the job
    // ABORTS mid-query — the timing would measure a partial run.
    import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
    // Optional name args restrict the run (solo profiling on a noisy
    // host); no args = full suite, which is what the driver runs.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    // Each query runs `iters` times and reports min + mean. One sample
    // per query makes the artifact hostage to VM throttle windows (a
    // 1.3 s query recorded as 27.7 s in round 3); the min of repeated
    // runs is the throttle-robust headline, the mean keeps the noise
    // visible. Iterations run back-to-back per query so a throttle
    // window has to span every repeat to poison a number.
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt)
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
    val warmFirst = Set("q47_warehouse_batch2", "q49_warehouse_batch3_chain")
    // t23/t24 join e04 in the cold-single-sample tier: training (t23)
    // and state building (t24) ARE the operators and nothing memoizes,
    // so a second iteration doubles wall for no extra signal.
    val singleIter = warmFirst ++
      Set("e04_pca_randomized_truncated", "t23_hashed_classifier",
        "t24_bm25_incremental", "t25_hashed_softmax_langid",
        // n28's shared OPQ rotation now memoizes across gates, but its
        // residual centroids/codebook retrain per evaluation — still
        // construction-dominated, still single-sample
        "t30_unigram_prune", "t31_bm25_delete", "n28_ann_opq_parametric",
        // index/class-table construction IS the operator; nothing
        // memoizes across iterations
        "d25_substr_dedup_exact", "d26_substr_dedup_cut",
        "d27_substr_decontaminate", "d28_substr_index_incremental",
        "d29_substr_index_decontaminate", "d30_substr_index_delete",
        "d31_substr_index_bucketed", "d32_decontaminate_cut",
        "n38_index_delete",
        "n29_ann_graph_exact",
        "n32_graph_index_persist", "n33_graph_index_append",
        "n37_graph_index_delete",
        "n34_ann_graph_pq", "n35_ann_graph_pruned", "n36_ann_graph_opq",
        // graph construction / index lifecycles added in round 11:
        // n39 builds the kNN graph iteratively, n40 builds three
        // indexes per evaluation, n41/d33 run whole save/load/append/
        // delete lifecycles — construction IS the operator
        "n39_knn_graph_descent", "n40_ann_hnsw",
        "n41_hnsw_index_lifecycle", "d33_minhash_index_lifecycle",
        "d34_components_delete", "t34_bm25_state_persist",
        "n42_ann_hnsw_pq", "n43_hnsw_pq_persist", "n44_ann_hnsw_filtered",
        "d35_minhash_index_bucketed", "n45_hnsw_index_stats",
        // round-12 merge gates: each builds three indexes per
        // evaluation (two shards + the union oracle)
        "n46_graph_index_merge", "n47_hnsw_index_merge",
        "d36_minhash_index_merge", "n48_index_compact",
        "d37_substr_index_compact", "n49_ivfpq_index_merge",
        "n50_hnsw_pq_rerank", "n51_pq_encode_merge",
        "n52_ivfpq_partitioned_serve", "n53_graph_bucketed_serve",
        // round-13 shard-recipe gates: n54 builds four indexes per
        // evaluation (three shards + union), n55 five (three shards +
        // two merge steps + union) — construction IS the operator
        "n54_spatial_shard_merge", "n55_merge_associativity",
        // n56 builds four IVF-PQ indexes (three shards + the merged
        // oracle) per evaluation; n58 builds/rebalances six graph
        // indexes — construction IS the operator
        "n56_ivfpq_scatter_serve", "n58_shard_rebalance",
        "n59_ivfpq_scatter_agg",
        // n60 builds five graph-tier indexes (three shards, the
        // saturated oracle, HNSW + flat pair) per evaluation; n61
        // builds/appends eight (two tiers × two shards × grown+fresh)
        "n60_graph_scatter_agg", "n61_shard_routed_append",
        // n62 runs the whole lifecycle: seven IVF-PQ builds (three
        // shards + three fresh-slice oracles + the merged oracle)
        // plus append + rebalance per evaluation; n63 builds six
        // graph indexes plus append + rebalance for the state-derived
        // re-cut loop
        // n64 builds six indexes (two tiers × two shards + fresh
        // survivor oracles) plus the batched routed delete
        "n62_shard_lifecycle", "n63_recut_from_state",
        "n64_shard_routed_delete",
        // n65 runs the whole persisted drift loop: five IVF-PQ builds
        // plus append + rebalance + two fleet saves AND reloads
        "n65_persisted_fleet_drift")
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (warmFirst(name)) {
        try {
          val df = fn(spark, sfDir)
          df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
        } catch { case _: Throwable => }
      }
      val nIters = if (singleIter(name)) 1 else iters
      def sample(): (Double, Double, Double, Double) = {
        val (c0, g0, s0) = snapshot()
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
        } catch { case _: Throwable => }
        val wall = (System.nanoTime() - t0) / 1e9
        val (c1, g1, s1) = snapshot()
        (wall, (c1 - c0) / 1e9, (g1 - g0) / 1e3, (s1 - s0).toDouble)
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
      def isPoisoned(t: (Double, Double, Double, Double)): Boolean = {
        val (w, c, g, _) = t
        w > 0 && (g / w > 0.3 ||
          refWall.get(name).exists(r => r > 1.0 && w > 2.0 * r) ||
          refCpu.get(name).exists(r => r > 1.0 && c > 2.0 * r))
      }
      val times =
        if (firstTimes.forall(isPoisoned)) firstTimes :+ sample()
        else firstTimes
      // CPU/GC/spill are reported from the min-WALL sample: the tuple
      // comes from one run, so the per-query ratios (cpu/wall
      // parallelism, gc/wall pressure) stay meaningful (min-of-each
      // would mix runs). `isPoisoned(best)` feeds the header's
      // poisoned_pct: the share of gates whose REPORTED sample still
      // looks contention-poisoned after the retry, so a PERF reader
      // can discount a dirty run from the artifact alone.
      val best = times.minBy(_._1)
      (name, best._1, times.map(_._1).sum / times.length, best._2,
        best._3, best._4, isPoisoned(best))
    }
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // in comma-decimal locales would emit "361,530" — invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(f: ((String, Double, Double, Double, Double, Double,
        Boolean)) => Double): String =
      results.map(r => s"\"" + r._1 + "\":" + fmt(f(r))).mkString("{", ",", "}")
    val qs = jsonMap(_._2)
    val qsMean = jsonMap(_._3)
    val qsCpu = jsonMap(_._4)
    val qsGc = jsonMap(_._5)
    val qsSpill = jsonMap(_._6)
    val total = results.map(_._2).sum
    val totalCpu = results.map(_._4).sum
    val totalGc = results.map(_._5).sum
    val totalSpill = results.map(_._6).sum
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
      else 100.0 * results.count(_._7) / results.length
    val gcFracs = results.map(r => if (r._2 > 0) r._5 / r._2 else 0.0)
      .sorted
    val gcFracP95 =
      if (gcFracs.isEmpty) 0.0
      else gcFracs(math.min(gcFracs.length - 1,
        (0.95 * gcFracs.length).toInt))
    // The relational headline (judge-run every round until now): the
    // full 44-model warehouse build, sequential + parallel, at the
    // 50000/500000 scale the BASELINE comparison uses — committed into
    // the artifact so the bench-vs-BASELINE ratio needs no solo run.
    // Skipped for partial (named-query) runs; a failure degrades to an
    // error string, never a missing artifact.
    val forceWh = sys.env.get("SPARK_GRAFT_BENCH_FORCE_WH").contains("1")
    val whJson =
      if (args.nonEmpty && !forceWh)
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
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_sec":${fmt(totalCpu)},"gc_sec":${fmt(totalGc)},"gc_frac":${fmt(gcFrac)},"gc_frac_p95":${fmt(gcFracP95)},"poisoned_pct":${fmt(poisonedPct)},"spill_bytes":${fmt(totalSpill)},"iters":$iters,$sharedFixtures,$whJson,"queries":$qs,"queries_mean":$qsMean,"queries_cpu":$qsCpu,"queries_gc":$qsGc,"queries_spill":$qsSpill,"sf":"$sfDir"}"""
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
    val byCost = results.sortBy(-_._2)
    val header =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_sec":${fmt(totalCpu)},"gc_sec":${fmt(totalGc)},"gc_frac":${fmt(gcFrac)},"poisoned_pct":${fmt(poisonedPct)},"spill_bytes":${fmt(totalSpill)},"iters":$iters,"sf":"$sfDir","nq":${results.length},"full":"$outPath","queries":{"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = header.length + 2 // closing }}
    for (r <- byCost) {
      val e = "\"" + r._1 + "\":" + fmt(r._2)
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
    }
    println(header + entries.mkString(",") + "}}")
    spark.stop()
  }
}
