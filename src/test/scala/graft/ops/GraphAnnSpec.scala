package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph ANN: saturated-config exactness vs brute force, recall on
  * planted clusters at a matched candidate budget, cross-cell edge
  * structure, layout determinism, and the serve-path plan pin (node
  * table never shuffles).
  */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  private def planted(nClusters: Int, perCluster: Int, dim: Int,
                      seed: Int, idBase: Long = 0L) = {
    val r = new scala.util.Random(seed)
    val anchors = Array.fill(nClusters)(Array.fill(dim)(r.nextGaussian()))
    (0 until nClusters * perCluster).map { i =>
      val a = anchors(i % nClusters)
      (idBase + i,
        a.map(x => (x + 0.05 * r.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("saturated config reproduces bruteForceTopK exactly") {
    val corpus = planted(4, 25, 16, seed = 31)
    val queries = corpus.filter(col("vec_id") < 8)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 1, degree = 99,
      crossDegree = 0)
    val graph = GraphAnn.queryGraphIndex(queries, idx, k = 5,
        beam = 5, hops = 1, entryProbes = 1)
      .select("q_id", "n_id", "rank")
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "n_id", "rank")
    graph.except(exact).count() shouldBe 0
    exact.except(graph).count() shouldBe 0
  }

  test("planted clusters: high recall at a bounded candidate budget") {
    val corpus = planted(8, 40, 16, seed = 47)
    // queries: one corpus member per cluster, re-identified (cosine is
    // scale-free, so their true neighbors are their cluster peers)
    val queries = corpus.filter(col("vec_id") < 8)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 16, degree = 6,
      crossDegree = 2)
    val res = GraphAnn.queryGraphIndex(queries, idx, k = 5,
      beam = 4, hops = 2, entryProbes = 2)
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
    val recall = Similarity.recallAtK(res.select("q_id", "n_id"),
        exact.select("q_id", "n_id"))
      .agg(avg("recall")).head().getDouble(0)
    recall should be >= 0.9
    // budget: n_visited stays within the formula bound per query
    // (entryProbes·entriesPerCell + hops·beam·(degree+crossDegree))
    val bound = 2 * 4 + 2 * 4 * (6 + 2)
    val maxVisited = res.agg(max("n_visited")).head().getLong(0)
    maxVisited should be <= bound.toLong
  }

  test("cross-cell edges actually cross cells; degrees stay bounded") {
    val corpus = planted(6, 30, 16, seed = 53)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 6, degree = 4,
      crossDegree = 2)
    val cellOf = corpus.select(col("vec_id").as("n_id"),
      graft.functions.Centroids
        .centroidAssign(col("embedding"), idx.cells).as("cell"))
    val edges = idx.nodes
      .select(col("n_id"), explode(col("neighbors")).as("m_id"))
    edges.groupBy("n_id").count().agg(max("count")).head().getLong(0) should
      be <= 6L
    val crossing = edges.join(cellOf, Seq("n_id"))
      .join(cellOf.select(col("n_id").as("m_id"), col("cell").as("m_cell")),
        Seq("m_id"))
      .filter(col("cell") =!= col("m_cell")).count()
    crossing should be > 0L
  }

  test("search replays identically across corpus layouts") {
    val corpus = planted(5, 24, 16, seed = 59)
    val queries = corpus.filter(col("vec_id") < 6)
    def run(c: org.apache.spark.sql.DataFrame) = {
      val idx = GraphAnn.buildGraphIndex(c, nlist = 8, degree = 5,
        crossDegree = 2)
      GraphAnn.queryGraphIndex(queries, idx, k = 4, beam = 3, hops = 2)
        .select("q_id", "n_id", "rank", "n_visited")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).toSet
    }
    run(corpus.repartition(13)) shouldBe run(corpus.coalesce(1))
  }

  test("PQ-compressed graph: no floats in the node table, recall holds on planted clusters") {
    // looser clusters than the float tests (noise 0.3): within-cluster
    // gaps must stay above the ADC quantization error for compressed
    // ranking to be meaningful — the regime the index targets (tight
    // near-duplicates are the float tier's or a rerank stage's job)
    val r = new scala.util.Random(83)
    val anchors = Array.fill(6)(Array.fill(16)(r.nextGaussian()))
    val corpus = (0 until 192).map { i =>
      val a = anchors(i % 6)
      (i.toLong, a.map(x => (x + 0.3 * r.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    // trained codebook (the production path — the first-ks gate scheme
    // is deliberately crude and would blur within-cluster ranking)
    val cb = KMeans.trainPqCodebook(corpus, "vec_id", "embedding",
      m = 8, ks = 32, dim = 16)
    val idx = GraphAnn.buildGraphPqIndex(corpus, nlist = 6, degree = 6,
      crossDegree = 2, m = 8, ks = 32, dim = 16, codebook = Some(cb))
    // the serve-side state is codes + topology only
    idx.nodes.columns.toSet shouldBe Set("n_id", "cell", "neighbors",
      "codes")
    val res = GraphAnn.queryGraphPqIndex(queries, idx, k = 5, beam = 4,
      hops = 2, entryProbes = 2)
    // the walk's job is to approximate the EXHAUSTIVE scan of the same
    // compressed representation (what the index could ever return);
    // quantization loss vs true neighbors is the codebook's property,
    // bounded separately
    val adcExhaustive = Similarity.pqTopK(queries, corpus, 5, m = 8,
      ks = 32, dim = 16, codebook = Some(cb))
    val walkRecall = Similarity.recallAtK(res.select("q_id", "n_id"),
        adcExhaustive.select("q_id", "n_id"))
      .agg(avg("recall")).head().getDouble(0)
    walkRecall should be >= 0.85
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
    val trueRecall = Similarity.recallAtK(res.select("q_id", "n_id"),
        exact.select("q_id", "n_id"))
      .agg(avg("recall")).head().getDouble(0)
    trueRecall should be >= 0.5 // quantization floor, not walk quality
  }

  test("save/load round-trips the index; search replays exactly") {
    val corpus = planted(4, 20, 16, seed = 67)
    val queries = corpus.filter(col("vec_id") < 5)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 5,
      crossDegree = 2)
    val dir = java.nio.file.Files.createTempDirectory("graphidx").toString
    GraphAnn.saveGraphIndex(idx, dir)
    val loaded = GraphAnn.loadGraphIndex(spark, dir)
    loaded.degree shouldBe 5
    loaded.crossDegree shouldBe 2
    loaded.cells.length shouldBe 4
    def run(i: GraphAnn.GraphIndex) =
      GraphAnn.queryGraphIndex(queries, i, k = 4, beam = 3, hops = 2)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    run(loaded) shouldBe run(idx)
  }

  test("PQ graph index save/load round-trips; ADC search replays exactly") {
    val corpus = planted(4, 20, 16, seed = 89)
    val queries = corpus.filter(col("vec_id") < 5)
    val idx = GraphAnn.buildGraphPqIndex(corpus, nlist = 4, degree = 5,
      crossDegree = 2, m = 4, ks = 16, dim = 16)
    val dir = java.nio.file.Files.createTempDirectory("graphpq").toString
    GraphAnn.saveGraphPqIndex(idx, dir)
    val loaded = GraphAnn.loadGraphPqIndex(spark, dir)
    loaded.m shouldBe 4
    loaded.codebook.length shouldBe idx.codebook.length
    def run(i: GraphAnn.GraphPqIndex) =
      GraphAnn.queryGraphPqIndex(queries, i, k = 4, beam = 3, hops = 2)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    run(loaded) shouldBe run(idx)
  }

  test("append equals a from-scratch rebuild, node-for-node") {
    val all = planted(5, 30, 16, seed = 71)
    val base = all.filter(col("vec_id") < 100)
    val batch = all.filter(col("vec_id") >= 100)
    val appended = GraphAnn.appendToGraphIndex(
      GraphAnn.buildGraphIndex(base, nlist = 5, degree = 4,
        crossDegree = 2), batch)
    val rebuilt = GraphAnn.buildGraphIndex(all, nlist = 5, degree = 4,
      crossDegree = 2)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    nbrs(appended) shouldBe nbrs(rebuilt)
    def ent(i: GraphAnn.GraphIndex) = i.entries.collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    ent(appended) shouldBe ent(rebuilt)
  }

  test("edgeless vectors stay indexed; entry-less probes fall back instead of vanishing") {
    // two explicit cells, all corpus mass in cell 0 — cell 1 is empty
    val cells = Array(Array.fill(8)(1.0), Array.fill(8)(-1.0))
    val corpus = (0L until 10L).map(i =>
      (i, Array.tabulate(8)(j => (1.0 + 0.01 * (i + j)).toFloat)))
      .toDF("vec_id", "embedding")
    // single-member cells with crossDegree=0: without the left-join
    // default a lone vector would drop out of the node table entirely
    val lonely = GraphAnn.buildGraphIndex(
      corpus.filter(col("vec_id") === 0L), nlist = 2, degree = 3,
      crossDegree = 0, centroids = Some(cells))
    lonely.nodes.count() shouldBe 1
    lonely.nodes.select("neighbors").head().getSeq[Long](0) shouldBe Seq()
    // a query pointing at the EMPTY cell must still get answers via
    // the global fallback entry
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 2, degree = 3,
      crossDegree = 0, centroids = Some(cells))
    val q = Seq((100L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val res = GraphAnn.queryGraphIndex(q, idx, k = 3, beam = 2, hops = 1,
      entryProbes = 1)
    res.select("q_id").distinct().count() shouldBe 1
  }

  test("RobustPrune: covered candidates are dropped, diverse ones kept, best-first") {
    // p = (1,0). A=(1,0.1) is the best candidate; B=(1,0.15) sits in
    // A's "shadow" (α·d(A,B) ≤ d(p,B)) so it must be pruned; C=(0,1)
    // is orthogonal — nothing covers it — so it takes the second slot
    // even though its sim is far lower.
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val p = Array(1.0, 0.0)
    val cands = Seq(
      (1L, Array(1.0, 0.1)), (2L, Array(1.0, 0.15)), (3L, Array(0.0, 1.0)))
    val pool = cands.map { case (id, e) => (cos(p, e), id, e) }
    val df = Seq(Tuple1(pool)).toDF("raw")
      .select(expr("transform(raw, x -> struct(x._1 as sim, " +
        "x._2 as id, x._3 as emb))").as("pool"))
    def prune(degree: Int, alpha: Double) =
      df.select(graft.functions.RobustPruner
          .robustPrune(col("pool"), degree, alpha).as("nbrs"))
        .head().getSeq[Long](0)
    prune(2, 1.4) shouldBe Seq(1L, 3L) // B dominated by A
    prune(3, 1.4) shouldBe Seq(1L, 3L) // dominated = removed, not deferred
    // with kNN selection (no pruning) the same pool would keep (1, 2):
    // that IS the clustering failure the α-prune exists to break
    pool.sortBy(-_._1).take(2).map(_._2) shouldBe Seq(1L, 2L)
    // a pool struct carrying EXTRA fields must prune identically: the
    // type check only requires sim/id/emb to exist, so the evaluator
    // must read with the struct's actual arity (a hardcoded 3 would
    // corrupt UnsafeRow field offsets and silently misread)
    val wide = Seq(Tuple1(pool)).toDF("raw")
      .select(expr("transform(raw, x -> struct(x._1 as sim, " +
        "x._2 as id, x._3 as emb, 'pad' as extra))").as("pool"))
    wide.select(graft.functions.RobustPruner
        .robustPrune(col("pool"), 2, 1.4).as("nbrs"))
      .head().getSeq[Long](0) shouldBe Seq(1L, 3L)
  }

  test("α-pruned append resolves an unresolved poolSize (hand-built index)") {
    // GraphIndex is a public case class whose defaults allow
    // alpha = Some(a) with poolSize = 0; append must resolve the pool
    // the way build does instead of running topEdges with k = 0 (an
    // edge-less appended graph, silently)
    val all = planted(4, 20, 16, seed = 91)
    val base = all.filter(col("vec_id") < 60)
    val batch = all.filter(col("vec_id") >= 60)
    val built = GraphAnn.buildGraphIndex(base, nlist = 4, degree = 4,
      crossDegree = 2, alpha = Some(1.4))
    val handMade = built.copy(poolSize = 0)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    nbrs(GraphAnn.appendToGraphIndex(handMade, batch)) shouldBe
      nbrs(GraphAnn.appendToGraphIndex(built, batch))
  }

  test("α-pruned append equals a from-scratch rebuild, node-for-node") {
    val all = planted(5, 30, 16, seed = 73)
    val base = all.filter(col("vec_id") < 100)
    val batch = all.filter(col("vec_id") >= 100)
    val appended = GraphAnn.appendToGraphIndex(
      GraphAnn.buildGraphIndex(base, nlist = 5, degree = 4,
        crossDegree = 2, alpha = Some(1.4)), batch)
    val rebuilt = GraphAnn.buildGraphIndex(all, nlist = 5, degree = 4,
      crossDegree = 2, alpha = Some(1.4))
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    nbrs(appended) shouldBe nbrs(rebuilt)
    def ent(i: GraphAnn.GraphIndex) = i.entries.collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    ent(appended) shouldBe ent(rebuilt)
  }

  test("α-pruned index: alpha and pool size survive save/load; search replays") {
    val corpus = planted(4, 20, 16, seed = 79)
    val queries = corpus.filter(col("vec_id") < 5)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 5,
      crossDegree = 2, alpha = Some(1.4))
    idx.poolSize shouldBe 21 // resolved default 3·(degree+crossDegree)
    val dir = java.nio.file.Files.createTempDirectory("graphprune").toString
    GraphAnn.saveGraphIndex(idx, dir)
    // α-pruned indexes write format_version 2 so a pre-r10 reader
    // (accepts <= 1) fails fast instead of appending under the kNN
    // merge rule and silently breaking rebuild-equivalence
    spark.read.parquet(s"$dir/meta").head()
      .getAs[Int]("format_version") shouldBe 2
    val loaded = GraphAnn.loadGraphIndex(spark, dir)
    loaded.alpha shouldBe Some(1.4)
    loaded.poolSize shouldBe 21
    def run(i: GraphAnn.GraphIndex) =
      GraphAnn.queryGraphIndex(queries, i, k = 4, beam = 3, hops = 2)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    run(loaded) shouldBe run(idx)
  }

  test("serve plan: node table is never shuffled (broadcast joins only)") {
    val corpus = planted(4, 20, 16, seed = 61)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 4)
    val cand = queries.select(col("q_id"), col("q_id").as("n_id"))
    val plan = GraphAnn.scoreCandidates(cand, idx.nodes, queries)
      .queryExecution.executedPlan.toString
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
    plan should not include "Exchange hashpartitioning"
  }

  test("delete: α-pruned and kNN indexes both equal the remaining-corpus rebuild") {
    val all = planted(5, 30, 16, seed = 97)
    val delIds = all.filter(col("vec_id") >= 10 && col("vec_id") % 4 === 1)
      .select("vec_id")
    val remaining = all.filter(!(col("vec_id") >= 10 && col("vec_id") % 4 === 1))
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ent(i: GraphAnn.GraphIndex) = i.entries.collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    for (alpha <- Seq(None, Some(1.4))) withClue(s"alpha=$alpha: ") {
      val afterDel = GraphAnn.deleteFromGraphIndex(
        GraphAnn.buildGraphIndex(all, nlist = 5, degree = 4,
          crossDegree = 2, alpha = alpha), delIds)
      val rebuilt = GraphAnn.buildGraphIndex(remaining, nlist = 5,
        degree = 4, crossDegree = 2, alpha = alpha)
      nbrs(afterDel) shouldBe nbrs(rebuilt)
      ent(afterDel) shouldBe ent(rebuilt)
    }
  }

  test("delete edge cases: non-member ids are a no-op; an emptied cell still serves") {
    val corpus = planted(4, 20, 16, seed = 103)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // ids the index never held: nothing may change
    val noop = GraphAnn.deleteFromGraphIndex(idx,
      Seq(900L, 901L).toDF("vec_id"))
    nbrs(noop) shouldBe nbrs(idx)
    // delete EVERY member of one cell: remaining nodes re-link, and a
    // query aimed at the emptied cell still gets k answers via the
    // fallback entry
    val cellOf = idx.nodes.select("n_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val victim = cellOf.values.groupBy(identity).view.mapValues(_.size)
      .toSeq.minBy(_._2)._1
    val victims = cellOf.filter(_._2 == victim).keys.toSeq
    val after = GraphAnn.deleteFromGraphIndex(idx,
      victims.toDF("vec_id"))
    after.nodes.count() shouldBe idx.nodes.count() - victims.length
    val q = corpus.filter(col("vec_id") === victims.head)
      .select(col("vec_id"), col("embedding"))
    val res = GraphAnn.queryGraphIndex(q, after, k = 3, beam = 3, hops = 2)
    res.select("n_id").collect().length shouldBe 3
    // and delete composes with append: remove then re-add different
    // vectors, still rebuild-equivalent
    val batch = planted(4, 5, 16, seed = 104, idBase = 500L)
    val grown = GraphAnn.appendToGraphIndex(after, batch)
    val rebuilt = GraphAnn.buildGraphIndex(
      corpus.filter(!col("vec_id").isin(victims: _*)).unionByName(batch),
      nlist = 4, degree = 4, crossDegree = 2,
      centroids = Some(idx.cells))
    nbrs(grown) shouldBe nbrs(rebuilt)
  }

  test("OPQ-rotated graph-PQ index: rotation survives save/load; serve replays") {
    val corpus = planted(4, 20, 16, seed = 83)
    val queries = corpus.filter(col("vec_id") < 6)
    val (model, cb) = Embeddings.opqTrain(corpus, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    val idx = GraphAnn.buildGraphPqIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2, m = 4, ks = 8, dim = 16, codebook = Some(cb),
      rotation = Some(model))
    val dir = java.nio.file.Files.createTempDirectory("graphopq").toString
    GraphAnn.saveGraphPqIndex(idx, dir)
    // rotated indexes write format_version 2: a pre-r11 reader would
    // serve unrotated queries against rotated codes — garbage ranks
    spark.read.parquet(s"$dir/meta").head()
      .getAs[Int]("format_version") shouldBe 2
    val loaded = GraphAnn.loadGraphPqIndex(spark, dir)
    loaded.rotation.isDefined shouldBe true
    loaded.rotation.get.basis.map(_.toSeq).toSeq shouldBe
      model.basis.map(_.toSeq).toSeq
    loaded.rotation.get.mean.toSeq shouldBe model.mean.toSeq
    def run(i: GraphAnn.GraphPqIndex) =
      GraphAnn.queryGraphPqIndex(queries, i, k = 4, beam = 3, hops = 2)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    run(loaded) shouldBe run(idx)
    // an unrotated index stays at format_version 1 (old readers fine)
    val plain = GraphAnn.buildGraphPqIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2, m = 4, ks = 8, dim = 16)
    val dir2 = java.nio.file.Files.createTempDirectory("graphplain").toString
    GraphAnn.saveGraphPqIndex(plain, dir2)
    spark.read.parquet(s"$dir2/meta").head()
      .getAs[Int]("format_version") shouldBe 1
    GraphAnn.loadGraphPqIndex(spark, dir2).rotation shouldBe None
  }

  test("offline serve plan: past the broadcast limit both joins go shuffle-hash") {
    val corpus = planted(4, 20, 16, seed = 61)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 4)
    val cand = queries.select(col("q_id"), col("q_id").as("n_id"))
    val plan = GraphAnn.scoreCandidates(cand, idx.nodes, queries,
        bcast = false)
      .queryExecution.executedPlan.toString
    // a million-query frontier must NOT ship to every executor: both
    // joins exchange on their key and hash-probe per partition
    plan should include("ShuffledHashJoin")
    plan should not include "BroadcastExchange"
  }

  test("shuffle-regime serve returns exactly the broadcast-regime results") {
    val corpus = planted(4, 25, 16, seed = 67)
    val queries = corpus.filter(col("vec_id") < 10)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2)
    def run(limit: Long) =
      GraphAnn.queryGraphIndex(queries, idx, k = 5, beam = 3, hops = 2,
          frontierBroadcastLimit = limit)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
        .toSet
    // limit 0 forces the shuffle regime for the same 10 queries;
    // rank, sim ties, and n_visited must all replay identically —
    // the regime moves where rows meet, never which rows win
    run(Long.MaxValue) shouldBe run(0L)
    // the PQ-compressed serve obeys the same regime switch
    val pq = GraphAnn.buildGraphPqIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2, m = 8, ks = 16, dim = 16)
    def runPq(limit: Long) =
      GraphAnn.queryGraphPqIndex(queries, pq, k = 5, beam = 3, hops = 2,
          frontierBroadcastLimit = limit)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    runPq(Long.MaxValue) shouldBe runPq(0L)
  }

  test("single-cell grids: no duplicate neighbor ids, full degree budget, append still rebuild-equal") {
    val corpus = planted(3, 20, 16, seed = 41)
    // nlist=1 with crossDegree>0: the cross pool would be the SAME
    // rows as the home pool — the degenerate rule must spend the full
    // degree+cross budget on DISTINCT neighbors
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 1, degree = 3,
      crossDegree = 2)
    val lists = idx.nodes.select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    lists.foreach { case (_, nb) =>
      nb.distinct.length shouldBe nb.length
      nb.length shouldBe 5 // full budget, not halved by duplicates
    }
    // the same invariant on every HNSW layer (the default coarsening
    // makes upper layers single-cell)
    val h = GraphAnn.buildHnswIndex(corpus, nlist = 4, degree = 3,
      crossDegree = 2, levelFanout = 4, maxLevel = 2)
    h.adj.select("layer", "n_id", "neighbors").collect().foreach { r =>
      val nb = r.getSeq[Long](2)
      nb.distinct.length shouldBe nb.length
    }
    // single-cell append routes through the rebuild path and still
    // equals the from-scratch build
    val base = corpus.filter(col("vec_id") < 40)
    val appended = GraphAnn.appendToGraphIndex(
      GraphAnn.buildGraphIndex(base, nlist = 1, degree = 3,
        crossDegree = 2),
      corpus.filter(col("vec_id") >= 40))
    val rebuilt = GraphAnn.buildGraphIndex(corpus, nlist = 1, degree = 3,
      crossDegree = 2)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    nbrs(appended) shouldBe nbrs(rebuilt)
  }

  test("append fails fast on already-indexed ids; empty index serves zero rows") {
    val corpus = planted(3, 15, 16, seed = 19)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 3)
    val e1 = intercept[IllegalArgumentException] {
      GraphAnn.appendToGraphIndex(idx, corpus.filter(col("vec_id") < 3))
    }
    e1.getMessage should include("already indexed")
    e1.getMessage should include("appendToGraphIndex")
    // the α-pruned append runs the batched redo; its message still
    // names the verb the caller called
    val idxA = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 3,
      alpha = Some(1.2))
    val e1a = intercept[IllegalArgumentException] {
      GraphAnn.appendToGraphIndex(idxA, corpus.filter(col("vec_id") < 3))
    }
    e1a.getMessage should include("already indexed")
    e1a.getMessage should include("appendToGraphIndex")
    val h = GraphAnn.buildHnswIndex(corpus, nlist = 4, degree = 3,
      crossDegree = 2, levelFanout = 4, maxLevel = 1)
    val e2 = intercept[IllegalArgumentException] {
      GraphAnn.appendToHnswIndex(h, corpus.filter(col("vec_id") < 3))
    }
    e2.getMessage should include("already indexed")
    e2.getMessage should include("appendToHnswIndex")
    // a fully-deleted layered index degrades to zero results, the
    // flat tier's behavior, instead of an NPE off the null max(level)
    val emptied = GraphAnn.deleteFromHnswIndex(h,
      corpus.select("vec_id"))
    emptied.nodes.count() shouldBe 0
    GraphAnn.queryHnswIndex(corpus.filter(col("vec_id") < 3), emptied,
      k = 3).count() shouldBe 0
  }

  test("filtered layered serve: survivors only, walk budget intact, waypoints still used") {
    val corpus = planted(5, 20, 16, seed = 23)
    val idx = GraphAnn.buildHnswIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 1)
    val queries = corpus.filter(col("vec_id") < 5)
      .select((col("vec_id") + 8000L).as("vec_id"), col("embedding"))
    val allowed = corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id")
    val got = GraphAnn.queryHnswIndexFiltered(queries, idx, allowed,
      k = 4, beam = 3, hops = 2)
    // every returned id satisfies the predicate
    got.select("n_id").join(allowed.select(col("vec_id").as("n_id")),
      Seq("n_id"), "left_anti").count() shouldBe 0
    // the walk itself is unfiltered: its budget matches the
    // unfiltered serve's exactly (same candidates scored)
    val unfiltered = GraphAnn.queryHnswIndex(queries, idx, k = 4,
      beam = 3, hops = 2)
    def vis(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_visited").distinct().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    vis(got) shouldBe vis(unfiltered)
    // and the filtered ranks are the unfiltered candidate pool
    // restricted to allowed ids, re-ranked — no allowed candidate the
    // unfiltered walk scored in its top-4 goes missing
    val unfApproved = unfiltered
      .join(allowed.select(col("vec_id").as("n_id")), Seq("n_id"),
        "left_semi")
      .select("q_id", "n_id")
    unfApproved.join(got.select("q_id", "n_id"), Seq("q_id", "n_id"),
      "left_anti").count() shouldBe 0
  }

  test("HNSW shuffle-regime serve returns exactly the broadcast-regime results") {
    val corpus = planted(4, 25, 16, seed = 79)
    val queries = corpus.filter(col("vec_id") < 10)
    val idx = GraphAnn.buildHnswIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2)
    def run(limit: Long) =
      GraphAnn.queryHnswIndex(queries, idx, k = 5, beam = 3, hops = 2,
          upperBeam = 1, upperHops = 2, frontierBroadcastLimit = limit)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
        .toSet
    // limit 0 forces every per-hop join in every LAYER to shuffle-hash;
    // ranks, sim ties, and the cross-layer n_visited sum must all
    // replay identically — the regime moves where rows meet, never
    // which rows win
    run(Long.MaxValue) shouldBe run(0L)
    // the layered PQ serve obeys the same regime switch
    val pq = GraphAnn.buildHnswPqIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2, m = 8, ks = 16,
      dim = 16)
    def runPq(limit: Long) =
      GraphAnn.queryHnswPqIndex(queries, pq, k = 5, beam = 3, hops = 2,
          frontierBroadcastLimit = limit)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    runPq(Long.MaxValue) shouldBe runPq(0L)
  }

  // ------------------------------------------------------------------
  // NN-Descent

  /** Exact kNN graph as (n_id, m_id) pairs: every node queried against
    * the whole corpus, self excluded (bruteForceTopK already skips the
    * identical id).
    */
  private def exactKnnPairs(corpus: org.apache.spark.sql.DataFrame,
                            k: Int) =
    Similarity.bruteForceTopK(corpus, corpus, k)
      .select(col("q_id").as("n_id"), col("n_id").as("m_id"))

  private def graphRecall(g: org.apache.spark.sql.DataFrame,
                          exact: org.apache.spark.sql.DataFrame): Double = {
    val hit = g.select("n_id", "m_id").join(exact, Seq("n_id", "m_id"))
      .count().toDouble
    hit / exact.count().toDouble
  }

  test("nnDescent: recall vs the exact kNN graph improves per round") {
    val corpus = planted(6, 30, 16, seed = 91)
    val exact = exactKnnPairs(corpus, 4).cache()
    val r0 = graphRecall(GraphAnn.nnDescent(corpus, k = 4, iters = 0,
      nBuckets = 16), exact)
    val r1 = graphRecall(GraphAnn.nnDescent(corpus, k = 4, iters = 1,
      nBuckets = 16), exact)
    val r2 = graphRecall(GraphAnn.nnDescent(corpus, k = 4, iters = 2,
      nBuckets = 16), exact)
    val r3 = graphRecall(GraphAnn.nnDescent(corpus, k = 4, iters = 3,
      nBuckets = 16), exact)
    // the random k-out seed is arbitrary-quality by construction; each
    // round merges only improvements, so recall is non-decreasing and
    // the first rounds climb steeply (the paper's empirical signature).
    // k=4 on well-separated clusters is the paper's hardest regime
    // (small k fragments the graph into near-cliques), so the high bar
    // sits at round 3, not 2.
    r0 should be < 0.5
    r1 should be > r0
    r2 should be > r1
    r3 should be >= 0.85
  }

  test("nnDescent: the exact kNN graph is a fixed point") {
    val corpus = planted(4, 20, 8, seed = 17)
    val exact = Similarity.bruteForceTopK(corpus, corpus, 3)
      .select(col("q_id").as("n_id"), col("n_id").as("m_id"))
    val exactEdges = corpus.select(col("vec_id").as("n_id"),
        col("embedding").as("emb"))
      .join(exact, Seq("n_id"))
      .join(corpus.select(col("vec_id").as("m_id"),
        col("embedding").as("m_emb")), Seq("m_id"))
      .select(col("n_id"), col("m_id"),
        Similarity.cosine(col("emb"), col("m_emb")).as("sim"))
    // a round can only replace an edge with a strictly better one;
    // no better edge exists, so the graph must come back unchanged
    val out = GraphAnn.nnDescent(corpus, k = 3, iters = 2,
      seed = Some(exactEdges))
    out.select("n_id", "m_id").except(exact).count() shouldBe 0
    exact.except(out.select("n_id", "m_id")).count() shouldBe 0
  }

  test("nnDescent: deterministic replay and seed shape invariants") {
    val corpus = planted(5, 16, 8, seed = 53)
    val seed = GraphAnn.nnDescentSeed(corpus, k = 3, nBuckets = 8)
    // seed: at most k out-edges per node, never a self edge
    seed.groupBy("n_id").count().agg(max("count")).head().getLong(0) should
      be <= 3L
    seed.filter(col("n_id") === col("m_id")).count() shouldBe 0
    val a = GraphAnn.nnDescent(corpus, k = 3, iters = 2, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val b = GraphAnn.nnDescent(corpus, k = 3, iters = 2, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    a shouldBe b
    // out-degree never exceeds k after refinement either
    val g = GraphAnn.nnDescent(corpus, k = 3, iters = 2, nBuckets = 8)
    g.groupBy("n_id").count().agg(max("count")).head().getLong(0) should
      be <= 3L
  }

  test("HNSW: hash levels follow the divisibility rule; layers are closed") {
    val corpus = planted(6, 30, 16, seed = 71)
    val idx = GraphAnn.buildHnswIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 3)
    // the level column IS the divisibility count of xxhash64(n_id)
    // by 4^l — recompute it independently
    val expected = corpus.select(col("vec_id").as("n_id"),
      ((1 to 3).map(l => when(pmod(xxhash64(col("vec_id")),
          lit(math.pow(4.0, l).toLong)) === 0, 1).otherwise(0))
        .reduce(_ + _)).cast("int").as("exp_level"))
    idx.nodes.select("n_id", "level")
      .join(expected, Seq("n_id"))
      .filter(col("level") =!= col("exp_level")).count() shouldBe 0
    // monotone membership: every layer-l adjacency row belongs to a
    // node with level >= l, and every neighbor is a layer member too
    val lv = idx.nodes.select(col("n_id"), col("level"))
    idx.adj.join(lv, Seq("n_id"))
      .filter(col("level") < col("layer")).count() shouldBe 0
    idx.adj.select(col("layer"), explode(col("neighbors")).as("n_id"))
      .join(lv, Seq("n_id"))
      .filter(col("level") < col("layer")).count() shouldBe 0
    // every member of layer l has an adjacency row at every layer <= l
    val members = lv.select(col("n_id"), col("level"))
    val adjCount = idx.adj.groupBy("n_id").count()
    members.join(adjCount, Seq("n_id"))
      .filter(col("count") =!= col("level") + 1).count() shouldBe 0
  }

  test("HNSW serve replays identically across corpus layouts") {
    val corpus = planted(5, 24, 16, seed = 83)
    val queries = corpus.filter(col("vec_id") < 6)
    def run(c: org.apache.spark.sql.DataFrame) = {
      val idx = GraphAnn.buildHnswIndex(c, nlist = 8, degree = 5,
        crossDegree = 2, levelFanout = 4, maxLevel = 2)
      GraphAnn.queryHnswIndex(queries, idx, k = 4, beam = 3, hops = 2,
          upperBeam = 1, upperHops = 2)
        .select("q_id", "n_id", "rank", "n_visited")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).toSet
    }
    run(corpus.repartition(13)) shouldBe run(corpus.coalesce(1))
  }

  test("HNSW with maxLevel=0 equals the flat graph served from the same single entry") {
    val corpus = planted(5, 20, 16, seed = 29)
    val queries = corpus.filter(col("vec_id") < 6)
    val hIdx = GraphAnn.buildHnswIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 0)
    val fIdx = GraphAnn.buildGraphIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2)
    // flat index rewired to the hash-min global entry (the degenerate
    // one-layer HNSW's entry rule)
    val gEntry = fIdx.nodes
      .select(col("n_id"), abs(xxhash64(col("n_id"))).as("__h"))
      .orderBy(col("__h"), col("n_id")).limit(1).head().getLong(0)
    val nswIdx = fIdx.copy(entries = fIdx.entries.select("cell")
      .distinct().withColumn("entry_id", lit(gEntry)).localCheckpoint())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank", "sim", "n_visited")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3), r.getLong(4))).toSet
    rows(GraphAnn.queryHnswIndex(queries, hIdx, k = 4, beam = 3,
      hops = 2)) shouldBe
      rows(GraphAnn.queryGraphIndex(queries, nswIdx, k = 4, beam = 3,
        hops = 2, entryProbes = 1))
  }

  test("HNSW append/delete equal the from-scratch rebuild at every layer") {
    val corpus = planted(6, 25, 16, seed = 37)
    val base = corpus.filter(col("vec_id") < 100)
    val batch = corpus.filter(col("vec_id") >= 100)
    def build(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 8, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 2)
    def adjSet(i: GraphAnn.HnswIndex) = i.adj.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](4))).toSet
    def nodeSet(i: GraphAnn.HnswIndex) = i.nodes
      .select("n_id", "cell", "level").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val appended = GraphAnn.appendToHnswIndex(build(base), batch)
    val rebuilt = build(corpus)
    // cells must be frozen-identical for structural equality (first-8
    // seeds live in the base half)
    appended.cells.map(_.toSeq).toSeq shouldBe rebuilt.cells.map(_.toSeq).toSeq
    adjSet(appended) shouldBe adjSet(rebuilt)
    nodeSet(appended) shouldBe nodeSet(rebuilt)
    // delete some of each region; non-members are a no-op
    val del = Seq(50L, 120L, 9999L).toDF("vec_id")
    val afterDel = GraphAnn.deleteFromHnswIndex(appended, del)
    val rebuiltDel = build(corpus.filter(col("vec_id") =!= 50 &&
      col("vec_id") =!= 120))
    adjSet(afterDel) shouldBe adjSet(rebuiltDel)
    nodeSet(afterDel) shouldBe nodeSet(rebuiltDel)
  }

  test("HNSW: deleting a whole top layer degrades the entry search gracefully") {
    val corpus = planted(4, 25, 16, seed = 61)
    val idx = GraphAnn.buildHnswIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2)
    val top = idx.nodes.agg(max("level")).head().getInt(0)
    top should be >= 1 // the fixture is big enough to populate layer 1
    val topIds = idx.nodes.filter(col("level") === top)
      .select(col("n_id").as("vec_id"))
    val pruned = GraphAnn.deleteFromHnswIndex(idx, topIds)
    pruned.nodes.agg(max("level")).head().getInt(0) should be < top
    val queries = corpus.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    val got = GraphAnn.queryHnswIndex(queries, pruned, k = 3, beam = 3,
      hops = 2)
    got.groupBy("q_id").count().collect().foreach(_.getLong(1) shouldBe 3L)
  }

  test("HNSW save/load round-trips the index; serve replays exactly") {
    val corpus = planted(5, 20, 16, seed = 43)
    val queries = corpus.filter(col("vec_id") < 6)
    val idx = GraphAnn.buildHnswIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnswidx").toString
    GraphAnn.saveHnswIndex(idx, dir)
    val loaded = GraphAnn.loadHnswIndex(spark, dir)
    loaded.levelFanout shouldBe 4
    loaded.maxLevel shouldBe 2
    loaded.alpha shouldBe None
    def run(i: GraphAnn.HnswIndex) =
      GraphAnn.queryHnswIndex(queries, i, k = 4, beam = 3, hops = 2)
        .select("q_id", "n_id", "rank", "n_visited")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).toSet
    run(loaded) shouldBe run(idx)
    // a future format version fails fast instead of misreading
    spark.createDataFrame(Seq((9, 8, 4, 2, 4, 2, Double.NaN, 0)))
      .toDF("format_version", "nlist", "degree", "cross_degree",
        "level_fanout", "max_level", "alpha", "pool_size")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val err = intercept[IllegalArgumentException] {
      GraphAnn.loadHnswIndex(spark, dir)
    }
    err.getMessage should include("format_version")
  }

  test("HNSW-PQ: no floats in the node table; layered ADC walk approximates the exhaustive scan") {
    // same regime as the flat PQ spec: looser clusters (noise 0.3) +
    // a TRAINED codebook — the crude first-ks scheme blurs
    // within-cluster ADC ranking and would test the codebook, not the
    // layered walk
    val r = new scala.util.Random(97)
    val anchors = Array.fill(6)(Array.fill(16)(r.nextGaussian()))
    val corpus = (0 until 192).map { i =>
      val a = anchors(i % 6)
      (i.toLong, a.map(x => (x + 0.3 * r.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"))
    val cb = KMeans.trainPqCodebook(corpus, "vec_id", "embedding",
      m = 8, ks = 32, dim = 16)
    val idx = GraphAnn.buildHnswPqIndex(corpus, nlist = 6, degree = 6,
      crossDegree = 2, levelFanout = 4, maxLevel = 2, m = 8, ks = 32,
      dim = 16, codebook = Some(cb))
    // the serve-side state is codes + topology + levels only
    idx.nodes.columns.toSet shouldBe Set("n_id", "cell", "level", "codes")
    val res = GraphAnn.queryHnswPqIndex(queries, idx, k = 5, beam = 6,
      hops = 3, upperBeam = 3, upperHops = 3)
    // the walk's job is to approximate the EXHAUSTIVE scan of the same
    // compressed representation (the flat PQ spec's contract, from a
    // single descended entry instead of probed cells). r11 measured
    // this config at 0.766 and attributed the gap to ADC-guided entry;
    // the r12 diagnosis (Scratch-run: q7005 visited ZERO members of
    // its own cluster) showed the real cause is upper-layer topology:
    // at nlist=6/fanout=4 the upper grids collapse to one cell, and
    // the plain kNN edge rule wires each upper member to its own
    // cluster's peers — near-disconnected cliques the descent cannot
    // leave, exactly the clustered-data failure Malkov & Yashunin's
    // select-neighbors heuristic exists for. The library's α-prune
    // rule IS that heuristic; the α build below recovers recall to
    // 1.0 at a LOWER visited budget. The kNN build's price stays
    // measured (0.766) rather than hidden.
    val adcExhaustive = Similarity.pqTopK(queries, corpus, 5, m = 8,
      ks = 32, dim = 16, codebook = Some(cb))
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(df.select("q_id", "n_id"),
          adcExhaustive.select("q_id", "n_id"))
        .agg(avg("recall")).head().getDouble(0)
    def maxVisited(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_visited").distinct()
        .agg(max("n_visited")).head().getLong(0)
    val knnRecall = recallOf(res)
    knnRecall should be >= 0.75 // the measured kNN-edge price
    val idxA = GraphAnn.buildHnswPqIndex(corpus, nlist = 6, degree = 6,
      crossDegree = 2, levelFanout = 4, maxLevel = 2, m = 8, ks = 32,
      dim = 16, codebook = Some(cb), alpha = Some(1.2))
    val resA = GraphAnn.queryHnswPqIndex(queries, idxA, k = 5, beam = 6,
      hops = 3, upperBeam = 3, upperHops = 3)
    // diversified edges beat the probed flat serve's 0.85 bar at a
    // budget no larger than the kNN walk's (measured: 1.0 at 67 vs
    // 0.766 at 75)
    recallOf(resA) should be >= 0.85
    maxVisited(resA) should be <= maxVisited(res)
    // the float-scored upper descent (r12) is independent insurance
    // against coarse-code ties: never worse than the all-ADC legacy
    // descent on the same index, at an identical per-query budget
    val legacy = GraphAnn.queryHnswPqIndex(queries,
      idxA.copy(upperFloats = None), k = 5, beam = 6, hops = 3,
      upperBeam = 3, upperHops = 3)
    recallOf(legacy) should be <= recallOf(resA)
    // same walk SHAPE (upperBeam/upperHops/beam/hops identical), so
    // the budget FORMULA is identical; realized counts drift by ±a few
    // because different upper picks overlap differently at layer 0
    math.abs(maxVisited(resA) - maxVisited(legacy)) should be <= 8L
    // deterministic replay across layouts
    def run(c: org.apache.spark.sql.DataFrame) = {
      val i = GraphAnn.buildHnswPqIndex(c, nlist = 6, degree = 6,
        crossDegree = 2, levelFanout = 4, maxLevel = 2, m = 8, ks = 32,
        dim = 16, codebook = Some(cb))
      GraphAnn.queryHnswPqIndex(queries, i, k = 3, beam = 4, hops = 2)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    run(corpus.repartition(11)) shouldBe run(corpus.coalesce(1))
  }

  test("HNSW: adaptive entry beats the single-entry flat serve on planted clusters") {
    val corpus = planted(10, 30, 16, seed = 101)
    val queries = corpus.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "n_id")
    val fIdx = GraphAnn.buildGraphIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2)
    val gEntry = fIdx.nodes
      .select(col("n_id"), abs(xxhash64(col("n_id"))).as("__h"))
      .orderBy(col("__h"), col("n_id")).limit(1).head().getLong(0)
    val nswIdx = fIdx.copy(entries = fIdx.entries.select("cell")
      .distinct().withColumn("entry_id", lit(gEntry)).localCheckpoint())
    val hIdx = GraphAnn.buildHnswIndex(corpus, nlist = 8, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2)
    def hits(df: org.apache.spark.sql.DataFrame) =
      exact.join(df.select("q_id", "n_id"), Seq("q_id", "n_id")).count()
    val nsw = hits(GraphAnn.queryGraphIndex(queries, nswIdx, k = 5,
      beam = 2, hops = 2, entryProbes = 1))
    val hnsw = hits(GraphAnn.queryHnswIndex(queries, hIdx, k = 5,
      beam = 2, hops = 2, upperBeam = 1, upperHops = 2))
    hnsw should be > nsw
  }

  test("appends fail fast on in-batch duplicate ids (flat and layered)") {
    val corpus = planted(3, 15, 16, seed = 71)
    val batch = planted(1, 5, 16, seed = 73, idBase = 1000L)
    // repeat one id inside the batch itself: without the check this
    // would silently insert two node rows with conflicting adjacency
    val dupBatch = batch.unionByName(batch.filter(col("vec_id") === 1000L))
    val flat = GraphAnn.buildGraphIndex(corpus, nlist = 3, degree = 4)
    val eFlat = intercept[IllegalArgumentException] {
      GraphAnn.appendToGraphIndex(flat, dupBatch)
    }
    eFlat.getMessage should include("repeats")
    eFlat.getMessage should include("appendToGraphIndex")
    val layered = GraphAnn.buildHnswIndex(corpus, nlist = 3, degree = 4,
      levelFanout = 4, maxLevel = 1)
    val eLay = intercept[IllegalArgumentException] {
      GraphAnn.appendToHnswIndex(layered, dupBatch)
    }
    eLay.getMessage should include("repeats")
    eLay.getMessage should include("appendToHnswIndex")
    // a clean batch still appends fine
    GraphAnn.appendToGraphIndex(flat, batch).nodes.count() shouldBe 50L
  }

  test("explicit serve regime: same results as auto-detect, fewer jobs (no |Q| count)") {
    val corpus = planted(4, 25, 16, seed = 67)
    val queries = corpus.filter(col("vec_id") < 6)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 4,
      crossDegree = 2)
    def run(regime: Option[Boolean]) =
      GraphAnn.queryGraphIndex(queries, idx, k = 4, beam = 3, hops = 2,
          broadcastFrontier = regime)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
        .toSet
    val auto = run(None)
    run(Some(true)) shouldBe auto
    run(Some(false)) shouldBe auto
    // the explicit path must skip the auto-detect count job: group the
    // construction's eager jobs (checkpoints per hop) and compare —
    // identical work except the one |Q| count
    val sc = spark.sparkContext
    def jobsDuring(tag: String)(body: => Unit): Int = {
      sc.setJobGroup(tag, tag, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // the status store is fed asynchronously; wait for it to settle
      var n, last = -1
      var spins = 0
      while ({ last = n; n = sc.statusTracker.getJobIdsForGroup(tag).length
               spins += 1; n != last && spins < 50 }) Thread.sleep(100)
      n
    }
    val nAuto = jobsDuring("regime-auto") {
      GraphAnn.queryGraphIndex(queries, idx, k = 4, beam = 3, hops = 2)
    }
    val nExplicit = jobsDuring("regime-explicit") {
      GraphAnn.queryGraphIndex(queries, idx, k = 4, beam = 3, hops = 2,
        broadcastFrontier = Some(true))
    }
    // strictly fewer — the construction work is identical except the
    // auto path's |Q| count (which AQE may split into more than one job)
    nExplicit should be < nAuto
  }

  test("mergeGraphIndexes equals the union build: nodes, entries, and serve (kNN and pruned rules)") {
    val corpus = planted(6, 30, 16, seed = 103)
    val cells = Similarity.firstVectors(corpus, 6)
    for (alpha <- Seq(None, Some(1.3))) withClue(s"alpha=$alpha: ") {
      def build(c: org.apache.spark.sql.DataFrame) =
        GraphAnn.buildGraphIndex(c, nlist = 6, degree = 4,
          crossDegree = 2, centroids = Some(cells), alpha = alpha)
      val union = build(corpus)
      // spatial sharding: split by the frozen codebook's home cell so
      // the merge's affected set is partial, exercising the carry-over
      val cellOf = union.nodes.select("n_id", "cell")
      val aIds = cellOf.filter(col("cell") < 3).select("n_id")
      val shardA = corpus.join(aIds.withColumnRenamed("n_id", "vec_id"),
        Seq("vec_id"), "left_semi")
      val shardB = corpus.join(aIds.withColumnRenamed("n_id", "vec_id"),
        Seq("vec_id"), "left_anti")
      val merged = GraphAnn.mergeGraphIndexes(build(shardA), build(shardB))
      def nbrs(i: GraphAnn.GraphIndex) = i.nodes
        .select("n_id", "neighbors").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      def ent(i: GraphAnn.GraphIndex) = i.entries.collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      nbrs(merged) shouldBe nbrs(union)
      ent(merged) shouldBe ent(union)
      // and by id-range sharding too (every cell co-occupied — the
      // degenerate-but-correct regime)
      val mergedId = GraphAnn.mergeGraphIndexes(
        build(corpus.filter(col("vec_id") < 90)),
        build(corpus.filter(col("vec_id") >= 90)))
      nbrs(mergedId) shouldBe nbrs(union)
      ent(mergedId) shouldBe ent(union)
      val queries = corpus.filter(col("vec_id") < 5)
      def serve(i: GraphAnn.GraphIndex) =
        GraphAnn.queryGraphIndex(queries, i, k = 4, beam = 3, hops = 2)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
          .toSet
      serve(merged) shouldBe serve(union)
    }
  }

  test("mergeHnswIndexes equals the union build per (layer, n_id)") {
    val corpus = planted(6, 30, 16, seed = 107)
    val cells = Similarity.firstVectors(corpus, 8)
    def build(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 8, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 2, centroids = Some(cells))
    val union = build(corpus)
    val merged = GraphAnn.mergeHnswIndexes(
      build(corpus.filter(col("vec_id") % 2 === 0)),
      build(corpus.filter(col("vec_id") % 2 === 1)))
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    adjMap(merged) shouldBe adjMap(union)
    def nodeMap(i: GraphAnn.HnswIndex) = i.nodes
      .select("n_id", "level").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    nodeMap(merged) shouldBe nodeMap(union)
  }

  test("merges fail fast on id overlap and on build-parameter drift") {
    val corpus = planted(3, 20, 16, seed = 109)
    val cells = Similarity.firstVectors(corpus, 3)
    val a = GraphAnn.buildGraphIndex(corpus.filter(col("vec_id") < 40),
      nlist = 3, degree = 4, centroids = Some(cells))
    val overlap = GraphAnn.buildGraphIndex(
      corpus.filter(col("vec_id") >= 30), nlist = 3, degree = 4,
      centroids = Some(cells))
    intercept[IllegalArgumentException] {
      GraphAnn.mergeGraphIndexes(a, overlap)
    }.getMessage should include("BOTH shard")
    val wrongDeg = GraphAnn.buildGraphIndex(
      corpus.filter(col("vec_id") >= 40), nlist = 3, degree = 5,
      centroids = Some(cells))
    intercept[IllegalArgumentException] {
      GraphAnn.mergeGraphIndexes(a, wrongDeg)
    }.getMessage should include("parameters differ")
    val wrongCells = GraphAnn.buildGraphIndex(
      corpus.filter(col("vec_id") >= 40), nlist = 2,
      centroids = Some(cells.take(2)), degree = 4)
    intercept[IllegalArgumentException] {
      GraphAnn.mergeGraphIndexes(a, wrongCells)
    }.getMessage should include("codebook")
    val ha = GraphAnn.buildHnswIndex(corpus.filter(col("vec_id") < 40),
      nlist = 3, degree = 4, centroids = Some(cells))
    val hb = GraphAnn.buildHnswIndex(corpus.filter(col("vec_id") >= 30),
      nlist = 3, degree = 4, centroids = Some(cells))
    intercept[IllegalArgumentException] {
      GraphAnn.mergeHnswIndexes(ha, hb)
    }.getMessage should include("BOTH shard")
  }

  test("compact rewrites the incremental lineage to the from-scratch layout, content-identical") {
    val corpus = planted(4, 25, 16, seed = 113)
    val cells = Similarity.firstVectors(corpus, 4)
    val chain = GraphAnn.deleteFromGraphIndex(
      GraphAnn.appendToGraphIndex(
        GraphAnn.buildGraphIndex(corpus.filter(col("vec_id") < 70),
          nlist = 4, degree = 4, crossDegree = 2,
          centroids = Some(cells)),
        corpus.filter(col("vec_id") >= 70)),
      corpus.filter(col("vec_id") % 7 === 2).select("vec_id"))
    val compacted = GraphAnn.compactGraphIndex(chain)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ent(i: GraphAnn.GraphIndex) = i.entries.collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    // content identical to the incremental chain (every verb is
    // rebuild-equivalent) AND to the fresh surviving-corpus build
    nbrs(compacted) shouldBe nbrs(chain)
    ent(compacted) shouldBe ent(chain)
    val fresh = GraphAnn.buildGraphIndex(
      corpus.filter(!(col("vec_id") % 7 === 2)), nlist = 4, degree = 4,
      crossDegree = 2, centroids = Some(cells))
    nbrs(compacted) shouldBe nbrs(fresh)
    // re-trained routing: content equality is with the new-codebook
    // build instead
    val cells2 = Similarity.firstVectors(
      corpus.filter(!(col("vec_id") % 7 === 2)), 3)
    val retrained = GraphAnn.compactGraphIndex(chain, Some(cells2))
    val fresh2 = GraphAnn.buildGraphIndex(
      corpus.filter(!(col("vec_id") % 7 === 2)), nlist = 3, degree = 4,
      crossDegree = 2, centroids = Some(cells2))
    nbrs(retrained) shouldBe nbrs(fresh2)
    // layered tier
    val chainH = GraphAnn.deleteFromHnswIndex(
      GraphAnn.appendToHnswIndex(
        GraphAnn.buildHnswIndex(corpus.filter(col("vec_id") < 70),
          nlist = 4, degree = 4, crossDegree = 2, levelFanout = 4,
          maxLevel = 2, centroids = Some(cells)),
        corpus.filter(col("vec_id") >= 70)),
      corpus.filter(col("vec_id") % 7 === 2).select("vec_id"))
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    adjMap(GraphAnn.compactHnswIndex(chainH)) shouldBe adjMap(chainH)
  }

  test("PQ rerank: exact-float final ranks lift true-neighbor recall over the pure ADC walk") {
    val r = new scala.util.Random(139)
    val anchors = Array.fill(6)(Array.fill(16)(r.nextGaussian()))
    val corpus = (0 until 192).map { i =>
      val a = anchors(i % 6)
      (i.toLong, a.map(x => (x + 0.3 * r.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    val cb = KMeans.trainPqCodebook(corpus, "vec_id", "embedding",
      m = 8, ks = 32, dim = 16)
    val idx = GraphAnn.buildHnswPqIndex(corpus, nlist = 6, degree = 6,
      crossDegree = 2, levelFanout = 4, maxLevel = 2, m = 8, ks = 32,
      dim = 16, codebook = Some(cb), alpha = Some(1.2))
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(df.select("q_id", "n_id"),
          exact.select("q_id", "n_id"))
        .agg(avg("recall")).head().getDouble(0)
    val plain = GraphAnn.queryHnswPqIndex(queries, idx, k = 5,
      beam = 6, hops = 3, upperBeam = 3, upperHops = 3)
    val rr = GraphAnn.queryHnswPqIndexReranked(queries, idx, corpus,
      k = 5, rerankK = 30, beam = 6, hops = 3, upperBeam = 3,
      upperHops = 3)
    // vs TRUE neighbors: the ADC walk's final ranks carry quantization
    // error; the float re-rank of its top-30 candidates removes it
    recallOf(rr) should be >= recallOf(plain)
    recallOf(rr) should be >= 0.9
    // flat tier obeys the same contract
    val fIdx = GraphAnn.buildGraphPqIndex(corpus, nlist = 6,
      degree = 6, crossDegree = 2, m = 8, ks = 32, dim = 16,
      codebook = Some(cb))
    val fRr = GraphAnn.queryGraphPqIndexReranked(queries, fIdx, corpus,
      k = 5, rerankK = 30, beam = 6, hops = 3, entryProbes = 2)
    recallOf(fRr) should be >= 0.9
    // n_visited is the WALK's budget — rerank adds no visits
    val pv = plain.select("q_id", "n_visited").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rr.select("q_id", "n_visited").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe pv
    // a STALE floats corpus (candidate ids missing from it) fails
    // loudly at execution — an inner join would silently return fewer
    // than k rows per query
    val staleFloats = corpus.filter(col("vec_id") >= 96)
    val ex = intercept[Exception] {
      GraphAnn.queryHnswPqIndexReranked(queries, idx, staleFloats,
        k = 5, rerankK = 30, beam = 6, hops = 3, upperBeam = 3,
        upperHops = 3).collect()
    }
    val chainMsgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    chainMsgs should include("absent from the floats corpus")
  }

  test("encode projections equal the one-shot compressed builds (flat and layered)") {
    val corpus = planted(6, 30, 16, seed = 149)
    val cells = Similarity.firstVectors(corpus, 6)
    // flat: buildGraphPqIndex IS float build + encode, so the split-out
    // projection over the same float index must reproduce it exactly
    val onePq = GraphAnn.buildGraphPqIndex(corpus, nlist = 6,
      degree = 4, crossDegree = 2, m = 8, ks = 16, dim = 16,
      centroids = Some(cells))
    val enc = GraphAnn.encodeGraphIndex(
      GraphAnn.buildGraphIndex(corpus, nlist = 6, degree = 4,
        crossDegree = 2, centroids = Some(cells)),
      m = 8, ks = 16, dim = 16)
    enc.codebook.map(_.toSeq).toSeq shouldBe
      onePq.codebook.map(_.toSeq).toSeq
    def pqNodes(i: GraphAnn.GraphPqIndex) = i.nodes
      .select("n_id", "neighbors", "codes").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Int](2))))
      .toMap
    pqNodes(enc) shouldBe pqNodes(onePq)
    enc.entries.exceptAll(onePq.entries).count() shouldBe 0
    onePq.entries.exceptAll(enc.entries).count() shouldBe 0
    // layered: codes, adjacency, and the upper-layer float slice
    val oneH = GraphAnn.buildHnswPqIndex(corpus, nlist = 6, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2, m = 8, ks = 16,
      dim = 16, centroids = Some(cells))
    val encH = GraphAnn.encodeHnswIndex(
      GraphAnn.buildHnswIndex(corpus, nlist = 6, degree = 4,
        crossDegree = 2, levelFanout = 4, maxLevel = 2,
        centroids = Some(cells)),
      m = 8, ks = 16, dim = 16)
    def hNodes(i: GraphAnn.HnswPqIndex) = i.nodes
      .select("n_id", "level", "codes").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    hNodes(encH) shouldBe hNodes(oneH)
    def adjMap(i: GraphAnn.HnswPqIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    adjMap(encH) shouldBe adjMap(oneH)
    def upper(i: GraphAnn.HnswPqIndex) = i.upperFloats.get
      .select("n_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    upper(encH) shouldBe upper(oneH)
  }

  test("float-tier lifecycle + encode: append/delete then project equals the one-shot compressed build") {
    val corpus = planted(5, 24, 16, seed = 151)
    val cells = Similarity.firstVectors(
      corpus.filter(col("vec_id") < 80), 5)
    val surv = corpus.filter(col("vec_id") < 100 &&
      col("vec_id") % 9 =!= 4)
    // the compressed tier has no append/delete of its own: the float
    // index (disk-resident full-precision corpus, the n50 contract)
    // takes the lifecycle verbs, and ONE row-independent encode
    // projects the result — no graph rebuild anywhere
    val oneShot = GraphAnn.buildGraphPqIndex(surv, nlist = 5,
      degree = 4, crossDegree = 2, m = 8, ks = 16, dim = 16,
      centroids = Some(cells))
    val lifecycle = GraphAnn.encodeGraphIndex(
      GraphAnn.deleteFromGraphIndex(
        GraphAnn.appendToGraphIndex(
          GraphAnn.buildGraphIndex(corpus.filter(col("vec_id") < 80),
            nlist = 5, degree = 4, crossDegree = 2,
            centroids = Some(cells)),
          corpus.filter(col("vec_id") >= 80 && col("vec_id") < 100)),
        corpus.filter(col("vec_id") < 100 && col("vec_id") % 9 === 4)
          .select("vec_id")),
      m = 8, ks = 16, dim = 16, codebook = Some(oneShot.codebook))
    def pqNodes(i: GraphAnn.GraphPqIndex) = i.nodes
      .select("n_id", "neighbors", "codes").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Int](2))))
      .toMap
    pqNodes(lifecycle) shouldBe pqNodes(oneShot)
  }

  test("bucketed persistence: serves replay exactly and the corpus side joins pre-partitioned") {
    val corpus = planted(5, 24, 16, seed = 163)
    val queries = corpus.filter(col("vec_id") < 6)
    val cells = Similarity.firstVectors(corpus, 5)
    val h = GraphAnn.buildHnswIndex(corpus, nlist = 5, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 2,
      centroids = Some(cells))
    val hDir = java.nio.file.Files
      .createTempDirectory("hnswbkt").toString
    GraphAnn.saveHnswIndexBucketed(h, hDir, "hnsw_bkt_spec",
      buckets = 4)
    // fresh-session shape: catalog entries gone, bucketed files durable
    for (sfx <- Seq("nodes", "adj"))
      spark.sql(s"DROP TABLE ${IndexIo.bucketedTableName(
        "hnsw_bkt_spec", sfx, hDir)}")
    val hB = GraphAnn.loadHnswIndexBucketed(spark, hDir, "hnsw_bkt_spec")
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    adjMap(hB) shouldBe adjMap(h)
    def hRun(i: GraphAnn.HnswIndex, bf: Option[Boolean]) =
      GraphAnn.queryHnswIndex(queries, i, k = 4, beam = 3, hops = 2,
          broadcastFrontier = bf)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = hRun(h, None)
    hRun(hB, Some(false)) shouldBe want
    hRun(hB, Some(true)) shouldBe want
    // the layout's point: a shuffle-regime hop join against the
    // bucketed adjacency exchanges ONLY the frontier — the plain
    // layout exchanges both sides. Per-layer filters preserve the
    // bucket partitioning.
    val frontier = queries.select(col("vec_id").as("n_id"),
      col("vec_id").as("q_id"))
    def hopExchanges(adj: org.apache.spark.sql.DataFrame) =
      "Exchange hashpartitioning".r.findAllIn(
        frontier.hint("shuffle_hash")
          .join(adj.filter(col("layer") === 0), Seq("n_id"))
          .queryExecution.executedPlan.toString).size
    hopExchanges(hB.adj) shouldBe 1
    hopExchanges(GraphAnn.loadHnswIndex(spark, hDir).adj) shouldBe 2
    // flat tier: same contract on the node table
    val g = GraphAnn.buildGraphIndex(corpus, nlist = 5, degree = 4,
      crossDegree = 2, centroids = Some(cells))
    val gDir = java.nio.file.Files
      .createTempDirectory("graphbkt").toString
    GraphAnn.saveGraphIndexBucketed(g, gDir, "graph_bkt_spec",
      buckets = 4)
    spark.sql(s"DROP TABLE ${IndexIo.bucketedTableName(
      "graph_bkt_spec", "nodes", gDir)}")
    val gB = GraphAnn.loadGraphIndexBucketed(spark, gDir,
      "graph_bkt_spec")
    def gRun(i: GraphAnn.GraphIndex, bf: Option[Boolean]) =
      GraphAnn.queryGraphIndex(queries, i, k = 4, beam = 3, hops = 2,
          broadcastFrontier = bf)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    gRun(gB, Some(false)) shouldBe gRun(g, None)
    "Exchange hashpartitioning".r.findAllIn(
      frontier.hint("shuffle_hash")
        .join(gB.nodes.select("n_id", "neighbors"), Seq("n_id"))
        .queryExecution.executedPlan.toString).size shouldBe 1
  }

  test("sharded serves: gather fold equals per-shard re-rank, n_visited sums, empty shards skipped") {
    val corpus = planted(6, 30, 16, seed = 113)
    val cells = Similarity.firstVectors(corpus, 6)
    def buildG(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 6, degree = 4,
        crossDegree = 2, centroids = Some(cells))
    val shardA = corpus.filter(col("vec_id") % 2 === 0)
    val shardB = corpus.filter(col("vec_id") % 2 === 1)
    val q = corpus.filter(col("vec_id") < 5)
    val iA = buildG(shardA); val iB = buildG(shardB)
    val got = GraphAnn.queryGraphIndexSharded(q, Seq(iA, iB), k = 4,
        beam = 4, hops = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3), r.getLong(4))).toMap
    // the fold is exactly a global (sim desc, n_id) re-rank of the
    // two per-shard serves, with per-shard visit budgets summed
    val pA = GraphAnn.queryGraphIndex(q, iA, 4, beam = 4, hops = 2)
    val pB = GraphAnn.queryGraphIndex(q, iB, 4, beam = 4, hops = 2)
    def pool(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
    // per-shard budget is constant per query; the fold sums ACROSS
    // shards (equal budgets from two shards still count twice)
    def perQ(rows: Seq[(Long, Long, Double, Long)]) =
      rows.groupBy(_._1).map { case (qid, r) => qid -> r.head._4 }
    val vA = perQ(pool(pA).toSeq); val vB = perQ(pool(pB).toSeq)
    val visited = (vA.keySet ++ vB.keySet).map(qid =>
      qid -> (vA.getOrElse(qid, 0L) + vB.getOrElse(qid, 0L))).toMap
    val want = (pool(pA) ++ pool(pB)).toSeq.groupBy(_._1).toSeq.flatMap {
      case (qid, rows) =>
        rows.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1))
          .take(4).zipWithIndex.map { case ((nid, sim), i) =>
            (qid, nid) -> (i + 1, sim, visited(qid))
          }
    }.toMap
    got shouldBe want
    // an empty shard is skipped, not served
    val empty = buildG(corpus.filter(col("vec_id") < 0))
    GraphAnn.queryGraphIndexSharded(q, Seq(iA, iB, empty), k = 4,
      beam = 4, hops = 2).count() shouldBe got.size.toLong
    // all-empty: legal, answers nothing
    GraphAnn.queryGraphIndexSharded(q, Seq(empty), k = 4)
      .count() shouldBe 0L
    // layered tier: same fold, smoke the contract shape
    def buildH(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 6, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 1, centroids = Some(cells))
    val hs = GraphAnn.queryHnswIndexSharded(q, Seq(buildH(shardA),
      buildH(shardB)), k = 3, beam = 4, hops = 2)
    hs.columns shouldBe Array("q_id", "n_id", "rank", "sim", "n_visited")
    hs.groupBy("q_id").count().collect()
      .foreach(_.getLong(1) should be <= 3L)
  }

  test("rebalanceGraphShards/rebalanceHnswShards: moved rows only, equals fresh builds over the new cut") {
    val corpus = planted(6, 30, 16, seed = 127)
    val cells = Similarity.firstVectors(corpus, 6)
    val assign = graft.functions.Centroids.centroidAssign(
      col("embedding"), cells)
    val map1 = Similarity.shardCellMap(corpus, cells, 2)
    // drift: flip shard 1's first cell into shard 0
    val b = map1.indexOf(1)
    val map2 = map1.clone(); map2(b) = 0
    def slice(map: Array[Int], i: Int) = corpus.filter(
      element_at(lit(map), assign) === i)
    def buildG(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 6, degree = 4,
        crossDegree = 2, centroids = Some(cells))
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val oldShards = (0 until 2).map(i => buildG(slice(map1, i)))
    val rebalanced = GraphAnn.rebalanceGraphShards(oldShards, map1,
      map2)
    (0 until 2).foreach { i =>
      nbrs(rebalanced(i)) shouldBe nbrs(buildG(slice(map2, i)))
    }
    // a no-op re-cut moves nothing and changes nothing
    val noop = GraphAnn.rebalanceGraphShards(oldShards, map1, map1)
    (0 until 2).foreach(i => nbrs(noop(i)) shouldBe nbrs(oldShards(i)))
    // malformed maps fail fast
    an[IllegalArgumentException] should be thrownBy
      GraphAnn.rebalanceGraphShards(oldShards, map1, Array(0, 1))
    an[IllegalArgumentException] should be thrownBy
      GraphAnn.rebalanceGraphShards(oldShards, map1, map1.map(_ + 5))
    // layered tier: same composition, per (layer, n_id)
    def buildH(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 6, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 1, centroids = Some(cells))
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val rebH = GraphAnn.rebalanceHnswShards(
      (0 until 2).map(i => buildH(slice(map1, i))), map1, map2)
    (0 until 2).foreach { i =>
      adjMap(rebH(i)) shouldBe adjMap(buildH(slice(map2, i)))
    }
  }

  test("rebalance: one batched move handles cross-flowing movers over many shards") {
    // three shards, TWO cells flipped in opposite directions (one
    // from shard 1 into shard 0, one from shard 0 into shard 2) — the
    // batched move must keep each shard's pools scoped to its own
    // members while movers flow both ways through the ONE job family,
    // and an untouched shard must come back verbatim
    val corpus = planted(6, 30, 16, seed = 137)
    val cells = Similarity.firstVectors(corpus, 6)
    val assign = graft.functions.Centroids.centroidAssign(
      col("embedding"), cells)
    val map1 = Similarity.shardCellMap(corpus, cells, 3)
    val from1 = map1.indexOf(1)
    val from0 = map1.indexOf(0)
    val map2 = map1.clone(); map2(from1) = 0; map2(from0) = 2
    def slice(map: Array[Int], i: Int) = corpus.filter(
      element_at(lit(map), assign) === i)
    def buildG(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 6, degree = 4,
        crossDegree = 2, centroids = Some(cells), alpha = Some(1.2))
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    def entries(i: GraphAnn.GraphIndex) = i.entries
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val oldShards = (0 until 3).map(i => buildG(slice(map1, i)))
    val reb = GraphAnn.rebalanceGraphShards(oldShards, map1, map2)
    (0 until 3).foreach { i =>
      val fresh = buildG(slice(map2, i))
      nbrs(reb(i)) shouldBe nbrs(fresh)
      entries(reb(i)) shouldBe entries(fresh)
    }
    // layered tier under the same two-way drift
    def buildH(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 6, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 1, centroids = Some(cells))
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val rebH = GraphAnn.rebalanceHnswShards(
      (0 until 3).map(i => buildH(slice(map1, i))), map1, map2)
    (0 until 3).foreach { i =>
      adjMap(rebH(i)) shouldBe adjMap(buildH(slice(map2, i)))
    }
    // parameter drift across shards fails fast in the batched move
    val drifted = oldShards.updated(2, oldShards(2).copy(degree = 9))
    intercept[IllegalArgumentException] {
      GraphAnn.rebalanceGraphShards(drifted, map1, map2)
    }.getMessage should include("parameters")
  }

  test("batched shard move: driver job count is flat in the shard count") {
    // the 100 TB claim behind moveGraphShardsBatched: ONE job family
    // regardless of how many shards a re-cut touches, vs the
    // per-shard composition's O(shards) submissions
    val corpus = planted(8, 25, 16, seed = 149)
    val cells = Similarity.firstVectors(corpus, 8)
    val assign = graft.functions.Centroids.centroidAssign(
      col("embedding"), cells)
    def buildG(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 8, degree = 4,
        crossDegree = 2, centroids = Some(cells))
    def countJobs(f: => Unit): Int = {
      val metrics = graft.Metrics(spark)
      val m0 = metrics.snapshot()
      f
      (metrics.snapshot() - m0).jobs.toInt
    }
    def recut(nShards: Int): Int = {
      val map1 = Similarity.shardCellMap(corpus, cells, nShards)
      // flip every shard's first cell to its left neighbor — every
      // shard both sends and receives
      val map2 = map1.clone()
      (1 until nShards).foreach { s =>
        map2(map1.indexOf(s)) = s - 1
      }
      val shards = (0 until nShards).map(i => buildG(corpus.filter(
        element_at(lit(map1), assign) === i)))
      countJobs {
        GraphAnn.rebalanceGraphShards(shards, map1, map2)
      }
    }
    val jobs2 = recut(2)
    val jobs4 = recut(4)
    info(s"batched recut jobs: 2 shards = $jobs2, 4 shards = $jobs4")
    // sub-linear in the shard count (AQE stage-jobs wobble with join
    // strategy picks, but doubling the touched shards must not come
    // near doubling the submissions — the per-shard form does exactly
    // 2× here by construction)…
    jobs4.toDouble should be < (jobs2 * 1.6)
    // …and well under the per-shard composition's bill at 4 shards
    val map1 = Similarity.shardCellMap(corpus, cells, 4)
    val map2 = map1.clone()
    (1 until 4).foreach(s => map2(map1.indexOf(s)) = s - 1)
    val shards = (0 until 4).map(i => buildG(corpus.filter(
      element_at(lit(map1), assign) === i)))
    val movers = shards.zipWithIndex.map { case (s, j) =>
      s.nodes.withColumn("to_shard",
          element_at(lit(map2), col("cell")))
        .filter(col("to_shard") =!= j)
        .select(lit(j).as("from_shard"), col("to_shard"),
          col("n_id").as("vec_id"), col("emb").as("embedding"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val jobsPerShard = countJobs {
      (0 until 4).foreach { i =>
        GraphAnn.moveGraphIndex(shards(i),
          movers.filter(col("from_shard") === i).select("vec_id"),
          movers.filter(col("to_shard") === i)
            .select("vec_id", "embedding"))
      }
    }
    info(s"per-shard composition jobs: 4 shards = $jobsPerShard")
    jobs4.toDouble should be < (jobsPerShard * 0.6)
  }

  test("deleteFromGraphShards/deleteFromHnswShards: owners from state, equals fresh builds over survivors") {
    val corpus = planted(6, 30, 16, seed = 139)
    val cells = Similarity.firstVectors(corpus, 6)
    val assign = graft.functions.Centroids.centroidAssign(
      col("embedding"), cells)
    val map = Similarity.shardCellMap(corpus, cells, 2)
    def slice(c: org.apache.spark.sql.DataFrame, i: Int) = c.filter(
      element_at(lit(map), assign) === i)
    def buildG(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 6, degree = 4,
        crossDegree = 2, centroids = Some(cells))
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // delete ids crossing BOTH shards; absent ids (negative) no-op
    val dels = corpus.filter(col("vec_id") % 5 === 0).select("vec_id")
      .unionByName(Seq(-1L, -2L).toDF("vec_id"))
    val surviving = corpus.filter(col("vec_id") % 5 =!= 0)
    val shards = (0 until 2).map(i => buildG(slice(corpus, i)))
    val shrunk = GraphAnn.deleteFromGraphShards(shards, dels)
    (0 until 2).foreach { i =>
      nbrs(shrunk(i)) shouldBe nbrs(buildG(slice(surviving, i)))
    }
    // a delete set touching NOTHING returns the fleet verbatim
    GraphAnn.deleteFromGraphShards(shards,
      Seq(-9L).toDF("vec_id")) shouldBe shards
    // layered tier
    def buildH(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 6, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 1, centroids = Some(cells))
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val shrunkH = GraphAnn.deleteFromHnswShards(
      (0 until 2).map(i => buildH(slice(corpus, i))), dels)
    (0 until 2).foreach { i =>
      adjMap(shrunkH(i)) shouldBe adjMap(buildH(slice(surviving, i)))
    }
  }

  test("expansion serves: saturated configs reproduce the saturated walks exactly") {
    // one cell + full degree: both the expansion and the beam walk
    // reach every node, so ranks must agree pair for pair — float
    // (vs brute force) and ADC (vs the saturated PQ walk)
    val corpus = planted(4, 30, 16, seed = 211).localCheckpoint()
    val queries = corpus.filter(col("vec_id") < 6)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val sat = GraphAnn.buildGraphIndex(corpus, nlist = 1, degree = 999,
      crossDegree = 0)
    keyed(GraphAnn.queryGraphIndexExpand(queries, sat, k = 5, hops = 1,
      entryProbes = 1)) shouldBe
      keyed(Similarity.bruteForceTopK(queries, corpus, 5))
    val satPq = GraphAnn.buildGraphPqIndex(corpus, nlist = 1,
      degree = 999, crossDegree = 0, m = 4, ks = 16, dim = 16)
    keyed(GraphAnn.queryGraphPqIndexExpand(queries, satPq, k = 5,
      hops = 1, entryProbes = 1)) shouldBe
      keyed(GraphAnn.queryGraphPqIndex(queries, satPq, k = 5,
        beam = 999, hops = 1, entryProbes = 1))
    // artifact drift across PQ shards fails fast
    val other = GraphAnn.buildGraphPqIndex(corpus, nlist = 1,
      degree = 4, crossDegree = 0, m = 4, ks = 16, dim = 16,
      codebook = Some(Similarity.firstVectors(
        corpus.select(col("vec_id"),
          expr("slice(embedding, 1, 4)").as("embedding")), 16)))
    intercept[IllegalArgumentException] {
      GraphAnn.queryGraphPqIndexShardedAgg(queries, Seq(satPq, other),
        k = 3)
    }.getMessage should include("codebook")
  }

  test("expansion serves fail fast when the planned per-query reach exceeds the candidate budget") {
    val corpus = planted(4, 30, 16, seed = 223).localCheckpoint()
    val queries = corpus.filter(col("vec_id") < 3)
    val idx = GraphAnn.buildGraphIndex(corpus, nlist = 4, degree = 8,
      crossDegree = 2)
    // 10 total degree, hops 9: 2*4 seeds x sum(10^h) > 10^7 budget
    intercept[IllegalArgumentException] {
      GraphAnn.queryGraphIndexExpand(queries, idx, k = 3, hops = 9)
    }.getMessage should include("budget")
    intercept[IllegalArgumentException] {
      GraphAnn.queryGraphIndexShardedAgg(queries, Seq(idx), k = 3,
        hops = 9)
    }.getMessage should include("budget")
    // a within-budget call at the same index still plans fine
    GraphAnn.queryGraphIndexExpand(queries, idx, k = 3, hops = 2)
      .collect().length should be > 0
    // the PQ tier carries the float graph's degree through encode AND
    // its save/load meta, so the guard fires there too...
    val pq = GraphAnn.buildGraphPqIndex(corpus, nlist = 4, degree = 8,
      crossDegree = 2, m = 4, ks = 16, dim = 16)
    pq.degree shouldBe 8
    intercept[IllegalArgumentException] {
      GraphAnn.queryGraphPqIndexExpand(queries, pq, k = 3, hops = 9)
    }.getMessage should include("budget")
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_pq_budget").toString
    GraphAnn.saveGraphPqIndex(pq, pqDir)
    val back = GraphAnn.loadGraphPqIndex(spark, pqDir)
    back.degree shouldBe 8
    back.crossDegree shouldBe 2
    // ...while a degree-unknown legacy index (0) skips the guard:
    // plan construction succeeds (not executed — the plan would be
    // exactly the blow-up the guard exists to stop)
    noException should be thrownBy
      GraphAnn.queryGraphPqIndexExpand(queries, pq.copy(degree = 0,
        crossDegree = 0), k = 3, hops = 9)
  }

  test("moveGraphIndex/moveHnswIndex: one fused pass equals the delete∘append composition") {
    val corpus = planted(6, 30, 16, seed = 131).localCheckpoint()
    val cells = Similarity.firstVectors(corpus, 6)
    val base = corpus.filter(col("vec_id") < 150)
    val out = base.filter(col("vec_id") % 7 === 0).select("vec_id")
    val in = corpus.filter(col("vec_id") >= 150)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def entrySet(i: GraphAnn.GraphIndex) = i.entries
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // both edge rules: kNN merges pools, α re-runs the prune — the
    // fused pass must match the composition under each
    for (alpha <- Seq(None, Some(1.2))) {
      val idx = GraphAnn.buildGraphIndex(base, nlist = 6, degree = 4,
        crossDegree = 2, centroids = Some(cells), alpha = alpha)
      val fused = GraphAnn.moveGraphIndex(idx, out, in)
      val composed = GraphAnn.appendToGraphIndex(
        GraphAnn.deleteFromGraphIndex(idx, out), in)
      nbrs(fused) shouldBe nbrs(composed)
      entrySet(fused) shouldBe entrySet(composed)
      // and both equal the fresh build over the moved member set
      val movedCorpus = base.join(out, Seq("vec_id"), "left_anti")
        .unionByName(in)
      nbrs(fused) shouldBe nbrs(GraphAnn.buildGraphIndex(movedCorpus,
        nlist = 6, degree = 4, crossDegree = 2, centroids = Some(cells),
        alpha = alpha))
    }
    // an arrival colliding with a kept row fails fast (the append
    // contract); one colliding with a DEPARTING row is a legal re-home
    val idx = GraphAnn.buildGraphIndex(base, nlist = 6, degree = 4,
      crossDegree = 2, centroids = Some(cells))
    val eMove = intercept[IllegalArgumentException] {
      GraphAnn.moveGraphIndex(idx, out,
        base.filter(col("vec_id") === 1))
    }
    eMove.getMessage should include("already indexed")
    eMove.getMessage should include("moveGraphIndex")
    GraphAnn.moveGraphIndex(idx, base.filter(col("vec_id") === 0)
        .select("vec_id"), base.filter(col("vec_id") === 0))
      .nodes.count() shouldBe idx.nodes.count()
    // layered tier: per (layer, n_id) adjacency AND node equality
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    def nodeSet(i: GraphAnn.HnswIndex) = i.nodes
      .select("n_id", "cell", "level").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val h = GraphAnn.buildHnswIndex(base, nlist = 6, degree = 4,
      crossDegree = 2, levelFanout = 4, maxLevel = 1,
      centroids = Some(cells))
    val hFused = GraphAnn.moveHnswIndex(h, out, in)
    val hComposed = GraphAnn.appendToHnswIndex(
      GraphAnn.deleteFromHnswIndex(h, out), in)
    adjMap(hFused) shouldBe adjMap(hComposed)
    nodeSet(hFused) shouldBe nodeSet(hComposed)
    // both sides above run the same batched redo, so pin the fused
    // move against the fresh layered build over the moved member set
    val hFresh = GraphAnn.buildHnswIndex(
      base.join(out, Seq("vec_id"), "left_anti").unionByName(in),
      nlist = 6, degree = 4, crossDegree = 2, levelFanout = 4,
      maxLevel = 1, centroids = Some(cells))
    adjMap(hFused) shouldBe adjMap(hFresh)
    nodeSet(hFused) shouldBe nodeSet(hFresh)
  }
}
