package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Centroids, RobustPruner, TopK}

/** Distributed graph-based ANN — the HNSW/Vamana regime (high recall
  * at a small candidate budget) re-expressed for a partitioned engine.
  *
  * Single-node HNSW is a pointer-chasing structure served by one
  * process; neither the build (global greedy insertions) nor the serve
  * (sequential best-first walk) maps onto a shuffle-based engine. What
  * DOES map is the two ideas that give graph indexes their recall:
  *  - a navigable neighborhood graph: every vector keeps edges to its
  *    `degree` nearest peers, so similarity "flows" — walking from any
  *    entry point reaches a query's true neighbors in a few hops;
  *  - beam search: expand the current best `beam` nodes' edges, score,
  *    keep the best `beam` again — candidates stay bounded while the
  *    walk homes in.
  * This module builds the graph as a plain DataFrame (`n_id, emb,
  * neighbors array<long>`) and serves queries with a BATCHED beam
  * search: all queries advance one hop per round, each hop being one
  * broadcast join + one bounded-heap aggregate. No pointer chasing, no
  * per-query driver loop — the per-hop work for the whole query batch
  * is a single Spark job.
  *
  * Build shape (the Vamana-merge idea, DataFrame-native): a coarse
  * codebook partitions the corpus into cells; intra-cell edges come
  * from a WITHIN-CELL top-`degree` self-join (cost Σ n_c² = n · n_c,
  * bounded by the cell size the codebook is trained for — never
  * all-pairs); cross-cell edges link every node to its top
  * `crossDegree` peers in its SECOND-closest cell, which is what makes
  * the merged graph navigable ACROSS the partition boundary (a beam
  * started in the wrong cell can cross over). The built node table is
  * localCheckpointed: build once, query many.
  *
  * Serve shape, interactive regime (|Q| ≤ the broadcast limit): the
  * corpus-sized node table is NEVER exchanged. Each hop
  * broadcast-joins the (|Q|·beam)-row frontier against the node
  * table twice — once for adjacency, once for candidate embeddings —
  * and reduces with the bounded-heap [[graft.functions.TopKAggregate]]
  * (the n24 serving aggregate), whose shuffle carries at most
  * beam/k pairs per (query, task). Per-query candidate budget is
  * entryProbes + hops · beam · (degree + crossDegree), independent of
  * corpus size. Offline regime (million-query batches, past the
  * limit): the frontier no longer fits a broadcast budget, so every
  * per-hop join switches to SHUFFLE_HASH — each side exchanges once
  * on its join key; same results, different meeting point (one
  * bounded query-count decides, per serve call). GraphAnnSpec pins
  * BOTH physical plans and their result equality; gates n29/n31 pin
  * saturated-config exactness vs [[Similarity.bruteForceTopK]] and
  * recall-vs-IVF at matched budget.
  */
object GraphAnn {

  /** A built graph index.
    *
    * @param nodes   n_id, emb (array, as loaded), cell (home cell),
    *                neighbors (array<long>, best-first) —
    *                localCheckpointed
    * @param entries per-cell entry nodes: cell, entry_id
    *                (nlist · entriesPerCell rows)
    * @param cells   the coarse codebook used for routing
    * @param degree  intra-cell out-degree the index was built with
    * @param crossDegree cross-cell out-degree
    * @param entriesPerCell entries kept per cell
    * @param alpha   Some(α) when edges were RobustPrune-diversified
    *                (degree + crossDegree becomes the TOTAL out-degree
    *                budget over the α-pruned combined pool); None for
    *                the plain kNN edge rule
    * @param poolSize resolved α-prune candidate pool size (0 when
    *                alpha is None) — part of the build rule, so append
    *                must replay it exactly
    */
  case class GraphIndex(nodes: DataFrame, entries: DataFrame,
                        cells: Array[Array[Double]], degree: Int,
                        crossDegree: Int, entriesPerCell: Int,
                        alpha: Option[Double] = None, poolSize: Int = 0)

  /** The ONE α-prune pool resolver every build/append/delete path
    * shares — the append paths must replay the build's resolution
    * exactly or the rebuild-equivalence gates break.
    */
  private def resolvePool(alpha: Option[Double], poolSize: Int,
                          degree: Int, crossDegree: Int): Int =
    if (alpha.isEmpty) 0
    else if (poolSize > 0) poolSize
    else 3 * (degree + crossDegree)

  /** Top-`d` scored out-edges of `side` (keys…, n_id, emb) against the
    * peer relation (keys…, m_id, m_emb): per-key join + fused cosine +
    * bounded-heap per node. Shared by build and append. `keys` is the
    * pool-scoping join key — `cell` for a single index, `(shard,
    * cell)` for the batched cross-shard verbs, where pools must never
    * mix members of different shards. The per-node fold groups on
    * `n_id` alone: ids are globally unique across a deployment's
    * shards (they partition one corpus), so no key column is needed.
    */
  private def topEdges(side: DataFrame, peers: DataFrame,
                       d: Int, keys: Seq[String] = Seq("cell")): DataFrame =
    side.select((keys :+ "n_id" :+ "emb").map(col): _*)
      .join(peers, keys).filter(col("n_id") =!= col("m_id"))
      .withColumn("sim", Similarity.cosine(col("emb"), col("m_emb")))
      .groupBy("n_id").agg(TopK.topK(col("sim"), col("m_id"), d).as("top"))
      .select(col("n_id"), explode(col("top")).as("e"))
      .select(col("n_id"), col("e.id").as("m_id"), col("e.score").as("sim"))

  /** Second-closest cell of an embedding; a single-cell index has no
    * second cell, so it degrades to the home cell (an append touching
    * the one cell then affects everything — vacuously correct).
    */
  private def secondCell(emb: org.apache.spark.sql.Column,
                         cells: Array[Array[Double]])
      : org.apache.spark.sql.Column =
    if (cells.length < 2) Centroids.centroidAssign(emb, cells)
    else Centroids.centroidProbes(emb, cells, 2).getItem(1)

  /** The same nodes re-keyed by their SECOND-closest cell (via
    * [[secondCell]], so a single-cell grid degrades to the home cell
    * instead of indexing past the probe list). Non-`cell` scoping
    * keys (the batched verbs' `shard`) pass through unchanged — a
    * node's cross pool lives in ITS OWN shard's second cell.
    */
  private def secondCellSide(c: DataFrame, cells: Array[Array[Double]],
                             keys: Seq[String] = Seq("cell")): DataFrame =
    c.select(keys.filterNot(_ == "cell").map(col) ++ Seq(col("n_id"),
      col("emb"), secondCell(col("emb"), cells).as("cell")): _*)

  /** The plain kNN edge rule: per-pool top-k (intra `degree`, cross
    * `crossDegree`) folded to one best-first neighbor list. Shared by
    * build and append-rebuild paths.
    */
  private def knnNeighbors(side: DataFrame, peers: DataFrame,
                           cells: Array[Array[Double]], degree: Int,
                           crossDegree: Int,
                           keys: Seq[String] = Seq("cell")): DataFrame = {
    // single-cell grid: the home pool already spans everything, so the
    // cross pool would be the SAME rows — unioning it would feed
    // duplicate (n_id, m_id) pairs into the final top-k (TopK keeps
    // duplicates), halving the effective out-degree. One pool at the
    // full degree budget is the faithful degenerate case.
    val edges =
      if (crossDegree == 0 || cells.length < 2)
        topEdges(side, peers, degree + crossDegree, keys)
      else topEdges(side, peers, degree, keys).unionByName(
        topEdges(secondCellSide(side, cells, keys), peers, crossDegree,
          keys))
    edges.groupBy("n_id")
      .agg(TopK.topK(col("sim"), col("m_id"),
        degree + crossDegree).as("top"))
      .select(col("n_id"), col("top.id").as("neighbors"))
  }

  /** The RobustPrune edge rule: a bounded per-pool candidate top-`poolN`
    * (home cell, plus second cell when crossDegree > 0 — same
    * navigability story as the kNN build), candidate embeddings joined
    * back, then ONE α-prune per node over the combined pool to the
    * total out-degree budget. The collect_list is bounded by 2·poolN
    * rows per node, and the prune is order-insensitive (it re-sorts
    * internally), so the nondeterministic list order is harmless.
    */
  private def prunedNeighbors(side: DataFrame, peers: DataFrame,
                              cells: Array[Array[Double]], degree: Int,
                              crossDegree: Int, alpha: Double,
                              poolN: Int,
                              keys: Seq[String] = Seq("cell")): DataFrame = {
    val intra = topEdges(side, peers, poolN, keys)
    // single-cell grid: the cross pool would duplicate the home pool
    // row-for-row (see knnNeighbors) — wasted collect_list budget
    val pool =
      if (crossDegree == 0 || cells.length < 2) intra
      else intra.unionByName(
        topEdges(secondCellSide(side, cells, keys), peers, poolN, keys))
    pool.join(peers.select(col("m_id"), col("m_emb")), Seq("m_id"))
      .groupBy("n_id")
      .agg(collect_list(struct(col("sim").as("sim"),
        col("m_id").as("id"), col("m_emb").as("emb"))).as("pool"))
      .select(col("n_id"),
        RobustPruner.robustPrune(col("pool"), degree + crossDegree,
          alpha).as("neighbors"))
  }

  /** Dispatch to the index's edge rule. */
  private def neighborRule(side: DataFrame, peers: DataFrame,
                           cells: Array[Array[Double]], degree: Int,
                           crossDegree: Int, alpha: Option[Double],
                           poolN: Int,
                           keys: Seq[String] = Seq("cell")): DataFrame =
    alpha match {
      case Some(a) =>
        prunedNeighbors(side, peers, cells, degree, crossDegree, a,
          poolN, keys)
      case None =>
        knnNeighbors(side, peers, cells, degree, crossDegree, keys)
    }

  /** Hash-spread entry selection over a member relation (keys…, n_id). */
  private def hashEntries(members: DataFrame, e: Int,
                          keys: Seq[String] = Seq("cell")): DataFrame =
    members.groupBy(keys.map(col): _*)
      .agg(TopK.topK(-abs(xxhash64(col("n_id"))).cast("double"),
        col("n_id"), e).as("top"))
      .select(keys.map(col) :+ explode(col("top.id")).as("entry_id"): _*)

  /** Build the neighborhood graph.
    *
    * @param corpus      vec_id, embedding
    * @param nlist       coarse cells (train so cells stay bounded —
    *                    n_c ≈ n / nlist drives the build's n·n_c cost)
    * @param degree      intra-cell out-degree
    * @param crossDegree out-degree into the second-closest cell
    * @param centroids   trained coarse codebook
    *                    ([[KMeans.trainCentroidsDistributed]] — the
    *                    production path); None = the deterministic
    *                    first-nlist scheme every n-gate replays
    * @param alpha       Some(α ≥ 1) switches edge selection from plain
    *                    per-pool kNN to Vamana RobustPrune over a
    *                    combined candidate pool — same total
    *                    out-degree, directionally diverse edges (gate
    *                    n35 pins the recall win at equal budget)
    * @param poolSize    α-prune candidate pool per source pool; 0 =
    *                    3 · (degree + crossDegree)
    */
  def buildGraphIndex(corpus: DataFrame, nlist: Int = 16, degree: Int = 8,
                      crossDegree: Int = 2,
                      centroids: Option[Array[Array[Double]]] = None,
                      entriesPerCell: Int = 4,
                      alpha: Option[Double] = None,
                      poolSize: Int = 0): GraphIndex = {
    require(degree >= 1, s"degree must be >= 1, got $degree")
    require(crossDegree >= 0, s"crossDegree must be >= 0, got $crossDegree")
    require(entriesPerCell >= 1,
      s"entriesPerCell must be >= 1, got $entriesPerCell")
    alpha.foreach(a => require(a >= 1.0, s"alpha must be >= 1.0, got $a"))
    val poolN = resolvePool(alpha, poolSize, degree, crossDegree)
    val cells = centroids.getOrElse(Similarity.firstVectors(corpus, nlist))
    // n_id cast to long: hashEntries' xxhash64 is input-type-sensitive,
    // so entry picks must hash the same representation on every path
    // (build, append, merge) regardless of the source column type
    val c = corpus.select(col("vec_id").cast("long").as("n_id"),
      col("embedding").as("emb"),
      Centroids.centroidAssign(col("embedding"), cells).as("cell"))
    val peers = c.select(col("cell"), col("n_id").as("m_id"),
      col("emb").as("m_emb"))
    // intra edges come from the home-cell pool; cross edges route each
    // node to its SECOND-closest cell, whose members live in a
    // different home cell, so those edges cross the partition boundary
    // by construction (both rules share this pool shape)
    val nbrs = neighborRule(c, peers, cells, degree, crossDegree,
      alpha, poolN)
    // LEFT join + empty-list default: a vector alone in its cell (and,
    // with crossDegree=0 or an empty second cell, without cross links)
    // has no out-edges but must stay a NODE — it is still reachable as
    // an entry and as a scoring candidate; an inner join would silently
    // drop it from the index
    // cell2 (second-closest cell) is STORED at build time: append's
    // affected-set detection becomes a semi-join on stored columns
    // instead of a full-corpus centroid recomputation per batch
    val nodes = c.join(nbrs, Seq("n_id"), "left")
      .select(col("n_id"), col("emb"), col("cell"),
        secondCell(col("emb"), cells).as("cell2"),
        coalesce(col("neighbors"),
          expr("cast(array() as array<bigint>)")).as("neighbors"))
      .localCheckpoint()
    // entries per cell: `entriesPerCell` members in deterministic HASH
    // order, NOT the members closest to the centroid. A cell is often a
    // union of tight sub-clusters whose kNN edges never cross between
    // them (each member's `degree` nearest are its own sub-cluster) —
    // centroid-proximal entries would all come from the dominant
    // sub-cluster and a walk started there can never reach the others.
    // Hash-spread entries land one in each sizeable sub-cluster with
    // high probability — the flat-index substitute for HNSW's
    // long-range upper-layer links.
    // entry picks read (cell, n_id) off the CHECKPOINTED node table —
    // hashEntries over `c` re-ran the corpus scan + centroid-assign
    // pipeline a second time per build for the same pairs
    val entries = hashEntries(nodes.select(col("cell"), col("n_id")),
      entriesPerCell).localCheckpoint()
    GraphIndex(nodes, entries, cells, degree, crossDegree, entriesPerCell,
      alpha, poolN)
  }

  /** One scoring step: candidates (q_id, n_id) pick up their embedding
    * from the node table and their query vector from the query side,
    * and evaluate one fused cosine. Two physical regimes, both pinned
    * by GraphAnnSpec:
    *  - `bcast = true` (interactive |Q|): both joins broadcast the
    *    SMALL side — the node table itself never exchanges;
    *  - `bcast = false` (offline million-query batches): the frontier
    *    is |Q|·beam·degree rows — far past any broadcast budget — so
    *    both joins are hinted SHUFFLE_HASH: each side exchanges once
    *    on its join key and probes a per-partition hash map, no sort,
    *    no driver-sized frontier copy per executor.
    */
  private[ops] def scoreCandidates(cand: DataFrame, nodes: DataFrame,
                                   q: DataFrame,
                                   bcast: Boolean = true): DataFrame = {
    val scored =
      if (bcast)
        broadcast(cand)
          .join(nodes.select(col("n_id"), col("emb")), Seq("n_id"))
          .join(broadcast(q), Seq("q_id"))
      else
        cand.hint("shuffle_hash")
          .join(nodes.select(col("n_id"), col("emb")), Seq("n_id"))
          .join(q.hint("shuffle_hash"), Seq("q_id"))
    scored.select(col("q_id"), col("n_id"),
      Similarity.cosine(col("q_emb"), col("emb")).as("sim"))
  }

  private def topPerQuery(scored: DataFrame, n: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(TopK.topK(col("sim"), col("n_id"), n).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("n_id"))

  /** Batched beam search. Returns (q_id, n_id, rank, sim, n_visited) —
    * the [[Similarity.bruteForceTopK]] contract plus the per-query
    * candidate count, so budget-matched comparisons (gate n31) read
    * the actual budget off the result instead of trusting the formula.
    * Self-matches are excluded from results (every ANN path here does)
    * but still act as waypoints for the walk.
    *
    * Determinism: every selection is the bounded-heap aggregate's
    * (score desc, id asc) order; cosines are the fused exact
    * expression — the whole search replays bit-identically on any
    * layout.
    */
  def queryGraphIndex(queries: DataFrame, index: GraphIndex, k: Int,
                      beam: Int = 8, hops: Int = 3,
                      entryProbes: Int = 2,
                      frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                      broadcastFrontier: Option[Boolean] = None)
      : DataFrame =
    beamSearch(queries, index.nodes, index.entries, index.cells, k, beam,
      hops, entryProbes, scoreCandidates(_, index.nodes, _, _),
      frontierBroadcastLimit, broadcastFrontier)

  /** Query-count ceiling for the broadcast-frontier serve regime. At
    * beam 8 · degree 10 the frontier expansion is ≈5 M (q_id, n_id)
    * pairs at this |Q| — the edge of a sane broadcast budget; offline
    * batches beyond it switch to shuffle-hash joins automatically.
    */
  val DefaultFrontierBroadcastLimit: Long = 65536L

  /** Byte budget for the merge/append/delete redo's broadcast regime
    * (~40 MB — a safe hinted-broadcast payload). Below it the redo
    * join broadcasts the affected members and parallelizes over the
    * peers layout regardless of cell skew; above it
    * (random/interleaved shards, affected ≈ corpus) the shuffle join
    * is the scalable plan. The ROW ceiling derives from the index's
    * embedding dim — a fixed row count would silently broadcast
    * hundreds of MB to GBs at 768-d (rows × (8·dim + 48) bytes per
    * (n_id, emb, cell[, cell2]) row) and blow the driver or the
    * broadcast size cap.
    */
  val MergeSideBroadcastBytes: Long = 40L << 20

  /** Row ceiling for a redo side of embedding dim `dim` under the
    * [[MergeSideBroadcastBytes]] budget. */
  private def mergeBroadcastLimit(dim: Int): Long =
    math.max(1024L, MergeSideBroadcastBytes / (8L * math.max(dim, 1) + 48L))

  /** One bounded count on a checkpointed leaf pricing the redo join's
    * regime: broadcast while the side fits the byte budget at this
    * index's row width, shuffle past it.
    */
  private def withinBroadcastBudget(side: DataFrame,
                                    cells: Array[Array[Double]]): Boolean =
    side.count() <= mergeBroadcastLimit(cells.head.length)

  /** The shared batched best-first loop: each round expands the best
    * `beam` scored-but-unexpanded candidates per query (NOT just the
    * newest hop's — a strong find from an earlier round stays
    * eligible, the property that makes HNSW's ef-search converge),
    * scores their out-edges through the pluggable `score` (exact
    * cosine for the float index, ADC for the PQ-compressed one; the
    * Boolean is the broadcast-vs-shuffle regime), and folds them into
    * the candidate pool.
    *
    * Regime pick: ONE bounded count of the query table up front —
    * |Q| ≤ `frontierBroadcastLimit` serves with broadcast joins (the
    * node table never exchanges, the plan GraphAnnSpec pins);
    * beyond it, every per-hop join goes shuffle-hash, because a
    * million-query frontier broadcast would ship |Q|·beam·degree rows
    * to every executor per hop. Results are identical either way —
    * the regime only moves WHERE rows meet, never which rows win.
    */
  private def beamSearch(queries: DataFrame, nodes: DataFrame,
                         entries: DataFrame, cells: Array[Array[Double]],
                         k: Int, beam: Int, hops: Int, entryProbes: Int,
                         score: (DataFrame, DataFrame, Boolean) => DataFrame,
                         frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                         broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(beam >= 1, s"beam must be >= 1, got $beam")
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    // a serving caller usually KNOWS |Q|; an explicit regime skips the
    // auto-detect count job (one extra Spark job per serve call)
    val bcast = broadcastFrontier.getOrElse(
      q.count() <= frontierBroadcastLimit)
    val probed = q.select(col("q_id"),
        explode(Centroids.centroidProbes(col("q_emb"), cells,
          entryProbes)).as("cell"))
      .join(broadcast(entries), Seq("cell"))
      .select(col("q_id"), col("entry_id").as("n_id"))
      .distinct()
    // a query whose probed cells are all entry-less (k-means can leave
    // cells empty) must not silently VANISH from the results: it falls
    // back to the globally-lowest entry id — deterministic, and the
    // walk's cross-links navigate from there
    val fallback = broadcast(entries.agg(min("entry_id").as("n_id")))
    val entryCand = probed.unionByName(
      q.select("q_id").join(probed.select("q_id"), Seq("q_id"),
          "left_anti")
        .crossJoin(fallback))
    val scored = beamLoop(q, nodes.select(col("n_id"), col("neighbors")),
      entryCand, beam, hops, score, bcast)
    val nVisited = scored.groupBy("q_id")
      .agg(count(lit(1)).as("n_visited"))
    finishTopK(scored, k, nVisited)
  }

  /** The best-first expansion loop alone: seed the candidate pool from
    * `entryCand` (q_id, n_id), expand `hops` rounds over the `adj`
    * relation (n_id, neighbors), return every scored candidate. The
    * per-layer building block shared by the flat serve and the
    * [[queryHnswIndex]] layered descent (which runs it once per layer
    * over that layer's adjacency).
    */
  private def beamLoop(q: DataFrame, adj: DataFrame, entryCand: DataFrame,
                       beam: Int, hops: Int,
                       score: (DataFrame, DataFrame, Boolean) => DataFrame,
                       bcast: Boolean): DataFrame = {
    // every hop checkpoints the frontier, then unions it into the
    // expanded set and the newly scored candidates into the pool, and
    // re-checkpoints BOTH whole accumulations: 3 driver-sequenced
    // actions per hop and the whole pool re-materialized every hop, in
    // exchange for a plan that stays one checkpoint leaf deep (no
    // join-on-join lineage across hops). Whether the r15 lazy
    // piece-list (per-hop checkpointed pieces, unioned lazily) or a
    // consolidate-every-k variant should replace this is an open A/B,
    // tied to the round-16 serve/lifecycle regressions: ROADMAP
    // direction 3.
    var scored = score(entryCand, q, bcast).localCheckpoint()
    var expanded = scored.select("q_id", "n_id").limit(0).localCheckpoint()
    var h = 0
    while (h < hops) {
      val frontier = topPerQuery(
        scored.join(expanded, Seq("q_id", "n_id"), "left_anti"), beam)
        .localCheckpoint()
      expanded = expanded.unionByName(frontier).localCheckpoint()
      val adjSide = if (bcast) frontier else frontier.hint("shuffle_hash")
      val cand = adjSide
        .join(adj, Seq("n_id"))
        .select(col("q_id"), explode(col("neighbors")).as("n_id"))
        .distinct()
        .join(scored.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
      scored = scored
        .unionByName(score(cand, q, bcast))
        .localCheckpoint()
      h += 1
    }
    scored
  }

  /** Fold a scored candidate pool to the (q_id, n_id, rank, sim,
    * n_visited) serve contract. */
  private def finishTopK(scored: DataFrame, k: Int,
                         nVisited: DataFrame): DataFrame =
    scored.filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id")
      .agg(TopK.topK(col("sim"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), col("e.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"), col("e.score").as("sim"))
      .join(nVisited, Seq("q_id"))

  /** Graph index over PQ-COMPRESSED vectors — the DiskANN/HNSW-PQ
    * marriage: the navigation structure of the graph tier with the
    * memory footprint of the PQ tier. The serve path never touches a
    * float corpus vector: candidates rank by asymmetric distance
    * against their stored byte codes (one codegen [[graft.functions
    * .PqColumns.pqAdc]] per candidate), so the resident state per node
    * is `m` bytes + the neighbor list instead of `4·dim` float bytes —
    * at production dims the difference between an in-memory serve and
    * one that pages.
    *
    * @param nodes    n_id, cell, neighbors, codes — NO embeddings
    * @param codebook flat per-subspace PQ codebook
    * @param rotation Some(model) when the index lives in an
    *                 OPQ-rotated basis ([[Embeddings.opqTrain]]'s
    *                 trained rotation): the whole index — cells,
    *                 edges, codes — was built over rotated vectors,
    *                 and the serve rotates queries through the same
    *                 model before anything else
    */
  /** `degree`/`crossDegree` record the underlying float graph's build
    * fan-out so the expansion serves can price their candidate budget;
    * 0 = unknown (an artifact saved before the fields existed), which
    * skips the budget guard rather than failing a legacy load.
    */
  case class GraphPqIndex(nodes: DataFrame, entries: DataFrame,
                          cells: Array[Array[Double]],
                          codebook: Array[Array[Double]],
                          m: Int, ks: Int, dim: Int,
                          rotation: Option[Embeddings.PcaModel] = None,
                          degree: Int = 0, crossDegree: Int = 0)

  /** Build: the float graph build (edges need real geometry), then one
    * encode projection and the floats are DROPPED. `codebook` defaults
    * to the deterministic first-ks scheme [[Similarity.pqTopK]] gates
    * replay; production passes [[KMeans.trainPqCodebook]] output.
    * With `rotation` (the OPQ∘graph composition, gate n36) the corpus
    * projects through the trained basis FIRST, so cells, edges, and
    * codes all live in the rotated space the codebook was trained in
    * — pass [[Embeddings.opqTrain]]'s (model, codebook) pair together;
    * a codebook trained in one basis ADC-scored against codes encoded
    * in another is silently garbage, which is exactly what threading
    * the rotation through the index prevents.
    */
  def buildGraphPqIndex(corpus: DataFrame, nlist: Int = 16,
                        degree: Int = 8, crossDegree: Int = 2,
                        m: Int = 8, ks: Int = 16, dim: Int = 64,
                        centroids: Option[Array[Array[Double]]] = None,
                        codebook: Option[Array[Array[Double]]] = None,
                        entriesPerCell: Int = 4,
                        alpha: Option[Double] = None,
                        poolSize: Int = 0,
                        rotation: Option[Embeddings.PcaModel] = None)
      : GraphPqIndex = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val c = rotation.map(Similarity.rotateToBasis(corpus, _))
      .getOrElse(corpus)
    val cb = codebook.getOrElse(
      Similarity.defaultPqCodebook(c, m, ks, sub))
    // one-shot = float build + the encode projection, BY CONSTRUCTION
    // (the n51 equivalence is structural, not just spec-pinned)
    encodeGraphIndex(
      buildGraphIndex(c, nlist, degree, crossDegree, centroids,
        entriesPerCell, alpha, poolSize),
      m, ks, dim, Some(cb), rotation)
  }

  /** Encode an ALREADY-BUILT float index into its compressed serving
    * form — the pure projection [[buildGraphPqIndex]] ends with, split
    * out so the compressed tier inherits the float tier's WHOLE
    * lifecycle without rebuilding anything: append/delete/merge/
    * compact at the float tier (where the verbs are incremental and
    * rebuild-equivalent), then one row-independent encode pass. The
    * previously documented sharded recipe routed through
    * [[buildGraphPqIndex]], which re-runs the entire float graph build
    * on the union corpus — exactly the cost the merge verb exists to
    * avoid; this verb is the missing projection (gate n51 pins
    * encode ∘ merge ≡ one-shot compressed build).
    *
    * The float index must already live in the basis the codebook was
    * trained in: with OPQ, build the float shards over
    * [[Similarity.rotateToBasis]] output and pass the trained model
    * here as `rotation` — it travels as serve metadata (queries rotate
    * once at entry), the stored embeddings are NOT re-rotated.
    */
  def encodeGraphIndex(index: GraphIndex, m: Int = 8, ks: Int = 16,
                       dim: Int = 64,
                       codebook: Option[Array[Array[Double]]] = None,
                       rotation: Option[Embeddings.PcaModel] = None)
      : GraphPqIndex = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cb = codebook.getOrElse(Similarity.defaultPqCodebook(
      index.nodes.select(col("n_id").as("vec_id"),
        col("emb").as("embedding")), m, ks, sub))
    val nodes = index.nodes
      .withColumn("codes",
        graft.functions.PqColumns.pqEncode(col("emb"), cb, sub))
      .select("n_id", "cell", "neighbors", "codes")
      .localCheckpoint()
    GraphPqIndex(nodes, index.entries, index.cells, cb, m, ks, dim,
      rotation, index.degree, index.crossDegree)
  }

  /** ADC beam search over the compressed graph: identical walk to
    * [[queryGraphIndex]] with the scorer swapped — candidates pick up
    * their CODES (not floats) and rank by −ADC (squared asymmetric
    * distance; ties by id). With one cell, full out-degree, and one
    * expansion round this must reproduce [[Similarity.pqTopK]]'s
    * exhaustive compressed scan row-for-row (gate n34).
    */
  def queryGraphPqIndex(queries: DataFrame, index: GraphPqIndex, k: Int,
                        beam: Int = 8, hops: Int = 3,
                        entryProbes: Int = 2,
                        frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                        broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    val sub = index.dim / index.m
    // an OPQ-rotated index rotates queries through the SAME model
    // before routing/scoring — everything downstream is rotated-space
    val qIn = index.rotation.map(Similarity.rotateToBasis(queries, _))
      .getOrElse(queries)
    def adcScore(cand: DataFrame, q: DataFrame,
                 bcast: Boolean): DataFrame = {
      val joined =
        if (bcast)
          broadcast(cand)
            .join(index.nodes.select(col("n_id"), col("codes")), Seq("n_id"))
            .join(broadcast(q), Seq("q_id"))
        else
          cand.hint("shuffle_hash")
            .join(index.nodes.select(col("n_id"), col("codes")), Seq("n_id"))
            .join(q.hint("shuffle_hash"), Seq("q_id"))
      joined.select(col("q_id"), col("n_id"),
        (-graft.functions.PqColumns.pqAdc(col("q_emb"), col("codes"),
          index.codebook, sub)).as("sim"))
    }
    beamSearch(qIn, index.nodes, index.entries, index.cells, k, beam,
      hops, entryProbes, adcScore, frontierBroadcastLimit,
      broadcastFrontier)
      .withColumn("adc", -col("sim")).drop("sim")
  }

  /** [[queryGraphPqIndex]] + full-precision re-rank — the DiskANN
    * disk shape completed: the ADC walk produces `rerankK` candidates
    * per query from the in-memory compressed index, then ONLY those
    * |Q|·rerankK rows fetch their float vectors from `floats` (the
    * caller's parquet-backed full-precision corpus — disk-resident at
    * production, never resident in the serve path) and re-rank by
    * exact cosine. Quantization error affects candidate RECALL but no
    * longer final RANKING; cosine is rotation-invariant, so `floats`
    * is always the raw unrotated corpus regardless of the index's OPQ
    * model. n_visited stays the walk's budget — the re-rank scores
    * only already-visited candidates.
    */
  def queryGraphPqIndexReranked(queries: DataFrame, index: GraphPqIndex,
                                floats: DataFrame, k: Int,
                                rerankK: Int = 50, beam: Int = 8,
                                hops: Int = 3, entryProbes: Int = 2,
                                frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                                broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    rerankCandidates(
      queryGraphPqIndex(queries, index, rerankK, beam, hops,
        entryProbes, frontierBroadcastLimit, broadcastFrontier),
      queries, floats, k)
  }

  /** Shared exact-cosine re-rank of a compressed serve's candidates:
    * candidates fetch floats by id (bounded: |Q|·rerankK rows), ranks
    * recompute under exact similarity, n_visited carries through. A
    * candidate id ABSENT from `floats` (a stale corpus after
    * appends/deletes) fails loudly at execution — an inner join would
    * silently return fewer than k rows per query, breaking the append
    * verbs' fail-fast discipline one verb downstream.
    */
  private def rerankCandidates(cand: DataFrame, queries: DataFrame,
                               floats: DataFrame, k: Int): DataFrame = {
    val qv = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    val cv = floats.select(col("vec_id").cast("long").as("n_id"),
      col("embedding").as("n_emb"))
    val scored = cand.select("q_id", "n_id", "n_visited")
      .join(cv, Seq("n_id"), "left")
      .withColumn("n_emb",
        when(col("n_emb").isNull, raise_error(concat(
          lit("rerank: candidate id "), col("n_id"),
          lit(" is absent from the floats corpus — the corpus is " +
            "stale relative to the index (append/delete drift); " +
            "pass the current full-precision corpus"))))
          .otherwise(col("n_emb")))
      .join(qv, Seq("q_id"))
      .withColumn("sim", Similarity.cosine(col("q_emb"), col("n_emb")))
    scored.groupBy("q_id", "n_visited")
      .agg(TopK.topK(col("sim"), col("n_id"), k).as("top"))
      .select(col("q_id"), col("n_visited"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), col("e.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("e.score").as("sim"), col("n_visited"))
  }

  /** Append a batch WITHOUT touching unaffected nodes, yet EXACTLY
    * rebuild-equivalent (gate n33 pins index equality with a from-
    * scratch build over the union). Under the α-prune rule, or on a
    * single-cell grid, this is a one-shard call of the batched redo
    * ([[moveGraphShardsBatched]]). Under the kNN rule on a multi-cell
    * grid it merges by heap dominance instead ([[appendByHeapDominance]]).
    * Cells and routing stay FROZEN — the n22 trade — with drift
    * monitored/retrained by the same policy shape as n30.
    */
  def appendToGraphIndex(index: GraphIndex, newVecs: DataFrame)
      : GraphIndex =
    if (index.alpha.nonEmpty || index.cells.length < 2)
      moveGraphShardsBatched("appendToGraphIndex", Seq(index), Set(0),
        None, arrivalsOf(newVecs)).head
    else appendByHeapDominance(index, newVecs)

  /** The kNN append: a stored neighbor list is the union of a
    * top-`degree` intra list and a top-`crossDegree` cross list over
    * DISJOINT pools (an edge is intra iff the neighbor's home cell is
    * the node's own), so the split reconstructs from the stored edges,
    * and topK(pool ∪ batch) = topK(topK(pool) ∪ batch) per pool. The
    * α-prune rule has no such dominance (pruning is pool-geometry-
    * dependent), and a single-cell grid has no disjoint split, so
    * neither comes here. Work is proportional to the batch and the
    * members of cells it touches, never the corpus: untouched nodes
    * and entries carry over verbatim.
    */
  private def appendByHeapDominance(index: GraphIndex, newVecs: DataFrame)
      : GraphIndex = {
    val cells = index.cells
    val deg = index.degree
    val cross = index.crossDegree
    val nu = newVecs.select(col("vec_id").cast("long").as("n_id"),
        col("embedding").as("emb"),
        Centroids.centroidAssign(col("embedding"), cells).as("cell"),
        secondCell(col("embedding"), cells).as("cell2"))
      .localCheckpoint()
    // duplicate ids would put two node rows into the index with no
    // error — fail fast (the d33/HNSW append contract). Both
    // directions: already-indexed ids AND in-batch repeats.
    IndexIo.requireBatchIdsUnique("appendToGraphIndex", nu, "n_id")
    IndexIo.requireIdsNotIndexed("appendToGraphIndex", index.nodes, nu,
      "n_id")
    val oldNodes = withCell2(index.nodes, cells)
    val oldC = oldNodes.select("n_id", "emb", "cell", "cell2")
    // affected old nodes: home or second cell received new members —
    // a semi-join on STORED columns, no per-node geometry
    val touched = nu.select("cell").distinct().localCheckpoint()
    val affected = oldC.join(touched, Seq("cell"), "left_semi")
      .unionByName(oldC.join(
        touched.withColumnRenamed("cell", "cell2"), Seq("cell2"),
        "left_semi"))
      .dropDuplicates("n_id")
      .localCheckpoint()
    // peers restricted to the new nodes' home and second cells — the
    // edge rule reads no other cell (the merge discipline)
    val redoCells = nu.select("cell")
      .unionByName(nu.select(col("cell2").as("cell")))
      .distinct()
    val all = oldC.select("n_id", "emb", "cell")
      .unionByName(nu.select("n_id", "emb", "cell"))
    val allPeers = all.join(broadcast(redoCells), Seq("cell"), "left_semi")
      .select(col("cell"), col("n_id").as("m_id"),
        col("emb").as("m_emb"))
    val emptyNbrs = expr("cast(array() as array<bigint>)")
    // new nodes: exactly the build rule against the full member set
    val nuSide =
      if (withinBroadcastBudget(nu, cells)) nu.hint("broadcast")
      else nu
    val nuNbrs = knnNeighbors(nuSide.select("cell", "n_id", "emb"),
      allPeers, cells, deg, cross)
    val nuNodes = nu.join(nuNbrs, Seq("n_id"), "left")
      .select(col("n_id"), col("emb"), col("cell"), col("cell2"),
        coalesce(col("neighbors"), emptyNbrs).as("neighbors"))
    // stored edges of affected nodes, re-scored and split intra/cross
    // by the neighbor's home cell. When the affected set is bounded,
    // the neighbor-side pickup is confined to the ids its lists
    // actually name (≤ |affected|·degree, broadcast semi) — an
    // unrestricted corpus-wide m_id join would shuffle every embedding
    // to re-score a batch-sized edge set. Past the bound (a batch
    // touching most cells) the named set approaches the corpus and the
    // shuffle join is the right plan.
    val mSideAll = oldC.select(col("n_id").as("m_id"),
      col("emb").as("m_emb"), col("cell").as("m_cell"))
    val mSide =
      if (withinBroadcastBudget(affected, cells)) {
        val namedIds = oldNodes
          .join(affected.select("n_id"), Seq("n_id"), "left_semi")
          .select(explode(col("neighbors")).as("m_id")).distinct()
        mSideAll.join(broadcast(namedIds), Seq("m_id"), "left_semi")
      } else mSideAll
    val oldEdges = oldNodes
      .join(affected.select("n_id"), Seq("n_id"), "left_semi")
      .select(col("n_id"), col("cell"), col("emb"),
        explode(col("neighbors")).as("m_id"))
      .join(mSide, Seq("m_id"))
      .select(col("n_id"), col("m_id"),
        Similarity.cosine(col("emb"), col("m_emb")).as("sim"),
        (col("m_cell") === col("cell")).as("is_intra"))
    // candidate edges into the batch, per pool
    val newPeers = nu.select(col("cell"), col("n_id").as("m_id"),
      col("emb").as("m_emb"))
    def fresh(side: DataFrame): DataFrame =
      side.join(newPeers, Seq("cell"))
        .select(col("n_id"), col("m_id"),
          Similarity.cosine(col("emb"), col("m_emb")).as("sim"))
    def pool(existing: DataFrame, candidates: DataFrame,
             d: Int): DataFrame =
      existing.select("n_id", "m_id", "sim").unionByName(candidates)
        .groupBy("n_id")
        .agg(TopK.topK(col("sim"), col("m_id"), d).as("top"))
        .select(col("n_id"), explode(col("top")).as("e"))
        .select(col("n_id"), col("e.id").as("m_id"),
          col("e.score").as("sim"))
    val intraTop = pool(oldEdges.filter(col("is_intra")),
      fresh(affected.select("cell", "n_id", "emb")), deg)
    val merged =
      if (cross == 0) intraTop
      else intraTop.unionByName(pool(oldEdges.filter(!col("is_intra")),
        fresh(affected.select(col("cell2").as("cell"), col("n_id"),
          col("emb"))), cross))
    val affNbrs = merged.groupBy("n_id")
      .agg(TopK.topK(col("sim"), col("m_id"), deg + cross).as("top"))
      .select(col("n_id"), col("top.id").as("neighbors"))
    val affNodes = affected.select("n_id", "emb", "cell", "cell2")
      .join(affNbrs, Seq("n_id"), "left")
      .select(col("n_id"), col("emb"), col("cell"), col("cell2"),
        coalesce(col("neighbors"), emptyNbrs).as("neighbors"))
    val nodes2 = oldNodes.join(affected.select("n_id"), Seq("n_id"),
        "left_anti")
      .unionByName(affNodes).unionByName(nuNodes)
      .localCheckpoint()
    // entries: recompute only cells that gained members
    val entries2 = index.entries
      .join(touched, Seq("cell"), "left_anti")
      .unionByName(hashEntries(
        all.join(touched, Seq("cell"), "left_semi"),
        index.entriesPerCell))
      .localCheckpoint()
    index.copy(nodes = nodes2, entries = entries2)
  }

  /** cell2 is stored at build time since r10; a pre-r10 node table
    * (loaded from disk) recomputes it once here and the maintained
    * index carries it forward.
    */
  private def withCell2(nodes: DataFrame,
                        cells: Array[Array[Double]]): DataFrame =
    if (nodes.columns.contains("cell2")) nodes
    else nodes.withColumn("cell2", secondCell(col("emb"), cells))

  /** A single index's departing ids (`vec_id`) as the shard-0
    * departure leg of a batched redo. */
  private def departuresOf(ids: DataFrame): Option[DataFrame] =
    Some(ids.select(lit(0).as("shard"), col("vec_id").as("n_id")))

  /** A single index's arriving rows (`vec_id`, `embedding`) as the
    * shard-0 arrival leg of a batched redo. */
  private def arrivalsOf(rows: DataFrame): Option[DataFrame] =
    Some(rows.select(lit(0).as("shard"), col("vec_id"), col("embedding")))

  /** Delete vectors WITHOUT touching unaffected nodes, yet EXACTLY
    * rebuild-equivalent (gate n37 pins index equality with a
    * from-scratch build over the remaining corpus): a one-shard call
    * of the batched redo ([[moveGraphShardsBatched]]). `ids`: one
    * `vec_id` column; ids absent from the index are ignored. Deleting
    * every member of a cell leaves the cell entry-less (queries
    * probing it fall back per [[beamSearch]]).
    */
  def deleteFromGraphIndex(index: GraphIndex, ids: DataFrame)
      : GraphIndex =
    moveGraphShardsBatched("deleteFromGraphIndex", Seq(index), Set(0),
      departuresOf(ids), None).head

  /** Fused move: delete `outIds` and append `inRows` in ONE redo pass
    * — exactly equal to `appendToGraphIndex(deleteFromGraphIndex(idx,
    * outIds), inRows)`, and so to a fresh build over (members \ out) ∪
    * in. An arrival may re-home a departing id; one colliding with a
    * kept row fails fast. A one-shard call of the batched redo
    * ([[moveGraphShardsBatched]]).
    */
  def moveGraphIndex(index: GraphIndex, outIds: DataFrame,
                     inRows: DataFrame): GraphIndex =
    moveGraphShardsBatched("moveGraphIndex", Seq(index), Set(0),
      departuresOf(outIds), arrivalsOf(inRows)).head

  /** Shard `j`'s rows of a batched redo's shard-tagged state. When `j`
    * is the only touched shard every row is its own, so the checkpoint
    * is handed over unfiltered: a shard filter left in the returned
    * state costs each later maintenance call over it extra jobs.
    */
  private def shardSlice(state: DataFrame, touchedShards: Set[Int],
                         j: Int): DataFrame =
    (if (touchedShards.size == 1) state
     else state.filter(col("shard") === j)).drop("shard")

  /** The flat tier's ONE rebuild-exact redo: every delete, move,
    * α-pruned or single-cell append, routed append, routed delete and
    * rebalance is a call of it (a single index is a one-shard fleet).
    * Touched cells are the home cells of departures ∪ arrivals — pool
    * membership flows only through home cells, so these are the only
    * cells whose member sets change. Affected = remaining nodes whose
    * home or second cell is touched; the edge rule re-runs once per
    * affected node and arrival against the FINAL member set (stored
    * edges cannot be merged: a departed neighbor's replacement is the
    * (k+1)-th pool member the stored top-k dropped), and entries
    * recompute for touched cells only. Work ∝ movers + members of
    * their touched cells, never the corpus; cells and routing stay
    * FROZEN (the n22/n33 trade).
    *
    * Batched across shards, every step is one shard-tagged plan, so
    * driver work is constant in the shard count (the q47/q49 lesson:
    * driver planning is a cost term too) and the final state is ONE
    * materialization for the whole fleet. Pool scoping rides the
    * `(shard, cell)` join keys through the one shared edge rule, so no
    * shard's pools ever see another shard's members; ids must be
    * globally unique across shards (they partition one corpus — the
    * deployment invariant every sharded verb assumes).
    *
    * `departures` carries (shard, n_id), `arrivals` (shard, vec_id,
    * embedding); at least one is present. `what` names the caller's
    * verb in fail-fast messages. Untouched shards are returned
    * verbatim; touched shards get their slices of the SHARED
    * checkpoints ([[shardSlice]]).
    */
  private[ops] def moveGraphShardsBatched(what: String,
                                          shards: Seq[GraphIndex],
                                          touchedShards: Set[Int],
                                          departures: Option[DataFrame],
                                          arrivals: Option[DataFrame])
      : Seq[GraphIndex] = {
    require(departures.nonEmpty || arrivals.nonEmpty,
      s"$what: neither departures nor arrivals")
    val head = shards.head
    val cells = head.cells
    require(shards.forall(s => s.degree == head.degree &&
      s.crossDegree == head.crossDegree && s.alpha == head.alpha &&
      s.poolSize == head.poolSize &&
      s.entriesPerCell == head.entriesPerCell),
      s"$what: shard build parameters differ — a sharded deployment " +
        "must share one frozen edge rule")
    val touched = touchedShards.toSeq.sorted
    val sc = Seq("shard", "cell")
    val sn = Seq("shard", "n_id")
    val oldNodesU = touched.map { j =>
      withCell2(shards(j).nodes, cells).select(lit(j).as("shard"),
        col("n_id"), col("emb"), col("cell"), col("cell2"),
        col("neighbors"))
    }.reduce(_.unionByName(_))
    val delIds = departures.map(_.select(col("shard"),
        col("n_id").cast("long").as("n_id"))
      .distinct().localCheckpoint())
    val nu = arrivals.map(_.select(col("shard"),
        col("vec_id").cast("long").as("n_id"),
        col("embedding").as("emb"),
        Centroids.centroidAssign(col("embedding"), cells).as("cell"),
        secondCell(col("embedding"), cells).as("cell2"))
      .localCheckpoint())
    // one destination per arrival ⇒ ids unique across the whole batch
    nu.foreach(IndexIo.requireBatchIdsUnique(what, _, "n_id"))
    // remaining is NOT checkpointed: its consumers re-run a scan of the
    // (already materialized) old node state plus a broadcast anti join
    // — scan-priced, while a checkpoint here would be a second
    // full-state copy next to the result
    val remaining =
      delIds.fold(oldNodesU)(oldNodesU.join(_, sn, "left_anti"))
    // an arriving id's source shard is touched by construction, so a
    // global id check suffices (its old row left `remaining` above)
    nu.foreach(IndexIo.requireIdsNotIndexed(what, remaining, _, "n_id"))
    val remC = remaining.select("shard", "n_id", "emb", "cell", "cell2")
    val touchedCells = (delIds.map(d =>
        oldNodesU.join(d, sn, "left_semi").select("shard", "cell")) ++
        nu.map(_.select("shard", "cell")))
      .reduce(_.unionByName(_))
      .distinct().localCheckpoint()
    // touched cells are at most shards · nlist rows: broadcast by hand.
    // A checkpoint inherits its producing plan's size estimate, which
    // can be far too large, and the planner would shuffle the
    // state-sized side instead
    val affected = remC.join(broadcast(touchedCells), sc, "left_semi")
      .unionByName(remC.join(
        broadcast(touchedCells.withColumnRenamed("cell", "cell2")),
        Seq("shard", "cell2"), "left_semi"))
      .dropDuplicates("shard", "n_id")
      .localCheckpoint()
    // both legs are checkpoints, so their union is scan-priced
    val redo = nu.fold(affected)(affected.unionByName(_))
    // peers restricted to the redo rows' home/second cells over the
    // FINAL member set: the edge rule reads no other cell
    val redoCells = redo.select("shard", "cell")
      .unionByName(redo.select(col("shard"), col("cell2").as("cell")))
      .distinct()
    val remAll = remC.select("shard", "n_id", "emb", "cell")
    val all = nu.fold(remAll)(n =>
      remAll.unionByName(n.select("shard", "n_id", "emb", "cell")))
    val peers = all.join(broadcast(redoCells), sc, "left_semi")
      .select(col("shard"), col("cell"), col("n_id").as("m_id"),
        col("emb").as("m_emb"))
    val poolN = resolvePool(head.alpha, head.poolSize, head.degree,
      head.crossDegree)
    // explicit join regime: checkpointed inputs carry no statistics,
    // so a bounded redo side broadcasts by hand or a skewed cell (or a
    // single-cell grid's one join key) serializes the redo
    val redoSide =
      if (withinBroadcastBudget(redo, cells)) redo.hint("broadcast")
      else redo
    val redoNbrs = neighborRule(
      redoSide.select("shard", "cell", "n_id", "emb"), peers, cells,
      head.degree, head.crossDegree, head.alpha, poolN, keys = sc)
    val emptyNbrs = expr("cast(array() as array<bigint>)")
    val redoNodes = redo.join(redoNbrs, Seq("n_id"), "left")
      .select(col("shard"), col("n_id"), col("emb"), col("cell"),
        col("cell2"),
        coalesce(col("neighbors"), emptyNbrs).as("neighbors"))
    val nodes2U = remaining
      .join(affected.select("shard", "n_id"), sn, "left_anti")
      .unionByName(redoNodes)
      .localCheckpoint()
    val entriesU = touched.map(j => shards(j).entries.select(
        lit(j).as("shard"), col("cell"), col("entry_id")))
      .reduce(_.unionByName(_))
    val entries2U = entriesU.join(broadcast(touchedCells), sc, "left_anti")
      .unionByName(hashEntries(
        all.join(broadcast(touchedCells), sc, "left_semi"),
        head.entriesPerCell,
        keys = sc))
      .localCheckpoint()
    shards.zipWithIndex.map { case (s, j) =>
      if (!touchedShards(j)) s
      else s.copy(
        nodes = shardSlice(nodes2U, touchedShards, j),
        entries = shardSlice(entries2U, touchedShards, j))
    }
  }

  /** The two shard indexes a [[mergeGraphIndexes]]/[[mergeHnswIndexes]]
    * can merge must be built with IDENTICAL frozen parameters — same
    * codebook, same edge rule — or per-node equality with the union
    * build is meaningless. Fail fast on any drift.
    */
  private def requireMergeCompatible(what: String,
                                     cellsA: Array[Array[Double]],
                                     cellsB: Array[Array[Double]],
                                     paramsA: Seq[Any],
                                     paramsB: Seq[Any]): Unit = {
    require(cellsA.length == cellsB.length &&
      cellsA.zip(cellsB).forall { case (x, y) => x.sameElements(y) },
      s"$what: the shard indexes were built over different cell " +
        "codebooks — sharded builds must share ONE frozen codebook")
    require(paramsA == paramsB,
      s"$what: build parameters differ between shards " +
        s"($paramsA vs $paramsB)")
  }

  /** Disjoint-id fail-fast shared by the merge verbs. */
  private def requireDisjointIds(what: String, a: DataFrame,
                                 b: DataFrame): Unit =
    IndexIo.requireDisjointIds(what, a, b, "n_id")

  /** Compact the index after append/delete cycles: re-run the build
    * over the CURRENT member set (the node table carries the floats),
    * cells frozen — the state comes back in the from-scratch layout
    * (one checkpointed node table instead of a chain of
    * carried-over/redo unions, entries re-spread per cell). Because
    * every append/delete is rebuild-equivalent, the compacted index is
    * bit-identical in content to the incremental one (gate n48 pins
    * equality with the surviving-corpus build); what changes is the
    * physical lineage. Pass `centroids` to ALSO re-train routing (the
    * n26 drift trigger) — that changes cells, so content equality is
    * then with a fresh build under the new codebook, not the old
    * index.
    */
  def compactGraphIndex(index: GraphIndex,
                        centroids: Option[Array[Array[Double]]] = None)
      : GraphIndex = {
    val cells = centroids.getOrElse(index.cells)
    buildGraphIndex(
      index.nodes.select(col("n_id").as("vec_id"),
        col("emb").as("embedding")),
      nlist = cells.length, degree = index.degree,
      crossDegree = index.crossDegree, centroids = Some(cells),
      entriesPerCell = index.entriesPerCell, alpha = index.alpha,
      poolSize = index.poolSize)
  }

  /** Merge two flat graph indexes built INDEPENDENTLY over disjoint id
    * sets with the same frozen codebook and build parameters — the
    * sharded-parallel build recipe at 100 TB (one build job per shard,
    * then merge; the published FAISS `merge_from` / DiskANN
    * sharded-build shape): appends are sequential, but shard builds
    * run CONCURRENTLY and this verb stitches the results.
    *
    * EXACTLY rebuild-equivalent (gate n46 pins per-node neighbor-list
    * AND per-cell entry equality with a from-scratch build over the
    * union): a node's neighbor list depends only on its home and
    * second cells' member sets, so the only nodes whose lists can
    * change are those with a home/second cell the OTHER shard also
    * occupies — they re-run the ONE shared edge rule against the
    * union's cell membership; every other node's pools are untouched
    * and its stored list carries over verbatim. Entries re-spread only
    * for co-occupied cells.
    *
    * Scale note: work ∝ members of co-occupied cells × their cell
    * sizes. Shard SPATIALLY (contiguous cell ranges of the shared
    * codebook) and the co-occupied set is the shard boundary — the
    * merge is then boundary-priced. Sharding by id range instead
    * co-occupies every cell and the merge degenerates to a full edge
    * re-run (correct, but no cheaper than one-shot).
    */
  def mergeGraphIndexes(a: GraphIndex, b: GraphIndex): GraphIndex = {
    requireMergeCompatible("mergeGraphIndexes", a.cells, b.cells,
      Seq(a.degree, a.crossDegree, a.entriesPerCell, a.alpha,
        resolvePool(a.alpha, a.poolSize, a.degree, a.crossDegree)),
      Seq(b.degree, b.crossDegree, b.entriesPerCell, b.alpha,
        resolvePool(b.alpha, b.poolSize, b.degree, b.crossDegree)))
    requireDisjointIds("mergeGraphIndexes", a.nodes, b.nodes)
    val cells = a.cells
    val poolN = resolvePool(a.alpha, a.poolSize, a.degree, a.crossDegree)
    // pre-r10 node tables (loaded from disk) recompute cell2 once
    def withCell2(n: DataFrame) =
      if (n.columns.contains("cell2")) n
      else n.withColumn("cell2", secondCell(col("emb"), cells))
    val an = withCell2(a.nodes).select("n_id", "emb", "cell", "cell2",
      "neighbors")
    val bn = withCell2(b.nodes).select("n_id", "emb", "cell", "cell2",
      "neighbors")
    val occA = an.select("cell").distinct().localCheckpoint()
    val occB = bn.select("cell").distinct().localCheckpoint()
    // the cell2 leg only matters when cross edges exist: with
    // crossDegree = 0 the edge rule never reads the second cell, so a
    // spatially-sharded merge (disjoint home cells) has an EMPTY
    // affected set and the merge is a pure union
    def affectedOf(n: DataFrame, occOther: DataFrame) = {
      val home = n.join(broadcast(occOther), Seq("cell"), "left_semi")
      if (a.crossDegree == 0) home
      else home.unionByName(n.join(
        broadcast(occOther.withColumnRenamed("cell", "cell2")),
        Seq("cell2"), "left_semi"))
    }
    val affected = affectedOf(an, occB).unionByName(affectedOf(bn, occA))
      .dropDuplicates("n_id")
      .select("n_id", "emb", "cell", "cell2")
      .localCheckpoint()
    val all = an.unionByName(bn)
    // the edge rule only reads peers of the affected rows' home and
    // second cells (bounded cell set) — restrict the peer relation so
    // its scan/shuffle shrinks with the co-occupancy
    val redoCells = affected.select("cell")
      .unionByName(affected.select(col("cell2").as("cell")))
      .distinct()
    val peers = all.join(broadcast(redoCells), Seq("cell"), "left_semi")
      .select(col("cell"), col("n_id").as("m_id"),
        col("emb").as("m_emb"))
    // explicit join regime for the redo (the mergeHnswIndexes note):
    // checkpointed inputs carry no statistics, so a bounded affected
    // side must be broadcast by hand or a skewed cell serializes the
    // redo in one sort-merge partition
    val affectedSide =
      if (withinBroadcastBudget(affected, cells))
        affected.hint("broadcast")
      else affected
    val redoNbrs = neighborRule(affectedSide.select("cell", "n_id", "emb"),
      peers, cells, a.degree, a.crossDegree, a.alpha, poolN)
    val emptyNbrs = expr("cast(array() as array<bigint>)")
    val redoNodes = affected.join(redoNbrs, Seq("n_id"), "left")
      .select(col("n_id"), col("emb"), col("cell"), col("cell2"),
        coalesce(col("neighbors"), emptyNbrs).as("neighbors"))
    val nodes2 = all.join(affected.select("n_id"), Seq("n_id"), "left_anti")
      .unionByName(redoNodes)
      .localCheckpoint()
    // entries: a cell only one shard occupies keeps that shard's
    // hash-spread picks (same member set, same picks); co-occupied
    // cells re-spread over the union's members
    val shared = occA.join(occB, Seq("cell"), "left_semi")
      .localCheckpoint()
    val entries2 = a.entries.join(shared, Seq("cell"), "left_anti")
      .unionByName(b.entries.join(shared, Seq("cell"), "left_anti"))
      .unionByName(hashEntries(
        nodes2.join(shared, Seq("cell"), "left_semi")
          .select("cell", "n_id"),
        a.entriesPerCell))
      .localCheckpoint()
    GraphIndex(nodes2, entries2, cells, a.degree, a.crossDegree,
      a.entriesPerCell, a.alpha, poolN)
  }

  // --------------------------------------------------------------------
  // NN-Descent: iterative kNN-graph refinement (Dong, Charikar & Li,
  // "Efficient k-nearest neighbor graph construction for generic
  // similarity measures", WWW 2011). The cell-bounded build above gets
  // its candidate pools from a coarse codebook; NN-Descent needs NO
  // codebook at all — it starts from an arbitrary graph and repeatedly
  // applies the paper's one observation: "a neighbor of a neighbor is
  // likely a neighbor". Each round, every node's candidate set is the
  // pairs that co-occur in some node's (undirected) neighbor list; the
  // merged graph keeps the best k per node. A handful of rounds
  // converges the graph toward the exact kNN graph regardless of how
  // bad the seed was — the cell-free scale path for kNN-graph
  // construction (semantic dedup, graph-index edge supply) when no
  // trained codebook exists or cells would split true neighborhoods.
  //
  // Shuffle shape per round (everything bounded by the out-degree k,
  // NOTHING by corpus size):
  //  - undirected view: forward ∪ reversed edges, deduped by max(sim)
  //    (one hash shuffle on n_id), then capped to `undCap` per node by
  //    the bounded-heap [[graft.functions.TopKAggregate]] — the
  //    deterministic stand-in for the paper's reverse-neighbor
  //    sampling; without it a hub node's reverse degree is unbounded
  //    and the clique join below goes quadratic in it;
  //  - candidate generation: the capped list self-joined through the
  //    shared CENTER node (x.center = y.center ⇒ pair (x.m, y.m)) —
  //    ≤ undCap² ordered pairs per center — plus the capped edges
  //    themselves (a reversed edge is a candidate its head has never
  //    scored), deduped;
  //  - scoring: two embedding pickups + the fused codegen cosine;
  //  - merge: current ∪ scored, dedup by (n_id, m_id), bounded-heap
  //    top-k per node (ties sim-desc then id-asc everywhere, so every
  //    round is deterministic and cross-engine replayable).
  // Per-round lineage is cut with localCheckpoint: the graph state is
  // k rows per node, and without the cut `iters` rounds of
  // join-union-aggregate would compound into one giant replanned DAG.

  /** Deterministic random k-out seed graph: each node draws `k`
    * pseudo-random targets from the WHOLE corpus via md5 chunks
    * (`conv(md5)` — the cross-engine bucket idiom shared with DSIR and
    * the sampling family). A target is addressed as (bucket, position):
    * hash chars 1-8 pick the bucket, chars 9-16 pick the row inside it
    * — so the only window is the per-bucket `row_number` (PARTITIONED —
    * no global sort exists at any scale) and the only other state is
    * the nBuckets-row size table (broadcast).
    *
    * Cross-bucket targeting is the point, not a convenience: NN-Descent
    * can NEVER merge connected components (a neighbor of a neighbor is
    * in my component by definition), so a bucket-local seed pins the
    * final graph at per-bucket kNN forever. A random k-out digraph is
    * strongly connected w.h.p. for k ≥ 2 — the property the refinement
    * rounds actually need from their seed.
    *
    * Returns (n_id, m_id, sim) with ≤ k out-edges per node (self-hits
    * and duplicate draws are dropped, not redrawn — NN-Descent only
    * needs roughly-k, and redraw loops don't replay cross-engine).
    */
  def nnDescentSeed(vecs: DataFrame, k: Int, nBuckets: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val v = vecs.select(col("vec_id").cast("long").as("n_id"),
      col("embedding").as("emb"))
    val b = v.withColumn("bucket",
      conv(substring(md5(col("n_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % nBuckets)
    val w = Window.partitionBy("bucket")
    val pos = b
      .withColumn("pos", row_number().over(w.orderBy("n_id")))
    val sizes = pos.groupBy("bucket").agg(max("pos").as("bn"))
    val tries = v.select(col("n_id"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("hh", md5(concat(col("n_id").cast("string"), lit("_"),
        col("j").cast("string"))))
      .withColumn("bucket",
        conv(substring(col("hh"), 1, 8), 16, 10).cast("long") % nBuckets)
      .join(broadcast(sizes), Seq("bucket"))
      .withColumn("m_pos",
        (conv(substring(col("hh"), 9, 8), 16, 10).cast("long")
          % col("bn") + 1).cast("int"))
    val succ = tries
      .join(pos.select(col("bucket"), col("pos").as("m_pos"),
          col("n_id").as("m_id")),
        Seq("bucket", "m_pos"))
      .filter(col("n_id") =!= col("m_id"))
      .select("n_id", "m_id").distinct()
    succ.join(v, Seq("n_id"))
      .join(v.select(col("n_id").as("m_id"), col("emb").as("m_emb")),
        Seq("m_id"))
      .select(col("n_id"), col("m_id"),
        Similarity.cosine(col("emb"), col("m_emb")).as("sim"))
  }

  /** One NN-Descent round over graph state `g` (n_id, m_id, sim):
    * undirected-cap → clique candidates → score → merge top-k.
    * `emb` is the (n_id, emb) embedding relation.
    */
  private def nnDescentRound(g: DataFrame, emb: DataFrame, k: Int,
                             undCap: Int): DataFrame = {
    val und = g.select("n_id", "m_id", "sim")
      .unionByName(g.select(col("m_id").as("n_id"),
        col("n_id").as("m_id"), col("sim")))
      .groupBy("n_id", "m_id").agg(max("sim").as("sim"))
    val capped = und.groupBy("n_id")
      .agg(TopK.topK(col("sim"), col("m_id"), undCap).as("top"))
      .select(col("n_id").as("center"), explode(col("top.id")).as("m_id"))
    val clique = capped.as("x")
      .join(capped.as("y"), col("x.center") === col("y.center"))
      .select(col("x.m_id").as("n_id"), col("y.m_id").as("c_id"))
      .filter(col("n_id") =!= col("c_id"))
    val cand = clique
      .unionByName(capped.select(col("center").as("n_id"),
        col("m_id").as("c_id")))
      .distinct()
    val scored = cand
      .join(emb, Seq("n_id"))
      .join(emb.select(col("n_id").as("c_id"), col("emb").as("c_emb")),
        Seq("c_id"))
      .select(col("n_id"), col("c_id").as("m_id"),
        Similarity.cosine(col("emb"), col("c_emb")).as("sim"))
    g.select("n_id", "m_id", "sim").unionByName(scored)
      .groupBy("n_id", "m_id").agg(max("sim").as("sim"))
      .groupBy("n_id")
      .agg(TopK.topK(col("sim"), col("m_id"), k).as("top"))
      .select(col("n_id"), explode(col("top")).as("e"))
      .select(col("n_id"), col("e.id").as("m_id"), col("e.score").as("sim"))
  }

  /** NN-Descent kNN-graph construction: `iters` refinement rounds from
    * either the caller's seed graph (n_id, m_id, sim — e.g. a built
    * [[GraphIndex]]'s edges, to repair cell-boundary misses) or the
    * deterministic [[nnDescentSeed]].
    *
    * @param corpus   vec_id, embedding
    * @param k        out-degree of the maintained graph
    * @param iters    refinement rounds (each strictly improves or
    *                 preserves every node's neighbor list — the merge
    *                 keeps the best k of old ∪ scored)
    * @param nBuckets seed addressing buckets (targets are drawn across
    *                 ALL buckets; this only sizes the per-bucket
    *                 row_number window); 0 = one count job sizes
    *                 buckets to ≈ 4·(k+1) members
    * @param undCap   undirected-degree cap per node (0 = 2·k), the
    *                 deterministic reverse-sampling bound
    * @return (n_id, m_id, sim, rank) — rank 1..k best-first per node
    */
  def nnDescent(corpus: DataFrame, k: Int, iters: Int,
                nBuckets: Int = 0, undCap: Int = 0,
                seed: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val cap = if (undCap > 0) undCap else 2 * k
    require(cap >= k,
      s"undCap must be >= k (capping below k would shrink the graph), " +
        s"got $cap < $k")
    val emb = corpus.select(col("vec_id").cast("long").as("n_id"),
      col("embedding").as("emb")).localCheckpoint()
    // bucket sizing needs a corpus count — only pay that job when the
    // seed graph is actually built here (a caller-supplied seed makes
    // nnDescentSeed, the count's only consumer, unreachable)
    var g = seed.getOrElse {
      val buckets =
        if (nBuckets > 0) nBuckets
        else math.max(1, (emb.count() / (4L * (k + 1))).toInt)
      nnDescentSeed(corpus, k, buckets)
    }.select("n_id", "m_id", "sim").localCheckpoint()
    for (_ <- 1 to iters)
      g = nnDescentRound(g, emb, k, cap).localCheckpoint()
    import org.apache.spark.sql.expressions.Window
    g.withColumn("rank", row_number().over(
      Window.partitionBy("n_id").orderBy(col("sim").desc, col("m_id"))))
  }

  // --------------------------------------------------------------------
  // Hierarchical (HNSW-shape) tier: layered graphs + adaptive entry
  // --------------------------------------------------------------------

  /** A built hierarchical index (Malkov & Yashunin 2016, re-expressed
    * for a partitioned engine).
    *
    * @param nodes n_id, emb, cell, level — every corpus vector, with
    *              its deterministic layer-membership level
    *              (localCheckpointed)
    * @param adj   layer, n_id, cell, cell2, neighbors (array<long>,
    *              best-first) — one adjacency row per (layer, member);
    *              a layer-ℓ row's neighbors are all layer-ℓ members,
    *              and cell/cell2 are the member's home/second cell on
    *              that LAYER's coarsened grid, stored so append/delete
    *              detect affected nodes by semi-join instead of a
    *              full-layer geometry recompute (the n33 r10 lesson)
    * @param levelFanout the geometric decay M: P(level ≥ ℓ) = M^{-ℓ}
    * @param maxLevel    the level cap the index was built with
    */
  case class HnswIndex(nodes: DataFrame, adj: DataFrame,
                       cells: Array[Array[Double]], degree: Int,
                       crossDegree: Int, levelFanout: Int, maxLevel: Int,
                       alpha: Option[Double] = None, poolSize: Int = 0)

  /** Deterministic geometric level: the largest ℓ ≤ maxLevel with
    * xxhash64(n_id) ≡ 0 (mod M^ℓ) — P(level ≥ ℓ) = M^{-ℓ} like HNSW's
    * random draw, but replayable on any layout (divisibility by M^ℓ
    * implies divisibility by M^{ℓ-1}, so the indicator sum IS the max
    * consistent prefix).
    */
  private[ops] def hashLevel(id: org.apache.spark.sql.Column, fanout: Int,
                             maxLevel: Int): org.apache.spark.sql.Column =
    if (maxLevel == 0) lit(0)
    else (1 to maxLevel).map { l =>
      when(pmod(xxhash64(id), lit(math.pow(fanout.toDouble, l).toLong))
        === 0, 1).otherwise(0)
    }.reduce(_ + _)

  /** Build the layered index. Layer 0 holds every vector with the flat
    * build's edge rule (same cells, same intra/cross pools, same
    * optional α-prune); layer ℓ ≥ 1 holds the ~n/M^ℓ members whose
    * hash level reaches ℓ, wired by the same rule over just those
    * members — but over a COARSENED cell grid of max(1, nlist/M^ℓ)
    * cells. Shrinking member count and cell count together keeps the
    * per-cell pool size ≈ n/nlist at every layer (the build stays
    * Σ_ℓ n_ℓ · n_c, a geometric series dominated by the layer-0 term)
    * while making upper-layer edges genuinely LONG-RANGE: a layer-ℓ
    * member's nearest peers among a 1/M^ℓ sample span M^ℓ× more of the
    * space, which is exactly the role of HNSW's upper layers — without
    * it, upper edges inherit layer 0's cell locality and a
    * single-entry descent cannot cross the corpus (measured on the
    * straddle fixture: 9/100 recall with inherited cells vs 75+/100
    * coarsened).
    */
  def buildHnswIndex(corpus: DataFrame, nlist: Int = 16, degree: Int = 8,
                     crossDegree: Int = 2, levelFanout: Int = 8,
                     maxLevel: Int = 2,
                     centroids: Option[Array[Array[Double]]] = None,
                     alpha: Option[Double] = None,
                     poolSize: Int = 0): HnswIndex = {
    require(degree >= 1, s"degree must be >= 1, got $degree")
    require(crossDegree >= 0, s"crossDegree must be >= 0, got $crossDegree")
    require(levelFanout >= 2, s"levelFanout must be >= 2, got $levelFanout")
    require(maxLevel >= 0, s"maxLevel must be >= 0, got $maxLevel")
    alpha.foreach(a => require(a >= 1.0, s"alpha must be >= 1.0, got $a"))
    val poolN = resolvePool(alpha, poolSize, degree, crossDegree)
    val cells = centroids.getOrElse(Similarity.firstVectors(corpus, nlist))
    // n_id is cast to long BEFORE hashLevel: xxhash64 is
    // input-type-sensitive (an int 7 and a long 7 hash differently),
    // so without the cast an append batch whose vec_id type differs
    // from the build corpus would assign different levels and break
    // the n41 rebuild-equivalence contract
    val nodes = corpus.select(col("vec_id").cast("long").as("n_id"),
        col("embedding").as("emb"),
        Centroids.centroidAssign(col("embedding"), cells).as("cell"))
      .withColumn("level",
        hashLevel(col("n_id"), levelFanout, maxLevel).cast("int"))
      .localCheckpoint()
    val adj = (0 to maxLevel).map { l =>
      val cellsL = hnswLayerCells(cells, levelFanout, l)
      val members = nodes.filter(col("level") >= l)
        .select(col("n_id"), col("emb"),
          Centroids.centroidAssign(col("emb"), cellsL).as("cell"),
          secondCell(col("emb"), cellsL).as("cell2"))
      hnswLayerRows(members, cellsL, l, degree, crossDegree, alpha, poolN)
    }.reduce(_.unionByName(_)).localCheckpoint()
    HnswIndex(nodes, adj, cells, degree, crossDegree, levelFanout,
      maxLevel, alpha, poolN)
  }

  /** The layer-ℓ grid: coarsen the cell count with the layer — member
    * count and cell count shrink by the same M^ℓ, so pool size stays
    * ≈ n/nlist while the edges reach M^ℓ× further (the long-range
    * property HNSW's upper layers exist for).
    */
  /** Layer-ℓ routing grid: every (fanout^ℓ)-th centroid of the layer-0
    * codebook — STRIDED, not a prefix. A prefix assumes the codebook's
    * order carries no geometry; on any spatially-correlated order
    * (k-means outputs often are; a 1-D manifold codebook always is)
    * the prefix covers one corner of the space and a single upper
    * cell absorbs most of the layer, making the upper edge rules
    * quadratic in it (measured: a 100k clustered corpus spent ~2/3 of
    * its build AND merge wall in one layer-1 cell under the prefix
    * rule). Striding preserves whatever spread the order carries and
    * degrades to the prefix's behavior on arbitrary order.
    */
  private def hnswLayerCells(cells: Array[Array[Double]], fanout: Int,
                             l: Int): Array[Array[Double]] =
    if (l == 0) cells
    else {
      val stride = math.pow(fanout.toDouble, l)
      val n = math.max(1, (cells.length / stride).toInt)
      Array.tabulate(n)(i => cells((i * stride).toInt))
    }

  /** Wire one layer: run the edge rule over `members` (n_id, emb,
    * cell, cell2 — already on the layer's grid) and emit the adj rows.
    * LEFT join: an upper-layer member alone in its cell keeps an empty
    * list but stays a waypoint (same invariant as the flat build).
    * Shared by build and the append/delete redo paths, so the edge
    * rule cannot drift between them.
    */
  private def hnswLayerRows(members: DataFrame,
                            cellsL: Array[Array[Double]], l: Int,
                            degree: Int, crossDegree: Int,
                            alpha: Option[Double], poolN: Int,
                            peersOverride: Option[DataFrame] = None,
                            keys: Seq[String] = Seq("cell"),
                            projectFrom: Option[DataFrame] = None)
      : DataFrame = {
    val extras = keys.filterNot(_ == "cell")
    val peers = peersOverride.getOrElse(members.select(
      keys.map(col) :+ col("n_id").as("m_id") :+
        col("emb").as("m_emb"): _*))
    val nbrs = neighborRule(
      members.select((keys :+ "n_id" :+ "emb").map(col): _*), peers,
      cellsL, degree, crossDegree, alpha, poolN, keys)
    // the output projection sits on the PRESERVED side of a left
    // join, where a broadcast hint is unsupported — a hinted caller
    // passes its unhinted frame via projectFrom so the hint is
    // consumed only in the edge rule's inner joins (same rows either
    // way; this only silences a per-layer resolver warning)
    projectFrom.getOrElse(members)
      .select((extras ++ Seq("n_id", "cell", "cell2")).map(col): _*)
      .join(nbrs, Seq("n_id"), "left")
      .select(extras.map(col) ++ Seq(lit(l).as("layer"), col("n_id"),
        col("cell"), col("cell2"),
        coalesce(col("neighbors"),
          expr("cast(array() as array<bigint>)")).as("neighbors")): _*)
  }

  /** Layered serve: start every query at ONE deterministic entry (the
    * hash-min member of the top non-empty layer), greedily descend —
    * a narrow beam ([[upperBeam]], [[upperHops]]) per upper layer,
    * each layer's winners seeding the next — then run the full
    * layer-0 beam search from the descended entry points. This is the
    * HNSW serve shape: the upper layers ADAPT the entry to the query,
    * replacing the flat index's fixed per-cell entry lists, so the
    * layer-0 walk starts next to the answer instead of at a cell
    * centroid's hash picks. Same batched physics as the flat serve:
    * per layer, one broadcast (or shuffle-hash past the |Q| limit)
    * join per hop + the bounded-heap fold; n_visited counts EVERY
    * scored candidate across all layers, so budget-matched gates stay
    * honest.
    */
  def queryHnswIndex(queries: DataFrame, index: HnswIndex, k: Int,
                     beam: Int = 8, hops: Int = 3, upperBeam: Int = 1,
                     upperHops: Int = 2,
                     frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                     broadcastFrontier: Option[Boolean] = None)
      : DataFrame =
    hnswServe(queries, index.nodes, index.adj, k, beam, hops, upperBeam,
      upperHops, scoreCandidates(_, index.nodes, _, _),
      frontierBroadcastLimit, broadcastFrontier = broadcastFrontier)

  /** The scatter-gather fold shared by the graph-tier sharded serves:
    * per-shard serves (already per-query top-k with a `sim` score)
    * gather through [[Similarity.gatherTopK]]; `n_visited` — constant
    * per (query, shard) by the serve contract — sums across served
    * shards, so the reported budget covers the fan-out work of every
    * shard that RETURNED candidates for the query. A shard whose walk
    * visited candidates but surfaced zero result rows (every scored
    * candidate filtered — e.g. a self-match-only shard) has no row to
    * carry its count, so the sum is a LOWER bound on total fan-out
    * work in that corner case; budget gates (n31-shape) compare
    * serves that return rows from every shard, where the sum is
    * exact.
    */
  private def gatherShardServes(parts: Seq[DataFrame], k: Int)
      : DataFrame = {
    val gathered = Similarity.gatherTopK(
      parts.map(_.drop("n_visited")), k, "sim", ascending = false)
    val visited = parts
      .map(_.select("q_id", "n_visited").distinct())
      .reduce(_.unionByName(_))
      .groupBy("q_id").agg(sum("n_visited").cast("long").as("n_visited"))
    gathered.join(visited, Seq("q_id"))
      .select("q_id", "n_id", "rank", "sim", "n_visited")
  }

  /** Serve a query batch against UNMERGED graph shards — the
    * scatter-gather alternative to [[mergeGraphIndexes]]: every shard
    * runs its own beam walk (on disjoint cluster resources at 100 TB;
    * each walk's frontier never leaves its shard), and only the
    * |shards|·|Q|·k gathered candidates cross shards
    * ([[Similarity.gatherTopK]]). Unlike the IVF-PQ scatter (exact,
    * gate n56), a graph walk's reach depends on the edges it can see,
    * so per-shard serves explore DIFFERENT graphs than a merged build
    * would — the gather fold itself is exact over what the shards
    * return (gate n57 pins the fold against global brute force under
    * exhaustive per-shard serves), and the walk-quality story is the
    * per-shard recall the n31/n40 gates already price. Every shard
    * must be served: a graph candidate is NOT cell-confined (cross
    * edges reach anywhere in the shard), so routing by probed cells
    * would silently drop whole shards' candidates — scatter here is
    * always a full fan-out, which is why the spatial-shard MERGE
    * (n54) remains the right recipe when query batches are broad.
    * Shards with an empty entry table (legal: all-empty cell ranges)
    * are skipped — a bounded check, entries is ≤ nlist·entriesPerCell
    * rows.
    */
  def queryGraphIndexSharded(queries: DataFrame, shards: Seq[GraphIndex],
                             k: Int, beam: Int = 8, hops: Int = 3,
                             entryProbes: Int = 2,
                             frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                             broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    require(shards.nonEmpty, "queryGraphIndexSharded: no shards")
    val live = shards.filter(s => !s.entries.isEmpty)
    if (live.isEmpty)
      queries.select(col("vec_id").as("q_id"),
        col("vec_id").as("n_id"), lit(0).as("rank"), lit(0.0).as("sim"),
        lit(0L).as("n_visited")).limit(0)
    else
      gatherShardServes(live.map(s => queryGraphIndex(queries, s, k,
        beam, hops, entryProbes, frontierBroadcastLimit,
        broadcastFrontier)), k)
  }

  /** [[queryGraphIndexSharded]] at the layered tier: per-shard HNSW
    * descents, one bounded gather. Same contract — full fan-out,
    * exact fold, per-shard walk quality priced by the layered-tier
    * gates.
    */
  def queryHnswIndexSharded(queries: DataFrame, shards: Seq[HnswIndex],
                            k: Int, beam: Int = 8, hops: Int = 3,
                            upperBeam: Int = 1, upperHops: Int = 2,
                            frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                            broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    require(shards.nonEmpty, "queryHnswIndexSharded: no shards")
    val live = shards.filter(s => !s.nodes.isEmpty)
    if (live.isEmpty)
      queries.select(col("vec_id").as("q_id"),
        col("vec_id").as("n_id"), lit(0).as("rank"), lit(0.0).as("sim"),
        lit(0L).as("n_visited")).limit(0)
    else
      gatherShardServes(live.map(s => queryHnswIndex(queries, s, k,
        beam, hops, upperBeam, upperHops, frontierBroadcastLimit,
        broadcastFrontier)), k)
  }

  /** The scored candidate relation of the UNPRUNED h-hop expansion
    * serve — the stream-legal graph walk: probed-cell entries (one
    * stateless projection + a broadcast stream-static join against the
    * entry table), `hops` unrolled adjacency joins (each a
    * stream-static join + explode, NO per-hop top-k pruning — pruning
    * is an aggregation per hop, which is exactly what a streaming plan
    * cannot run), then exact-cosine scoring against the static node
    * table. No aggregation anywhere — the caller folds ONCE
    * ([[functions.TopK.topKDistinct]], which dedups the multi-path
    * arrivals inside the heap so `distinct` isn't needed as a second
    * aggregation).
    *
    * Contract vs the beam walk: the candidate set is the FULL h-hop
    * neighborhood of the entries — a SUPERSET of what the pruned
    * best-first walk explores at equal hops (recall ≥, cost
    * entries·degree^hops candidate rows per query instead of
    * beam·degree·hops). The batch serves keep the beam walk; this
    * shape exists so a readStream of queries can be served at all.
    *
    * Entry fallback: a probed cell with no entries falls back to the
    * globally-lowest entry id — resolved ONCE driver-side at plan
    * construction (a bounded action on the static entry table, legal
    * during streaming setup where the batch walk's anti-join fallback
    * is not).
    */
  /** The reach half of the expansion serve, scorer-agnostic: probed
    * entries + `hops` unrolled stateless adjacency joins; rows are
    * (q_id, q_emb, n_id) with path multiplicity (the fold dedups).
    */
  private def expandReach(queries: DataFrame, adj: DataFrame,
                          entries: DataFrame,
                          cells: Array[Array[Double]], hops: Int,
                          entryProbes: Int): DataFrame = {
    require(hops >= 0, s"hops must be >= 0, got $hops")
    val fallbackRow = entries.agg(min("entry_id")).head()
    require(!fallbackRow.isNullAt(0),
      "expansion serve: the index has no entries — nothing to walk from")
    val fallbackId = fallbackRow.getLong(0)
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    val seed = q.select(col("q_id"), col("q_emb"),
        explode(Centroids.centroidProbes(col("q_emb"), cells,
          entryProbes)).as("cell"))
      .join(broadcast(entries), Seq("cell"), "left")
      .select(col("q_id"), col("q_emb"),
        coalesce(col("entry_id"), lit(fallbackId)).as("n_id"))
    var frontier = seed
    var reached = seed
    var h = 0
    while (h < hops) {
      frontier = frontier.join(adj, Seq("n_id"))
        .select(col("q_id"), col("q_emb"),
          explode(col("neighbors")).as("n_id"))
      reached = reached.unionByName(frontier)
      h += 1
    }
    reached
  }

  private def expandCandidates(queries: DataFrame, nodes: DataFrame,
                               entries: DataFrame,
                               cells: Array[Array[Double]], hops: Int,
                               entryProbes: Int): DataFrame =
    expandReach(queries, nodes.select(col("n_id"), col("neighbors")),
        entries, cells, hops, entryProbes)
      .join(nodes.select(col("n_id"), col("emb").as("n_emb")),
        Seq("n_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        Similarity.cosine(col("q_emb"), col("n_emb")).as("sim"))

  /** [[expandCandidates]] at the PQ-compressed tier: the reach is
    * identical, scoring is ADC against the stored byte codes (one
    * codegen [[graft.functions.PqColumns.pqAdc]] per candidate — the
    * serve never touches a float corpus vector), folded under
    * sim = −adc so the shared (score desc, id asc) heap order matches
    * the batch walk's. OPQ-rotated indexes rotate the queries through
    * the same model first, like every compressed serve.
    */
  private def expandCandidatesPq(queries: DataFrame, index: GraphPqIndex,
                                 hops: Int, entryProbes: Int)
      : DataFrame = {
    val sub = index.dim / index.m
    val qIn = index.rotation.map(Similarity.rotateToBasis(queries, _))
      .getOrElse(queries)
    expandReach(qIn,
        index.nodes.select(col("n_id"), col("neighbors")),
        index.entries, index.cells, hops, entryProbes)
      .join(index.nodes.select(col("n_id"), col("codes")), Seq("n_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (-graft.functions.PqColumns.pqAdc(col("q_emb"), col("codes"),
          index.codebook, sub)).as("sim"))
  }

  /** Fold scored expansion candidates to the serve contract with ONE
    * aggregation — the only aggregation in the whole plan, so the
    * composition is legal under a streaming query source (Complete
    * mode, the [[Similarity.queryIvfPqIndexScatterAgg]] shape).
    * `n_visited` counts scored candidate ROWS (path multiplicity
    * included — the expansion's actual work), where the beam serves
    * count distinct scored candidates; budget comparisons across the
    * two serve families must account for that.
    */
  private def foldExpandTopK(cand: DataFrame, k: Int): DataFrame =
    cand.groupBy("q_id")
      .agg(TopK.topKDistinct(col("sim"), col("n_id"), k).as("top"),
        count(lit(1)).cast("long").as("n_visited"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")),
        col("n_visited"))
      .select(col("q_id"), col("e.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("e.score").as("sim"), col("n_visited"))

  /** Hard ceiling on the candidate rows PER QUERY an unpruned
    * expansion serve may plan: the h-hop reach is
    * entryProbes·entriesPerCell seeds × Σ_{h≤hops} degree^h rows, so
    * an innocent-looking (hops=6, degree=32) call plans a 10⁹-row
    * join per query — a cluster-melting job no one intended. The
    * serves fail fast at plan construction instead; callers that
    * genuinely need deeper reach should serve with the batch beam
    * walk (per-hop pruning bounds its frontier) or shrink the fan-out.
    */
  val ExpandCandidateBudget: Long = 10L * 1000 * 1000

  private def requireExpandBudget(name: String, degreeTotal: Int,
                                  hops: Int, entryProbes: Int,
                                  entriesPerCell: Int): Unit =
    if (degreeTotal > 0) {
      val seeds = math.max(entryProbes, 1).toDouble *
        math.max(entriesPerCell, 1)
      var perHop = 1.0
      var reach = 1.0
      var h = 0
      while (h < hops && seeds * reach <= ExpandCandidateBudget) {
        perHop *= degreeTotal; reach += perHop; h += 1
      }
      require(seeds * reach <= ExpandCandidateBudget,
        s"$name: the unpruned expansion plans up to " +
          f"${seeds * reach}%.0f candidate rows PER QUERY " +
          s"($entryProbes probes x $entriesPerCell entries/cell seeds, " +
          s"degree $degreeTotal, hops $hops) > budget " +
          s"$ExpandCandidateBudget - lower hops/entryProbes or use " +
          "the batch beam serve")
    }

  /** Stream-legal single-index expansion serve (see
    * [[expandCandidates]]): `queries` may be a readStream — the plan
    * is stateless joins plus one bounded-heap aggregation. Fails fast
    * when the planned per-query reach exceeds
    * [[ExpandCandidateBudget]].
    */
  def queryGraphIndexExpand(queries: DataFrame, index: GraphIndex,
                            k: Int, hops: Int = 2,
                            entryProbes: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireExpandBudget("queryGraphIndexExpand",
      index.degree + index.crossDegree, hops, entryProbes,
      index.entriesPerCell)
    foldExpandTopK(expandCandidates(queries, index.nodes, index.entries,
      index.cells, hops, entryProbes), k)
  }

  /** Stream-legal scatter over UNMERGED graph shards — the n59 shape
    * at the graph tier: every live shard contributes its expansion
    * candidates and the union folds through ONE bounded-heap top-k, so
    * a readStream of queries runs as |shards| stream-static join
    * chains feeding a single aggregation (where
    * [[queryGraphIndexSharded]]'s window-based gather fold is batch-
    * only). Full fan-out for the same reason as the batch scatter: a
    * graph candidate is not cell-confined. Exactly the aggregate fold
    * of the per-shard expansion serves, rank for rank (spec-pinned
    * streamed ≡ batch).
    */
  def queryGraphIndexShardedAgg(queries: DataFrame,
                                shards: Seq[GraphIndex], k: Int,
                                hops: Int = 2, entryProbes: Int = 2)
      : DataFrame = {
    require(shards.nonEmpty, "queryGraphIndexShardedAgg: no shards")
    require(k >= 1, s"k must be >= 1, got $k")
    shards.foreach(s => requireExpandBudget("queryGraphIndexShardedAgg",
      s.degree + s.crossDegree, hops, entryProbes, s.entriesPerCell))
    val live = shards.filter(s => !s.entries.isEmpty)
    require(live.nonEmpty,
      "queryGraphIndexShardedAgg: every shard is empty")
    foldExpandTopK(
      live.map(s => expandCandidates(queries, s.nodes, s.entries,
        s.cells, hops, entryProbes)).reduce(_.unionByName(_)), k)
  }

  /** [[queryGraphIndexExpand]] at the PQ-compressed tier: stream-legal
    * ADC serving with the graph's reach — the production memory shape
    * (m bytes + a neighbor list per resident node) behind a plan a
    * readStream of queries can run. Output matches
    * [[queryGraphPqIndex]]'s contract (adc ascending ranks).
    */
  def queryGraphPqIndexExpand(queries: DataFrame, index: GraphPqIndex,
                              k: Int, hops: Int = 2,
                              entryProbes: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireExpandBudget("queryGraphPqIndexExpand",
      index.degree + index.crossDegree, hops, entryProbes,
      entriesPerCell = 4)
    foldExpandTopK(expandCandidatesPq(queries, index, hops,
        entryProbes), k)
      .withColumn("adc", -col("sim")).drop("sim")
      .select("q_id", "n_id", "rank", "adc", "n_visited")
  }

  /** [[queryGraphIndexShardedAgg]] at the PQ-compressed tier — the
    * stream-legal scatter over unmerged compressed shards. Shards must
    * share every frozen artifact (cells, codebook, PQ shape, rotation
    * presence): ADC scores computed under different codebooks are not
    * comparable inside one heap.
    */
  def queryGraphPqIndexShardedAgg(queries: DataFrame,
                                  shards: Seq[GraphPqIndex], k: Int,
                                  hops: Int = 2, entryProbes: Int = 2)
      : DataFrame = {
    require(shards.nonEmpty, "queryGraphPqIndexShardedAgg: no shards")
    require(k >= 1, s"k must be >= 1, got $k")
    shards.foreach(s => requireExpandBudget(
      "queryGraphPqIndexShardedAgg", s.degree + s.crossDegree, hops,
      entryProbes, entriesPerCell = 4))
    requireSharedCells("queryGraphPqIndexShardedAgg",
      shards.map(_.cells))
    val h = shards.head
    shards.tail.foreach { s =>
      require(s.m == h.m && s.ks == h.ks && s.dim == h.dim,
        "queryGraphPqIndexShardedAgg: PQ shapes differ across shards")
      require(s.codebook.length == h.codebook.length &&
        s.codebook.zip(h.codebook).forall { case (x, y) =>
          x.sameElements(y) },
        "queryGraphPqIndexShardedAgg: shard indexes were built over " +
          "different PQ codebooks — sharded builds must share ONE " +
          "frozen codebook")
      require(s.rotation.isDefined == h.rotation.isDefined,
        "queryGraphPqIndexShardedAgg: rotation presence differs " +
          "across shards")
    }
    val live = shards.filter(s => !s.entries.isEmpty)
    require(live.nonEmpty,
      "queryGraphPqIndexShardedAgg: every shard is empty")
    foldExpandTopK(
      live.map(s => expandCandidatesPq(queries, s, hops, entryProbes))
        .reduce(_.unionByName(_)), k)
      .withColumn("adc", -col("sim")).drop("sim")
      .select("q_id", "n_id", "rank", "adc", "n_visited")
  }

  /** [[queryGraphIndexShardedAgg]] at the layered tier. The layered
    * descent is inherently iterative (a top-k pick per layer), so the
    * stream-legal form serves the index's LAYER-0 graph with
    * hash-spread per-cell entries derived from the stored layer-0
    * adjacency (a static subtree — aggregations are legal there; only
    * the streaming side's plan is restricted). The hierarchy is a
    * batch-serve entry optimization; grid probing replaces it here.
    */
  def queryHnswIndexShardedAgg(queries: DataFrame,
                               shards: Seq[HnswIndex], k: Int,
                               hops: Int = 2, entryProbes: Int = 2,
                               entriesPerCell: Int = 4): DataFrame = {
    require(shards.nonEmpty, "queryHnswIndexShardedAgg: no shards")
    require(k >= 1, s"k must be >= 1, got $k")
    shards.foreach(s => requireExpandBudget("queryHnswIndexShardedAgg",
      s.degree + s.crossDegree, hops, entryProbes, entriesPerCell))
    val live = shards.filter(s => !s.nodes.isEmpty)
    require(live.nonEmpty,
      "queryHnswIndexShardedAgg: every shard is empty")
    foldExpandTopK(
      live.map { s =>
        val l0 = s.adj.filter(col("layer") === 0)
        val entries = hashEntries(l0.select("cell", "n_id"),
          entriesPerCell)
        expandCandidates(queries,
          s.nodes.select("n_id", "emb")
            .join(l0.select("n_id", "neighbors"), Seq("n_id")),
          entries, s.cells, hops, entryProbes)
      }.reduce(_.unionByName(_)), k)
  }

  /** Re-cut a sharded graph deployment to a NEW cell→shard map by
    * MOVING only the rows whose shard changed — the lifecycle verb
    * between build-per-shard (n54) and merge/serve: occupancy drifts
    * as appends accumulate, the re-cut [[Similarity.shardCellMap]]
    * rebalances the build jobs, and re-building every shard from
    * scratch would cost the full corpus. Movers come from the SHARD
    * STATE, not a corpus re-assignment: every indexed row's cell is a
    * stored column, so the rows whose owner changed are one cheap
    * projection per shard (a literal-map lookup + a changed-cell
    * filter — no embedding math; re-assigning the corpus would cost
    * n·nlist·dim FLOPs, a corpus-sized job at 100 TB, measured ~25%
    * of the whole rebalance wall at bench scale). This also removes
    * the stale-corpus failure mode — the state IS the membership.
    * Every touched shard applies its movers-out and movers-in in ONE
    * fused batched redo ([[moveGraphShardsBatched]] — one redo, one
    * state materialization for the fleet, instead of the
    * delete∘append composition's two per shard), so work is ∝ moved
    * rows + their touched cells — at 100 TB
    * a boundary shift that moves 2% of cells costs 2% of a rebuild.
    * EXACTLY equal to fresh builds over the new slices (gate n58)
    * because append/delete are each rebuild-equivalent (n33/n37) and
    * compose (n41's lifecycle pin). Both maps must cover the shared
    * frozen codebook.
    */
  def rebalanceGraphShards(shards: Seq[GraphIndex],
                           oldMap: Array[Int], newMap: Array[Int])
      : Seq[GraphIndex] =
    rebalanceWith[GraphIndex]("rebalanceGraphShards", shards,
      shards.map(_.cells),
      s => s.nodes.select(col("n_id").as("vec_id"),
        col("emb").as("embedding"), col("cell")),
      oldMap, newMap)(moveGraphShardsBatched)

  /** [[rebalanceGraphShards]] at the layered tier — the same
    * batched fused move over the HNSW incremental machinery, which is
    * rebuild-exact per (layer, n_id) (gate n41), so the re-cut shards
    * equal fresh builds over the new slices layer for layer.
    */
  def rebalanceHnswShards(shards: Seq[HnswIndex],
                          oldMap: Array[Int], newMap: Array[Int])
      : Seq[HnswIndex] =
    rebalanceWith[HnswIndex]("rebalanceHnswShards", shards,
      shards.map(_.cells),
      s => s.nodes.select(col("n_id").as("vec_id"),
        col("emb").as("embedding"), col("cell")),
      oldMap, newMap)(moveHnswShardsBatched)

  /** The shared rebalance skeleton: validate the frozen-codebook
    * handshake and both maps, derive the movers from the STORED cell
    * columns (one cheap projection per shard over the changed-cell
    * set — never an embedding re-assignment), then hand the whole
    * mover set to the tier's BATCHED fused move — one job family for
    * every touched shard, one state materialization for the fleet.
    * `stateRows` exposes a shard's membership as
    * (vec_id, embedding, cell).
    */
  private def rebalanceWith[I](what: String, shards: Seq[I],
                               shardCells: Seq[Array[Array[Double]]],
                               stateRows: I => DataFrame,
                               oldMap: Array[Int],
                               newMap: Array[Int])(
      moveBatched: MoveBatched[I]): Seq[I] = {
    require(shards.nonEmpty, s"$what: no shards")
    val cells = requireSharedCells(what, shardCells)
    for ((m, which) <- Seq(oldMap -> "oldMap", newMap -> "newMap"))
      IndexIo.requireCellMap(what, which, m, cells.length,
        shards.length)
    // the changed-cell set is a DRIVER-side diff of the two bounded
    // maps; empty means a no-op re-cut — return the shards verbatim
    val changed = oldMap.indices
      .collect { case c if oldMap(c) != newMap(c) => c + 1 }
    if (changed.isEmpty) return shards
    // movers from state: stored 1-based cell → new owner via one
    // literal-map lookup; rows whose owner is not their current shard
    // move. Bounded by the changed cells' membership, checkpointed
    // once (every shard's out/in legs slice it).
    val movers = shards.zipWithIndex.map { case (s, j) =>
      stateRows(s)
        .filter(col("cell").isInCollection(changed))
        .withColumn("to_shard", element_at(lit(newMap), col("cell")))
        .filter(col("to_shard") =!= j)
        .select(lit(j).as("from_shard"), col("to_shard"),
          col("vec_id"), col("embedding"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    // UNTOUCHED shards (no movers out, none in) pass through verbatim
    // — without this, every shard would pay a full-state
    // materialization for a no-op move. One nShards-bounded aggregate
    // over the checkpointed movers decides; at production shard counts
    // a boundary re-cut touches two shards and the fleet's other
    // hundreds do nothing.
    val touchedShards = movers.select(col("from_shard").as("s"))
      .unionByName(movers.select(col("to_shard").as("s")))
      .distinct().collect().map(_.getInt(0)).toSet
    if (touchedShards.isEmpty) shards
    else moveBatched(what, shards, touchedShards,
      Some(movers.select(col("from_shard").as("shard"),
        col("vec_id").as("n_id"))),
      Some(movers.select(col("to_shard").as("shard"), col("vec_id"),
        col("embedding"))))
  }

  /** A tier's batched redo ([[moveGraphShardsBatched]] /
    * [[moveHnswShardsBatched]]): (what, shards, touched shards,
    * departures, arrivals) ⇒ the updated fleet. */
  private type MoveBatched[I] = (String, Seq[I], Set[Int],
    Option[DataFrame], Option[DataFrame]) => Seq[I]

  /** Frozen-codebook handshake shared by every cross-shard verb. */
  private[ops] def requireSharedCells(what: String,
                                      shardCells: Seq[Array[Array[Double]]])
      : Array[Array[Double]] = {
    val cells = shardCells.head
    shardCells.tail.foreach(c => require(
      c.length == cells.length &&
        c.zip(cells).forall { case (x, y) => x.sameElements(y) },
      s"$what: shard indexes were built over different coarse cells " +
        "— sharded builds must share ONE frozen codebook"))
    cells
  }

  /** Append an arriving batch to a SHARDED graph deployment: route by
    * the deployment's frozen cell→shard map and run every touched
    * shard's arrivals through ONE batched redo
    * ([[routedAppendBatched]]). Exactly equal to slicing the batch by
    * [[Similarity.routeByCellMap]] and appending each slice by hand
    * (spec-pinned); with a streaming source, call this from
    * `foreachBatch` (the nightly-ingest shape — see
    * StreamingShardedAppendSpec).
    */
  def appendToGraphShards(shards: Seq[GraphIndex], batch: DataFrame,
                          cellMap: Array[Int]): Seq[GraphIndex] = {
    require(shards.nonEmpty, "appendToGraphShards: no shards")
    val cells = requireSharedCells("appendToGraphShards",
      shards.map(_.cells))
    routedAppendBatched("appendToGraphShards", shards, cells, batch,
      cellMap)(moveGraphShardsBatched)
  }

  /** [[appendToGraphShards]] at the layered tier. */
  def appendToHnswShards(shards: Seq[HnswIndex], batch: DataFrame,
                         cellMap: Array[Int]): Seq[HnswIndex] = {
    require(shards.nonEmpty, "appendToHnswShards: no shards")
    val cells = requireSharedCells("appendToHnswShards",
      shards.map(_.cells))
    routedAppendBatched("appendToHnswShards", shards, cells, batch,
      cellMap)(moveHnswShardsBatched)
  }

  /** Delete ids from a SHARDED graph deployment: each id's owning
    * shard comes from the shards' own stored state (one lazy-unioned
    * semi-join over the bounded delete set — ONE job, no corpus, no
    * routing map needed: membership IS ownership), then everything
    * runs as a departures-only batched redo (no arrival leg), so the
    * whole fleet's delete is one job family
    * with one state materialization. Ids absent from every shard
    * no-op, matching [[deleteFromGraphIndex]]. Completes the sharded
    * CRUD set next to [[appendToGraphShards]] and
    * [[rebalanceGraphShards]]; spec-pinned equal to fresh builds over
    * the surviving slices.
    */
  def deleteFromGraphShards(shards: Seq[GraphIndex], ids: DataFrame)
      : Seq[GraphIndex] = {
    require(shards.nonEmpty, "deleteFromGraphShards: no shards")
    requireSharedCells("deleteFromGraphShards", shards.map(_.cells))
    routedDeleteBatched("deleteFromGraphShards", shards, ids,
      (s: GraphIndex) => s.nodes)(moveGraphShardsBatched)
  }

  /** [[deleteFromGraphShards]] at the layered tier. */
  def deleteFromHnswShards(shards: Seq[HnswIndex], ids: DataFrame)
      : Seq[HnswIndex] = {
    require(shards.nonEmpty, "deleteFromHnswShards: no shards")
    requireSharedCells("deleteFromHnswShards", shards.map(_.cells))
    routedDeleteBatched("deleteFromHnswShards", shards, ids,
      (s: HnswIndex) => s.nodes)(moveHnswShardsBatched)
  }

  private def routedDeleteBatched[I](what: String, shards: Seq[I],
                                     ids: DataFrame,
                                     nodesOf: I => DataFrame)(
      moveBatched: MoveBatched[I]): Seq[I] = {
    val del = ids.select(col("vec_id").cast("long").as("n_id"))
      .distinct().localCheckpoint()
    val departures = shards.zipWithIndex.map { case (s, j) =>
      nodesOf(s).join(del, Seq("n_id"), "left_semi")
        .select(lit(j).as("shard"), col("n_id"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val touched = departures.select("shard").distinct().collect()
      .map(_.getInt(0)).toSet
    if (touched.isEmpty) shards
    else moveBatched(what, shards, touched, Some(departures), None)
  }

  /** The routed-append skeleton for the graph-tier families: route the
    * arriving batch under the deployment's FROZEN map (one no-shuffle
    * projection, checkpointed) and run it as a movers-in-only batched
    * move — ONE job family and one state materialization for every
    * touched shard, the [[moveGraphShardsBatched]] driver-scale
    * argument applied to the nightly-ingest verb (an arriving batch
    * routinely touches MANY shards, where per-shard appends pay
    * per-shard job submission). The code-table
    * tier keeps [[IndexIo.appendRouted]] (its per-shard append is one
    * row-independent projection — nothing to batch).
    */
  private def routedAppendBatched[I](what: String, shards: Seq[I],
                                     cells: Array[Array[Double]],
                                     batch: DataFrame,
                                     cellMap: Array[Int])(
      moveBatched: MoveBatched[I]): Seq[I] = {
    val routed = Similarity.routeByCellMap(
        batch.select("vec_id", "embedding"), cells, cellMap,
        shards.length)
      .localCheckpoint()
    val touched = routed.select("shard").distinct().collect()
      .map(_.getInt(0)).toSet
    if (touched.isEmpty) shards
    else moveBatched(what, shards, touched, None,
      Some(routed.select("shard", "vec_id", "embedding")))
  }

  /** Metadata-FILTERED layered serve (the filtered-DiskANN shape, the
    * n20 semantics at the layered tier): the walk navigates the FULL
    * graph — disallowed nodes still work as waypoints, which is what
    * keeps the graph connected under selective predicates; filtering
    * the walk itself strands queries whose allowed region is only
    * reachable through disallowed territory — and only the final
    * top-k collection is restricted to `allowed` (one vec_id column).
    * n_visited still counts every scored candidate: the budget is the
    * walk's, not the survivors'.
    */
  def queryHnswIndexFiltered(queries: DataFrame, index: HnswIndex,
                             allowed: DataFrame, k: Int, beam: Int = 8,
                             hops: Int = 3, upperBeam: Int = 1,
                             upperHops: Int = 2,
                             frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                             broadcastFrontier: Option[Boolean] = None)
      : DataFrame =
    hnswServe(queries, index.nodes, index.adj, k, beam, hops, upperBeam,
      upperHops, scoreCandidates(_, index.nodes, _, _),
      frontierBroadcastLimit,
      allowed = Some(allowed.select(col("vec_id").as("n_id"))),
      broadcastFrontier = broadcastFrontier)

  /** The shared layered-descent loop, scorer-pluggable (exact cosine
    * for the float index, ADC for the PQ one — the same split as
    * [[beamSearch]] on the flat tier). `nodes` only supplies the
    * level column and the entry pick; candidate payloads flow through
    * `score`.
    */
  private def hnswServe(queries: DataFrame, nodes: DataFrame,
                        adj: DataFrame, k: Int, beam: Int, hops: Int,
                        upperBeam: Int, upperHops: Int,
                        score: (DataFrame, DataFrame, Boolean) => DataFrame,
                        frontierBroadcastLimit: Long,
                        allowed: Option[DataFrame] = None,
                        broadcastFrontier: Option[Boolean] = None,
                        upperScore: Option[(DataFrame, DataFrame,
                          Boolean) => DataFrame] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(beam >= 1, s"beam must be >= 1, got $beam")
    require(upperBeam >= 1, s"upperBeam must be >= 1, got $upperBeam")
    require(upperHops >= 0, s"upperHops must be >= 0, got $upperHops")
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    // explicit regime skips the auto-detect count job (the serving
    // caller usually knows |Q|); default stays auto
    val bcast = broadcastFrontier.getOrElse(
      q.count() <= frontierBroadcastLimit)
    // levels are monotone sets (layer ℓ members ⊇ layer ℓ+1 members),
    // so every layer up to the realized max is non-empty. An EMPTY
    // index (everything deleted) has no max level at all — degrade to
    // zero results with the serve's schema, the flat tier's behavior,
    // instead of an NPE off the null aggregate.
    val lvlRow = nodes.agg(max("level")).head()
    if (lvlRow.isNullAt(0))
      return q.select(col("q_id"), col("q_id").as("n_id"),
        lit(1).cast("int").as("rank"), lit(0.0d).as("sim"),
        lit(0L).as("n_visited")).limit(0)
    val topLevel = lvlRow.getInt(0)
    val entry = broadcast(nodes.filter(col("level") >= topLevel)
      .select(col("n_id"), abs(xxhash64(col("n_id"))).as("__h"))
      .orderBy(col("__h"), col("n_id")).limit(1).select("n_id"))
    var entryCand = q.select("q_id").crossJoin(entry)
    var visited = q.select("q_id").limit(0)
    var l = topLevel
    while (l >= 1) {
      val adjL = adj.filter(col("layer") === l)
        .select("n_id", "neighbors")
      // upper layers may use a DIFFERENT scorer (float descent over a
      // PQ index); only candidate IDS cross layer boundaries, so mixed
      // scoring units never compare across layers
      val scored = beamLoop(q, adjL, entryCand, upperBeam, upperHops,
        upperScore.getOrElse(score), bcast)
      visited = visited.unionByName(scored.select("q_id"))
      entryCand = topPerQuery(scored, upperBeam).localCheckpoint()
      l -= 1
    }
    val adj0 = adj.filter(col("layer") === 0)
      .select("n_id", "neighbors")
    val scored0 = beamLoop(q, adj0, entryCand, beam, hops, score, bcast)
    val nVisited = visited.unionByName(scored0.select("q_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_visited"))
    // filtered collection: the walk already happened over the full
    // graph; only survivors compete for the top-k. No broadcast hint:
    // the allow-list can be corpus-sized (n44's gate passes half the
    // corpus), so the optimizer picks the strategy — small lists still
    // broadcast under the auto threshold, big ones hash-join instead
    // of forcing an oversized broadcast
    val eligible = allowed
      .map(a => scored0.join(a, Seq("n_id"), "left_semi"))
      .getOrElse(scored0)
    finishTopK(eligible, k, nVisited)
  }

  /** HNSW over PQ-COMPRESSED vectors — the layered analog of
    * [[GraphPqIndex]] (and the DiskANN memory story at the layered
    * tier): the hierarchy navigates, candidates rank by asymmetric
    * distance against stored byte codes, and the serve never touches
    * a float corpus vector. With `rotation`, the whole index — levels
    * aside (pure id hash), cells, edges, codes — lives in the trained
    * OPQ basis and queries rotate once at entry (the n36 contract).
    *
    * No direct merge verb: layer-0 edge redo needs the full float
    * geometry, which this index deliberately discards. The sharded
    * recipe for the compressed tier is merge-at-the-float-tier: build
    * float [[HnswIndex]] shards, [[mergeHnswIndexes]], then
    * [[encodeHnswIndex]] — a pure row-independent projection (no
    * graph rebuild), so the merge cost stays ∝ the affected cells
    * plus one encode pass (gate n51). The same composition gives the
    * compressed tier append, delete, and compact.
    */
  case class HnswPqIndex(nodes: DataFrame, adj: DataFrame,
                         cells: Array[Array[Double]],
                         codebook: Array[Array[Double]],
                         m: Int, ks: Int, dim: Int, levelFanout: Int,
                         maxLevel: Int,
                         rotation: Option[Embeddings.PcaModel] = None,
                         upperFloats: Option[DataFrame] = None)

  /** Build: the float layered build (edges need real geometry), one
    * encode projection, floats dropped — exactly the
    * [[buildGraphPqIndex]] recipe with layers.
    */
  def buildHnswPqIndex(corpus: DataFrame, nlist: Int = 16,
                       degree: Int = 8, crossDegree: Int = 2,
                       levelFanout: Int = 8, maxLevel: Int = 2,
                       m: Int = 8, ks: Int = 16, dim: Int = 64,
                       centroids: Option[Array[Array[Double]]] = None,
                       codebook: Option[Array[Array[Double]]] = None,
                       alpha: Option[Double] = None, poolSize: Int = 0,
                       rotation: Option[Embeddings.PcaModel] = None)
      : HnswPqIndex = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val c = rotation.map(Similarity.rotateToBasis(corpus, _))
      .getOrElse(corpus)
    val cb = codebook.getOrElse(
      Similarity.defaultPqCodebook(c, m, ks, sub))
    // one-shot = float build + the encode projection, BY CONSTRUCTION
    // (the n51 equivalence is structural, not just spec-pinned); the
    // projection keeps float vectors for the UPPER-layer members
    // (n/M^l rows) so the descent scores in exact geometry — the fix
    // for the r11 n42 entry-recall finding
    encodeHnswIndex(
      buildHnswIndex(c, nlist, degree, crossDegree, levelFanout,
        maxLevel, centroids, alpha, poolSize),
      m, ks, dim, Some(cb), rotation)
  }

  /** [[encodeGraphIndex]] at the layered tier: project an
    * already-built float [[HnswIndex]] into its compressed serving
    * form — per-row codes plus the upper-layer float slice — without
    * re-running any graph build. This is how the compressed layered
    * tier inherits every float-tier lifecycle verb
    * (append/delete/merge/compact, each incremental and
    * rebuild-equivalent) for the price of one row-independent encode
    * pass; gate n51 pins encode ∘ [[mergeHnswIndexes]] ≡ the one-shot
    * [[buildHnswPqIndex]] over the union. Basis contract as in
    * [[encodeGraphIndex]]: with OPQ the float index was built over
    * rotated vectors and `rotation` travels as serve metadata only.
    */
  def encodeHnswIndex(index: HnswIndex, m: Int = 8, ks: Int = 16,
                      dim: Int = 64,
                      codebook: Option[Array[Array[Double]]] = None,
                      rotation: Option[Embeddings.PcaModel] = None)
      : HnswPqIndex = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cb = codebook.getOrElse(Similarity.defaultPqCodebook(
      index.nodes.select(col("n_id").as("vec_id"),
        col("emb").as("embedding")), m, ks, sub))
    val nodes = index.nodes
      .withColumn("codes",
        graft.functions.PqColumns.pqEncode(col("emb"), cb, sub))
      .select("n_id", "cell", "level", "codes")
      .localCheckpoint()
    val uf = index.nodes.filter(col("level") >= 1)
      .select(col("n_id"), col("emb")).localCheckpoint()
    HnswPqIndex(nodes, index.adj, index.cells, cb, m, ks, dim,
      index.levelFanout, index.maxLevel, rotation, Some(uf))
  }

  /** ADC layered serve: the [[queryHnswIndex]] walk with the scorer
    * swapped for asymmetric distance against stored codes (ties by
    * id, the n34 contract). Saturated (one cell, full out-degree, one
    * expansion round) this must reproduce [[Similarity.pqTopK]]'s
    * exhaustive compressed scan row-for-row — gate n42 pins it, with
    * the OPQ rotation threaded.
    */
  def queryHnswPqIndex(queries: DataFrame, index: HnswPqIndex, k: Int,
                       beam: Int = 8, hops: Int = 3, upperBeam: Int = 1,
                       upperHops: Int = 2,
                       frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                       broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    val sub = index.dim / index.m
    val qIn = index.rotation.map(Similarity.rotateToBasis(queries, _))
      .getOrElse(queries)
    def adcScore(cand: DataFrame, q: DataFrame,
                 bcast: Boolean): DataFrame = {
      val joined =
        if (bcast)
          broadcast(cand)
            .join(index.nodes.select(col("n_id"), col("codes")), Seq("n_id"))
            .join(broadcast(q), Seq("q_id"))
        else
          cand.hint("shuffle_hash")
            .join(index.nodes.select(col("n_id"), col("codes")), Seq("n_id"))
            .join(q.hint("shuffle_hash"), Seq("q_id"))
      joined.select(col("q_id"), col("n_id"),
        (-graft.functions.PqColumns.pqAdc(col("q_emb"), col("codes"),
          index.codebook, sub)).as("sim"))
    }
    // float-scored descent when the index carries its upper-layer
    // vectors (all builds since r12; legacy loads fall back to the
    // all-ADC walk): the hierarchy's ~n/M rows are exact-geometry,
    // so coarse-code ties cannot land the layer-0 entry a cluster off
    val upperScore = index.upperFloats.map { uf =>
      (cand: DataFrame, q: DataFrame, bcast: Boolean) => {
        val joined =
          if (bcast)
            broadcast(cand).join(uf, Seq("n_id"))
              .join(broadcast(q), Seq("q_id"))
          else
            cand.hint("shuffle_hash").join(uf, Seq("n_id"))
              .join(q.hint("shuffle_hash"), Seq("q_id"))
        joined.select(col("q_id"), col("n_id"),
          Similarity.cosine(col("q_emb"), col("emb")).as("sim"))
      }
    }
    hnswServe(qIn, index.nodes, index.adj, k, beam, hops, upperBeam,
      upperHops, adcScore, frontierBroadcastLimit,
      broadcastFrontier = broadcastFrontier, upperScore = upperScore)
      .withColumn("adc", -col("sim")).drop("sim")
  }

  /** [[queryHnswPqIndex]] + full-precision re-rank — the
    * [[queryGraphPqIndexReranked]] contract at the layered tier (and
    * the DiskANN serve completed: hierarchy navigates, ADC ranks the
    * walk, the final k re-ranks in exact float over a bounded fetch).
    */
  def queryHnswPqIndexReranked(queries: DataFrame, index: HnswPqIndex,
                               floats: DataFrame, k: Int,
                               rerankK: Int = 50, beam: Int = 8,
                               hops: Int = 3, upperBeam: Int = 1,
                               upperHops: Int = 2,
                               frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit,
                               broadcastFrontier: Option[Boolean] = None)
      : DataFrame = {
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    rerankCandidates(
      queryHnswPqIndex(queries, index, rerankK, beam, hops, upperBeam,
        upperHops, frontierBroadcastLimit, broadcastFrontier),
      queries, floats, k)
  }

  /** HnswIndex is a public case class; resolve a hand-built index's
    * unresolved α-prune pool the way build does (the flat-append
    * lesson: passing 0 through hits the candidate top-k with k = 0).
    */
  private def hnswPool(index: HnswIndex): Int =
    resolvePool(index.alpha, index.poolSize, index.degree,
      index.crossDegree)

  /** Append a batch to the layered index, EXACTLY rebuild-equivalent
    * (gate n41 pins per-layer neighbor-list equality with a
    * from-scratch build over the union): a one-shard call of the
    * batched redo ([[moveHnswShardsBatched]]). Cells and routing stay
    * FROZEN (the n22/n33 trade).
    */
  def appendToHnswIndex(index: HnswIndex, newVecs: DataFrame)
      : HnswIndex =
    moveHnswShardsBatched("appendToHnswIndex", Seq(index), Set(0), None,
      arrivalsOf(newVecs)).head

  /** Delete vectors from the layered index, EXACTLY rebuild-equivalent
    * (gate n41): a one-shard call of the batched redo
    * ([[moveHnswShardsBatched]]). Deleting a whole top layer degrades
    * the serve's entry search to the next layer (topLevel is read off
    * the node table). `ids`: one vec_id column; non-members are
    * ignored.
    */
  def deleteFromHnswIndex(index: HnswIndex, ids: DataFrame): HnswIndex =
    moveHnswShardsBatched("deleteFromHnswIndex", Seq(index), Set(0),
      departuresOf(ids), None).head

  /** Fused move at the layered tier: exactly equal to
    * `appendToHnswIndex(deleteFromHnswIndex(idx, outIds), inRows)`,
    * and so to a fresh build over the moved member set, in ONE redo
    * pass per layer. A one-shard call of the batched redo
    * ([[moveHnswShardsBatched]]).
    */
  def moveHnswIndex(index: HnswIndex, outIds: DataFrame,
                    inRows: DataFrame): HnswIndex =
    moveHnswShardsBatched("moveHnswIndex", Seq(index), Set(0),
      departuresOf(outIds), arrivalsOf(inRows)).head

  /** The layered tier's ONE rebuild-exact redo — the
    * [[moveGraphShardsBatched]] recipe per layer, shared by every
    * append, delete, move, routed append, routed delete and rebalance
    * (a single index is a one-shard fleet). Levels are pure id hash,
    * so arrivals' layer memberships are frozen facts. Per layer:
    * touched = layer-grid home cells (stored columns) of departures ∪
    * arrivals, affected = remaining rows with home/second cell
    * touched, and the one shared edge rule re-runs over affected ∪
    * arrivals against the layer's FINAL membership; untouched rows
    * carry over verbatim. Work per layer ∝ movers + members of touched
    * cells; the geometric layer sizes make the upper-layer terms
    * vanish. Every touched shard's redo runs in ONE shard-tagged job
    * family ((shard, cell) join keys), so driver jobs are O(layers)
    * for the WHOLE fleet instead of O(layers · shards), and the final
    * node/adjacency states are one materialization each.
    *
    * Legs, `what` and the untouched-shard pass-through as in
    * [[moveGraphShardsBatched]].
    */
  private[ops] def moveHnswShardsBatched(what: String,
                                         shards: Seq[HnswIndex],
                                         touchedShards: Set[Int],
                                         departures: Option[DataFrame],
                                         arrivals: Option[DataFrame])
      : Seq[HnswIndex] = {
    require(departures.nonEmpty || arrivals.nonEmpty,
      s"$what: neither departures nor arrivals")
    val head = shards.head
    require(shards.forall(s => s.degree == head.degree &&
      s.crossDegree == head.crossDegree && s.alpha == head.alpha &&
      s.poolSize == head.poolSize &&
      s.levelFanout == head.levelFanout &&
      s.maxLevel == head.maxLevel),
      s"$what: shard build parameters differ — a sharded deployment " +
        "must share one frozen edge rule")
    val poolN = hnswPool(head)
    val touched = touchedShards.toSeq.sorted
    val sc = Seq("shard", "cell")
    val sn = Seq("shard", "n_id")
    val delIds = departures.map(_.select(col("shard"),
        col("n_id").cast("long").as("n_id"))
      .distinct().localCheckpoint())
    // cast-to-long before hashLevel: the build's xxhash64
    // type-sensitivity note — batch and corpus must hash identically
    val nu0 = arrivals.map(_.select(col("shard"),
        col("vec_id").cast("long").as("n_id"),
        col("embedding").as("emb"))
      .withColumn("level",
        hashLevel(col("n_id"), head.levelFanout, head.maxLevel)
          .cast("int"))
      .localCheckpoint())
    // duplicate ids would put two node rows and conflicting adjacency
    // rows into the index with no error — fail fast, both directions
    nu0.foreach(IndexIo.requireBatchIdsUnique(what, _, "n_id"))
    val oldNodesU = touched.map(j => shards(j).nodes.select(
        lit(j).as("shard"), col("n_id"), col("emb"), col("cell"),
        col("level")))
      .reduce(_.unionByName(_))
    // NOT checkpointed (the moveGraphShardsBatched note): consumers
    // re-run a scan + broadcast anti join of materialized state
    val remainingNodes =
      delIds.fold(oldNodesU)(oldNodesU.join(_, sn, "left_anti"))
    nu0.foreach(IndexIo.requireIdsNotIndexed(what, remainingNodes, _,
      "n_id"))
    val nodes2U = nu0.fold(remainingNodes)(n => remainingNodes.unionByName(
        n.select(col("shard"), col("n_id"), col("emb"),
          Centroids.centroidAssign(col("emb"), head.cells).as("cell"),
          col("level"))))
      .localCheckpoint()
    // ids are globally unique across shards, so ONE embedding fetch
    // relation serves every layer's affected join
    val embById = oldNodesU.select(col("n_id"), col("emb"))
    val adjU = touched.map(j => shards(j).adj.select(
        lit(j).as("shard"), col("layer"), col("n_id"), col("cell"),
        col("cell2"), col("neighbors")))
      .reduce(_.unionByName(_))
    val adj2U = (0 to head.maxLevel).map { l =>
      val cellsL = hnswLayerCells(head.cells, head.levelFanout, l)
      val nuL = nu0.map(_.filter(col("level") >= l)
        .select(col("shard"), col("n_id"), col("emb"),
          Centroids.centroidAssign(col("emb"), cellsL).as("cell"),
          secondCell(col("emb"), cellsL).as("cell2")))
      val oldL = adjU.filter(col("layer") === l)
      val remaining = delIds.fold(oldL)(oldL.join(_, sn, "left_anti"))
      // touched on THIS layer's stored grid columns: home cells of the
      // layer's departures and arrivals
      val touchedL = (delIds.map(d =>
          oldL.join(d, sn, "left_semi").select("shard", "cell")) ++
          nuL.map(_.select("shard", "cell")))
        .reduce(_.unionByName(_))
        .distinct().localCheckpoint()
      // broadcast by hand — the moveGraphShardsBatched touchedCells note
      val affected = remaining.join(broadcast(touchedL), sc, "left_semi")
        .unionByName(remaining.join(
          broadcast(touchedL.withColumnRenamed("cell", "cell2")),
          Seq("shard", "cell2"), "left_semi"))
        // keyed on n_id alone (ids are unique across shards): the
        // planner then knows the embedding join below keeps one row per
        // id, so the checkpointed redo carries a small size estimate and
        // its later joins plan as broadcasts
        .dropDuplicates("n_id")
        .join(embById, Seq("n_id"))
        .select("shard", "n_id", "emb", "cell", "cell2")
      // checkpointed: consumed by the edge rule (multiple legs), the
      // carry-over anti join, and the regime count below — unmaterialized
      // it would re-run the corpus-sized embedding fetch per consumer
      val redo = nuL.fold(affected)(affected.unionByName(_))
        .localCheckpoint()
      // peers restricted to the redo rows' home/second cells over the
      // layer's FINAL membership (the merge discipline), re-spread +
      // checkpointed so the bounded relation is materialized once with
      // parallelism the skewed-cell joins can use. Arrivals need no
      // restriction: their home cells are redo cells by construction.
      val redoCells = redo.select("shard", "cell")
        .unionByName(redo.select(col("shard"),
          col("cell2").as("cell")))
        .distinct()
      val remPeers = remaining.select("shard", "cell", "n_id")
        .join(broadcast(redoCells), sc, "left_semi")
        .join(embById, Seq("n_id"))
        .select(col("shard"), col("cell"), col("n_id").as("m_id"),
          col("emb").as("m_emb"))
      val peersL = nuL.fold(remPeers)(n => remPeers.unionByName(
          n.select(col("shard"), col("cell"), col("n_id").as("m_id"),
            col("emb").as("m_emb"))))
        .repartition(head.nodes.sparkSession.sessionState.conf
          .numShufflePartitions)
        .localCheckpoint()
      // explicit join regime (the mergeHnswIndexes note)
      val side =
        if (withinBroadcastBudget(redo, head.cells))
          redo.hint("broadcast")
        else redo
      val redoRows = hnswLayerRows(side, cellsL, l, head.degree,
        head.crossDegree, head.alpha, poolN, Some(peersL), keys = sc,
        projectFrom = Some(redo))
      remaining.join(redo.select("shard", "n_id"), sn, "left_anti")
        .unionByName(redoRows
          .select("shard", "layer", "n_id", "cell", "cell2",
            "neighbors"))
        .select("shard", "layer", "n_id", "cell", "cell2", "neighbors")
    }.reduce(_.unionByName(_)).localCheckpoint()
    shards.zipWithIndex.map { case (s, j) =>
      if (!touchedShards(j)) s
      else s.copy(
        nodes = shardSlice(nodes2U, touchedShards, j),
        adj = shardSlice(adj2U, touchedShards, j))
    }
  }

  /** Merge two layered indexes built INDEPENDENTLY over disjoint id
    * sets with the same frozen codebook and build parameters — the
    * [[mergeGraphIndexes]] recipe at the layered tier, and the verb
    * that makes the 100 TB HNSW build PARALLEL (shard builds run
    * concurrently, appends are sequential). EXACTLY rebuild-equivalent
    * per (layer, n_id) neighbor list (gate n47, the n41 discipline):
    * levels are pure id hash so each shard already assigned the union's
    * levels; per layer, the grids coarsen from the SAME shared
    * codebook, so the only rows whose lists can change are those whose
    * layer-grid home/second cell the other shard also occupies ON THAT
    * LAYER — they re-run the one shared edge rule against the layer's
    * union membership; everything else carries over verbatim. Work per
    * layer ∝ members of co-occupied cells, with geometrically
    * vanishing upper-layer terms; spatial sharding makes the layer-0
    * term boundary-priced (the mergeGraphIndexes scale note).
    */
  def mergeHnswIndexes(a: HnswIndex, b: HnswIndex): HnswIndex = {
    requireMergeCompatible("mergeHnswIndexes", a.cells, b.cells,
      Seq(a.degree, a.crossDegree, a.levelFanout, a.maxLevel, a.alpha,
        hnswPool(a)),
      Seq(b.degree, b.crossDegree, b.levelFanout, b.maxLevel, b.alpha,
        hnswPool(b)))
    requireDisjointIds("mergeHnswIndexes", a.nodes, b.nodes)
    val poolN = hnswPool(a)
    val nodes2 = a.nodes.unionByName(b.nodes).localCheckpoint()
    val embById = nodes2.select(col("n_id"), col("emb"))
    val adj2 = (0 to a.maxLevel).map { l =>
      val cellsL = hnswLayerCells(a.cells, a.levelFanout, l)
      // layer membership, occupancy, and the affected set all come
      // from the STORED adjacency columns (every layer member has an
      // adj row carrying its layer-grid cell/cell2, written by the
      // one shared hnswLayerRows on every path) — corpus geometry is
      // FETCHED, never recomputed, and only for the affected members
      // and the peers of their cells. The per-layer corpus-wide
      // centroid projection this replaces cost more than the build's
      // own edge rule at production nlist (assign is n·nlist·dim vs
      // the edge rule's n·cellsize·dim with cellsize = n/nlist), so
      // the old merge could never beat one-shot wall even at zero
      // co-occupancy; this one is scan-priced + work ∝ affected.
      val aL = a.adj.filter(col("layer") === l)
        .select("n_id", "cell", "cell2", "neighbors")
      val bL = b.adj.filter(col("layer") === l)
        .select("n_id", "cell", "cell2", "neighbors")
      val occA = aL.select("cell").distinct().localCheckpoint()
      val occB = bL.select("cell").distinct().localCheckpoint()
      // cell2 leg skipped at crossDegree = 0 (the flat-merge note)
      def affectedOf(m: DataFrame, occOther: DataFrame) = {
        val home = m.join(broadcast(occOther), Seq("cell"), "left_semi")
        if (a.crossDegree == 0) home
        else home.unionByName(m.join(
          broadcast(occOther.withColumnRenamed("cell", "cell2")),
          Seq("cell2"), "left_semi"))
      }
      // consumed by the redo legs AND the left_anti carry-over join
      val affected = affectedOf(aL, occB).unionByName(affectedOf(bL, occA))
        .dropDuplicates("n_id")
        .select("n_id", "cell", "cell2")
        .localCheckpoint()
      // the edge rule only reads peers of the affected rows' home and
      // second cells — a bounded cell set, so the peer relation (and
      // its embedding fetch) shrinks with the co-occupancy instead of
      // spanning the layer
      val redoCells = affected.select("cell")
        .unionByName(affected.select(col("cell2").as("cell")))
        .distinct()
      // round-robin re-spread before the checkpoint: AQE coalesces the
      // small-OUTPUT n_id join to one partition, and the edge rule's
      // per-partition work is peers-rows × matching side rows — on a
      // skewed layer grid one coalesced partition serializes ~all of
      // the redo's candidate pairs (measured: a 100k-corpus spatial
      // merge spent 115 s in ONE task here; re-spread it is seconds)
      val peersL = aL.unionByName(bL).select("cell", "n_id")
        .join(broadcast(redoCells), Seq("cell"), "left_semi")
        .join(embById, Seq("n_id"))
        .select(col("cell"), col("n_id").as("m_id"),
          col("emb").as("m_emb"))
        .repartition(a.nodes.sparkSession.sessionState.conf
          .numShufflePartitions)
        .localCheckpoint()
      val members = affected.join(embById, Seq("n_id"))
        .select("n_id", "emb", "cell", "cell2")
        .localCheckpoint()
      // the edge-rule join's strategy must be EXPLICIT here: both
      // inputs are checkpointed leaves (no plan statistics), so the
      // planner sort-merges on cell — and a skewed layer grid then
      // serializes the whole redo in the hot cell's partition (the
      // builds never hit this: their member plans keep statistics and
      // broadcast). A bounded affected side broadcasts — the join
      // parallelizes over the re-spread peers regardless of cell
      // skew; past the bound (the random-shard regime, affected ≈
      // corpus) broadcasting would be the non-scalable direction and
      // the shuffle join is the right plan anyway. One count on a
      // checkpointed leaf prices the choice.
      val side =
        if (withinBroadcastBudget(members, a.cells))
          members.hint("broadcast")
        else members
      val redoRows = hnswLayerRows(side, cellsL, l, a.degree,
        a.crossDegree, a.alpha, poolN, Some(peersL),
        projectFrom = Some(members))
      aL.unionByName(bL)
        .join(affected.select("n_id"), Seq("n_id"), "left_anti")
        .select(lit(l).as("layer"), col("n_id"), col("cell"),
          col("cell2"), col("neighbors"))
        .unionByName(redoRows)
        .select("layer", "n_id", "cell", "cell2", "neighbors")
    }.reduce(_.unionByName(_)).localCheckpoint()
    a.copy(nodes = nodes2, adj = adj2)
  }

  /** [[compactGraphIndex]] at the layered tier: rebuild from the
    * stored floats with cells frozen (or re-trained via `centroids`),
    * collapsing the append/delete lineage into the from-scratch
    * layout. Content equality with the incremental index is exact
    * (levels are pure hash, the verbs are rebuild-equivalent); gate
    * n48 pins it against the surviving-corpus build.
    */
  def compactHnswIndex(index: HnswIndex,
                       centroids: Option[Array[Array[Double]]] = None)
      : HnswIndex = {
    val cells = centroids.getOrElse(index.cells)
    buildHnswIndex(
      index.nodes.select(col("n_id").as("vec_id"),
        col("emb").as("embedding")),
      nlist = cells.length, degree = index.degree,
      crossDegree = index.crossDegree, levelFanout = index.levelFanout,
      maxLevel = index.maxLevel, centroids = Some(cells),
      alpha = index.alpha, poolSize = index.poolSize)
  }

  /** Layered-index health report — the n26 re-train/rebalance trigger
    * for the HNSW tier: per layer, member count, cell usage, and the
    * out-degree envelope, all from ONE aggregate over the adjacency
    * table (embeddings never read). The numbers to watch under the
    * grow-by-append lifecycle: layer sizes drifting off the M^-ℓ
    * geometric ladder mean the id space stopped hashing uniformly
    * (adversarial or sequential-burst ids), and avg_degree sagging
    * toward 0 on an upper layer means the coarsened grid left members
    * stranded in singleton cells — both are rebuild triggers.
    */
  def hnswIndexStats(index: HnswIndex): DataFrame =
    index.adj.groupBy("layer").agg(
        count(lit(1)).as("n_members"),
        count_distinct(col("cell")).as("n_cells_used"),
        min(size(col("neighbors"))).as("min_degree"),
        max(size(col("neighbors"))).as("max_degree"),
        avg(size(col("neighbors"))).as("avg_degree"))
      .orderBy("layer")
}
