package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force cosine top-k is the exact baseline (query-set broadcast
  * against a partitioned corpus — embarrassingly parallel, no shuffle
  * until the final per-query top-k). The LSH variant is the 100 TB
  * path: sign-random-projection buckets turn all-pairs into per-bucket
  * joins.
  */
object Similarity {

  /** Cosine similarity of two array<float/double> columns, computed in
    * double. Composable `functions._` form (zip_with/aggregate) — kept
    * as the reference implementation; the hot paths below use the fused
    * custom expression.
    */
  def cosineComposable(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), _ + _)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Fused single-loop codegen'd cosine (graft.functions.CosineSimilarity):
    * no intermediate array, one pass for dot + both norms.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSimilarity(a, b)

  /** Exact top-k neighbors for each query vector by brute force.
    * The query side should be small (it is broadcast); the corpus side
    * scans in parallel. Ties broken by neighbor id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Asymmetric scalar-quantized exhaustive top-k (the FAISS
    * `SQ8,Flat` shape): the corpus is held as 1-byte-per-dim codes
    * against the trained per-dim grid ([[Embeddings.sq8Fit]]) and
    * decodes on the fly inside the distance expression; queries stay
    * float. Storage is 4× under float32 while the scan stays one
    * codegen projection — the middle rung between Flat (n01) and PQ
    * (n08) on the memory/recall ladder. Composes with every retrieval
    * shape here the same way this function does: substitute
    * `sq8Roundtrip(embedding)` for the corpus embedding (e.g. pass
    * that corpus to [[ivfTopK]] for `IVF,SQ8`).
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              model: Embeddings.Sq8Model): DataFrame =
    bruteForceTopK(queries,
      corpus.select(col("vec_id"),
        Embeddings.sq8Roundtrip(col("embedding"), model).as("embedding")), k)

  /** Deterministic random hyperplanes for sign-LSH. */
  private def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(r.nextGaussian())
  }

  /** Sign-random-projection bucket id (0 .. 2^nPlanes-1).
    *
    * Each projection is a `zip_with`+`aggregate` dot product against a
    * constant array literal — a flat, linear expression. (A naive
    * per-dimension `element_at` sum builds an nPlanes×dim-term nested
    * tree that takes Janino tens of seconds to compile.)
    */
  def lshBucket(emb: Column, nPlanes: Int, dim: Int, seed: Long = 7L): Column = {
    val planes = hyperplanes(nPlanes, dim, seed)
    planes.zipWithIndex.map { case (p, i) =>
      val proj = aggregate(
        zip_with(emb, typedLit(p.toSeq), (x, w) => x.cast("double") * w),
        lit(0.0), _ + _)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** DuckDB SQL expression computing the same sign-LSH bucket as
    * [[lshBucket]] over a list column, with the hyperplane constants
    * inlined as double literals (Double.toString round-trips exactly,
    * so both engines see bit-identical planes). Used to build
    * cross-engine oracles for the LSH-bucketed operators: the oracle
    * can then reproduce candidate generation, not just re-count rows.
    */
  def lshBucketSql(embCol: String, nPlanes: Int = 8, dim: Int = 64,
                   seed: Long = 7L): String = {
    val planes = hyperplanes(nPlanes, dim, seed)
    planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($embCol, $lst) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Approximate top-k: queries only compare against corpus vectors in
    * the same sign-LSH bucket (IVF-style coarse quantization with
    * hash-derived centroids). Recall < 1; the scale path — the join key
    * is the bucket id, so work is per-bucket, not all-pairs.
    *
    * @param tables LSH amplification: number of independent hash tables
    *               (per-table hyperplanes seeded 7L+t). A pair is a
    *               candidate if it collides in ANY table — per-pair
    *               recall 1-(1-p^nPlanes)^tables for bit-agreement
    *               probability p — at the cost of `tables`× bucket rows
    *               and a candidate dedup. tables=1 keeps the lean
    *               single-join plan (and the n02 oracle's semantics).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 8, dim: Int = 64, tables: Int = 1): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val (q, c) =
      if (tables == 1) (
        queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          lshBucket(col("embedding"), nPlanes, dim).as("bucket")),
        corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          lshBucket(col("embedding"), nPlanes, dim).as("bucket")))
      else {
        def buckets(emb: Column): Column =
          array((0 until tables).map(t =>
            lshBucket(emb, nPlanes, dim, seed = 7L + t)): _*)
        (queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          posexplode(buckets(col("embedding"))).as(Seq("tbl", "bucket")))
          .withColumn("bucket", concat_ws(":", col("tbl"), col("bucket")))
          .drop("tbl"),
         corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
           posexplode(buckets(col("embedding"))).as(Seq("tbl", "bucket")))
           .withColumn("bucket", concat_ws(":", col("tbl"), col("bucket")))
           .drop("tbl"))
      }
    val cand = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("n_id"))
    val deduped =
      if (tables == 1) cand
      else cand.dropDuplicates("q_id", "n_id")
    deduped
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** First `nlist` corpus vectors as a driver-side codebook — the
    * deterministic "training" scheme the cross-engine oracles replay
    * (an external engine can re-derive it from the table itself).
    * Bounded: nlist rows through a TakeOrderedAndProject.
    */
  def firstVectors(corpus: DataFrame, nlist: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.Row
    corpus.orderBy("vec_id").limit(nlist).select("embedding").collect()
      .map { case Row(e: scala.collection.Seq[_]) =>
        e.map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case other => other.asInstanceOf[Number].doubleValue()
        }.toArray }
  }

  /** Cell→shard map for spatial sharding: contiguous 1-based-cell-id
    * ranges of the frozen codebook, cut greedily so each shard carries
    * ~|corpus|/nShards members (occupancy-weighted, so a skewed
    * codebook still balances the build jobs). Contiguity is the whole
    * point — the merge verbs' work is the members of CO-OCCUPIED
    * cells, and contiguous ranges confine co-occupancy to probe
    * spillover at the range boundaries, which is what makes a sharded
    * merge boundary-priced instead of full-corpus-priced (the in-verb
    * scale note at [[GraphAnn.mergeGraphIndexes]]). Fully
    * deterministic given (corpus, cells, nShards): the only data read
    * is the per-cell occupancy histogram (one bounded aggregate —
    * nlist rows to the driver, the codebook discipline). Every shard
    * gets at least one cell; a shard can still be EMPTY if its cells
    * are (legal — the merge verbs accept empty shards).
    */
  def shardCellMap(corpus: DataFrame, cells: Array[Array[Double]],
                   nShards: Int): Array[Int] = {
    val counts = new Array[Long](cells.length)
    corpus
      .select(graft.functions.Centroids
        .centroidAssign(col("embedding"), cells).as("cell"))
      .groupBy("cell").count().collect()
      .foreach(r => counts(r.getInt(0) - 1) = r.getLong(1))
    cellMapFromCounts(counts, nShards)
  }

  /** [[shardCellMap]] for a LIVE deployment: the occupancy histogram
    * comes from the shards' own stored `cell` columns (`members` =
    * one (cell) relation per shard — `nodes` for the graph tiers,
    * `codes` for IVF-PQ), so a drift re-cut never reads the corpus:
    * ONE nlist-bounded aggregate over state, then the same greedy
    * contiguous cut. Because every indexed row's stored cell IS its
    * codebook assignment, this returns exactly [[shardCellMap]] of
    * the corpus the deployment currently indexes — the nightly re-cut
    * loop (occupancy → new map → [[GraphAnn.rebalanceGraphShards]])
    * runs entirely off index state (gate n63).
    */
  def shardCellMapFromState(members: Seq[DataFrame], nlist: Int,
                            nShards: Int): Array[Int] = {
    require(members.nonEmpty, "shardCellMapFromState: no shards")
    val counts = new Array[Long](nlist)
    members.map(_.select(col("cell")))
      .reduce(_.unionByName(_))
      .groupBy("cell").count().collect()
      .foreach { r =>
        val c = r.getInt(0)
        require(c >= 1 && c <= nlist,
          s"shardCellMapFromState: state names cell $c outside " +
            s"[1, $nlist] — wrong codebook for this deployment?")
        counts(c - 1) = r.getLong(1)
      }
    cellMapFromCounts(counts, nShards)
  }

  /** The one greedy contiguous occupancy cut behind both map builders:
    * walk the codebook in order, advancing to the next shard when the
    * running shard reached its pro-rata member share (or when the
    * remaining cells are only just enough to hand each remaining
    * shard one). Deterministic in the counts alone.
    */
  private[ops] def cellMapFromCounts(counts: Array[Long],
                                     nShards: Int): Array[Int] = {
    require(nShards >= 1 && nShards <= counts.length,
      s"nShards ($nShards) must be in [1, nlist=${counts.length}]")
    val total = counts.sum
    val map = new Array[Int](counts.length)
    var shard = 0
    var cum = 0L
    for (c <- counts.indices) {
      map(c) = shard
      cum += counts(c)
      val cellsLeft = counts.length - c - 1
      val shardsLeft = nShards - 1 - shard
      if (shard < nShards - 1 &&
          (cum * nShards >= (shard + 1).toLong * total ||
            cellsLeft <= shardsLeft))
        shard += 1
    }
    map
  }

  /** Assign each corpus row to a build shard by [[shardCellMap]]'s
    * contiguous cell ranges: one codegen projection (assign + a
    * 1-based literal-array lookup, nlist-bounded like the codebook
    * itself), no shuffle, no join. The returned frame is the input
    * plus a `shard` column in [0, nShards) — feed each slice to an
    * independent build job and stitch with the family's merge verb.
    */
  def shardByCells(corpus: DataFrame, cells: Array[Array[Double]],
                   nShards: Int): DataFrame =
    routeByCellMap(corpus, cells,
      shardCellMap(corpus, cells, nShards), nShards)

  /** THE routing projection every sharded verb shares (fresh cuts,
    * rebalance movers, routed appends): attach each row's shard under
    * a FROZEN cell→shard map — one codegen projection (assign + a
    * 1-based literal-array lookup), no shuffle, no join. Appends to a
    * live sharded deployment must route with the DEPLOYMENT's map, not
    * a re-cut from the batch (a batch-derived map would scatter
    * arrivals across shard boundaries the serving layout has already
    * frozen).
    */
  def routeByCellMap(batch: DataFrame, cells: Array[Array[Double]],
                     cellMap: Array[Int], nShards: Int): DataFrame = {
    IndexIo.requireCellMap("routeByCellMap", "cellMap", cellMap,
      cells.length, nShards)
    batch.withColumn("shard", element_at(lit(cellMap),
      graft.functions.Centroids.centroidAssign(col("embedding"), cells)))
  }

  /** IVF (inverted-file) approximate top-k: a centroid set partitions
    * the corpus into nlist cells; each query probes its nprobe nearest
    * cells and ranks only those candidates.
    *
    * Scale shape: centroid assignment is ONE codegen expression per row
    * against a broadcast codebook reference ([[graft.functions
    * .CentroidAssign]] — no shuffle, no nlist-wide expression tree, so
    * real list counts (256…10⁴) plan and compile like nlist=16); the
    * candidate join is keyed on the cell id, so work is per-cell, not
    * all-pairs — the IVF analog of the sign-LSH path with a
    * data-adaptive partition.
    *
    * @param centroids trained codebook ([[KMeans.trainCentroids]] — the
    *                  production path). None = deterministic
    *                  first-nlist-vectors scheme, which the n03 DuckDB
    *                  oracle replays.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cb = centroids.getOrElse(firstVectors(corpus, nlist))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      graft.functions.Centroids.centroidAssign(col("embedding"), cb).as("cell"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(graft.functions.Centroids
          .centroidProbes(col("embedding"), cb, nprobe)).as("cell"))
    q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Hierarchical (two-level) IVF top-k — the composition that carries
    * IVF past the single-codebook ceiling: a coarse codebook routes each
    * vector to one of nCoarse cells, an independent fine codebook per
    * coarse cell splits it further, and the GLOBAL fine cell is the join
    * key. Per-row assignment is ONE codegen expression costing
    * O((nCoarse + nFine)·dim) — 256×256 = 65536 virtual lists price like
    * 512 cosines, and the codebook reference objects stay
    * per-coarse-cell sized. Probing mirrors FAISS IVF: the query visits
    * `nprobe` fine cells drawn from its `nprobeCoarse` nearest coarse
    * cells.
    *
    * @param codebook trained two-level codebook
    *                 ([[KMeans.trainHierarchical]])
    */
  def ivfTopKHier(queries: DataFrame, corpus: DataFrame, k: Int,
                  codebook: (Array[Array[Double]], Array[Array[Array[Double]]]),
                  nprobeCoarse: Int = 4, nprobe: Int = 16): DataFrame = {
    val (coarse, fine) = codebook
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      graft.functions.Centroids.hierarchicalAssign(col("embedding"), coarse, fine)
        .as("cell"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      explode(graft.functions.Centroids.hierarchicalProbes(col("embedding"),
        coarse, fine, nprobeCoarse, nprobe)).as("cell"))
    q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Product-quantization ADC top-k: corpus vectors compress to m
    * byte-codes (16× smaller than float32 at the defaults); queries
    * rank candidates by asymmetric distance (query subvector vs the
    * centroid each code names) without ever touching the original
    * corpus floats.
    *
    * Scale shape: encoding and ADC are single-pass expressions against
    * a broadcast codebook reference (no shuffle); ranking is the same
    * per-query window as every other ANN path. This is the exhaustive
    * compressed scan (FAISS IndexPQ shape): every query still visits
    * every CODE, but codes are 16× smaller than the floats, and at
    * scale you compose it with [[ivfTopK]]'s cells so only probed
    * cells' codes are scanned.
    *
    * @param codebook trained sub-codebooks ([[KMeans.trainPqCodebook]] —
    *                 the production path). None = the deterministic
    *                 scheme the n05 recall gate uses (subvectors of the
    *                 first ks corpus vectors).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, ks: Int = 16, dim: Int = 64,
             codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cb = codebook.getOrElse(defaultPqCodebook(corpus, m, ks, sub))
    val c = corpus.select(col("vec_id").as("n_id"),
      graft.functions.PqColumns.pqEncode(col("embedding"), cb, sub)
        .as("codes"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.functions.PqColumns.pqAdc(
        col("q_emb"), col("codes"), cb, sub))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "adc")
  }

  /** Deterministic seed PQ codebook (subvectors of the first ks corpus
    * vectors) — the scheme the n05 recall gate replays.
    */
  private[ops] def defaultPqCodebook(corpus: DataFrame, m: Int, ks: Int,
                                     sub: Int): Array[Array[Double]] = {
    val seeds = firstVectors(corpus, ks)
    // codebook[j] = flattened ks centroids for subspace j
    Array.tabulate(m)(j => seeds.flatMap(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** IVF+PQ (the FAISS IVFPQ shape): corpus vectors carry a cell id
    * (CentroidAssign) AND a compressed PQ code; a query probes its
    * nprobe nearest cells and ADC-ranks only those cells' CODES. The
    * two compressions compound: candidate count drops by
    * ~nprobe/nlist and each candidate is 16× smaller than its floats —
    * at 100 TB this is the difference between scanning the corpus and
    * scanning a few-GB slice of byte codes. Probing every cell makes
    * it exactly [[pqTopK]] (gate n08); partial probes trade recall for
    * the cell cut, exactly as [[ivfTopK]] does over raw vectors.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ks: Int = 16, dim: Int = 64,
                centroids: Option[Array[Array[Double]]] = None,
                codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cellCb = centroids.getOrElse(firstVectors(corpus, nlist))
    val cb = codebook.getOrElse(defaultPqCodebook(corpus, m, ks, sub))
    val c = corpus.select(col("vec_id").as("n_id"),
      graft.functions.Centroids.centroidAssign(col("embedding"), cellCb)
        .as("cell"),
      graft.functions.PqColumns.pqEncode(col("embedding"), cb, sub)
        .as("codes"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      explode(graft.functions.Centroids.centroidProbes(col("embedding"),
        cellCb, nprobe)).as("cell"))
    q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.functions.PqColumns.pqAdc(
        col("q_emb"), col("codes"), cb, sub))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "adc")
  }

  /** Deterministic seed codebook for RESIDUAL PQ: the residuals of the
    * first ks corpus vectors against their assigned cells under
    * `cellCb`, subspace-sliced — the n05 default-codebook scheme
    * carried to residual space, so the n13 gate replays it exactly.
    */
  private def defaultResidualPqCodebook(corpus: DataFrame, m: Int, ks: Int,
      sub: Int, cellCb: Array[Array[Double]]): Array[Array[Double]] = {
    val seeds = firstVectors(corpus, ks)
    val res = seeds.map { v =>
      val cell = graft.functions.Centroids.assign(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        isFloat = false, cellCb) - 1
      val c = cellCb(cell)
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    Array.tabulate(m)(j => res.flatMap(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** Exhaustive RESIDUAL-PQ scan — the correctness baseline for
    * [[ivfPqResidualTopK]] (its probe-all case must reproduce this
    * row-for-row, gate n13). Every corpus row is coded as the PQ of its
    * residual against its assigned cell; the ADC compares the QUERY's
    * residual against the SAME cell, so the shared centroid cancels —
    * this is FAISS's IVFPQ-with-residual identity. All-pairs by
    * construction (gate baseline only; production = ivfPqResidualTopK).
    */
  def pqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     nlist: Int = 16, m: Int = 8, ks: Int = 16, dim: Int = 64,
                     centroids: Option[Array[Array[Double]]] = None,
                     codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cellCb = centroids.getOrElse(firstVectors(corpus, nlist))
    val cb = codebook.getOrElse(
      defaultResidualPqCodebook(corpus, m, ks, sub, cellCb))
    import graft.functions.{Centroids => C, PqColumns => P}
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding"),
      C.centroidAssign(col("embedding"), cellCb).as("cell"))
      .withColumn("codes", P.pqEncode(
        C.centroidResidual(col("embedding"), col("cell"), cellCb), cb, sub))
      .drop("embedding")
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", P.pqAdc(
        C.centroidResidual(col("q_emb"), col("cell"), cellCb),
        col("codes"), cb, sub))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "adc")
  }

  /** IVF+PQ with RESIDUAL encoding — the production FAISS IVFPQ: codes
    * quantize (emb − centroid[cell]) instead of the raw vector, so the
    * ks sub-centroids only need to span the within-cell spread rather
    * than the whole space (the quantization-error win that makes
    * byte-sized codes usable at 100 TB). Corpus side: ONE
    * CentroidAssign + ONE CentroidResidual + ONE PqEncode, all in the
    * scan's codegen stage. Query side: per probed cell the query's
    * residual against THAT cell (the candidate's cell is the join key,
    * so both sides subtract the same centroid and it cancels in the
    * distance). Probe-all must equal [[pqResidualTopK]] exactly.
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        nlist: Int = 16, nprobe: Int = 4,
                        m: Int = 8, ks: Int = 16, dim: Int = 64,
                        centroids: Option[Array[Array[Double]]] = None,
                        codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cellCb = centroids.getOrElse(firstVectors(corpus, nlist))
    val cb = codebook.getOrElse(
      defaultResidualPqCodebook(corpus, m, ks, sub, cellCb))
    import graft.functions.{Centroids => C, PqColumns => P}
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding"),
      C.centroidAssign(col("embedding"), cellCb).as("cell"))
      .withColumn("codes", P.pqEncode(
        C.centroidResidual(col("embedding"), col("cell"), cellCb), cb, sub))
      .drop("embedding")
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      explode(C.centroidProbes(col("embedding"), cellCb, nprobe)).as("cell"))
    q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", P.pqAdc(
        C.centroidResidual(col("q_emb"), col("cell"), cellCb),
        col("codes"), cb, sub))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "adc")
  }

  /** Rotate an embedding table into a [[graft.ops.Embeddings.PcaModel]]'s
    * full-rank basis, keeping the column name/contract (`embedding`,
    * now array<double>) so every PQ/IVF operator composes unchanged.
    */
  def rotateToBasis(df: DataFrame, model: Embeddings.PcaModel): DataFrame =
    Embeddings.pcaProject(df, "embedding", model)
      .drop("embedding").withColumnRenamed("pca_vec", "embedding")

  /** Rotated PQ (OPQ-lite — the FAISS `PCAR,PQ` preprocessing chain):
    * both sides project through the model's basis (one codegen node
    * each; distance-preserving when the basis is full-rank
    * orthonormal, e02's identity), then PQ trains/encodes in the
    * rotated space. With [[graft.ops.Embeddings.pcaFitBalanced]] the
    * basis is PCA composed with a balancing rotation, so each PQ
    * subspace block receives an equal share of the spectrum — PQ's
    * distortion is Σ_j (det Σ_j)^(1/sub) over blocks, which plain
    * anisotropic coordinates allocate maximally badly. Full OPQ
    * iterates the rotation against the codebooks; the balanced PCA
    * rotation is its standard initialization. Error cut pinned by
    * OpqSpec.
    */
  def rotatedPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    model: Embeddings.PcaModel,
                    m: Int = 8, ks: Int = 16, dim: Int = 64,
                    codebook: Option[Array[Array[Double]]] = None): DataFrame =
    pqTopK(rotateToBasis(queries, model), rotateToBasis(corpus, model),
      k, m, ks, dim, codebook)

  /** Two-stage retrieval — the standard production ANN shape: a cheap
    * compressed first stage ([[ivfPqTopK]]) over-fetches
    * `candidateK` ≫ k candidates per query, then ONLY those candidates'
    * raw vectors are fetched (one hash join on n_id) and re-ranked by
    * exact cosine. At 100 TB the full-precision corpus is touched for
    * ~candidateK rows per query instead of scanned; recall is governed
    * by candidateK/nprobe, exactness of the final order by the re-rank.
    * With the first stage probing everything and candidateK ≥ corpus,
    * this IS brute force (gate n09).
    */
  def twoStageTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   candidateK: Int = 100,
                   nlist: Int = 16, nprobe: Int = 4,
                   m: Int = 8, ks: Int = 16, dim: Int = 64,
                   centroids: Option[Array[Array[Double]]] = None,
                   codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    require(candidateK >= k, s"candidateK ($candidateK) must be >= k ($k)")
    val cands = ivfPqTopK(queries, corpus, candidateK, nlist, nprobe,
        m, ks, dim, centroids, codebook)
      .select(col("q_id"), col("n_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    cands.join(q, Seq("q_id")).join(c, Seq("n_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Cluster purity — the label-aware quality check for the centroid
    * machinery (k-means cells, IVF lists, SemDeDup clusters): per cell,
    * the fraction of members carrying the cell's majority label
    * (majority ties to the smaller label). Low purity = cells that cut
    * across semantic labels — the signal to retrain or raise nlist.
    * One assignment projection + one groupBy; exact integer counts so
    * the fraction is a single replayable division.
    */
  def clusterPurity(vecs: DataFrame, centroids: Array[Array[Double]],
                    labelCol: String = "label"): DataFrame = {
    val cells = vecs.select(col(labelCol).as("__lbl"),
      graft.functions.Centroids.centroidAssign(col("embedding"), centroids)
        .as("cell"))
    val counts = cells.groupBy("cell", "__lbl").agg(count(lit(1)).as("n"))
    val top = counts.withColumn("__rn", row_number().over(
        Window.partitionBy("cell").orderBy(col("n").desc, col("__lbl"))))
      .filter(col("__rn") === 1)
      .select(col("cell"), col("__lbl").as("majority_label"),
        col("n").as("majority_n"))
    val sizes = counts.groupBy("cell").agg(sum("n").as("n_members"))
    top.join(sizes, Seq("cell"))
      .select(col("cell"), col("n_members"), col("majority_label"),
        (col("majority_n").cast("double") / col("n_members")).as("purity"))
  }

  /** Recall@k of an approximate neighbor result against the exact one:
    * per query, |approx ∩ exact| / |exact| over the (q_id, n_id) pairs —
    * the standard ANN evaluation loop ([[ivfTopK]]/[[pqTopK]]/
    * [[twoStageTopK]] output vs [[bruteForceTopK]]).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = exact.select("q_id", "n_id")
      .join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** Hard-negative mining (the DPR/contrastive-training loop): for each
    * query, the `m` HIGHEST-scoring corpus items that are NOT judged
    * positive — the negatives that actually move a bi-encoder, as
    * opposed to random negatives the model already separates.
    *
    * `retriever` plugs in any (queries, corpus, k) => ranked generator
    * (brute force for gates, [[queryIvfPqIndexAgg]] at scale). It is
    * asked for m + maxPositives candidates so the anti-join against
    * the judgments cannot starve the output; the final re-rank keeps
    * the top m survivors per query (deterministic: rank order is the
    * retriever's own). One bounded anti-join + one bounded window —
    * both over top-k-sized relations, never the corpus.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    positives: DataFrame, m: Int, maxPositives: Int,
                    retriever: (DataFrame, DataFrame, Int) => DataFrame =
                      (q, c, k) => bruteForceTopK(q, c, k)): DataFrame = {
    val ranked = retriever(queries, corpus, m + maxPositives)
      .select(col("q_id"), col("n_id"), col("rank"))
    ranked.join(positives.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rank"))))
      .filter(col("neg_rank") <= m)
      .select("q_id", "n_id", "neg_rank")
  }

  /** Graded retrieval-quality metrics — the IR evaluation loop for the
    * whole n-tier: per query, recall@k / MRR@k / nDCG@k of a ranked
    * result list against a relevance-judgment table.
    *
    * `ranked` is (q_id, n_id, rank) from ANY retrieval operator —
    * brute force, IVF+PQ, BM25, RRF fusion; `qrels` is (q_id, n_id,
    * rel) with graded relevance ≥ 0. Definitions (trec_eval
    * conventions): recall@k counts rel>0 results in the top k over all
    * rel>0 judgments; MRR is 1/rank of the first rel>0 result (0 when
    * none retrieved); nDCG@k uses DCG = Σ rel/log2(rank+1) with the
    * ideal ranking by rel desc. Queries with judgments but no results
    * score 0 (never dropped — silent query loss is the classic eval
    * bug). Scale shape: two bounded joins on (q_id, n_id) — both
    * sides are top-k-bounded per query — and one aggregate; the
    * corpus is never touched.
    */
  def retrievalMetrics(ranked: DataFrame, qrels: DataFrame,
                       k: Int): DataFrame = {
    val r = ranked.filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
    val judged = qrels.select(col("q_id"), col("n_id"),
      col("rel").cast("double"))
    val hits = r.join(judged, Seq("q_id", "n_id"))
    val perQ = hits.groupBy("q_id").agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_ret"),
      max(when(col("rel") > 0, lit(1.0) / col("rank"))
        .otherwise(lit(0.0))).as("mrr"),
      sum(col("rel") / log2(col("rank") + 1)).as("dcg"))
    val ideal = judged.filter(col("rel") > 0)
      .withColumn("irank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rel").desc, col("n_id"))))
      .groupBy("q_id").agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("irank") <= k, col("rel") / log2(col("irank") + 1))
          .otherwise(lit(0.0))).as("idcg"))
    ideal.join(perQ, Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel"),
        coalesce(col("n_rel_ret"), lit(0L)).as("n_rel_ret"),
        (coalesce(col("n_rel_ret"), lit(0L)).cast("double") / col("n_rel"))
          .as("recall"),
        coalesce(col("mrr"), lit(0.0)).as("mrr"),
        (coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg"))
  }

  /** Aggregate-form index serving: the same probe + ADC candidates as
    * [[queryIvfPqIndex]], but the per-query top-k comes from the
    * bounded-heap [[graft.functions.TopKAggregate]] instead of a
    * row_number window. Two consequences:
    *  - scale: the window form SORTS every probed candidate per query;
    *    the heap keeps k and discards the rest map-side, so the shuffle
    *    carries ≤ k pairs per (query, task) — the right batch-serving
    *    shape when nprobe × cell size ≫ k;
    *  - streaming: windows over unbounded streams are unsupported, an
    *    aggregate is — so THIS form serves a readStream of queries
    *    against a static (loaded) index via a stream-static join
    *    (StreamingAnnServeSpec).
    * Identical results to the window form (gate n24): the heap's
    * tie-break (highest score, then lowest id) mirrors ORDER BY adc
    * ASC, n_id ASC under score = −adc.
    */
  def queryIvfPqIndexAgg(queries: DataFrame, index: IvfPqIndex, k: Int,
                         nprobe: Int = 4): DataFrame = {
    val sub = index.dim / index.m
    import graft.functions.{Centroids => C, PqColumns => P}
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      explode(C.centroidProbes(col("embedding"), index.cells, nprobe))
        .as("cell"))
    q.join(index.codes, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", P.pqAdc(
        C.centroidResidual(col("q_emb"), col("cell"), index.cells),
        col("codes"), index.codebook, sub))
      .groupBy("q_id")
      .agg(graft.functions.TopK.topK(-col("adc"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("col.score")).as("adc"))
  }

  /** k-NN label propagation (weak labeling): each query takes the
    * majority label of its k nearest labeled neighbors — the standard
    * way a small labeled seed set annotates an unlabeled corpus in a
    * training-data pipeline. Vote ties break to the smaller label
    * (deterministic, engine-replayable).
    *
    * `neighbors` plugs in ANY candidate generator producing
    * (q_id, n_id) — [[ivfTopK]], [[twoStageTopK]], … — which is how
    * this scales: exact k-NN for gate-sized sets, ANN neighbors at
    * 100 TB. Default = exact [[bruteForceTopK]].
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int,
                  labelCol: String = "label",
                  neighbors: Option[DataFrame] = None): DataFrame = {
    val nn = neighbors.getOrElse(bruteForceTopK(queries, corpus, k))
      .select("q_id", "n_id")
    nn.join(corpus.select(col("vec_id").as("n_id"),
        col(labelCol).as("__lbl")), Seq("n_id"))
      .groupBy("q_id", "__lbl").agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("votes").desc, col("__lbl"))))
      .filter(col("__rn") === 1)
      .select(col("q_id"), col("__lbl").as("predicted_label"), col("votes"))
  }

  /** SemDeDup-style semantic deduplication: cluster embeddings into
    * `nlist` cells (nearest-centroid assignment), then drop every vector
    * that has a SMALLER-id neighbor in the same cell with cosine
    * similarity at or above `threshold`. Returns the kept rows as
    * `(vec_id, cell)`.
    *
    * This is the two-level shape of Abbas et al.'s SemDeDup (k-means
    * then within-cluster pairwise cosine): the pairwise comparison is
    * confined to a cell, so work is sum of per-cell squares, never the
    * corpus-wide all-pairs join. Cell assignment is ONE codegen
    * expression per row against a broadcast codebook reference
    * ([[graft.functions.CentroidAssign]] — no shuffle, no nlist-wide
    * expression tree); the within-cell self-join shuffles once on the
    * cell id.
    *
    * The keep rule (survives unless a smaller-id in-cell near-duplicate
    * exists) is deliberately non-transitive — it keeps the earliest
    * member of every near-dup chain and drops direct neighbors only,
    * matching the "keep one exemplar per ~duplicate group" intent while
    * staying order- and layout-independent.
    *
    * @param centroids trained codebook ([[KMeans.trainCentroids]] — the
    *                  production path; real SemDeDup wants nlist in the
    *                  10⁴-10⁵ range). None = deterministic
    *                  first-nlist-vectors scheme, which the d11 DuckDB
    *                  oracle replays (argmax cosine, first-max
    *                  tie-break).
    */
  def semDedup(vecs: DataFrame, threshold: Double, nlist: Int = 16,
               centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cb = centroids.getOrElse(firstVectors(vecs, nlist))
    semDedupByCell(vecs, threshold,
      graft.functions.Centroids.centroidAssign(col("embedding"), cb))
  }

  /** SemDeDup at REAL cluster counts: same cell-confined pairwise drop,
    * cells assigned by the two-level codebook ([[KMeans
    * .trainHierarchical]]) — 256×256 = 65536 cells at 512-cosine
    * per-row assignment cost, which is the nlist range the SemDeDup
    * paper actually uses on web corpora.
    */
  def semDedupHier(vecs: DataFrame, threshold: Double,
                   codebook: (Array[Array[Double]], Array[Array[Array[Double]]]))
      : DataFrame =
    semDedupByCell(vecs, threshold, graft.functions.Centroids
      .hierarchicalAssign(col("embedding"), codebook._1, codebook._2))

  private def semDedupByCell(vecs: DataFrame, threshold: Double,
                             cell: org.apache.spark.sql.Column): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"), cell.as("cell"))
    val a = v.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val dropped = a.join(
        v.select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("emb_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    v.join(dropped, Seq("vec_id"), "left_anti").select("vec_id", "cell")
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets. */
  /** SEMANTIC cross-corpus contamination — embedding near-matches of
    * training vectors against an eval benchmark's vectors, the
    * similarity-space sibling of [[Curation.fuzzyContamination]]'s
    * lexical MinHash pass (paraphrased benchmark items that share no
    * shingles still land in the same embedding neighborhood; cutting
    * both is the standard two-channel decontamination sweep).
    *
    * Same asymmetric discipline as the lexical pass: both sides bucket
    * with the shared sign-LSH projection, but only the eval side
    * (tiny) broadcasts — the train stream joins map-side, so no train
    * row shuffles and no train×train pair is enumerated; candidates
    * pay one fused-codegen cosine each.
    */
  def semanticContamination(train: DataFrame, eval: DataFrame,
                            threshold: Double, nPlanes: Int = 8,
                            dim: Int = 64): DataFrame = {
    def side(df: DataFrame, name: String) =
      df.select(col("vec_id").as(s"${name}_id"),
        col("embedding").as(s"__${name}_emb"),
        lshBucket(col("embedding"), nPlanes, dim).as("bucket"))
    side(train, "train")
      .join(broadcast(side(eval, "eval")), Seq("bucket"))
      .withColumn("sim", cosine(col("__train_emb"), col("__eval_emb")))
      .filter(col("sim") >= threshold)
      .select("train_id", "eval_id", "sim")
  }

  def cosineNearDups(vecs: DataFrame, threshold: Double,
                     nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), nPlanes, dim).as("bucket"))
    val a = v.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = v.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    * of N retrieval channels — the standard hybrid-search combiner
    * (lexical BM25 + embedding ANN in production RAG stacks). Each
    * channel contributes 1/(c + rank) per (query, doc); docs surfaced
    * by several channels accumulate, docs missing from a channel
    * simply contribute nothing — no score normalization across
    * channels is needed, which is exactly why RRF won over weighted
    * score sums for heterogeneous scorers.
    *
    * Scale shape: each input channel is already cut to its own top-k,
    * so the fused relation is ≤ |Q|·k·channels rows — one groupBy
    * (map-side combined) plus one bounded per-query window, regardless
    * of corpus size. Determinism: the per-pair sum has one term per
    * channel and float addition is commutative, so the fused score is
    * bit-identical under any execution order; ties rank by doc id.
    *
    * @param channels (query_id, doc_id, rank) relations, each already
    *                 top-k per query.
    */
  def rrfFuse(channels: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(channels.nonEmpty, "rrfFuse needs at least one channel")
    val tagged = channels.map(_.select(col("query_id"), col("doc_id"),
      col("rank")))
    tagged.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(sum(lit(1.0) / (lit(c.toDouble) + col("rank"))).as("rrf"),
        count(lit(1)).as("n_channels"))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("fused_rank") <= k)
  }

  /** Binary sign code of an embedding, packed 32 dims per long word
    * (bit b of word w set iff embedding[32w+b] > 0) — the FAISS
    * `BinaryFlat`/binary-prefilter representation: 64 float dims
    * become 8 bytes, and distance becomes popcount(xor), a handful of
    * ALU ops. 32-bit words rather than 64 keep every shift ≤ 31, so
    * the identical expression replays in engines whose BIGINT shift
    * rejects bit 63 (DuckDB), and the array form scales to any dim.
    */
  def signWords(emb: Column, dim: Int = 64): Column = {
    val nWords = (dim + 31) / 32
    val words = (0 until nWords).map { wi =>
      (0 until 32).filter(bi => wi * 32 + bi < dim).map { bi =>
        when(element_at(emb, wi * 32 + bi + 1) > 0, lit(1L << bi))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    array(words: _*)
  }

  /** Hamming distance between two packed sign-code arrays
    * ([[signWords]]): popcount of the per-word XOR, summed — flat
    * codegen arithmetic, no branching.
    */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** MMR (maximal-marginal-relevance, Carbonell & Goldstein SIGIR
    * 1998) diversified top-k: greedily pick k results per query
    * trading relevance against similarity to what is already picked —
    * pick 1 is the plain argmax of relevance; pick j maximizes
    * λ·rel(d) − (1−λ)·max over selected s of sim(d, s). The standard
    * re-rank when plain top-k returns near-duplicates (which, after
    * this library's dedup tier, is exactly what dense regions of a
    * training corpus do).
    *
    * Scale shape: the corpus is touched ONCE (the stage-1 candidate
    * retrieval, here [[bruteForceTopK]] — substitute any ANN tier);
    * the greedy runs k rounds of joins over the BOUNDED candidate
    * relation (|Q|·candidateK rows, localCheckpointed so round j does
    * not re-run retrieval), each round one anti-join + one
    * max-aggregate + one per-query argmax window. Work is independent
    * of corpus size. Determinism: relevance and pairwise cosines are
    * cross-engine-exact doubles (n01), λ-mix is two fixed-order IEEE
    * ops, max is exact, argmax ties break by neighbor id — so the
    * whole greedy replays engine-for-engine (gate n19).
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              candidateK: Int = 20, lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(candidateK >= k, s"candidateK ($candidateK) must be >= k ($k)")
    val w = Window.partitionBy("q_id")
    val cands = bruteForceTopK(queries, corpus, candidateK)
      .join(corpus.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("sim").as("rel"), col("n_emb"))
      .localCheckpoint()
    def argmaxBy(df: DataFrame, score: Column, pick: Int): DataFrame =
      df.withColumn("__mmr", score)
        .withColumn("__rn", row_number().over(
          w.orderBy(col("__mmr").desc, col("n_id"))))
        .filter(col("__rn") === 1)
        .select(col("q_id"), col("n_id"), lit(pick).as("pick_rank"),
          col("n_emb"))
    var selected = argmaxBy(cands, col("rel"), 1)
    var j = 2
    while (j <= k) {
      val rem = cands.join(selected.select("q_id", "n_id"),
        Seq("q_id", "n_id"), "left_anti")
      val maxsim = rem.select(col("q_id"), col("n_id"), col("n_emb"))
        .join(selected.select(col("q_id"), col("n_emb").as("__s_emb")),
          Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          cosine(col("n_emb"), col("__s_emb")).as("__s"))
        .groupBy("q_id", "n_id").agg(max(col("__s")).as("maxsim"))
      // checkpoint per round: selected feeds three ops next round, so an
      // unchecked plan would triple each iteration (~3^k analysis blow-up)
      selected = selected.unionByName(argmaxBy(rem.join(maxsim, Seq("q_id", "n_id")),
        lit(lambda) * col("rel") - lit(1.0 - lambda) * col("maxsim"), j))
        .localCheckpoint()
      j += 1
    }
    selected.select("q_id", "n_id", "pick_rank")
  }

  /** Hamming near-duplicate PAIRS over packed binary codes
    * ([[signWords]], [[Multimodal.imageDHash]]) — the banded-LSH pair
    * generator of the binary tier, [[Dedup.simhashPairs]]'s shape
    * generalized to any array-of-words code: each 32-bit word splits
    * into two 16-bit band chunks, candidates must share (band, chunk)
    * — pigeonhole-exact for maxHamming < nBands (a pair within r bit
    * flips cannot differ in every one of the r+1-or-more bands) — and
    * only candidates pay the full [[hammingDistance]]. All-pairs never
    * materializes; `maxBucket` drops degenerate hot buckets (e.g. the
    * all-zero code of blank images) the same way the text tier does.
    * Distances are exact integers end-to-end: the whole pass replays
    * engine-for-engine (gate d21).
    */
  def hammingNearDupPairs(codes: DataFrame, idCol: String, codeCol: String,
                          maxHamming: Int = 3, maxBucket: Int = 1000,
                          nWords: Int = 2): DataFrame = {
    val sig = graft.engine.CacheOnce(
      codes.filter(col(codeCol).isNotNull)
        .select(col(idCol).as("doc_id"), col(codeCol).as("__code")))
    val chunked = sig.select(col("doc_id"), col("__code"),
      posexplode(array((0 until nWords * 2).map { i =>
        shiftright(element_at(col("__code"), i / 2 + 1), (i % 2) * 16)
          .bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("chunk_idx", "chunk")))
    val sized = Dedup.capBuckets(chunked, Seq("chunk_idx", "chunk"), maxBucket)
    val a = sized.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("__code").as("__code_a"))
    val b = sized.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col("__code").as("__code_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingDistance(col("__code_a"), col("__code_b")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** INCREMENTAL Hamming near-dup pairs — the corpus-growth shape for
    * the binary-code tier ([[Dedup.minhashLshIncremental]]'s
    * discipline): only the NEW batch's codes sit on the build side of
    * the band join, so a bucket with m corpus rows and n new rows
    * produces n·(m+n) tuples, never the m² corpus-corpus tuples a
    * full re-run would enumerate just to discard. New-new pairs
    * surface twice (once per orientation); least/greatest +
    * dropDuplicates collapses them. Old batches never rescan; with
    * corpus ≫ batch the per-batch cost is batch-sized.
    */
  def hammingNearDupPairsIncremental(newCodes: DataFrame,
                                     existingCodes: DataFrame,
                                     idCol: String, codeCol: String,
                                     maxHamming: Int = 3,
                                     maxBucket: Int = 1000,
                                     nWords: Int = 2): DataFrame = {
    def side(df: DataFrame, isNew: Boolean) =
      df.filter(col(codeCol).isNotNull)
        .select(col(idCol).as("doc_id"), col(codeCol).as("__code"),
          lit(isNew).as("__new"))
    val banded = side(existingCodes, isNew = false)
      .unionByName(side(newCodes, isNew = true))
      .select(col("doc_id"), col("__code"), col("__new"),
        posexplode(array((0 until nWords * 2).map { i =>
          shiftright(element_at(col("__code"), i / 2 + 1), (i % 2) * 16)
            .bitwiseAND(lit(0xFFFFL))
        }: _*)).as(Seq("chunk_idx", "chunk")))
    val sized = Dedup.capBuckets(banded, Seq("chunk_idx", "chunk"), maxBucket)
    val a = sized.filter(col("__new")).select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("da"), col("__code").as("__code_a"))
    val b = sized.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("db"), col("__code").as("__code_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        // hamming is symmetric, so pair orientation is irrelevant
        hammingDistance(col("__code_a"), col("__code_b")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Two-stage binary ANN — the classic Hamming prefilter: stage 1
    * ranks the corpus by Hamming distance over [[signWords]] codes
    * (a popcount scan of 8-byte codes instead of a float scan — the
    * cheapest compressed first stage on the Flat/SQ8/PQ ladder) and
    * keeps `rerankK` candidates per query; stage 2 fetches ONLY those
    * candidates' raw vectors (hash joins on the bounded candidate
    * relation) and re-ranks by exact cosine, the [[twoStageTopK]]
    * discipline. At 100 TB the full-precision corpus is touched for
    * rerankK rows per query; the scan stage moves 16× less data than
    * float32 and its distance kernel is integer-only. Determinism:
    * Hamming distances are exact integers and both stages tie-break
    * by neighbor id, so the result replays engine-for-engine (gate
    * n18) — no float enters until the exact re-rank.
    */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                  rerankK: Int = 100, dim: Int = 64): DataFrame = {
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      signWords(col("embedding"), dim).as("q_code")))
    val c = corpus.select(col("vec_id").as("n_id"),
      signWords(col("embedding"), dim).as("n_code"))
    val cands = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("dist", hammingDistance(col("q_code"), col("n_code")))
      .withColumn("cr", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))))
      .filter(col("cr") <= rerankK)
      .select("q_id", "n_id")
    val qv = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cv = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    cands.join(qv, Seq("q_id")).join(cv, Seq("n_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** A built residual IVF+PQ index: the trained artifacts (coarse cells
    * + residual sub-codebooks) plus the PRE-ENCODED corpus. Building is
    * the expensive pass (assign + encode touch every vector); queries
    * against a built index never re-encode — they probe cells and
    * ADC-rank stored codes only. [[saveIvfPqIndex]] / [[loadIvfPqIndex]]
    * round-trip the whole thing through parquet, which is what turns
    * the ANN tier from per-job training into a build-once / query-many
    * production index (FAISS `write_index`/`read_index`).
    */
  final case class IvfPqIndex(cells: Array[Array[Double]],
                              codebook: Array[Array[Double]],
                              codes: DataFrame,
                              m: Int, ks: Int, dim: Int)

  /** Build a residual IVF+PQ index over `corpus` (vec_id, embedding).
    * Defaults reproduce [[ivfPqResidualTopK]]'s deterministic trainers
    * (first-nlist cells, first-ks residual codebook) so gates can
    * replay; production passes the distributed Lloyd / residual-PQ
    * trainer outputs via `centroids` / `codebook` (the n14 path).
    * One projection over the corpus — assign + encode in a single
    * codegen stage, no shuffle.
    */
  def buildIvfPqIndex(corpus: DataFrame, nlist: Int = 16,
                      m: Int = 8, ks: Int = 16, dim: Int = 64,
                      centroids: Option[Array[Array[Double]]] = None,
                      codebook: Option[Array[Array[Double]]] = None): IvfPqIndex = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cellCb = centroids.getOrElse(firstVectors(corpus, nlist))
    val cb = codebook.getOrElse(
      defaultResidualPqCodebook(corpus, m, ks, sub, cellCb))
    import graft.functions.{Centroids => C, PqColumns => P}
    val codes = corpus.select(col("vec_id").as("n_id"), col("embedding"),
        C.centroidAssign(col("embedding"), cellCb).as("cell"))
      .withColumn("codes", P.pqEncode(
        C.centroidResidual(col("embedding"), col("cell"), cellCb), cb, sub))
      .drop("embedding")
    IvfPqIndex(cellCb, cb, codes, m, ks, dim)
  }

  /** Persist an index as four parquet tables under `dir`: `meta`
    * (single row of dimensions), `cells` (cell_id, centroid),
    * `codebook` (sub_id, entries), `codes` (n_id, cell, codes). The
    * encoded corpus — the only corpus-sized piece — stays distributed
    * end to end; the trained artifacts are a few KB each. `codes` is
    * written bucketed by nothing but partitioned as computed, so a
    * reload scans only (n_id, cell, codes) — 16× less than the floats.
    */
  /** The bounded artifacts (meta/cells/codebook) both save layouts
    * share — one writer so a meta schema change cannot silently fork
    * the two flavors.
    */
  private def saveIvfPqArtifacts(index: IvfPqIndex, dir: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    Seq((1, index.m, index.ks, index.dim, index.cells.length))
      .toDF("format_version", "m", "ks", "dim", "nlist")
      .write.mode("overwrite").parquet(s"$dir/meta")
    IndexIo.saveVectors(spark, s"$dir/cells", "cell_id", "centroid",
      index.cells)
    IndexIo.saveVectors(spark, s"$dir/codebook", "sub_id", "entries",
      index.codebook)
  }

  def saveIvfPqIndex(index: IvfPqIndex, dir: String): Unit = {
    saveIvfPqArtifacts(index, dir)
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Reload a persisted index. The trained artifacts (bounded: nlist
    * and m rows) collect to the driver exactly as a fresh build leaves
    * them; the encoded corpus is a lazy parquet scan.
    */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String,
                     codesOverride: Option[DataFrame] = None)
      : IvfPqIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    // by-name access, never ordinal: a reordered/extended meta schema must
    // not silently swap m/ks/dim into a plausible-but-wrong index
    val version =
      if (meta.schema.fieldNames.contains("format_version"))
        meta.getAs[Int]("format_version")
      else 0 // pre-versioned round-8 layout: same named fields, no tag
    require(version <= 1, s"unsupported IVF-PQ index format_version $version")
    val cells = IndexIo.loadVectors(spark, s"$dir/cells", "cell_id", "centroid")
    val cb = IndexIo.loadVectors(spark, s"$dir/codebook", "sub_id", "entries")
    IvfPqIndex(cells, cb,
      codesOverride.getOrElse(spark.read.parquet(s"$dir/codes")),
      meta.getAs[Int]("m"), meta.getAs[Int]("ks"), meta.getAs[Int]("dim"))
  }

  /** Append a new vector batch to a built index WITHOUT retraining:
    * the stored artifacts assign + encode the batch (the same single
    * codegen projection as the build pass, confined to the new rows)
    * and the code table is the union. This is the corpus-growth shape
    * of the ANN tier (the d13/e03/t24 incremental discipline): since
    * encoding is per-row against FROZEN artifacts, append-then-query
    * is EXACTLY rebuild-then-query over the union (gate n22) — the
    * trade is that cells/codebooks drift from the data distribution as
    * the corpus grows, which is when production re-trains and
    * re-encodes (monitor via [[clusterPurity]]).
    */
  def appendToIvfPqIndex(index: IvfPqIndex, newVecs: DataFrame): IvfPqIndex = {
    val sub = index.dim / index.m
    import graft.functions.{Centroids => C, PqColumns => P}
    val add = newVecs.select(col("vec_id").as("n_id"), col("embedding"),
        C.centroidAssign(col("embedding"), index.cells).as("cell"))
      .withColumn("codes", P.pqEncode(
        C.centroidResidual(col("embedding"), col("cell"), index.cells),
        index.codebook, sub))
      .drop("embedding")
      .localCheckpoint()
    // duplicate ids would put two code rows for one vector into the
    // index with no error — fail fast in both directions (the d33/
    // graph-append contract)
    IndexIo.requireBatchIdsUnique("appendToIvfPqIndex", add, "n_id")
    IndexIo.requireIdsNotIndexed("appendToIvfPqIndex", index.codes, add,
      "n_id")
    index.copy(codes = index.codes.unionByName(add))
  }

  /** Merge two indexes built INDEPENDENTLY over disjoint id sets with
    * the SAME frozen artifacts — the FAISS `merge_from` shape, and the
    * easiest of the sharded-parallel merges (gate n49): per-row
    * assign/encode is row-independent, so the merged code table is the
    * union, EXACTLY what a one-shot build over A ∪ B produces under
    * the shared artifacts. Artifact drift (each shard training its own
    * cells/codebook) would make codes incomparable — fail fast, like
    * id overlap.
    */
  def mergeIvfPqIndexes(a: IvfPqIndex, b: IvfPqIndex): IvfPqIndex = {
    require(a.m == b.m && a.ks == b.ks && a.dim == b.dim,
      s"mergeIvfPqIndexes: PQ shapes differ — " +
        s"(m=${a.m},ks=${a.ks},dim=${a.dim}) vs (m=${b.m},ks=${b.ks},dim=${b.dim})")
    require(a.cells.length == b.cells.length &&
      a.cells.zip(b.cells).forall { case (x, y) => x.sameElements(y) },
      "mergeIvfPqIndexes: shard indexes were built over different " +
        "coarse cells — sharded builds must share ONE frozen codebook")
    require(a.codebook.length == b.codebook.length &&
      a.codebook.zip(b.codebook).forall { case (x, y) => x.sameElements(y) },
      "mergeIvfPqIndexes: shard indexes were built over different PQ " +
        "codebooks — sharded builds must share ONE frozen codebook")
    IndexIo.requireDisjointIds("mergeIvfPqIndexes", a.codes, b.codes,
      "n_id")
    a.copy(codes = a.codes.unionByName(b.codes))
  }

  /** Delete vectors from the index — one anti join over the codes
    * table, the deletion half of the [[appendToIvfPqIndex]] lifecycle
    * (gate n38). Exactly equal to a build over the remaining corpus
    * under the same FROZEN artifacts, because per-row assign/encode
    * is row-independent: no other row's cell or code depends on the
    * deleted ones. (Artifact drift from a shrunken corpus is the
    * [[indexStats]]/n30 refresh policy's job, same as for appends.)
    * `ids`: one `vec_id` column; ids absent from the index are
    * ignored.
    */
  def deleteFromIvfPqIndex(index: IvfPqIndex, ids: DataFrame): IvfPqIndex =
    index.copy(codes = index.codes.join(
      ids.select(col("vec_id").cast("long").as("n_id")).distinct(),
      Seq("n_id"), "left_anti"))

  /** [[GraphAnn.deleteFromGraphShards]] at the code-table tier: no
    * routing map needed — membership is ownership, and the per-shard
    * delete is one lazy anti-join (row-independent codes, nothing to
    * re-run), so the fleet delete is |shards| filters over state.
    */
  def deleteFromIvfPqShards(shards: Seq[IvfPqIndex], ids: DataFrame)
      : Seq[IvfPqIndex] = {
    require(shards.nonEmpty, "deleteFromIvfPqShards: no shards")
    requireSharedIvfPqArtifacts("deleteFromIvfPqShards", shards)
    val del = ids.select(col("vec_id").cast("long").as("n_id"))
      .distinct().localCheckpoint()
    shards.map(s => deleteFromIvfPqIndex(s,
      del.select(col("n_id").as("vec_id"))))
  }

  /** Index health report — the numbers that decide when to re-train
    * (the drift caveat on [[appendToIvfPqIndex]]): how the corpus
    * spreads over the coarse cells. Hot cells slow every query that
    * probes them (candidate count is the per-probe cost); empty cells
    * waste probe budget. One aggregate over the code table (never the
    * vectors): per-cell counts, then population min/max/avg and the
    * skew ratio max/avg — at 100 TB this is a seconds-long scan of the
    * codes, run after every append wave.
    */
  def indexStats(index: IvfPqIndex): DataFrame = {
    val nlist = index.cells.length
    val perCell = index.codes.groupBy("cell").agg(count(lit(1)).as("n"))
    perCell.agg(
        count(lit(1)).as("n_cells_used"),
        sum(col("n")).as("n_vectors"),
        min(col("n")).as("min_cell"),
        max(col("n")).as("max_cell"))
      .select(col("n_cells_used"),
        (lit(nlist) - col("n_cells_used")).as("n_cells_empty"),
        col("n_vectors"), col("min_cell"), col("max_cell"),
        (col("n_vectors").cast("double") / col("n_cells_used"))
          .as("avg_cell"),
        (col("max_cell") / (col("n_vectors").cast("double") / col("n_cells_used")))
          .as("skew"))
  }

  /** Reconstruction-distortion report — the m/ks sizing tool: how much
    * squared error the PQ codes carry, per cell and overall. Uses the
    * self-ADC identity (no decode path needed): for a vector's OWN
    * code, `pqAdc(residual(x), codes(x))` IS ‖r − decode(codes)‖² —
    * the quantization error of that row. One projection over the
    * corpus (assign → residual → encode → self-ADC, all existing
    * codegen nodes) + one aggregate; compare reports across m/ks or
    * between a plain and an OPQ-rotated build (OpqSpec's error cut,
    * now measurable on a live index) to pick the operating point.
    */
  def indexDistortion(corpus: DataFrame, nlist: Int = 16,
                      m: Int = 8, ks: Int = 16, dim: Int = 64,
                      centroids: Option[Array[Array[Double]]] = None,
                      codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val cellCb = centroids.getOrElse(firstVectors(corpus, nlist))
    val cb = codebook.getOrElse(
      defaultResidualPqCodebook(corpus, m, ks, sub, cellCb))
    import graft.functions.{Centroids => C, PqColumns => P}
    corpus.select(col("vec_id"),
        C.centroidAssign(col("embedding"), cellCb).as("cell"),
        C.centroidResidual(col("embedding"),
          C.centroidAssign(col("embedding"), cellCb), cellCb).as("__r"))
      .withColumn("__err", P.pqAdc(col("__r"),
        P.pqEncode(col("__r"), cb, sub), cb, sub))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        avg(col("__err")).as("mse"),
        max(col("__err")).as("max_err"))
  }

  /** Mean self-ADC quantization error of `vecs` against an index's
    * frozen artifacts — the scalar the refresh policy watches. One
    * codegen projection + one scalar aggregate; at 100 TB run it on
    * the arriving batch (bounded), not the corpus.
    */
  def meanDistortion(vecs: DataFrame, index: IvfPqIndex): Double = {
    val sub = index.dim / index.m
    import graft.functions.{Centroids => C, PqColumns => P}
    vecs.select(
        C.centroidResidual(col("embedding"),
          C.centroidAssign(col("embedding"), index.cells), index.cells)
          .as("__r"))
      .select(P.pqAdc(col("__r"),
        P.pqEncode(col("__r"), index.codebook, sub), index.codebook, sub)
        .as("__e"))
      // empty batches are routine in the append lifecycle: avg over
      // zero rows is null → distortion 0 (an empty batch drifts nothing)
      .agg(coalesce(avg(col("__e")), lit(0.0))).head().getDouble(0)
  }

  /** Index refresh-policy loop — the decision layer the grow-by-append
    * lifecycle needs (the drift caveat on [[appendToIvfPqIndex]],
    * closed): each arriving batch is appended against the FROZEN
    * artifacts, its quantization distortion ([[meanDistortion]] — the
    * batch only, so the check costs one bounded projection no matter
    * how large the accumulated corpus) is compared against
    * `threshold ×` the baseline distortion the current artifacts were
    * trained at, and a breach triggers a full retrain + re-encode over
    * the accumulated corpus, after which the baseline resets to the
    * new artifacts' corpus-wide distortion. Returns the decision
    * trace, one row per batch: (batch_id, n_appended, n_total,
    * retrained, recovered) — `recovered` pins that the retrained
    * artifacts actually cut the breaching batch's distortion
    * (vacuously true for non-retrained batches). The floats stay
    * internal; the trace is integers + booleans, which is what makes
    * it oracle-pinnable (gate n30).
    *
    * Scale shape: per batch one append projection + one bounded
    * distortion aggregate; a retrain costs what the original build
    * cost — the policy's whole point is paying it only when the
    * distortion evidence says the frozen artifacts stopped fitting.
    */
  def refreshPolicy(base: DataFrame, batches: Seq[DataFrame],
                    nlist: Int = 16, m: Int = 8, ks: Int = 16,
                    dim: Int = 64, threshold: Double = 2.0): DataFrame = {
    require(threshold > 1.0,
      s"threshold must exceed 1 (a ratio to baseline), got $threshold")
    // the real (distributed Lloyd + residual-PQ) trainers, not the
    // deterministic first-N gate scheme: a retrain must ADAPT to the
    // accumulated distribution, and first-N rows never change
    def train(c: DataFrame): IvfPqIndex = {
      val cells = KMeans.trainCentroidsDistributed(c, "vec_id",
        "embedding", nlist, iters = 5)
      val cb = KMeans.trainResidualPqCodebook(c, "vec_id", "embedding",
        cells, m, ks, dim)
      buildIvfPqIndex(c, nlist, m, ks, dim, Some(cells), Some(cb))
    }
    var corpus = base.select("vec_id", "embedding").localCheckpoint()
    var idx = train(corpus)
    var baseline = meanDistortion(corpus, idx)
    val trace = batches.zipWithIndex.map { case (b, i) =>
      val batch = b.select("vec_id", "embedding").localCheckpoint()
      val nAppended = batch.count()
      idx = appendToIvfPqIndex(idx, batch)
      corpus = corpus.unionByName(batch).localCheckpoint()
      val nTotal = corpus.count()
      val batchMse = meanDistortion(batch, idx)
      val retrain = batchMse > threshold * baseline
      var recovered = true
      if (retrain) {
        idx = train(corpus)
        recovered = meanDistortion(batch, idx) < batchMse
        baseline = meanDistortion(corpus, idx)
      }
      (i + 1, nAppended, nTotal, retrain, recovered)
    }
    val spark = base.sparkSession
    import spark.implicits._
    trace.toDF("batch_id", "n_appended", "n_total", "retrained",
      "recovered")
  }

  /** Query a built (or reloaded) index: probe nprobe cells, ADC-rank
    * the stored codes — identical search semantics to
    * [[ivfPqResidualTopK]] (probe-all reproduces the exhaustive
    * residual scan, gate n21), but the corpus side is a scan of the
    * pre-encoded codes: no assignment, no encoding, no float vectors
    * move. At 100 TB this is the serving shape — the per-query cost is
    * the probed cells' code bytes, nothing else.
    */
  def queryIvfPqIndex(queries: DataFrame, index: IvfPqIndex, k: Int,
                      nprobe: Int = 4): DataFrame =
    ivfPqIndexServe(queries, index, k, nprobe, pruneScan = false)

  /** ONE serve body for the pruned and unpruned index serves — the
    * n52 "pruned == plain" contract is structural: the only difference
    * is whether the probed-cell set also lands on the codes SCAN as a
    * static filter (a semantic no-op; the join on cell already
    * restricts to probed cells).
    */
  private def ivfPqIndexServe(queries: DataFrame, index: IvfPqIndex,
                              k: Int, nprobe: Int,
                              pruneScan: Boolean): DataFrame = {
    val sub = index.dim / index.m
    import graft.functions.{Centroids => C, PqColumns => P}
    val q0 = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      explode(C.centroidProbes(col("embedding"), index.cells, nprobe))
        .as("cell"))
    // checkpoint before collecting the probed set so the probe
    // subtree runs once, not once for the collect and once for the
    // join (the appendToMinHashIndex discipline)
    val q = if (pruneScan) q0.localCheckpoint() else q0
    val c =
      if (pruneScan) {
        val probed = q.select("cell").distinct().collect()
          .map(_.getInt(0))
        index.codes.filter(col("cell").isInCollection(probed.toSeq))
      } else index.codes
    q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", P.pqAdc(
        C.centroidResidual(col("q_emb"), col("cell"), index.cells),
        col("codes"), index.codebook, sub))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "adc")
  }

  /** Persist with the code table PARTITIONED BY cell — the on-disk
    * analog of FAISS's per-inverted-list storage: each coarse cell's
    * codes land in their own directory, so a serve that probes nprobe
    * of nlist cells can READ exactly those directories instead of
    * scanning the whole encoded corpus ([[queryIvfPqIndexPruned]],
    * gate n52). At 100 TB with nprobe/nlist ~ 1/256 that is the
    * difference between a scan of the full code table per query batch
    * and a scan of the probed slice.
    *
    * The meta tag stays format_version 1: unlike the bucketed-catalog
    * layouts (where registration must DECLARE the partitioning — the
    * substr v1/v2 lesson), plain `spark.read.parquet` discovers
    * partition directories transparently, so [[loadIvfPqIndex]] reads
    * both layouts correctly with no dispatch. The `cell` column comes
    * back from the directory names (same int type, by-name access
    * everywhere).
    */
  def saveIvfPqIndexPartitioned(index: IvfPqIndex, dir: String): Unit = {
    saveIvfPqArtifacts(index, dir)
    // repartition by cell first: without it every cell directory
    // holds one fragment per shuffle partition, and at serving time
    // the per-file overhead (footers, row-group minimums) dominates
    // the probed reads. One packed file per inverted list is the
    // FAISS contiguous-blob shape; the price is one shuffle at save,
    // paid once. (Cells larger than a task's comfort split fine —
    // parquet readers split files by row group.)
    index.codes.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
  }

  /** Persist a whole sharded IVF-PQ deployment as ONE artifact:
    * every shard cell-partitioned at `dir/shard_<i>` (the
    * [[saveIvfPqIndexPartitioned]] layout, so a routed scatter
    * against the reloaded fleet still reads only probed directories
    * of touched shards) plus the FROZEN cell→shard routing map at
    * `dir/cell_map` ([[IndexIo.saveCellMap]] — the map is what a
    * restart cannot recover from shard contents). Empty shards
    * persist fine (their code tables are empty; `n_shards` in the
    * map artifact keeps the fleet width).
    */
  def saveIvfPqShards(shards: Seq[IvfPqIndex], cellMap: Array[Int],
                      dir: String): Unit = {
    require(shards.nonEmpty, "saveIvfPqShards: no shards")
    requireSharedIvfPqArtifacts("saveIvfPqShards", shards)
    IndexIo.requireCellMap("saveIvfPqShards", "cellMap", cellMap,
      shards.head.cells.length, shards.length)
    // disjoint per-shard directories: the shard writes are independent
    // driver-sequenced job chains — run them on the shared bounded
    // pool so one shard's commit latency overlaps another's write
    IndexIo.runConcurrently(shards.zipWithIndex, shards.length) {
      case (s, i) => saveIvfPqIndexPartitioned(s, s"$dir/shard_$i")
    }
    IndexIo.saveCellMap(shards.head.codes.sparkSession,
      s"$dir/cell_map", cellMap, shards.length)
  }

  /** Reload a [[saveIvfPqShards]] deployment: (shards, cell→shard
    * map), ready for the routed verbs (scatter serve, routed append/
    * delete, rebalance). A drift-emptied shard reloads as an empty
    * code table under the shared artifacts ([[IndexIo.readOrEmpty]]
    * — a committed empty partitioned dir has no parquet footer to
    * infer from).
    */
  def loadIvfPqShards(spark: org.apache.spark.sql.SparkSession,
                      dir: String): (Seq[IvfPqIndex], Array[Int]) = {
    val (map, nShards) = IndexIo.loadCellMap(spark, s"$dir/cell_map")
    // per-shard loads are independent driver-sequenced chains (footer
    // reads + bounded artifact collects) — overlap them
    (IndexIo.runConcurrently(0 until nShards, nShards) { i =>
      val d = s"$dir/shard_$i"
      loadIvfPqIndex(spark, d,
        codesOverride = Some(IndexIo.readOrEmpty(spark, s"$d/codes",
          "n_id BIGINT, codes ARRAY<INT>, cell INT")))
    }, map)
  }

  /** [[queryIvfPqIndex]] with the probed-cell set pushed to the SCAN
    * as a static partition filter: the distinct cells a query batch
    * probes are bounded by nlist — the same driver-held artifact the
    * probe expression already broadcasts — so collecting them is
    * scale-free, and over a [[saveIvfPqIndexPartitioned]] layout the
    * codes scan then reads ONLY the probed directories
    * (PartitionFilters, spec-pinned; gate n52 pins result equality
    * with the unpruned serve). The price is one bounded driver job
    * per serve call to gather the cell set — the explicit-regime
    * trade, documented rather than hidden. Output is identical to
    * [[queryIvfPqIndex]] because the join on cell already restricts
    * to probed cells; the filter only moves that restriction from the
    * join to the scan.
    */
  def queryIvfPqIndexPruned(queries: DataFrame, index: IvfPqIndex,
                            k: Int, nprobe: Int = 4): DataFrame =
    ivfPqIndexServe(queries, index, k, nprobe, pruneScan = true)

  /** Exact global top-k fold for scatter-gather serving: each element
    * of `parts` is one shard's per-query top-k (its best ≤k rows per
    * query) over DISJOINT neighbor ids; the fold unions them and
    * re-ranks to the global k. Exactness is the classic scatter-gather
    * argument — every global top-k row is, within its own shard, a
    * top-≤k row, so re-ranking the union of per-shard top-k loses
    * nothing; with the shared (score, id) tie order the global ranks
    * come out identical to a single-index serve. The exchanged volume
    * is |shards|·|Q|·k rows — independent of corpus size, which is
    * what makes serve-WITHOUT-merge viable at 100 TB: shard serves run
    * on disjoint cluster resources and only this bounded fold crosses
    * them. Inputs must carry (qCol, idCol, scoreCol); any per-shard
    * `rank` is discarded and re-derived globally. Ids duplicated
    * ACROSS shards would consume two ranks for one neighbor — the
    * disjointness contract is the caller's (sharded builds fail fast
    * on overlap at build/merge time; this fold adds no corpus-sized
    * check to the serve path).
    */
  def gatherTopK(parts: Seq[DataFrame], k: Int, scoreCol: String,
                 ascending: Boolean, qCol: String = "q_id",
                 idCol: String = "n_id"): DataFrame = {
    require(parts.nonEmpty, "gatherTopK: no shard results to gather")
    require(k >= 1, s"k must be >= 1, got $k")
    val ord = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    parts.map(_.drop("rank")).reduce(_.unionByName(_))
      .withColumn("rank", row_number().over(
        Window.partitionBy(qCol).orderBy(ord, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Exhaustive top-k by scatter-gather over sharded corpora: each
    * shard scans only its own rows, the gather folds |shards|·|Q|·k
    * candidates ([[gatherTopK]] — gate n57 pins exact equality with
    * [[bruteForceTopK]] over the union). The corpora must hold
    * disjoint vec_ids (the shard contract).
    */
  def bruteForceTopKSharded(queries: DataFrame,
                            shardCorpora: Seq[DataFrame],
                            k: Int): DataFrame =
    gatherTopK(shardCorpora.map(c => bruteForceTopK(queries, c, k)),
      k, "sim", ascending = false)
      .select("q_id", "n_id", "rank", "sim")

  /** The artifact handshake every cross-shard IVF-PQ verb requires:
    * identical PQ shape, coarse cells, and codebook — codes produced
    * under different artifacts are not comparable, so drift fails
    * fast exactly like id overlap does on the build verbs.
    */
  private def requireSharedIvfPqArtifacts(what: String,
                                          shards: Seq[IvfPqIndex]): Unit = {
    val h = shards.head
    shards.tail.foreach { s =>
      require(s.m == h.m && s.ks == h.ks && s.dim == h.dim,
        s"$what: PQ shapes differ across shards — " +
          s"(m=${h.m},ks=${h.ks},dim=${h.dim}) vs (m=${s.m},ks=${s.ks},dim=${s.dim})")
      require(s.cells.length == h.cells.length &&
        s.cells.zip(h.cells).forall { case (x, y) => x.sameElements(y) },
        s"$what: shard indexes were built over different coarse cells " +
          "— sharded builds must share ONE frozen codebook")
      require(s.codebook.length == h.codebook.length &&
        s.codebook.zip(h.codebook).forall { case (x, y) => x.sameElements(y) },
        s"$what: shard indexes were built over different PQ codebooks " +
          "— sharded builds must share ONE frozen codebook")
    }
  }

  /** Serve a query batch against UNMERGED shard indexes — the other
    * half of the sharded recipe: where [[mergeIvfPqIndexes]] stitches
    * shards into one index, this routes the serve to the shards and
    * folds their answers, so a deployment can skip the merge entirely
    * (FAISS `IndexShards` / distributed-DiskANN scatter-gather).
    * EXACTLY equal to [[queryIvfPqIndex]] over the merged index (gate
    * n56): candidates are cell-confined, per-shard top-k keeps every
    * global winner, and [[gatherTopK]] re-ranks under the same
    * (adc, n_id) tie order.
    *
    * With `cellShardMap` (the [[shardCellMap]] artifact the shards
    * were cut by — map(cell-1) = owning shard), the serve ROUTES:
    * the query batch's probed-cell set (bounded by nlist, one bounded
    * driver job — the [[queryIvfPqIndexPruned]] trade) names the
    * shards it can touch, and untouched shards are never scanned, nor
    * their serve jobs launched. At 100 TB with spatial shards this is
    * the difference between fanning every query batch out to every
    * shard and touching nprobe/nlist of the fleet. Routing is exact
    * for IVF-PQ because a query's candidates live ONLY in its probed
    * cells (gate n56 pins routed ≡ unrouted ≡ merged). Each served
    * shard's scan also gets the probed-cell set as a static filter —
    * over a [[saveIvfPqIndexPartitioned]] layout that prunes to the
    * probed directories (the n52 discipline, per shard).
    */
  def queryIvfPqIndexScatter(queries: DataFrame, shards: Seq[IvfPqIndex],
                             k: Int, nprobe: Int = 4,
                             cellShardMap: Option[Array[Int]] = None)
      : DataFrame = {
    require(shards.nonEmpty, "queryIvfPqIndexScatter: no shards")
    requireSharedIvfPqArtifacts("queryIvfPqIndexScatter", shards)
    val h = shards.head
    cellShardMap.foreach { m =>
      require(m.length == h.cells.length,
        s"cellShardMap length ${m.length} != nlist ${h.cells.length}")
      require(m.forall(s => s >= 0 && s < shards.length),
        s"cellShardMap names shard ids outside [0, ${shards.length})")
    }
    val sub = h.dim / h.m
    import graft.functions.{Centroids => C, PqColumns => P}
    // checkpoint before collecting the probed set so the probe subtree
    // runs once for the collect and once per served shard's join off
    // the checkpoint, not re-deriving embeddings each time
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        explode(C.centroidProbes(col("embedding"), h.cells, nprobe))
          .as("cell"))
      .localCheckpoint()
    val probed = q.select("cell").distinct().collect().map(_.getInt(0))
    val served: Seq[(Int, IvfPqIndex)] = cellShardMap match {
      case Some(map) =>
        val touched = probed.map(c => map(c - 1)).toSet
        shards.zipWithIndex.collect { case (s, i) if touched(i) => (i, s) }
      case None => shards.zipWithIndex.map { case (s, i) => (i, s) }
    }
    val parts = served.map { case (i, s) =>
      // routed: only this shard's probe rows reach its join (the scan
      // restriction the routing already proved; keeps the probe side
      // of each shard join minimal). Unrouted: full probe set — the
      // join on cell restricts to the shard's cells anyway.
      val probeRows = cellShardMap match {
        case Some(map) =>
          q.filter(element_at(lit(map), col("cell")) === i)
        case None => q
      }
      probeRows
        .join(s.codes.filter(col("cell").isInCollection(probed.toSeq)),
          Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("adc", P.pqAdc(
          C.centroidResidual(col("q_emb"), col("cell"), h.cells),
          col("codes"), h.codebook, sub))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("adc").asc, col("n_id"))))
        .filter(col("rank") <= k)
        .select("q_id", "n_id", "rank", "adc")
    }
    if (parts.isEmpty)
      // a batch can route to zero shards only if every probed cell is
      // unowned — impossible under a total cellShardMap, but keep the
      // degenerate shape legal and EMPTY rather than throwing
      q.select(col("q_id"), col("q_id").as("n_id"),
        lit(0).as("rank"), lit(0.0).as("adc")).limit(0)
    else
      gatherTopK(parts, k, "adc", ascending = true)
        .select("q_id", "n_id", "rank", "adc")
  }

  /** The aggregate form of [[queryIvfPqIndexScatter]] — and the
    * stream-legal one: per-shard candidates (probe join + ADC, each
    * confined to its shard's codes) union into ONE bounded-heap top-k
    * aggregate per query. The scatter-gather bound comes FREE from
    * partial aggregation: each map task's heap forwards ≤ k pairs per
    * query, so the shuffle carries |tasks|·|Q|·k rows no matter how
    * large the shards are — the [[queryIvfPqIndexAgg]] argument,
    * extended across shards. Identical results to the merged-index
    * serve (gate n59; same tie order). No routing and no probed-cell
    * collect: both need a driver-side job, which a streaming plan
    * cannot run — a readStream of queries fans out to every shard
    * (the static sides of |shards| stream-static joins), which is the
    * online-serving shape anyway; ROUTED serving is the batch form's
    * ([[queryIvfPqIndexScatter]]).
    */
  def queryIvfPqIndexScatterAgg(queries: DataFrame,
                                shards: Seq[IvfPqIndex], k: Int,
                                nprobe: Int = 4): DataFrame = {
    require(shards.nonEmpty, "queryIvfPqIndexScatterAgg: no shards")
    requireSharedIvfPqArtifacts("queryIvfPqIndexScatterAgg", shards)
    val h = shards.head
    val sub = h.dim / h.m
    import graft.functions.{Centroids => C, PqColumns => P}
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      explode(C.centroidProbes(col("embedding"), h.cells, nprobe))
        .as("cell"))
    shards.map { s =>
      q.join(s.codes, Seq("cell")).filter(col("q_id") =!= col("n_id"))
        .withColumn("adc", P.pqAdc(
          C.centroidResidual(col("q_emb"), col("cell"), h.cells),
          col("codes"), h.codebook, sub))
        .select("q_id", "n_id", "adc")
    }.reduce(_.unionByName(_))
      .groupBy("q_id")
      .agg(graft.functions.TopK.topK(-col("adc"), col("n_id"), k)
        .as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("col.score")).as("adc"))
  }

  /** Concurrent per-shard appends in [[appendToIvfPqShards]]: enough
    * to keep a CLUSTER's scheduler fed with independent jobs, small
    * enough that one verb cannot monopolize the driver's
    * job-submission threads.
    */
  private val RoutedAppendParallelism: Int = 16

  /** [[GraphAnn.appendToGraphShards]] at the code-table tier: route
    * the batch by the deployment's frozen map, append each touched
    * shard's slice through the rebuild-exact [[appendToIvfPqIndex]] —
    * the one shared [[IndexIo.appendRouted]] skeleton.
    */
  def appendToIvfPqShards(shards: Seq[IvfPqIndex], batch: DataFrame,
                          cellMap: Array[Int]): Seq[IvfPqIndex] = {
    require(shards.nonEmpty, "appendToIvfPqShards: no shards")
    requireSharedIvfPqArtifacts("appendToIvfPqShards", shards)
    IndexIo.appendRouted("appendToIvfPqShards", shards,
      shards.head.cells, batch, cellMap,
      RoutedAppendParallelism)(appendToIvfPqIndex)
  }

  /** Re-cut a sharded IVF-PQ deployment to a NEW cell→shard map by
    * MOVING only the rows whose shard changed — the [[GraphAnn
    * .rebalanceGraphShards]] recipe at the code-table tier, and the
    * cheapest of the three: a mover KEEPS its home cell (the map
    * changed, not the assignment), so its residual and codes are
    * unchanged and the code ROWS move between shards verbatim — no
    * corpus, no re-encode, no embedding ever touched. Exactly equal
    * to fresh builds over the new slices because per-row
    * assign/encode is row-independent under the shared frozen
    * artifacts (the n22/n38 equivalences; spec-pinned). Untouched
    * shards (no changed cell names them, either direction) pass
    * through verbatim. Both maps must cover the shared frozen
    * codebook.
    */
  def rebalanceIvfPqShards(shards: Seq[IvfPqIndex],
                           oldMap: Array[Int], newMap: Array[Int])
      : Seq[IvfPqIndex] = {
    require(shards.nonEmpty, "rebalanceIvfPqShards: no shards")
    requireSharedIvfPqArtifacts("rebalanceIvfPqShards", shards)
    val nlist = shards.head.cells.length
    for ((m, which) <- Seq(oldMap -> "oldMap", newMap -> "newMap"))
      IndexIo.requireCellMap("rebalanceIvfPqShards", which, m, nlist,
        shards.length)
    val changed = oldMap.indices
      .collect { case c if oldMap(c) != newMap(c) => c + 1 }
    if (changed.isEmpty) return shards
    // moving code rows, sliced once (checkpointed) from the stored
    // cell columns — work ∝ members of the changed cells
    val moving = shards.zipWithIndex.map { case (s, j) =>
      s.codes.filter(col("cell").isInCollection(changed))
        .withColumn("to_shard", element_at(lit(newMap), col("cell")))
        .filter(col("to_shard") =!= j)
    }.reduce(_.unionByName(_)).localCheckpoint()
    shards.zipWithIndex.map { case (s, i) =>
      val touched = changed.exists(c =>
        oldMap(c - 1) == i || newMap(c - 1) == i)
      if (!touched) s
      else s.copy(codes = s.codes
        .filter(element_at(lit(newMap), col("cell")) === i)
        .unionByName(moving.filter(col("to_shard") === i)
          .drop("to_shard")))
    }
  }
}
