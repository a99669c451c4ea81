package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit,
  posexplode}

/** The one on-disk format of every persisted index artifact.
  *
  * An artifact directory holds a one-row `meta` table (`format_version`
  * plus the kind's build parameters, always read back BY NAME), the
  * kind's bounded vector tables (coarse cells, PQ codebook, OPQ
  * rotation: collected back in id order), and its distributed tables.
  * A [[Kind]] declares only those pieces; this object alone writes and
  * reads them, fails fast on a version it cannot read, and owns the
  * four layouts:
  *  - plain: every table a parquet directory ([[Kind.save]] /
  *    [[Kind.load]]);
  *  - bucketed: tables with bucket keys written `bucketBy` into catalog
  *    tables, re-registered from their files by a fresh session
  *    ([[Kind.saveBucketed]] / [[Kind.loadBucketed]]);
  *  - cell-partitioned: a table with a partition column written one
  *    directory per value, read back by the plain load through
  *    partition discovery ([[Kind.savePartitioned]]);
  *  - sharded: every shard at `shard_<i>` in the cell-partitioned
  *    layout plus the FROZEN cell→shard map at `cell_map`
  *    ([[Kind.saveShards]] / [[Kind.loadShards]]).
  */
private[graft] object IndexIo {
  import Dedup.MinHashIndex
  import GraphAnn.{GraphIndex, GraphPqIndex, HnswIndex, HnswPqIndex}
  import Similarity.IvfPqIndex
  import SuffixArray.SubstrIndex
  import TextOps.UnigramModel

  /** One distributed table of a kind: `keys` are its bucket columns in
    * the bucketed layout, `partition` its directory column in the
    * cell-partitioned one, `empty` the schema a committed EMPTY
    * relation reloads with (absent: an empty relation fails to load),
    * and a `derived` table is written by the bucketed layout only.
    * Tables with none of these need no declaration.
    */
  final case class Table(name: String, keys: Seq[String] = Nil,
                         partition: Option[String] = None,
                         empty: Option[String] = None,
                         derived: Boolean = false)

  /** A saved artifact as its kind's decode sees it: meta fields by
    * name, tables and vectors read on demand in the artifact's layout.
    */
  final class Stored private[IndexIo] (meta: Row,
                                       vecs: String => Array[Array[Double]],
                                       tables: String => DataFrame) {
    def version: Int = opt[Int]("format_version").getOrElse(0)
    def apply[T](field: String): T = meta.getAs[T](field)
    /** A field older writers did not stamp. */
    def opt[T](field: String): Option[T] =
      if (meta.schema.fieldNames.contains(field)) Some(meta.getAs[T](field))
      else None
    def table(name: String): DataFrame = tables(name)
    def vectors(name: String): Array[Array[Double]] = vecs(name)
    def rotation: Embeddings.PcaModel = Embeddings.PcaModel(
      vecs("rotation_mean").head, vecs("rotation_eigenvalues").head,
      vecs("rotation_basis"))
  }

  /** An artifact kind: `name` for messages, `version` the newest
    * `format_version` this build reads (a meta stamped higher fails
    * fast; a meta with no stamp is version 0).
    */
  abstract class Kind[I](val name: String, val version: Int) {
    def meta(i: I): Seq[(String, Any)]
    def frames(i: I): Seq[(String, DataFrame)]
    def decode(a: Stored): I
    /** The version a save stamps: older readers stay able to read the
      * shapes that did not change. */
    def stamp(i: I): Int = version
    def vectors(i: I): Seq[(String, Array[Array[Double]])] = Nil
    def tables: Seq[Table] = Nil

    final def save(i: I, dir: String): Unit = write(i, dir, None, false)

    final def load(spark: SparkSession, dir: String): I =
      decode(open(spark, dir, None))

    /** The bucketed layout: every table with bucket keys is written
      * `bucketBy(buckets, keys).sortBy(keys)` into the catalog table
      * [[bucketedTableName]](tablePrefix, table, dir), so reads that
      * join or aggregate on those keys exchange nothing corpus-sized.
      * The meta's `buckets` field (stamped 0 by the graph kinds' plain
      * saves) carries the count.
      */
    final def saveBucketed(i: I, dir: String, tablePrefix: String,
                           buckets: Int = 64): Unit = {
      require(buckets >= 1, s"buckets must be >= 1, got $buckets")
      write(i, dir, Some((tablePrefix, buckets)), false)
    }

    /** Reload the bucketed layout: the index plus its derived tables by
      * name. The plain [[load]] reads the same directory, minus the
      * bucket partitioning.
      */
    final def loadBucketed(spark: SparkSession, dir: String,
                           tablePrefix: String)
        : (I, Map[String, DataFrame]) = {
      val a = open(spark, dir, Some(tablePrefix))
      (decode(a), tables.filter(_.derived)
        .map(t => t.name -> a.table(t.name)).toMap)
    }

    final def savePartitioned(i: I, dir: String): Unit =
      write(i, dir, None, true)

    /** Persist a sharded deployment as ONE artifact: the map is serving
      * state a restart cannot recover from shard contents after drift,
      * so it rides along ([[saveCellMap]]); the shard writes overlap on
      * the bounded pool.
      */
    final def saveShards(shards: Seq[I], cellMap: Array[Int],
                         dir: String): Unit = {
      require(shards.nonEmpty, s"saveShards: no $name shards")
      val shared = vectors(shards.head)
      shards.tail.foreach(s => vectors(s).zip(shared).foreach {
        case ((n, v), (_, w)) => require(v.length == w.length &&
          v.zip(w).forall { case (x, y) => x.sameElements(y) },
          s"saveShards: $name shards differ in $n — sharded builds " +
            "must share ONE frozen codebook")
      })
      requireCellMap("saveShards", "cellMap", cellMap,
        shared.toMap.apply("cells").length, shards.length)
      runConcurrently(shards.zipWithIndex, shards.length) {
        case (s, i) => write(s, s"$dir/shard_$i", None, true)
      }
      saveCellMap(sparkOf(shards.head), s"$dir/cell_map", cellMap,
        shards.length)
    }

    /** Reload a [[saveShards]] deployment: (shards, cell→shard map). A
      * drift-emptied shard reloads with empty tables (the declared
      * `empty` schemas).
      */
    final def loadShards(spark: SparkSession, dir: String)
        : (Seq[I], Array[Int]) = {
      val (map, nShards) = loadCellMap(spark, s"$dir/cell_map")
      (runConcurrently(0 until nShards, nShards)(i =>
        load(spark, s"$dir/shard_$i")), map)
    }

    private def spec(n: String): Table =
      tables.find(_.name == n).getOrElse(Table(n))

    private def sparkOf(i: I): SparkSession = frames(i).head._2.sparkSession

    private def write(i: I, dir: String, bucketed: Option[(String, Int)],
                      partitioned: Boolean): Unit = {
      val spark = sparkOf(i)
      val fields = ("format_version" -> stamp(i)) +: meta(i)
      spark.range(0, 1, 1, 1).select(bucketed.fold(fields)(b =>
          fields.filterNot(_._1 == "buckets") :+ ("buckets" -> b._2))
        .map { case (n, v) => lit(v).as(n) }: _*)
        .write.mode("overwrite").parquet(s"$dir/meta")
      vectors(i).foreach { case (n, v) =>
        val (id, c) = vectorCols(n)
        saveVectors(spark, s"$dir/$n", id, c, v)
      }
      for ((n, df) <- frames(i); t = spec(n)
           if bucketed.isDefined || !t.derived) {
        val path = s"$dir/$n"
        (bucketed, t.partition) match {
          case (Some((prefix, b)), _) if t.keys.nonEmpty =>
            df.write.mode("overwrite")
              .bucketBy(b, t.keys.head, t.keys.tail: _*)
              .sortBy(t.keys.head, t.keys.tail: _*)
              .option("path", path)
              .saveAsTable(bucketedTableName(prefix, n, dir))
          // one packed file per directory: the per-file overhead would
          // otherwise dominate a probed read
          case (_, Some(c)) if partitioned =>
            df.repartition(col(c)).write.mode("overwrite").partitionBy(c)
              .parquet(path)
          case _ => df.write.mode("overwrite").parquet(path)
        }
      }
    }

    private def open(spark: SparkSession, dir: String,
                     tablePrefix: Option[String]): Stored = {
      val meta = spark.read.parquet(s"$dir/meta").head()
      def vecs(n: String) = {
        val (id, c) = vectorCols(n)
        loadVectors(spark, s"$dir/$n", id, c)
      }
      def table(n: String): DataFrame = {
        val t = spec(n)
        val path = s"$dir/$n"
        tablePrefix match {
          case Some(prefix) if t.keys.nonEmpty =>
            resolveBucketedTable(spark, bucketedTableName(prefix, n, dir),
              path, t.keys, meta.getAs[Int]("buckets"),
              fallbackSchema = t.empty)
          case _ => t.empty.fold(spark.read.parquet(path))(
            readOrEmpty(spark, path, _))
        }
      }
      val a = new Stored(meta, vecs, table)
      require(a.version <= version,
        s"unsupported $name format_version ${a.version} (this build " +
          s"reads up to $version) — rebuild the index")
      a
    }
  }

  private def vectorCols(table: String): (String, String) = table match {
    case "cells" => ("cell_id", "centroid")
    case "codebook" => ("sub_id", "entries")
    case _ => ("row_id", "row")
  }

  /** The OPQ/PCA rotation tables of a rotated index. */
  private def rotationVectors(r: Option[Embeddings.PcaModel]) =
    r.toSeq.flatMap(r => Seq("rotation_basis" -> r.basis,
      "rotation_mean" -> Array(r.mean),
      "rotation_eigenvalues" -> Array(r.eigenvalues)))

  private val graphNodes = "n_id BIGINT, emb ARRAY<FLOAT>, cell INT, " +
    "cell2 INT, neighbors ARRAY<BIGINT>"
  private val hnswNodes = "n_id BIGINT, emb ARRAY<FLOAT>, cell INT, level INT"
  private val hnswAdj = "layer INT, n_id BIGINT, cell INT, cell2 INT, " +
    "neighbors ARRAY<BIGINT>"

  /** Flat graph index. Version 2 = α-pruned: a reader of version 1
    * would append under the kNN merge rule and silently break the
    * pruned index's rebuild-equivalence, so plain kNN indexes stay 1.
    * `alpha` is NaN for None; metas older than α carry neither `alpha`
    * nor `pool_size`.
    */
  object Graph extends Kind[GraphIndex]("graph index", 2) {
    override def stamp(i: GraphIndex) = if (i.alpha.isDefined) 2 else 1
    def meta(i: GraphIndex) = Seq("nlist" -> i.cells.length,
      "degree" -> i.degree, "cross_degree" -> i.crossDegree,
      "entries_per_cell" -> i.entriesPerCell,
      "alpha" -> i.alpha.getOrElse(Double.NaN), "pool_size" -> i.poolSize,
      "buckets" -> 0)
    override def vectors(i: GraphIndex) = Seq("cells" -> i.cells)
    override val tables = Seq(
      Table("entries", empty = Some("cell INT, entry_id BIGINT")),
      Table("nodes", Seq("n_id"), empty = Some(graphNodes)))
    def frames(i: GraphIndex) = Seq("entries" -> i.entries,
      "nodes" -> i.nodes)
    def decode(a: Stored) = GraphIndex(a.table("nodes"),
      a.table("entries"), a.vectors("cells"), a[Int]("degree"),
      a[Int]("cross_degree"), a[Int]("entries_per_cell"),
      a.opt[Double]("alpha").filterNot(_.isNaN),
      a.opt[Int]("pool_size").getOrElse(0))
  }

  /** PQ graph index: nodes carry codes, never floats. Version 2 =
    * rotated: a reader that ignored the rotation would serve unrotated
    * queries against rotated codes. Older metas lack `has_rotation`
    * and the degree columns (0 = unknown skips the expansion budget
    * guard).
    */
  object GraphPq extends Kind[GraphPqIndex]("graph-pq index", 2) {
    override def stamp(i: GraphPqIndex) = if (i.rotation.isDefined) 2 else 1
    def meta(i: GraphPqIndex) = Seq("nlist" -> i.cells.length,
      "m" -> i.m, "ks" -> i.ks, "dim" -> i.dim,
      "has_rotation" -> i.rotation.isDefined, "degree" -> i.degree,
      "cross_degree" -> i.crossDegree)
    override def vectors(i: GraphPqIndex) = Seq("cells" -> i.cells,
      "codebook" -> i.codebook) ++ rotationVectors(i.rotation)
    def frames(i: GraphPqIndex) = Seq("entries" -> i.entries,
      "nodes" -> i.nodes)
    def decode(a: Stored) = GraphPqIndex(a.table("nodes"),
      a.table("entries"), a.vectors("cells"), a.vectors("codebook"),
      a[Int]("m"), a[Int]("ks"), a[Int]("dim"),
      if (a.opt[Boolean]("has_rotation").contains(true)) Some(a.rotation)
      else None,
      a.opt[Int]("degree").getOrElse(0),
      a.opt[Int]("cross_degree").getOrElse(0))
  }

  /** Layered index. Version 2 = STRIDED layer grids: a version-1
    * artifact's adjacency cells live on the old PREFIX grid, where the
    * incremental verbs would compute wrong affected sets with no error.
    */
  object Hnsw extends Kind[HnswIndex]("hnsw index", 2) {
    def meta(i: HnswIndex) = Seq("nlist" -> i.cells.length,
      "degree" -> i.degree, "cross_degree" -> i.crossDegree,
      "level_fanout" -> i.levelFanout, "max_level" -> i.maxLevel,
      "alpha" -> i.alpha.getOrElse(Double.NaN), "pool_size" -> i.poolSize,
      "buckets" -> 0)
    override def vectors(i: HnswIndex) = Seq("cells" -> i.cells)
    override val tables = Seq(
      Table("nodes", Seq("n_id"), empty = Some(hnswNodes)),
      Table("adj", Seq("n_id"), empty = Some(hnswAdj)))
    def frames(i: HnswIndex) = Seq("nodes" -> i.nodes, "adj" -> i.adj)
    def decode(a: Stored) = {
      require(a.version != 1,
        "hnsw index format_version 1 predates the strided layer grids: " +
          "its adjacency cell/cell2 ids live on the PREFIX grid while " +
          "the append/delete/merge verbs recompute cells on the STRIDED " +
          "grid — their affected sets would be silently wrong. Rebuild " +
          "the index (or re-save it from a live HnswIndex) first")
      HnswIndex(a.table("nodes"), a.table("adj"), a.vectors("cells"),
        a[Int]("degree"), a[Int]("cross_degree"), a[Int]("level_fanout"),
        a[Int]("max_level"), Some(a[Double]("alpha")).filterNot(_.isNaN),
        a[Int]("pool_size"))
    }
  }

  /** Layered PQ index; version 2 = rotated (the [[GraphPq]] reason).
    * The upper-layer float table is optional (metas older than it
    * lack `has_upper_floats`): without it the descent is all-ADC.
    */
  object HnswPq extends Kind[HnswPqIndex]("hnsw-pq index", 2) {
    override def stamp(i: HnswPqIndex) = if (i.rotation.isDefined) 2 else 1
    def meta(i: HnswPqIndex) = Seq("nlist" -> i.cells.length,
      "m" -> i.m, "ks" -> i.ks, "dim" -> i.dim,
      "level_fanout" -> i.levelFanout, "max_level" -> i.maxLevel,
      "has_rotation" -> i.rotation.isDefined,
      "has_upper_floats" -> i.upperFloats.isDefined)
    override def vectors(i: HnswPqIndex) = Seq("cells" -> i.cells,
      "codebook" -> i.codebook) ++ rotationVectors(i.rotation)
    def frames(i: HnswPqIndex) = Seq("nodes" -> i.nodes, "adj" -> i.adj) ++
      i.upperFloats.map("upper_floats" -> _)
    def decode(a: Stored) = HnswPqIndex(a.table("nodes"),
      a.table("adj"), a.vectors("cells"), a.vectors("codebook"),
      a[Int]("m"), a[Int]("ks"), a[Int]("dim"), a[Int]("level_fanout"),
      a[Int]("max_level"),
      if (a[Boolean]("has_rotation")) Some(a.rotation) else None,
      if (a.opt[Boolean]("has_upper_floats").contains(true))
        Some(a.table("upper_floats"))
      else None)
  }

  /** Residual IVF-PQ index. The cell-partitioned layout puts each
    * inverted list in its own `codes/cell=<c>` directory, so a pruned
    * serve reads only the probed ones; the plain load discovers the
    * partitions, so both layouts stamp version 1.
    */
  object IvfPq extends Kind[IvfPqIndex]("IVF-PQ index", 1) {
    def meta(i: IvfPqIndex) = Seq("m" -> i.m, "ks" -> i.ks,
      "dim" -> i.dim, "nlist" -> i.cells.length)
    override def vectors(i: IvfPqIndex) = Seq("cells" -> i.cells,
      "codebook" -> i.codebook)
    override val tables = Seq(Table("codes", partition = Some("cell"),
      empty = Some("n_id BIGINT, codes ARRAY<INT>, cell INT")))
    def frames(i: IvfPqIndex) = Seq("codes" -> i.codes)
    def decode(a: Stored) = IvfPqIndex(a.vectors("cells"),
      a.vectors("codebook"), a.table("codes"), a[Int]("m"), a[Int]("ks"),
      a[Int]("dim"))
  }

  /** MinHash LSH index. The bucketed layout adds the BANDED rows (the
    * explode paid once, at save) bucketed on (band_idx, band_hash),
    * the input of [[Dedup.minhashIndexPairsBanded]].
    */
  object MinHash extends Kind[MinHashIndex]("minhash index", 1) {
    def meta(i: MinHashIndex) = Seq("k" -> i.k, "bands" -> i.bands,
      "shingle_n" -> i.shingleN, "seed" -> i.seed)
    override val tables = Seq(Table("banded", Seq("band_idx", "band_hash"),
      empty = Some("doc_id BIGINT, sig ARRAY<BIGINT>, band_idx INT, " +
        "band_hash BIGINT"), derived = true))
    def frames(i: MinHashIndex) = Seq("sigs" -> i.sigs,
      "banded" -> i.sigs.select(col("doc_id"), col("sig"),
        posexplode(graft.functions.BandHashes.bandHashes(col("sig"),
          i.bands)).as(Seq("band_idx", "band_hash"))))
    def decode(a: Stored) = MinHashIndex(a.table("sigs"), a[Int]("k"),
      a[Int]("bands"), a[Int]("shingle_n"), a[Long]("seed"))
  }

  /** Substring index. `dict_pairs` and `keys` may legally be EMPTY
    * (minLen 2: no doubling rounds; sub-minLen docs: no keys). Version
    * 2 (dict_pairs also partitioned by width) is no longer written; it
    * fails the version check and must be rebuilt.
    */
  object Substr extends Kind[SubstrIndex]("substr index", 1) {
    def meta(i: SubstrIndex) = Seq("min_len" -> i.minLen,
      "target_w" -> i.targetW, "stride" -> i.stride, "max_id" -> i.maxId)
    override val tables = Seq(
      Table("dict_pairs", Seq("__r1", "__r2"),
        empty = Some("__w INT, __r1 BIGINT, __r2 BIGINT, __cls BIGINT")),
      Table("keys", Seq("__r1", "__r2"),
        empty = Some("__id BIGINT, __off BIGINT, __r1 BIGINT, __r2 BIGINT")))
    def frames(i: SubstrIndex) = Seq("dict_chars" -> i.dictChars,
      "dict_pairs" -> i.dictPairs, "keys" -> i.keys)
    def decode(a: Stored) = SubstrIndex(a.table("dict_chars"),
      a.table("dict_pairs"), a.table("keys"), a[Int]("min_len"),
      a[Int]("target_w"), a[Long]("stride"), a[Long]("max_id"))
  }

  /** Unigram tokenizer model: counts AND fixed-point costs round-trip,
    * so a reloaded model segments bit-identically; pieces reload in
    * sorted order.
    */
  object Unigram extends Kind[UnigramModel]("unigram model", 1) {
    def meta(m: UnigramModel) = Seq("max_piece_len" -> m.maxPieceLen)
    def frames(m: UnigramModel) = Seq("pieces" ->
      SparkSession.active.createDataFrame(m.pieces.indices.map(i =>
        (m.pieces(i), m.counts(i), m.costInt(i)))).toDF("piece", "count",
        "cost"))
    def decode(a: Stored) = {
      val rows = a.table("pieces").orderBy("piece").collect()
      UnigramModel(rows.map(_.getAs[String]("piece")),
        rows.map(_.getAs[Long]("count")), rows.map(_.getAs[Long]("cost")),
        a[Int]("max_piece_len"))
    }
  }

  /** BM25 corpus state (term, df, tf; the "" row is the doc-count
    * sentinel): a nightly refresh loads, merges and saves it without
    * re-scanning the corpus.
    */
  object Bm25 extends Kind[DataFrame]("bm25 state", 1) {
    def meta(state: DataFrame) = Nil
    def frames(state: DataFrame) = Seq("state" ->
      state.select("term", "df", "tf"))
    def decode(a: Stored) = a.table("state")
  }

  private def saveVectors(spark: SparkSession, dir: String, idCol: String,
                          vecCol: String, vecs: Array[Array[Double]]): Unit = {
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF(idCol, vecCol)
      .write.mode("overwrite").parquet(dir)
  }

  private def loadVectors(spark: SparkSession, dir: String, idCol: String,
                          vecCol: String): Array[Array[Double]] =
    spark.read.parquet(dir).orderBy(idCol).collect()
      .map(r => r.getSeq[Double](r.fieldIndex(vecCol)).toArray)

  /** Persist a deployment's FROZEN cell→shard routing map. The map is
    * serving state that CANNOT be recovered from shard contents after
    * drift ([[graft.ops.Similarity.shardCellMapFromState]] returns a
    * fresh pro-rata cut, not the map the fleet was last rebalanced
    * to), so an at-rest deployment must carry it. `nShards` rides
    * along because a drifted map may leave the highest shard with no
    * cells — max(shard)+1 would under-count the fleet.
    */
  private def saveCellMap(spark: SparkSession, dir: String,
                          map: Array[Int],
                          nShards: Int): Unit = {
    requireCellMap("saveCellMap", "cellMap", map, map.length, nShards)
    import spark.implicits._
    map.indices.map(c => (c + 1, map(c), nShards, map.length)).toDF(
        "cell", "shard", "n_shards", "nlist")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a [[saveCellMap]] artifact: (cell→shard map, nShards).
    * Fails fast on a torn artifact — missing or duplicated cells, and
    * in particular TAIL truncation: sizing the map from the surviving
    * row count would let an artifact that lost only its
    * highest-numbered cells pass the range/duplicate checks and
    * surface later as a confusing nlist-length mismatch in whichever
    * verb consumes it, so the artifact carries `nlist` and the row
    * count must equal it. */
  def loadCellMap(spark: SparkSession, dir: String)
      : (Array[Int], Int) = {
    val rows = spark.read.parquet(dir)
      .select("cell", "shard", "n_shards", "nlist").collect()
    require(rows.nonEmpty, s"loadCellMap: empty artifact at $dir")
    val nShards = rows.head.getInt(2)
    val nlist = rows.head.getInt(3)
    require(rows.length == nlist,
      s"loadCellMap: torn artifact at $dir (${rows.length} rows for " +
        s"declared nlist=$nlist — tail truncation?)")
    val map = new Array[Int](nlist)
    val seen = new Array[Boolean](nlist)
    rows.foreach { r =>
      val c = r.getInt(0)
      require(r.getInt(3) == nlist,
        s"loadCellMap: torn artifact at $dir (cell $c declares " +
          s"nlist=${r.getInt(3)}, head declares $nlist)")
      require(c >= 1 && c <= map.length && !seen(c - 1),
        s"loadCellMap: torn artifact at $dir (cell $c out of range " +
          "or duplicated)")
      seen(c - 1) = true
      map(c - 1) = r.getInt(1)
    }
    requireCellMap("loadCellMap", "cellMap", map, map.length, nShards)
    (map, nShards)
  }

  /** Cell→shard map validation shared by every routed verb (movers,
    * routed appends): length must cover the frozen codebook, ids must
    * name real shards. */
  private[ops] def requireCellMap(what: String, which: String,
                                  map: Array[Int], nlist: Int,
                                  nShards: Int): Unit = {
    require(map.length == nlist,
      s"$what: $which length ${map.length} != nlist $nlist")
    require(map.forall(s => s >= 0 && s < nShards),
      s"$what: $which names shard ids outside [0, $nShards)")
  }

  /** The shared bounded-concurrency runner for independent
    * driver-sequenced job chains (per-shard save and load,
    * [[appendRouted]]'s per-shard appends, and the gate-level overlap
    * of `OpsQueries.par2`..`parSeq` and q32): a DEDICATED fixed pool —
    * the chains block on Spark actions, and parking blocking work on
    * the global ExecutionContext starves its other users.
    */
  private[graft] def runConcurrently[A, B](items: Seq[A],
                                         parallelism: Int)(f: A => B)
      : Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(items.length, parallelism)))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = items.map(a => Future(f(a)))
      fs.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** The shared routed-append skeleton (one per tier family): route
    * the arriving batch to its shards under the deployment's FROZEN
    * cell→shard map ([[Similarity.routeByCellMap]] — one no-shuffle
    * projection, checkpointed once since every shard's append slices
    * it), then run the tier's rebuild-exact append per TOUCHED shard
    * concurrently; untouched shards pass through verbatim (one
    * nShards-bounded occupancy count picks them — an empty-batch
    * append would still pay the verb's fail-fast actions per shard).
    * This is the nightly-ingest verb for a sharded deployment: batch
    * work ∝ arrivals + their touched cells, per shard, never the
    * corpus.
    */
  private[ops] def appendRouted[I](what: String, shards: Seq[I],
                                   cells: Array[Array[Double]],
                                   batch: DataFrame,
                                   cellMap: Array[Int],
                                   parallelism: Int)(
      append: (I, DataFrame) => I): Seq[I] = {
    require(shards.nonEmpty, s"$what: no shards")
    val routed = Similarity.routeByCellMap(
        batch.select("vec_id", "embedding"), cells, cellMap,
        shards.length)
      .localCheckpoint()
    val occupied = routed.groupBy("shard").count().collect()
      .map(_.getInt(0)).toSet
    runConcurrently(shards.zipWithIndex, parallelism) { case (s, i) =>
      if (occupied(i))
        append(s, routed.filter(col("shard") === i)
          .select("vec_id", "embedding"))
      else s
    }
  }

  /** In-batch duplicate-id fail-fast shared by the append verbs: a
    * repeated id would insert two state rows for one element with no
    * error. One helper (with [[requireIdsNotIndexed]] and
    * [[requireDisjointIds]]) instead of a copy per index family, so
    * the message formats and both-direction semantics cannot drift.
    */
  def requireBatchIdsUnique(what: String, batch: DataFrame,
                            idCol: String): Unit = {
    val bs = batch.agg(count(lit(1)), count_distinct(col(idCol))).head()
    require(bs.getLong(0) == bs.getLong(1),
      s"$what: batch repeats ${bs.getLong(0) - bs.getLong(1)} id(s) — " +
        "de-duplicate the batch")
  }

  /** Batch-vs-index collision fail-fast shared by the append verbs. */
  def requireIdsNotIndexed(what: String, indexed: DataFrame,
                           batch: DataFrame, idCol: String): Unit = {
    val dup = indexed.select(idCol)
      .join(batch.select(idCol), Seq(idCol), "left_semi").count()
    require(dup == 0,
      s"$what: $dup batch ids already indexed — delete them first or " +
        "de-duplicate the batch")
  }

  /** Disjoint-shard-id fail-fast shared by the merge verbs. */
  def requireDisjointIds(what: String, a: DataFrame, b: DataFrame,
                         idCol: String): Unit = {
    val coll = a.select(idCol)
      .join(b.select(idCol), Seq(idCol), "left_semi").count()
    require(coll == 0,
      s"$what: $coll ids are present in BOTH shard indexes — shards " +
        "must partition the corpus disjointly")
  }

  /** True iff the saved relation COMMITTED — the guard that separates
    * "legal empty relation" (fallback applies) from "missing, partial,
    * or crashed-write artifact" (fail loudly). The `_SUCCESS` marker
    * is written by every committed save, INCLUDING empty ones, and is
    * absent from a bare directory, a killed write (only `_temporary/`),
    * or a copy that never reached the marker — bare directory
    * existence would pass all three.
    *
    * REQUIREMENT: the save verbs assume the default
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true`. Under a
    * committer configured to skip markers, a committed-but-empty
    * relation is indistinguishable from a crashed write and this guard
    * fails CLOSED (load throws) — re-enable the marker or re-save.
    */
  private def relationCommitted(spark: SparkSession,
                             location: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(location, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read a saved relation, tolerating the EMPTY case: a directory
    * with no parquet data files (only _SUCCESS) comes back as an empty
    * DataFrame with the caller's canonical schema; a MISSING directory
    * still throws. The plain-loader counterpart of
    * [[resolveBucketedTable]]'s fallback, so both load paths agree on
    * which artifacts are legal.
    */
  private def readOrEmpty(spark: SparkSession, location: String,
                  fallbackSchema: String)
      : org.apache.spark.sql.DataFrame =
    try spark.read.parquet(location)
    catch {
      case _: org.apache.spark.sql.AnalysisException
          if relationCommitted(spark, location) =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(fallbackSchema))
    }

  /** Catalog name for a bucketed persistence table: the caller's
    * prefix plus a suffix derived from the save directory, so two
    * concurrent saves with the same prefix into DIFFERENT dirs never
    * collide on a global table name (same prefix + same dir IS a
    * genuine overwrite). The directory is folded in as a 64-bit
    * SHA-256 prefix over the normalized path — wide enough that a
    * cross-directory collision is not a practical event (the 32-bit
    * `String.hashCode` it replaces collides at ~77k directories), and
    * normalization keeps `/a/b` and `/a/b/` the same table.
    */
  def bucketedTableName(prefix: String, suffix: String,
                        dir: String): String = {
    val normalized = new org.apache.hadoop.fs.Path(dir).toString
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = sha.take(8).map(b => f"$b%02x").mkString
    s"${prefix}_${suffix}_$hex"
  }

  /** Resolve a bucketed catalog table written by a `bucketBy(...)
    * .option("path", location).saveAsTable(name)` save: if the name is
    * still registered (same session, or a persistent metastore), read
    * it; otherwise RE-REGISTER it from the parquet files at `location`
    * with the same bucket spec — the data and its bucketed file layout
    * are durable on disk, only the catalog entry was session-scoped,
    * so a fresh session re-creates the external table and the
    * exchange-free readout plans keep working without a metastore.
    */
  def resolveBucketedTable(spark: SparkSession, table: String,
                           location: String, bucketCols: Seq[String],
                           buckets: Int,
                           fallbackSchema: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    // table/prefix strings reach a CREATE TABLE statement verbatim —
    // confine them to plain identifiers up front, and escape the one
    // legal-but-quote-breaking character a path may carry.
    require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"bucketed table name must be a plain identifier, got '$table'")
    // a stale catalog entry with the expected name but a DIFFERENT
    // storage location (dropped+recreated dir, or a digest collision)
    // would silently serve another directory's data — verify and
    // re-register on mismatch.
    if (spark.catalog.tableExists(table)) {
      val registered = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location
      val hconf = spark.sparkContext.hadoopConfiguration
      def qualified(s: String): java.net.URI = {
        val p = new org.apache.hadoop.fs.Path(s)
        p.getFileSystem(hconf).makeQualified(p).toUri
      }
      if (qualified(registered.toString) != qualified(location))
        spark.sql(s"DROP TABLE $table")
    }
    if (!spark.catalog.tableExists(table)) {
      // an EMPTY saved relation (a degenerate but legal index state)
      // leaves no parquet data files to infer a schema from — fall
      // back to the caller's canonical DDL so the cross-session load
      // still registers a (trivially empty) table instead of throwing.
      // ONLY for that case: a MISSING directory is a broken/partially
      // copied artifact and must fail loudly, not register as empty
      // (the silent-empty-load class this fallback exists to avoid).
      val schema =
        try spark.read.parquet(location).schema.toDDL
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if relationCommitted(spark, location) =>
            fallbackSchema.getOrElse(throw e)
        }
      val cols = bucketCols.mkString(", ")
      val escapedLocation = location.replace("'", "''")
      spark.sql(s"CREATE TABLE $table ($schema) USING parquet" +
        s" CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS " +
        s"LOCATION '$escapedLocation'")
    }
    spark.table(table)
  }
}
