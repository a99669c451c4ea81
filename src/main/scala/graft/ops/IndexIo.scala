package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, element_at, lit}

/** Shared persistence scaffolding for the index families' bounded
  * vector tables (coarse cells, PQ codebooks): one writer/reader pair
  * instead of a copy per index flavor, so a layout change lands
  * everywhere at once. Tables are tiny (nlist / m rows); the ordered
  * collect-back is the codebook discipline.
  */
private[graft] object IndexIo {

  def saveVectors(spark: SparkSession, dir: String, idCol: String,
                  vecCol: String, vecs: Array[Array[Double]]): Unit = {
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF(idCol, vecCol)
      .write.mode("overwrite").parquet(dir)
  }

  def loadVectors(spark: SparkSession, dir: String, idCol: String,
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
  def saveCellMap(spark: SparkSession, dir: String, map: Array[Int],
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

  /** Persist a trained OPQ/PCA rotation under `dir` — ONE layout
    * (basis/mean/eigenvalues tables) shared by every rotated index
    * family, so a model-shape change cannot silently diverge between
    * the flat and layered savers.
    */
  def saveRotation(spark: SparkSession, dir: String,
                   rot: graft.ops.Embeddings.PcaModel): Unit = {
    saveVectors(spark, s"$dir/rotation_basis", "row_id", "row", rot.basis)
    saveVectors(spark, s"$dir/rotation_mean", "row_id", "row",
      Array(rot.mean))
    saveVectors(spark, s"$dir/rotation_eigenvalues", "row_id", "row",
      Array(rot.eigenvalues))
  }

  def loadRotation(spark: SparkSession,
                   dir: String): graft.ops.Embeddings.PcaModel =
    graft.ops.Embeddings.PcaModel(
      loadVectors(spark, s"$dir/rotation_mean", "row_id", "row").head,
      loadVectors(spark, s"$dir/rotation_eigenvalues", "row_id",
        "row").head,
      loadVectors(spark, s"$dir/rotation_basis", "row_id", "row"))

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
  private[ops] def relationCommitted(spark: SparkSession,
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
  def readOrEmpty(spark: SparkSession, location: String,
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
                           partitionCols: Seq[String] = Nil,
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
      val partClause =
        if (partitionCols.isEmpty) ""
        else partitionCols.mkString(" PARTITIONED BY (", ", ", ")")
      val escapedLocation = location.replace("'", "''")
      spark.sql(s"CREATE TABLE $table ($schema) USING parquet" +
        partClause +
        s" CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS " +
        s"LOCATION '$escapedLocation'")
      // a partitioned external table starts with an empty partition
      // list — discover the on-disk directories or every read is empty
      if (partitionCols.nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $table")
    }
    spark.table(table)
  }
}
