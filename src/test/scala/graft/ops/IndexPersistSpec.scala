package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Index persistence: the parquet round-trip must preserve the trained
  * artifacts exactly (cells/codebook arrays bit-identical), the reloaded
  * index must answer queries identically to the in-memory build, and
  * the serving plan must scan codes — never the float corpus.
  */
class IndexPersistSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  private def vecs(n: Int) = (0 until n).map { i =>
    (i.toLong, Array.tabulate(dim)(j =>
      math.sin(i * 31 + j * 7).abs + 0.125 * (i % 5)))
  }.toDF("vec_id", "embedding")

  test("save/load round-trips artifacts bit-identically and answers match") {
    val corpus = vecs(120)
    val idx = Similarity.buildIvfPqIndex(corpus, nlist = 8, m = 4, ks = 8,
      dim = dim)
    val dir = Files.createTempDirectory("graft_idx").toString
    IndexIo.IvfPq.save(idx, dir)
    val back = IndexIo.IvfPq.load(spark, dir)

    back.m shouldBe idx.m
    back.ks shouldBe idx.ks
    back.dim shouldBe idx.dim
    back.cells.map(_.toSeq).toSeq shouldBe idx.cells.map(_.toSeq).toSeq
    back.codebook.map(_.toSeq).toSeq shouldBe idx.codebook.map(_.toSeq).toSeq

    val q = corpus.filter(col("vec_id") < 5)
    val mem = Similarity.queryIvfPqIndex(q, idx, 3, nprobe = 8)
      .select("q_id", "n_id", "rank").collect().toSet
    val disk = Similarity.queryIvfPqIndex(q, back, 3, nprobe = 8)
      .select("q_id", "n_id", "rank").collect().toSet
    disk shouldBe mem
  }

  test("probe-all query over a built index equals the exhaustive residual scan") {
    val corpus = vecs(120)
    val q = corpus.filter(col("vec_id") < 5)
    val idx = Similarity.buildIvfPqIndex(corpus, nlist = 8, m = 4, ks = 8,
      dim = dim)
    val got = Similarity.queryIvfPqIndex(q, idx, 3, nprobe = 8)
      .select("q_id", "n_id", "rank").collect().toSet
    val base = Similarity.pqResidualTopK(q, corpus, 3, nlist = 8,
        m = 4, ks = 8, dim = dim)
      .select("q_id", "n_id", "rank").collect().toSet
    got shouldBe base
  }

  test("append with frozen artifacts equals a rebuild over the union") {
    val all = vecs(120)
    val half = all.filter(col("vec_id") < 60)
    val rest = all.filter(col("vec_id") >= 60)
    // seeds (first nlist/ks vec_ids) live in the first half, so default
    // artifacts are identical on both paths
    val grown = Similarity.appendToIvfPqIndex(
      Similarity.buildIvfPqIndex(half, nlist = 8, m = 4, ks = 8, dim = dim),
      rest)
    val full = Similarity.buildIvfPqIndex(all, nlist = 8, m = 4, ks = 8,
      dim = dim)
    grown.codes.collect().toSet shouldBe full.codes.collect().toSet
  }

  test("delete with frozen artifacts equals a rebuild over the remainder") {
    import spark.implicits._
    val all = vecs(120)
    // keep the first-ks seeds so both paths derive identical artifacts
    val delCond = col("vec_id") >= 20 && col("vec_id") % 3 === 1
    val shrunk = Similarity.deleteFromIvfPqIndex(
      Similarity.buildIvfPqIndex(all, nlist = 8, m = 4, ks = 8, dim = dim),
      all.filter(delCond).select("vec_id"))
    val rebuilt = Similarity.buildIvfPqIndex(all.filter(!delCond),
      nlist = 8, m = 4, ks = 8, dim = dim)
    shrunk.codes.collect().toSet shouldBe rebuilt.codes.collect().toSet
    // non-member ids are a no-op
    Similarity.deleteFromIvfPqIndex(rebuilt,
        Seq(900L).toDF("vec_id")).codes.count() shouldBe
      rebuilt.codes.count()
    // delete composes with append: re-add different vectors, still
    // equal to the build over that corpus
    val extra = vecs(140).filter(col("vec_id") >= 120)
    val grown = Similarity.appendToIvfPqIndex(shrunk, extra)
    val target = Similarity.buildIvfPqIndex(
      all.filter(!delCond).unionByName(extra), nlist = 8, m = 4, ks = 8,
      dim = dim)
    grown.codes.collect().toSet shouldBe target.codes.collect().toSet
  }

  test("the serving plan reads codes only — no embedding column in the scan") {
    val corpus = vecs(120)
    val idx = Similarity.buildIvfPqIndex(corpus, nlist = 8, m = 4, ks = 8,
      dim = dim)
    val dir = Files.createTempDirectory("graft_idx2").toString
    IndexIo.IvfPq.save(idx, dir)
    val back = IndexIo.IvfPq.load(spark, dir)
    val plan = Similarity.queryIvfPqIndex(
        corpus.filter(col("vec_id") < 3), back, 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the corpus side of the join is the parquet codes scan; its read
    // schema must not contain the float vectors
    assert(plan.contains("codes"), plan.take(500))
    assert(!plan.contains("n_emb"), "serving plan fetched corpus floats")
  }

  test("cell-partitioned layout: round-trip equality, and the pruned serve reads only probed directories") {
    val corpus = vecs(120)
    val idx = Similarity.buildIvfPqIndex(corpus, nlist = 8, m = 4,
      ks = 8, dim = dim)
    val dir = Files.createTempDirectory("graft_idx_part").toString
    IndexIo.IvfPq.savePartitioned(idx, dir)
    // the layout is real: one directory per coarse cell
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    cellDirs should not be empty
    // partition discovery restores the cell column — content equal
    val back = IndexIo.IvfPq.load(spark, dir)
    def codeMap(i: Similarity.IvfPqIndex) = i.codes
      .select("n_id", "cell", "codes").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Byte](2))))
      .toMap
    codeMap(back) shouldBe codeMap(idx)
    // pruned and plain serves agree with the in-memory index
    val q = corpus.filter(col("vec_id") < 5)
    val mem = Similarity.queryIvfPqIndex(q, idx, 3, nprobe = 2)
      .select("q_id", "n_id", "rank").collect().toSet
    Similarity.queryIvfPqIndex(q, back, 3, nprobe = 2)
      .select("q_id", "n_id", "rank").collect().toSet shouldBe mem
    Similarity.queryIvfPqIndexPruned(q, back, 3, nprobe = 2)
      .select("q_id", "n_id", "rank").collect().toSet shouldBe mem
    // the point of the layout: the probed-cell filter lands on the
    // SCAN as a partition filter — bytes read ∝ probed cells, the
    // FAISS per-inverted-list shape on disk
    val plan = Similarity.queryIvfPqIndexPruned(q, back, 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan) should
      not be empty
    // ... and the unpartitioned layout keeps working through the same
    // pruned serve (the filter is then a data filter, not a layout
    // contract)
    val plainDir = Files.createTempDirectory("graft_idx_plain").toString
    IndexIo.IvfPq.save(idx, plainDir)
    Similarity.queryIvfPqIndexPruned(q,
        IndexIo.IvfPq.load(spark, plainDir), 3, nprobe = 2)
      .select("q_id", "n_id", "rank").collect().toSet shouldBe mem
  }

  test("routed scatter over PERSISTED partitioned shards: exact, probed-directory reads, untouched shards unplanned") {
    // the full at-rest serving story: shards cut spatially, each saved
    // cell-PARTITIONED, reloaded lazily — a routed scatter then (a)
    // never plans an untouched shard's scan, and (b) reads only the
    // probed cell directories of the shards it does touch
    val corpus = vecs(120).localCheckpoint()
    val full = Similarity.buildIvfPqIndex(corpus, nlist = 8, m = 4,
      ks = 8, dim = dim)
    val map = Similarity.shardCellMap(corpus, full.cells, 3)
    val sharded = Similarity.shardByCells(corpus, full.cells, 3)
      .localCheckpoint()
    val dirs = (0 until 3).map(i =>
      Files.createTempDirectory(s"graft_scat_shard$i").toString)
    (0 until 3).foreach { i =>
      IndexIo.IvfPq.savePartitioned(Similarity.buildIvfPqIndex(
        sharded.filter(col("shard") === i).drop("shard"), nlist = 8,
        m = 4, ks = 8, dim = dim, centroids = Some(full.cells),
        codebook = Some(full.codebook)), dirs(i))
    }
    val loaded = dirs.map(d => IndexIo.IvfPq.load(spark, d))
    // exactness: routed scatter over the saved shards == the merged
    // in-memory serve, rank for rank
    val q = corpus.filter(col("vec_id") < 8)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "rank").collect()
      .map(x => (x.getLong(0), x.getInt(2)) -> x.getLong(1)).toMap
    keyed(Similarity.queryIvfPqIndexScatter(q, loaded, 4, nprobe = 3,
      cellShardMap = Some(map))) shouldBe
      keyed(Similarity.queryIvfPqIndex(q, full, 4, nprobe = 3))
    // a home batch at nprobe=1 touches ONE shard: the routed plan
    // must scan that shard's codes directory and NO other's, with the
    // probed-cell partition filter on the scan it does make
    val qHome = sharded.filter(col("shard") === 1).drop("shard")
      .orderBy("vec_id").limit(5).localCheckpoint()
    val routed = Similarity.queryIvfPqIndexScatter(qHome, loaded, 4,
      nprobe = 1, cellShardMap = Some(map))
    val plan = routed.queryExecution.executedPlan.toString
    plan should include(new java.io.File(dirs(1)).getName)
    plan should not include new java.io.File(dirs(0)).getName
    plan should not include new java.io.File(dirs(2)).getName
    "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan) should
      not be empty
    keyed(routed) shouldBe keyed(Similarity.queryIvfPqIndexScatter(
      qHome, loaded, 4, nprobe = 1))
  }

  test("sharded deployment persists as one artifact: map + shards round-trip, empty shards included") {
    // the at-rest DEPLOYMENT story: the frozen cell→shard map is
    // serving state a restart cannot recover from shard contents
    // (after drift the pro-rata re-cut differs from the deployed
    // map), so save/load carries it alongside the shard layouts
    val corpus = vecs(150)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as float))")
          .as("embedding"))
    val full = Similarity.buildIvfPqIndex(corpus, nlist = 8, m = 4,
      ks = 8, dim = dim)
    val map = Similarity.shardCellMap(corpus, full.cells, 3)
    // drift the map by hand so shard 2 ends up EMPTY — the load must
    // still come back three wide
    val drifted = map.map(s => if (s == 2) 1 else s)
    def slices(m: Array[Int]) = Similarity.routeByCellMap(corpus,
      full.cells, m, 3)
    val shards = (0 until 3).map(i =>
      Similarity.buildIvfPqIndex(
        slices(drifted).filter(col("shard") === i).drop("shard"),
        nlist = 8, m = 4, ks = 8, dim = dim,
        centroids = Some(full.cells), codebook = Some(full.codebook)))
    val dir = Files.createTempDirectory("graft_fleet").toString
    IndexIo.IvfPq.saveShards(shards, drifted, dir)
    val (back, mapBack) = IndexIo.IvfPq.loadShards(spark, dir)
    mapBack.toSeq shouldBe drifted.toSeq
    back.length shouldBe 3
    back(2).codes.count() shouldBe 0L
    // routed scatter over the reloaded fleet equals the in-memory one
    val q = corpus.filter(col("vec_id") < 5)
    def served(ss: Seq[Similarity.IvfPqIndex]) =
      Similarity.queryIvfPqIndexScatter(q, ss, 3, nprobe = 4,
          cellShardMap = Some(drifted))
        .select("q_id", "n_id", "rank").collect().toSet
    served(back) shouldBe served(shards)
    // graph tier: fleet + map round-trip, neighbor lists intact
    val mapG = Similarity.shardCellMap(corpus, full.cells, 2)
    def buildG(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 8, degree = 4,
        crossDegree = 2, centroids = Some(full.cells))
    val gShards = (0 until 2).map(i =>
      buildG(Similarity.routeByCellMap(corpus, full.cells, mapG, 2)
        .filter(col("shard") === i).drop("shard")))
    val gDir = Files.createTempDirectory("graft_gfleet").toString
    IndexIo.Graph.saveShards(gShards, mapG, gDir)
    val (gBack, gMapBack) = IndexIo.Graph.loadShards(spark, gDir)
    gMapBack.toSeq shouldBe mapG.toSeq
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    (0 until 2).foreach(i => nbrs(gBack(i)) shouldBe nbrs(gShards(i)))
    // layered tier
    def buildH(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 8, degree = 4,
        crossDegree = 2, levelFanout = 4, maxLevel = 1,
        centroids = Some(full.cells))
    val hShards = (0 until 2).map(i =>
      buildH(Similarity.routeByCellMap(corpus, full.cells, mapG, 2)
        .filter(col("shard") === i).drop("shard")))
    val hDir = Files.createTempDirectory("graft_hfleet").toString
    IndexIo.Hnsw.saveShards(hShards, mapG, hDir)
    val (hBack, hMapBack) = IndexIo.Hnsw.loadShards(spark, hDir)
    hMapBack.toSeq shouldBe mapG.toSeq
    def adjMap(i: GraphAnn.HnswIndex) = i.adj
      .select("layer", "n_id", "neighbors").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    (0 until 2).foreach(i =>
      adjMap(hBack(i)) shouldBe adjMap(hShards(i)))
    // a torn map artifact (duplicated cell rows) fails fast
    val tornDir = Files.createTempDirectory("graft_torn").toString
    Seq((1, 0, 2, 2), (1, 1, 2, 2)).toDF(
        "cell", "shard", "n_shards", "nlist")
      .write.mode("overwrite").parquet(tornDir)
    intercept[IllegalArgumentException] {
      IndexIo.loadCellMap(spark, tornDir)
    }.getMessage should include("torn")
    // TAIL truncation fails fast too: an artifact that lost only its
    // highest-numbered cell rows is internally consistent (contiguous
    // 1..n, no duplicates) and would otherwise load as a SHORTER map
    val tailDir = Files.createTempDirectory("graft_tail").toString
    Seq((1, 0, 2, 4), (2, 1, 2, 4), (3, 0, 2, 4)).toDF(
        "cell", "shard", "n_shards", "nlist")
      .write.mode("overwrite").parquet(tailDir)
    intercept[IllegalArgumentException] {
      IndexIo.loadCellMap(spark, tailDir)
    }.getMessage should include("tail truncation")
  }

  /** Every table under `dir` (a directory holding a `_SUCCESS` marker),
    * keyed by its path below `dir`, as its sorted rows. */
  private def tables(dir: String): Map[String, Seq[String]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (new java.io.File(f, "_SUCCESS").exists()) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .flatMap(walk)
    walk(new java.io.File(dir)).map { f =>
      f.getPath.stripPrefix(dir) -> (try spark.read.parquet(f.getPath)
        .collect().map(_.toString).sorted.toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Nil })
    }.toMap
  }

  /** An index's scalar fields and driver-side arrays, tables elided. */
  private def fields(x: Any): Any = x match {
    case _: org.apache.spark.sql.Dataset[_] => "<table>"
    case a: Array[_] => a.toSeq.map(fields)
    case s: Seq[_] => s.map(fields)
    case p: Product => p.productPrefix -> p.productIterator.map(fields).toList
    case v => v
  }

  /** save → load → save leaves equal tables and equal scalar fields;
    * then every meta stamped one version past the kind's fails fast
    * with a message naming the kind. */
  private def roundTrip[A](kind: IndexIo.Kind[_], layout: String, a: A)(
      save: (A, String) => Unit, load: String => A): Unit =
    withClue(s"${kind.name}, $layout layout: ") {
      val d1 = Files.createTempDirectory("graft_codec").toString
      val d2 = Files.createTempDirectory("graft_codec").toString
      save(a, d1)
      val b = load(d1)
      save(b, d2)
      tables(d2) shouldBe tables(d1)
      fields(load(d2)) shouldBe fields(b)
      tables(d1).keys.filter(_.endsWith("/meta")).foreach { m =>
        val meta = spark.read.parquet(d1 + m)
          .withColumn("format_version", lit(kind.version + 1))
        spark.createDataFrame(java.util.Arrays.asList(meta.collect(): _*),
          meta.schema).write.mode("overwrite").parquet(d1 + m)
      }
      val err = intercept[IllegalArgumentException](load(d1))
      err.getMessage should include(kind.name)
      err.getMessage should include("format_version")
      err.getMessage should include("rebuild")
    }

  test("one codec: every kind round-trips in every layout it supports; a newer format_version fails fast") {
    val corpus = vecs(80)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as float))")
          .as("embedding"))
      .localCheckpoint()
    val cells = Similarity.firstVectors(corpus, 4)
    val ivf = Similarity.buildIvfPqIndex(corpus, nlist = 4, m = 4, ks = 8,
      dim = dim, centroids = Some(cells))
    val halves = Seq(corpus.filter(col("vec_id") % 2 === 0),
      corpus.filter(col("vec_id") % 2 === 1))
    val cellMap = Array(0, 1, 0, 1)
    def graph(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildGraphIndex(c, nlist = 4, degree = 4, crossDegree = 2,
        centroids = Some(cells))
    def hnsw(c: org.apache.spark.sql.DataFrame) =
      GraphAnn.buildHnswIndex(c, nlist = 4, degree = 4, crossDegree = 2,
        levelFanout = 4, maxLevel = 1, centroids = Some(cells))
    def ivfOf(c: org.apache.spark.sql.DataFrame) =
      Similarity.buildIvfPqIndex(c, nlist = 4, m = 4, ks = 8, dim = dim,
        centroids = Some(cells), codebook = Some(ivf.codebook))
    val docs = Seq((1L, "the spark engine scales out the shuffle join"),
        (2L, "the spark engine scales out the broadcast join"),
        (3L, "a suffix array finds the repeated spans"))
      .toDF("doc_id", "text")
    val prefix = "graft_codec_spec"

    def layouts[I](kind: IndexIo.Kind[I], i: I, names: String*): Unit = {
      roundTrip(kind, "plain", i)(kind.save, kind.load(spark, _))
      if (names.contains("bucketed"))
        roundTrip(kind, "bucketed", i)(
          kind.saveBucketed(_, _, prefix, buckets = 4),
          kind.loadBucketed(spark, _, prefix)._1)
      if (names.contains("partitioned"))
        roundTrip(kind, "partitioned", i)(kind.savePartitioned,
          kind.load(spark, _))
    }
    def sharded[I](kind: IndexIo.Kind[I], shards: Seq[I]): Unit =
      roundTrip(kind, "sharded", shards)(
        kind.saveShards(_, cellMap, _), kind.loadShards(spark, _)._1)

    layouts(IndexIo.Graph, graph(corpus), "bucketed")
    sharded(IndexIo.Graph, halves.map(graph))
    layouts(IndexIo.GraphPq, GraphAnn.buildGraphPqIndex(corpus, nlist = 4,
      degree = 4, crossDegree = 2, m = 4, ks = 8, dim = dim,
      centroids = Some(cells)))
    layouts(IndexIo.Hnsw, hnsw(corpus), "bucketed")
    sharded(IndexIo.Hnsw, halves.map(hnsw))
    layouts(IndexIo.HnswPq, GraphAnn.buildHnswPqIndex(corpus, nlist = 4,
      degree = 4, crossDegree = 2, levelFanout = 4, maxLevel = 1, m = 4,
      ks = 8, dim = dim, centroids = Some(cells)))
    layouts(IndexIo.IvfPq, ivf, "partitioned")
    sharded(IndexIo.IvfPq, halves.map(ivfOf))
    layouts(IndexIo.MinHash, Dedup.buildMinHashIndex(docs, "text",
      "doc_id", k = 16, bands = 4), "bucketed")
    layouts(IndexIo.Substr, SuffixArray.buildSubstrIndex(docs, "text",
      "doc_id", minLen = 8), "bucketed")
    layouts(IndexIo.Unigram, TextOps.unigramTrain(docs, "text",
      vocabSize = 24))
    layouts(IndexIo.Bm25, TextOps.bm25State(docs, "text", "doc_id"))
  }

  test("resolveBucketedTable re-registers a stale same-name entry that points at a DIFFERENT directory") {
    // a leftover catalog entry with the expected name but another
    // location (dropped-and-recreated dir, or a name-suffix collision)
    // must not silently serve the other directory's rows
    val d1 = Files.createTempDirectory("graft_bktloc1").toString
    val d2 = Files.createTempDirectory("graft_bktloc2").toString
    Seq((1L, "old")).toDF("n_id", "v").write.bucketBy(2, "n_id")
      .option("path", s"$d1/t").saveAsTable("graft_loc_spec_t")
    Seq((2L, "new")).toDF("n_id", "v").write.bucketBy(2, "n_id")
      .option("path", s"$d2/t").saveAsTable("graft_loc_spec_tmp")
    spark.sql("DROP TABLE graft_loc_spec_tmp") // files stay durable
    val got = IndexIo.resolveBucketedTable(spark, "graft_loc_spec_t",
      s"$d2/t", Seq("n_id"), 2)
    got.collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    // same name + same location is NOT stale: resolves in place
    IndexIo.resolveBucketedTable(spark, "graft_loc_spec_t",
      s"$d2/t", Seq("n_id"), 2)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    spark.sql("DROP TABLE graft_loc_spec_t")
  }

  test("resolveBucketedTable rejects non-identifier table names and escapes quoted locations") {
    an[IllegalArgumentException] should be thrownBy
      IndexIo.resolveBucketedTable(spark, "bad-name; DROP TABLE x",
        "/tmp/never", Seq("n_id"), 2)
    // a save directory containing a single quote must register, not
    // break the interpolated LOCATION clause
    val qd = Files.createTempDirectory("graft_bkt'q").toString
    Seq((7L, "q")).toDF("n_id", "v").write.bucketBy(2, "n_id")
      .option("path", s"$qd/t").saveAsTable("graft_quote_spec_tmp")
    spark.sql("DROP TABLE graft_quote_spec_tmp")
    IndexIo.resolveBucketedTable(spark, "graft_quote_spec_t",
        s"$qd/t", Seq("n_id"), 2)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(7L)
    spark.sql("DROP TABLE graft_quote_spec_t")
  }
}
