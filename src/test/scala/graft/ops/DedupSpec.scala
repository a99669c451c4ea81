package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup
    (4L, "completely different content about spark engines and scale"),
    (5L, "")).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "text", "doc_id")
    out.count() shouldBe 4L
    val dup = out.filter($"n_dups" === 2).collect()
    dup.length shouldBe 1
    dup(0).getAs[Long]("keep_id") shouldBe 1L
  }

  test("shingles produce distinct sliding n-grams; short docs degrade") {
    val g = docs.select($"doc_id", Dedup.shingles($"text", 3).as("g"))
      .filter($"doc_id" === 1).select(explode($"g")).as[String].collect()
    g should contain("the quick brown")
    g should contain("over the lazy")
    g.distinct.length shouldBe g.length
    // 9 words -> 7 trigrams
    g.length shouldBe 7
  }

  test("minhash: identical docs agree fully, near-dups score high, distinct low") {
    val sig = Dedup.minhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sig(1L) shouldBe sig(2L)
    val agree13 = sig(1L).zip(sig(3L)).count { case (a, b) => a == b } / 64.0
    val agree14 = sig(1L).zip(sig(4L)).count { case (a, b) => a == b } / 64.0
    agree13 should be > 0.4   // 6/8 shared trigrams -> J≈0.5±est
    agree14 should be < 0.2
  }

  test("minhashLsh surfaces exact+near pairs above threshold") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.4)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs.map(p => (p._1, p._2)) should contain((1L, 2L))
    pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 shouldBe 1.0
    all(pairs.map(_._3)) should be >= 0.4
  }

  test("minhashLsh ids-only banding variant is result-identical") {
    val carry = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.4)
      .select("doc_a", "doc_b", "est_jaccard")
    val idsOnly = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.4,
        carrySignatures = false)
      .select("doc_a", "doc_b", "est_jaccard")
    carry.exceptAll(idsOnly).count() shouldBe 0L
    idsOnly.exceptAll(carry).count() shouldBe 0L
  }

  test("minhashLshIncremental == full run restricted to new-doc pairs") {
    import org.apache.spark.sql.functions.col
    val full = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.4)
      .filter(col("doc_a") % 2 === 0 || col("doc_b") % 2 === 0)
      .select("doc_a", "doc_b", "est_jaccard")
    val corpusSigs = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val incr = Dedup.minhashLshIncremental(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        corpusSigs, threshold = 0.4)
      .select("doc_a", "doc_b", "est_jaccard")
    incr.exceptAll(full).count() shouldBe 0L
    full.exceptAll(incr).count() shouldBe 0L
  }

  test("minhash index lifecycle: append/delete equal the rebuild; pairs read from state") {
    val base = docs.filter(col("doc_id") <= 3)
    val batch = docs.filter(col("doc_id") > 3)
    val idx = Dedup.buildMinHashIndex(base, "text", "doc_id")
    val appended = Dedup.appendToMinHashIndex(idx, batch, "text", "doc_id")
    // append == from-scratch build over the union, signature-for-signature
    val rebuilt = Dedup.buildMinHashIndex(docs, "text", "doc_id")
    def sigSet(i: Dedup.MinHashIndex) = i.sigs.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    sigSet(appended) shouldBe sigSet(rebuilt)
    // readout from the index equals the text-path LSH over the corpus
    val fromIdx = Dedup.minhashIndexPairs(appended, threshold = 0.4)
      .select("doc_a", "doc_b", "est_jaccard")
    val fromText = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.4)
      .select("doc_a", "doc_b", "est_jaccard")
    fromIdx.exceptAll(fromText).count() shouldBe 0L
    fromText.exceptAll(fromIdx).count() shouldBe 0L
    // delete: anti-join equality with the remaining-corpus build;
    // non-members are a no-op; a deleted id can come back
    val afterDel = Dedup.deleteFromMinHashIndex(appended,
      Seq(2L, 99L).toDF("doc_id"))
    sigSet(afterDel) shouldBe
      sigSet(Dedup.buildMinHashIndex(
        docs.filter(col("doc_id") =!= 2), "text", "doc_id"))
    val back = Dedup.appendToMinHashIndex(afterDel,
      docs.filter(col("doc_id") === 2), "text", "doc_id")
    sigSet(back) shouldBe sigSet(rebuilt)
    // duplicate-id append fails fast
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToMinHashIndex(appended, batch, "text", "doc_id")
    }
    e.getMessage should include("already indexed")
  }

  test("minhash index: save/load round-trips state and parameters") {
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    val idx = Dedup.buildMinHashIndex(docs, "text", "doc_id",
      k = 32, bands = 8, shingleN = 2, seed = 7L)
    IndexIo.MinHash.save(idx, dir)
    val loaded = IndexIo.MinHash.load(spark, dir)
    loaded.k shouldBe 32
    loaded.bands shouldBe 8
    loaded.shingleN shouldBe 2
    loaded.seed shouldBe 7L
    def pairs(i: Dedup.MinHashIndex) =
      Dedup.minhashIndexPairs(i, threshold = 0.4)
        .select("doc_a", "doc_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pairs(loaded) shouldBe pairs(idx)
    // a future format version fails fast instead of misreading
    spark.createDataFrame(Seq((99, 32, 8, 2, 7L)))
      .toDF("format_version", "k", "bands", "shingle_n", "seed")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val err = intercept[IllegalArgumentException] {
      IndexIo.MinHash.load(spark, dir)
    }
    err.getMessage should include("format_version")
  }

  test("bucketed minhash persistence: answers round-trip and the readout never exchanges the banded relation") {
    val dir = java.nio.file.Files.createTempDirectory("mhbkt").toString
    val idx = Dedup.buildMinHashIndex(docs, "text", "doc_id")
    IndexIo.MinHash.saveBucketed(idx, dir, "minhash_bucketed_spec",
      buckets = 4)
    val (loaded, derived) = IndexIo.MinHash.loadBucketed(spark, dir,
      "minhash_bucketed_spec")
    val banded = derived("banded")
    loaded.k shouldBe idx.k
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical answers to the in-flight readout
    pairSet(Dedup.minhashIndexPairsBanded(banded, loaded.k,
      threshold = 0.4)) shouldBe
      pairSet(Dedup.minhashIndexPairs(idx, threshold = 0.4))
    // the point of the layout: the capping aggregate and the bucket
    // self-join inherit the on-disk partitioning; the only Exchange
    // in the whole readout is the candidate-pair dedup
    val plan = Dedup.minhashIndexPairsBanded(banded, loaded.k,
        threshold = 0.4)
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should include("Exchange hashpartitioning(doc_a")
  }

  test("bucketed minhash persistence survives catalog loss: load re-registers the external table") {
    val dir = java.nio.file.Files.createTempDirectory("mhcat").toString
    val idx = Dedup.buildMinHashIndex(docs, "text", "doc_id")
    IndexIo.MinHash.saveBucketed(idx, dir, "mh_catalog_spec", buckets = 4)
    // simulate a fresh session: the in-memory catalog entry is gone but
    // the bucketed files under dir/banded are durable (external table)
    spark.sql(s"DROP TABLE ${IndexIo.bucketedTableName("mh_catalog_spec",
      "banded", dir)}")
    val (loaded, derived) = IndexIo.MinHash.loadBucketed(spark, dir,
      "mh_catalog_spec")
    val banded = derived("banded")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pairSet(Dedup.minhashIndexPairsBanded(banded, loaded.k,
      threshold = 0.4)) shouldBe
      pairSet(Dedup.minhashIndexPairs(idx, threshold = 0.4))
    // the re-registered table keeps the bucket spec: still exactly one
    // Exchange (the candidate-pair dedup), never the banded relation
    val plan = Dedup.minhashIndexPairsBanded(banded, loaded.k,
        threshold = 0.4)
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("mergeMinHashIndexes: sharded parallel build equals the one-shot build; mismatches fail fast") {
    val shardA = docs.filter(col("doc_id") % 2 === 0)
    val shardB = docs.filter(col("doc_id") % 2 === 1)
    val merged = Dedup.mergeMinHashIndexes(
      Dedup.buildMinHashIndex(shardA, "text", "doc_id"),
      Dedup.buildMinHashIndex(shardB, "text", "doc_id"))
    val oneShot = Dedup.buildMinHashIndex(docs, "text", "doc_id")
    def pairSet(i: Dedup.MinHashIndex) =
      Dedup.minhashIndexPairs(i, threshold = 0.4)
        .select("doc_a", "doc_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pairSet(merged) shouldBe pairSet(oneShot)
    // overlapping shards fail fast
    intercept[IllegalArgumentException] {
      Dedup.mergeMinHashIndexes(
        Dedup.buildMinHashIndex(docs, "text", "doc_id"),
        Dedup.buildMinHashIndex(shardB, "text", "doc_id"))
    }.getMessage should include("BOTH shard")
    // different hash families are incomparable
    intercept[IllegalArgumentException] {
      Dedup.mergeMinHashIndexes(
        Dedup.buildMinHashIndex(shardA, "text", "doc_id", seed = 7L),
        Dedup.buildMinHashIndex(shardB, "text", "doc_id", seed = 8L))
    }.getMessage should include("hash families")
  }

  test("queryMinHashIndex screens probes; probe-probe pairs are separable") {
    val idx = Dedup.buildMinHashIndex(
      docs.filter(col("doc_id") === 1 || col("doc_id") === 4),
      "text", "doc_id")
    val probes = docs.filter(col("doc_id") === 2 || col("doc_id") === 3)
    val all = Dedup.queryMinHashIndex(idx, probes, "text", "doc_id",
        threshold = 0.4)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe 2 is an exact dup of indexed 1; probes 2 and 3 are near
    // dups of each other (a probe-probe pair)
    all should contain((1L, 2L))
    all.exists(p => p == ((2L, 3L)) ) shouldBe true
    val xOnly = Dedup.queryMinHashIndex(idx, probes, "text", "doc_id",
        threshold = 0.4, includeProbePairs = false)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    xOnly should contain((1L, 2L))
    xOnly.exists(p => p == ((2L, 3L)) ) shouldBe false
    // every surviving pair has exactly one probe side
    val probeIds = Set(2L, 3L)
    xOnly.foreach { case (a, b) =>
      probeIds.contains(a) ^ probeIds.contains(b) shouldBe true
    }
  }

  test("simhash: identical -> distance 0 pair; disjoint docs absent") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue()))
    pairs.map(p => (p._1, p._2)) should contain((1L, 2L))
    pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 shouldBe 0
    pairs.map(p => (p._1, p._2)) should not contain ((1L, 4L))
  }

  test("ngramJaccard: exact dups at 1.0; threshold filters the rest") {
    val out = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getAs[Double]("jaccard_lb")))
    // columns come back (doc_b, doc_a, ...) after the join-key reorder; normalize
    val pairs = out.map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3))
    pairs.map(p => (p._1, p._2)) should contain((1L, 2L))
    pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 shouldBe 1.0
  }

  test("connectedComponents resolves chains, cliques and isolated pairs") {
    // chain 1-2-3-4-5 (worst case for plain propagation), clique 10-11-12,
    // pair 20-21 — three components with min labels 1, 10, 20.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp should have size 10
    Seq(1L, 2L, 3L, 4L, 5L).foreach(n => comp(n) shouldBe 1L)
    Seq(10L, 11L, 12L).foreach(n => comp(n) shouldBe 10L)
    Seq(20L, 21L).foreach(n => comp(n) shouldBe 20L)
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    val n = 200
    val pairs = (1 until n).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, maxIter = 12).collect()
    comp.length shouldBe n
    all(comp.map(_.getLong(1))) shouldBe 1L
  }

  test("deleteFromComponents: fragmentation, relabeling, and pass-through") {
    // two components: {1,2,3} chained through 2 (1-2, 2-3) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    asMap(comps) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L)
    // deleting the bridge node 2 FRAGMENTS {1,2,3}: 1 and 3 lose all
    // surviving evidence and drop out; {10,11} passes through verbatim
    val afterBridge = Dedup.deleteFromComponents(comps, pairs,
      Seq(2L).toDF("doc_id"))
    asMap(afterBridge) shouldBe Map(10L -> 10L, 11L -> 10L)
    // deleting the min-id member RELABELS: {1,2,3} minus 1 keeps the
    // 2-3 pair and relabels to component 2
    val afterMin = Dedup.deleteFromComponents(comps, pairs,
      Seq(1L).toDF("doc_id"))
    asMap(afterMin) shouldBe Map(2L -> 2L, 3L -> 2L, 10L -> 10L,
      11L -> 10L)
    // non-member deletion is a no-op; equality with the full recompute
    val noop = Dedup.deleteFromComponents(comps, pairs,
      Seq(99L).toDF("doc_id"))
    asMap(noop) shouldBe asMap(comps)
    // triangle component survives any single deletion intact
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val triComps = Dedup.connectedComponents(tri)
    val afterTri = Dedup.deleteFromComponents(triComps, tri,
      Seq(2L).toDF("doc_id"))
    asMap(afterTri) shouldBe Map(1L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L)
  }

  test("mergeComponents: new pairs fold in; untouched components pass through") {
    import org.apache.spark.sql.functions.col
    // existing: {1,2} (rep 1), {5,6,7} (rep 5), {10,11} (rep 10)
    val existing = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (7L, 5L),
      (10L, 10L), (11L, 10L)).toDF("doc_id", "component")
    // new pairs: bridge {1,2}–{5,..} via (2,6); brand-new pair (20,21);
    // component {10,11} untouched
    val newPairs = Seq((2L, 6L), (20L, 21L)).toDF("doc_a", "doc_b")
    val merged = Dedup.mergeComponents(existing, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    merged shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    // equals the full recompute over star edges of existing + new pairs
    val allEdges = existing.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("doc_a"), col("component").as("doc_b"))
      .unionByName(newPairs)
    val full = Dedup.connectedComponents(allEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    merged shouldBe full
  }

  test("dropClusterDuplicates keeps one representative per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
    val kept = Dedup.dropClusterDuplicates(docs, "doc_id", comp)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 4L, 5L) // 2,3 fold into cluster rep 1
  }

  test("keepBestPerCluster: quality argmax, low-id ties, singleton pass-through") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster A: 2 and 3 tie on quality
      (4L, 99L),                       // singleton, worst-case high quality
      (5L, 5L), (6L, 7L)               // cluster B: 6 wins
    ).toDF("doc_id", "quality")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "component")
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", comps, "quality")
      .select("doc_id").as[Long].collect().sorted
    // cluster A: quality tie between 2 and 3 -> lowest id (2); the
    // min-id representative (1) loses on quality. cluster B: 6 wins.
    kept shouldBe Array(2L, 4L, 6L)
  }

  test("incremental LSH loop leaks no cached plans across batches") {
    // a long-running corpus-growth loop must not accumulate one cached
    // plan per batch (the round-4 allSig leak shape): run three
    // incremental batches to completion and assert the persisted-RDD
    // census is unchanged
    val corpus = (0L until 40L).map(i => (i, s"corpus document $i with words ${i * 3}"))
      .toDF("doc_id", "text")
    var sigs = Dedup.minhashSignatures(corpus, "text", "doc_id", 64, 3, 42L)
      .localCheckpoint() // the materialized signature table a pipeline keeps
    val before = spark.sparkContext.getPersistentRDDs.size
    for (b <- 1 to 3) {
      val batch = (100L * b until 100L * b + 10L)
        .map(i => (i, s"batch $b document $i")).toDF("doc_id", "text")
      Dedup.minhashLshIncremental(batch, "text", "doc_id", sigs).count()
      sigs = sigs.unionByName(
        Dedup.minhashSignatures(batch, "text", "doc_id", 64, 3, 42L))
        .localCheckpoint()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    // localCheckpoint RDDs release with GC; the assertion targets CACHED
    // plans, which are pinned until unpersist — allow the checkpoint
    // RDDs themselves, forbid growth beyond them
    (after - before) should be <= 3 // the three checkpointed signature tables
  }

  test("capBuckets bounds hot-bucket pair explosion (Zipf-hostile fixture)") {
    // Zipf head: 200 byte-identical docs whose identical signatures land
    // in the SAME (band_idx, band_hash) bucket in EVERY band — the
    // worst-case skew shape, where an uncapped self-join enumerates
    // bands·n² tuples for one key. A boundary group of EXACTLY
    // maxBucket identical docs must survive (the cap is inclusive).
    val hotText = "the quick brown fox jumps over the lazy dog repeatedly today"
    val midText = "an entirely different sentence that forms its own hot bucket"
    val zipf = ((0L until 200L).map(i => (i, hotText)) ++
      (500L until 550L).map(i => (i, midText)) ++
      (1000L until 1010L).map(i => (i, s"unique document number $i with words ${i * 7}")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(zipf, "text", "doc_id", 64, 3, 42L)
    val banded = sig.select(col("doc_id"),
      posexplode(graft.functions.BandHashes.bandHashes(col("sig"), 16))
        .as(Seq("band_idx", "band_hash")))
    val sized = Dedup.capBuckets(banded, Seq("band_idx", "band_hash"), 50)
    // the asserted ceiling: no surviving bucket exceeds maxBucket, so
    // candidate tuples per bucket are <= maxBucket² by construction
    sized.groupBy("band_idx", "band_hash").count()
      .agg(max("count")).first().getLong(0) should be <= 50L
    // the hot head is dropped in every band; the boundary group survives
    sized.filter($"doc_id" < 200).count() shouldBe 0L
    sized.filter($"doc_id" >= 500 && $"doc_id" < 550).count() shouldBe 50L * 16
    // recall loss is real and measured: the capped run finds NO pairs
    // inside the dropped head (documented cost of the bound) but ALL
    // C(50,2) pairs of the at-boundary group
    val capped = Dedup.minhashLsh(zipf, "text", "doc_id", maxBucket = 50)
    capped.filter($"doc_a" < 200 && $"doc_b" < 200).count() shouldBe 0L
    capped.filter($"doc_a" >= 500 && $"doc_a" < 550 &&
      $"doc_b" >= 500 && $"doc_b" < 550).count() shouldBe 50L * 49 / 2
    // lifting the cap recovers the head's full C(200,2) pair set — the
    // cap, not the pipeline, is what bounded it
    val uncapped = Dedup.minhashLsh(zipf, "text", "doc_id", maxBucket = 1000)
    uncapped.filter($"doc_a" < 200 && $"doc_b" < 200)
      .count() shouldBe 200L * 199 / 2
  }

  test("dedupSpans cuts repeated spans, merges intervals, keeps unique text") {
    val boiler = (1 to 10).map(i => s"boiler$i").mkString(" ") // 10 tokens
    val spanDocs = Seq(
      (1L, s"alpha one two $boiler tail1 a b c d e f"),
      (2L, s"beta uno dos $boiler tail2 g h i j k l"),
      (3L, "nothing shared here at all just unique words only right"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(spanDocs, "text", "doc_id", l = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the 10-token boilerplate is covered by three overlapping repeated
    // 8-grams -> ONE merged span of exactly the 10 boilerplate tokens
    for (id <- Seq(1L, 2L)) {
      out(id).getAs[Int]("n_spans") shouldBe 1
      out(id).getAs[Int]("tokens_removed") shouldBe 10
      out(id).getAs[String]("clean_text") should not include "boiler"
    }
    out(1L).getAs[String]("clean_text") shouldBe
      "alpha one two tail1 a b c d e f"
    out(2L).getAs[String]("clean_text") shouldBe
      "beta uno dos tail2 g h i j k l"
    // untouched docs pass through verbatim (including the short one)
    out(3L).getAs[Int]("tokens_removed") shouldBe 0
    out(3L).getAs[String]("clean_text") shouldBe
      "nothing shared here at all just unique words only right"
    out(4L).getAs[Int]("n_spans") shouldBe 0
    out(4L).getAs[String]("clean_text") shouldBe "tiny doc"
  }

  test("dedupSpans merges adjacent coverage and counts disjoint spans") {
    // two repeated 8-gram regions separated by ONE unique token in doc
    // 1 -> two spans (gap 1 > adjacency), removed 16 of 17
    val b1 = (1 to 8).map(i => s"x$i").mkString(" ")
    val b2 = (1 to 8).map(i => s"y$i").mkString(" ")
    val d = Seq(
      (1L, s"$b1 gap $b2"),
      (2L, s"$b1 other filler words here padding more stuff"),
      (3L, s"$b2 extra filler words there padding more stuff"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(d, "text", "doc_id", l = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    out(1L).getAs[Int]("n_spans") shouldBe 2
    out(1L).getAs[Int]("tokens_removed") shouldBe 16
    out(1L).getAs[String]("clean_text") shouldBe "gap"
    // a WITHIN-document repeat also counts toward minOccurrences
    val selfRep = Seq(
      (10L, s"$b1 middle words $b1"),
      (11L, "unrelated content entirely different tokens all unique here"))
      .toDF("doc_id", "text")
    val o2 = Dedup.dedupSpans(selfRep, "text", "doc_id", l = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    o2(10L).getAs[String]("clean_text") shouldBe "middle words"
    o2(10L).getAs[Int]("n_spans") shouldBe 2
    // the published span threshold: an 8-token repeated span is below
    // a 12-token minimum and SURVIVES; only >= 12-token boilerplate
    // would be cut
    val thr = Dedup.dedupSpans(selfRep, "text", "doc_id", l = 8,
        minSpanTokens = 12)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    thr(10L).getAs[Int]("n_spans") shouldBe 0
    thr(10L).getAs[Int]("tokens_removed") shouldBe 0
    thr(10L).getAs[String]("clean_text") shouldBe
      selfRep.filter(col("doc_id") === 10L).collect()(0).getString(1)
  }

  private val spanG = (1 to 8).map(i => s"g$i").mkString(" ")

  test("dedupSpansIncremental reworks dirty old docs, equals full recompute") {
    val b1 = Seq(
      (1L, s"$spanG alpha beta gamma one"),
      (2L, "all unique tokens nothing shared here ok fine")).toDF("doc_id", "text")
    val b2 = Seq((3L, s"$spanG delta epsilon zeta two")).toDF("doc_id", "text")
    val stats = Dedup.spanGramStats(b1, "text", "doc_id", l = 8)
    val prev = Dedup.dedupSpans(b1, "text", "doc_id", l = 8)
    // within batch 1 nothing repeats
    prev.filter(col("tokens_removed") > 0).count() shouldBe 0L
    // the dirty set is EXACTLY the owner of the now-repeated gram
    val statsG = stats.select(col("gram").as("__g"), col("cnt").as("__oc"),
      col("solo_doc"))
    val npg = Dedup.spanGramStats(b2, "text", "doc_id", l = 8)
      .select(col("gram").as("__g"), col("cnt").as("__nc"))
    Dedup.dirtySpanDocs(statsG, npg).collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // incremental result == full recompute over the union
    val inc = Dedup.dedupSpansIncremental(b1, stats, prev, b2, "text",
      "doc_id", l = 8)
    val full = Dedup.dedupSpans(b1.unionByName(b2), "text", "doc_id", l = 8)
    inc.except(full).count() shouldBe 0L
    full.except(inc).count() shouldBe 0L
    val m = inc.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    m(1L).getAs[Int]("tokens_removed") shouldBe 8 // old doc reworked
    m(3L).getAs[Int]("tokens_removed") shouldBe 8
    m(2L).getAs[Int]("tokens_removed") shouldBe 0 // passed through
  }

  test("span-dedup state merges and chains across batches") {
    val h = (1 to 8).map(i => s"h$i").mkString(" ")
    val b1 = Seq((1L, s"$spanG alpha beta gamma one"),
      (2L, "all unique tokens nothing shared here ok fine")).toDF("doc_id", "text")
    val b2 = Seq((3L, s"$h mid tokens other pad")).toDF("doc_id", "text")
    val b3 = Seq((4L, s"$spanG $h tail pad two")).toDF("doc_id", "text")
    val s1 = Dedup.spanGramStats(b1, "text", "doc_id", l = 8)
    val r1 = Dedup.dedupSpans(b1, "text", "doc_id", l = 8)
    val r2 = Dedup.dedupSpansIncremental(b1, s1, r1, b2, "text", "doc_id",
      l = 8)
    val s2 = Dedup.mergeSpanGramStats(s1, b2, "text", "doc_id", l = 8)
    // merged state == from-scratch state over the union
    val s2Direct = Dedup.spanGramStats(b1.unionByName(b2), "text",
      "doc_id", l = 8)
    s2.except(s2Direct).count() shouldBe 0L
    s2Direct.except(s2).count() shouldBe 0L
    // batch 3 dirties docs from BOTH earlier batches (shares spanG with
    // b1's doc 1 and h with b2's doc 3)
    val r3 = Dedup.dedupSpansIncremental(b1.unionByName(b2), s2, r2, b3,
      "text", "doc_id", l = 8)
    val full = Dedup.dedupSpans(b1.unionByName(b2).unionByName(b3),
      "text", "doc_id", l = 8)
    r3.except(full).count() shouldBe 0L
    full.except(r3).count() shouldBe 0L
    val m = r3.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    m(1L).getAs[Int]("tokens_removed") shouldBe 8
    m(3L).getAs[Int]("tokens_removed") shouldBe 8
    m(4L).getAs[Int]("tokens_removed") shouldBe 16 // both spans cut
    m(2L).getAs[Int]("tokens_removed") shouldBe 0
  }
}
