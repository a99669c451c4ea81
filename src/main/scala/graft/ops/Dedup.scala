package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is candidate-generation (shuffle on a
  * small key: hash / band / bucket) followed by verification on the
  * candidates only — never an all-pairs cross join. Bucket-size caps
  * bound the worst-case pair blowup under skew, the standard guard for
  * web-scale near-dup jobs.
  *
  * Signature computation is explode→aggregate, NOT per-row nested array
  * expressions: one codegen'd projection computes all k hashes per
  * shingle, and the per-doc minima come from a map-side-combined
  * groupBy — so the work is k×|shingles| once, not k passes over the
  * shingle array (which Catalyst would re-expand per hash, a 64×
  * blowup measured at sf0.1).
  */
object Dedup {

  /** Exact dedup: hash-groupBy on the canonical text. One shuffle on the
    * md5 (uniformly distributed — no skew), map-side partial agg.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Ensure a CPU-heavy per-row stage runs with full parallelism: small
    * inputs (one parquet file => one split) would otherwise pin the
    * whole shingle/hash pipeline to a single task. No-op when the scan
    * already has enough splits (the 100 TB case), so the extra shuffle
    * is only paid when it buys parallelism.
    */
  private[ops] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Scan split count approximated by file count — avoids touching
    // df.rdd, which forces physical planning outside AQE just to read a
    // partition count. At scale files >> cores so this is a no-op; the
    // repartition is only paid on tiny single-file local inputs.
    val splits = df.inputFiles.length
    if (splits > 0 && splits < target) df.repartition(target) else df
  }

  /** Keep only rows whose bucket (the composite `keys`) holds at most
    * `maxBucket` rows — the skew guard for candidate-generation
    * self-joins. Implemented as a map-side-combined groupBy count +
    * join back, NOT a `count(*) over (partition by keys)` window: the
    * window shuffles AND sorts the raw stream keyed by the bucket
    * (degenerate buckets are exactly the skewed ones), while the
    * groupBy collapses each hot bucket to one row per map task before
    * the shuffle and the join back discards it without a sort.
    */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String],
                              maxBucket: Int): DataFrame = {
    val small = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
    df.join(small, keys)
  }

  /** Word n-gram shingles (distinct) of the normalized text. Backed by
    * the single-pass expression [[graft.functions.WordNGrams]]: the
    * earlier transform/element_at column algebra ran interpreted (HOFs
    * skip codegen) and re-ran split(normalize(text)) under every gram
    * lambda — O(len²) per row, the dominant cost of the MinHash and
    * Jaccard dedup stages.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordNGrams.wordNGrams(TextOps.normalize(text), n)

  /** MinHash signatures as a DataFrame (doc_id, sig array<long>),
    * computed by the single-loop expression
    * [[graft.functions.MinHashSignature]] — a pure projection pipelined
    * with the scan, NO shuffle. (Round 1 used explode→aggregate, the
    * right fix for the column-algebra trap, but it still materialized
    * |docs|×|grams| rows and paid a groupBy shuffle to reassemble the
    * per-doc signature; the expression form removes both. Hash scheme
    * and values are identical.)
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, shingleN: Int = 3,
                        seed: Long = 42L): DataFrame =
    widen(docs).select(col(idCol).as("doc_id"),
      graft.functions.MinHashSignature
        .minhashSignature(shingles(col(textCol), shingleN), k, seed).as("sig"))

  /** MinHash + LSH banding: docs sharing any (band_idx, band_hash)
    * bucket become candidate pairs; pairs are scored by signature
    * agreement (estimated Jaccard) and filtered at `threshold`.
    *
    * Shuffles: doc_id (signature agg), band key (candidate gen), pair
    * dedup. `maxBucket` caps quadratic blowup from degenerate buckets.
    * Signatures are cached: both sides of the bucket self-join need
    * them, and at scale you'd checkpoint them anyway.
    *
    * @param carrySignatures payload trade of the band shuffle. `true`
    *   carries the k-long signature array through banding (~8·k B per
    *   banded row) and scores pairs in place — fewest joins, right when
    *   candidate pairs are a sizable fraction of banded rows. `false`
    *   bands ids only (~24 B/row) and re-joins signatures by doc_id for
    *   scoring — two extra equi-joins against the cached signatures,
    *   right at scale where banded rows ≫ candidate pairs so the band
    *   shuffle's payload dominates (PLANS.md records the measured
    *   crossover). Results are identical — both variants pass d02's
    *   exact-pair-set oracle.
    */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String,
                 k: Int = 64, bands: Int = 16, shingleN: Int = 3,
                 threshold: Double = 0.7, seed: Long = 42L,
                 maxBucket: Int = 1000,
                 carrySignatures: Boolean = true): DataFrame = {
    // CacheOnce, not .cache(): repeated invocations (bench iterations,
    // the d02/d12 banding variants) re-derive the identical signature
    // plan and share its one cached entry without a CacheManager
    // "already cached" warning per call
    val sig = graft.engine.CacheOnce(
      minhashSignatures(docs, textCol, idCol, k, shingleN, seed))
    pairsFromSigs(sig, k, bands, threshold, maxBucket, carrySignatures)
  }

  /** The LSH banding + pairing + scoring stage alone, over an already-
    * materialized signature relation (doc_id, sig) — shared by
    * [[minhashLsh]] (signatures computed in-flight) and
    * [[minhashIndexPairs]] (signatures read from a persisted index).
    */
  private def pairsFromSigs(sig: DataFrame, k: Int, bands: Int,
                            threshold: Double, maxBucket: Int,
                            carrySignatures: Boolean): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // Band keys via the single-pass BandHashes expression: bucket
    // condition (slice equality) is identical to the previous
    // concat_ws/element_at formulation, minus its interpreted per-band
    // per-element virtual calls and string materialization.
    val sigCols = if (carrySignatures) Seq(col("sig")) else Seq.empty[Column]
    val banded = sig.select(col("doc_id") +: sigCols :+
        posexplode(graft.functions.BandHashes.bandHashes(col("sig"), bands))
          .as(Seq("band_idx", "band_hash")): _*)
    val sized = capBuckets(banded, Seq("band_idx", "band_hash"), maxBucket)
    val pairs =
      if (carrySignatures) {
        val a = sized.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("doc_a"), col("sig").as("sig_a"))
        val b = sized.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("doc_b"), col("sig").as("sig_b"))
        a.join(b, Seq("band_idx", "band_hash"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b", "sig_a", "sig_b")
          .dropDuplicates("doc_a", "doc_b")
      } else {
        val a = sized.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("doc_a"))
        val b = sized.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("doc_b"))
        val ids = a.join(b, Seq("band_idx", "band_hash"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
          .dropDuplicates("doc_a", "doc_b")
        ids
          .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
            Seq("doc_a"))
          .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
            Seq("doc_b"))
      }
    scorePairs(pairs, k, threshold)
  }

  /** Incremental MinHash/LSH — dedup a NEW batch of documents against
    * an already-signed corpus plus itself, without touching the corpus
    * TEXT: only the new docs are shingled and signed; the corpus
    * participates through its materialized signature table
    * ([[minhashSignatures]] output, the small checkpointed artifact a
    * batch pipeline maintains — append the new signatures after each
    * batch). Candidate pairs are restricted to those touching a new
    * doc: existing×existing pairs were emitted when THOSE batches
    * arrived, re-finding them is wasted quadratic work.
    *
    * At 100 TB this is the dedup shape that matches how corpora grow:
    * per-batch cost ∝ |new| shingling + (|new| + |corpus|)·bands banding
    * of 8·k-byte signatures — never a re-scan of corpus text.
    *
    * Result == `minhashLsh(corpus ∪ new)` restricted to pairs with a
    * new side (gate d13 replays the truth in DuckDB).
    */
  def minhashLshIncremental(newDocs: DataFrame, textCol: String,
                            idCol: String, existingSigs: DataFrame,
                            k: Int = 64, bands: Int = 16,
                            threshold: Double = 0.7, shingleN: Int = 3,
                            seed: Long = 42L,
                            maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val newSig = minhashSignatures(newDocs, textCol, idCol, k, shingleN, seed)
      .withColumn("__new", lit(true))
    // NOT cached: the result is lazy, so a cache here could never be
    // unpersisted by this function — one leaked storage block per batch
    // in a long-running incremental loop. The price is the new-batch
    // signing subtree evaluating once per side of the asymmetric join
    // below (2× a per-batch-sized cost), vs an unbounded leak.
    val allSig = existingSigs.select(col("doc_id"), col("sig"))
      .withColumn("__new", lit(false))
      .unionByName(newSig)
    val banded = allSig.select(col("doc_id"), col("sig"), col("__new"),
      posexplode(graft.functions.BandHashes.bandHashes(col("sig"), bands))
        .as(Seq("band_idx", "band_hash")))
    val sized = capBuckets(banded, Seq("band_idx", "band_hash"), maxBucket)
    // ASYMMETRIC join: the build side holds ONLY new rows, so a bucket
    // with m corpus rows and n new rows produces n·(m+n) tuples — never
    // the m² corpus-corpus tuples a symmetric join would enumerate just
    // to discard (with corpus ≫ batch, that residual-filtered m² term
    // would dominate every batch). New-new pairs surface twice (once
    // per orientation); least/greatest + dropDuplicates collapses them.
    val a = sized.filter(col("__new")).select(col("band_idx"),
      col("band_hash"), col("doc_id").as("da"), col("sig").as("siga"))
    val b = sized.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("db"), col("sig").as("sigb"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        // est_jaccard is symmetric, so the sig orientation of the
        // surviving duplicate is irrelevant
        col("siga").as("sig_a"), col("sigb").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    scorePairs(pairs, k, threshold)
  }

  /** A persisted MinHash-LSH dedup index — the signature artifact the
    * incremental path reads, promoted to a first-class lifecycle
    * (build / save / load / append / delete / read) like the IVF-PQ,
    * graph, substring, and BM25 families. The state is ONE relation:
    * per-doc k-long signatures (8·k bytes/doc, corpus-linear but
    * text-free); every verb is either a pure per-row projection
    * (signatures are row-independent functions of the text, so append
    * and delete are union/anti-join with EXACT rebuild equality) or a
    * banding readout over the signatures alone.
    *
    * @param sigs doc_id, sig (array<long>, length k) — localCheckpointed
    */
  case class MinHashIndex(sigs: DataFrame, k: Int, bands: Int,
                          shingleN: Int, seed: Long)

  /** Sign the corpus once; the text is never needed again. */
  def buildMinHashIndex(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, bands: Int = 16, shingleN: Int = 3,
                        seed: Long = 42L): MinHashIndex = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    MinHashIndex(minhashSignatures(docs, textCol, idCol, k, shingleN, seed)
      .localCheckpoint(), k, bands, shingleN, seed)
  }

  /** Append a batch: sign ONLY the new text, union. Signatures are
    * row-independent, so the result is exactly the from-scratch build
    * over the union (spec pins it). Duplicate ids fail fast — a
    * re-signed id would double-band and emit self-pairs downstream.
    */
  def appendToMinHashIndex(index: MinHashIndex, newDocs: DataFrame,
                           textCol: String, idCol: String): MinHashIndex = {
    // checkpoint BEFORE the dup-id check: the check is an action, so a
    // lazy plan would evaluate the signing subtree once for the check
    // and again for the union — 2x the verb's most expensive stage
    val newSigs = minhashSignatures(newDocs, textCol, idCol, index.k,
      index.shingleN, index.seed).localCheckpoint()
    // fail fast in both directions: ids already indexed AND ids
    // repeated within the batch (which would insert two signature
    // rows for one document with no error)
    IndexIo.requireBatchIdsUnique("appendToMinHashIndex", newSigs,
      "doc_id")
    IndexIo.requireIdsNotIndexed("appendToMinHashIndex", index.sigs,
      newSigs, "doc_id")
    MinHashIndex(index.sigs.unionByName(newSigs).localCheckpoint(),
      index.k, index.bands, index.shingleN, index.seed)
  }

  /** Merge two indexes built INDEPENDENTLY over disjoint document
    * sets — the sharded-parallel build verb for the LSH family.
    * Signatures are row-independent, so merge = union, EXACTLY
    * rebuild-equal by construction (no affected set exists); the
    * shards must share the hash family (k, bands, shingle_n, seed) or
    * their signatures are incomparable, and ids must be disjoint —
    * both fail fast.
    */
  def mergeMinHashIndexes(a: MinHashIndex, b: MinHashIndex)
      : MinHashIndex = {
    require(a.k == b.k && a.bands == b.bands &&
      a.shingleN == b.shingleN && a.seed == b.seed,
      s"mergeMinHashIndexes: hash families differ — " +
        s"(k=${a.k},bands=${a.bands},n=${a.shingleN},seed=${a.seed}) vs " +
        s"(k=${b.k},bands=${b.bands},n=${b.shingleN},seed=${b.seed})")
    IndexIo.requireDisjointIds("mergeMinHashIndexes", a.sigs, b.sigs,
      "doc_id")
    MinHashIndex(a.sigs.unionByName(b.sigs).localCheckpoint(),
      a.k, a.bands, a.shingleN, a.seed)
  }

  /** Delete documents: one anti join. Non-members are a no-op, and a
    * deleted id may be re-appended later (signatures carry no
    * cross-document state, unlike the substring index's burned ids).
    */
  def deleteFromMinHashIndex(index: MinHashIndex, ids: DataFrame,
                             idCol: String = "doc_id"): MinHashIndex =
    MinHashIndex(index.sigs.join(ids.select(col(idCol).as("doc_id")),
        Seq("doc_id"), "left_anti").localCheckpoint(),
      index.k, index.bands, index.shingleN, index.seed)

  /** Full self-dedup readout from the index alone (no text): band the
    * stored signatures, bucket-join, score — row-for-row what
    * [[minhashLsh]] emits over the same corpus (gate d33).
    */
  def minhashIndexPairs(index: MinHashIndex, threshold: Double = 0.7,
                        maxBucket: Int = 1000,
                        carrySignatures: Boolean = true): DataFrame =
    pairsFromSigs(index.sigs, index.k, index.bands, threshold, maxBucket,
      carrySignatures)

  /** Read-only screen of a probe batch against the index: the
    * [[minhashLshIncremental]] asymmetric-join shape (only
    * probe-touching buckets expand) without mutating the index.
    * `includeProbePairs = false` drops probe-probe pairs — the
    * decontamination orientation, where only probe-vs-indexed overlap
    * matters.
    */
  def queryMinHashIndex(index: MinHashIndex, probes: DataFrame,
                        textCol: String, idCol: String,
                        threshold: Double = 0.7, maxBucket: Int = 1000,
                        includeProbePairs: Boolean = true): DataFrame = {
    val pairs = minhashLshIncremental(probes, textCol, idCol, index.sigs,
      index.k, index.bands, threshold, index.shingleN, index.seed,
      maxBucket)
    if (includeProbePairs) pairs
    else {
      val pid = probes.select(col(idCol).as("doc_id")).distinct()
      pairs
        .join(pid.select(col("doc_id").as("doc_a")), Seq("doc_a"),
          "left_semi")
        .join(pid.select(col("doc_id").as("doc_b")), Seq("doc_b"),
          "left_anti")
        .unionByName(pairs
          .join(pid.select(col("doc_id").as("doc_b")), Seq("doc_b"),
            "left_semi")
          .join(pid.select(col("doc_id").as("doc_a")), Seq("doc_a"),
            "left_anti"))
    }
  }

  /** Persist as two parquet tables under `dir` (the n21/n32 layout
    * discipline): `meta` (format_version + build parameters, read back
    * BY NAME) and `sigs` — the only corpus-sized piece, distributed
    * end to end.
    */
  def saveMinHashIndex(index: MinHashIndex, dir: String): Unit = {
    val spark = index.sigs.sparkSession
    import spark.implicits._
    Seq((1, index.k, index.bands, index.shingleN, index.seed))
      .toDF("format_version", "k", "bands", "shingle_n", "seed")
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.sigs.write.mode("overwrite").parquet(s"$dir/sigs")
  }

  /** Reload: meta collects one row; signatures stay a lazy scan. */
  def loadMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): MinHashIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    require(meta.getAs[Int]("format_version") <= 1,
      s"unsupported minhash index format_version " +
        meta.getAs[Int]("format_version"))
    MinHashIndex(spark.read.parquet(s"$dir/sigs"),
      meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
      meta.getAs[Int]("shingle_n"), meta.getAs[Long]("seed"))
  }

  /** Bucketed index persistence — the d31 production-volume layout for
    * the MinHash family: the BANDED rows (doc_id, sig, band_idx,
    * band_hash — the explode paid once, at save time) written
    * `bucketBy(band_idx, band_hash)` into a catalog table, so the pair
    * readout's capping aggregate and self-join both read
    * pre-partitioned data and exchange NOTHING corpus-sized
    * ([[minhashIndexPairsBanded]]'s plan carries exactly one Exchange,
    * on the tiny candidate-pair relation for its dedup — spec-pinned).
    * At production volume that is the difference between a
    * metadata-priced nightly dedup readout and re-shuffling 8·k bytes
    * per document per band. The plain `sigs` table persists alongside
    * (append/delete/screen verbs read it).
    */
  def saveMinHashIndexBanded(index: MinHashIndex, dir: String,
                             tablePrefix: String,
                             buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = index.sigs.sparkSession
    import spark.implicits._
    Seq((1, index.k, index.bands, index.shingleN, index.seed, buckets))
      .toDF("format_version", "k", "bands", "shingle_n", "seed",
        "buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    index.sigs.select(col("doc_id"), col("sig"),
        posexplode(graft.functions.BandHashes.bandHashes(col("sig"),
          index.bands)).as(Seq("band_idx", "band_hash")))
      .write.mode("overwrite")
      .bucketBy(buckets, "band_idx", "band_hash")
      .sortBy("band_idx", "band_hash")
      .option("path", s"$dir/banded")
      .saveAsTable(IndexIo.bucketedTableName(tablePrefix, "banded", dir))
  }

  /** Reload the bucketed layout: the rebuilt [[MinHashIndex]] (for the
    * append/delete/screen verbs) plus the banded catalog table (for
    * [[minhashIndexPairsBanded]]). The catalog name is session-scoped
    * under the default in-memory catalog, but the bucketed FILES are
    * durable — a fresh session re-registers the external table from
    * `dir/banded` with the saved bucket spec, so the cross-run nightly
    * readout works without a persistent metastore.
    */
  def loadMinHashIndexBanded(spark: org.apache.spark.sql.SparkSession,
                             dir: String, tablePrefix: String)
      : (MinHashIndex, DataFrame) = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    require(meta.getAs[Int]("format_version") <= 1,
      s"unsupported minhash index format_version " +
        meta.getAs[Int]("format_version"))
    val banded = IndexIo.resolveBucketedTable(spark,
      IndexIo.bucketedTableName(tablePrefix, "banded", dir),
      s"$dir/banded", Seq("band_idx", "band_hash"),
      meta.getAs[Int]("buckets"),
      fallbackSchema = Some("doc_id BIGINT, sig ARRAY<BIGINT>, " +
        "band_idx INT, band_hash BIGINT"))
    (MinHashIndex(spark.read.parquet(s"$dir/sigs"),
        meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
        meta.getAs[Int]("shingle_n"), meta.getAs[Long]("seed")),
      banded)
  }

  /** The pair readout over a PRE-BANDED bucketed table: identical
    * answers to [[minhashIndexPairs]], but the capping aggregate and
    * the bucket self-join inherit the on-disk partitioning — zero
    * exchange of the corpus-sized banded relation.
    */
  def minhashIndexPairsBanded(banded: DataFrame, k: Int,
                              threshold: Double = 0.7,
                              maxBucket: Int = 1000): DataFrame = {
    val sized = capBuckets(banded, Seq("band_idx", "band_hash"),
      maxBucket)
    val a = sized.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sized.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b")
      .dropDuplicates("doc_a", "doc_b")
    scorePairs(pairs, k, threshold)
  }

  /** Shared signature-agreement scoring: estimated Jaccard from two
    * k-long MinHash signatures, thresholded — the one implementation
    * both the full and incremental LSH paths use.
    */
  private def scorePairs(pairs: DataFrame, k: Int,
                         threshold: Double): DataFrame =
    pairs.withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")

  /** SimHash signatures as a DataFrame (doc_id, sim long): bit j of the
    * 64-bit signature is the sign of the sum of ±1 votes from each
    * token's hash bit j. Computed by the single-loop expression
    * [[graft.functions.SimHashSignature]] — pure projection, no
    * shuffle (values identical to the round-1 explode→aggregate form).
    */
  def simhashSignatures(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    widen(docs).select(col(idCol).as("doc_id"),
      graft.functions.SimHashSignature
        .simhashSignature(split(TextOps.normalize(col(textCol)), " ")).as("sim"))

  /** Near-dups = pairs within `maxHamming`, found by the 4x16-bit chunk
    * pigeonhole (any pair at distance <=3 shares at least one exact
    * chunk).
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sig = graft.engine.CacheOnce(simhashSignatures(docs, textCol, idCol))
    val chunked = sig.select(col("doc_id"), col("sim"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk_idx", "chunk")))
    val sized = capBuckets(chunked, Seq("chunk_idx", "chunk"), maxBucket)
    val a = sized.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = sized.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard over an inverted index restricted to rare
    * n-grams (document frequency <= maxDf): candidate pairs must share a
    * rare n-gram; intersection counts come from the index join, union
    * from per-doc distinct-gram counts.
    */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Int = 50): DataFrame = {
    val grams = graft.engine.CacheOnce(widen(docs).select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("gram")))
    val docSize = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    // Rare-gram filter via groupBy count + join back, NOT a window over
    // the raw (doc, gram) stream: gram frequency is Zipfian, so the
    // window's shuffle-and-sort puts "the of and" in monster partitions
    // at scale while the sort buys nothing (only a count is needed).
    // The groupBy's map-side combine collapses each hot gram to one row
    // per task, so the count shuffle is tiny; hot grams then simply
    // fail the join and never reach the pair-generation self-join.
    val rareGrams = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("gram")
    val rare = grams.join(rareGrams, Seq("gram"))
    val a = rare.select(col("gram"), col("doc_id").as("doc_a"))
    val b = rare.select(col("gram"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("gram")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared_rare"))
    inter
      .join(docSize.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_grams", "grams_a"), Seq("doc_a"))
      .join(docSize.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_grams", "grams_b"), Seq("doc_b"))
      .withColumn("jaccard_lb", col("n_shared_rare").cast("double") /
        (col("grams_a") + col("grams_b") - col("n_shared_rare")))
      .filter(col("jaccard_lb") >= threshold)
      .select("doc_a", "doc_b", "n_shared_rare", "jaccard_lb")
  }

  /** Connected components over near-dup candidate pairs → dedup
    * clusters: every doc in a transitively-connected group gets the
    * group's minimum doc id as its `component`.
    *
    * Iterative min-label propagation with POINTER JUMPING: each round
    * first takes the min label over direct neighbors, then replaces each
    * label by its label's label (path doubling), so chain-shaped
    * components converge in O(log n) rounds, not O(diameter). Each
    * round is two shuffles on uniformly-hashed node ids; labels are
    * localCheckpoint'ed per round to truncate the iterative lineage
    * (join-on-join plans grow exponentially otherwise). The driver loop
    * runs ACTIONS (a changed-row count per round) — inherent to
    * fixpoint graph algorithms and bounded by the O(log n) round count,
    * not by data size.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b",
                          maxIter: Int = 25): DataFrame = {
    // cache the symmetrized edges PRE-PARTITIONED on the per-round
    // join key: distinct() leaves them hash-partitioned on (u, v), so
    // every round's `edges ⋈ labels ON v` re-exchanged the cached
    // corpus-sized edge relation; keyed on v once, the rounds reuse
    // the cached partitioning and only the (much smaller) label
    // relation moves (guide §2.4 — operations keyed the same way
    // share one exchange)
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct().repartition(col("v")).cache()
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("comp", col("node")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("v"), col("comp").as("vcomp")), "v")
        .groupBy(col("u").as("node")).agg(min("vcomp").as("nmin"))
      // carry the round's OLD label through the step so convergence is
      // a filter over the already-checkpointed result — the previous
      // join-back against `labels` re-shuffled both label relations
      // once per round just to ask "did anything change"
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("comp").as("oc"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      val jumped = stepped.alias("x")
        .join(stepped.select(col("node").as("jn"), col("comp").as("jc")),
          col("x.comp") === col("jn"), "left")
        .select(col("x.node").as("node"), col("x.oc").as("oc"),
          coalesce(col("jc"), col("x.comp")).as("comp"))
        .localCheckpoint()
      converged = jumped.filter(col("comp") =!= col("oc")).isEmpty
      labels = jumped
      i += 1
    }
    edges.unpersist()
    labels.select(col("node").as("doc_id"), col("comp").as("component"))
  }

  /** Merge NEW near-dup pairs into an existing component assignment
    * without re-running [[connectedComponents]] over the whole graph —
    * the cluster-maintenance step of incremental dedup
    * ([[minhashLshIncremental]] finds the pairs, this folds them in).
    *
    * Only components touched by a new pair recompute: an existing
    * assignment is equivalent to its STAR edges (member — component
    * representative), which preserve both connectivity and the min-id
    * labeling, so pointer-jumping over (touched components' star edges
    * ∪ new pairs) reproduces exactly what a full recompute would label
    * the touched region; every other assignment passes through an
    * anti-join untouched. Work per batch ∝ touched components + new
    * pairs — never the corpus-wide graph.
    */
  def mergeComponents(existing: DataFrame, newPairs: DataFrame,
                      aCol: String = "doc_a", bCol: String = "doc_b",
                      maxIter: Int = 25): DataFrame = {
    // pin the pair plan: it feeds the touched-node scan (×2) and the CC
    // edge symmetrization (×2) — when newPairs is the lazy incremental-
    // LSH output (the documented composition), an uncached plan would
    // re-run the whole banding/scoring pipeline per consumer
    val np = newPairs.select(col(aCol), col(bCol)).cache()
    val touchedNodes = np.select(col(aCol).as("doc_id"))
      .unionByName(np.select(col(bCol).as("doc_id"))).distinct()
    val touchedComps = existing.join(touchedNodes, Seq("doc_id"), "left_semi")
      .select("component").distinct()
    val touchedAssign = existing
      .join(touchedComps, Seq("component"), "left_semi")
    val starEdges = touchedAssign.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(aCol), col("component").as(bCol))
    // connectedComponents runs its fixpoint EAGERLY (convergence checks
    // are actions) and returns checkpointed labels, so np is fully
    // consumed by the time it returns
    val merged = connectedComponents(starEdges.unionByName(np),
      aCol, bCol, maxIter)
    np.unpersist()
    existing.join(merged.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(merged.select("doc_id", "component"))
  }

  /** Delete documents from a component assignment WITHOUT re-running
    * [[connectedComponents]] over the whole graph — the backward half
    * of the [[mergeComponents]] incremental lifecycle (the
    * right-to-be-forgotten path every other index family here already
    * carries). Deletion can FRAGMENT a cluster (the removed node may
    * have been the only bridge) and can change a cluster's label (the
    * removed node may have been the min id), so — unlike merge — the
    * touched region cannot be patched from star edges: components that
    * contained a deleted node recompute from their members' SURVIVING
    * evidence pairs, and a survivor left with no surviving pair drops
    * out of the assignment entirely, exactly as a full recompute over
    * the surviving pairs would leave it. Untouched components pass
    * through an anti-join verbatim (pairs never cross components, so
    * their pair sets — and min-id labels — are unchanged). Work per
    * delete ∝ touched components' members + their pairs, never the
    * corpus-wide graph.
    *
    * @param existing doc_id, component (a [[connectedComponents]] /
    *                 [[mergeComponents]] assignment)
    * @param pairs    the evidence pairs the assignment was built from
    * @param ids      doc_id column of documents to delete; non-members
    *                 are ignored
    */
  def deleteFromComponents(existing: DataFrame, pairs: DataFrame,
                           ids: DataFrame, aCol: String = "doc_a",
                           bCol: String = "doc_b",
                           maxIter: Int = 25): DataFrame = {
    val delIds = ids.select(col(ids.columns.head).cast("long")
      .as("doc_id")).distinct().localCheckpoint()
    val touchedComps = existing.join(delIds, Seq("doc_id"), "left_semi")
      .select("component").distinct()
    val touchedMembers = existing
      .join(touchedComps, Seq("component"), "left_semi")
      .select("doc_id")
    val survivingTouchedPairs = pairs.select(col(aCol), col(bCol))
      .join(touchedMembers.select(col("doc_id").as(aCol)), Seq(aCol),
        "left_semi")
      .join(delIds.select(col("doc_id").as(aCol)), Seq(aCol), "left_anti")
      .join(delIds.select(col("doc_id").as(bCol)), Seq(bCol), "left_anti")
    val recomputed = connectedComponents(survivingTouchedPairs, aCol,
      bCol, maxIter)
    existing
      .join(touchedComps, Seq("component"), "left_anti")
      .select("doc_id", "component")
      .unionByName(recomputed.select("doc_id", "component"))
  }

  /** Two-phase fuzzy dedup with EXACT edit-distance verification:
    * candidate pairs come from LSH banding (cheap, high recall), then
    * each candidate is verified with true Levenshtein distance on the
    * normalized text, relative to the longer doc. The O(len²)-per-pair
    * metric only ever touches the bounded candidate set — never all
    * pairs — which is what makes exact edit distance affordable at
    * corpus scale. `levenshtein` is a codegen'd built-in; the two text
    * lookups are plain equi-joins keyed by doc id.
    */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
                        maxRel: Double = 0.3): DataFrame = {
    val cand = minhashLsh(docs, textCol, idCol).select("doc_a", "doc_b")
    val txt = docs.select(col(idCol), TextOps.normalize(col(textCol)).as("__t"))
    cand
      .join(txt.select(col(idCol).as("doc_a"), col("__t").as("__ta")), "doc_a")
      .join(txt.select(col(idCol).as("doc_b"), col("__t").as("__tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).as("edit_dist"),
        greatest(length(col("__ta")), length(col("__tb"))).as("max_len"))
      .filter(col("edit_dist") <= lit(maxRel) * col("max_len"))
  }

  /** Keep one representative per near-dup cluster: drop every doc whose
    * cluster label isn't its own id (non-clustered docs pass through —
    * they are absent from `components`). One broadcast-able join when
    * the candidate set is small relative to the corpus (the common
    * case), a hash join otherwise.
    */
  def dropClusterDuplicates(docs: DataFrame, idCol: String,
                            components: DataFrame): DataFrame = {
    val losers = components.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** QUALITY-AWARE cluster dedup: keep, per near-dup component, the
    * member with the best `qualityCol` (higher wins; ties to the
    * lowest id) instead of [[dropClusterDuplicates]]' arbitrary min-id
    * representative — the production "which duplicate survives"
    * policy (keep-longest, keep-highest-quality-score, …; pass a
    * negated column for lower-is-better metrics).
    *
    * Scale shape: the argmax aggregate runs ONLY over docs that
    * appear in `components` (nodes of some near-dup pair — a small
    * fraction of a real corpus); singletons pass through one
    * left-anti join untouched, the p13 discipline. The aggregate is
    * `max_by` over (quality, −id) with map-side combine — one shuffle
    * of (component, quality, id) triples, never the doc payloads.
    * `idCol` must be numeric (the tie-break negates it).
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String,
                         components: DataFrame,
                         qualityCol: String): DataFrame = {
    val clustered = docs.join(components, docs(idCol) === components("doc_id"))
    val winners = clustered.groupBy("component")
      .agg(max_by(docs(idCol),
        struct(col(qualityCol), -docs(idCol))).as("__keep"))
      .select(col("__keep").as("__keep_id"))
    val singletons = docs.join(components,
      docs(idCol) === components("doc_id"), "left_anti")
    singletons.unionByName(
      docs.join(winners, docs(idCol) === col("__keep_id"), "left_semi"))
  }

  /** EXACT duplicated-SPAN removal (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022): instead of dropping
    * whole near-dup documents, cut from every document each maximal
    * token span covered by `l`-token grams that occur at least
    * `minOccurrences` times across the corpus — boilerplate, license
    * headers, and quoted passages vanish while the unique remainder of
    * each document survives. Operates on [[TextOps.normalize]]d
    * whitespace tokens.
    *
    * Shape per doc: one gram per token position (explode over a
    * `sequence` of starts; each gram is a `slice`+`array_join` over the
    * precomputed token array — the array splits ONCE per row), a
    * map-side-combined count over md5(gram) finds repeated grams, one
    * hash join marks covered positions, and a per-doc gap-and-island
    * window merges overlapping/adjacent gram intervals into maximal
    * spans. The rebuild is a projection: `zip_with` token/positions,
    * drop positions inside any span (`exists` over the doc's small span
    * array), re-join. Returns `(idCol, n_tokens, n_spans,
    * tokens_removed, clean_text)`.
    *
    * Scale notes: the only shuffles are the gram count (combiner-
    * friendly, keys are fixed 32-char md5s — never the gram text) and
    * the gram↔repeated-gram hash join; the island window partitions by
    * DOCUMENT over marked grams only (≤ tokens-per-doc rows, never the
    * corpus-wide gram stream). `minSpanTokens` (Lee et al. publish 50)
    * keeps short repeated phrases and removes only merged spans at
    * least that long; `l` is the gram width, and raising it only
    * shrinks the marked set.
    */
  /** Pair-level detector evaluation: precision / recall / F1 of a
    * predicted near-dup pair set against a truth pair set. Pairs are
    * unordered — both sides canonicalize to (min, max) and distinct
    * before comparing, so a detector emitting (a,b) and (b,a) is not
    * double-counted. One row out; counts exact, ratios derived.
    * Scale: two distincts + one join, all on pair relations that are
    * tiny next to the corpus (and empty-truth/empty-pred degenerate
    * cases yield 0-valued metrics rather than nulls).
    */
  def pairEval(pred: DataFrame, truth: DataFrame,
               aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def canon(df: DataFrame) = df.select(
      least(col(aCol), col(bCol)).as("p1"),
      greatest(col(aCol), col(bCol)).as("p2")).distinct()
    val p = canon(pred)
    val t = canon(truth)
    val tp = p.join(t, Seq("p1", "p2")).count()
    val nP = p.count()
    val nT = t.count()
    val prec = if (nP == 0) 0.0 else tp.toDouble / nP
    val rec = if (nT == 0) 0.0 else tp.toDouble / nT
    val f1 = if (prec + rec == 0) 0.0 else 2 * prec * rec / (prec + rec)
    val spark = pred.sparkSession
    import spark.implicits._
    Seq((nP, nT, tp, prec, rec, f1))
      .toDF("n_pred", "n_truth", "n_tp", "precision", "recall", "f1")
  }

  def dedupSpans(docs: DataFrame, textCol: String, idCol: String,
                 l: Int = 8, minOccurrences: Int = 2,
                 minSpanTokens: Int = 0): DataFrame = {
    require(l > 0, s"gram width must be positive, got $l")
    require(minOccurrences >= 2,
      s"minOccurrences below 2 would mark every gram, got $minOccurrences")
    require(minSpanTokens <= 0 || minSpanTokens >= l,
      s"minSpanTokens below the gram width $l cannot bind, got $minSpanTokens")
    val staged = stageTokens(docs, textCol, idCol)
    val grams = gramRows(staged, l)
    val repeated = grams.groupBy("__g").count()
      .filter(col("count") >= minOccurrences).select("__g")
    cutSpans(staged, grams, repeated, idCol, l, minSpanTokens)
  }

  /** Shared tokenization stage of the span-dedup family: the token
    * arrays are scanned twice (gram pass + rebuild pass), so the parse
    * shares one cached entry via the semantic-dedup registry.
    */
  private def stageTokens(docs: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    graft.engine.CacheOnce(docs.select(col(idCol).as("__id"),
        split(TextOps.normalize(col(textCol)), " ").as("__toks"))
      .withColumn("__n", size(col("__toks"))))

  /** One `l`-gram per token position: (doc, start, md5(gram)). */
  private def gramRows(staged: DataFrame, l: Int): DataFrame =
    staged.filter(col("__n") >= l)
      .select(col("__id"), col("__toks"),
        explode(sequence(lit(1), col("__n") - (l - 1))).as("__s"))
      .select(col("__id"), col("__s"),
        md5(array_join(slice(col("__toks"), col("__s"), lit(l)), " "))
          .as("__g"))

  /** Span marking + island merge + rebuild, given the repeated-gram
    * set — the stage both the full and incremental span-dedup paths
    * share.
    */
  private def cutSpans(staged: DataFrame, grams: DataFrame,
                       repeated: DataFrame, idCol: String, l: Int,
                       minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val marked = grams.join(repeated, "__g")
      .select(col("__id"), col("__s"), (col("__s") + (l - 1)).as("__e"))
    // gap-and-island merge of covered intervals: a new span starts when
    // this gram's first position clears the running max end by > 1
    // (adjacent coverage fuses — spans are maximal runs of covered
    // positions, so n_spans is layout-independent)
    val wPrev = Window.partitionBy("__id").orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("__id").orderBy("__s")
    val spans = marked
      .withColumn("__pme", max(col("__e")).over(wPrev))
      .withColumn("__brk",
        when(col("__pme").isNull || col("__s") > col("__pme") + 1, 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(wRun))
      .groupBy("__id", "__isl")
      .agg(min("__s").as("s"), max("__e").as("e"))
      // the published configuration (Lee et al. use 50 tokens) removes
      // only spans long enough to be real boilerplate; short repeated
      // phrases survive
      .filter(col("e") - col("s") + 1 >= math.max(minSpanTokens, 0))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__spans"))
    staged.join(spans, Seq("__id"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        expr("array()").cast("array<struct<s:int,e:int>>")))
      .withColumn("__kept", filter(
        zip_with(col("__toks"), sequence(lit(1), col("__n")),
          (t, i) => struct(t.as("t"), i.as("i"))),
        p => !exists(col("__spans"), sp =>
          p.getField("i").between(sp.getField("s"), sp.getField("e")))))
      .select(col("__id").as(idCol), col("__n").as("n_tokens"),
        size(col("__spans")).as("n_spans"),
        (col("__n") - size(col("__kept"))).as("tokens_removed"),
        array_join(transform(col("__kept"), _.getField("t")), " ")
          .as("clean_text"))
  }

  /** The materialized STATE artifact of incremental span dedup: one
    * row per distinct `l`-gram with its corpus occurrence count and,
    * when that count is exactly 1, the single document owning it
    * (`solo_doc`) — the doc whose spans change if a later batch makes
    * the gram repeated. This is the span-dedup analog of the
    * signature table [[minhashLshIncremental]] maintains: batch
    * pipelines persist it (bucketed by `gram` at 100 TB so the
    * per-batch merge is shuffle-free on the state side) and roll it
    * forward with [[mergeSpanGramStats]].
    */
  def spanGramStats(docs: DataFrame, textCol: String, idCol: String,
                    l: Int = 8): DataFrame =
    gramRows(stageTokens(docs, textCol, idCol), l)
      .groupBy("__g").agg(count(lit(1)).as("cnt"), min("__id").as("__min"))
      .select(col("__g").as("gram"), col("cnt"),
        when(col("cnt") === 1, col("__min")).otherwise(lit(null))
          .as("solo_doc"))

  /** Roll the gram-stats state forward over a new batch: counts add,
    * and `solo_doc` survives only while the merged count stays 1.
    * The full-outer merge is the ONLY corpus-sized shuffle in the
    * incremental loop — and disappears into a merge join when the
    * state table is bucketed by `gram`.
    */
  def mergeSpanGramStats(stats: DataFrame, newDocs: DataFrame,
                         textCol: String, idCol: String,
                         l: Int = 8): DataFrame = {
    val nw = spanGramStats(newDocs, textCol, idCol, l)
    stats.select(col("gram"), col("cnt").as("__oc"),
        col("solo_doc").as("__os"))
      .join(nw.select(col("gram"), col("cnt").as("__nc"),
        col("solo_doc").as("__ns")), Seq("gram"), "full_outer")
      .select(col("gram"),
        (coalesce(col("__oc"), lit(0L)) + coalesce(col("__nc"), lit(0L)))
          .as("cnt"),
        col("__os"), col("__ns"))
      .withColumn("solo_doc", when(col("cnt") === 1,
        coalesce(col("__os"), col("__ns"))).otherwise(lit(null)))
      .drop("__os", "__ns")
  }

  /** Incremental [[dedupSpans]] (minOccurrences pinned at 2, the
    * standard configuration — the `solo_doc` state is exactly the
    * posting list that threshold needs): clean a NEW batch against a
    * grown corpus WITHOUT re-scanning corpus text. The subtlety a
    * naive incremental run gets wrong: a new batch can make an old
    * gram repeated, changing the span set of the OLD document owning
    * it — those dirty docs are exactly the `solo_doc`s of state grams
    * the new batch touches (counts can only cross the threshold
    * upward; already-repeated grams stay repeated). Per batch:
    *  1. gram the new docs; find dirty old docs with ONE batch-
    *     confined join against the state (state rows with `cnt` = 1
    *     matching a new gram);
    *  2. re-pull only dirty docs' text (semi join), recompute spans
    *     for dirty ∪ new against the post-batch repeated set (state
    *     count + batch count >= 2, looked up for just those docs'
    *     grams);
    *  3. everything else anti-joins through from `prevResult`
    *     untouched.
    * Per-batch cost ∝ |new| + |dirty| document text plus state
    * probes on batch gram keys — never a corpus re-gram. Result ==
    * `dedupSpans(corpus ∪ new)` (gate d16 replays the full truth in
    * DuckDB).
    */
  def dedupSpansIncremental(corpusDocs: DataFrame, stats: DataFrame,
                            prevResult: DataFrame, newDocs: DataFrame,
                            textCol: String, idCol: String, l: Int = 8,
                            minSpanTokens: Int = 0): DataFrame = {
    val newStaged = stageTokens(newDocs, textCol, idCol)
    val newGrams = gramRows(newStaged, l)
    val newPerGram = newGrams.groupBy("__g").agg(count(lit(1)).as("__nc"))
    val statsG = stats.select(col("gram").as("__g"), col("cnt").as("__oc"),
      col("solo_doc"))
    val dirty = dirtySpanDocs(statsG, newPerGram)
    val dirtyDocs = corpusDocs.join(dirty,
      corpusDocs(idCol) === dirty("__did"), "left_semi")
    val compStaged = stageTokens(dirtyDocs, textCol, idCol)
      .unionByName(newStaged)
    val compGrams = gramRows(compStaged, l)
    // post-batch repeated status for exactly the computed docs' grams
    val repeatedNow = compGrams.select("__g").distinct()
      .join(statsG.select("__g", "__oc"), Seq("__g"), "left")
      .join(newPerGram, Seq("__g"), "left")
      .filter(coalesce(col("__oc"), lit(0L)) +
        coalesce(col("__nc"), lit(0L)) >= 2)
      .select("__g")
    val recomputed = cutSpans(compStaged, compGrams, repeatedNow, idCol,
      l, minSpanTokens)
    prevResult.join(dirty, prevResult(idCol) === dirty("__did"),
        "left_anti")
      .unionByName(recomputed)
  }

  /** Old documents whose span set a new batch invalidates: owners of
    * singleton state grams the batch re-mentions. Exposed for the
    * confinement spec.
    */
  private[ops] def dirtySpanDocs(statsG: DataFrame,
                                 newPerGram: DataFrame): DataFrame =
    statsG.filter(col("__oc") === 1)
      .join(newPerGram, Seq("__g"))
      .select(col("solo_doc").as("__did")).distinct()
}
