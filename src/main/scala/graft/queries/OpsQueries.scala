package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.ops._

/** Training-data pipeline operators over `documents` / `embeddings`
  * (dedup, similarity search, text analysis, multimodal plumbing).
  * SQL-expressible ops carry a DuckDB oracle generated from the SAME
  * marker lists / formulas as the Spark code; candidate-generation ops
  * (LSH banding, simhash chunking) are rows-only by design.
  */
object OpsQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
  /** The n31/n35 boundary-straddling ANN fixture (hash-derived from
    * the embeddings table, fully deterministic, PINNED to the first
    * 500 vec_ids so it is identical at every scale factor): 16
    * unit-norm hash centers; cluster j lives at the MIDPOINT of
    * centers j and j+1 (member = 5·ĉ_j + 5·ĉ_{j+1} + hash noise), so
    * each member is a coin-flip between cells j and j+1 and every
    * query's top-5 splits across BOTH cells — IVF's canonical blind
    * spot and the regime graph indexes exist for. Returns (corpus,
    * cells, queries): 500 corpus vectors, the 16 shared routing
    * cells, 20 re-identified member queries.
    */
  private val straddleMemo = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (org.apache.spark.sql.DataFrame, Array[Array[Double]],
       org.apache.spark.sql.DataFrame)]
  private def straddleFixture(s: org.apache.spark.sql.SparkSession,
                              dir: String)
      : (org.apache.spark.sql.DataFrame, Array[Array[Double]],
         org.apache.spark.sql.DataFrame) =
    // Shared across n31/n35/n40 (and every within-gate action): the
    // fixture is hash-derived and deterministic, so the first gate in
    // a session materializes the 500-row corpus once (localCheckpoint)
    // and the rest reuse it — the corpus join pipeline otherwise
    // re-ran on EVERY action of every consumer (three gates × builds,
    // brute-force baselines, and serves).
    RelationalQueries.memoGet(straddleMemo, s, dir) {
    val e = embs(s, dir).filter(col("vec_id") < 500)
    val centers = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        expr("transform(sequence(1, 64), j -> " +
          "cast(pmod(xxhash64(vec_id * 1000 + j * 17 + 1), 2001) " +
          "/ 1000.0 - 1.0 as float))").as("c_raw"))
      .select(col("cid"), expr("transform(c_raw, x -> cast(x / " +
        "sqrt(aggregate(zip_with(c_raw, c_raw, (a, b) -> " +
        "cast(a as double) * b), cast(0.0 as double), (s, x) -> s + x)) " +
        "as float))").as("c_emb"))
    val cA = centers
    val cB = centers.select(pmod(col("cid") - 1 + 16, lit(16)).as("cid"),
      col("c_emb").as("c_emb2"))
    val corpus = e.withColumn("cid", pmod(col("vec_id"), lit(16)))
      .withColumn("noise",
        expr("transform(sequence(1, 64), j -> " +
          "cast(pmod(xxhash64(vec_id * 1000 + j * 17 + 2), 2001) " +
          "/ 1000.0 - 1.0 as float))"))
      .join(broadcast(cA), Seq("cid")).join(broadcast(cB), Seq("cid"))
      .select(col("vec_id"),
        zip_with(zip_with(col("c_emb"), col("c_emb2"),
            (a, b) => a * lit(5.0f) + b * lit(5.0f)),
          col("noise"), (m, o) => (m + o).cast("float"))
        .as("embedding"))
    val cells = centers.orderBy("cid").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val corpusCk = corpus.localCheckpoint()
    val q = corpusCk.filter(col("vec_id") >= 16 && col("vec_id") < 36)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    (corpusCk, cells, q)
  }

  private def embs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")

  /** The unigram-tokenizer gate fixture (t21, t28, t29, t30): the
    * top-200 words of at most 12 chars, pinned by a localCheckpoint,
    * and the 120-piece seed model over them.
    */
  private def unigramFixture(s: org.apache.spark.sql.SparkSession,
                             dir: String)
      : (org.apache.spark.sql.DataFrame, TextOps.UnigramModel) = {
    val table = TextOps.bpeWordTable(docs(s, dir), "text",
        maxWords = 100000).drop("syms")
      .filter(length(col("word")) <= 12)
      .orderBy(col("freq").desc, col("word")).limit(200)
      .localCheckpoint()
    (table, TextOps.unigramSeedModel(table, vocabSize = 120,
      maxPieceLen = 3))
  }

  /** The n15/n16 SQ8 gate: the per-dim grid fit over the full corpus,
    * then `serve(queries, corpus, model)` for the first 20 vectors. */
  private def sq8Top5(s: org.apache.spark.sql.SparkSession, dir: String)(
      serve: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        Embeddings.Sq8Model) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = embs(s, dir)
    val model = Embeddings.sq8Fit(e, "embedding", dim = 64)
    serve(e.filter(col("vec_id") < 20), e, model)
      .select("q_id", "n_id", "rank")
  }

  /** The n14/n28 composition gate: rotate the corpus into `model`'s
    * basis, train the residual IVF+PQ artifacts there, and check per
    * query that probing all 32 cells reproduces the exhaustive
    * residual-PQ scan rank for rank. */
  private def rotatedIvfPqProbeAll(e: org.apache.spark.sql.DataFrame,
                                   model: Embeddings.PcaModel)
      : org.apache.spark.sql.DataFrame = {
    val rot = Similarity.rotateToBasis(e, model)
    val q = rot.filter(col("vec_id") < 20)
    val cells = KMeans.trainCentroidsDistributed(rot, "vec_id",
      "embedding", nlist = 32, iters = 5)
    val cb = KMeans.trainResidualPqCodebook(rot, "vec_id", "embedding",
      cells, m = 16, ks = 64, dim = 64)
    val base = Similarity.pqResidualTopK(q, rot, 5, nlist = 32,
        m = 16, ks = 64, centroids = Some(cells), codebook = Some(cb))
      .select("q_id", "n_id", "rank")
    val ivfpq = Similarity.ivfPqResidualTopK(q, rot, 5, nlist = 32,
        nprobe = 32, m = 16, ks = 64,
        centroids = Some(cells), codebook = Some(cb))
      .select("q_id", "n_id", "rank")
    val joint = base.withColumnRenamed("rank", "rank_base")
      .join(ivfpq.withColumnRenamed("rank", "rank_ivfpq"),
        Seq("q_id", "n_id"), "full")
    joint.groupBy("q_id")
      .agg((count(lit(1)) === sum(when(col("rank_base") === col("rank_ivfpq"), 1)
        .otherwise(0))).as("probe_all_exact"))
  }

  /** BM25 corpus state of the documents in `d` (t24, t31, t34). */
  private def bm25State(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    TextOps.bm25State(d, "text", "doc_id")

  /** The fixed query table scored against `state` over the documents
    * in `d`, in t22's output columns. */
  private def bm25Serve(state: org.apache.spark.sql.DataFrame,
                        d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    TextOps.bm25ScoreWithState(state, d, "text", "doc_id",
        bm25QueryTerms.toDF("query_id", "term"))
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 4).as("score"), col("n_terms_hit"))
  }

  /** The t31/t34 delete step: subtract the doc_id % 5 == 2 slice's
    * state from the corpus state of `d`, then serve the survivors. */
  private def bm25DeleteServe(state: org.apache.spark.sql.DataFrame,
                              d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bm25Serve(TextOps.subtractBm25State(state,
      bm25State(d.filter(col("doc_id") % 5 === 2))),
      d.filter(col("doc_id") % 5 =!= 2))

  /** Overlap independent EAGER sub-pipelines of one gate (index
    * builds, lifecycle chains, serve walks). Each chain is a
    * driver-sequenced series of Spark actions (localCheckpoints,
    * regime counts, writes) that leaves most executor slots idle
    * between jobs — the construction gates measure cpu/wall ≈ 0.5-0.8
    * with 32 cores configured. Running independent chains concurrently
    * backfills those gaps (the optimization guide's
    * overlap-independent-jobs recipe, §2.6): FIFO scheduling lets the
    * later chain's tasks fill slots the earlier chain's tail frees, and
    * at low core counts it degrades to the sequential schedule.
    * Results are unchanged by construction — every chain is a
    * deterministic function of its inputs (bounded-heap selections are
    * (score, id)-total-ordered, so aggregation merge order cannot
    * change a row), and concurrency only moves WHEN jobs run.
    * Memoized fixtures a gate shares across chains must be forced
    * BEFORE spawning (TrieMap.getOrElseUpdate may evaluate a
    * contended builder twice — same rows, wasted work).
    */
  private def par2[A, B](a: => A, b: => B): (A, B) = {
    val r = IndexIo.runConcurrently[() => Any, Any](
      Seq(() => a, () => b), 2)(_.apply())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  private def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = IndexIo.runConcurrently[() => Any, Any](
      Seq(() => a, () => b, () => c), 3)(_.apply())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  private def par4[A, B, C, D](a: => A, b: => B, c: => C, d: => D)
      : (A, B, C, D) = {
    val r = IndexIo.runConcurrently[() => Any, Any](
      Seq(() => a, () => b, () => c, () => d), 4)(_.apply())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }

  /** [[par2]] for a same-typed fan-out (per-shard builds). */
  private def parSeq[T](thunks: Seq[() => T]): Seq[T] =
    IndexIo.runConcurrently(thunks, thunks.length)(_.apply())

  /** Multiset equality of two relations as ONE Spark action. The
    * sequential `a.exceptAll(b).count() == 0 &&
    * b.exceptAll(a).count() == 0` form the equality gates used costs
    * two driver-sequenced jobs per check (and short-circuit forall
    * loops serialize one pair per shard); one lazy union of all the
    * exceptAll legs answers the same boolean with a single limit-1
    * scan. */
  private def setEqual(pairs: Seq[(org.apache.spark.sql.DataFrame,
                                   org.apache.spark.sql.DataFrame)])
      : Boolean =
    pairs.flatMap { case (a, b) =>
      Seq(a.exceptAll(b), b.exceptAll(a))
    }.map(_.select(lit(1).as("__one"))).reduce(_.union(_)).isEmpty

  /** The canonical OPQ training four gates share (n28/n36/n42/n43):
    * the IDENTICAL seeded call (full embeddings table, m=16, ks=64,
    * iters=4) trained four times per suite run. The training is
    * deterministic (fixed seed, fixed sample), so memoizing per
    * (session, dir) cannot change any gate's rows — the first gate in
    * a session pays the training, the rest reuse the driver-side
    * (rotation, codebook) arrays. Gates that train OTHER models (the
    * n28 residual centroids/codebook, every t-gate) still train them
    * inside the gate: training is only shared where the model is
    * literally the same artifact.
    */
  private val opqMemo = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (Embeddings.PcaModel, Array[Array[Double]])]
  private def canonicalOpq(s: org.apache.spark.sql.SparkSession,
                           dir: String)
      : (Embeddings.PcaModel, Array[Array[Double]]) =
    RelationalQueries.memoGet(opqMemo, s, dir)(
      Embeddings.opqTrain(embs(s, dir), "vec_id", "embedding",
        m = 16, ks = 64, iters = 4))

  /** Gates whose timed sample EXCLUDES work another gate's evaluation
    * already paid inside the same session: the later consumers of
    * [[canonicalOpq]] — the first gate of the suite to need it (n28 in
    * sorted order) trains it in its timed region, these reuse the
    * driver-side arrays. Bench lists them as `shared_fixtures` so the
    * artifact is self-describing.
    */
  val sharedFixtures: Seq[String] =
    Seq("n36_ann_graph_opq", "n42_ann_hnsw_pq", "n43_hnsw_pq_persist")

  // ---- SQL mirrors of TextOps formulas ---------------------------------
  /** The fixed merge table for the t19 encode gate — the shape of a
    * shipped tokenizer artifact (common English pairs).
    */
  private val encodeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

  /** Shared BM25 fixture + oracle fragments (t22, t24, t27, t31, t34,
    * n17): the fixed query-term table and the DuckDB corpus-statistics
    * CTEs / scoring expression, factored so the gates cannot drift.
    * 'zzz' proves absent query terms contribute nothing.
    */
  private val bm25QueryTerms: Seq[(String, String)] = Seq(
    "q1" -> "hash", "q1" -> "join",
    "q2" -> "vector", "q2" -> "scan", "q2" -> "filter",
    "q3" -> "spark", "q3" -> "stream", "q3" -> "window",
    "q3" -> "zzz")

  private val bm25QueryValuesSql: String =
    bm25QueryTerms.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")

  /** Every BM25 corpus statistic refit from scratch over the documents
    * `where` keeps, plus the query table `q`: trailing CTE fragment. */
  private def bm25StatsSql(where: String = ""): String =
    s"""toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
      |    x -> x <> '')) AS term
      |  FROM documents$where),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT (SELECT count(*) FROM documents$where)::DOUBLE AS n_docs,
      |  (SELECT sum(tf) FROM tf)::DOUBLE /
      |    (SELECT count(*) FROM documents$where)::DOUBLE AS avgdl),
      |q(query_id, term) AS (VALUES $bm25QueryValuesSql)""".stripMargin

  private val bm25ScoreSql =
    """ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
      |    (tf.tf * (1.2 + 1.0)) /
      |    (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / st.avgdl))""".stripMargin

  /** 4dp score per (query, doc) over [[bm25StatsSql]]; `cols` appends
    * output columns. */
  private def bm25ScoresSql(cols: String): String =
    s"""SELECT q.query_id, tf.doc_id,
       |  round(sum(
       |    $bm25ScoreSql
       |  ), 4) AS score$cols
       |FROM tf
       |JOIN q USING (term)
       |JOIN dfq USING (term)
       |JOIN dl USING (doc_id), st
       |GROUP BY 1, 2""".stripMargin

  /** The t22 oracle over the documents `where` keeps. A refit, so it is
    * also the oracle of every state path whose counts must add up to
    * the same corpus (t24 merge, t31 subtract, t34 save/load). */
  private def bm25Sql(where: String = ""): String =
    s"""WITH ${bm25StatsSql(where)}
       |${bm25ScoresSql(",\n  count(*) AS n_terms_hit")}""".stripMargin

  private def occSql(x: String, marker: String): String =
    s"cast((length($x) - length(replace($x, '$marker', ''))) / ${marker.length} AS INT)"

  /** DuckDB replay of `Multimodal.dhashCode` over the quadrant-BMP
    * fixture (m11, d21, d22): NN floor mapping to the 9×8 grid, quadrant
    * integer gray sums, per-row comparisons, bits packed 32/word.
    * Trailing CTE fragment ending in `codes(doc_id, w0, w1)`.
    */
  private val dhashCodesSql: String =
    """g AS (
      |  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 7 + 1 AS h,
      |    (doc_id % 256) + (doc_id * 7 % 256) + (doc_id * 13 % 256) AS gtl,
      |    (doc_id * 3 % 256) + (doc_id * 11 % 256) + (doc_id * 17 % 256) AS gtr,
      |    (doc_id * 5 % 256) + (doc_id * 19 % 256) + (doc_id * 23 % 256) AS gbl,
      |    (doc_id * 29 % 256) + (doc_id * 31 % 256) + (doc_id * 37 % 256) AS gbr
      |  FROM documents),
      |cells AS (
      |  SELECT g.doc_id, x.x, y.y,
      |    CASE WHEN ((y.y * g.h) // 8) < (g.h // 2)
      |         THEN CASE WHEN ((x.x * g.w) // 9) < (g.w // 2)
      |                   THEN gtl ELSE gtr END
      |         ELSE CASE WHEN ((x.x * g.w) // 9) < (g.w // 2)
      |                   THEN gbl ELSE gbr END
      |    END AS gs
      |  FROM g, range(0, 9) x(x), range(0, 8) y(y)),
      |bits AS (
      |  SELECT a.doc_id, cast(a.y * 8 + a.x AS INT) AS bit
      |  FROM cells a JOIN cells b ON a.doc_id = b.doc_id
      |    AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 8 AND a.gs > b.gs),
      |codes AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    cast(coalesce(sum(CASE WHEN bit < 32
      |      THEN (1::BIGINT << (bit % 32)) END), 0) AS BIGINT) AS w0,
      |    cast(coalesce(sum(CASE WHEN bit >= 32
      |      THEN (1::BIGINT << (bit % 32)) END), 0) AS BIGINT) AS w1
      |  FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
      |  GROUP BY 1)""".stripMargin

  /** Exact cosine top-5 of the first 20 vectors (n01): the oracle of
    * every ANN gate whose probe-all path must equal brute force. */
  private val bruteTop5Sql =
    """SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |  row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |             c.vec_id) AS rank
      |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |WHERE q.vec_id < 20
      |QUALIFY rank <= 5""".stripMargin

  /** The SQ8 top-5 oracle (n15, n16): exact per-dim grid, the
    * quantize-dequantize affine, cosine top-5 of the first 20 vectors
    * against the dequantized corpus. */
  private val sq8Top5Sql =
    """WITH mm AS (
      |  SELECT cast(t.i AS INT) AS d,
      |    min(e.embedding[t.i]::DOUBLE) AS lo,
      |    max(e.embedding[t.i]::DOUBLE) AS hi
      |  FROM embeddings e,
      |    unnest(range(1, len(e.embedding) + 1)) AS t(i)
      |  GROUP BY 1),
      |dq AS (
      |  SELECT e.vec_id,
      |    list(CASE WHEN m.hi - m.lo <= 0 THEN m.lo
      |         ELSE m.lo + greatest(0.0, least(255.0,
      |           floor((e.embedding[m.d]::DOUBLE - m.lo) /
      |             (m.hi - m.lo) * 255.0 + 0.5))) *
      |           (m.hi - m.lo) / 255.0 END ORDER BY m.d) AS dqv
      |  FROM embeddings e JOIN mm m ON true
      |  GROUP BY e.vec_id)
      |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |  row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(
      |      list_transform(q.embedding, x -> x::DOUBLE), c.dqv) DESC,
      |      c.vec_id) AS rank
      |FROM embeddings q JOIN dq c ON q.vec_id <> c.vec_id
      |WHERE q.vec_id < 20
      |QUALIFY rank <= 5""".stripMargin

  /** Exact decontamination (d07, d08): documents whose normalized-text
    * md5 is not among the 10% hash-sampled eval split's. */
  private val exactDecontaminationSql =
    """WITH ev AS (
      |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents
      |  WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 4))::INT < 6553)
      |SELECT doc_id, lang FROM documents
      |WHERE md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |      NOT IN (SELECT fp FROM ev)""".stripMargin

  /** Banded Hamming near-dup pairs over [[dhashCodesSql]] (d21, d22):
    * 16-bit chunk buckets capped at 1000 codes, candidate pairs kept
    * where `pred` holds, full distance at most 3. */
  private def dhashPairsSql(pred: String = ""): String =
    s"""WITH $dhashCodesSql,
       |chunks AS (
       |  SELECT doc_id, ci,
       |    (CASE WHEN ci // 2 = 0 THEN w0 ELSE w1 END
       |      >> ((ci % 2) * 16)) & 65535 AS chunk
       |  FROM codes, range(0, 4) t(ci)),
       |bsz AS (SELECT ci, chunk, count(*) AS n FROM chunks
       |        GROUP BY 1, 2),
       |sized AS (
       |  SELECT c.doc_id, c.ci, c.chunk FROM chunks c
       |  JOIN bsz ON c.ci = bsz.ci AND c.chunk = bsz.chunk
       |  WHERE bsz.n <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sized a JOIN sized b
       |    ON a.ci = b.ci AND a.chunk = b.chunk
       |      AND a.doc_id < b.doc_id$pred)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT doc_a, doc_b,
       |    bit_count(xor(ca.w0, cb.w0)) +
       |    bit_count(xor(ca.w1, cb.w1)) AS hamming
       |  FROM cand
       |  JOIN codes ca ON ca.doc_id = cand.doc_a
       |  JOIN codes cb ON cb.doc_id = cand.doc_b)
       |WHERE hamming <= 3""".stripMargin

  /** DuckDB replay of `TextOps.hashedNgramFeatures` (t23, t25):
    * unigram+bigram grams, md5 16-bucket hashing, per-doc
    * count/total features, bias pseudo-rows. Trailing CTE fragment
    * ending in `feats(doc_id, b, x)`. MATERIALIZED: the GD stage
    * chains reference it once per stage side.
    */
  private val hashedFeatsSql: String =
    """words AS MATERIALIZED (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> x <> '') AS w
      |  FROM documents),
      |grams AS MATERIALIZED (
      |  SELECT doc_id, unnest(w) AS g FROM words
      |  UNION ALL
      |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
      |        FROM words WHERE len(w) >= 2)),
      |tot AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS t FROM grams GROUP BY 1),
      |feats AS MATERIALIZED (
      |  SELECT g.doc_id, ('0x' || substr(md5(g.g), 1, 4))::INT % 16 AS b,
      |    cast(count(*) AS DOUBLE) / max(tot.t) AS x
      |  FROM grams g JOIN tot ON g.doc_id = tot.doc_id
      |  GROUP BY 1, 2
      |  UNION ALL
      |  SELECT doc_id, -1 AS b, 1.0 AS x FROM documents)""".stripMargin

  /** DuckDB mirror of `TextOps.qualityScore`'s logit (the t11
    * fixed-weight model) — shared by the t11 scoring gate and the p20
    * per-group selection gate so the formula cannot drift.
    */
  private lazy val fixedQualityZSql: String = {
    val pad = "(' ' || lower(text) || ' ')"
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val guard = s"(CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END)"
    val nStop = Seq("the", "a", "and", "of", "is", "to", "in")
      .map(m => occSql(pad, s" $m ")).mkString(" + ")
    val nPunct = Seq(".", ",", "!", "?").map(occSql("text", _)).mkString(" + ")
    s"""-1.0 + 0.35 * ln(1.0 + length(text))
       | + 5.0 * (cast($nStop AS DOUBLE) / $guard)
       | - 0.3 * abs((cast(length(text) - ${occSql("text", " ")} AS DOUBLE) / $guard) - 5.0)
       | - 0.01 * cast($nPunct AS DOUBLE)""".stripMargin.replace("\n", "")
  }

  private def scoreSql(markers: Seq[String]): String =
    markers.map(m => occSql("(' ' || lower(text) || ' ')", s" $m ")).mkString(" + ")

  private val enS = scoreSql(Seq("the", "a", "and", "of", "is"))
  private val frS = scoreSql(Seq("le", "la", "et", "les", "est"))
  private val deS = scoreSql(Seq("der", "die", "und", "das", "ist"))
  private val esS = scoreSql(Seq("el", "los", "las", "es", "y"))

  private val langIdSql =
    s"""CASE WHEN ($enS) >= ($frS) AND ($enS) >= ($deS) AND ($enS) >= ($esS) THEN 'en'
       |     WHEN ($frS) >= ($deS) AND ($frS) >= ($esS) THEN 'fr'
       |     WHEN ($deS) >= ($esS) THEN 'de'
       |     ELSE 'es' END""".stripMargin

  /** DuckDB replication of `Dedup.shingles(text, 3)` over `documents`:
    * distinct word 3-grams of the normalized text (trailing CTE
    * fragment — compose as s"WITH $gramSql, ...").
    */
  private val gramSql =
    """norm AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) >= 3 THEN w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
      |         ELSE array_to_string(w, ' ') END AS gram
      |  FROM (SELECT doc_id, w,
      |          unnest(range(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 1 END)) AS i
      |        FROM norm))""".stripMargin

  /** True (exact set) n-gram Jaccard over all doc pairs, as a trailing
    * CTE fragment ending in relation `truth(doc_a, doc_b, jac)`.
    */
  private val trueJaccardSql =
    s"""$gramSql,
       |sizes AS (SELECT doc_id, count(*) AS ng FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b,
       |    cast(ni AS DOUBLE) / (sa.ng + sb.ng - ni) AS jac
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)""".stripMargin

  /** Recursive transitive closure over the truth pairs — `comps` =
    * (doc_id, component=min id). Shared by d06/d09/d14 so the one CC
    * oracle construction cannot drift between gates.
    */
  private val ccFromTruthSql =
    """cand AS (SELECT doc_a, doc_b FROM truth WHERE jac >= 0.7),
      |und AS (SELECT doc_a AS u, doc_b AS v FROM cand
      |        UNION SELECT doc_b, doc_a FROM cand),
      |walk(node, comp) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
      |  UNION
      |  SELECT p.u, w.comp FROM und p JOIN walk w ON w.node = p.v),
      |comps AS (SELECT node AS doc_id, min(comp) AS component
      |          FROM walk GROUP BY 1)""".stripMargin

  /** The token-grain span oracle (d15, d16, p16): normalized tokens
    * `n(doc_id, toks, n)`, every 8-token window repeated anywhere in
    * the corpus, merged into maximal spans `sp(doc_id, isl, ss, se)`
    * (1-based inclusive token positions). Trailing CTE fragment.
    */
  private val tokenSpansSql =
    """t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ',
      |                                     'g')), ' ') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |g AS (SELECT doc_id, cast(u.i AS INT) AS s,
      |    cast(u.i + 7 AS INT) AS e,
      |    array_to_string(toks[u.i:u.i+7], ' ') AS gram
      |  FROM n, unnest(range(1, n - 6)) AS u(i) WHERE n >= 8),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      |m AS (SELECT g.doc_id, g.s, g.e FROM g JOIN d USING (gram)),
      |i1 AS (SELECT doc_id, s, e,
      |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
      |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND 1 PRECEDING), -1) + 1
      |      THEN 1 ELSE 0 END AS brk FROM m),
      |i2 AS (SELECT doc_id, s, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS isl
      |  FROM i1),
      |sp AS (SELECT doc_id, isl, min(s) AS ss, max(e) AS se
      |  FROM i2 GROUP BY doc_id, isl)""".stripMargin

  /** `Dedup.dedupSpans(l = 8)` in full (d15, d16): span counts and the
    * text rebuilt from the tokens no span covers. */
  private val tokenSpanDedupSql =
    s"""WITH $tokenSpansSql,
       |spc AS (SELECT doc_id, count(*) AS n_spans FROM sp
       |  GROUP BY doc_id),
       |pos AS (SELECT doc_id, cast(u.i AS INT) AS p, toks[u.i] AS tok
       |  FROM n, unnest(range(1, n + 1)) AS u(i)),
       |keep AS (SELECT pos.doc_id, pos.p, pos.tok FROM pos
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = pos.doc_id
       |      AND pos.p BETWEEN sp.ss AND sp.se)),
       |k AS (SELECT doc_id, count(*) AS kept,
       |    string_agg(tok, ' ' ORDER BY p) AS clean_text
       |  FROM keep GROUP BY doc_id)
       |SELECT n.doc_id, cast(n.n AS INT) AS n_tokens,
       |  cast(coalesce(spc.n_spans, 0) AS INT) AS n_spans,
       |  cast(n.n - coalesce(k.kept, 0) AS INT) AS tokens_removed,
       |  coalesce(k.clean_text, '') AS clean_text
       |FROM n LEFT JOIN spc USING (doc_id)
       |LEFT JOIN k USING (doc_id)""".stripMargin

  /** The exact-substring oracle (d25–d32, d37): brute force over every
    * 40-char window, a different algorithm from the suffix-array
    * refinement those gates run. [[charDocsSql]] is a document
    * relation `name(doc_id, text, n)` over the documents `where` keeps;
    * [[charGramsSql]] its 40-char windows, `cols` choosing
    * `(doc_id, off, gram)` rows or DISTINCT grams, `pred` narrowing
    * the documents further.
    */
  private def charDocsSql(name: String, where: String = ""): String =
    s"""$name AS (SELECT doc_id, text, length(text) AS n
       |  FROM documents$where)""".stripMargin

  private val charOffCols = "doc_id, cast(u.i AS INT) AS off,"

  private def charGramsSql(name: String, cols: String, from: String,
                           pred: String = ""): String =
    s"""$name AS (SELECT $cols
       |    substr(text, cast(u.i + 1 AS INT), 40) AS gram
       |  FROM $from, unnest(range(0, n - 39)) AS u(i) WHERE n >= 40$pred)""".stripMargin

  /** Island merge of the marked window offsets `m(doc_id, off)`: a
    * window starting past the end of every earlier one opens a new
    * island, `i2(doc_id, off, isl)`. */
  private val charIslandSql =
    """i1 AS (SELECT doc_id, off,
      |    CASE WHEN off > coalesce(max(off + 39) OVER (
      |        PARTITION BY doc_id ORDER BY off
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -2) + 1 THEN 1 ELSE 0 END AS brk FROM m),
      |i2 AS (SELECT doc_id, off,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY off) AS isl
      |  FROM i1)""".stripMargin

  /** Query tail: each island as one `(doc_id, span_start, span_end,
    * span_len)` row. */
  private val charSpansSql =
    s"""$charIslandSql
       |SELECT doc_id, cast(min(off) AS INT) AS span_start,
       |  cast(max(off) + 40 AS INT) AS span_end,
       |  cast(max(off) + 40 - min(off) AS INT) AS span_len
       |FROM i2 GROUP BY doc_id, isl""".stripMargin

  /** Query tail: every island cut out of the `d` documents, the kept
    * text reassembled from the gaps in order. */
  private val charCutSql =
    s"""$charIslandSql,
       |sp AS (SELECT doc_id, cast(min(off) AS INT) AS ss,
       |    cast(max(off) + 40 AS INT) AS se
       |  FROM i2 GROUP BY doc_id, isl),
       |gaps AS (
       |  SELECT sp.doc_id,
       |    coalesce(lag(sp.se) OVER (PARTITION BY sp.doc_id
       |      ORDER BY sp.ss), 0) AS gs,
       |    sp.ss AS ge
       |  FROM sp
       |  UNION ALL
       |  SELECT d.doc_id, coalesce(max(sp.se), 0), max(d.n)
       |  FROM d LEFT JOIN sp USING (doc_id) GROUP BY d.doc_id),
       |k AS (SELECT g2.doc_id,
       |    string_agg(substr(d.text, g2.gs + 1, g2.ge - g2.gs), ''
       |      ORDER BY g2.gs) AS clean
       |  FROM gaps g2 JOIN d USING (doc_id) GROUP BY g2.doc_id),
       |spc AS (SELECT doc_id, count(*) AS ns FROM sp GROUP BY 1)
       |SELECT d.doc_id, cast(d.n AS INT) AS n_chars,
       |  cast(coalesce(spc.ns, 0) AS INT) AS n_spans,
       |  cast(d.n - length(k.clean) AS INT) AS chars_removed,
       |  k.clean AS clean_text
       |FROM d JOIN k USING (doc_id)
       |LEFT JOIN spc USING (doc_id)""".stripMargin

  /** Windows that repeat within the documents `where` keeps, then
    * `tail` ([[charSpansSql]] or [[charCutSql]]). */
  private def charRepeatsSql(tail: String, where: String = ""): String =
    s"""WITH ${charDocsSql("d", where)},
       |${charGramsSql("g", charOffCols, "d")},
       |r AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |m AS (SELECT g.doc_id, g.off FROM g JOIN r USING (gram)),
       |$tail""".stripMargin

  /** Train windows (`gtr`) that also occur among the DISTINCT eval
    * windows (`gev`), then `tail`. */
  private def charOverlapSql(docs: String, gtr: String, gev: String,
                             tail: String): String =
    s"""WITH $docs,
       |$gtr,
       |$gev,
       |m AS (SELECT gtr.doc_id, gtr.off FROM gtr
       |  JOIN gev USING (gram)),
       |$tail""".stripMargin

  /** The d27/d29 contamination spans: train = doc_id % 7 <> 0, eval =
    * doc_id % 7 = 0, both cut from one document relation. */
  private val charContaminationSql = charOverlapSql(charDocsSql("d"),
    charGramsSql("gtr", charOffCols, "d", " AND doc_id % 7 <> 0"),
    charGramsSql("gev", "DISTINCT", "d", " AND doc_id % 7 = 0"),
    charSpansSql)

  /** The unigram-tokenizer oracle (t21, t28, t29, t30) over the gate
    * fixture `wt(word, freq)`: the top-200 words of at most 12 chars.
    * [[unigramSeedSql]] is the 120-piece seed vocabulary
    * `v0sel(piece, cnt)` (every char plus the most frequent 2-3-char
    * substrings), [[unigramCostSql]] its integer costs `v0` on the
    * 1e-6 log grid, [[unigramProbSql]] its probabilities `vp`.
    */
  private val unigramWordsSql =
    """wd AS (SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(list_filter(
      |      string_split_regex(lower(trim(text)), '\s+'),
      |      x -> x <> '')) AS word FROM documents) GROUP BY 1),
      |wt AS (SELECT word, freq FROM wd WHERE length(word) <= 12
      |       ORDER BY freq DESC, word LIMIT 200)""".stripMargin

  private val unigramSeedSql =
    """subs AS (SELECT substr(w.word, cast(t.i AS INT), cast(u.l AS INT)) AS piece,
      |    w.freq
      |  FROM wt w,
      |    unnest(range(1, length(w.word) + 1)) AS t(i),
      |    unnest(range(1, least(3, length(w.word) - t.i + 1) + 1)) AS u(l)),
      |sc AS (SELECT piece, cast(sum(freq) AS BIGINT) AS cnt
      |  FROM subs GROUP BY 1),
      |v0sel AS (
      |  SELECT piece, cnt FROM sc WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt,
      |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
      |    FROM sc WHERE length(piece) > 1)
      |  WHERE rn <= 120 - (SELECT count(*) FROM sc
      |                     WHERE length(piece) = 1))""".stripMargin

  private val unigramCostSql =
    """v0 AS (SELECT piece, cnt,
      |    cast(-round(1e6 * ln(cnt::DOUBLE /
      |      (SELECT sum(cnt)::DOUBLE FROM v0sel))) AS BIGINT) AS cost
      |  FROM v0sel)""".stripMargin

  private val unigramProbSql =
    """vp AS (SELECT piece, cnt::DOUBLE /
      |    (SELECT sum(cnt)::DOUBLE FROM v0sel) AS p
      |  FROM v0sel)""".stripMargin

  /** Forward-backward over every word's piece lattice under `vp`
    * (3-slot sliding windows of alpha and beta): expected piece counts
    * `occ(word, piece, e)` and their frequency-weighted sums
    * `softc(piece, s)`. Trailing CTE fragment (t28, t30).
    */
  private val unigramLatticeSql =
    """fwd AS (
      |  SELECT word, 0 AS i, 1.0::DOUBLE AS a0, 0.0::DOUBLE AS am1,
      |    0.0::DOUBLE AS am2
      |  FROM wt
      |  UNION ALL
      |  SELECT f.word, f.i + 1,
      |    coalesce(p1.p * f.a0, 0.0) + coalesce(p2.p * f.am1, 0.0)
      |      + coalesce(p3.p * f.am2, 0.0),
      |    f.a0, f.am1
      |  FROM fwd f
      |  LEFT JOIN vp p1 ON p1.piece = substr(f.word, f.i + 1, 1)
      |  LEFT JOIN vp p2 ON f.i >= 1 AND p2.piece = substr(f.word, f.i, 2)
      |  LEFT JOIN vp p3 ON f.i >= 2
      |    AND p3.piece = substr(f.word, f.i - 1, 3)
      |  WHERE f.i < length(f.word)),
      |bwd AS (
      |  SELECT word, length(word) AS j, 1.0::DOUBLE AS b0,
      |    0.0::DOUBLE AS bp1, 0.0::DOUBLE AS bp2
      |  FROM wt
      |  UNION ALL
      |  SELECT b.word, b.j - 1,
      |    coalesce(q1.p * b.b0, 0.0) + coalesce(q2.p * b.bp1, 0.0)
      |      + coalesce(q3.p * b.bp2, 0.0),
      |    b.b0, b.bp1
      |  FROM bwd b
      |  LEFT JOIN vp q1 ON q1.piece = substr(b.word, b.j, 1)
      |  LEFT JOIN vp q2 ON q2.piece = substr(b.word, b.j, 2)
      |  LEFT JOIN vp q3 ON q3.piece = substr(b.word, b.j, 3)
      |  WHERE b.j > 0),
      |occ AS (
      |  SELECT g.word, g.piece, fa.a0 * v.p * fb.b0 / fz.a0 AS e
      |  FROM (SELECT w.word, cast(t.j AS INT) AS j,
      |          cast(u.l AS INT) AS l,
      |          substr(w.word, cast(t.j + 1 AS INT),
      |            cast(u.l AS INT)) AS piece
      |        FROM wt w,
      |          unnest(range(0, length(w.word))) AS t(j),
      |          unnest(range(1, least(3, length(w.word) - t.j) + 1))
      |            AS u(l)) g
      |  JOIN vp v USING (piece)
      |  JOIN fwd fa ON fa.word = g.word AND fa.i = g.j
      |  JOIN bwd fb ON fb.word = g.word AND fb.j = g.j + g.l
      |  JOIN (SELECT word, a0 FROM fwd WHERE i = length(word)) fz
      |    ON fz.word = g.word),
      |softc AS (SELECT o.piece, sum(w.freq * o.e) AS s
      |  FROM occ o JOIN wt w USING (word) GROUP BY 1)""".stripMargin

  /** The DSIR refit (t16, t17, p17, p18): both hashed unigram+bigram
    * models (md5 into 1024 buckets, Laplace smoothing, natural log)
    * fit from scratch over `from`, target = the doc_id % 3 = 0 slice.
    * Trailing CTE fragment ending in the bucketed grams
    * `g(doc_id, tgt, b)` and the per-bucket log weight `w(b, lw)`.
    */
  private def dsirFitSql(from: String): String =
    s"""t AS (SELECT doc_id, (doc_id % 3 = 0) AS tgt,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                x -> x <> '') AS toks FROM $from),
       |u AS (SELECT doc_id, tgt, uu.w AS g
       |  FROM t, unnest(toks) AS uu(w)),
       |b2 AS (SELECT doc_id, tgt, toks[uu.j] || ' ' || toks[uu.j+1] AS g
       |  FROM t, unnest(range(1, len(toks))) AS uu(j)),
       |g AS (SELECT doc_id, tgt,
       |    cast(('0x' || substr(md5(g), 1, 4))::INT % 1024 AS INT) AS b
       |  FROM (SELECT * FROM u UNION ALL SELECT * FROM b2)),
       |fit AS (SELECT b,
       |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
       |  FROM g GROUP BY 1),
       |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM fit),
       |w AS (SELECT b,
       |    ln(cast(ct + 1 AS DOUBLE) / cast(tt + 1024 AS DOUBLE))
       |      - ln(cast(cr + 1 AS DOUBLE) / cast(tr + 1024 AS DOUBLE))
       |      AS lw
       |  FROM fit, tot)""".stripMargin

  /** DSIR weights of the documents `where` keeps, under the full-corpus
    * refit (t16, t17): gram count and 4dp log weight per doc. */
  private def dsirWeightsSql(where: String = ""): String =
    s"""WITH ${dsirFitSql("documents")},
       |s AS (SELECT g.doc_id, count(*) AS ng, round(sum(w.lw), 4) AS lw
       |  FROM g JOIN w USING (b) GROUP BY 1)
       |SELECT d.doc_id, cast(coalesce(s.ng, 0) AS BIGINT) AS n_grams,
       |  s.lw AS log_weight
       |FROM (SELECT DISTINCT doc_id FROM documents$where) d
       |LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin

  /** The nearest-centroid CTEs of the IVF oracles (n03, n11, n26, d11,
    * n63): `cent(cid, cemb)` is the first-`nlist` codebook and
    * `sims(vec_id, <carry> cid, s)` the cosine of each embedding
    * `where` keeps to each centroid. */
  private def centSimsSql(nlist: Int, carry: String = "",
                          where: String = ""): String =
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS cemb
       |  FROM embeddings WHERE vec_id < $nlist),
       |sims AS (
       |  SELECT e.vec_id,$carry c.cid,
       |    list_cosine_similarity(e.embedding, c.cemb) AS s
       |  FROM embeddings e, cent c$where)""".stripMargin

  /** The t13/t14 closed-form line restructure: each document's
    * normalized tokens cut into lines of doc_id % 5 + 3 tokens, line
    * `j` (its tokens joined as `base`) rendered by `line(j, base)`, the
    * lines newline-joined as `text2`. */
  private def restructureLines(d: org.apache.spark.sql.DataFrame)(
      line: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    d.withColumn("__toks", split(TextOps.normalize(col("text")), " "))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__k", (col("doc_id") % 5 + 3).cast("int"))
      .withColumn("__nl", expr("(__n + __k - 1) div __k"))
      .withColumn("text2", array_join(
        transform(sequence(lit(0), col("__nl").cast("int") - 1),
          j => line(j, array_join(
            slice(col("__toks"), j * col("__k") + 1, col("__k")), " "))),
        "\n"))

  /** The oracle side of [[restructureLines]]: `t(doc_id, toks, k)` and
    * `n(doc_id, toks, k, n)`. */
  private val linesSql =
    """t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ',
      |                                     'g')), ' ') AS toks,
      |    cast(doc_id % 5 + 3 AS INT) AS k FROM documents),
      |n AS (SELECT doc_id, toks, k, len(toks) AS n FROM t)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy.
    QueryDef("d01_dedup_exact",
      (s, dir) => Dedup.exact(docs(s, dir), "text", "doc_id"),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             |  count(*) AS n_dups
             |FROM documents GROUP BY 1""".stripMargin)),

    // MinHash + LSH banding near-dup candidates. Recall oracle: the
    // emitted pair set must equal the TRUE n-gram-Jaccard >= 0.7 pairs,
    // which DuckDB computes exactly (all-pairs over the same shingles).
    // This is a data-dependent property gate: the testdata's planted
    // near-dups all have true J >= 0.9 (banding miss probability
    // ~(1-J^4)^16 < 1e-7 there) and nothing else exceeds J 0.5, so
    // with the fixed seed the LSH candidates coincide exactly with
    // truth. est_jaccard itself is hash-dependent and stays out of the
    // compared columns.
    QueryDef("d02_dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLsh(docs(s, dir), "text", "doc_id")
        .select("doc_a", "doc_b"),
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b FROM truth WHERE jac >= 0.7""".stripMargin)),

    // The ids-only banding variant (carrySignatures=false): the band
    // shuffle moves 24 B/row instead of the 64-long signature array,
    // and signatures re-join by doc_id for scoring — the winning shape
    // at scale where banded rows >> candidate pairs. SAME oracle as
    // d02: both variants must emit the identical exact pair set.
    QueryDef("d12_minhash_lsh_idsonly",
      (s, dir) => Dedup.minhashLsh(docs(s, dir), "text", "doc_id",
          carrySignatures = false)
        .select("doc_a", "doc_b"),
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b FROM truth WHERE jac >= 0.7""".stripMargin)),

    // Incremental LSH: docs with doc_id % 5 == 0 arrive as the NEW
    // batch; the rest are the already-signed corpus (signature table
    // only — the corpus text is never re-shingled). Result must equal
    // the full run's pair set restricted to pairs touching a new doc;
    // the oracle replays the same truth (true 3-gram Jaccard >= 0.7)
    // with the same restriction.
    QueryDef("d13_minhash_lsh_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        val newDocs = d.filter(col("doc_id") % 5 === 0)
        val corpusSigs = Dedup.minhashSignatures(
          d.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
        Dedup.minhashLshIncremental(newDocs, "text", "doc_id", corpusSigs)
          .select("doc_a", "doc_b")
      },
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b FROM truth
              |WHERE jac >= 0.7 AND (doc_a % 5 = 0 OR doc_b % 5 = 0)""".stripMargin)),

    // SimHash chunk-pigeonhole completeness gate: the 4x16-bit chunk
    // buckets provably recover EVERY pair at hamming <= 3 (3 flipped
    // bits touch at most 3 of 4 chunks), so the pigeonhole candidates
    // must equal a brute-force all-pairs hamming scan. The query emits
    // the disagreements — expected empty; the oracle is the empty
    // relation. (The signatures are Spark-hash-specific, so DuckDB
    // cannot recompute them; the cross-engine gate is the invariant,
    // not the values. Brute force is gate-only: O(n^2) on 500 docs.)
    QueryDef("d03_dedup_simhash",
      (s, dir) => {
        val pigeon = Dedup.simhashPairs(docs(s, dir), "text", "doc_id")
          .select(col("doc_a"), col("doc_b"), lit(true).as("p"))
        val sig = Dedup.simhashSignatures(docs(s, dir), "text", "doc_id")
        val a = sig.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"))
        val b = sig.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"))
        val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
          .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 3)
          .select(col("doc_a"), col("doc_b"), lit(true).as("bf"))
        pigeon.join(brute, Seq("doc_a", "doc_b"), "full_outer")
          .filter(col("p").isNull || col("bf").isNull)
          .select(col("doc_a"), col("doc_b"),
            coalesce(col("p"), lit(false)).as("found_by_pigeonhole"),
            coalesce(col("bf"), lit(false)).as("found_by_bruteforce"))
      },
      Some("""SELECT cast(NULL AS BIGINT) AS doc_a, cast(NULL AS BIGINT) AS doc_b,
             |  false AS found_by_pigeonhole, false AS found_by_bruteforce
             |WHERE false""".stripMargin)),

    // Exact n-gram Jaccard over a rare-gram inverted index. Full DuckDB
    // oracle: shingling, df<=50 rare-gram filter, intersection counts
    // and the jaccard_lb ratio are all exact set/integer math, so both
    // engines produce bit-identical rows (the ratio is one double
    // division of exact ints).
    QueryDef("d04_dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccard(docs(s, dir), "text", "doc_id"),
      Some(s"""WITH $gramSql,
              |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
              |rare AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 50),
              |rg AS (SELECT g.doc_id, g.gram FROM grams g JOIN rare r ON g.gram = r.gram),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_rare
              |  FROM rg a JOIN rg b ON a.gram = b.gram AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, n_shared_rare,
              |  cast(n_shared_rare AS DOUBLE)
              |    / (sa.n_grams + sb.n_grams - n_shared_rare) AS jaccard_lb
              |FROM inter
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE cast(n_shared_rare AS DOUBLE)
              |    / (sa.n_grams + sb.n_grams - n_shared_rare) >= 0.5""".stripMargin)),

    // Embedding-cosine near-dups via sign-LSH buckets. Threshold 0.4:
    // the synthetic embeddings are near-orthogonal (max pairwise cosine
    // ~0.51 at sf0.01), so a production 0.95 cut returns zero rows;
    // 0.4 exercises the operator end-to-end on this data. Full DuckDB
    // oracle: the hyperplane constants are inlined into the SQL
    // (lshBucketSql), so the oracle reproduces candidate generation —
    // same buckets, same cosine cut — not just a row count.
    QueryDef("d05_dedup_embedding_cosine",
      (s, dir) => Similarity.cosineNearDups(embs(s, dir), threshold = 0.4)
        .select("id_a", "id_b"),
      Some(s"""WITH v AS (
              |  SELECT vec_id, embedding,
              |    ${Similarity.lshBucketSql("embedding")} AS bucket
              |  FROM embeddings)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin)),

    // PQ (product quantization) ADC top-k, gated on recall vs the exact
    // n01 baseline: every query must recover >= 1 of its true top-5
    // through the compressed codes (deterministic on the fixed-seed
    // testdata; measured hits 1-4/5, mean recall 0.47 at m=16/ks=64 —
    // the near-orthogonal synthetic embeddings are PQ's hardest case).
    // The oracle asserts the invariant per query (d03 precedent: the
    // gate is the property, not engine-recomputable values).
    QueryDef("n05_ann_pq_recall",
      (s, dir) => {
        val q = embs(s, dir).filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, embs(s, dir), 5)
          .select("q_id", "n_id")
        val pq = Similarity.pqTopK(q, embs(s, dir), 5, m = 16, ks = 64)
          .select("q_id", "n_id")
        val hits = exact.join(pq, Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
        exact.select("q_id").distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            (coalesce(col("n_hits"), lit(0)) >= 1).as("recall_ok"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // IVF+PQ composition (FAISS IVFPQ): probed cells cut the candidate
    // set, PQ codes cut the bytes per candidate. Gate: probing EVERY
    // cell must reproduce the exhaustive pqTopK scan EXACTLY (same
    // deterministic codebooks, same ADC, same tie-break) — per-query
    // boolean, d03/n05 literal-oracle precedent. A cell that loses or
    // duplicates a code breaks it.
    QueryDef("n08_ann_ivfpq",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val pq = Similarity.pqTopK(q, e, 5, m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val ivfpq = Similarity.ivfPqTopK(q, e, 5, nlist = 32, nprobe = 32,
            m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val joint = pq.withColumnRenamed("rank", "rank_pq")
          .join(ivfpq.withColumnRenamed("rank", "rank_ivfpq"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(col("rank_pq") === col("rank_ivfpq"), 1)
            .otherwise(0))).as("probe_all_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS probe_all_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // RESIDUAL IVF+PQ (the production FAISS IVFPQ): codes quantize
    // emb − centroid[cell], the ADC compares the query's residual
    // against the SAME cell (the shared centroid cancels). Gate:
    // probing EVERY cell must reproduce the exhaustive residual-PQ
    // scan EXACTLY — same deterministic cell codebook (first-32) and
    // residual sub-codebooks (first-64 residuals), same tie-break
    // (n08 precedent). A residual computed against the wrong cell, a
    // lost code, or an encode/ADC asymmetry breaks per-row equality.
    QueryDef("n13_ann_ivfpq_residual",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val base = Similarity.pqResidualTopK(q, e, 5, nlist = 32,
            m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val ivfpq = Similarity.ivfPqResidualTopK(q, e, 5, nlist = 32,
            nprobe = 32, m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(ivfpq.withColumnRenamed("rank", "rank_ivfpq"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(col("rank_base") === col("rank_ivfpq"), 1)
            .otherwise(0))).as("probe_all_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS probe_all_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // OPQ ∘ residual IVF+PQ — the full production FAISS stack
    // (OPQ{m},IVF{nlist},PQ{m} in index-factory terms): vectors rotate
    // through the eigenvalue-allocated PCA basis (pcaFitBalanced — the
    // OPQ non-parametric init, one codegen projection per side), the
    // coarse cells come from the DISTRIBUTED Lloyd trainer in rotated
    // space, the sub-codebooks from the residual-PQ trainer, and
    // retrieval is the residual IVF+PQ join. Gate: probing EVERY cell
    // must reproduce the exhaustive residual-PQ scan over the SAME
    // rotated vectors and trained codebooks exactly (n13 precedent) —
    // the rotation must be applied identically on both the corpus and
    // query paths or per-row equality breaks. The error CUT of the
    // rotation is spec-pinned (OpqSpec); this gate pins composition.
    QueryDef("n14_ann_opq_ivfpq",
      (s, dir) => {
        val e = embs(s, dir)
        rotatedIvfPqProbeAll(e, Embeddings.pcaFitBalanced(e, "vec_id",
          "embedding", k = 64, m = 16))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS probe_all_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Index persistence (n21): FAISS write_index/read_index for the
    // residual IVF+PQ tier. Build → save (parquet: meta/cells/codebook/
    // codes) → reload → query with EVERY cell probed must reproduce the
    // exhaustive residual-PQ scan row-for-row (n13 precedent) — the
    // artifacts and the pre-encoded corpus must survive the round-trip
    // byte-faithfully or ADC values and tie-breaks drift. The serving
    // path never touches a float corpus vector: queries rank stored
    // codes only.
    QueryDef("n21_index_persist",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val idxDir = "/tmp/graft_gate_index_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        IndexIo.IvfPq.save(
          Similarity.buildIvfPqIndex(e, nlist = 32, m = 16, ks = 64), idxDir)
        val loaded = IndexIo.IvfPq.load(s, idxDir)
        val got = Similarity.queryIvfPqIndex(q, loaded, 5, nprobe = 32)
          .select("q_id", "n_id", "rank")
        val base = Similarity.pqResidualTopK(q, e, 5, nlist = 32,
            m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_loaded"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(col("rank_base") === col("rank_loaded"), 1)
            .otherwise(0))).as("roundtrip_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS roundtrip_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Incremental index growth (n22): artifacts FROZEN, a new vector
    // batch encodes against them and appends — append-then-query must
    // EXACTLY equal query over an index of the union (per-row encode
    // against frozen artifacts is batch-invariant). The corpus split
    // keeps the first-ks seed vectors inside the first half, so the
    // deterministic default artifacts are identical on both paths and
    // equality is exact, not statistical.
    QueryDef("n22_index_append",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val idx = Similarity.buildIvfPqIndex(
          e.filter(col("vec_id") < 250), nlist = 32, m = 16, ks = 64)
        val grown = Similarity.appendToIvfPqIndex(idx,
          e.filter(col("vec_id") >= 250))
        val got = Similarity.queryIvfPqIndex(q, grown, 5, nprobe = 32)
          .select("q_id", "n_id", "rank")
        val base = Similarity.pqResidualTopK(q, e, 5, nlist = 32,
            m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_grown"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(col("rank_base") === col("rank_grown"), 1)
            .otherwise(0))).as("append_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS append_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // IVF-PQ DELETION (n38): the backward half of the n22 lifecycle —
    // one anti join over the codes table. Exactly equal to a build
    // over the remaining corpus under the SAME frozen artifacts
    // because per-row assign/encode is row-independent; the deleted
    // set keeps the deterministic first-ks seeds intact so both paths
    // derive identical artifacts and the equality is exact, not
    // statistical. Query-for-query rank equality at probe-all.
    QueryDef("n38_index_delete",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val delCond = col("vec_id") >= 100 && col("vec_id") % 4 === 2
        // the delete chain and its rebuild oracle are independent
        // eager pipelines — overlap them (par2 doc)
        val (shrunk, rebuilt) = par2(
          Similarity.deleteFromIvfPqIndex(
            Similarity.buildIvfPqIndex(e, nlist = 32, m = 16, ks = 64),
            e.filter(delCond).select("vec_id")),
          Similarity.buildIvfPqIndex(e.filter(!delCond), nlist = 32,
            m = 16, ks = 64))
        val got = Similarity.queryIvfPqIndex(q, shrunk, 5, nprobe = 32)
          .select("q_id", "n_id", "rank")
        val base = Similarity.queryIvfPqIndex(q, rebuilt, 5, nprobe = 32)
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_del"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(col("rank_base") === col("rank_del"), 1)
            .otherwise(0))).as("delete_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS delete_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Aggregate-form serving (n24): the bounded-heap TopK aggregate
    // must reproduce the window-rank serving path row-for-row at
    // partial probes (nprobe=4 — the serving configuration, not just
    // probe-all): same candidates, same ADC, same tie-break under
    // score = −adc. This is the shape that serves streaming queries
    // (StreamingAnnServeSpec) and skips the per-query candidate sort.
    QueryDef("n24_index_serve_agg",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val idx = Similarity.buildIvfPqIndex(e, nlist = 32, m = 16, ks = 64)
        val win = Similarity.queryIvfPqIndex(q, idx, 5, nprobe = 4)
          .select("q_id", "n_id", "rank")
        val agg = Similarity.queryIvfPqIndexAgg(q, idx, 5, nprobe = 4)
          .select("q_id", "n_id", "rank")
        val joint = win.withColumnRenamed("rank", "rank_win")
          .join(agg.withColumnRenamed("rank", "rank_agg"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(col("rank_win") === col("rank_agg"), 1)
            .otherwise(0))).as("agg_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS agg_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Hard-negative mining (n25): top-5 non-positive neighbors per
    // query (positives = same-label pairs), mined from the exact
    // cosine ranking over an over-fetched candidate list. The oracle
    // replays ranking, anti-join, and re-rank in SQL — integer ranks
    // only, so the compare is exact.
    QueryDef("n25_hard_negatives",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val positives = q.select(col("vec_id").as("q_id"),
            col("label").as("q_label"))
          .join(e.select(col("vec_id").as("n_id"),
            col("label").as("n_label")),
            col("q_id") =!= col("n_id") && col("q_label") === col("n_label"))
          .select("q_id", "n_id")
        Similarity.hardNegatives(q, e, positives, m = 5,
          maxPositives = 60)
      },
      Some("""WITH ranked AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             |               c.vec_id) AS rank
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20
             |  QUALIFY rank <= 65),
             |pos AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id
             |  FROM embeddings q JOIN embeddings c
             |    ON q.vec_id <> c.vec_id AND q.label = c.label
             |  WHERE q.vec_id < 20)
             |SELECT q_id, n_id, neg_rank FROM (
             |  SELECT r.q_id, r.n_id,
             |    row_number() OVER (PARTITION BY r.q_id ORDER BY r.rank)
             |      AS neg_rank
             |  FROM ranked r ANTI JOIN pos p
             |    ON r.q_id = p.q_id AND r.n_id = p.n_id)
             |WHERE neg_rank <= 5""".stripMargin)),

    // Retrieval-quality metrics (n23): recall@10 / MRR@10 / nDCG@10 of
    // the exact cosine top-10 against graded label-derived judgments
    // (same label rel=2, adjacent label rel=1). The oracle recomputes
    // the whole evaluation — ranked list, judgment table, ideal
    // ranking — from scratch in SQL; floats round to 6dp (the log2 DCG
    // terms are the only cross-engine-sensitive values; MRR and recall
    // are exact IEEE divisions of identical operands).
    QueryDef("n23_retrieval_metrics",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val ranked = Similarity.bruteForceTopK(q, e, 10)
          .select("q_id", "n_id", "rank")
        val qrels = q.select(col("vec_id").as("q_id"),
            col("label").as("q_label"))
          .join(e.select(col("vec_id").as("n_id"),
            col("label").as("n_label")), col("q_id") =!= col("n_id"))
          .withColumn("rel",
            when(col("q_label") === col("n_label"), 2.0)
              .when(abs(col("q_label") - col("n_label")) === 1, 1.0)
              .otherwise(0.0))
          .filter(col("rel") > 0)
          .select("q_id", "n_id", "rel")
        Similarity.retrievalMetrics(ranked, qrels, 10)
          .select(col("q_id"), col("n_rel"), col("n_rel_ret"),
            round(col("recall"), 6).as("recall"),
            round(col("mrr"), 6).as("mrr"),
            round(col("ndcg"), 6).as("ndcg"))
      },
      Some("""WITH ranked AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             |               c.vec_id) AS rank
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20
             |  QUALIFY rank <= 10),
             |qrels AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    CASE WHEN q.label = c.label THEN 2.0
             |         ELSE 1.0 END AS rel
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20
             |    AND (q.label = c.label OR abs(q.label - c.label) = 1)),
             |hits AS (
             |  SELECT r.q_id, r.rank, s.rel
             |  FROM ranked r JOIN qrels s ON r.q_id = s.q_id AND r.n_id = s.n_id),
             |perq AS (
             |  SELECT q_id,
             |    cast(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_ret,
             |    max(CASE WHEN rel > 0 THEN 1.0 / rank ELSE 0.0 END) AS mrr,
             |    sum(rel / log2(rank + 1)) AS dcg
             |  FROM hits GROUP BY 1),
             |ideal AS (
             |  SELECT q_id, cast(count(*) AS BIGINT) AS n_rel,
             |    sum(CASE WHEN irank <= 10 THEN rel / log2(irank + 1)
             |        ELSE 0.0 END) AS idcg
             |  FROM (SELECT q_id, n_id, rel,
             |          row_number() OVER (PARTITION BY q_id
             |            ORDER BY rel DESC, n_id) AS irank
             |        FROM qrels)
             |  GROUP BY 1)
             |SELECT i.q_id, i.n_rel,
             |  coalesce(p.n_rel_ret, 0) AS n_rel_ret,
             |  round(cast(coalesce(p.n_rel_ret, 0) AS DOUBLE) / i.n_rel, 6)
             |    AS recall,
             |  round(coalesce(p.mrr, 0.0), 6) AS mrr,
             |  round(coalesce(p.dcg, 0.0) / i.idcg, 6) AS ndcg
             |FROM ideal i LEFT JOIN perq p USING (q_id)""".stripMargin)),

    // Index health stats (n26): the re-train trigger for the grow-by-
    // append lifecycle — cell-population min/max/avg and skew over the
    // code table (one aggregate over codes, vectors never read). The
    // oracle replays the n11 assignment scheme (first-32 cells,
    // cosine argmax, 1-based) and the integer statistics; the two
    // ratio columns are IEEE divisions of identical integers, 6dp.
    QueryDef("n26_index_stats",
      (s, dir) => {
        val idx = Similarity.buildIvfPqIndex(embs(s, dir), nlist = 32,
          m = 16, ks = 64)
        Similarity.indexStats(idx)
          .select(col("n_cells_used"), col("n_cells_empty"),
            col("n_vectors"), col("min_cell"), col("max_cell"),
            round(col("avg_cell"), 6).as("avg_cell"),
            round(col("skew"), 6).as("skew"))
      },
      Some(s"""WITH ${centSimsSql(32)},
             |cell AS (
             |  SELECT vec_id, cid + 1 AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id
             |        ORDER BY s DESC, cid) AS rn
             |    FROM sims) WHERE rn = 1),
             |pc AS (SELECT cell, count(*) AS n FROM cell GROUP BY 1),
             |agg AS (
             |  SELECT cast(count(*) AS BIGINT) AS n_cells_used,
             |    cast(sum(n) AS BIGINT) AS n_vectors,
             |    cast(min(n) AS BIGINT) AS min_cell,
             |    cast(max(n) AS BIGINT) AS max_cell
             |  FROM pc)
             |SELECT n_cells_used, 32 - n_cells_used AS n_cells_empty,
             |  n_vectors, min_cell, max_cell,
             |  round(cast(n_vectors AS DOUBLE) / n_cells_used, 6) AS avg_cell,
             |  round(max_cell / (cast(n_vectors AS DOUBLE) / n_cells_used), 6)
             |    AS skew
             |FROM agg""".stripMargin)),

    // Parametric OPQ composition (n28): the FULL Ge et al. §4.2 loop —
    // Procrustes-iterated rotation (4 alternations on the md5 sample)
    // — slots into the production residual IVF+PQ path exactly as the
    // n14 init-only rotation does: probing EVERY cell over the
    // OPQ-rotated corpus must reproduce the exhaustive residual scan
    // in that space row-for-row. The error-cut property of the
    // iterations themselves is spec-pinned (IndexDistortionSpec);
    // this gate pins that the trained rotation applies identically on
    // corpus and query paths through the whole retrieval stack.
    QueryDef("n28_ann_opq_parametric",
      (s, dir) => rotatedIvfPqProbeAll(embs(s, dir), canonicalOpq(s, dir)._1),
      Some("""SELECT vec_id AS q_id, TRUE AS probe_all_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Streaming (mini-batch) k-means (n27): two sequential running-
    // mean updates from the first-32 seeds, batches = vec_id parity
    // halves in arrival order. The oracle RETRAINS both steps in SQL —
    // assignment (cosine argmax, 1-based, cid tie-break), per-(cell,
    // dim) batch sums, the running-mean division on the 1e-9 HALF_UP
    // lattice (t23/t25 trained-model discipline), cells without batch
    // members carrying state forward — and the final k×dim state plus
    // per-cell counts must match bit-for-bit.
    QueryDef("n27_kmeans_minibatch",
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        val seeds = Similarity.firstVectors(e, 32)
        val (c1, n1) = KMeans.miniBatchStep(seeds, new Array[Long](32),
          e.filter(col("vec_id") < 250), "vec_id", "embedding")
        val (c2, n2) = KMeans.miniBatchStep(c1, n1,
          e.filter(col("vec_id") >= 250), "vec_id", "embedding")
        c2.zipWithIndex.flatMap { case (cent, j) =>
          cent.zipWithIndex.map { case (v, p) =>
            (j + 1, p, v, n2(j))
          }
        }.toSeq.toDF("cell", "pos", "coord", "n_members")
      },
      Some("""WITH cent0 AS MATERIALIZED (
             |  SELECT vec_id + 1 AS cell, embedding AS c
             |  FROM embeddings WHERE vec_id < 32),
             |seed AS MATERIALIZED (
             |  SELECT vec_id + 1 AS cell,
             |    unnest(embedding)::DOUBLE AS coord,
             |    unnest(range(0, len(embedding))) AS pos
             |  FROM embeddings WHERE vec_id < 32),
             |a1 AS MATERIALIZED (
             |  SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(e.embedding, c.c) DESC,
             |                 c.cell) AS rn
             |    FROM embeddings e, cent0 c WHERE e.vec_id < 250)
             |  WHERE rn = 1),
             |s1 AS MATERIALIZED (
             |  SELECT a1.cell, t.pos, sum(t.v) AS sv, count(*) AS n
             |  FROM a1 JOIN (
             |    SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             |      unnest(range(0, len(embedding))) AS pos
             |    FROM embeddings WHERE vec_id < 250) t USING (vec_id)
             |  GROUP BY 1, 2),
             |st1 AS MATERIALIZED (
             |  SELECT seed.cell, seed.pos,
             |    CASE WHEN s1.n IS NULL THEN seed.coord
             |         ELSE round(s1.sv / s1.n, 9) END AS coord,
             |    coalesce(s1.n, 0) AS cnt
             |  FROM seed LEFT JOIN s1
             |    ON seed.cell = s1.cell AND seed.pos = s1.pos),
             |cent1 AS MATERIALIZED (
             |  SELECT cell, list(coord ORDER BY pos) AS c,
             |    max(cnt) AS cnt
             |  FROM st1 GROUP BY 1),
             |a2 AS MATERIALIZED (
             |  SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(
             |          list_transform(e.embedding, x -> x::DOUBLE), c.c) DESC,
             |                 c.cell) AS rn
             |    FROM embeddings e, cent1 c WHERE e.vec_id >= 250)
             |  WHERE rn = 1),
             |s2 AS MATERIALIZED (
             |  SELECT a2.cell, t.pos, sum(t.v) AS sv, count(*) AS n
             |  FROM a2 JOIN (
             |    SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             |      unnest(range(0, len(embedding))) AS pos
             |    FROM embeddings WHERE vec_id >= 250) t USING (vec_id)
             |  GROUP BY 1, 2)
             |SELECT cast(st1.cell AS INT) AS cell, cast(st1.pos AS INT) AS pos,
             |  CASE WHEN s2.n IS NULL THEN st1.coord
             |       ELSE round((st1.coord * c1.cnt + s2.sv) /
             |                  (c1.cnt + s2.n), 9) END AS coord,
             |  cast(c1.cnt + coalesce(s2.n, 0) AS BIGINT) AS n_members
             |FROM st1
             |JOIN cent1 c1 ON st1.cell = c1.cell
             |LEFT JOIN s2 ON st1.cell = s2.cell AND st1.pos = s2.pos""".stripMargin)),

    // Cluster purity over the deterministic first-16 centroid scheme
    // (the same assignment the n03 oracle replays): per-cell majority
    // label fraction from exact integer counts. The embedding-quality
    // evaluation loop for the k-means/IVF/SemDeDup machinery.
    QueryDef("n11_cluster_purity",
      (s, dir) => Similarity.clusterPurity(embs(s, dir),
        Similarity.firstVectors(embs(s, dir), 16)),
      Some(s"""WITH ${centSimsSql(16, " e.label,")},
             |cell AS (
             |  -- CentroidAssign emits 1-based codebook positions; the
             |  -- first-16 scheme makes position = vec_id + 1
             |  SELECT vec_id, label, cid + 1 AS cell FROM (
             |    SELECT vec_id, label, cid,
             |      row_number() OVER (PARTITION BY vec_id
             |        ORDER BY s DESC, cid) AS rn
             |    FROM sims) WHERE rn = 1),
             |counts AS (
             |  SELECT cell, label, count(*) AS n FROM cell GROUP BY 1, 2),
             |top AS (
             |  SELECT cell, label AS majority_label, n AS majority_n FROM (
             |    SELECT cell, label, n,
             |      row_number() OVER (PARTITION BY cell
             |        ORDER BY n DESC, label) AS rn
             |    FROM counts) WHERE rn = 1),
             |sizes AS (SELECT cell, sum(n) AS n_members FROM counts GROUP BY 1)
             |SELECT t.cell, cast(s.n_members AS BIGINT) AS n_members,
             |  t.majority_label,
             |  cast(t.majority_n AS DOUBLE) / s.n_members AS purity
             |FROM top t JOIN sizes s ON t.cell = s.cell""".stripMargin)),

    // k-NN label propagation (weak labeling): majority label of the 5
    // exact nearest neighbors, vote ties to the smaller label. Full
    // oracle: DuckDB replays the brute-force top-k and the vote.
    QueryDef("n10_knn_classify",
      (s, dir) => {
        val e = embs(s, dir)
        Similarity.knnClassify(e.filter(col("vec_id") < 20), e, k = 5)
      },
      Some("""WITH nn AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             |               c.vec_id) AS rank
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20
             |  QUALIFY rank <= 5),
             |votes AS (
             |  SELECT q_id, label, count(*) AS votes FROM nn GROUP BY 1, 2)
             |SELECT q_id, label AS predicted_label, votes FROM votes
             |QUALIFY row_number() OVER (PARTITION BY q_id
             |  ORDER BY votes DESC, label) = 1""".stripMargin)),

    // Two-stage retrieval (compressed candidate generation + exact
    // re-rank): with the first stage probing every cell and candidateK
    // covering the corpus, the result must equal exact brute force —
    // the machinery gate for the candidate fetch-join + re-rank wiring.
    // Partial-candidate recall behavior is spec-tested.
    QueryDef("n09_two_stage_topk",
      (s, dir) => {
        val e = embs(s, dir)
        Similarity.twoStageTopK(e.filter(col("vec_id") < 20), e, k = 5,
            candidateK = 100000, nlist = 32, nprobe = 32, m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
      },
      Some(bruteTop5Sql)),

    // Embedding int8 quantization + L2 norm, exploded to scalars (array
    // columns break the driver's pandas hasher). Every arithmetic step
    // is double-precision IEEE in a fixed left-to-right order on both
    // engines, so values hash identically; round() is half-away-from-
    // zero in both Spark and DuckDB.
    QueryDef("e01_embedding_quantize",
      (s, dir) => Embeddings.quantizeInt8(embs(s, dir), "embedding")
        .withColumn("norm", Embeddings.l2Norm(col("embedding")))
        .select(col("vec_id"), col("q_scale"), col("norm"),
          posexplode(col("q_vec")).as(Seq("dim_idx", "q")))
        .select("vec_id", "dim_idx", "q", "q_scale", "norm"),
      Some("""WITH v AS (
             |  SELECT vec_id, embedding,
             |    127.0 / greatest(
             |      list_aggregate(list_transform(embedding,
             |        x -> abs(x::DOUBLE)), 'max'), 1e-30) AS q_scale,
             |    sqrt(list_aggregate(list_transform(embedding,
             |      x -> x::DOUBLE * x::DOUBLE), 'sum')) AS norm
             |  FROM embeddings)
             |SELECT vec_id,
             |  cast(i - 1 AS INT) AS dim_idx,
             |  cast(round(embedding[i]::DOUBLE * q_scale) AS INT) AS q,
             |  q_scale, norm
             |FROM v, unnest(range(1, len(embedding) + 1)) AS t(i)""".stripMargin)),

    // PCA dimension reduction (e02): the basis trains on the bounded
    // md5-ranked sample (driver-side covariance + Jacobi — the FAISS
    // PCA-matrix recipe), projection is ONE codegen node. Oracle
    // trick: at FULL rank an orthonormal basis preserves pairwise
    // euclidean distances (centering cancels in differences), so
    // DuckDB can check the projection from the ORIGINAL embeddings
    // without ever seeing the eigenvectors. A basis that is not
    // orthonormal, not full-rank, or a projection that mangles any
    // coordinate breaks the equality; the k<dim reduction semantics
    // (variance ordering, reconstruction) are spec-pinned.
    QueryDef("e02_pca_distance_preserved",
      (s, dir) => {
        val e = embs(s, dir)
        val model = Embeddings.pcaFit(e, "vec_id", "embedding", k = 64)
        val proj = Embeddings.pcaProject(e.filter(col("vec_id") < 40),
          "embedding", model)
        val a = proj.select(col("vec_id").as("id_a"), col("pca_vec").as("pa"))
        val b = proj.select(col("vec_id").as("id_b"), col("pca_vec").as("pb"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("dist", round(sqrt(aggregate(
            zip_with(col("pa"), col("pb"), (x, y) => (x - y) * (x - y)),
            lit(0.0d), _ + _)), 4))
          .select("id_a", "id_b", "dist")
      },
      Some("""WITH p AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    a.embedding AS ea, b.embedding AS eb
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |  WHERE a.vec_id < 40 AND b.vec_id < 40),
             |d AS (
             |  SELECT id_a, id_b,
             |    sum((ea[i]::DOUBLE - eb[i]::DOUBLE) ^ 2) AS s
             |  FROM p, unnest(range(1, len(ea) + 1)) AS t(i)
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, round(sqrt(s), 4) AS dist FROM d""".stripMargin)),

    // Incremental PCA state (e03): the corpus splits into two batches,
    // each aggregates its exact sufficient statistics [n, Σx, Σxxᵀ]
    // distributed (fixed-size buffers, Bloom-sketch pattern), and the
    // states MERGE by addition. Unlike e02 (any orthonormal basis
    // preserves distances, so it cannot see WHICH data trained the
    // fit), this oracle checks the merged state itself: the moments
    // are plain sums DuckDB recomputes over the union — a dropped
    // batch, double-counted row, or misaligned triangle index shifts
    // them. Round 4dp absorbs summation-order last-bits (t16 float
    // rule); the fit-equality contract (merged state == one-shot
    // state) is EmbeddingsSpec-pinned.
    QueryDef("e03_pca_state_merge",
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        val dim = 64
        val merged = Embeddings.mergePcaState(
          Embeddings.pcaState(e.filter(col("vec_id") % 2 === 0), "embedding", dim),
          Embeddings.pcaState(e.filter(col("vec_id") % 2 =!= 0), "embedding", dim))
        val picks = (Seq((-1, -1, 0)) ++
          (0 until 8).map(i => (i, -1, 1 + i)) ++
          (for (i <- 0 until 8; j <- i until 8)
            yield (i, j, graft.functions.Moments.triIndex(dim, i, j))))
          .toDF("i", "j", "idx")
        merged.crossJoin(picks)
          .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
            round(element_at(col("stats"), col("idx") + 1), 4).as("moment"))
      },
      Some("""WITH idx AS (SELECT cast(i AS BIGINT) AS i FROM range(1, 9) t(i)),
             |pairs AS (
             |  SELECT a.i AS ia, b.i AS ib FROM idx a JOIN idx b ON a.i <= b.i)
             |SELECT cast(-1 AS BIGINT) AS i, cast(-1 AS BIGINT) AS j,
             |  round(cast(count(*) AS DOUBLE), 4) AS moment
             |FROM embeddings
             |UNION ALL
             |SELECT i.i - 1, -1, round(sum(e.embedding[i.i]::DOUBLE), 4)
             |FROM embeddings e, idx i GROUP BY i.i
             |UNION ALL
             |SELECT p.ia - 1, p.ib - 1,
             |  round(sum(e.embedding[p.ia]::DOUBLE * e.embedding[p.ib]::DOUBLE), 4)
             |FROM embeddings e, pairs p GROUP BY p.ia, p.ib""".stripMargin)),

    // TRUNCATED randomized PCA (e04): the production-embedding-width
    // fit (k ≪ dim) — subspace iteration applying the sampled
    // covariance as mat-vec products, no dim×dim materialization, no
    // O(dim³) eigensolve. Gate: on a 512-dim fixture with a planted
    // fast-decaying spectrum (0.85^i scaling over permuted embedding
    // coordinates + deterministic xxhash noise, so top-32 gaps are
    // forced regardless of the testdata's own spectrum), the truncated
    // path must agree with the exact covariance+Jacobi path fitted on
    // the SAME md5-ranked sample: per-component eigenvalues to 1e-4
    // relative, and pairwise distances between truncated projections
    // to 1e-6 — distances, not raw vectors, so the check is robust to
    // sign/rotation within near-degenerate eigenspaces while still
    // failing if the two bases span different subspaces. The dim-2048
    // regime the exact path cannot reach is TruncatedPcaSpec-pinned
    // (Rayleigh-residual eigenpair certificate).
    QueryDef("e04_pca_randomized_truncated",
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        val hi = e.select(col("vec_id"),
          transform(sequence(lit(0), lit(511)), i =>
            pow(lit(0.85), i.cast("double")) *
              (element_at(col("embedding"),
                pmod(i * lit(37) + floor(i / lit(64)).cast("int") * lit(11),
                  lit(64)).cast("int") + lit(1)).cast("double") +
                (pmod(xxhash64(col("vec_id"), i), lit(1000)).cast("double") /
                  lit(1000.0) - lit(0.5)))).as("hi"))
        val k = 32
        val mT = Embeddings.pcaFitTruncated(hi, "vec_id", "hi", k,
          sampleCap = 4096)
        val mJ = Embeddings.pcaFit(hi, "vec_id", "hi", k, sampleCap = 4096)
        val eigRows = (0 until k).map { j =>
          val rel = math.abs(mT.eigenvalues(j) - mJ.eigenvalues(j)) /
            math.max(mJ.eigenvalues(j), 1e-300)
          ("eig", j.toLong, -1L, rel < 1e-4)
        }.toDF("chk", "i", "j", "ok")
        val both = Embeddings.pcaProject(
          Embeddings.pcaProject(hi.filter(col("vec_id") < 30), "hi", mT, "vt"),
          "hi", mJ, "vj")
        val a = both.select(col("vec_id").as("ia"),
          col("vt").as("ta"), col("vj").as("ja"))
        val b = both.select(col("vec_id").as("ib"),
          col("vt").as("tb"), col("vj").as("jb"))
        def dist(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          sqrt(aggregate(zip_with(x, y, (p, q) => (p - q) * (p - q)),
            lit(0.0d), _ + _))
        val distRows = a.join(b, col("ia") < col("ib"))
          .withColumn("dt", dist(col("ta"), col("tb")))
          .withColumn("dj", dist(col("ja"), col("jb")))
          .select(lit("dist").as("chk"), col("ia").as("i"), col("ib").as("j"),
            (abs(col("dt") - col("dj")) <= lit(1e-6) * (lit(1.0) + col("dj")))
              .as("ok"))
        eigRows.unionByName(distRows)
      },
      Some("""SELECT 'eig' AS chk, cast(t.i AS BIGINT) AS i,
             |  cast(-1 AS BIGINT) AS j, TRUE AS ok
             |FROM range(0, 32) t(i)
             |UNION ALL
             |SELECT 'dist', a.vec_id, b.vec_id, TRUE
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE a.vec_id < 30 AND b.vec_id < 30""".stripMargin)),

    // Bounded top-k per group via the custom TypedImperativeAggregate:
    // k-element heaps partial-aggregate map-side (the shuffle carries
    // <= k pairs per group per task — no full sort of the input, unlike
    // the window formulation the oracle uses). Deterministic tie-break
    // (score desc, id asc) makes the heap == the window bit-for-bit.
    QueryDef("n04_topk_per_group",
      (s, dir) => docs(s, dir).groupBy("lang")
        .agg(graft.functions.TopK.topK(col("n_chars"), col("doc_id"), 5).as("top"))
        .select(col("lang"), explode(col("top")).as("t"))
        .select(col("lang"), col("t.id").as("doc_id"),
          col("t.score").cast("long").as("n_chars")),
      Some("""SELECT lang, doc_id, n_chars FROM (
             |  SELECT lang, doc_id, n_chars,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) WHERE rn <= 5""".stripMargin)),

    // Dedup clustering: connected components over the LSH candidate
    // pairs (pointer-jumping min-label propagation in Spark). Oracle:
    // DuckDB recursive CTE computes the true transitive closure over
    // the SAME pair set (d02's gate proves LSH pairs == true J>=0.7
    // pairs on this data) and takes min reachable id per node.
    QueryDef("d06_dedup_components",
      (s, dir) => Dedup.connectedComponents(
        Dedup.minhashLsh(docs(s, dir), "text", "doc_id")
          .select("doc_a", "doc_b")),
      Some(s"""WITH RECURSIVE $trueJaccardSql,
              |$ccFromTruthSql
              |SELECT doc_id, component FROM comps""".stripMargin)),

    // Incremental cluster maintenance: the corpus' components were
    // computed when its batches arrived (CC over corpus-only pairs);
    // the new batch's pairs (d13 path) fold in via mergeComponents —
    // only touched components recompute. Must equal the full CC over
    // ALL pairs, which the d06 recursive-CTE oracle replays. (The
    // corpus-only pair set equals the full run's corpus×corpus pairs
    // because banding is per-doc deterministic; the bucket caps never
    // trigger on this data — d02 proves the pair sets.)
    QueryDef("d14_components_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        val newDocs = d.filter(col("doc_id") % 5 === 0)
        val corpus = d.filter(col("doc_id") % 5 =!= 0)
        // the existing-corpus CC chain and the incremental-batch pair
        // chain are independent eager pipelines (the corpus signatures
        // they share dedup through CacheOnce) — overlap them (par2
        // doc); mergeComponents folds the two afterwards
        val (existing, newPairs) = par2(
          Dedup.connectedComponents(
            Dedup.minhashLsh(corpus, "text", "doc_id")
              .select("doc_a", "doc_b")),
          Dedup.minhashLshIncremental(newDocs, "text", "doc_id",
              Dedup.minhashSignatures(corpus, "text", "doc_id"))
            .select("doc_a", "doc_b").localCheckpoint())
        Dedup.mergeComponents(existing, newPairs)
      },
      Some(s"""WITH RECURSIVE $trueJaccardSql,
              |$ccFromTruthSql
              |SELECT doc_id, component FROM comps""".stripMargin)),

    // The production fuzzy-dedup PIPELINE (the SlimPajama/RefinedWeb
    // shape, end to end): MinHash signatures → LSH banding candidates →
    // transitive closure → drop everything but each cluster's min-id
    // representative. d02/d06 gate the stages; this gates the
    // composition — the corpus a user actually trains on. Oracle:
    // DuckDB recomputes the exact truth pairs (== the LSH candidates on
    // this data, proven by d02), closes them with a recursive CTE, and
    // applies the same keep rule over the full documents relation.
    QueryDef("d09_fuzzy_dedup_pipeline",
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.minhashLsh(d, "text", "doc_id")
          .select("doc_a", "doc_b")
        val comps = Dedup.connectedComponents(pairs)
        Dedup.dropClusterDuplicates(d, "doc_id", comps)
          .select("doc_id", "source", "n_chars")
      },
      Some(s"""WITH RECURSIVE $trueJaccardSql,
              |$ccFromTruthSql
              |SELECT d.doc_id, d.source, d.n_chars FROM documents d
              |LEFT JOIN comps c ON c.doc_id = d.doc_id
              |WHERE c.doc_id IS NULL OR c.component = d.doc_id""".stripMargin)),

    // Quality-aware cluster dedup: per near-dup component keep the
    // BEST member (longest text here — the keep-longest policy; ties
    // to the lowest id) instead of d09's min-id representative.
    // Oracle: the d06/d09 recursive-CTE truth closure plus a window
    // replaying the same argmax over the same clusters.
    QueryDef("d18_keep_best_per_cluster",
      (s, dir) => {
        val d = docs(s, dir)
        val comps = Dedup.connectedComponents(
          Dedup.minhashLsh(d, "text", "doc_id").select("doc_a", "doc_b"))
        Dedup.keepBestPerCluster(d, "doc_id", comps, "n_chars")
          .select("doc_id", "source", "n_chars")
      },
      Some(s"""WITH RECURSIVE $trueJaccardSql,
              |$ccFromTruthSql,
              |ranked AS (
              |  SELECT c.doc_id,
              |    row_number() OVER (PARTITION BY c.component
              |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
              |  FROM comps c JOIN documents d ON d.doc_id = c.doc_id)
              |SELECT d.doc_id, d.source, d.n_chars FROM documents d
              |LEFT JOIN ranked k ON k.doc_id = d.doc_id
              |WHERE k.doc_id IS NULL OR k.rn = 1""".stripMargin)),

    // Two-phase fuzzy dedup, exact-verify stage: LSH candidates
    // confirmed by true Levenshtein distance relative to the longer
    // doc. Full oracle: DuckDB recomputes the candidate set exactly
    // (== truth pairs, per d02) and its levenshtein agrees unit-for-
    // unit; the relative-threshold compare is one double multiply of
    // exact ints on both sides.
    QueryDef("d10_edit_distance_dedup",
      (s, dir) => Dedup.editDistancePairs(docs(s, dir), "text", "doc_id"),
      Some(s"""WITH $trueJaccardSql,
              |cand AS (SELECT doc_a, doc_b FROM truth WHERE jac >= 0.7),
              |nt AS (SELECT doc_id,
              |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              |       FROM documents)
              |SELECT doc_a, doc_b,
              |  cast(levenshtein(a.t, b.t) AS INT) AS edit_dist,
              |  cast(greatest(length(a.t), length(b.t)) AS INT) AS max_len
              |FROM cand JOIN nt a ON a.doc_id = doc_a
              |          JOIN nt b ON b.doc_id = doc_b
              |WHERE levenshtein(a.t, b.t)
              |  <= 0.3 * greatest(length(a.t), length(b.t))""".stripMargin)),

    // EXACT duplicated-SPAN removal (Lee et al. 2022): cut every
    // maximal token span covered by 8-grams repeated anywhere in the
    // corpus. FULL oracle: DuckDB independently regenerates every
    // 8-gram, counts repeats, merges covered intervals with its own
    // gap-and-island windows, and rebuilds each document's surviving
    // text token-for-token — a mistake in gram bounds, interval
    // merging, or the rebuild breaks clean_text equality character-
    // for-character.
    QueryDef("d15_span_dedup",
      (s, dir) => Dedup.dedupSpans(docs(s, dir), "text", "doc_id", l = 8)
        .select("doc_id", "n_tokens", "n_spans", "tokens_removed",
          "clean_text"),
      Some(tokenSpanDedupSql)),

    // INCREMENTAL span dedup: batch 2 (doc_id%3==0) cleaned against
    // the batch-1 corpus through the gram-stats state — including the
    // dirty-doc rework (old docs whose singleton grams the new batch
    // makes repeated). The oracle is the FULL from-scratch truth over
    // the whole corpus: the incremental path must converge to it
    // exactly, including every reworked old document — a missed dirty
    // doc or a stale repeated-set lookup surfaces as a text mismatch.
    QueryDef("d16_span_dedup_incremental",
      (s, dir) => {
        val all = docs(s, dir)
        val b1 = all.filter(col("doc_id") % 3 =!= 0)
        val b2 = all.filter(col("doc_id") % 3 === 0)
        val stats = Dedup.spanGramStats(b1, "text", "doc_id", l = 8)
        val prev = Dedup.dedupSpans(b1, "text", "doc_id", l = 8)
        Dedup.dedupSpansIncremental(b1, stats, prev, b2, "text",
            "doc_id", l = 8)
          .select("doc_id", "n_tokens", "n_spans", "tokens_removed",
            "clean_text")
      },
      Some(tokenSpanDedupSql)),

    // EXACT substring dedup via distributed suffix-array bucket
    // refinement (d25, the Lee et al. ExactSubstr shape): maximal
    // character spans whose every 40-char window repeats corpus-wide.
    // Supersedes d15's fixed-md5-gram approximation for long repeats:
    // character grain, every offset, no hashing — equality comes from
    // prefix-doubling equality classes. The oracle is a DIFFERENT
    // algorithm (brute-force per-offset 40-char grams + island merge
    // in SQL), so the two engines cross-check the semantics, not the
    // implementation: a class-refinement slip, an off-by-one in the
    // overlap key, or a wrong island merge all surface as span-set
    // divergence.
    QueryDef("d25_substr_dedup_exact",
      (s, dir) => SuffixArray.repeatedSpans(docs(s, dir), "text",
        "doc_id", minLen = 40),
      Some(charRepeatsSql(charSpansSql))),

    // EXACT substring decontamination (d27) — the published
    // eval-overlap standard done exactly at character grain: maximal
    // train-side spans whose every 40-char window also occurs in the
    // eval split (doc_id % 7 == 0, the d19 split). Cross-corpus
    // presence is the criterion — train-internal repeats must NOT
    // mark, which is exactly what separates this from d25 and what
    // the oracle checks: DuckDB joins train grams against DISTINCT
    // eval grams only. One shared refinement pass over the union
    // (ids interleave on parity).
    QueryDef("d27_substr_decontaminate",
      (s, dir) => {
        val d = docs(s, dir)
        SuffixArray.contaminationSpans(
          d.filter(col("doc_id") % 7 =!= 0),
          d.filter(col("doc_id") % 7 === 0),
          "text", "doc_id", minLen = 40)
      },
      Some(charContaminationSql)),

    // Span CUT over the d25 spans (d26) — the "drop the duplicated
    // bytes" rebuild, Lee et al.'s actual output: every repeated
    // 40-char-window span removed, kept text reassembled from the
    // gaps in order. One aggregate-HOF projection per doc (no
    // per-character rows); the oracle rebuilds each document from the
    // SAME span set via lag-window gap segments + ordered string_agg
    // — an off-by-one at either span edge shifts whole strings.
    QueryDef("d26_substr_dedup_cut",
      (s, dir) => SuffixArray.cutRepeatedSpans(docs(s, dir), "text",
        "doc_id", minLen = 40),
      Some(charRepeatsSql(charCutSql))),

    // Incremental substring index (d28) — the d13/d14/d16 persisted-
    // state discipline for the EXACT substring family: build the
    // refinement index over the first 80% of documents (by id), append
    // the rest refining ONLY the batch's characters against the
    // persisted dictionaries, then read the accumulated corpus's
    // repeated spans straight off the stored keys. The oracle is the
    // d25 brute-force gram SQL over the WHOLE corpus: the gate is
    // green iff append-then-read equals a from-scratch pass over the
    // union — the index's entire correctness claim (immutable
    // min-position class ids; a dictionary miss provably has no prior
    // member). The grid is sized to the full corpus max doc length so
    // batch documents fit the build-time stride.
    QueryDef("d28_substr_index_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        val stats = d.agg(max(col("doc_id")).cast("long").as("mx"),
          max(length(col("text"))).as("ml")).head()
        val cut = stats.getLong(0) * 4 / 5
        val base = SuffixArray.buildSubstrIndex(
          d.filter(col("doc_id") < cut), "text", "doc_id",
          minLen = 40, maxDocLen = stats.getInt(1))
        val grown = SuffixArray.appendToSubstrIndex(base,
          d.filter(col("doc_id") >= cut), "text", "doc_id")
        SuffixArray.substrIndexSpans(grown, "doc_id")
      },
      Some(charRepeatsSql(charSpansSql))),

    // BUCKETED index persistence (d31): the production-volume layout —
    // keys and pair dictionary bucketed + sorted on (__r1, __r2), so
    // the spans readout aggregates and self-joins with ZERO exchange
    // of the corpus-sized key relation (spec pins the plan; this gate
    // pins that the bucketed round trip changes no answer: spans off
    // the bucket-loaded index must equal the d25 brute-force oracle).
    QueryDef("d31_substr_index_bucketed",
      (s, dir) => {
        val d = docs(s, dir)
        val idx = SuffixArray.buildSubstrIndex(d, "text", "doc_id",
          minLen = 40)
        val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
        val out = s"/tmp/graft_gate_substr_bucketed_$safe"
        IndexIo.Substr.saveBucketed(idx, out,
          s"graft_gate_substr_$safe", buckets = 16)
        val (loaded, _) = IndexIo.Substr.loadBucketed(s, out,
          s"graft_gate_substr_$safe")
        SuffixArray.substrIndexSpans(loaded, "doc_id")
      },
      Some(charRepeatsSql(charSpansSql))),

    // Decontamination SURGERY (d32): the full production composition —
    // index the eval split once, screen the train split against it
    // (d29's read-only contamination), then CUT the contaminated
    // spans out of the training text (the d26 aggregate-HOF rebuild,
    // shared via cutSpans). This is what a pipeline actually ships:
    // training documents with the leaked benchmark bytes surgically
    // removed rather than whole documents dropped. The oracle
    // recomputes the d27 cross-corpus span set AND the gap rebuild in
    // SQL — an off-by-one at either span edge shifts whole strings.
    QueryDef("d32_decontaminate_cut",
      (s, dir) => {
        val d = docs(s, dir)
        val maxLen = d.agg(max(length(col("text")))).head().getInt(0)
        val train = d.filter(col("doc_id") % 7 =!= 0)
        val idx = SuffixArray.buildSubstrIndex(
          d.filter(col("doc_id") % 7 === 0), "text", "doc_id",
          minLen = 40, maxDocLen = maxLen)
        SuffixArray.cutSpans(train,
          SuffixArray.substrIndexContamination(idx, train, "text",
            "doc_id"),
          "text", "doc_id")
      },
      Some(charOverlapSql(
        s"""${charDocsSql("d", " WHERE doc_id % 7 <> 0")},
           |${charDocsSql("e", " WHERE doc_id % 7 = 0")}""".stripMargin,
        charGramsSql("gtr", charOffCols, "d"),
        charGramsSql("gev", "DISTINCT", "e"), charCutSql))),

    // Bucketed MinHash index persistence (d35): the d31
    // production-volume layout for the LSH family — banded rows
    // written bucketBy(band_idx, band_hash) into a catalog table, so
    // the nightly pair readout's capping aggregate and bucket
    // self-join read pre-partitioned data and exchange NOTHING
    // corpus-sized (plan spec-pinned: exactly one Exchange, on the
    // tiny candidate-pair dedup). Answers must equal the in-flight
    // d02 path row-for-row — the same truth oracle.
    QueryDef("d35_minhash_index_bucketed",
      (s, dir) => {
        val d = docs(s, dir)
        val idx = Dedup.buildMinHashIndex(d, "text", "doc_id")
        val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
        val out = s"/tmp/graft_gate_minhash_bucketed_$safe"
        IndexIo.MinHash.saveBucketed(idx, out,
          s"graft_gate_minhash_$safe", buckets = 16)
        val (loaded, derived) = IndexIo.MinHash.loadBucketed(s, out,
          s"graft_gate_minhash_$safe")
        Dedup.minhashIndexPairsBanded(derived("banded"), loaded.k)
          .select("doc_a", "doc_b")
      },
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b FROM truth WHERE jac >= 0.7""".stripMargin)),

    // Sharded parallel build + merge, LSH family (d36): two shard
    // indexes signed CONCURRENTLY over disjoint halves of the corpus
    // merge into one, and the merged state's pair readout must equal
    // the d02 truth oracle — signatures are row-independent, so the
    // merge is union-by-construction and exactly rebuild-equal
    // (spec-pinned against the one-shot index; the gate drives the
    // composition to the same external truth every LSH gate uses).
    QueryDef("d36_minhash_index_merge",
      (s, dir) => {
        val d = docs(s, dir)
        // the two shard signings are independent eager chains —
        // overlap them (par2 doc): this IS the gate's "signed
        // concurrently" story made literal
        val (shEven, shOdd) = par2(
          Dedup.buildMinHashIndex(d.filter(col("doc_id") % 2 === 0),
            "text", "doc_id"),
          Dedup.buildMinHashIndex(d.filter(col("doc_id") % 2 === 1),
            "text", "doc_id"))
        val merged = Dedup.mergeMinHashIndexes(shEven, shOdd)
        Dedup.minhashIndexPairs(merged).select("doc_a", "doc_b")
      },
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b FROM truth WHERE jac >= 0.7""".stripMargin)),

    // Substring-index compaction (d37): after deletes, the index
    // deliberately keeps dead dictionary labels and burned ids (the
    // d30 trade); compaction re-refines the SURVIVING text on the
    // same lifetime grid, returning the from-scratch state. The gate
    // drives the delete→compact chain to d30's brute-force oracle
    // over the surviving corpus; state equality with the fresh build
    // (and the un-burning of deleted id ranges) is spec-pinned.
    QueryDef("d37_substr_index_compact",
      (s, dir) => {
        val d = docs(s, dir)
        val idx = SuffixArray.buildSubstrIndex(d, "text", "doc_id",
          minLen = 40)
        val afterDel = SuffixArray.deleteFromSubstrIndex(idx,
          d.filter(col("doc_id") % 6 === 1).select("doc_id"))
        val compacted = SuffixArray.compactSubstrIndex(afterDel,
          d.filter(col("doc_id") % 6 =!= 1), "text", "doc_id")
        SuffixArray.substrIndexSpans(compacted, "doc_id")
      },
      Some(charRepeatsSql(charSpansSql, " WHERE doc_id % 6 <> 1"))),

    // Component DELETION (d34): the backward half of the d14
    // incremental-clusters lifecycle. Deletion can fragment a cluster
    // (the deleted node may be the only bridge) and can retire a
    // cluster's min-id label, so the touched components recompute
    // from their members' SURVIVING evidence pairs while untouched
    // assignments pass through verbatim; a survivor stripped of all
    // evidence drops out exactly as a full recompute would leave it.
    // Oracle: the same recursive-CTE closure as d06/d14, over truth
    // pairs with the deleted slice (doc_id % 7 == 2) excluded from
    // both endpoints.
    QueryDef("d34_components_delete",
      (s, dir) => {
        val d = docs(s, dir)
        // materialize the LSH pair pipeline ONCE: it feeds the CC edge
        // cache AND the delete verb's surviving-evidence scan — left
        // lazy, the banding/scoring pipeline re-ran per consumer
        // (measured ~2x this gate's task CPU)
        val pairs = Dedup.minhashLsh(d, "text", "doc_id")
          .select("doc_a", "doc_b").localCheckpoint()
        val comps = Dedup.connectedComponents(pairs)
        Dedup.deleteFromComponents(comps, pairs,
          d.filter(col("doc_id") % 7 === 2).select("doc_id"))
      },
      Some(s"""WITH RECURSIVE $trueJaccardSql,
              |cand AS (SELECT doc_a, doc_b FROM truth
              |  WHERE jac >= 0.7 AND doc_a % 7 <> 2 AND doc_b % 7 <> 2),
              |und AS (SELECT doc_a AS u, doc_b AS v FROM cand
              |        UNION SELECT doc_b, doc_a FROM cand),
              |walk(node, comp) AS (
              |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
              |  UNION
              |  SELECT p.u, w.comp FROM und p JOIN walk w ON w.node = p.v)
              |SELECT node AS doc_id, min(comp) AS component
              |FROM walk GROUP BY 1""".stripMargin)),

    // MinHash-LSH index LIFECYCLE (d33): the d13 signature artifact
    // promoted to a persisted index with the full verb set every
    // other index family already carries — build the even-corpus
    // index, save/load it, append the doc_id%5 batch (fail-fast on id
    // collision), delete the doc_id%10==3 slice, then read the
    // surviving corpus's dedup pairs from SIGNATURES ALONE (no text
    // re-scan). Every verb is union/anti-join over row-independent
    // signatures, so the final readout must equal the d02 truth over
    // exactly the surviving documents — the oracle replays true
    // 3-gram Jaccard >= 0.7 with the deleted slice excluded.
    QueryDef("d33_minhash_index_lifecycle",
      (s, dir) => {
        val d = docs(s, dir)
        val idxDir = "/tmp/graft_gate_minhashidx_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        val built = Dedup.buildMinHashIndex(
          d.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
        IndexIo.MinHash.save(built, idxDir)
        val loaded = IndexIo.MinHash.load(s, idxDir)
        val appended = Dedup.appendToMinHashIndex(loaded,
          d.filter(col("doc_id") % 5 === 0), "text", "doc_id")
        val fin = Dedup.deleteFromMinHashIndex(appended,
          d.filter(col("doc_id") % 10 === 3).select("doc_id"))
        Dedup.minhashIndexPairs(fin).select("doc_a", "doc_b")
      },
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b FROM truth
              |WHERE jac >= 0.7
              |  AND doc_a % 10 <> 3 AND doc_b % 10 <> 3""".stripMargin)),

    // Substring-index DELETION (d30): drop a sixth of the documents
    // from the accumulated index — one filter over the keys relation
    // (spans derive only from keys; dictionary labels minted by
    // deleted docs stay, harmlessly, because counting happens over
    // the filtered keys). The oracle is the d25 brute-force gram SQL
    // over the REMAINING documents: read-path equality with a
    // from-scratch build even though the state deliberately is not
    // identical (stale labels, different class-id numbering).
    QueryDef("d30_substr_index_delete",
      (s, dir) => {
        val d = docs(s, dir)
        val idx = SuffixArray.buildSubstrIndex(d, "text", "doc_id",
          minLen = 40)
        val afterDel = SuffixArray.deleteFromSubstrIndex(idx,
          d.filter(col("doc_id") % 6 === 1).select("doc_id"))
        SuffixArray.substrIndexSpans(afterDel, "doc_id")
      },
      Some(charRepeatsSql(charSpansSql, " WHERE doc_id % 6 <> 1"))),

    // Index-based incremental decontamination (d29) — the d27
    // contract served from a PERSISTED index: build the substring
    // index over the eval split ONCE, then screen the train split
    // against it read-only (train windows refine against the stored
    // dictionaries; a contaminated window is one whose composite key
    // exists among the indexed keys). This is the shape a production
    // pipeline runs — the benchmark suite is indexed once, every
    // crawl batch screens against it — and the oracle is d27's
    // brute-force cross-corpus SQL: index-then-screen must equal the
    // one-shot shared-refinement pass over the union exactly. Train
    // and eval ids OVERLAP here (both are documents subsets), which
    // also exercises the internal id-offset that keeps minted class
    // ids disjoint from indexed ones.
    QueryDef("d29_substr_index_decontaminate",
      (s, dir) => {
        val d = docs(s, dir)
        val maxLen = d.agg(max(length(col("text")))).head().getInt(0)
        val idx = SuffixArray.buildSubstrIndex(
          d.filter(col("doc_id") % 7 === 0), "text", "doc_id",
          minLen = 40, maxDocLen = maxLen)
        SuffixArray.substrIndexContamination(idx,
          d.filter(col("doc_id") % 7 =!= 0), "text", "doc_id")
      },
      Some(charContaminationSql)),

    // Exact ANN baseline: brute-force cosine top-5 for the first 20
    // query vectors. IDs + rank only (the sim double stays out of the
    // compared columns; cross-engine float rounding could differ).
    QueryDef("n01_ann_bruteforce",
      (s, dir) => Similarity.bruteForceTopK(
          embs(s, dir).filter(col("vec_id") < 20), embs(s, dir), k = 5)
        .select("q_id", "n_id", "rank"),
      Some(bruteTop5Sql)),

    // Approximate ANN: sign-LSH bucketed top-k (the scale path). Full
    // DuckDB oracle via the same inlined-hyperplane bucket expression as
    // d05; ranking by cross-engine double cosine is already proven
    // deterministic by n01's green oracle on the same data.
    QueryDef("n02_ann_lsh",
      (s, dir) => Similarity.lshTopK(
          embs(s, dir).filter(col("vec_id") < 20), embs(s, dir), k = 5)
        .select("q_id", "n_id", "rank"),
      Some(s"""WITH v AS (
              |  SELECT vec_id, embedding,
              |    ${Similarity.lshBucketSql("embedding")} AS bucket
              |  FROM embeddings)
              |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
              |  row_number() OVER (PARTITION BY q.vec_id
              |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
              |             c.vec_id) AS rank
              |FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
              |WHERE q.vec_id < 20
              |QUALIFY rank <= 5""".stripMargin)),

    // Approximate ANN: IVF cells with nprobe probing (data-adaptive
    // partition; recall tunable via nprobe). Full DuckDB oracle: the
    // deterministic centroids are the first nlist=16 corpus vectors, so
    // the oracle re-derives cell assignment (argmax centroid cosine,
    // lowest id on ties — matching array_position's first-max) and the
    // nprobe=4 probe set from the embeddings table itself.
    QueryDef("n03_ann_ivf",
      (s, dir) => Similarity.ivfTopK(
          embs(s, dir).filter(col("vec_id") < 20), embs(s, dir), k = 5)
        .select("q_id", "n_id", "rank"),
      Some(s"""WITH ${centSimsSql(16)},
             |ranked AS (
             |  SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             |  FROM sims),
             |cell AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
             |probe AS (SELECT vec_id, cid FROM ranked WHERE rn <= 4 AND vec_id < 20),
             |cand AS (
             |  SELECT p.vec_id AS q_id, ce.vec_id AS n_id
             |  FROM probe p JOIN cell ce ON ce.cid = p.cid AND ce.vec_id <> p.vec_id)
             |SELECT q_id, n_id,
             |  row_number() OVER (PARTITION BY q_id
             |    ORDER BY list_cosine_similarity(qe.embedding, ne.embedding) DESC,
             |             n_id) AS rank
             |FROM cand
             |JOIN embeddings qe ON qe.vec_id = q_id
             |JOIN embeddings ne ON ne.vec_id = n_id
             |QUALIFY rank <= 5""".stripMargin)),

    // IVF at REAL list count: nlist=256 k-means-trained centroids
    // (KMeans.trainCentroids — sampled spherical k-means||-style
    // driver fit, distributed CentroidAssign codegen assignment).
    // Gate: probing ALL cells must reproduce the exact brute-force
    // top-k bit-for-bit — a vector lost or duplicated by the
    // assignment (the failure mode of the machinery, independent of
    // centroid quality) breaks the equality. The round-3 formulation
    // (one inlined cosine subtree per centroid) could not even PLAN at
    // this nlist; this gate exists to keep the single-expression
    // assignment path honest at scale-realistic list counts.
    QueryDef("n06_ann_ivf_kmeans",
      (s, dir) => {
        val e = embs(s, dir)
        // the DISTRIBUTED trainer (Lloyd assignment as a CentroidAssign
        // projection per sweep; driver does only the k×dim mean update)
        // — the production path for nlist ≥ ~10³, gated here at 256
        val cb = KMeans.trainCentroidsDistributed(e, "vec_id", "embedding",
          nlist = 256, iters = 5)
        Similarity.ivfTopK(e.filter(col("vec_id") < 20), e, k = 5,
            nlist = 256, nprobe = 256, centroids = Some(cb))
          .select("q_id", "n_id", "rank")
      },
      Some(bruteTop5Sql)),

    // Hierarchical (two-level coarse/fine) IVF — the composition that
    // carries IVF past one codebook's O(nlist·dim) per-row price:
    // nearest coarse cell, then nearest fine centroid within it, global
    // fine cell as the join key (16×16 here = up to 256 cells at
    // 32-cosine cost; 256×256 = 65536 cells would price like 512).
    // Same machinery gate as n06: probing EVERY cell (nprobeCoarse=16,
    // nprobe=256) must reproduce exact brute-force top-k — a vector
    // lost, duplicated, or mis-offset by the two-level assign/probe
    // id pairing breaks the equality.
    // ANN IVF with the FULLY scalable trainer: k-means|| init (Bahmani
    // et al., VLDB 2012 — the distributed replacement for sequential
    // k-means++ D²-sampling) + distributed Lloyd sweeps. probe-all
    // makes the gate init-agnostic: whatever codebook the trainer
    // produces, probing every cell must equal brute force — while the
    // init's determinism and cluster quality are spec-pinned
    // (KMeansSpec). This closes the last driver-side k-means ceiling:
    // neither init nor sweeps scan the sample sequentially.
    QueryDef("n12_ann_ivf_kmeans_par",
      (s, dir) => {
        val e = embs(s, dir)
        val cb = KMeans.trainCentroidsScalable(e, "vec_id", "embedding",
          nlist = 64, iters = 3)
        Similarity.ivfTopK(e.filter(col("vec_id") < 20), e, k = 5,
            nlist = 64, nprobe = 64, centroids = Some(cb))
          .select("q_id", "n_id", "rank")
      },
      Some(bruteTop5Sql)),

    QueryDef("n07_ann_ivf_hier",
      (s, dir) => {
        val e = embs(s, dir)
        val cb = KMeans.trainHierarchical(e, "vec_id", "embedding",
          nCoarse = 16, nFine = 16, iters = 5)
        Similarity.ivfTopKHier(e.filter(col("vec_id") < 20), e, k = 5,
            codebook = cb, nprobeCoarse = 16, nprobe = 256)
          .select("q_id", "n_id", "rank")
      },
      Some(bruteTop5Sql)),

    // CCNet-style unigram LM scoring (perplexity filtering): vocabulary
    // = corpus' own top-V words (bounded ordered take, word tie-break),
    // broadcast to the per-token lookup. The gate carries the exact
    // integer skeleton (n_tokens, n_oov) — the float mean-log-prob is a
    // multi-row float sum, order-dependent in final ULPs across
    // engines, so its semantics are pinned in TextOpsSpec instead.
    QueryDef("t12_unigram_lm",
      (s, dir) => TextOps.unigramScore(docs(s, dir), "doc_id", "text",
          vocabSize = 64)
        .select("doc_id", "n_tokens", "n_oov"),
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
             |  FROM documents),
             |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
             |c AS (SELECT word, count(*) AS c FROM w2 GROUP BY 1),
             |v AS (SELECT word FROM c ORDER BY c DESC, word LIMIT 64),
             |s AS (
             |  SELECT w2.doc_id, count(*) AS n_tokens,
             |    sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
             |  FROM w2 LEFT JOIN v ON w2.word = v.word
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |  cast(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
             |  cast(coalesce(s.n_oov, 0) AS BIGINT) AS n_oov
             |FROM (SELECT DISTINCT doc_id FROM documents) d
             |LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin)),

    // C4-style LINE-level cleaning over a line-structured corpus: the
    // flat word-soup corpus is restructured deterministically into
    // lines of doc_id%5+3 tokens (the m08 fixture recipe: construction
    // closed-form in doc_id so the oracle rebuilds it independently),
    // then cleanLines applies the within-document rules — min 3
    // tokens, no banned substring, first occurrence of a repeated
    // line. The oracle recomputes line boundaries, every rule, and the
    // newline re-join; a misplaced boundary or wrong first-occurrence
    // index breaks clean_text equality.
    QueryDef("t13_line_clean",
      (s, dir) => {
        val structured = restructureLines(docs(s, dir))((_, base) => base)
        TextOps.cleanLines(structured, "text2", "doc_id", minTokens = 3,
            banned = Seq("spark", "spill"), dedupLines = true)
          .select("doc_id", "n_lines", "n_kept", "clean_text")
      },
      Some(s"""WITH $linesSql,
             |ln AS (SELECT doc_id, cast(u.j AS INT) AS j,
             |    array_to_string(toks[u.j*k+1 : u.j*k+k], ' ') AS line
             |  FROM n, unnest(range(0, (n + k - 1) // k)) AS u(j)),
             |f AS (SELECT doc_id, j, line,
             |    min(j) OVER (PARTITION BY doc_id, line) AS fj FROM ln),
             |kept AS (SELECT * FROM f
             |  WHERE len(string_split(line, ' ')) >= 3
             |    AND NOT contains(lower(line), 'spark')
             |    AND NOT contains(lower(line), 'spill')
             |    AND j = fj),
             |agg AS (SELECT doc_id, count(*) AS n_kept,
             |    string_agg(line, chr(10) ORDER BY j) AS clean_text
             |  FROM kept GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_lines FROM ln
             |  GROUP BY doc_id)
             |SELECT t.doc_id, cast(tot.n_lines AS INT) AS n_lines,
             |  cast(coalesce(agg.n_kept, 0) AS INT) AS n_kept,
             |  coalesce(agg.clean_text, '') AS clean_text
             |FROM t JOIN tot USING (doc_id)
             |LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // The full Gopher rule set over a line-structured corpus. Reuses
    // the t13 closed-form line restructure (doc_id%5+3 tokens/line) and
    // additionally injects bullets/ellipses deterministically — line j
    // of doc d gets a "- " prefix when (d+j)%4==0 and a " ..." suffix
    // when (d+j)%4==1 — so every rule (bullet_frac, ellipsis_frac,
    // symbol_ratio, alpha_frac) genuinely fires. The oracle rebuilds
    // the same corpus and recomputes each signal from scratch; every
    // ratio is a single division of exact integers so the doubles
    // compare bit-for-bit.
    QueryDef("t14_gopher_rules",
      (s, dir) => {
        val structured = restructureLines(docs(s, dir)) { (j, base) =>
          val m = (col("doc_id") + j) % 4
          when(m === 0, concat(lit("- "), base))
            .when(m === 1, concat(base, lit(" ...")))
            .otherwise(base)
        }
        structured.select(col("doc_id") +:
          TextOps.gopherRules(col("text2")).map { case (n, c) => c.as(n) }: _*)
      },
      Some(s"""WITH $linesSql,
             |ln AS (SELECT doc_id, cast(u.j AS INT) AS j,
             |    CASE WHEN (doc_id + u.j) % 4 = 0
             |      THEN '- ' || array_to_string(toks[u.j*k+1 : u.j*k+k], ' ')
             |    WHEN (doc_id + u.j) % 4 = 1
             |      THEN array_to_string(toks[u.j*k+1 : u.j*k+k], ' ') || ' ...'
             |    ELSE array_to_string(toks[u.j*k+1 : u.j*k+k], ' ') END AS line
             |  FROM n, unnest(range(0, (n + k - 1) // k)) AS u(j)),
             |d AS (SELECT doc_id,
             |    string_agg(line, chr(10) ORDER BY j) AS t2,
             |    count(*) AS n_lines,
             |    sum(CASE WHEN starts_with(line, '- ')
             |          OR starts_with(line, '* ') THEN 1 ELSE 0 END) AS n_bul,
             |    sum(CASE WHEN ends_with(line, '...') THEN 1 ELSE 0 END)
             |      AS n_ell
             |  FROM ln GROUP BY doc_id),
             |w AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(t2), '\\s+')) AS word FROM d),
             |wa AS (SELECT doc_id, count(*) AS nw,
             |    sum(CASE WHEN regexp_matches(word, '[a-z]') THEN 1 ELSE 0
             |        END) AS n_alpha
             |  FROM w WHERE word <> '' GROUP BY doc_id),
             |sig AS (SELECT d.doc_id, d.t2, d.n_lines, d.n_bul, d.n_ell,
             |    coalesce(wa.nw, 0) AS nw, coalesce(wa.n_alpha, 0) AS n_alpha,
             |    CASE WHEN coalesce(wa.nw, 0) = 0 THEN 1
             |         ELSE wa.nw END AS wden,
             |    (length(t2) - length(replace(t2, ' ', ''))) AS n_sp,
             |    cast((length(t2) - length(replace(t2, '#', ''))) / 1 AS INT)
             |      + cast((length(t2) - length(replace(t2, '...', ''))) / 3
             |             AS INT) AS n_sym,
             |    (CASE WHEN contains(' '||lower(t2)||' ', ' the ')
             |          THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' be ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' to ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' of ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' and ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' that ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' have ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(t2)||' ', ' with ')
             |            THEN 1 ELSE 0 END) AS n_stop
             |  FROM d LEFT JOIN wa ON d.doc_id = wa.doc_id),
             |o AS (SELECT doc_id,
             |    cast(nw AS INT) AS n_words,
             |    cast(length(t2) - n_sp AS DOUBLE) / wden AS mean_word_len,
             |    cast(n_sym AS DOUBLE) / wden AS symbol_ratio,
             |    cast(n_bul AS DOUBLE) / n_lines AS bullet_frac,
             |    cast(n_ell AS DOUBLE) / n_lines AS ellipsis_frac,
             |    cast(n_alpha AS DOUBLE) / wden AS alpha_frac,
             |    cast(n_stop AS INT) AS stop_hits
             |  FROM sig)
             |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
             |  bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
             |  (n_words BETWEEN 50 AND 100000
             |   AND mean_word_len BETWEEN 3.0 AND 10.0
             |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
             |   AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
             |   AND stop_hits >= 2) AS keep
             |FROM o""".stripMargin)),

    // Bigram LM with stupid backoff, trained on the even-doc_id half
    // and scoring everything — the held-out split keeps the backoff
    // tiers non-degenerate (odd docs hold bigrams and words the LM
    // never saw). The gate pins the exact integer skeleton (bigram /
    // hit / backoff / OOV counts per doc, full LEFT JOIN recompute in
    // DuckDB); the float avg_logscore is pinned closed-form in
    // TextOpsSpec, the t12 recipe.
    QueryDef("t15_bigram_lm",
      (s, dir) => TextOps.bigramScore(docs(s, dir), "doc_id", "text",
          col("doc_id") % 2 === 0)
        .select("doc_id", "n_bigrams", "n_hit", "n_backoff", "n_oov"),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                x -> x <> '') AS toks FROM documents),
             |b AS (SELECT doc_id, toks[u.j] AS w1, toks[u.j + 1] AS w2
             |  FROM t, unnest(range(1, len(toks))) AS u(j)),
             |uni AS (SELECT u.w AS word, count(*) AS cu
             |  FROM t, unnest(toks) AS u(w) WHERE doc_id % 2 = 0
             |  GROUP BY 1),
             |bi AS (SELECT w1, w2, count(*) AS cb FROM b
             |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
             |s AS (SELECT b.doc_id, count(*) AS nb,
             |    sum(CASE WHEN bi.cb IS NOT NULL THEN 1 ELSE 0 END) AS nh,
             |    sum(CASE WHEN bi.cb IS NULL AND u2.cu IS NOT NULL
             |        THEN 1 ELSE 0 END) AS nbk,
             |    sum(CASE WHEN u2.cu IS NULL THEN 1 ELSE 0 END) AS nov
             |  FROM b LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
             |  LEFT JOIN uni u2 ON b.w2 = u2.word
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |  cast(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
             |  cast(coalesce(s.nh, 0) AS BIGINT) AS n_hit,
             |  cast(coalesce(s.nbk, 0) AS BIGINT) AS n_backoff,
             |  cast(coalesce(s.nov, 0) AS BIGINT) AS n_oov
             |FROM (SELECT DISTINCT doc_id FROM documents) d
             |LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin)),

    // Corpus-overlap diagnostics: distinct word n-gram sets (n=1,2,3)
    // of the even-doc half vs the odd-doc half, with shared counts and
    // Jaccard — the contamination report that precedes a decontaminate
    // cut. Oracle rebuilds every gram set from scratch per n (including
    // WordNGrams' short-text whole-string fallback).
    QueryDef("d17_corpus_overlap",
      (s, dir) => Curation.corpusOverlap(docs(s, dir), "text",
        col("doc_id") % 2 === 0),
      Some {
        def gramN(n: Int): String = {
          val terms = (1 to n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
          s"""g$n AS (
             |  SELECT DISTINCT (doc_id % 2 = 0) AS a,
             |    CASE WHEN len(w) >= $n THEN $terms
             |         ELSE array_to_string(w, ' ') END AS gram
             |  FROM (SELECT doc_id, w,
             |      unnest(range(CASE WHEN len(w) >= $n THEN len(w) - $n + 1
             |                   ELSE 1 END)) AS i
             |    FROM norm)),
             |p$n AS (SELECT gram, max(CASE WHEN a THEN 1 ELSE 0 END) AS ia,
             |    max(CASE WHEN NOT a THEN 1 ELSE 0 END) AS ib
             |  FROM g$n GROUP BY 1),
             |o$n AS (SELECT cast($n AS INT) AS n,
             |    cast(sum(ia) AS BIGINT) AS grams_a,
             |    cast(sum(ib) AS BIGINT) AS grams_b,
             |    cast(sum(ia * ib) AS BIGINT) AS grams_both FROM p$n)"""
            .stripMargin
        }
        s"""WITH norm AS (
           |  SELECT doc_id,
           |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
           |                                     'g')), ' ') AS w
           |  FROM documents),
           |${gramN(1)},
           |${gramN(2)},
           |${gramN(3)}
           |SELECT n, grams_a, grams_b, grams_both,
           |  cast(grams_both AS DOUBLE)
           |    / (grams_a + grams_b - grams_both) AS jaccard
           |FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2
           |      UNION ALL SELECT * FROM o3)""".stripMargin
      }),

    // DSIR importance weights: target = the doc_id%3==0 slice, raw =
    // the rest. The oracle refits both hashed-ngram models from
    // scratch (same md5-bucket hash, same Laplace smoothing, natural
    // log) and re-scores every doc; log_weight rounds to 4 dp (t10
    // float pattern), the gram-count skeleton is exact.
    QueryDef("t16_dsir_weights",
      (s, dir) => Curation.dsirWeights(docs(s, dir), "text", "doc_id",
          col("doc_id") % 3 === 0, buckets = 1024)
        .select(col("doc_id"), col("n_grams"),
          round(col("log_weight"), 4).as("log_weight")),
      Some(dsirWeightsSql())),

    // The BPE training kernel: frequency-weighted adjacent-pair counts
    // over the word table (initial character symbols), top-20 with the
    // deterministic (count desc, left, right) tie-break — iteration 1
    // of trainBpe, exactly. The merge LOOP on top of this kernel is
    // pinned closed-form in TextOpsSpec (greedy sequence + tie rules +
    // early stop), the t12 split of oracle-able kernel vs spec-pinned
    // iteration.
    QueryDef("t18_bpe_pairs",
      (s, dir) => TextOps.bpePairCounts(
          TextOps.bpeWordTable(docs(s, dir), "text", maxWords = 100000))
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(20),
      Some("""WITH wd AS (SELECT word, count(*) AS freq FROM (
             |    SELECT unnest(list_filter(
             |      string_split_regex(lower(trim(text)), '\s+'),
             |      x -> x <> '')) AS word FROM documents) GROUP BY 1),
             |p AS (SELECT substr(word, cast(u.i AS INT), 1) AS "left",
             |    substr(word, cast(u.i AS INT) + 1, 1) AS "right", freq
             |  FROM wd, unnest(range(1, length(word))) AS u(i))
             |SELECT "left", "right", cast(sum(freq) AS BIGINT) AS pair_count
             |FROM p GROUP BY 1, 2
             |ORDER BY pair_count DESC, "left", "right"
             |LIMIT 20""".stripMargin)),

    // BPE ENCODING under a fixed shipped merge table: per-doc subword
    // token counts (the fertility statistic tokenizer selection cuts
    // on). Spark replays the merges as boundary-anchored regex over
    // the symbol state; DuckDB has no lookaround (RE2), so the oracle
    // uses the equivalent wrapped-symbol formulation — every symbol
    // wrapped in chr(1) markers, each merge one LITERAL replace —
    // which matches full adjacent symbols left-to-right
    // non-overlapping exactly like the anchored regex. Two different
    // mechanizations of the same semantics agreeing on every document
    // is the strongest equality this gate family gets.
    QueryDef("t19_bpe_encode",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("n_words"),
        TextOps.bpeTokenCount(col("text"), encodeMerges).as("n_tokens")),
      Some {
        val sep = "chr(1)"
        val sep2 = "(chr(1) || chr(1))"
        val base = s"$sep || array_to_string(list_transform(" +
          s"range(1, length(word) + 1), i -> substr(word, cast(i AS INT)," +
          s" 1)), $sep2) || $sep"
        val merged = encodeMerges.foldLeft(base) { case (st, (l, r)) =>
          s"replace($st, $sep || '$l' || $sep2 || '$r' || $sep, " +
            s"$sep || '$l$r' || $sep)"
        }
        s"""WITH w AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> x <> '')) AS word FROM documents),
           |enc AS (SELECT doc_id, $merged AS s FROM w),
           |tk AS (SELECT doc_id, count(*) AS nw,
           |    sum((length(s) - length(replace(s, chr(1) || chr(1), '')))
           |        // 2 + 1) AS nt
           |  FROM enc GROUP BY 1)
           |SELECT d.doc_id, cast(coalesce(tk.nw, 0) AS INT) AS n_words,
           |  cast(coalesce(tk.nt, 0) AS INT) AS n_tokens
           |FROM (SELECT DISTINCT doc_id FROM documents) d
           |LEFT JOIN tk ON d.doc_id = tk.doc_id""".stripMargin
      }),

    // INCREMENTAL DSIR: the corpus-growth shape for the scoring tier
    // (the d13/d16 pattern) — the model state (bucket count table) is
    // fit per batch, rolled forward with an exact full-outer merge,
    // and ONLY the new batch is signed and scored against it. Because
    // counts add exactly, merged-state scoring must equal scoring
    // under a from-scratch refit over the union: the oracle refits the
    // full model over ALL documents and scores the same batch slice.
    QueryDef("t17_dsir_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        val b1 = d.filter(col("doc_id") % 5 =!= 0)
        val b2 = d.filter(col("doc_id") % 5 === 0)
        val tgt = col("doc_id") % 3 === 0
        val state = Curation.mergeDsirState(
          Curation.dsirState(b1, "text", "doc_id", tgt),
          Curation.dsirState(b2, "text", "doc_id", tgt))
        Curation.dsirScoreWithState(state, b2, "text", "doc_id")
          .select(col("doc_id"), col("n_grams"),
            round(col("log_weight"), 4).as("log_weight"))
      },
      Some(dsirWeightsSql(" WHERE doc_id % 5 = 0"))),

    // DSIR end-to-end: importance weights + seeded Gumbel-top-k
    // resampling — the pair of ops IS the published DSIR pipeline. The
    // oracle refits the whole weight model (unrounded), draws the
    // identical md5-seeded Gumbel noise, and takes the same top-50;
    // a changed hash, smoothing constant, or tie-break surfaces as a
    // different selected set.
    QueryDef("p17_dsir_select",
      (s, dir) => Curation.gumbelTopK(
        Curation.dsirWeights(docs(s, dir), "text", "doc_id",
          col("doc_id") % 3 === 0, buckets = 1024),
        "doc_id", "log_weight", k = 50, seed = 7L),
      Some(s"""WITH ${dsirFitSql("documents")},
             |s AS (SELECT g.doc_id, sum(w.lw) AS lwf
             |  FROM g JOIN w USING (b) GROUP BY 1),
             |sel AS (SELECT doc_id, lwf - ln(-ln(
             |    (('0x' || substr(md5(cast(doc_id AS VARCHAR) || '#7'),
             |               1, 4))::INT + 0.5) / 65536.0)) AS key
             |  FROM s WHERE lwf IS NOT NULL)
             |SELECT doc_id FROM sel
             |ORDER BY key DESC, doc_id LIMIT 50""".stripMargin)),

    // The full selection pipeline, composed end-to-end: a rule cut
    // built from the gopherRules signals trims the raw corpus, DSIR
    // fits on the SURVIVORS and weights them, Gumbel-top-k picks the
    // training subset, epochShuffle assigns the final training order.
    // Every stage is individually gated (t14, t16, p17, p14); this
    // gate proves they compose — the oracle re-derives the entire
    // chain (rule signals → kept set → refit hashed models → identical
    // Gumbel draw → md5 training rank), so a stage leaking dropped
    // docs into the LM fit, or selecting before filtering, breaks it.
    // One threshold is adapted to the corpus: stop_hits >= 1, because
    // the synthetic word-soup docs never carry TWO distinct Gopher
    // stopwords (measured 0/500 at the published >= 2, which would
    // gate an empty pipeline).
    QueryDef("p18_select_pipeline",
      (s, dir) => {
        val sig = TextOps.gopherRules(col("text")).toMap
        val kept = docs(s, dir)
          .filter(sig("n_words").between(50, 100000) &&
            sig("mean_word_len").between(3.0, 10.0) &&
            sig("symbol_ratio") <= 0.1 && sig("bullet_frac") <= 0.9 &&
            sig("ellipsis_frac") <= 0.3 && sig("alpha_frac") >= 0.8 &&
            sig("stop_hits") >= 1)
          .select("doc_id", "text")
        val weights = Curation.dsirWeights(kept, "text", "doc_id",
          col("doc_id") % 3 === 0, buckets = 1024)
        val sel = Curation.gumbelTopK(weights, "doc_id", "log_weight",
          k = 100, seed = 11L)
        Curation.epochShuffle(sel, col("doc_id"), epochs = 1,
            batchSize = 16)
          .select("doc_id", "epoch", "step", "pos_in_batch")
      },
      Some(s"""WITH ln AS (SELECT doc_id, u.l AS line
             |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
             |        FROM documents), unnest(ls) AS u(l)),
             |la AS (SELECT doc_id, count(*) AS n_lines,
             |    sum(CASE WHEN starts_with(line, '- ')
             |          OR starts_with(line, '* ') THEN 1 ELSE 0 END) AS n_bul,
             |    sum(CASE WHEN ends_with(line, '...') THEN 1 ELSE 0 END)
             |      AS n_ell
             |  FROM ln GROUP BY 1),
             |wa AS (SELECT doc_id, len(toks) AS nw,
             |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
             |      AS n_alpha
             |  FROM (SELECT doc_id,
             |      list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             |                  x -> x <> '') AS toks FROM documents)),
             |sig AS (SELECT d.doc_id, d.text, wa.nw,
             |    CASE WHEN wa.nw = 0 THEN 1 ELSE wa.nw END AS wden,
             |    la.n_lines, la.n_bul, la.n_ell, wa.n_alpha,
             |    (length(d.text) - length(replace(d.text, ' ', ''))) AS n_sp,
             |    cast((length(d.text) - length(replace(d.text, '#', ''))) / 1
             |         AS INT)
             |      + cast((length(d.text) - length(replace(d.text, '...', '')))
             |             / 3 AS INT) AS n_sym,
             |    (CASE WHEN contains(' '||lower(d.text)||' ', ' the ')
             |          THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' be ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' to ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' of ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' and ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' that ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' have ')
             |            THEN 1 ELSE 0 END
             |     + CASE WHEN contains(' '||lower(d.text)||' ', ' with ')
             |            THEN 1 ELSE 0 END) AS n_stop
             |  FROM documents d JOIN la USING (doc_id) JOIN wa USING (doc_id)),
             |kept AS (SELECT doc_id, text FROM sig
             |  WHERE nw BETWEEN 50 AND 100000
             |    AND cast(length(text) - n_sp AS DOUBLE) / wden
             |        BETWEEN 3.0 AND 10.0
             |    AND cast(n_sym AS DOUBLE) / wden <= 0.1
             |    AND cast(n_bul AS DOUBLE) / n_lines <= 0.9
             |    AND cast(n_ell AS DOUBLE) / n_lines <= 0.3
             |    AND cast(n_alpha AS DOUBLE) / wden >= 0.8
             |    AND n_stop >= 1),
             |${dsirFitSql("kept")},
             |sc AS (SELECT g.doc_id, sum(w.lw) AS lwf
             |  FROM g JOIN w USING (b) GROUP BY 1),
             |sel AS (SELECT doc_id, lwf - ln(-ln(
             |    (('0x' || substr(md5(cast(doc_id AS VARCHAR) || '#11'),
             |               1, 4))::INT + 0.5) / 65536.0)) AS key
             |  FROM sc WHERE lwf IS NOT NULL),
             |top AS (SELECT doc_id FROM sel
             |  ORDER BY key DESC, doc_id LIMIT 100),
             |r AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY
             |      md5(cast(doc_id AS VARCHAR) || '#0'),
             |      cast(doc_id AS VARCHAR)) - 1 AS r
             |  FROM top)
             |SELECT doc_id, cast(0 AS INT) AS epoch, r // 16 AS step,
             |  r % 16 AS pos_in_batch FROM r""".stripMargin)),

    // Language ID (n-gram/stopword heuristic).
    QueryDef("t01_lang_id",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred")),
      Some(s"SELECT doc_id, $langIdSql AS lang_pred FROM documents")),

    // Quality scoring (length / punctuation / stopword ratios).
    QueryDef("t02_quality_score",
      (s, dir) => {
        val base = docs(s, dir)
        TextOps.qualityMetrics(col("text")).foldLeft(base) {
          case (d, (n, c)) => d.withColumn(n, c)
        }.select("doc_id", "n_chars", "n_words", "n_punct",
          "avg_word_len", "stopword_ratio", "keep")
      },
      Some {
        val pad = "(' ' || lower(text) || ' ')"
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val nStop = Seq("the", "a", "and", "of", "is", "to", "in")
          .map(m => occSql(pad, s" $m ")).mkString(" + ")
        val nPunct = Seq(".", ",", "!", "?").map(occSql("text", _)).mkString(" + ")
        s"""SELECT doc_id,
           |  length(text) AS n_chars,
           |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE $nWords END AS n_words,
           |  $nPunct AS n_punct,
           |  cast(length(text) - ${occSql("text", " ")} AS DOUBLE)
           |    / (CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END) AS avg_word_len,
           |  cast($nStop AS DOUBLE)
           |    / (CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END) AS stopword_ratio,
           |  (length(text) >= 20 AND ($nWords) >= 5
           |   AND (cast(length(text) - ${occSql("text", " ")} AS DOUBLE)
           |        / (CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END))
           |       BETWEEN 1.5 AND 12.0) AS keep
           |FROM documents""".stripMargin
      }),

    // Token counting: whitespace + BPE-ish regex.
    QueryDef("t03_token_count",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("ws_tokens"),
        TextOps.tokenCountBpe(col("text")).as("bpe_tokens")),
      Some("""SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
             |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             |    AS bpe_tokens
             |FROM documents""".stripMargin)),

    // Document fingerprint (normalize + md5).
    QueryDef("t04_fingerprint",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents""".stripMargin)),

    // Winnowing fingerprint sets (rolling k-gram hash + window minima).
    // Hash values are engine-specific, so the gate checks structure:
    // n_grams / n_windows are cross-engine (pure length arithmetic on
    // the normalized text) and the selected-fingerprint count must sit
    // in the winnowing bounds 1 <= |fps| <= min(n_windows, n_grams)
    // (one min per window, dedup across windows, at least one window).
    QueryDef("t05_winnow_fingerprints",
      (s, dir) => {
        val norm = TextOps.normalize(col("text"))
        val nGrams = greatest(length(norm) - 7, lit(1)) // k=8 char grams
        val nWindows = greatest(nGrams - 4, lit(0)) + 1 // w=4 windows
        val fps = TextOps.winnowFingerprints(col("text"))
        docs(s, dir).select(col("doc_id"),
          nGrams.cast("int").as("n_grams"),
          nWindows.cast("int").as("n_windows"),
          (size(fps) >= 1 && size(fps) <= least(nWindows, nGrams))
            .as("fps_bounds_ok"))
      },
      Some("""WITH n AS (
             |  SELECT doc_id,
             |    greatest(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) - 7,
             |             1) AS n_grams
             |  FROM documents)
             |SELECT doc_id, cast(n_grams AS INT) AS n_grams,
             |  cast(greatest(n_grams - 4, 0) + 1 AS INT) AS n_windows,
             |  true AS fps_bounds_ok
             |FROM n""".stripMargin)),

    // Winnowing containment guarantee (Schleimer et al. §2: any shared
    // substring of length >= w + k - 1 = 11 chars shares a fingerprint):
    // every true near-dup pair (exact n-gram Jaccard >= 0.9, computed
    // WITHOUT hashing on both engines) must share at least one winnow
    // fingerprint. The pair set is the cross-engine part; the
    // shares_fingerprint flag is the Spark-side property (true for all
    // rows, enforced because a false would hash-mismatch the oracle).
    QueryDef("t06_winnow_containment",
      (s, dir) => {
        val pairs = Dedup.ngramJaccard(docs(s, dir), "text", "doc_id",
            n = 3, threshold = 0.9, maxDf = Int.MaxValue)
          .select("doc_a", "doc_b")
        val fp = docs(s, dir).select(col("doc_id"),
          TextOps.winnowFingerprints(col("text")).as("fps"))
        pairs
          .join(fp.select(col("doc_id").as("doc_a"), col("fps").as("fps_a")), Seq("doc_a"))
          .join(fp.select(col("doc_id").as("doc_b"), col("fps").as("fps_b")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            (size(array_intersect(col("fps_a"), col("fps_b"))) > 0)
              .as("shares_fingerprint"))
      },
      Some(s"""WITH $trueJaccardSql
              |SELECT doc_a, doc_b, true AS shares_fingerprint
              |FROM truth WHERE jac >= 0.9""".stripMargin)),

    // Multimodal: opaque binary payload + typed metadata.
    QueryDef("m01_media_metadata",
      (s, dir) => Multimodal.attachMedia(docs(s, dir))
        .select("doc_id", "media_type", "n_bytes"),
      Some("""SELECT doc_id,
             |  list_extract(['image','audio','video'], cast(doc_id % 3 AS INT) + 1)
             |    AS media_type,
             |  octet_length(encode(text)) AS n_bytes
             |FROM documents""".stripMargin)),

    // Multimodal: partition-wise stub decode -> feature vectors. The
    // array<float> column is exploded to (dim, feat) scalars: the
    // driver's pandas hasher cannot sort array cells, and the scalar
    // form lets DuckDB replicate stubDecode exactly (per-bucket byte
    // means; double division then float32 cast = same IEEE ops on both
    // engines, so values are bit-identical).
    QueryDef("m02_media_features",
      (s, dir) => Multimodal.extractFeatures(s,
          Multimodal.attachMedia(docs(s, dir))).toDF()
        .select(col("doc_id"), col("media_type"), col("n_frames"),
          posexplode(col("features")))
        .withColumnRenamed("pos", "dim")
        .withColumnRenamed("col", "feat"),
      Some("""WITH enc AS (
             |  SELECT doc_id,
             |    list_extract(['image','audio','video'], cast(doc_id % 3 AS INT) + 1)
             |      AS media_type,
             |    lower(hex(encode(text))) AS h,
             |    octet_length(encode(text)) AS n
             |  FROM documents),
             |dims AS (SELECT cast(unnest(range(8)) AS INT) AS dim),
             |idx AS (SELECT doc_id, h, unnest(range(n)) AS i FROM enc),
             |bytes AS (
             |  SELECT doc_id, cast(i % 8 AS INT) AS dim,
             |    (strpos('0123456789abcdef', substr(h, cast(2*i+1 AS INT), 1)) - 1) * 16
             |    + (strpos('0123456789abcdef', substr(h, cast(2*i+2 AS INT), 1)) - 1) AS b
             |  FROM idx),
             |agg AS (
             |  SELECT doc_id, dim, cast(sum(b) AS DOUBLE) / count(*) AS mean_b
             |  FROM bytes GROUP BY 1, 2)
             |SELECT e.doc_id, e.media_type,
             |  cast(greatest(1, e.n // 64) AS INT) AS n_frames,
             |  d.dim,
             |  cast(coalesce(a.mean_b, 0) AS REAL) AS feat
             |FROM enc e
             |CROSS JOIN dims d
             |LEFT JOIN agg a ON a.doc_id = e.doc_id AND a.dim = d.dim""".stripMargin)),

    // Multimodal: REAL image decode. The fixture synthesizes an actual
    // BMP per document (solid color, dims/color closed-form in doc_id),
    // extractFeatures decodes it with javax.imageio — a production
    // decoder for BMP/PNG, not the stub — and the oracle recomputes the
    // decoded stats from the closed forms. A decoder that misreads the
    // header, padding, or channel order breaks the equality. mean_gray
    // is one correctly-rounded double division on both engines
    // ((r+g+b)·n / 3n vs (r+g+b)/3: same real quotient), then a float
    // cast — bit-identical.
    QueryDef("m04_image_decode",
      (s, dir) => {
        val media = Multimodal.attachSyntheticImages(s, docs(s, dir))
        Multimodal.extractFeatures(s, media).toDF()
          .select(col("doc_id"),
            col("features")(0).as("width"), col("features")(1).as("height"),
            col("features")(2).as("channels"),
            col("features")(3).as("mean_r"), col("features")(4).as("mean_g"),
            col("features")(5).as("mean_b"), col("features")(6).as("mean_gray"),
            col("features")(7).as("n_pixels"))
      },
      Some("""SELECT doc_id,
             |  cast(doc_id % 13 + 1 AS REAL) AS width,
             |  cast(doc_id % 7 + 1 AS REAL) AS height,
             |  cast(3 AS REAL) AS channels,
             |  cast(doc_id % 256 AS REAL) AS mean_r,
             |  cast((doc_id * 7) % 256 AS REAL) AS mean_g,
             |  cast((doc_id * 13) % 256 AS REAL) AS mean_b,
             |  cast(((doc_id % 256) + ((doc_id * 7) % 256)
             |        + ((doc_id * 13) % 256)) / 3.0 AS REAL) AS mean_gray,
             |  cast((doc_id % 13 + 1) * (doc_id % 7 + 1) AS REAL) AS n_pixels
             |FROM documents""".stripMargin)),

    // Multimodal: nearest-neighbor RESIZE over real decoded rasters —
    // the missing member of the decode/feature/resize/frame-sample
    // quartet. Fixture: QUADRANT-color BMPs (split at w/2, h/2, four
    // id-derived colors) so the resized stats are a closed form of how
    // many output rows/columns the floor mapping srcY=⌊y·h/outH⌋ lands
    // in each band — off-by-one, swapped axes, or wrong rounding in
    // the resampler all break the equality (a solid color would hide
    // them). The oracle recomputes both band counts by the same
    // integer arithmetic over range() tables; every mean is one
    // correctly-rounded double division of exact ints on both engines.
    QueryDef("m10_image_resize",
      (s, dir) => {
        val media = Multimodal.attachSyntheticQuadImages(s, docs(s, dir))
        Multimodal.resizeFeatures(s, media, outW = 4, outH = 5).toDF()
          .select(col("doc_id"),
            col("features")(0).as("width"), col("features")(1).as("height"),
            col("features")(2).as("channels"),
            col("features")(3).as("mean_r"), col("features")(4).as("mean_g"),
            col("features")(5).as("mean_b"), col("features")(6).as("mean_gray"),
            col("features")(7).as("n_pixels"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 7 + 1 AS h
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, w, h,
             |    (SELECT count(*) FROM range(5) t(y)
             |     WHERE (t.y * g.h) // 5 < g.h // 2) AS top_n,
             |    (SELECT count(*) FROM range(4) t(x)
             |     WHERE (t.x * g.w) // 4 < g.w // 2) AS left_n
             |  FROM g)
             |SELECT doc_id,
             |  cast(4 AS REAL) AS width,
             |  cast(5 AS REAL) AS height,
             |  cast(3 AS REAL) AS channels,
             |  cast((top_n * left_n * (doc_id % 256)
             |      + top_n * (4 - left_n) * ((doc_id * 3) % 256)
             |      + (5 - top_n) * left_n * ((doc_id * 5) % 256)
             |      + (5 - top_n) * (4 - left_n) * ((doc_id * 29) % 256))
             |    / 20.0 AS REAL) AS mean_r,
             |  cast((top_n * left_n * ((doc_id * 7) % 256)
             |      + top_n * (4 - left_n) * ((doc_id * 11) % 256)
             |      + (5 - top_n) * left_n * ((doc_id * 19) % 256)
             |      + (5 - top_n) * (4 - left_n) * ((doc_id * 31) % 256))
             |    / 20.0 AS REAL) AS mean_g,
             |  cast((top_n * left_n * ((doc_id * 13) % 256)
             |      + top_n * (4 - left_n) * ((doc_id * 17) % 256)
             |      + (5 - top_n) * left_n * ((doc_id * 23) % 256)
             |      + (5 - top_n) * (4 - left_n) * ((doc_id * 37) % 256))
             |    / 20.0 AS REAL) AS mean_b,
             |  cast((top_n * left_n
             |        * ((doc_id % 256) + ((doc_id * 7) % 256) + ((doc_id * 13) % 256))
             |      + top_n * (4 - left_n)
             |        * (((doc_id * 3) % 256) + ((doc_id * 11) % 256) + ((doc_id * 17) % 256))
             |      + (5 - top_n) * left_n
             |        * (((doc_id * 5) % 256) + ((doc_id * 19) % 256) + ((doc_id * 23) % 256))
             |      + (5 - top_n) * (4 - left_n)
             |        * (((doc_id * 29) % 256) + ((doc_id * 31) % 256) + ((doc_id * 37) % 256)))
             |    / 60.0 AS REAL) AS mean_gray,
             |  cast(20 AS REAL) AS n_pixels
             |FROM c""".stripMargin)),

    // Multimodal: REAL audio decode. The fixture synthesizes an actual
    // RIFF/WAVE clip per document (16-bit PCM mono Nyquist square wave,
    // length/rate/amplitude closed-form in doc_id), extractFeatures
    // decodes it with javax.sound.sampled — a production decoder for
    // WAV, not the stub — and the oracle recomputes the decoded stats
    // from the closed forms: max = amp, min = -amp, sum = amp iff the
    // sample count is odd. A decoder that misreads the header, frame
    // size, or sample endianness breaks the equality. All eight stats
    // are integers cast to float — exact on both engines.
    QueryDef("m05_audio_decode",
      (s, dir) => {
        val media = Multimodal.attachSyntheticAudio(s, docs(s, dir))
        Multimodal.extractFeatures(s, media).toDF()
          .select(col("doc_id"),
            col("features")(0).as("sample_rate"), col("features")(1).as("channels"),
            col("features")(2).as("bits"), col("features")(3).as("n_frames"),
            col("features")(4).as("max_amp"), col("features")(5).as("min_amp"),
            col("features")(6).as("sum_amp"), col("features")(7).as("frame_bytes"))
      },
      Some("""SELECT doc_id,
             |  cast(8000 * (doc_id % 4 + 1) AS REAL) AS sample_rate,
             |  cast(1 AS REAL) AS channels,
             |  cast(16 AS REAL) AS bits,
             |  cast(doc_id % 50 + 10 AS REAL) AS n_frames,
             |  cast((doc_id % 1000 + 1) * 30 AS REAL) AS max_amp,
             |  cast(-((doc_id % 1000 + 1) * 30) AS REAL) AS min_amp,
             |  cast(CASE WHEN (doc_id % 50 + 10) % 2 = 1
             |       THEN (doc_id % 1000 + 1) * 30 ELSE 0 END AS REAL) AS sum_amp,
             |  cast(2 AS REAL) AS frame_bytes
             |FROM documents""".stripMargin)),

    // Windowed audio analysis over the REAL WAV fixture: per 16-sample
    // window the exact energy (sum of squared amplitudes) and
    // zero-crossing skeleton. The Nyquist square wave makes every
    // window closed-form — len·amp² energy, len−1 crossings (the
    // window-boundary pair is NOT counted; a decoder that leaks `prev`
    // across windows reports len and breaks the gate), tail windows
    // short. The oracle rebuilds all of it from doc_id arithmetic.
    QueryDef("m09_audio_windows",
      (s, dir) => Multimodal.audioWindows(s,
          Multimodal.attachSyntheticAudio(s, docs(s, dir)), window = 16)
        .toDF(),
      Some("""WITH d AS (SELECT doc_id,
             |    cast(doc_id % 50 + 10 AS INT) AS n,
             |    cast((doc_id % 1000 + 1) * 30 AS BIGINT) AS amp
             |  FROM documents),
             |w AS (SELECT doc_id, cast(u.i AS INT) AS win,
             |    cast(CASE WHEN n - u.i * 16 >= 16 THEN 16
             |         ELSE n - u.i * 16 END AS INT) AS len, amp
             |  FROM d, unnest(range(0, (n + 15) // 16)) AS u(i))
             |SELECT doc_id, win, len AS n_samples,
             |  cast(len * amp * amp AS BIGINT) AS sum_sq,
             |  cast(len - 1 AS INT) AS zero_crossings
             |FROM w""".stripMargin)),

    // Multimodal: REAL video-container metadata decode. The fixture
    // synthesizes an actual AVI (RIFF → LIST hdrl → avih + movi frame
    // chunks, header fields closed-form in doc_id), extractFeatures
    // walks the chunk tree pure-JVM — container metadata is the video
    // operation a 100 TB pipeline runs codec-free (resolution filters,
    // fps histograms, duration sums); only frame-content decode stays
    // with the stub codec tier. A walker that misreads chunk sizes,
    // padding, or the avih field offsets breaks the equality. All
    // eight fields are integers cast to float — exact on both engines.
    QueryDef("m06_video_metadata",
      (s, dir) => {
        val media = Multimodal.attachSyntheticVideos(s, docs(s, dir))
        Multimodal.extractFeatures(s, media).toDF()
          .select(col("doc_id"),
            col("features")(0).as("width"), col("features")(1).as("height"),
            col("features")(2).as("total_frames"),
            col("features")(3).as("usec_per_frame"),
            col("features")(4).as("streams"),
            col("features")(5).as("max_bytes_per_sec"),
            col("features")(6).as("suggested_buffer"),
            col("features")(7).as("flags"))
      },
      Some("""SELECT doc_id,
             |  cast(doc_id % 64 + 16 AS REAL) AS width,
             |  cast(doc_id % 48 + 12 AS REAL) AS height,
             |  cast(doc_id % 8 + 2 AS REAL) AS total_frames,
             |  cast(33000 + (doc_id % 5) * 1000 AS REAL) AS usec_per_frame,
             |  cast(1 AS REAL) AS streams,
             |  cast((doc_id % 64 + 16) * (doc_id % 48 + 12) AS REAL)
             |    AS max_bytes_per_sec,
             |  cast(doc_id % 32 + 4 AS REAL) AS suggested_buffer,
             |  cast(0 AS REAL) AS flags
             |FROM documents""".stripMargin)),

    // Multimodal: REAL container frame extraction — the movi-list walk
    // emits one row per actual AVI frame chunk (index, byte count,
    // unsigned byte sum). The fixture's frame payloads are closed-form
    // ((frame*31 + j) mod 256 at byte j), so the oracle recomputes
    // every frame's stats without a container library. This is the
    // codec-free half of video sampling: the container defines frame
    // boundaries, so sharding/sampling/routing frames needs no decode.
    QueryDef("m07_container_frames",
      (s, dir) => {
        val media = Multimodal.attachSyntheticVideos(s, docs(s, dir))
        Multimodal.extractContainerFrames(s, media).toDF()
      },
      Some("""WITH p AS (SELECT doc_id,
             |    cast(doc_id % 8 + 2 AS INT) AS nf,
             |    cast(doc_id % 32 + 4 AS INT) AS fb FROM documents),
             |f AS (SELECT doc_id, fb, unnest(range(nf)) AS fi FROM p),
             |b AS (SELECT doc_id, fb, fi, unnest(range(fb)) AS j FROM f)
             |SELECT doc_id, cast(fi AS INT) AS frame_idx,
             |  fb AS frame_bytes,
             |  cast(sum((fi * 31 + j) % 256) AS BIGINT) AS byte_sum
             |FROM b GROUP BY doc_id, fi, fb""".stripMargin)),

    // Multimodal: REAL video frame-CONTENT decode. The fixture
    // synthesizes an actual uncompressed AVI per document (BI_RGB
    // 24-bit DIB rasters in '00db' chunks with a full strl stream
    // header; frame colors closed-form in doc_id), and
    // decodeVideoFrames parses the BITMAPINFOHEADER and decodes every
    // raster pure-JVM — bottom-up row order, BGR byte order, 4-byte
    // row stride (doc_id%16+4 widths exercise nonzero stride padding).
    // The oracle recomputes all pixel statistics from the closed
    // forms: a decoder that misreads the stride, channel order, or
    // frame boundaries breaks the equality. Solid-color frames make
    // every mean an exact integer (gray: the m04-proven /3.0 form).
    QueryDef("m08_video_frame_decode",
      (s, dir) => {
        val media = Multimodal.attachSyntheticDibVideos(s, docs(s, dir))
        Multimodal.decodeVideoFrames(s, media).toDF()
      },
      Some("""WITH p AS (SELECT doc_id,
             |    cast(doc_id % 16 + 4 AS INT) AS w,
             |    cast(doc_id % 12 + 3 AS INT) AS h,
             |    cast(doc_id % 5 + 1 AS INT) AS nf FROM documents),
             |f AS (SELECT doc_id, w, h, unnest(range(nf)) AS fi FROM p)
             |SELECT doc_id, cast(fi AS INT) AS frame_idx,
             |  cast(w AS REAL) AS width, cast(h AS REAL) AS height,
             |  cast((doc_id + 11 * fi) % 256 AS REAL) AS mean_r,
             |  cast((7 * doc_id + 17 * fi) % 256 AS REAL) AS mean_g,
             |  cast((13 * doc_id + 23 * fi) % 256 AS REAL) AS mean_b,
             |  cast(((doc_id + 11 * fi) % 256 + (7 * doc_id + 17 * fi) % 256
             |        + (13 * doc_id + 23 * fi) % 256) / 3.0 AS REAL)
             |    AS mean_gray,
             |  cast(w * h AS REAL) AS n_pixels
             |FROM f""".stripMargin)),

    // Multimodal: frame sampling (binary slicing). Full DuckDB oracle:
    // frame lengths are pure integer arithmetic on the payload size
    // (frame_len = max(n/4, 1), last frame truncated, empty frames
    // dropped), so the oracle recomputes them from octet_length alone.
    QueryDef("m03_frame_sample",
      (s, dir) => Multimodal.frameSample(Multimodal.attachMedia(docs(s, dir)), 4)
        .select(col("doc_id"), col("media_type"), col("frame_idx"),
          octet_length(col("frame")).as("frame_bytes")),
      Some("""WITH enc AS (
             |  SELECT doc_id,
             |    list_extract(['image','audio','video'], cast(doc_id % 3 AS INT) + 1)
             |      AS media_type,
             |    octet_length(encode(text)) AS n
             |  FROM documents),
             |f AS (SELECT doc_id, media_type, n, greatest(n // 4, 1) AS fl FROM enc),
             |x AS (SELECT doc_id, media_type, n, fl, unnest(range(4)) AS frame_idx FROM f)
             |SELECT doc_id, media_type, cast(frame_idx AS INT) AS frame_idx,
             |  cast(least(fl, n - frame_idx * fl) AS INT) AS frame_bytes
             |FROM x WHERE least(fl, n - frame_idx * fl) > 0""".stripMargin)),

    // Corpus profiling: per-column row/null/exact-distinct counts,
    // lexicographic min/max, plus a Spark-side self-check that the HLL++
    // approx_count_distinct (the 100 TB path) lands within 10% of exact
    // — the oracle expects that check to hold (TRUE).
    QueryDef("p01_profile_columns",
      (s, dir) => Curation.profileColumns(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      Some(Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  TRUE AS approx_distinct_ok,
           |  min(cast($c AS VARCHAR)) AS min_value,
           |  max(cast($c AS VARCHAR)) AS max_value
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    // Reproducible hash sampling: keep iff the first 16 bits of
    // md5(doc_id) fall under pct * 2^16. Same md5 → same sample in any
    // engine; a pure pushed-down filter in Spark (no shuffle, no rand()).
    QueryDef("p02_sample_hash",
      (s, dir) => Curation.sampleByHash(docs(s, dir), col("doc_id"), 0.1)
        .select("doc_id", "lang", "source"),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 4))::INT
             |      < 6553""".stripMargin)),

    // Stratified exact-k sampling: per (lang, source) stratum the 5 rows
    // with smallest md5(doc_id) — deterministic and engine-replayable.
    QueryDef("p03_sample_stratified",
      (s, dir) => Curation.sampleStratified(docs(s, dir),
        Seq("lang", "source"), col("doc_id"), 5)
        .select("doc_id", "lang", "source"),
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source,
             |    row_number() OVER (PARTITION BY lang, source
             |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents) WHERE rn <= 5""".stripMargin)),

    // Token-budget shard packing: greedy 500-token shards per language,
    // docs in doc_id order. Spark runs the distributed prefix sum
    // (range partition -> per-partition offsets -> bounded windows); the
    // oracle runs the textbook global window — results must be
    // bit-identical.
    QueryDef("p04_shard_pack",
      (s, dir) => Curation.assignShards(docs(s, dir), col("lang"),
        col("doc_id"), TextOps.tokenCountWs(col("text")), 500L)
        .select("doc_id", "lang", "shard"),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
             |  FROM documents)
             |SELECT doc_id, lang,
             |  cast((sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) - tok)
             |       // 500 AS BIGINT) AS shard
             |FROM toks""".stripMargin)),

    // Sequence PACKING positions: shard = training-sequence id under a
    // 512-token context budget, offset = where the document's tokens
    // begin inside that sequence — assignment without materializing
    // packed sequences. Oracle: the same global-window prefix sum,
    // mod/div the budget.
    QueryDef("p15_pack_sequences",
      (s, dir) => Curation.assignShards(docs(s, dir), col("lang"),
        col("doc_id"), TextOps.tokenCountWs(col("text")), 512L)
        .select("doc_id", "lang", "shard", "offset"),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
             |  FROM documents),
             |c AS (SELECT doc_id, lang,
             |    sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) - tok AS cum
             |  FROM toks)
             |SELECT doc_id, lang, cast(cum // 512 AS BIGINT) AS shard,
             |  cast(cum % 512 AS BIGINT) AS offset
             |FROM c""".stripMargin)),

    // COMPOSITION gate for the addendum ops: span-dedup statistics
    // drive corpus filtering (drop docs that are >= half repeated
    // boilerplate) and the survivors get a deterministic training
    // order. Chains d15's full gram→island→span oracle into p14's
    // global-rank oracle — a bug in either op, or in how the filter
    // consumes the span stats, breaks the rank of every downstream
    // row.
    QueryDef("p16_clean_shuffle",
      (s, dir) => {
        val sd = Dedup.dedupSpans(docs(s, dir), "text", "doc_id", l = 8)
        val survivors = sd.filter(col("tokens_removed") * 2 <
          col("n_tokens"))
        Curation.epochShuffle(survivors, col("doc_id"), epochs = 1,
            batchSize = 64)
          .select("doc_id", "n_spans", "tokens_removed", "epoch", "step",
            "pos_in_batch")
      },
      Some(s"""WITH $tokenSpansSql,
             |agg AS (SELECT doc_id, count(*) AS n_spans,
             |    sum(se - ss + 1) AS removed FROM sp GROUP BY doc_id),
             |surv AS (SELECT n.doc_id,
             |    cast(coalesce(agg.n_spans, 0) AS INT) AS n_spans,
             |    cast(coalesce(agg.removed, 0) AS INT) AS tokens_removed
             |  FROM n LEFT JOIN agg USING (doc_id)
             |  WHERE coalesce(agg.removed, 0) * 2 < n.n),
             |r AS (SELECT doc_id, n_spans, tokens_removed,
             |    row_number() OVER (
             |      ORDER BY md5(cast(doc_id AS VARCHAR) || '#0'),
             |               cast(doc_id AS VARCHAR)) - 1 AS r
             |  FROM surv)
             |SELECT doc_id, n_spans, tokens_removed,
             |  cast(0 AS INT) AS epoch, r // 64 AS step,
             |  r % 64 AS pos_in_batch FROM r""".stripMargin)),

    // Per-stratum fraction sampling (deterministic sampleBy analog):
    // rebalance the language mix with per-lang hash thresholds.
    // Leakage-safe train/eval split: split by near-dup COMPONENT, not
    // by row, so no near-duplicate pair ever spans train and eval (the
    // contamination a row-level split bakes in). The oracle recomputes
    // the full chain independently: true-Jaccard pairs >= 0.7 (the
    // d02-gated LSH equivalence), recursive-CTE components, group =
    // component-or-self, then the same md5-threshold draw on the GROUP
    // id (train 90% / eval 10% => 16-bit threshold 58982). Every doc
    // appears exactly once with its group and split — the oracle, not
    // the implementation, proves no group spans splits.
    QueryDef("p13_group_split",
      (s, dir) => Curation.groupAwareSplit(docs(s, dir),
          Dedup.minhashLsh(docs(s, dir), "text", "doc_id")
            .select("doc_a", "doc_b"),
          "doc_id", Seq("train" -> 0.9, "eval" -> 0.1))
        .select("doc_id", "split_group", "split"),
      Some(s"""WITH RECURSIVE $trueJaccardSql,
              |$ccFromTruthSql,
              |g AS (SELECT d.doc_id,
              |        coalesce(c.component, d.doc_id) AS split_group
              |      FROM documents d LEFT JOIN comps c ON c.doc_id = d.doc_id)
              |SELECT doc_id, split_group,
              |  CASE WHEN ('0x' || substr(md5(cast(split_group AS VARCHAR)),
              |                            1, 4))::INT < 58982
              |       THEN 'train' ELSE 'eval' END AS split
              |FROM g""".stripMargin)),

    // Deterministic epoch shuffle + microbatch packing: every epoch
    // reshuffles the corpus by md5(key # epoch) and packs the global
    // order into batches of 64. The oracle computes the same global
    // rank with a plain window row_number — proving the distributed
    // prefix-sum rank (range partition → partition counts → offsets)
    // is bit-identical to the single-window definition while never
    // funneling the corpus through one task.
    QueryDef("p14_epoch_shuffle",
      (s, dir) => Curation.epochShuffle(docs(s, dir), col("doc_id"),
          epochs = 2, batchSize = 64)
        .select("doc_id", "epoch", "step", "pos_in_batch"),
      Some("""WITH e AS (SELECT doc_id, cast(u.e AS INT) AS epoch
             |  FROM documents, unnest(range(0, 2)) AS u(e)),
             |r AS (SELECT doc_id, epoch,
             |    row_number() OVER (PARTITION BY epoch
             |      ORDER BY md5(cast(doc_id AS VARCHAR) || '#' ||
             |                   cast(epoch AS VARCHAR)),
             |               cast(doc_id AS VARCHAR)) - 1 AS r
             |  FROM e)
             |SELECT doc_id, epoch, r // 64 AS step,
             |  r % 64 AS pos_in_batch FROM r""".stripMargin)),

    QueryDef("p08_sample_strata_frac",
      (s, dir) => Curation.sampleByHashStrata(docs(s, dir), col("lang"),
        col("doc_id"), Map("en" -> 0.2, "fr" -> 0.5, "de" -> 1.0))
        .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 4))::INT
             |  < CASE lang WHEN 'en' THEN 13107 WHEN 'fr' THEN 32768
             |              WHEN 'de' THEN 65536 ELSE 0 END""".stripMargin)),

    // Grouped exact length quantiles: Spark `percentile` (linear
    // interpolation) vs DuckDB `quantile_cont` — definitions coincide,
    // so doubles hash identically.
    QueryDef("p05_length_quantiles",
      (s, dir) => Curation.quantiles(docs(s, dir), Seq("lang"), "n_chars",
        Seq(0.25, 0.5, 0.75, 0.9)),
      Some("""SELECT lang, count(*) AS n,
             |  quantile_cont(n_chars, 0.25) AS p25,
             |  quantile_cont(n_chars, 0.50) AS p50,
             |  quantile_cont(n_chars, 0.75) AS p75,
             |  quantile_cont(n_chars, 0.90) AS p90
             |FROM documents GROUP BY lang""".stripMargin)),

    // PII redaction (emails then phones) + audit counts. The regexes
    // stay inside the Java/RE2 common subset so both engines transform
    // identically; the unit spec plants matches, the corpus gate proves
    // cross-engine equivalence on real text.
    QueryDef("t07_redact_pii",
      (s, dir) => {
        val counts = TextOps.piiCounts(col("text"))
          .map { case (n, c) => c.as(n) }
        docs(s, dir).select(
          col("doc_id") +: TextOps.redactPii(col("text")).as("redacted")
            +: counts: _*)
      },
      Some(s"""SELECT doc_id,
              |  regexp_replace(
              |    regexp_replace(text, '${TextOps.emailRegex}', '<EMAIL>', 'g'),
              |    '${TextOps.phoneRegex}', '<PHONE>', 'g') AS redacted,
              |  len(regexp_extract_all(text, '${TextOps.emailRegex}'))
              |    AS n_emails,
              |  len(regexp_extract_all(
              |    regexp_replace(text, '${TextOps.emailRegex}', '<EMAIL>', 'g'),
              |    '${TextOps.phoneRegex}')) AS n_phones
              |FROM documents""".stripMargin)),

    // Corpus heavy hitters: exact top-20 words by frequency. The
    // orderBy+limit plans as TakeOrderedAndProject — each partition
    // keeps its own top-20 and the driver merges 20×partitions rows,
    // never a global sort. Deterministic tie-break (n desc, word asc).
    QueryDef("p07_heavy_hitters",
      (s, dir) => docs(s, dir)
        .select(explode(split(TextOps.normalize(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(20),
      Some("""SELECT word, count(*) AS n
             |FROM (SELECT unnest(string_split(
             |        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
             |      FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)),

    // Token-window chunking (64-token chunks every 32): the word array
    // is computed once per row; chunk rows slice it after one explode.
    QueryDef("t08_chunk_tokens",
      (s, dir) => Curation.chunkTokens(docs(s, dir), "text", "doc_id",
        chunkTokens = 64, stride = 32),
      Some("""WITH norm AS (
             |  SELECT doc_id,
             |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
             |  FROM documents),
             |c AS (SELECT doc_id, w, len(w) AS nw FROM norm),
             |x AS (
             |  SELECT doc_id, w, nw,
             |    unnest(range(CASE WHEN nw <= 64 THEN 1
             |                      ELSE (nw - 64 + 31) // 32 + 1 END)) AS ci
             |  FROM c)
             |SELECT doc_id, cast(ci AS INT) AS chunk_idx,
             |  array_to_string(w[ci*32 + 1 : ci*32 + 64], ' ') AS chunk_text,
             |  cast(least(64, nw - ci*32) AS INT) AS n_tokens
             |FROM x""".stripMargin)),

    // Benchmark decontamination: drop training docs whose normalized
    // fingerprint appears in the eval split (here: the p02 hash
    // sample). Anti-join on uniform md5 keys.
    QueryDef("d07_decontaminate",
      (s, dir) => {
        val evalSet = Curation.sampleByHash(docs(s, dir), col("doc_id"), 0.1)
        Curation.decontaminate(docs(s, dir), evalSet, "text")
          .select("doc_id", "lang")
      },
      Some(exactDecontaminationSql)),

    // End-to-end curation pipeline: quality filter -> exact-dedup
    // winners -> 50% reproducible sample -> token-budget shards. Every
    // stage is individually gated (t02/d01/p02/p04); this gates their
    // COMPOSITION — filters feeding dedup feeding sampling feeding the
    // distributed prefix sum — against one DuckDB transcription.
    QueryDef("p06_curation_pipeline",
      (s, dir) => {
        val keep = TextOps.qualityMetrics(col("text"))
          .find(_._1 == "keep").get._2
        val q = docs(s, dir).filter(keep)
        val winners = q.groupBy(md5(col("text")).as("__h"))
          .agg(min("doc_id").as("doc_id")).drop("__h")
        val kq = q.join(winners, Seq("doc_id"), "left_semi")
        val sampled = Curation.sampleByHash(kq, col("doc_id"), 0.5)
        Curation.assignShards(sampled, col("lang"), col("doc_id"),
          TextOps.tokenCountWs(col("text")), 500L)
          .select("doc_id", "lang", "shard")
      },
      Some {
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        s"""WITH q AS (
           |  SELECT doc_id, lang, text FROM documents
           |  WHERE length(text) >= 20 AND ($nWords) >= 5
           |    AND (cast(length(text) - ${occSql("text", " ")} AS DOUBLE)
           |         / (CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END))
           |        BETWEEN 1.5 AND 12.0),
           |winners AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
           |kq AS (SELECT q.* FROM q JOIN winners USING (doc_id)),
           |s AS (SELECT * FROM kq
           |      WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 4))::INT
           |            < 32768),
           |toks AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
           |  FROM s)
           |SELECT doc_id, lang,
           |  cast((sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) - tok)
           |       // 500 AS BIGINT) AS shard
           |FROM toks""".stripMargin
      }),

    // Bloom-prefiltered decontamination (functions/Bloom distributed
    // sketch + codegen probe + exact confirm of the candidate slice).
    // Same eval split and SAME ORACLE as d07: green proves the Bloom
    // path loses nothing (no false negatives) and the confirm join
    // clears every false positive — i.e. the scale-shape rewrite is
    // result-invisible. FP-rate bound is unit-gated in BloomSpec.
    QueryDef("d08_bloom_decontaminate",
      (s, dir) => {
        val evalSet = Curation.sampleByHash(docs(s, dir), col("doc_id"), 0.1)
        Curation.decontaminateBloom(docs(s, dir), evalSet, "text",
            expectedEvalItems = 10000L, fpp = 0.01)
          .select("doc_id", "lang")
      },
      Some(exactDecontaminationSql)),

    // Gopher-style repetition quality signals (TextOps.repetition):
    // duplicate-word fraction inputs, top-word character mass, top
    // word-bigram count — all integral, replicated exactly in DuckDB
    // via string_split_regex + lateral index pairing.
    QueryDef("t09_repetition_metrics",
      (s, dir) => TextOps.repetition(docs(s, dir), "doc_id", "text"),
      Some("""WITH lw AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
             |  FROM documents),
             |wf AS (
             |  SELECT doc_id, unnest(ws) AS word FROM lw),
             |wff AS (SELECT doc_id, word FROM wf WHERE word <> ''),
             |base AS (
             |  SELECT l.doc_id,
             |    count(w.word) AS n_words,
             |    count(DISTINCT w.word) AS n_distinct_words
             |  FROM lw l LEFT JOIN wff w USING (doc_id) GROUP BY 1),
             |pw AS (SELECT doc_id, word, count(*) AS c FROM wff GROUP BY 1, 2),
             |tw AS (SELECT doc_id, cast(max(c * len(word)) AS BIGINT)
             |         AS top_word_chars FROM pw GROUP BY 1),
             |idx AS (SELECT unnest(generate_series(1,
             |          (SELECT max(len(ws)) FROM lw))) AS i),
             |bg AS (
             |  SELECT l.doc_id, l.ws[i.i] || ' ' || l.ws[i.i + 1] AS bigram
             |  FROM lw l JOIN idx i ON i.i <= len(l.ws) - 1
             |  WHERE l.ws[i.i] <> '' AND l.ws[i.i + 1] <> ''),
             |tb AS (
             |  SELECT doc_id, cast(max(c) AS BIGINT) AS top_bigram_count FROM
             |    (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT b.doc_id, cast(b.n_words AS INT) AS n_words,
             |  cast(b.n_distinct_words AS INT) AS n_distinct_words,
             |  coalesce(tw.top_word_chars, 0) AS top_word_chars,
             |  coalesce(tb.top_bigram_count, 0) AS top_bigram_count
             |FROM base b LEFT JOIN tw USING (doc_id)
             |LEFT JOIN tb USING (doc_id)""".stripMargin)),

    // Approximate sketches under a tolerance gate: HyperLogLog++
    // (approx_count_distinct, rsd 1%) and quantile sketch
    // (approx_percentile) against their exact counterparts computed in
    // the SAME query. The oracle pins the exact anchors and asserts the
    // ok-flags — a sketch drifting out of tolerance flips a boolean and
    // reds the gate. At 100 TB these sketches replace exact
    // countDistinct/percentile shuffles with fixed-size mergeable state.
    QueryDef("p09_approx_sketches",
      (s, dir) => {
        // The exact distinct count runs as its OWN aggregate, joined
        // back on the tiny group key: mixing a distinct aggregate
        // (planned via Expand) with object-buffer sketches
        // (percentile / HLL / approx_percentile) in one aggregation
        // forces a sort-based object aggregate that measured 33x
        // slower at sf0.1 (59 s -> 1.8 s split). Two clean aggregates
        // + a 3-row join is the scale shape.
        val li = Tables.load(s, dir, "lineitem")
        val sketches = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("__hll"),
            expr("percentile(l_quantity, 0.5d)").as("__p50_exact"),
            expr("approx_percentile(l_quantity, 0.5d, 10000)").as("__p50_approx"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("n_distinct_exact"))
        sketches.join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("n_distinct_exact"),
            (abs(col("__hll") - col("n_distinct_exact"))
              .cast("double") / col("n_distinct_exact") <= 0.05).as("hll_ok"),
            (abs(col("__p50_approx") - col("__p50_exact")) <= 0.5).as("p50_ok"))
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_orderkey) AS n_distinct_exact,
             |  true AS hll_ok, true AS p50_ok
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // Z-order clustering (ops/Layout + functions/ZValue codegen Morton
    // interleave): the multi-dimensional layout primitive behind
    // min/max file pruning. The gate checks the curve VALUES bit-exactly
    // against a DuckDB bit-algebra transcription; the layout property
    // (per-partition x/y spans shrink vs a random layout) is unit-gated
    // in LayoutSpec.
    QueryDef("p10_zorder_values",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.ZValue.zValue(
            col("l_partkey") % 256, col("l_suppkey") % 256, bits = 8).as("z")),
      Some {
        val terms = (0 until 8).flatMap(b => Seq(
          s"((((l_partkey % 256) >> $b) & 1) << ${2 * b + 1})",
          s"((((l_suppkey % 256) >> $b) & 1) << ${2 * b})"))
        s"""SELECT l_orderkey, l_linenumber,
           |  cast(${terms.mkString(" | ")} AS BIGINT) AS z
           |FROM lineitem""".stripMargin
      }),

    // TF-IDF top-5 terms per document. The score is one double
    // expression over exact integer counts (tf, df, N) — emitted
    // rounded, ranked on the raw value with a term tie-break. df comes
    // from the collapsed (doc, term) relation, never the raw Zipfian
    // token stream (the d04 rewrite).
    QueryDef("t10_tfidf",
      (s, dir) => TextOps.tfidf(docs(s, dir), "text", "doc_id", topN = 5),
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(string_split(
             |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf
             |       FROM words WHERE term <> '' GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, tf.term AS term, tf.tf AS tf, dfq.df AS df,
             |    tf.tf * ln(cast(n_docs AS DOUBLE) / cast(dfq.df AS DOUBLE)) AS s,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY tf.tf * ln(cast(n_docs AS DOUBLE) / cast(dfq.df AS DOUBLE))
             |        DESC, tf.term) AS rank
             |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n)
             |SELECT doc_id, term, tf, df, round(s, 4) AS score,
             |  cast(rank AS INT) AS rank
             |FROM scored WHERE rank <= 5""".stripMargin)),

    // Per-source document cap — the per-domain cap in web-corpus
    // curation (bound each domain's contribution to the training mix).
    // Deterministic: ordered by (n_chars DESC, doc_id), a total order.
    QueryDef("p11_cap_per_source",
      (s, dir) => Curation.capPerGroup(docs(s, dir),
          Seq(col("source")), Seq(col("n_chars").desc, col("doc_id")), n = 10)
        .select("doc_id", "source", "n_chars"),
      Some("""SELECT doc_id, source, n_chars FROM documents
             |QUALIFY row_number() OVER (PARTITION BY source
             |  ORDER BY n_chars DESC, doc_id) <= 10""".stripMargin)),

    // SemDeDup (Abbas et al.): nearest-centroid clustering, then drop
    // vectors with a smaller-id in-cell neighbor at cosine >= 0.35.
    // Full oracle: centroids are deterministic (first nlist vectors), so
    // DuckDB replays cell assignment (argmax cosine, first-max tie-break
    // = lowest cid; Spark's cell id is the 1-based centroid position,
    // hence cid + 1) and the drop rule verbatim.
    QueryDef("d11_semdedup",
      (s, dir) => Similarity.semDedup(embs(s, dir), threshold = 0.35, nlist = 16),
      Some(s"""WITH ${centSimsSql(16)},
             |cell AS (
             |  SELECT vec_id, cid FROM sims
             |  QUALIFY row_number() OVER (PARTITION BY vec_id
             |    ORDER BY s DESC, cid) = 1),
             |v AS (
             |  SELECT e.vec_id, e.embedding, c.cid
             |  FROM embeddings e JOIN cell c USING (vec_id)),
             |dropped AS (
             |  SELECT DISTINCT b.vec_id
             |  FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35)
             |SELECT v.vec_id, cast(v.cid + 1 AS INT) AS cell
             |FROM v LEFT JOIN dropped d ON v.vec_id = d.vec_id
             |WHERE d.vec_id IS NULL""".stripMargin)),

    // Mixture sampling toward target domain weights under a global token
    // budget (n_chars as the token proxy): over-budget sources are
    // hash-downsampled to rate weight*budget/available, under-budget
    // sources keep everything, unlisted sources drop. Oracle replays the
    // rate computation and the md5-bucket filter exactly.
    QueryDef("p12_mixture_sample",
      (s, dir) => Curation.sampleMixture(docs(s, dir), col("source"),
          col("doc_id"), col("n_chars"),
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
          tokenBudget = 10000L)
        .select("doc_id", "source", "n_chars"),
      Some("""WITH avail AS (
             |  SELECT source AS src, sum(n_chars) AS av
             |  FROM documents GROUP BY 1),
             |rates AS (
             |  SELECT src, cast(floor(least(1.0,
             |    (CASE src WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
             |              WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1
             |              ELSE 0.0 END::DOUBLE * 10000) / av) * 65536) AS INT) AS thr
             |  FROM avail)
             |SELECT d.doc_id, d.source, d.n_chars
             |FROM documents d JOIN rates r ON d.source = r.src
             |WHERE ('0x' || substr(md5(cast(d.doc_id AS VARCHAR)), 1, 4))::INT
             |      < r.thr""".stripMargin)),

    // Temperature-scaled mixture sampling (XLM-R rebalancing): target
    // share q_s ∝ (n_s/N)^α over the DATA's own source distribution —
    // α=0.5 up-samples rare sources. Full oracle: DuckDB recomputes
    // counts, the sqrt-flattened shares, the per-source keep rate, and
    // the same md5-bucket draw (pow(x,0.5) is sqrt in both engines, so
    // every rate is bit-identical; the draw is the p02/p12-proven
    // portable hash).
    QueryDef("p19_temperature_sample",
      (s, dir) => Curation.temperatureSample(docs(s, dir), col("source"),
          col("doc_id"), alpha = 0.5, targetRows = 300L)
        .select("doc_id", "source", "n_chars"),
      Some("""WITH c AS (
             |  SELECT source AS src, cast(count(*) AS DOUBLE) AS n
             |  FROM documents GROUP BY 1),
             |t AS (SELECT sum(n) AS N FROM c),
             |s AS (SELECT src, n, pow(n / (SELECT N FROM t), 0.5) AS p FROM c),
             |z AS (SELECT sum(p) AS Z FROM s),
             |r AS (
             |  SELECT src, cast(floor(least(1.0,
             |    p / (SELECT Z FROM z) * 300 / n) * 65536) AS INT) AS thr
             |  FROM s)
             |SELECT d.doc_id, d.source, d.n_chars
             |FROM documents d JOIN r ON d.source = r.src
             |WHERE ('0x' || substr(md5(cast(d.doc_id AS VARCHAR)), 1, 4))::INT
             |      < r.thr""".stripMargin)),

    // Fixed-weight logistic quality classifier over the t02 heuristics
    // (the deterministic fastText-stand-in of production curation).
    // Score emitted rounded; the keep flag gates on the raw value.
    QueryDef("t11_quality_classifier",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        round(TextOps.qualityScore(col("text")), 4).as("score"),
        (TextOps.qualityScore(col("text")) >= 0.5).as("keep")),
      Some {
        val z = fixedQualityZSql
        s"""SELECT doc_id,
           |  round(1.0 / (1.0 + exp(-($z))), 4) AS score,
           |  (1.0 / (1.0 + exp(-($z)))) >= 0.5 AS keep
           |FROM documents""".stripMargin
      }),

    // TRAINED logistic quality classifier (t20): the other half of the
    // fastText-style curation loop — t11 scores with fixed constants,
    // this one LEARNS the weights by distilling the t02 rule filter's
    // keep flag into a linear model over the same features. Training is
    // full-batch GD: each iteration one distributed avg-aggregate
    // (gradient partial-sums, d+1 doubles of map-side state), the
    // driver takes the η-step — O(d·iters) driver work, never O(rows).
    // Oracle: DuckDB REPLAYS THE ENTIRE TRAINING LOOP — the 10 GD
    // iterations unrolled as chained CTE stages (recursive CTEs
    // disallow aggregates in the recursive term) over the identical
    // feature SQL, then scores with its own trained weights. Two
    // independent mechanizations of both training and scoring; 4dp
    // rounding absorbs summation-order last-bits (t16 float rule), and
    // the sigmoid argument clamps to ±30 in both engines so saturation
    // never reaches exp-overflow territory where they disagree.
    QueryDef("t20_trained_quality",
      (s, dir) => {
        val d = docs(s, dir)
        val keepLabel = TextOps.qualityMetrics(col("text")).toMap.apply("keep")
        val model = TextOps.trainQualityClassifier(d, "text", keepLabel)
        d.select(col("doc_id"),
          round(TextOps.qualityScoreTrained(col("text"), model), 4).as("score"),
          (TextOps.qualityScoreTrained(col("text"), model) >= 0.5).as("keep"))
      },
      Some {
        val pad = "(' ' || lower(text) || ' ')"
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val guard = s"(CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END)"
        val nStop = Seq("the", "a", "and", "of", "is", "to", "in")
          .map(m => occSql(pad, s" $m ")).mkString(" + ")
        val nPunct = Seq(".", ",", "!", "?").map(occSql("text", _)).mkString(" + ")
        val awl = s"(cast(length(text) - ${occSql("text", " ")} AS DOUBLE) / $guard)"
        val feats =
          s"""feats AS (
             |  SELECT doc_id,
             |    ln(1.0 + length(text)) AS f1,
             |    cast($nStop AS DOUBLE) / $guard AS f2,
             |    abs($awl - 5.0) AS f3,
             |    cast($nPunct AS DOUBLE) AS f4,
             |    CASE WHEN length(text) >= 20 AND ($nWords) >= 5
             |          AND $awl BETWEEN 1.5 AND 12.0
             |         THEN 1.0 ELSE 0.0 END AS y
             |  FROM documents)""".stripMargin
        def stage(k: Int): String =
          s"""it$k AS (
             |  SELECT iw0 - 0.5 * avg(d) AS w0, iw1 - 0.5 * avg(d * f1) AS w1,
             |    iw2 - 0.5 * avg(d * f2) AS w2, iw3 - 0.5 * avg(d * f3) AS w3,
             |    iw4 - 0.5 * avg(d * f4) AS w4
             |  FROM (SELECT i.w0 AS iw0, i.w1 AS iw1, i.w2 AS iw2,
             |          i.w3 AS iw3, i.w4 AS iw4, f.f1, f.f2, f.f3, f.f4,
             |          1.0 / (1.0 + exp(-greatest(least(
             |            i.w0 + i.w1*f.f1 + i.w2*f.f2 + i.w3*f.f3 + i.w4*f.f4,
             |            30.0), -30.0))) - f.y AS d
             |        FROM it${k - 1} i, feats f)
             |  GROUP BY iw0, iw1, iw2, iw3, iw4)""".stripMargin
        val zfin = "w.w0 + w.w1*f.f1 + w.w2*f.f2 + w.w3*f.f3 + w.w4*f.f4"
        val sig = s"1.0 / (1.0 + exp(-greatest(least($zfin, 30.0), -30.0)))"
        s"""WITH $feats,
           |it0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
           |        0.0 AS w4),
           |${(1 to 10).map(stage).mkString(",\n")}
           |SELECT f.doc_id, round($sig, 4) AS score, ($sig) >= 0.5 AS keep
           |FROM feats f, it10 w""".stripMargin
      }),

    // UNIGRAM (SentencePiece-style) tokenizer trainer (t21): seed vocab
    // from substring statistics, then hard-EM — E-step a DISTRIBUTED
    // Viterbi-segmentation + piece-count aggregate over the
    // Zipf-bounded word table (one codegen UnigramSegment node, vocab
    // as reference object), M-step a driver-side Laplace re-estimate,
    // O(|vocab|). The INTEGER SKELETON makes the whole loop
    // SQL-replayable: piece costs are fixed-point −round(1e6·ln p)
    // integers, so Viterbi comparisons are exact integer sums in both
    // engines, and Viterbi's ascending-index strict-update tie-break
    // equals ORDER BY (cost, reversed boundary list) over ALL
    // minimum-cost paths — which is how the oracle picks them: DuckDB
    // re-derives the word table, the seed counts, BOTH EM iterations
    // (paths via recursive CTE enumeration, bounded by the ≤12-char /
    // top-200-word gate fixture), and emits the same segmentations and
    // final integer counts. Floats never leave the 1e-6 log grid.
    QueryDef("t21_unigram_tokenizer",
      (s, dir) => {
        import s.implicits._
        val (table, m0) = unigramFixture(s, dir)
        val m1 = TextOps.unigramEmStep(table, m0)
        val m2 = TextOps.unigramEmStep(table, m1)
        val seg = TextOps.unigramSegmentWords(table, m1)
          .select(lit("seg").as("chk"), col("word").as("k"),
            array_join(col("pieces"), " ").as("s"),
            col("freq").cast("long").as("n"))
        val vocabRows = m2.pieces.zip(m2.counts).toSeq.toDF("k", "n")
          .select(lit("vocab").as("chk"), col("k"), lit("").as("s"),
            col("n"))
        seg.unionByName(vocabRows)
      },
      Some {
        // One Viterbi E-step under vocab ${v}: enumerate every piece
        // path (recursive CTE), keep the min-cost path per word with
        // the reversed-bounds tie-break, rebuild pieces from the
        // boundary list, then hard-count + Laplace into vocab ${k}.
        def emStage(k: Int, v: String): String =
          s"""p$k AS (
             |  SELECT w.word, 0 AS pos, cast(0 AS BIGINT) AS cost,
             |    [0] AS bounds
             |  FROM wt w
             |  UNION ALL
             |  SELECT p.word, p.pos + length(v.piece), p.cost + v.cost,
             |    list_append(p.bounds, p.pos + length(v.piece))
             |  FROM p$k p JOIN $v v
             |    ON substr(p.word, p.pos + 1, length(v.piece)) = v.piece
             |  WHERE p.pos < length(p.word)),
             |b$k AS (SELECT word, bounds FROM p$k WHERE pos = length(word)
             |  QUALIFY row_number() OVER (PARTITION BY word
             |    ORDER BY cost, list_reverse(bounds)) = 1),
             |s$k AS (SELECT word,
             |    list_transform(range(2, len(bounds) + 1),
             |      i -> substr(word, bounds[i-1] + 1,
             |                  bounds[i] - bounds[i-1])) AS pieces
             |  FROM b$k),
             |c$k AS (SELECT piece, cast(sum(freq) AS BIGINT) AS cnt FROM (
             |    SELECT w.freq, unnest(sg.pieces) AS piece
             |    FROM s$k sg JOIN wt w USING (word)) GROUP BY 1),
             |v$k AS (SELECT v.piece,
             |    cast(coalesce(c.cnt, 0) + 1 AS BIGINT) AS cnt,
             |    cast(-round(1e6 * ln((coalesce(c.cnt, 0) + 1)::DOUBLE /
             |      (SELECT sum(coalesce(ci.cnt, 0) + 1)::DOUBLE
             |       FROM $v vv LEFT JOIN c$k ci ON vv.piece = ci.piece)))
             |      AS BIGINT) AS cost
             |  FROM $v v LEFT JOIN c$k c ON v.piece = c.piece)""".stripMargin
        s"""WITH RECURSIVE $unigramWordsSql,
           |$unigramSeedSql,
           |$unigramCostSql,
           |${emStage(1, "v0")},
           |${emStage(2, "v1")}
           |SELECT 'seg' AS chk, sg.word AS k,
           |  array_to_string(sg.pieces, ' ') AS s,
           |  cast(w.freq AS BIGINT) AS n
           |FROM s2 sg JOIN wt w USING (word)
           |UNION ALL
           |SELECT 'vocab', piece, '', cnt FROM v2""".stripMargin
      }),

    // TOKENIZER ARTIFACT persistence (t29): the "ship the tokenizer"
    // step — a trained unigram model (t21's fixture, one hard-EM
    // iteration) written as meta+pieces parquet, reloaded, and proven
    // behavior-identical: every word's Viterbi segmentation under the
    // LOADED model equals the in-memory one (integer-cost comparisons,
    // so equality is exact), and every (piece, count, cost) row
    // round-trips. A lost piece, a count/cost swap, or a
    // max_piece_len drop changes segmentations, not just metadata.
    QueryDef("t29_tokenizer_artifact",
      (s, dir) => {
        import s.implicits._
        val (table, m0) = unigramFixture(s, dir)
        val m1 = TextOps.unigramEmStep(table, m0)
        val mDir = "/tmp/graft_gate_unigram_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        IndexIo.Unigram.save(m1, mDir)
        val m2 = IndexIo.Unigram.load(s, mDir)
        val segOk = TextOps.unigramSegmentWords(table, m1)
          .select(col("word"), col("pieces").as("a"))
          .join(TextOps.unigramSegmentWords(table, m2)
            .select(col("word"), col("pieces").as("b")), Seq("word"))
          .select(lit("seg").as("chk"), col("word").as("k"),
            (col("a") === col("b")).as("ok"))
        val inMem = m1.pieces.indices
          .map(i => (m1.pieces(i), m1.counts(i), m1.costInt(i)))
        val vocabOk = inMem.zip(
            m2.pieces.indices.map(i =>
              (m2.pieces(i), m2.counts(i), m2.costInt(i))))
          .map { case (a, b) => (a._1, a == b) }
          .toDF("k", "ok")
          .select(lit("vocab").as("chk"), col("k"), col("ok"))
        segOk.unionByName(vocabOk)
      },
      Some(s"""WITH $unigramWordsSql,
             |subs AS (SELECT substr(w.word, cast(t.i AS INT),
             |      cast(u.l AS INT)) AS piece, w.freq
             |  FROM wt w,
             |    unnest(range(1, length(w.word) + 1)) AS t(i),
             |    unnest(range(1, least(3, length(w.word) - t.i + 1) + 1))
             |      AS u(l)),
             |sc AS (SELECT piece, cast(sum(freq) AS BIGINT) AS cnt
             |  FROM subs GROUP BY 1),
             |v0sel AS (
             |  SELECT piece FROM sc WHERE length(piece) = 1
             |  UNION ALL
             |  SELECT piece FROM (
             |    SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece)
             |      AS rn
             |    FROM sc WHERE length(piece) > 1)
             |  WHERE rn <= 120 - (SELECT count(*) FROM sc
             |                     WHERE length(piece) = 1))
             |SELECT 'seg' AS chk, word AS k, TRUE AS ok FROM wt
             |UNION ALL
             |SELECT 'vocab', piece, TRUE FROM v0sel""".stripMargin)),

    // SOFT-EM unigram E-step + M-step (t28): the lattice
    // forward–backward expectations SentencePiece really trains with
    // (t21 implements the hard/Viterbi approximation). Same fixture
    // and seed vocabulary as t21; probabilities are the exact IEEE
    // quotient cnt/total (no log/exp — libm can't drift), and both
    // engines run the SAME fixed-order recurrences: α ascending with
    // the l=1,2,3 sum left-to-right, β descending likewise (DuckDB
    // recursive CTEs carrying a 3-slot sliding window of lattice
    // values), then E[piece | word] = Σ α(j)·p·β(j+l)/Z over
    // occurrences. Expectations compare on the 6dp grid (t16 float
    // rule absorbs aggregation-order last-bits); the M-step re-counts
    // on the 1e-6 integer lattice + one full Laplace count (t23/t25
    // trained-model discipline), so the UPDATED MODEL matches as exact
    // integers. An off-by-one in either recurrence, a wrong window
    // slot, or a truncated-piece leak at word edges shifts whole
    // posterior rows, not last bits.
    QueryDef("t28_unigram_soft_em",
      (s, dir) => {
        import s.implicits._
        val (table, m0) = unigramFixture(s, dir)
        val expRows = TextOps.unigramExpectWords(table, m0)
          .select(col("word"), explode(col("expect")).as("x"))
          .select(lit("exp").as("chk"), col("word").as("k"),
            col("x.piece").as("p"), round(col("x.e"), 6).as("v"))
        val m1 = TextOps.unigramSoftEmStep(table, m0)
        val vocabRows = m1.pieces.zip(m1.counts).toSeq.toDF("p", "cnt")
          .select(lit("vocab").as("chk"), lit("").as("k"), col("p"),
            col("cnt").cast("double").as("v"))
        expRows.unionByName(vocabRows)
      },
      Some {
        s"""WITH RECURSIVE $unigramWordsSql,
           |$unigramSeedSql,
           |$unigramProbSql,
           |$unigramLatticeSql
           |SELECT 'exp' AS chk, word AS k, piece AS p,
           |  round(sum(e), 6) AS v
           |FROM occ GROUP BY word, piece
           |UNION ALL
           |SELECT 'vocab', '', v.piece,
           |  cast(cast(round(1e6 * coalesce(s.s, 0.0)) AS BIGINT)
           |       + 1000000 AS DOUBLE)
           |FROM v0sel v LEFT JOIN softc s ON v.piece = s.piece""".stripMargin
      }),

    // SentencePiece PHASE-3 vocabulary pruning (t30) — the
    // likelihood-loss step t21/t28 stop short of (Kudo 2018 §3.2):
    // per multi-char piece, e6 = its lattice-expected count on the
    // 1e-6 grid (the t28 E-step) and delta = the fixed-point extra
    // cost of segmenting the piece's own surface WITHOUT it (banning
    // the full-span edge ≡ banning the piece — a piece cannot occur
    // as a proper substring of itself); dropping the piece costs
    // e6·delta, ranked as exact HUGEINT/BigInt products (no float in
    // the ranking anywhere). The pruned vocab keeps every single char
    // plus the top-loss multis to target 90, re-estimated on the
    // integer lattice. The oracle replays ALL of it: the t28
    // forward–backward CTEs for e6, a recursive path enumeration per
    // piece surface with the single-piece path excluded for delta,
    // and the HUGEINT ranking for the survivor set — a wrong
    // alternative cost, a float-ranked tie, or a pruned char all
    // shift whole rows.
    QueryDef("t30_unigram_prune",
      (s, dir) => {
        import s.implicits._
        val (table, m0) = unigramFixture(s, dir)
        val losses = TextOps.unigramPruneLosses(table, m0).toDF("p", "e6", "d")
        val expRows = losses.select(lit("exp").as("chk"),
          col("p").as("k"), col("e6").cast("double").as("v"))
        val deltaRows = losses.select(lit("delta").as("chk"),
          col("p").as("k"), col("d").cast("double").as("v"))
        val m1 = TextOps.unigramPruneStep(table, m0, targetSize = 90)
        val vocabRows = m1.pieces.zip(m1.counts).toSeq.toDF("k", "cnt")
          .select(lit("vocab").as("chk"), col("k"),
            col("cnt").cast("double").as("v"))
        expRows.unionByName(deltaRows).unionByName(vocabRows)
      },
      Some {
        val prune =
          """mp AS (SELECT piece, cost FROM v0 WHERE length(piece) > 1),
            |ap AS (
            |  SELECT piece AS w, 0 AS pos, cast(0 AS BIGINT) AS c,
            |    0 AS np
            |  FROM mp
            |  UNION ALL
            |  SELECT a.w, a.pos + length(v.piece), a.c + v.cost,
            |    a.np + 1
            |  FROM ap a JOIN v0 v
            |    ON substr(a.w, a.pos + 1, length(v.piece)) = v.piece
            |  WHERE a.pos < length(a.w)),
            |alt AS (SELECT w AS piece, min(c) AS altc FROM ap
            |  WHERE pos = length(w) AND np >= 2 GROUP BY w),
            |dl AS (SELECT m.piece,
            |    cast(round(1e6 * coalesce(s.s, 0.0)) AS BIGINT) AS e6,
            |    a.altc - m.cost AS d
            |  FROM mp m JOIN alt a ON a.piece = m.piece
            |  LEFT JOIN softc s ON s.piece = m.piece),
            |keepm AS (SELECT piece FROM (
            |    SELECT piece, row_number() OVER (
            |      ORDER BY cast(e6 AS HUGEINT) * cast(d AS HUGEINT)
            |        DESC, piece) AS rn
            |    FROM dl)
            |  WHERE rn <= 90 - (SELECT count(*) FROM v0
            |                    WHERE length(piece) = 1)),
            |surv AS (SELECT piece FROM v0 WHERE length(piece) = 1
            |  UNION ALL SELECT piece FROM keepm)""".stripMargin
        s"""WITH RECURSIVE $unigramWordsSql,
           |$unigramSeedSql,
           |$unigramProbSql,
           |$unigramCostSql,
           |$unigramLatticeSql,
           |$prune
           |SELECT 'exp' AS chk, piece AS k, cast(e6 AS DOUBLE) AS v
           |FROM dl
           |UNION ALL
           |SELECT 'delta', piece, cast(d AS DOUBLE) FROM dl
           |UNION ALL
           |SELECT 'vocab', sv.piece,
           |  cast(cast(round(1e6 * coalesce(s.s, 0.0)) AS BIGINT)
           |       + 1000000 AS DOUBLE)
           |FROM surv sv LEFT JOIN softc s ON sv.piece = s.piece""".stripMargin
      }),

    // FUZZY decontamination (d19): MinHash matches of the training
    // corpus (doc_id % 7 != 0) against an eval benchmark (% 7 == 0) —
    // the asymmetric broadcast shape where NO train row shuffles
    // (eval's banded table broadcasts; train bands join map-side).
    // Same data-dependent property gate as d02: the planted near-dups
    // all have true J >= 0.9 and nothing else exceeds 0.5, so the LSH
    // candidate set must equal DuckDB's exact all-pairs truth
    // restricted to cross-corpus pairs. est_jaccard is hash-dependent
    // and stays out of the compared columns.
    QueryDef("d19_fuzzy_decontaminate",
      (s, dir) => {
        val d = docs(s, dir)
        Curation.fuzzyContamination(
            d.filter(col("doc_id") % 7 =!= 0),
            d.filter(col("doc_id") % 7 === 0), "text", "doc_id")
          .select("train_id", "eval_id")
      },
      Some(s"""WITH $trueJaccardSql
              |SELECT CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END
              |    AS train_id,
              |  CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END
              |    AS eval_id
              |FROM truth
              |WHERE jac >= 0.7
              |  AND (doc_a % 7 = 0) <> (doc_b % 7 = 0)""".stripMargin)),

    // Okapi BM25 retrieval scoring (t22): full (query, doc) score
    // relation for a fixed query-term table — idf, document-length
    // normalization, N/avgdl as broadcast one-row aggregates. The
    // oracle recomputes every statistic from the raw text and writes
    // the arithmetic with the SAME compound literals ((1.2 + 1.0),
    // (1.0 - 0.75)) so both engines run identical IEEE operations;
    // 4dp rounding absorbs per-group summation order (t16 rule).
    // 'zzz' in q3 proves absent query terms contribute nothing. Top-k
    // cutting composes with the separately-gated bounded TopK (n04).
    QueryDef("t22_bm25",
      (s, dir) => {
        import s.implicits._
        val qt = bm25QueryTerms.toDF("query_id", "term")
        TextOps.bm25(docs(s, dir), "text", "doc_id", qt)
          .select(col("query_id"), col("doc_id"),
            round(col("score"), 4).as("score"), col("n_terms_hit"))
      },
      Some(bm25Sql())),

    // Asymmetric scalar-quantized ANN (n15, the FAISS `SQ8,Flat`
    // shape): corpus held as 1-byte-per-dim codes on a per-dim grid
    // trained by ONE fixed-buffer VectorMinMax aggregate over the full
    // corpus; queries stay float against the on-the-fly-dequantized
    // corpus. Full DuckDB oracle: the grid (exact per-dim extrema),
    // the quantize→dequantize affine (floor(·+0.5) — engine-agnostic
    // rounding, identical expression text), and the top-5 ranking are
    // ALL recomputed from the embeddings table. Ranking by
    // cross-engine double cosine is n01-proven on this data; id
    // tie-break keeps the cut total.
    QueryDef("n15_ann_sq8",
      (s, dir) => sq8Top5(s, dir)(Similarity.sq8TopK(_, _, k = 5, _)),
      Some(sq8Top5Sql)),

    // Incremental sample state (e05): the production-width incremental
    // composition — the mergeable md5-ranked bounded sample that every
    // codec trainer here fits on, maintained per batch instead of
    // rescanning the corpus (the O(d²) moments buffer of e03 is the
    // d ≤ 512 state; THIS is the d = 2048–4096 state). Gate: two batch
    // states (vec_id parity split, cap 128 each) merge at cap 128;
    // the merged membership and rank order must equal DuckDB's
    // top-128-by-(md5(id), id) over the UNION — a dropped batch,
    // double-kept row, or cap applied before ranking breaks it. The
    // fit-equality contract (fit(merged state) == one-shot
    // pcaFitTruncated, bit-identical) is EmbeddingsSpec-pinned.
    // Sign random projection (e06): the Achlioptas ±1 JL transform —
    // the cheap 4x dimension cut (64 -> 16 here) before ANN indexing
    // or near-dup hashing. The projection is a frozen seeded-PRNG
    // artifact (the d05 hyperplane discipline) and a pure per-row
    // fused expression — no shuffle, no training. The gate measures
    // the JL distortion envelope over all 780 pairs of the first 40
    // vectors: E||Py−Px||² = ||y−x||², so every squared-distance
    // ratio must stay inside the k=16 concentration band (measured
    // min 0.21-0.27 / max 1.89-2.32 across the three SF fixtures;
    // pinned with margin at [0.1, 3.0]) and the mean within [0.85,
    // 1.1] (measured 0.94-0.99). Exact linearity, determinism, and
    // the matrix artifact's reproducibility are EmbeddingsSpec-pinned.
    QueryDef("e06_sign_projection",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 40)
        val m = Embeddings.signProjectionMatrix(64, 16)
        val proj = e.select(col("vec_id"),
          col("embedding").as("x"),
          Embeddings.signProject(col("embedding"), m).as("p"))
        def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b,
              (u, v) => (u.cast("double") - v.cast("double")) *
                (u.cast("double") - v.cast("double"))),
            lit(0.0d), (acc, x) => acc + x)
        val pairs = proj.select(col("vec_id").as("ia"), col("x").as("xa"),
            col("p").as("pa"))
          .crossJoin(proj.select(col("vec_id").as("ib"), col("x").as("xb"),
            col("p").as("pb")))
          .filter(col("ia") < col("ib"))
          .select(col("ia"), col("ib"),
            (d2(col("pa"), col("pb")) / d2(col("xa"), col("xb")))
              .as("ratio"))
        pairs.agg(count(lit(1)).as("n_pairs"),
          (min("ratio") >= 0.1 && max("ratio") <= 3.0).as("all_bounded"),
          (avg("ratio") >= 0.85 && avg("ratio") <= 1.1).as("mean_ok"))
      },
      Some("SELECT 780::BIGINT AS n_pairs, TRUE AS all_bounded, " +
        "TRUE AS mean_ok")),

    QueryDef("e05_pca_sample_state_merge",
      (s, dir) => {
        val e = embs(s, dir)
        val merged = Embeddings.mergeSampleStates(
          Embeddings.sampleState(
            e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 128),
          Embeddings.sampleState(
            e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", 128),
          cap = 128)
        // singlePartitionKey: single-partition either way (cap rows);
        // an empty partitionSpec logs the WindowExec warning and a bare
        // lit(0) is constant-folded back to empty
        merged.select(col("id").as("vec_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(graft.engine.Windows.singlePartitionKey(col("id")))
            .orderBy(col("__rk"), col("id"))).as("rk"))
      },
      Some("""SELECT vec_id,
             |  cast(row_number() OVER (
             |    ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id) AS INT) AS rk
             |FROM embeddings
             |QUALIFY rk <= 128""".stripMargin)),

    // IVF,SQ8 composition (n16): the FAISS `IVF{n},SQ8` index — the
    // SQ8 corpus substituted into the IVF skeleton, exactly the
    // substitution the n15 scaladoc promises. Machinery gate in the
    // n06 discipline: probing ALL cells over the dequantized corpus
    // must reproduce the exhaustive SQ8 scan bit-for-bit (a vector
    // lost or duplicated by cell assignment breaks it); the oracle is
    // n15's — IVF probe-all and Flat are the same retrieval.
    QueryDef("n16_ann_ivf_sq8",
      (s, dir) => sq8Top5(s, dir) { (q, e, model) =>
        val dq = e.select(col("vec_id"),
          Embeddings.sq8Roundtrip(col("embedding"), model).as("embedding"))
        Similarity.ivfTopK(q, dq, k = 5, nlist = 16, nprobe = 16)
      },
      Some(sq8Top5Sql)),

    // SEMANTIC decontamination (d20): embedding near-matches of train
    // (vec_id % 9 != 0) against the eval benchmark (% 9 == 0) — the
    // similarity-space channel next to d19's lexical MinHash channel.
    // Asymmetric broadcast shape (eval buckets broadcast, train joins
    // map-side). Full DuckDB oracle via the shared inlined-hyperplane
    // bucket expression (d05 precedent), restricted to cross-corpus
    // pairs. Threshold 0.3 at nPlanes=4: this testdata's embeddings
    // top out near cosine 0.45, so the 0.4/8-plane d05 settings leave
    // the CROSS-corpus gate empty — these keep ~20 genuinely bucketed
    // cross pairs so the gate exercises join + threshold, not
    // empty == empty.
    QueryDef("d20_semantic_decontaminate",
      (s, dir) => {
        val e = embs(s, dir)
        Similarity.semanticContamination(
            e.filter(col("vec_id") % 9 =!= 0),
            e.filter(col("vec_id") % 9 === 0), threshold = 0.3,
            nPlanes = 4)
          .select("train_id", "eval_id")
      },
      Some(s"""WITH v AS (
              |  SELECT vec_id, embedding,
              |    ${Similarity.lshBucketSql("embedding", nPlanes = 4)} AS bucket
              |  FROM embeddings)
              |SELECT a.vec_id AS train_id, b.vec_id AS eval_id
              |FROM v a JOIN v b ON a.bucket = b.bucket
              |  AND a.vec_id % 9 <> 0 AND b.vec_id % 9 = 0
              |WHERE list_cosine_similarity(a.embedding, b.embedding)
              |  >= 0.3""".stripMargin)),

    // Hybrid retrieval via reciprocal-rank fusion (n17): the BM25
    // lexical channel (t22's corpus statistics, cut to top-10 per
    // query by 4dp-rounded score — the rounded value is what t22
    // proves cross-engine-equal, so BOTH engines rank on it) fused
    // with the embedding cosine channel (n01's exact top-10; query
    // q<i> is vector vec_id=i — documents and embeddings share the
    // 0..N id space). The fused score sums one reciprocal per channel
    // (float addition of ≤2 terms is order-free, so raw-double
    // ranking replays exactly); ties rank by doc id. This is the
    // production RAG retrieval shape: channels stay independently
    // bounded top-k, fusion never touches the corpus.
    QueryDef("n17_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
        val lex = TextOps.bm25(docs(s, dir), "text", "doc_id",
            bm25QueryTerms.toDF("query_id", "term"))
          .withColumn("rank", row_number().over(
            w.partitionBy("query_id")
              .orderBy(round(col("score"), 4).desc, col("doc_id"))))
          .filter(col("rank") <= 10)
          .select("query_id", "doc_id", "rank")
        val sem = Similarity.bruteForceTopK(
            embs(s, dir).filter(col("vec_id").isin(1L, 2L, 3L)),
            embs(s, dir), k = 10)
          .select(concat(lit("q"), col("q_id").cast("string")).as("query_id"),
            col("n_id").as("doc_id"), col("rank"))
        Similarity.rrfFuse(Seq(lex, sem), k = 10)
          .select(col("query_id"), col("doc_id"), col("fused_rank"),
            round(col("rrf"), 6).as("rrf"), col("n_channels"))
      },
      Some(s"""WITH ${bm25StatsSql()},
              |bmscore AS (
              |  ${bm25ScoresSql("")}),
              |lex AS (
              |  SELECT query_id, doc_id, row_number() OVER (
              |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
              |  FROM bmscore QUALIFY rank <= 10),
              |sem AS (
              |  SELECT 'q' || cast(q.vec_id AS VARCHAR) AS query_id,
              |    c.vec_id AS doc_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(q.embedding, c.embedding)
              |        DESC, c.vec_id) AS rank
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (1, 2, 3)
              |  QUALIFY rank <= 10),
              |fused AS (
              |  SELECT query_id, doc_id,
              |    sum(1.0 / (60 + rank)) AS rrf, count(*) AS n_channels
              |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
              |  GROUP BY 1, 2)
              |SELECT query_id, doc_id,
              |  row_number() OVER (PARTITION BY query_id
              |    ORDER BY rrf DESC, doc_id) AS fused_rank,
              |  round(rrf, 6) AS rrf, n_channels
              |FROM fused
              |QUALIFY fused_rank <= 10""".stripMargin)),

    // Binary Hamming ANN (n18): sign codes packed 32 dims/word
    // (Similarity.signWords), stage-1 ranking by popcount(xor) —
    // exact INTEGER distances, so the candidate cut replays
    // engine-for-engine with no float in play — then exact cosine
    // re-rank of the 50 fetched candidates (two-stage n09
    // discipline; final ranking cross-engine-double, n01-proven).
    // The oracle re-derives the packed codes from raw embeddings
    // with the same 32-bit-word expression (DuckDB's BIGINT shift
    // rejects bit 63, which is why the words are 32-bit) and replays
    // both stages.
    QueryDef("n18_ann_hamming",
      (s, dir) => Similarity.hammingTopK(
          embs(s, dir).filter(col("vec_id") < 20), embs(s, dir),
          k = 5, rerankK = 50)
        .select("q_id", "n_id", "rank"),
      Some("""WITH codes AS (
             |  SELECT vec_id, embedding,
             |    list_transform(range(0, 2), wi ->
             |      cast(list_sum(list_transform(range(0, 32), bi ->
             |        CASE WHEN embedding[wi * 32 + bi + 1] > 0
             |             THEN (1::BIGINT << cast(bi AS INT))
             |             ELSE 0::BIGINT END)) AS BIGINT)) AS code
             |  FROM embeddings),
             |cand AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY bit_count(xor(q.code[1], c.code[1]))
             |        + bit_count(xor(q.code[2], c.code[2])), c.vec_id) AS cr
             |  FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20
             |  QUALIFY cr <= 50)
             |SELECT cand.q_id, cand.n_id,
             |  row_number() OVER (PARTITION BY cand.q_id
             |    ORDER BY list_cosine_similarity(qe.embedding, ce.embedding)
             |      DESC, cand.n_id) AS rank
             |FROM cand
             |JOIN embeddings qe ON qe.vec_id = cand.q_id
             |JOIN embeddings ce ON ce.vec_id = cand.n_id
             |QUALIFY rank <= 5""".stripMargin)),

    // Incremental image near-dup (d22): the corpus-growth shape for
    // the binary-code tier — only the new batch (doc_id % 3 = 0)
    // builds the band join, the accumulated corpus probes; result =
    // every qualifying pair touching at least one new code. The
    // oracle re-derives codes + bands + the cap on the COMBINED
    // relation (identical to d21's) and keeps pairs with a new
    // member — if the asymmetric join dropped a corpus-corpus pair it
    // should (or leaked one it shouldn't), the sets diverge.
    QueryDef("d22_image_near_dup_incremental",
      (s, dir) => {
        val media = Multimodal.attachSyntheticQuadImages(s, docs(s, dir))
        val codes = Multimodal.imageDHash(s, media)
        Similarity.hammingNearDupPairsIncremental(
            codes.filter(col("doc_id") % 3 === 0),
            codes.filter(col("doc_id") % 3 =!= 0),
            "doc_id", "dhash", maxHamming = 3, maxBucket = 1000)
          .select("doc_a", "doc_b", "hamming")
      },
      Some(dhashPairsSql(" WHERE a.doc_id % 3 = 0 OR b.doc_id % 3 = 0"))),

    // FILTERED ANN (n20): top-k under a metadata predicate — the
    // vector-database staple ("nearest docs WHERE lang='en'"). In the
    // relational formulation this is pure composition: the predicate
    // is a WHERE on the corpus relation, Catalyst pushes it below the
    // cell-assignment projection to the scan, and every retrieval
    // shape (Flat/IVF/PQ/two-stage) accepts the filtered corpus
    // unchanged — no index-side filter machinery to build or get
    // wrong. Machinery gate in the n06 discipline: probe-all IVF over
    // the filtered corpus must equal the filtered exhaustive scan; a
    // vector wrongly dropped or leaked past the predicate by cell
    // routing breaks it.
    QueryDef("n20_ann_filtered",
      (s, dir) => {
        val e = embs(s, dir)
        Similarity.ivfTopK(e.filter(col("vec_id") < 20),
            e.filter(col("label") % 2 === 0), k = 5,
            nlist = 16, nprobe = 16)
          .select("q_id", "n_id", "rank")
      },
      Some("""SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |  row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(q.embedding, c.embedding)
             |      DESC, c.vec_id) AS rank
             |FROM embeddings q JOIN embeddings c
             |  ON q.vec_id <> c.vec_id AND c.label % 2 = 0
             |WHERE q.vec_id < 20
             |QUALIFY rank <= 5""".stripMargin)),

    // GRAPH ANN, saturated-config exactness (n29): the HNSW-regime
    // index — per-cell neighbor lists + batched best-first beam
    // search ([[GraphAnn]]). Machinery gate in the n08 discipline:
    // with one cell, full out-degree, and one expansion round, the
    // beam provably visits every node, so the search must reproduce
    // the exhaustive brute-force scan ROW-FOR-ROW (same fused cosine,
    // same (sim desc, id asc) tie-break — but flowing through the
    // build's edge topology, the entry routing, the frontier heaps,
    // and the serve aggregate). A lost edge, a visited-set slip, or a
    // heap tie-break drift breaks per-row rank equality.
    QueryDef("n29_ann_graph_exact",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val n = e.count().toInt
        val idx = GraphAnn.buildGraphIndex(e, nlist = 1, degree = n - 1,
          crossDegree = 0)
        val graph = GraphAnn.queryGraphIndex(q, idx, k = 5, beam = 5,
            hops = 1, entryProbes = 1)
          .select("q_id", "n_id", "rank")
        val exact = Similarity.bruteForceTopK(q, e, 5)
          .select("q_id", "n_id", "rank")
        val joint = exact.withColumnRenamed("rank", "rank_exact")
          .join(graph.withColumnRenamed("rank", "rank_graph"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_exact") === col("rank_graph"), 1).otherwise(0)))
            .as("beam_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS beam_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // GRAPH over PQ codes (n34) — the DiskANN/HNSW-PQ shape: the n29
    // walk with the serve path never touching a float corpus vector
    // (candidates rank by codegen ADC against stored byte codes; the
    // node table holds m bytes + a neighbor list per vector).
    // Machinery gate in the n29/n08 discipline: saturated config must
    // reproduce the exhaustive compressed scan (pqTopK, same
    // deterministic first-ks codebook, same adc-asc/id tie-break)
    // ROW-FOR-ROW — an encode/ADC asymmetry, a dropped code column,
    // or a heap sign slip breaks per-row rank equality.
    QueryDef("n34_ann_graph_pq",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val n = e.count().toInt
        val idx = GraphAnn.buildGraphPqIndex(e, nlist = 1, degree = n - 1,
          crossDegree = 0, m = 16, ks = 64)
        val graph = GraphAnn.queryGraphPqIndex(q, idx, k = 5, beam = 5,
            hops = 1, entryProbes = 1)
          .select("q_id", "n_id", "rank")
        val base = Similarity.pqTopK(q, e, 5, m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(graph.withColumnRenamed("rank", "rank_graph"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_graph"), 1).otherwise(0)))
            .as("adc_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS adc_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // OPQ ∘ graph composition (n36): the n28 trained rotation threads
    // through the graph-PQ index — corpus rotates through the learned
    // basis, then cells/edges/codes are all built in rotated space,
    // and the serve rotates queries through the SAME model before
    // routing. At saturated config (one cell, full out-degree, one
    // expansion round) the walk visits everything, so the graph serve
    // must reproduce the EXHAUSTIVE rotated-space ADC scan
    // ([[Similarity.pqTopK]] over the rotated corpus with the same
    // trained codebook) row-for-row: any basis mismatch anywhere in
    // the chain — codes encoded unrotated, queries routed unrotated,
    // the codebook paired with the wrong space — breaks rank equality
    // immediately.
    QueryDef("n36_ann_graph_opq",
      (s, dir) => {
        val e = embs(s, dir)
        val n = e.count().toInt
        val (model, cb) = canonicalOpq(s, dir)
        val idx = GraphAnn.buildGraphPqIndex(e, nlist = 1,
          degree = n - 1, crossDegree = 0, m = 16, ks = 64,
          codebook = Some(cb), rotation = Some(model))
        val graph = GraphAnn.queryGraphPqIndex(
            e.filter(col("vec_id") < 20), idx, k = 5, beam = 5,
            hops = 1, entryProbes = 1)
          .select("q_id", "n_id", "rank")
        val rot = Similarity.rotateToBasis(e, model)
        val base = Similarity.pqTopK(rot.filter(col("vec_id") < 20),
            rot, 5, m = 16, ks = 64, codebook = Some(cb))
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(graph.withColumnRenamed("rank", "rank_graph"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_graph"), 1).otherwise(0)))
            .as("opq_adc_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS opq_adc_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // HNSW over PQ codes with the OPQ rotation threaded (n42): the
    // layered analog of n34+n36 — the hierarchy navigates, candidates
    // rank by ADC against stored byte codes, the serve never touches
    // a float corpus vector, and the whole index lives in the trained
    // rotated basis. At saturated config (one cell, full out-degree,
    // one layer-0 expansion round) the walk visits everything from
    // any descended entry, so the layered ADC serve must reproduce
    // the EXHAUSTIVE rotated-space compressed scan row-for-row.
    QueryDef("n42_ann_hnsw_pq",
      (s, dir) => {
        val e = embs(s, dir)
        val n = e.count().toInt
        val (model, cb) = canonicalOpq(s, dir)
        val idx = GraphAnn.buildHnswPqIndex(e, nlist = 1,
          degree = n - 1, crossDegree = 0, levelFanout = 8,
          maxLevel = 2, m = 16, ks = 64, codebook = Some(cb),
          rotation = Some(model))
        val hnsw = GraphAnn.queryHnswPqIndex(
            e.filter(col("vec_id") < 20), idx, k = 5, beam = 5,
            hops = 1, upperBeam = 1, upperHops = 1)
          .select("q_id", "n_id", "rank")
        val rot = Similarity.rotateToBasis(e, model)
        val base = Similarity.pqTopK(rot.filter(col("vec_id") < 20),
            rot, 5, m = 16, ks = 64, codebook = Some(cb))
          .select("q_id", "n_id", "rank")
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(hnsw.withColumnRenamed("rank", "rank_hnsw"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_hnsw"), 1).otherwise(0)))
            .as("layered_adc_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS layered_adc_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // HNSW-PQ persistence (n43): the n32 round-trip discipline for
    // the layered compressed tier, with the OPQ model riding along —
    // build (rotated) → save → reload → serve must reproduce the
    // pre-save serve ROW-FOR-ROW. Everything that could drift is on
    // the disk path: codes, per-layer adjacency, levels, codebook,
    // the rotation matrices, and the layer parameters.
    QueryDef("n43_hnsw_pq_persist",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val (model, cb) = canonicalOpq(s, dir)
        val idx = GraphAnn.buildHnswPqIndex(e, nlist = 16, degree = 6,
          crossDegree = 2, levelFanout = 8, maxLevel = 2, m = 16,
          ks = 64, codebook = Some(cb), rotation = Some(model))
        val idxDir = "/tmp/graft_gate_hnswpqidx_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        IndexIo.HnswPq.save(idx, idxDir)
        val loaded = IndexIo.HnswPq.load(s, idxDir)
        // ONE hop per layer, the n53 argument: the pin is round-trip
        // EQUALITY (pre-save vs reloaded serve over identical state),
        // which is hop-count-independent — extra hops only re-walk the
        // same tables through more iterative join rounds in a
        // driver-job-bound gate (cpu/wall ≈ 0.6 at hops 2).
        def search(i: GraphAnn.HnswPqIndex) =
          GraphAnn.queryHnswPqIndex(q, i, k = 5, beam = 3, hops = 1,
            upperBeam = 1, upperHops = 1).select("q_id", "n_id", "rank")
        // the pre-save and reloaded serve walks are independent eager
        // chains — overlap them (par2 doc)
        val (base, got) = par2(search(idx), search(loaded))
        base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_loaded"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_loaded"), 1).otherwise(0)))
            .as("roundtrip_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS roundtrip_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Layered-index health stats (n45): the n26 re-train trigger for
    // the HNSW tier — per-layer member counts, cell usage, and the
    // degree envelope from one aggregate over the adjacency table.
    // Built over the PINNED first 500 vec_ids (the straddle-fixture
    // discipline): levels are xxhash64-determined by id alone and the
    // cell/degree envelope saturates at this size on every SF's
    // embeddings, so the per-layer statistics are fixture constants
    // the oracle pins outright — a drifted count means the level
    // rule, the grid coarsening, or the edge rule changed.
    QueryDef("n45_hnsw_index_stats",
      (s, dir) => {
        val idx = GraphAnn.buildHnswIndex(
          embs(s, dir).filter(col("vec_id") < 500), nlist = 16,
          degree = 4, crossDegree = 2, levelFanout = 4, maxLevel = 2)
        GraphAnn.hnswIndexStats(idx)
          .select(col("layer"), col("n_members"), col("n_cells_used"),
            col("min_degree"), col("max_degree"),
            round(col("avg_degree"), 6).as("avg_degree"))
      },
      Some("""SELECT * FROM (VALUES
             |  (0, 500::BIGINT, 16::BIGINT, 6, 6, 6.0),
             |  (1, 124::BIGINT,  4::BIGINT, 6, 6, 6.0),
             |  (2,  37::BIGINT,  1::BIGINT, 6, 6, 6.0))
             |  t(layer, n_members, n_cells_used, min_degree,
             |    max_degree, avg_degree)""".stripMargin)),

    // Filtered layered ANN (n44): metadata-predicated retrieval at
    // the layered tier (the filtered-DiskANN shape) — the walk
    // navigates the FULL graph (disallowed nodes remain waypoints;
    // filtering the walk itself strands queries whose allowed region
    // sits behind disallowed territory), and only the final top-k
    // collection is restricted. At saturated config the walk scores
    // everything, so the filtered serve must equal the exact top-5
    // over the allowed corpus — n20's oracle verbatim.
    QueryDef("n44_ann_hnsw_filtered",
      (s, dir) => {
        val e = embs(s, dir)
        val n = e.count().toInt
        val idx = GraphAnn.buildHnswIndex(e, nlist = 1, degree = n - 1,
          crossDegree = 0, levelFanout = 8, maxLevel = 2)
        GraphAnn.queryHnswIndexFiltered(e.filter(col("vec_id") < 20),
            idx, e.filter(col("label") % 2 === 0).select("vec_id"),
            k = 5, beam = 5, hops = 1, upperBeam = 1, upperHops = 1)
          .select("q_id", "n_id", "rank")
      },
      Some("""SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |  row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(q.embedding, c.embedding)
             |      DESC, c.vec_id) AS rank
             |FROM embeddings q JOIN embeddings c
             |  ON q.vec_id <> c.vec_id AND c.label % 2 = 0
             |WHERE q.vec_id < 20
             |QUALIFY rank <= 5""".stripMargin)),

    // GRAPH ANN recall vs IVF at matched budget (n31) — on the
    // [[straddleFixture]] (pinned, scale-factor-independent; see the
    // helper's doc), both sides use the SAME 16 cells: IVF probes its
    // 1 nearest (≈31 candidates — more probes would double its
    // budget); the graph walks the SAME partition with hash-spread
    // entries + cross-cell edges, crossing the boundary adaptively
    // (diagnosed: 17/20 queries straddle 2 cells). Measured: graph
    // 75/100 hits with max 23 visited vs IVF 63/100 with min 26
    // candidates — strictly better recall at a strictly smaller
    // PER-QUERY budget (budget_ok pins n_visited ≤ that query's IVF
    // candidate count). Booleans summarize the per-run integers; the
    // oracle pins them.
    QueryDef("n31_ann_graph_recall",
      (s, dir) => {
        val (corpus, cells, q) = straddleFixture(s, dir)
        val exact = Similarity.bruteForceTopK(q, corpus, 5)
          .select("q_id", "n_id")
        val ivf = Similarity.ivfTopK(q, corpus, 5, nlist = 16, nprobe = 1,
            centroids = Some(cells)).select("q_id", "n_id")
        // IVF's actual candidate budget: rows surviving the probe join
        val ivfCands = q.select(col("vec_id").as("q_id"),
            explode(graft.functions.Centroids.centroidProbes(
              col("embedding"), cells, 1)).as("cell"))
          .join(corpus.select(
            graft.functions.Centroids.centroidAssign(
              col("embedding"), cells).as("cell")), Seq("cell"))
          .groupBy("q_id").agg(count(lit(1)).as("n_cand"))
        val idx = GraphAnn.buildGraphIndex(corpus, nlist = 16, degree = 4,
          crossDegree = 2, centroids = Some(cells))
        val graph = GraphAnn.queryGraphIndex(q, idx, k = 5, beam = 2,
          hops = 2, entryProbes = 1)
        def hits(approx: org.apache.spark.sql.DataFrame) =
          exact.join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"))
            .count()
        // independent scalar counts — overlap them (par2 doc)
        val Seq(nq, hG, hI, over) = parSeq[Long](Seq(
          () => q.count(), () => hits(graph), () => hits(ivf),
          () => graph.select(col("q_id"), col("n_visited"))
            .distinct()
            .join(ivfCands, Seq("q_id"))
            .filter(col("n_visited") > col("n_cand")).count()))
        val s2 = s
        import s2.implicits._
        Seq((nq, hG > hI, over == 0))
          .toDF("nq", "graph_beats_ivf", "budget_ok")
      },
      Some("SELECT 20::BIGINT AS nq, TRUE AS graph_beats_ivf, " +
        "TRUE AS budget_ok")),

    // ROBUSTPRUNE EDGE DIVERSIFICATION (n35) — the Vamana/DiskANN
    // claim measured on the [[straddleFixture]] (same pinned geometry
    // as n31): at EQUAL out-degree budget (degree 3 + cross 1) and
    // the IDENTICAL serve (k=5, beam=2, hops=3, entryProbes=1), the
    // α-pruned build must strictly beat the plain-kNN build on recall
    // AND use no more per-query candidates. kNN edges cluster — a
    // node's 3 nearest are mutual neighbors of each other, so a
    // low-degree walk stalls inside its starting clump; α-pruning
    // spends the same 4 edges on directionally diverse targets.
    // Measured at the pinned fixture: pruned 85/100 hits (max 23
    // visited) vs kNN 71/100 (max 25) at α=1.4 — a 14-point recall
    // win at a strictly smaller budget. Booleans summarize the
    // per-run integers; the oracle pins them.
    QueryDef("n35_ann_graph_pruned",
      (s, dir) => {
        val (corpus, cells, q) = straddleFixture(s, dir)
        val exact = Similarity.bruteForceTopK(q, corpus, 5)
          .select("q_id", "n_id")
        def serve(alpha: Option[Double]) = {
          val idx = GraphAnn.buildGraphIndex(corpus, nlist = 16,
            degree = 3, crossDegree = 1, centroids = Some(cells),
            alpha = alpha)
          GraphAnn.queryGraphIndex(q, idx, k = 5, beam = 2, hops = 3,
            entryProbes = 1)
        }
        // the kNN and α-pruned build+serve chains are independent
        // eager pipelines — overlap them (par2 doc), then the scalar
        // counts
        val (knn, pruned) = par2(serve(None), serve(Some(1.4)))
        def hits(approx: org.apache.spark.sql.DataFrame) =
          exact.join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"))
            .count()
        def maxVisited(r: org.apache.spark.sql.DataFrame) =
          r.select("q_id", "n_visited").distinct()
            .agg(max("n_visited")).head().getLong(0)
        val Seq(nq, hP, hK, mvP, mvK) = parSeq[Long](Seq(
          () => q.count(), () => hits(pruned), () => hits(knn),
          () => maxVisited(pruned), () => maxVisited(knn)))
        val s2 = s
        import s2.implicits._
        Seq((nq, hP > hK, mvP <= mvK))
          .toDF("nq", "pruned_beats_knn", "budget_ok")
      },
      Some("SELECT 20::BIGINT AS nq, TRUE AS pruned_beats_knn, " +
        "TRUE AS budget_ok")),

    // GRAPH INDEX persistence (n32): the n21 write_index/read_index
    // discipline for the graph tier — build → save (meta/cells/
    // entries/nodes parquet) → reload → search must reproduce the
    // pre-save search ROW-FOR-ROW (neighbor lists, entry sets, and
    // build parameters all survive the round-trip byte-faithfully or
    // ranks drift).
    QueryDef("n32_graph_index_persist",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val idx = GraphAnn.buildGraphIndex(e, nlist = 16, degree = 6,
          crossDegree = 2)
        val idxDir = "/tmp/graft_gate_graphidx_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        IndexIo.Graph.save(idx, idxDir)
        val loaded = IndexIo.Graph.load(s, idxDir)
        def search(i: GraphAnn.GraphIndex) =
          GraphAnn.queryGraphIndex(q, i, k = 5, beam = 3, hops = 2)
            .select("q_id", "n_id", "rank")
        // the pre-save and reloaded serve walks are independent eager
        // chains — overlap them (par2 doc)
        val (base, got) = par2(search(idx), search(loaded))
        val joint = base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_loaded"),
            Seq("q_id", "n_id"), "full")
        joint.groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_loaded"), 1).otherwise(0)))
            .as("roundtrip_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS roundtrip_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // GRAPH INDEX append (n33): corpus growth for the graph tier —
    // stronger than n22's query-equivalence: append must equal the
    // from-scratch rebuild over the union as an INDEX (every node's
    // neighbor list and every cell's entry set identical). The
    // equality is structural, not statistical: a stored neighbor list
    // is the union of disjoint intra/cross top-k pools, the split
    // reconstructs from the neighbors' home cells, and
    // topK(pool ∪ batch) = topK(topK(pool) ∪ batch) by heap
    // dominance — so only the batch and the members of cells it
    // touches are reworked, and the result must still match the full
    // rebuild node-for-node. Routing stays frozen (cells from the
    // base build, which the vec_id<16 seeds keep inside the base
    // half, so both paths train identical cells).
    QueryDef("n33_graph_index_append",
      (s, dir) => {
        val e = embs(s, dir)
        val base = e.filter(col("vec_id") < 400)
        val batch = e.filter(col("vec_id") >= 400 && col("vec_id") < 500)
        // the append chain and its rebuild oracle are independent
        // eager pipelines — overlap them (par2 doc)
        val (appended, rebuilt) = par2(
          GraphAnn.appendToGraphIndex(
            GraphAnn.buildGraphIndex(base, nlist = 16, degree = 5,
              crossDegree = 2), batch),
          GraphAnn.buildGraphIndex(
            e.filter(col("vec_id") < 500), nlist = 16, degree = 5,
            crossDegree = 2))
        val nodesOk = appended.nodes
          .select(col("n_id"), col("neighbors").as("nb_app"))
          .join(rebuilt.nodes
            .select(col("n_id"), col("neighbors").as("nb_full")),
            Seq("n_id"), "full")
          .select(col("n_id"),
            (col("nb_app") === col("nb_full")).as("append_exact"))
        val entriesOk = appended.entries
          .select(col("cell"), col("entry_id")).withColumn("__a", lit(1))
          .join(rebuilt.entries.select(col("cell"), col("entry_id"))
            .withColumn("__m", lit(1)), Seq("cell", "entry_id"), "full")
          .agg((count(lit(1)) === sum(col("__m")) &&
            count(lit(1)) === sum(col("__a"))).as("append_exact"))
          .select(lit(-1L).as("n_id"), col("append_exact"))
        nodesOk.unionByName(entriesOk)
      },
      Some("""SELECT vec_id AS n_id, TRUE AS append_exact
             |FROM embeddings WHERE vec_id < 500
             |UNION ALL SELECT -1, TRUE""".stripMargin)),

    // GRAPH INDEX delete (n37): the other half of the n33 lifecycle —
    // FreshDiskANN's consolidation contract done EXACTLY. Stored
    // edges cannot be merged on delete under either edge rule (a
    // deleted neighbor's replacement is the (k+1)-th pool member the
    // stored top-k dropped), so affected nodes — home or second cell
    // among the deleted nodes' home cells — re-run the build rule
    // against the remaining members; everything else carries over
    // verbatim. The gate deletes a fifth of the corpus (seeds kept so
    // both paths route identically) and pins node-for-node and
    // entry-set equality with the from-scratch build over the
    // remaining vectors.
    QueryDef("n37_graph_index_delete",
      (s, dir) => {
        val e = embs(s, dir)
        val all = e.filter(col("vec_id") < 500)
        val delCond = col("vec_id") >= 20 && col("vec_id") % 5 === 3
        // the delete chain and its rebuild oracle are independent
        // eager pipelines — overlap them (par2 doc)
        val (deleted, rebuilt) = par2(
          GraphAnn.deleteFromGraphIndex(
            GraphAnn.buildGraphIndex(all, nlist = 16, degree = 5,
              crossDegree = 2),
            all.filter(delCond).select("vec_id")),
          GraphAnn.buildGraphIndex(all.filter(!delCond),
            nlist = 16, degree = 5, crossDegree = 2))
        val nodesOk = deleted.nodes
          .select(col("n_id"), col("neighbors").as("nb_del"))
          .join(rebuilt.nodes
            .select(col("n_id"), col("neighbors").as("nb_full")),
            Seq("n_id"), "full")
          .select(col("n_id"),
            (col("nb_del") === col("nb_full")).as("delete_exact"))
        val entriesOk = deleted.entries
          .select(col("cell"), col("entry_id")).withColumn("__a", lit(1))
          .join(rebuilt.entries.select(col("cell"), col("entry_id"))
            .withColumn("__m", lit(1)), Seq("cell", "entry_id"), "full")
          .agg((count(lit(1)) === sum(col("__m")) &&
            count(lit(1)) === sum(col("__a"))).as("delete_exact"))
          .select(lit(-1L).as("n_id"), col("delete_exact"))
        nodesOk.unionByName(entriesOk)
      },
      Some("""SELECT vec_id AS n_id, TRUE AS delete_exact
             |FROM embeddings
             |WHERE vec_id < 500 AND NOT (vec_id >= 20 AND vec_id % 5 = 3)
             |UNION ALL SELECT -1, TRUE""".stripMargin)),

    // INDEX REFRESH POLICY (n30): the decision loop closing the
    // grow-by-append lifecycle — n22's append + the self-ADC
    // distortion monitor + retrain composed into a policy whose
    // integer/boolean trace the oracle pins. Two in-distribution
    // batches append without triggering (their distortion stays under
    // 2× the trained baseline); the third batch is planted drift
    // (vectors scaled 3× — cosine-invariant routing, but residuals
    // blow past the codebook's trained range), which must breach the
    // threshold, trigger a retrain (distributed Lloyd + residual-PQ
    // on the accumulated corpus — trainers that ADAPT, not the
    // frozen first-N gate scheme), and provably cut the breaching
    // batch's distortion. A policy that fires on in-distribution
    // noise, misses the drift, or "retrains" without recovering
    // breaks a literal row.
    QueryDef("n30_index_refresh_policy",
      (s, dir) => {
        val e = embs(s, dir)
        val base = e.filter(col("vec_id") < 300)
        val b1 = e.filter(col("vec_id") >= 300 && col("vec_id") < 380)
        val b2 = e.filter(col("vec_id") >= 380 && col("vec_id") < 420)
        val b3 = e.filter(col("vec_id") >= 420 && col("vec_id") < 500)
          .select(col("vec_id"),
            expr("transform(embedding, x -> x * cast(3.0 as float))")
              .as("embedding"))
        Similarity.refreshPolicy(base, Seq(b1, b2, b3))
      },
      Some("""SELECT * FROM (VALUES
             |  (1, 80::BIGINT, 380::BIGINT, FALSE, TRUE),
             |  (2, 40::BIGINT, 420::BIGINT, FALSE, TRUE),
             |  (3, 80::BIGINT, 500::BIGINT, TRUE, TRUE))
             |  t(batch_id, n_appended, n_total, retrained, recovered)"""
        .stripMargin)),

    // Image perceptual hash (m11): dHash over REAL decoded rasters —
    // the visual near-dup signature feeding the Hamming machinery
    // (n18). Fixture: the m10 quadrant BMPs, whose NN-downsampled
    // 9×8 gray grid is a closed form of the floor mapping + quadrant
    // colors; the oracle recomputes every cell's integer r+g+b sum,
    // replays the per-row gray(x) > gray(x+1) comparisons, and packs
    // bits 32/word (n18's convention — shifts stay ≤ 31). All
    // integers end-to-end: a resampler off-by-one, swapped axes, or a
    // bit-order slip breaks equality exactly.
    QueryDef("m11_image_dhash",
      (s, dir) => {
        val media = Multimodal.attachSyntheticQuadImages(s, docs(s, dir))
        Multimodal.imageDHash(s, media)
          .select(col("doc_id"), col("dhash")(0).as("w0"),
            col("dhash")(1).as("w1"))
      },
      Some(s"""WITH $dhashCodesSql
              |SELECT doc_id, w0, w1 FROM codes""".stripMargin)),

    // Image NEAR-DUP pairs (d21): the end-to-end visual dedup pass —
    // m11's dHash codes through the banded Hamming pair generator
    // (`Similarity.hammingNearDupPairs`): 16-bit band chunks bucket
    // candidates (pigeonhole-exact at maxHamming=3 over 4+ bands),
    // only candidates pay the full Hamming distance. Exact integers
    // end-to-end; the oracle re-derives the codes (shared m11
    // fragment), re-bands them, replays the deterministic bucket cap
    // (the fixture's blank-ish images pile thousands of identical
    // codes into the zero bands at larger SF — exactly the degenerate
    // case the cap exists for), and replays pair generation +
    // distance.
    QueryDef("d21_image_near_dup",
      (s, dir) => {
        val media = Multimodal.attachSyntheticQuadImages(s, docs(s, dir))
        Similarity.hammingNearDupPairs(
            Multimodal.imageDHash(s, media), "doc_id", "dhash",
            maxHamming = 3, maxBucket = 1000)
          .select("doc_a", "doc_b", "hamming")
      },
      Some(dhashPairsSql())),

    // Video scene-cut detection (m13): per-video lag window over the
    // REAL DIB-frame decode — a cut is an intensity jump
    // |gray(f)−gray(f−1)| ≥ 60 with gray the exact r+g+b mean sum
    // (solid fixture frames make every mean an exact integer, so the
    // float delta is exact and both engines agree bit-for-bit). The
    // oracle replays the frame colors from the fixture arithmetic and
    // the same lag.
    QueryDef("m13_video_scene_cuts",
      (s, dir) => {
        val media = Multimodal.attachSyntheticDibVideos(s, docs(s, dir))
        Multimodal.sceneCuts(
            Multimodal.decodeVideoFrames(s, media).toDF(), threshold = 60.0)
          .select("doc_id", "frame_idx", "delta", "is_cut")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    cast(doc_id % 5 + 1 AS INT) AS nf FROM documents),
             |f AS (SELECT doc_id, cast(unnest(range(nf)) AS INT) AS fi
             |      FROM p),
             |g AS (SELECT doc_id, fi,
             |    cast((doc_id + 11 * fi) % 256
             |      + (7 * doc_id + 17 * fi) % 256
             |      + (13 * doc_id + 23 * fi) % 256 AS REAL) AS gs
             |  FROM f)
             |SELECT a.doc_id, a.fi AS frame_idx,
             |  cast(abs(a.gs - b.gs) AS REAL) AS delta,
             |  abs(a.gs - b.gs) >= 60.0 AS is_cut
             |FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.fi = a.fi - 1""".stripMargin)),

    // Cross-video near-duplicate frames (m14): the candidate+verify
    // composition over the REAL DIB decode — frames meet in a
    // (dims, quantized-color-cube) bucket join and survive only at
    // exact L-inf mean distance <= 48. Solid fixture frames make
    // every mean an exact integer, so the oracle replays the whole
    // pipeline (fixture color arithmetic -> cube cells -> bucket
    // join -> exact distance -> per-pair aggregate) value-for-value.
    QueryDef("m14_video_frame_near_dup",
      (s, dir) => {
        val media = Multimodal.attachSyntheticDibVideos(s, docs(s, dir))
        Multimodal.videoFrameNearDupPairs(
          Multimodal.decodeVideoFrames(s, media).toDF())
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 16 + 4 AS w,
             |    doc_id % 12 + 3 AS h,
             |    cast(doc_id % 5 + 1 AS INT) AS nf FROM documents),
             |f AS (SELECT doc_id, w, h,
             |    cast(unnest(range(nf)) AS INT) AS fi FROM p),
             |g AS (SELECT doc_id, w, h,
             |    (doc_id + 11 * fi) % 256 AS r,
             |    (7 * doc_id + 17 * fi) % 256 AS gg,
             |    (13 * doc_id + 23 * fi) % 256 AS b
             |  FROM f),
             |q AS (SELECT *, r // 64 AS qr, gg // 64 AS qg,
             |    b // 64 AS qb FROM g)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  cast(count(*) AS BIGINT) AS n_frame_pairs,
             |  cast(min(greatest(abs(a.r - b.r), abs(a.gg - b.gg),
             |    abs(a.b - b.b))) AS INT) AS min_dist
             |FROM q a JOIN q b ON a.w = b.w AND a.h = b.h
             |  AND a.qr = b.qr AND a.qg = b.qg AND a.qb = b.qb
             |  AND a.doc_id < b.doc_id
             |WHERE greatest(abs(a.r - b.r), abs(a.gg - b.gg),
             |    abs(a.b - b.b)) <= 48
             |GROUP BY 1, 2""".stripMargin)),

    // Audio perceptual fingerprint (m12): energy-delta bits over REAL
    // RIFF/WAVE decodes — the 1-D sibling of m11's dHash, same
    // 32-bit-word packing so fingerprints feed the Hamming machinery.
    // The square-wave fixture's energies are a closed form (len·amp²
    // per window, amp cancels in every comparison): all full-window
    // pairs tie → bit 0; the one descending boundary is the tail
    // window, so the whole fingerprint is the single bit before the
    // tail — present exactly when n_samples % 8 ≠ 0. The oracle
    // replays that arithmetic; a windowing off-by-one, a >= for >, or
    // a bit-index slip each move or add bits.
    QueryDef("m12_audio_fingerprint",
      (s, dir) => {
        val media = Multimodal.attachSyntheticAudio(s, docs(s, dir))
        Multimodal.audioHash(s, media, window = 8)
          .select(col("doc_id"), col("afp")(0).as("w0"),
            col("afp")(1).as("w1"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN (doc_id % 50 + 10) % 8 <> 0
             |       THEN (1::BIGINT << cast(
             |         (doc_id % 50 + 10 + 7) // 8 - 2 AS INT))
             |       ELSE 0 END AS w0,
             |  0::BIGINT AS w1
             |FROM documents""".stripMargin)),

    // MMR diversified top-k (n19): greedy λ-tradeoff between
    // relevance and similarity-to-selected over the bounded top-20
    // candidate set, k=3 picks per query. The oracle unrolls the
    // greedy: stage 1 argmax(rel); stage j argmax(0.5·rel −
    // 0.5·maxsim) with maxsim = greatest over the j−1 selections —
    // every comparison is over cross-engine-exact doubles (n01 cosine
    // rule), ties by id. CTEs materialized (each stage re-reads cands
    // plus all prior selections).
    QueryDef("n19_mmr_diversify",
      (s, dir) => Similarity.mmrTopK(
          embs(s, dir).filter(col("vec_id") < 10), embs(s, dir),
          k = 3, candidateK = 20, lambda = 0.5)
        .select("q_id", "n_id", "pick_rank"),
      Some("""WITH cands AS MATERIALIZED (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    list_cosine_similarity(q.embedding, c.embedding) AS rel,
             |    c.embedding AS n_emb,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.embedding, c.embedding)
             |        DESC, c.vec_id) AS rk
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 10
             |  QUALIFY rk <= 20),
             |s1 AS MATERIALIZED (
             |  SELECT q_id, n_id, n_emb FROM cands
             |  QUALIFY row_number() OVER (PARTITION BY q_id
             |    ORDER BY rel DESC, n_id) = 1),
             |s2 AS MATERIALIZED (
             |  SELECT c.q_id, c.n_id, c.n_emb FROM cands c
             |  JOIN s1 ON c.q_id = s1.q_id AND c.n_id <> s1.n_id
             |  QUALIFY row_number() OVER (PARTITION BY c.q_id
             |    ORDER BY 0.5 * c.rel -
             |      0.5 * list_cosine_similarity(c.n_emb, s1.n_emb)
             |      DESC, c.n_id) = 1),
             |s3 AS MATERIALIZED (
             |  SELECT c.q_id, c.n_id FROM cands c
             |  JOIN s1 ON c.q_id = s1.q_id
             |  JOIN s2 ON c.q_id = s2.q_id
             |  WHERE c.n_id <> s1.n_id AND c.n_id <> s2.n_id
             |  QUALIFY row_number() OVER (PARTITION BY c.q_id
             |    ORDER BY 0.5 * c.rel - 0.5 * greatest(
             |        list_cosine_similarity(c.n_emb, s1.n_emb),
             |        list_cosine_similarity(c.n_emb, s2.n_emb))
             |      DESC, c.n_id) = 1)
             |SELECT q_id, n_id, 1 AS pick_rank FROM s1
             |UNION ALL SELECT q_id, n_id, 2 FROM s2
             |UNION ALL SELECT q_id, n_id, 3 FROM s3""".stripMargin)),

    // Per-group top-fraction quality cut (p20): keep the best 30% of
    // each source by the t11 fixed-weight quality score — the
    // FineWeb-style per-dump adaptive threshold, rank-based so the
    // cut is exact integer arithmetic (ceil(frac·n) per group, ties
    // by doc id). Both engines rank on the SAME sigmoid expression
    // t11 already proves cross-engine-equal, and ceil(0.3·n) is one
    // IEEE multiply both engines round identically.
    QueryDef("p20_group_quantile_filter",
      (s, dir) => Curation.topFractionPerGroup(
          docs(s, dir), "source", TextOps.qualityScore(col("text")),
          "doc_id", frac = 0.3)
        .select("doc_id", "source", "rank", "n_group"),
      Some {
        val sig = s"1.0 / (1.0 + exp(-($fixedQualityZSql)))"
        s"""WITH ranked AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY ($sig) DESC, doc_id) AS rank,
           |    count(*) OVER (PARTITION BY source) AS n_group
           |  FROM documents)
           |SELECT doc_id, source, rank, n_group
           |FROM ranked
           |WHERE rank <= ceil(0.3 * n_group)""".stripMargin
      }),

    // Multiclass hashed softmax (t25): fastText's flagship shape —
    // C-way language ID trained on the REAL lang labels over the
    // shared hashed unigram+bigram features. Same replay discipline
    // as t23: the 1e-9 weight lattice after each step crushes the
    // softmax normalizer's summation-order last-bits, so DuckDB
    // retrains all 10 iterations to bit-identical weights; prediction
    // ranks classes by (6dp-rounded logit, class), six decades above
    // the cross-engine noise floor. Stage CTEs MATERIALIZED (each
    // stage reads the previous twice).
    QueryDef("t25_hashed_softmax_langid",
      (s, dir) => {
        val d = docs(s, dir)
        val model = TextOps.trainHashedSoftmax(d, "text", "doc_id", "lang")
        TextOps.predictHashedSoftmax(d, "text", "doc_id", model)
          .select("doc_id", "pred", "logit")
      },
      Some {
        def stage(k: Int): String =
          s"""z$k AS MATERIALIZED (
             |  SELECT f.doc_id, w.c, sum(f.x * w.w) AS z
             |  FROM feats f JOIN it${k - 1} w USING (b) GROUP BY 1, 2),
             |d$k AS MATERIALIZED (
             |  SELECT z.doc_id, z.c,
             |    exp(greatest(least(z.z, 30.0), -30.0)) /
             |      sum(exp(greatest(least(z.z, 30.0), -30.0)))
             |        OVER (PARTITION BY z.doc_id)
             |    - CASE WHEN l.y = z.c THEN 1.0 ELSE 0.0 END AS delta
             |  FROM z$k z JOIN labels l USING (doc_id)),
             |it$k AS MATERIALIZED (
             |  SELECT w.c, w.b, round(w.w - 0.5 * (coalesce(g.sd, 0.0) /
             |      (SELECT count(*) FROM documents)), 9) AS w
             |  FROM it${k - 1} w
             |  LEFT JOIN (SELECT d.c, f.b, sum(d.delta * f.x) AS sd
             |             FROM feats f JOIN d$k d USING (doc_id)
             |             GROUP BY 1, 2) g
             |    ON w.c = g.c AND w.b = g.b)""".stripMargin
        s"""WITH labels AS MATERIALIZED (SELECT doc_id, lang AS y FROM documents),
           |$hashedFeatsSql,
           |it0 AS MATERIALIZED (
           |  SELECT l.c, cast(unnest(range(-1, 16)) AS INT) AS b, 0.0 AS w
           |  FROM (SELECT DISTINCT lang AS c FROM documents) l),
           |${(1 to 10).map(stage).mkString(",\n")},
           |zf AS MATERIALIZED (
           |  SELECT f.doc_id, w.c, sum(f.x * w.w) AS z
           |  FROM feats f JOIN it10 w USING (b) GROUP BY 1, 2)
           |SELECT doc_id, c AS pred, round(z, 4) AS logit FROM (
           |  SELECT doc_id, c, z, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY round(z, 6) DESC, c) AS rn
           |  FROM zf)
           |WHERE rn = 1""".stripMargin
      }),

    // Incremental BM25 state (t24): the retrieval tier's
    // merge-equals-refit gate (dsirState/e05 discipline). Two batch
    // states (doc_id parity split) merge term-wise; scoring the full
    // corpus against the MERGED state must equal the one-shot t22
    // refit — which is exactly what the oracle computes from scratch.
    // Every statistic (df, N, tf, dl) is an exact integer, so the
    // equality is bit-level, not approximate; 4dp output rounding is
    // the usual summation-order guard on the final per-(q,doc) sum.
    QueryDef("t24_bm25_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        bm25Serve(TextOps.mergeBm25State(
          bm25State(d.filter(col("doc_id") % 2 === 0)),
          bm25State(d.filter(col("doc_id") % 2 =!= 0))), d)
      },
      Some(bm25Sql())),

    // BM25 state PERSISTENCE (t34): the verb that makes the t24/t31
    // lifecycle real across runs — build the even-half state, SAVE it,
    // reload, merge the odd half, subtract the doc_id%5==2 slice,
    // score the surviving corpus. The final state equals a refit over
    // documents with the deleted fifth excluded, so the oracle is
    // t31's from-scratch SQL refit verbatim: if any statistic (df, N,
    // avgdl, the sentinel) were damaged by the round trip, every
    // downstream score would drift.
    QueryDef("t34_bm25_state_persist",
      (s, dir) => {
        val d = docs(s, dir)
        val stDir = "/tmp/graft_gate_bm25state_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        IndexIo.Bm25.save(bm25State(d.filter(col("doc_id") % 2 === 0)),
          stDir)
        bm25DeleteServe(TextOps.mergeBm25State(
          IndexIo.Bm25.load(s, stDir),
          bm25State(d.filter(col("doc_id") % 2 =!= 0))), d)
      },
      Some(bm25Sql(" WHERE doc_id % 5 <> 2"))),

    // BM25 state DELETION (t31): the backward half of the t24
    // lifecycle — subtract a deleted batch's state from the corpus
    // state (exact inverse merge over integer counts; terms whose df
    // hits zero leave, negative counts fail fast) and score the
    // remaining documents. Must equal a from-scratch refit over the
    // remaining corpus, which is exactly what the oracle computes:
    // every statistic (df, N, avgdl) re-derived in SQL over documents
    // with the deleted fifth excluded.
    QueryDef("t31_bm25_delete",
      (s, dir) => {
        val d = docs(s, dir)
        bm25DeleteServe(bm25State(d), d)
      },
      Some(bm25Sql(" WHERE doc_id % 5 <> 2"))),

    // Per-group sketch-threshold cut (p21): the giant-group scale
    // path p20's scaladoc promises — 64-bin score histogram per
    // source, threshold bin from top-down cumulative counts,
    // broadcast thresholds, map-side keep. Bin-granular (keeps the
    // whole boundary bin) but deterministic: the t11 sigmoid is
    // cross-engine-exact, binning is one identical IEEE floor, and
    // everything after is exact integers the oracle replays.
    QueryDef("p21_group_threshold_sketch",
      (s, dir) => Curation.groupThresholdSketch(
          docs(s, dir).select(col("doc_id"), col("source"),
            TextOps.qualityScore(col("text")).as("__q")),
          "source", col("__q"), frac = 0.3, bins = 64)
        .select("doc_id", "source", "bin"),
      Some {
        val sig = s"1.0 / (1.0 + exp(-($fixedQualityZSql)))"
        s"""WITH binned AS (
           |  SELECT doc_id, source,
           |    cast(least(greatest(
           |      floor((($sig) - 0.0) / 1.0 * 64.0), 0.0), 63.0) AS INT)
           |      AS bin
           |  FROM documents),
           |hist AS (SELECT source, bin, count(*) AS c FROM binned
           |         GROUP BY 1, 2),
           |cum AS (
           |  SELECT source, bin,
           |    sum(c) OVER (PARTITION BY source ORDER BY bin DESC) AS cum,
           |    sum(c) OVER (PARTITION BY source) AS n
           |  FROM hist),
           |thr AS (SELECT source, max(bin) AS bstar FROM cum
           |        WHERE cum >= ceil(0.3 * n) GROUP BY 1)
           |SELECT b.doc_id, b.source, b.bin
           |FROM binned b JOIN thr ON b.source = thr.source
           |WHERE b.bin >= thr.bstar""".stripMargin
      }),

    // fastText-style HASHED-n-gram classifier (t23): where t20 trains
    // on 4 hand-picked surface features, this trains on the md5-hashed
    // unigram+bigram bag (the DSIR feature convention) — the model
    // reads token content. The bias rides as a pseudo-feature row
    // (bucket −1, x=1), so per-doc z is ONE sum(x·w) join and every
    // gradient is the same sum(δ·x)/N groupBy. Weights quantize to the
    // 1e-9 grid after each step, so DuckDB's replay of all 10 GD
    // iterations lands on bit-identical weights (grid spacing ~1e6×
    // the summation-order noise); the oracle re-derives grams,
    // buckets, features, the full trajectory, and scores with its own
    // trained weights. 4dp output rounding absorbs the one remaining
    // order difference (Spark scores per-gram in doc order, the
    // oracle per-bucket). Stage CTEs are AS MATERIALIZED: stage k
    // references stage k-1 twice (z and step), so inlining would
    // re-evaluate the chain 2^10 times.
    QueryDef("t23_hashed_classifier",
      (s, dir) => {
        val d = docs(s, dir)
        val keepLabel = TextOps.qualityMetrics(col("text")).toMap.apply("keep")
        val model = TextOps.trainHashedClassifier(d, "text", "doc_id",
          keepLabel)
        d.select(col("doc_id"),
          round(TextOps.scoreHashedClassifier(col("text"), model), 4)
            .as("score"),
          (TextOps.scoreHashedClassifier(col("text"), model) >= 0.5)
            .as("keep"))
      },
      Some {
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val guard = s"(CASE WHEN ($nWords) = 0 THEN 1 ELSE $nWords END)"
        val awl = s"(cast(length(text) - ${occSql("text", " ")} AS DOUBLE) / $guard)"
        val yExpr = s"""CASE WHEN length(text) >= 20 AND ($nWords) >= 5
                       | AND $awl BETWEEN 1.5 AND 12.0
                       | THEN 1.0 ELSE 0.0 END""".stripMargin.replace("\n", "")
        def zOf(wRel: String): String =
          s"""(SELECT f.doc_id, sum(f.x * w.w) AS s
             |   FROM feats f JOIN $wRel w USING (b) GROUP BY 1)""".stripMargin
        val sig = (zc: String) =>
          s"1.0 / (1.0 + exp(-greatest(least($zc, 30.0), -30.0)))"
        def stage(k: Int): String =
          s"""z$k AS MATERIALIZED (
             |  SELECT l.doc_id, ${sig("fs.s")} - l.y AS delta
             |  FROM labels l
             |  JOIN ${zOf(s"it${k - 1}")} fs USING (doc_id)),
             |it$k AS MATERIALIZED (
             |  SELECT w.b, round(w.w - 0.5 * (coalesce(g.sd, 0.0) /
             |      (SELECT count(*) FROM documents)), 9) AS w
             |  FROM it${k - 1} w
             |  LEFT JOIN (SELECT f.b, sum(z.delta * f.x) AS sd
             |             FROM feats f JOIN z$k z USING (doc_id)
             |             GROUP BY 1) g USING (b))""".stripMargin
        s"""WITH labels AS MATERIALIZED (SELECT doc_id, $yExpr AS y FROM documents),
           |$hashedFeatsSql,
           |it0 AS MATERIALIZED (SELECT cast(unnest(range(-1, 16)) AS INT) AS b, 0.0 AS w),
           |${(1 to 10).map(stage).mkString(",\n")},
           |sc AS (
           |  SELECT l.doc_id, ${sig("fs.s")} AS s
           |  FROM labels l
           |  JOIN ${zOf("it10")} fs USING (doc_id))
           |SELECT doc_id, round(s, 4) AS score, s >= 0.5 AS keep FROM sc""".stripMargin
      }),

    // Systematic PPS sampling (p22): 50 draws proportional to token
    // count, all-integer (md5 order, prefix sums, shifted truncating
    // divisions) — the oracle replays the identical lattice arithmetic
    // in SQL, so the drawn multiset must match row-for-row. Σ n_draws
    // = 50 by construction on both sides.
    QueryDef("p22_pps_sample",
      (s, dir) => Curation.ppsSample(docs(s, dir), "doc_id",
          size(split(col("text"), " ")).cast("long"), n = 50L)
        .select("doc_id", "n_draws"),
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    cast(len(string_split(text, ' ')) AS BIGINT) AS wt,
             |    md5(cast(doc_id AS VARCHAR)) AS ord
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, wt,
             |    cast(sum(wt) OVER (ORDER BY ord, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      - wt AS BIGINT) AS cb,
             |    cast(sum(wt) OVER () AS BIGINT) AS wtot
             |  FROM w),
             |s AS (
             |  SELECT doc_id, wt,
             |    cb + (wtot // 50) - (wtot // 50) // 2 AS c1,
             |    wtot // 50 AS step
             |  FROM c)
             |SELECT doc_id,
             |  least((c1 + wt - 1) // step, 50)
             |    - least((c1 - 1) // step, 50) AS n_draws
             |FROM s
             |WHERE least((c1 + wt - 1) // step, 50)
             |    - least((c1 - 1) // step, 50) > 0""".stripMargin)),

    // Mixture-weighted PPS draw (p23): 20 draws split 50/30/20 across
    // three sources (exact apportionment: 10/6/4), each source running
    // its own integer lattice — the oracle replays every lattice
    // partitioned by source. Composes p22's machinery; the mixture
    // loop is over the share table, never the data.
    QueryDef("p23_pps_mixture",
      (s, dir) => Curation.mixtureSample(docs(s, dir), "source", "doc_id",
          size(split(col("text"), " ")).cast("long"),
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          totalDraws = 20L)
        .select("doc_id", "source", "n_draws"),
      Some("""WITH quota AS (
             |  SELECT * FROM (VALUES ('src0', 10), ('src1', 6),
             |    ('src2', 4)) q(src, n)),
             |w AS (
             |  SELECT d.doc_id, d.source, q.n,
             |    cast(len(string_split(d.text, ' ')) AS BIGINT) AS wt,
             |    md5(cast(d.doc_id AS VARCHAR)) AS ord
             |  FROM documents d JOIN quota q ON d.source = q.src),
             |c AS (
             |  SELECT doc_id, source, n, wt,
             |    cast(sum(wt) OVER (PARTITION BY source ORDER BY ord, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      - wt AS BIGINT) AS cb,
             |    cast(sum(wt) OVER (PARTITION BY source) AS BIGINT) AS wtot
             |  FROM w),
             |s AS (
             |  SELECT doc_id, source, n, wt,
             |    cb + (wtot // n) - (wtot // n) // 2 AS c1,
             |    wtot // n AS step
             |  FROM c)
             |SELECT doc_id, source,
             |  least((c1 + wt - 1) // step, n)
             |    - least((c1 - 1) // step, n) AS n_draws
             |FROM s
             |WHERE least((c1 + wt - 1) // step, n)
             |    - least((c1 - 1) // step, n) > 0""".stripMargin)),

    // Corpus snapshot diff (p25): v1 = docs 0-399, v2 = docs 100-499
    // with every doc_id divisible by 7 rewritten — classify
    // added/removed/changed/unchanged by content fingerprint. Both
    // engines build both versions identically; the shuffle carries
    // (id, md5), never text.
    QueryDef("p25_corpus_diff",
      (s, dir) => {
        val d = docs(s, dir)
        val v1 = d.filter(col("doc_id") < 400)
        val v2 = d.filter(col("doc_id") >= 100)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Curation.corpusDiff(v1, v2, "doc_id", "text")
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id, md5(text) AS fp FROM documents
             |  WHERE doc_id < 400),
             |v2 AS (
             |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
             |    THEN text || ' v2' ELSE text END) AS fp
             |  FROM documents WHERE doc_id >= 100)
             |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             |  CASE WHEN v1.fp IS NULL THEN 'added'
             |       WHEN v2.fp IS NULL THEN 'removed'
             |       WHEN v1.fp = v2.fp THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin)),

    // Token-budget quota fill (p24): "500/300/200 tokens from
    // src0/src1/src2" — md5-ordered per-source prefix sum, keep while
    // tokens-before < budget (straddler included). The oracle replays
    // the cumulative window; exact integers end to end.
    QueryDef("p24_token_budget",
      (s, dir) => Curation.takeTokenBudget(docs(s, dir), "source",
          "doc_id", size(split(col("text"), " ")).cast("long"),
          Map("src0" -> 500L, "src1" -> 300L, "src2" -> 200L))
        .select("doc_id", "source", "tokens_before"),
      Some("""WITH b AS (
             |  SELECT * FROM (VALUES ('src0', 500), ('src1', 300),
             |    ('src2', 200)) t(src, budget)),
             |w AS (
             |  SELECT d.doc_id, d.source, b.budget,
             |    cast(len(string_split(d.text, ' ')) AS BIGINT) AS wt,
             |    md5(cast(d.doc_id AS VARCHAR)) AS ord
             |  FROM documents d JOIN b ON d.source = b.src),
             |c AS (
             |  SELECT doc_id, source, budget,
             |    cast(sum(wt) OVER (PARTITION BY source ORDER BY ord, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      - wt AS BIGINT) AS tokens_before
             |  FROM w)
             |SELECT doc_id, source, tokens_before
             |FROM c WHERE tokens_before < budget""".stripMargin)),

    // Pair-level detector evaluation (d24): precision/recall/F1 of one
    // replayable pair relation against another (same-lang pairs vs
    // same-source pairs over the first 40 docs — the METRIC is under
    // test; the pair semantics are fixture). Counts exact; ratios are
    // IEEE divisions of identical integers, rounded 6dp.
    QueryDef("d24_pair_eval",
      (s, dir) => {
        val d = docs(s, dir).filter(col("doc_id") < 40)
        def pairs(keyCol: String) = d.select(col("doc_id").as("a"),
            col(keyCol).as("k"))
          .join(d.select(col("doc_id").as("b"), col(keyCol).as("k")),
            Seq("k"))
          .filter(col("a") < col("b"))
          .select(col("a").as("doc_a"), col("b").as("doc_b"))
        Dedup.pairEval(pairs("lang"), pairs("source"))
          .select(col("n_pred"), col("n_truth"), col("n_tp"),
            round(col("precision"), 6).as("precision"),
            round(col("recall"), 6).as("recall"),
            round(col("f1"), 6).as("f1"))
      },
      Some("""WITH d AS (SELECT * FROM documents WHERE doc_id < 40),
             |pred AS (
             |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS p1,
             |    greatest(a.doc_id, b.doc_id) AS p2
             |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id),
             |truth AS (
             |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS p1,
             |    greatest(a.doc_id, b.doc_id) AS p2
             |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
             |m AS (
             |  SELECT cast((SELECT count(*) FROM pred) AS BIGINT) AS n_pred,
             |    cast((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
             |    cast((SELECT count(*) FROM pred JOIN truth USING (p1, p2))
             |      AS BIGINT) AS n_tp)
             |SELECT n_pred, n_truth, n_tp,
             |  round(CASE WHEN n_pred = 0 THEN 0.0
             |    ELSE cast(n_tp AS DOUBLE) / n_pred END, 6) AS precision,
             |  round(CASE WHEN n_truth = 0 THEN 0.0
             |    ELSE cast(n_tp AS DOUBLE) / n_truth END, 6) AS recall,
             |  round(CASE WHEN n_tp = 0 THEN 0.0
             |    ELSE 2.0 * (cast(n_tp AS DOUBLE) / n_pred)
             |      * (cast(n_tp AS DOUBLE) / n_truth)
             |      / ((cast(n_tp AS DOUBLE) / n_pred)
             |        + (cast(n_tp AS DOUBLE) / n_truth)) END, 6) AS f1
             |FROM m""".stripMargin)),

    // Passage retrieval with document aggregation (t27): the RAG
    // pattern for long documents — chunk the corpus (32-token
    // non-overlapping windows), score CHUNKS with BM25 (corpus
    // statistics at chunk grain), then max-pool to documents keeping
    // the best chunk id (the passage to stuff into the prompt). Pure
    // composition of chunkTokens + bm25 + one aggregate; the oracle
    // rebuilds chunking, chunk-grain BM25, and the pooling in SQL.
    // Ranking inside the pool uses 6dp-rounded scores (t25 precedent)
    // so cross-engine float noise cannot flip the argmax; the reported
    // score rounds to 4dp.
    QueryDef("t27_passage_retrieval",
      (s, dir) => {
        import s.implicits._
        val qt = bm25QueryTerms.toDF("query_id", "term")
        val chunks = Curation.chunkTokens(docs(s, dir), "text", "doc_id",
            chunkTokens = 32, stride = 32)
          .withColumn("chunk_id",
            col("doc_id") * 1000 + col("chunk_idx"))
        val scored = TextOps.bm25(chunks, "chunk_text", "chunk_id", qt)
        scored
          .withColumn("doc_id", expr("chunk_id div 1000"))
          .withColumn("chunk_idx", col("chunk_id") % 1000)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("query_id", "doc_id")
              .orderBy(round(col("score"), 6).desc, col("chunk_idx"))))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("doc_id"),
            col("chunk_idx").as("best_chunk"),
            round(col("score"), 4).as("score"))
      },
      Some(s"""WITH words AS (
             |  SELECT doc_id, list_filter(string_split(
             |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
             |    x -> x <> '') AS ws
             |  FROM documents),
             |nch AS (
             |  SELECT doc_id, ws,
             |    CASE WHEN len(ws) <= 32 THEN 1
             |         ELSE ((len(ws) - 32 + 31) // 32) + 1 END AS nc
             |  FROM words),
             |chunkidx AS (
             |  SELECT doc_id, ws, unnest(range(0, nc)) AS chunk_idx
             |  FROM nch),
             |chunks AS MATERIALIZED (
             |  SELECT doc_id, chunk_idx,
             |    doc_id * 1000 + chunk_idx AS chunk_id,
             |    list_slice(ws, chunk_idx * 32 + 1, chunk_idx * 32 + 32) AS cw
             |  FROM chunkidx),
             |tf AS MATERIALIZED (
             |  SELECT chunk_id, term, count(*) AS tf
             |  FROM (SELECT chunk_id, unnest(cw) AS term FROM chunks)
             |  GROUP BY 1, 2),
             |dl AS (SELECT chunk_id, sum(tf) AS dl FROM tf GROUP BY 1),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT (SELECT count(*) FROM chunks)::DOUBLE AS n_docs,
             |  (SELECT sum(tf) FROM tf)::DOUBLE /
             |    (SELECT count(*) FROM chunks)::DOUBLE AS avgdl),
             |qt(query_id, term) AS (VALUES $bm25QueryValuesSql),
             |cs AS (
             |  SELECT qt.query_id, tf.chunk_id,
             |    sum($bm25ScoreSql) AS score
             |  FROM qt JOIN tf USING (term)
             |  JOIN dl ON tf.chunk_id = dl.chunk_id
             |  CROSS JOIN st
             |  JOIN dfq ON tf.term = dfq.term
             |  GROUP BY 1, 2)
             |SELECT query_id, chunk_id // 1000 AS doc_id,
             |  chunk_id % 1000 AS best_chunk,
             |  round(score, 4) AS score
             |FROM (
             |  SELECT query_id, chunk_id, score,
             |    row_number() OVER (
             |      PARTITION BY query_id, chunk_id // 1000
             |      ORDER BY round(score, 6) DESC, chunk_id % 1000) AS rn
             |  FROM cs)
             |WHERE rn = 1""".stripMargin)),

    // Exact heavy hitters via Misra–Gries sketch + recount (t26): every
    // whitespace bigram with ≥ 30 occurrences, with its EXACT count.
    // The Spark path never groupBy-counts the full bigram table — one
    // bounded-summary aggregate (candidate generation, provably
    // complete above N/(capacity+1)) plus an exact recount confined to
    // the broadcast candidates. The oracle is the plain exact GROUP BY
    // the sketch path must reproduce verbatim — integers only, so the
    // hash compare is trivial.
    QueryDef("t26_frequent_ngrams",
      (s, dir) => {
        val grams = docs(s, dir).select(explode(expr(
          """transform(sequence(1, size(split(text, ' ')) - 1),
            |  i -> concat(element_at(split(text, ' '), i), ' ',
            |              element_at(split(text, ' '), i + 1)))"""
            .stripMargin)).as("item"))
        Curation.heavyHitters(grams, "item", minCount = 30L)
      },
      Some {
        """WITH toks AS (
          |  SELECT string_split(text, ' ') AS ls FROM documents),
          |bi AS (
          |  SELECT unnest(list_transform(range(1, len(ls)),
          |    i -> ls[i] || ' ' || ls[i + 1])) AS item
          |  FROM toks)
          |SELECT item, count(*) AS n_occurrences
          |FROM bi GROUP BY 1 HAVING count(*) >= 30""".stripMargin
      }),

    // Boilerplate-line removal (d23): pages are synthesized from the
    // corpus (5 docs per page, a 7-variant header and a shared footer
    // injected — both engines build the identical fixture), then every
    // line appearing verbatim in ≥ 10 distinct pages is stripped while
    // blank lines and line order survive. Exercises the full
    // sketch → exact-recount → broadcast-rewrite chain end to end; the
    // rewritten text is hash-compared byte-for-byte.
    QueryDef("d23_boilerplate_lines",
      (s, dir) => {
        val pages = docs(s, dir)
          .groupBy(expr("doc_id div 5").as("page_id"))
          .agg(concat(
            lit("HDR-"), (col("page_id") % 7).cast("string"), lit("\n"),
            array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x("text")), "\n"),
            lit("\n\nFOOTER")).as("text"))
        Curation.stripBoilerplateLines(pages, "text", "page_id",
            minDocs = 10L)
          .select("page_id", "text", "n_lines_removed")
      },
      Some {
        """WITH pages AS MATERIALIZED (
          |  SELECT doc_id // 5 AS page_id,
          |    'HDR-' || cast((doc_id // 5) % 7 AS VARCHAR) || chr(10) ||
          |    string_agg(text, chr(10) ORDER BY doc_id) ||
          |    chr(10) || chr(10) || 'FOOTER' AS text
          |  FROM documents GROUP BY doc_id // 5),
          |docfreq AS (
          |  SELECT unnest(list_distinct(string_split(text, chr(10)))) AS line
          |  FROM pages),
          |boiler AS (
          |  SELECT line FROM docfreq WHERE trim(line) <> ''
          |  GROUP BY line HAVING count(*) >= 10),
          |split AS (
          |  SELECT page_id, string_split(text, chr(10)) AS ls FROM pages),
          |exploded AS (
          |  SELECT page_id, unnest(ls) AS line,
          |    unnest(range(1, len(ls) + 1)) AS ord
          |  FROM split),
          |kept AS (
          |  SELECT page_id, line, ord FROM exploded
          |  WHERE trim(line) = ''
          |     OR line NOT IN (SELECT line FROM boiler))
          |SELECT e.page_id,
          |  coalesce(k.text, '') AS text,
          |  e.n_total - coalesce(k.n_kept, 0) AS n_lines_removed
          |FROM (SELECT page_id, count(*) AS n_total
          |      FROM exploded GROUP BY 1) e
          |LEFT JOIN (SELECT page_id,
          |        array_to_string(list(line ORDER BY ord), chr(10)) AS text,
          |        count(*) AS n_kept
          |      FROM kept GROUP BY 1) k USING (page_id)""".stripMargin
      }),

    // NN-Descent kNN-graph construction (n39): two refinement rounds
    // from the deterministic hash-bucket ring seed, k=4, undirected cap
    // 8 — the cell-free kNN-graph path. TRUE cross-engine replay: the
    // oracle unrolls both rounds in DuckDB (seed ring from the same
    // md5-bucket idiom, undirected max-merge + row_number cap, clique
    // candidates through the shared center ∪ the capped edges
    // themselves, cosine re-score, top-k merge), so every deterministic
    // tie-break (sim desc, id asc) and every set operation must agree
    // exactly for ranks to line up. Output is the integer skeleton
    // (n_id, m_id, rank); sims stay internal.
    QueryDef("n39_knn_graph_descent",
      (s, dir) => GraphAnn.nnDescent(embs(s, dir), k = 4, iters = 2,
          nBuckets = 32, undCap = 8)
        .select("n_id", "m_id", "rank"),
      Some {
        def round(gin: String, gout: String, tag: String): String =
          s"""u$tag AS (
             |  SELECT n_id, m_id, max(sim) AS sim FROM (
             |    SELECT n_id, m_id, sim FROM $gin
             |    UNION ALL SELECT m_id AS n_id, n_id AS m_id, sim
             |    FROM $gin)
             |  GROUP BY 1, 2),
             |uc$tag AS (
             |  SELECT n_id AS center, m_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY n_id
             |      ORDER BY sim DESC, m_id) AS rn FROM u$tag)
             |  WHERE rn <= 8),
             |cand$tag AS (
             |  SELECT x.m_id AS n_id, y.m_id AS c_id
             |  FROM uc$tag x JOIN uc$tag y ON x.center = y.center
             |  WHERE x.m_id <> y.m_id
             |  UNION
             |  SELECT center AS n_id, m_id AS c_id FROM uc$tag),
             |s$tag AS (
             |  SELECT c.n_id, c.c_id AS m_id,
             |    list_cosine_similarity(a.emb, b.emb) AS sim
             |  FROM cand$tag c JOIN e a ON a.n_id = c.n_id
             |  JOIN e b ON b.n_id = c.c_id),
             |$gout AS (
             |  SELECT n_id, m_id, sim FROM (
             |    SELECT *, row_number() OVER (PARTITION BY n_id
             |      ORDER BY sim DESC, m_id) AS rn
             |    FROM (SELECT n_id, m_id, max(sim) AS sim FROM (
             |            SELECT * FROM $gin
             |            UNION ALL SELECT * FROM s$tag)
             |          GROUP BY 1, 2))
             |  WHERE rn <= 4)"""
            .stripMargin
        s"""WITH e AS (SELECT vec_id AS n_id, embedding AS emb
           |  FROM embeddings),
           |b AS (SELECT n_id,
           |    ('0x' || substr(md5(cast(n_id AS VARCHAR)), 1, 4))::BIGINT
           |      % 32 AS bucket
           |  FROM e),
           |pos AS (SELECT n_id, bucket,
           |    row_number() OVER (PARTITION BY bucket ORDER BY n_id)
           |      AS pos
           |  FROM b),
           |sizes AS (SELECT bucket, max(pos) AS bn FROM pos GROUP BY 1),
           |tries AS (SELECT e.n_id,
           |    md5(cast(e.n_id AS VARCHAR) || '_' ||
           |      cast(js.j AS VARCHAR)) AS hh
           |  FROM e CROSS JOIN unnest(range(1, 5)) AS js(j)),
           |seedpairs AS (
           |  SELECT DISTINCT t.n_id, m.n_id AS m_id
           |  FROM tries t
           |  JOIN sizes s
           |    ON s.bucket = ('0x' || substr(t.hh, 1, 8))::BIGINT % 32
           |  JOIN pos m ON m.bucket = s.bucket
           |    AND m.pos = ('0x' || substr(t.hh, 9, 8))::BIGINT % s.bn + 1
           |  WHERE t.n_id <> m.n_id),
           |g0 AS (
           |  SELECT s.n_id, s.m_id,
           |    list_cosine_similarity(a.emb, b2.emb) AS sim
           |  FROM seedpairs s JOIN e a ON a.n_id = s.n_id
           |  JOIN e b2 ON b2.n_id = s.m_id),
           |${round("g0", "g1", "1")},
           |${round("g1", "g2", "2")}
           |SELECT n_id, m_id,
           |  cast(row_number() OVER (PARTITION BY n_id
           |    ORDER BY sim DESC, m_id) AS INT) AS rank
           |FROM g2""".stripMargin
      }),

    // Trigram stupid-backoff LM (t32): the top tier of the perplexity
    // stack (t14 unigram → t15 bigram → this), trained on the even
    // half and scoring everything. The gate pins the exact integer
    // skeleton (trigram / hit / bigram-backoff / unigram-backoff / OOV
    // counts per doc, full LEFT JOIN recompute in DuckDB); the float
    // avg_logscore is pinned closed-form in TextOpsSpec, the t15
    // recipe.
    QueryDef("t32_trigram_lm",
      (s, dir) => TextOps.trigramScore(docs(s, dir), "doc_id", "text",
          col("doc_id") % 2 === 0)
        .select("doc_id", "n_trigrams", "n_hit", "n_back2", "n_back1",
          "n_oov"),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                x -> x <> '') AS toks FROM documents),
             |bg AS (SELECT doc_id, toks[u.j] AS w1, toks[u.j + 1] AS w2
             |  FROM t, unnest(range(1, len(toks))) AS u(j)),
             |tg AS (SELECT doc_id, toks[u.j] AS w1, toks[u.j + 1] AS w2,
             |    toks[u.j + 2] AS w3
             |  FROM t, unnest(range(1, len(toks) - 1)) AS u(j)),
             |uni AS (SELECT u.w AS word, count(*) AS cu
             |  FROM t, unnest(toks) AS u(w) WHERE doc_id % 2 = 0
             |  GROUP BY 1),
             |bi AS (SELECT w1, w2, count(*) AS cb FROM bg
             |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
             |tri AS (SELECT w1, w2, w3, count(*) AS ct FROM tg
             |  WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
             |s AS (SELECT tg.doc_id, count(*) AS nt,
             |    sum(CASE WHEN tri.ct IS NOT NULL THEN 1 ELSE 0 END)
             |      AS nh,
             |    sum(CASE WHEN tri.ct IS NULL AND b23.cb IS NOT NULL
             |        THEN 1 ELSE 0 END) AS n2,
             |    sum(CASE WHEN tri.ct IS NULL AND b23.cb IS NULL
             |        AND u3.cu IS NOT NULL THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN tri.ct IS NULL AND b23.cb IS NULL
             |        AND u3.cu IS NULL THEN 1 ELSE 0 END) AS nov
             |  FROM tg
             |  LEFT JOIN tri ON tg.w1 = tri.w1 AND tg.w2 = tri.w2
             |    AND tg.w3 = tri.w3
             |  LEFT JOIN bi b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
             |  LEFT JOIN uni u3 ON tg.w3 = u3.word
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |  cast(coalesce(s.nt, 0) AS BIGINT) AS n_trigrams,
             |  cast(coalesce(s.nh, 0) AS BIGINT) AS n_hit,
             |  cast(coalesce(s.n2, 0) AS BIGINT) AS n_back2,
             |  cast(coalesce(s.n1, 0) AS BIGINT) AS n_back1,
             |  cast(coalesce(s.nov, 0) AS BIGINT) AS n_oov
             |FROM (SELECT DISTINCT doc_id FROM documents) d
             |LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin)),

    // Hierarchical layered graph ANN (n40): the HNSW claim (Malkov &
    // Yashunin 2016 — the hierarchy's job is ADAPTIVE ENTRY) measured
    // on the straddle fixture. Three serves share the layer-0 edge
    // rule (degree 4 + cross 2) and budget (k=5, beam=2, hops=2):
    // the n31 flat graph with codebook-probed entries (75/100 hits,
    // max 23 visited at the pinned fixture), the same graph from ONE
    // fixed global entry — the single-layer NSW baseline, which
    // collapses to 5/100 because a low-degree walk cannot cross the
    // corpus in 2 hops — and the layered index descending from the
    // SAME single entry through two hash-leveled coarsened upper
    // layers (84/100, max 36). The gate pins: the hierarchy rescues
    // the single-entry regime, matches-or-beats the codebook-probed
    // serve (HNSW needs NO centroid probing per query), and its
    // upper-layer overhead stays within the formula bound
    // Σ_layers (upperBeam + upperHops·upperBeam·(degree+cross)) = 26.
    QueryDef("n40_ann_hnsw",
      (s, dir) => {
        val (corpus, cells, q) = straddleFixture(s, dir)
        val exact = Similarity.bruteForceTopK(q, corpus, 5)
          .select("q_id", "n_id")
        // the flat and layered builds are independent eager chains —
        // overlap them (par2 doc); so are the three serve walks and
        // the final scalar counts
        val (flatIdx, hnswIdx) = par2(
          GraphAnn.buildGraphIndex(corpus, nlist = 16,
            degree = 4, crossDegree = 2, centroids = Some(cells)),
          GraphAnn.buildHnswIndex(corpus, nlist = 16,
            degree = 4, crossDegree = 2, levelFanout = 8, maxLevel = 2,
            centroids = Some(cells)))
        // NSW baseline: identical graph + serve, every cell's entry
        // list replaced by the one hash-min global node
        val gEntry = flatIdx.nodes
          .select(col("n_id"), abs(xxhash64(col("n_id"))).as("__h"))
          .orderBy(col("__h"), col("n_id")).limit(1).head().getLong(0)
        val nswIdx = flatIdx.copy(entries = flatIdx.entries
          .select("cell").distinct()
          .withColumn("entry_id", lit(gEntry)).localCheckpoint())
        val (flat, nsw, hnsw) = par3(
          GraphAnn.queryGraphIndex(q, flatIdx, k = 5, beam = 2,
            hops = 2, entryProbes = 1),
          GraphAnn.queryGraphIndex(q, nswIdx, k = 5, beam = 2,
            hops = 2, entryProbes = 1),
          GraphAnn.queryHnswIndex(q, hnswIdx, k = 5, beam = 2,
            hops = 2, upperBeam = 1, upperHops = 2))
        def hits(approx: org.apache.spark.sql.DataFrame) =
          exact.join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"))
            .count()
        def maxVisited(r: org.apache.spark.sql.DataFrame) =
          r.select("q_id", "n_visited").distinct()
            .agg(max("n_visited")).head().getLong(0)
        val Seq(nq, hH, hN, hF, mvH, mvN) = parSeq[Long](Seq(
          () => q.count(), () => hits(hnsw), () => hits(nsw),
          () => hits(flat), () => maxVisited(hnsw),
          () => maxVisited(nsw)))
        val s2 = s
        import s2.implicits._
        Seq((nq, hH > hN, hH >= hF, mvH <= mvN + 26))
          .toDF("nq", "hierarchy_rescues_entry", "matches_probed",
            "overhead_bounded")
      },
      Some("SELECT 20::BIGINT AS nq, TRUE AS hierarchy_rescues_entry, " +
        "TRUE AS matches_probed, TRUE AS overhead_bounded")),

    // HNSW index LIFECYCLE (n41): the full verb set for the layered
    // tier — build the base index (vec_id < 400), save/load it,
    // append the 400-500 batch, delete the (vec_id % 10 == 7,
    // >= 20) slice — then pin STRUCTURAL equality with a from-scratch
    // build over the surviving corpus: per (layer, n_id), the stored
    // neighbor list must match array-for-array (levels are pure hash,
    // grids are frozen, and the redo paths re-run the one shared edge
    // rule, so equality is exact, not statistical). The delete slice
    // starts at 20 so both paths train identical first-16 cells.
    QueryDef("n41_hnsw_index_lifecycle",
      (s, dir) => {
        val e = embs(s, dir)
        val idxDir = "/tmp/graft_gate_hnswidx_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        // the lifecycle chain and its rebuild oracle are independent
        // eager pipelines — overlap them (par2 doc)
        val (fin, rebuilt) = par2(
          {
            val idx = GraphAnn.buildHnswIndex(
              e.filter(col("vec_id") < 400),
              nlist = 16, degree = 4, crossDegree = 2, levelFanout = 4,
              maxLevel = 2)
            IndexIo.Hnsw.save(idx, idxDir)
            val loaded = IndexIo.Hnsw.load(s, idxDir)
            val appended = GraphAnn.appendToHnswIndex(loaded,
              e.filter(col("vec_id") >= 400 && col("vec_id") < 500))
            GraphAnn.deleteFromHnswIndex(appended,
              e.filter(col("vec_id") % 10 === 7 && col("vec_id") >= 20)
                .select("vec_id"))
          },
          GraphAnn.buildHnswIndex(
            e.filter(col("vec_id") < 500 &&
              !(col("vec_id") % 10 === 7 && col("vec_id") >= 20)),
            nlist = 16, degree = 4, crossDegree = 2, levelFanout = 4,
            maxLevel = 2))
        fin.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_inc"))
          .join(rebuilt.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_reb")), Seq("layer", "n_id"), "full")
          .groupBy("n_id")
          .agg((count(lit(1)) === sum(when(
            col("nb_inc") === col("nb_reb"), 1).otherwise(0)))
            .as("lifecycle_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS lifecycle_exact
             |FROM embeddings
             |WHERE vec_id < 500
             |  AND NOT (vec_id % 10 = 7 AND vec_id >= 20)""".stripMargin)),

    // Sharded parallel build + merge, flat tier (n46): the 100 TB
    // build-side recipe the append verbs cannot express — one build
    // job per shard run CONCURRENTLY, then merge (the FAISS
    // merge_from / DiskANN sharded-build shape). The gate pins EXACT
    // rebuild-equivalence of merge(build(A), build(B)) with the
    // one-shot build over A ∪ B under ID sharding — the worst-case
    // geometry where every cell is co-occupied and the entire edge
    // set re-runs — per node (neighbor lists array-for-array) AND per
    // cell (hash-spread entry picks as a set). Spatial sharding (the
    // cheap regime, merge ∝ boundary) is spec-pinned in GraphAnnSpec.
    QueryDef("n46_graph_index_merge",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val cells = Similarity.firstVectors(e, 16)
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells))
        // the two shard builds and the union oracle are independent
        // eager chains — overlap them (par2 doc)
        val (bA, bB, union) = par3(
          build(e.filter(col("vec_id") < 250)),
          build(e.filter(col("vec_id") >= 250)),
          build(e))
        val merged = GraphAnn.mergeGraphIndexes(bA, bB)
        val entriesOk = setEqual(Seq((merged.entries, union.entries)))
        merged.nodes.select(col("n_id"), col("neighbors").as("nb_m"))
          .join(union.nodes.select(col("n_id"),
            col("neighbors").as("nb_u")), Seq("n_id"), "full")
          .select(col("n_id"),
            (col("nb_m") === col("nb_u")).as("nbrs_exact"),
            lit(entriesOk).as("entries_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS entries_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Sharded parallel build + merge, layered tier (n47): the n46
    // verb at the HNSW tier, pinned with the n41 discipline — per
    // (layer, n_id), the merged index's neighbor list must equal the
    // one-shot union build's array-for-array (levels are pure id
    // hash, so each shard already assigned the union's levels; grids
    // coarsen from the one frozen codebook).
    QueryDef("n47_hnsw_index_merge",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val cells = Similarity.firstVectors(e, 16)
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildHnswIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, levelFanout = 4, maxLevel = 2,
            centroids = Some(cells))
        // shard builds and the union oracle are independent eager
        // chains — overlap them (par2 doc)
        val (bA, bB, union) = par3(
          build(e.filter(col("vec_id") % 2 === 0)),
          build(e.filter(col("vec_id") % 2 === 1)),
          build(e))
        val merged = GraphAnn.mergeHnswIndexes(bA, bB)
        merged.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_m"))
          .join(union.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_u")), Seq("layer", "n_id"), "full")
          .groupBy("n_id")
          .agg((count(lit(1)) === sum(when(
            col("nb_m") === col("nb_u"), 1).otherwise(0)))
            .as("merge_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS merge_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Index compaction (n48): the lifecycle-closing verb — after an
    // append + delete chain, compact re-runs the build over the
    // CURRENT members (node tables carry the floats; cells frozen),
    // collapsing the incremental lineage into the from-scratch
    // layout. Because every verb in the chain is rebuild-equivalent,
    // the compacted content must equal the surviving-corpus build
    // EXACTLY — flat tier per node, layered tier per (layer, n_id).
    QueryDef("n48_index_compact",
      (s, dir) => {
        val e = embs(s, dir)
        val cells = Similarity.firstVectors(
          e.filter(col("vec_id") < 400), 16)
        val batch = e.filter(col("vec_id") >= 400 && col("vec_id") < 500)
        val delIds = e.filter(col("vec_id") % 10 === 3 &&
          col("vec_id") >= 20).select("vec_id")
        val surv = e.filter(col("vec_id") < 500 &&
          !(col("vec_id") % 10 === 3 && col("vec_id") >= 20))
        // four independent eager chains — the flat lifecycle, its
        // rebuild oracle, the layered lifecycle, its rebuild oracle —
        // overlap them (par2 doc)
        val (compF, rebF, compH, rebH) = par4(
          GraphAnn.compactGraphIndex(
            GraphAnn.deleteFromGraphIndex(
              GraphAnn.appendToGraphIndex(
                GraphAnn.buildGraphIndex(e.filter(col("vec_id") < 400),
                  nlist = 16, degree = 4, crossDegree = 2,
                  centroids = Some(cells)), batch), delIds)),
          GraphAnn.buildGraphIndex(surv, nlist = 16,
            degree = 4, crossDegree = 2, centroids = Some(cells)),
          GraphAnn.compactHnswIndex(
            GraphAnn.deleteFromHnswIndex(
              GraphAnn.appendToHnswIndex(
                GraphAnn.buildHnswIndex(e.filter(col("vec_id") < 400),
                  nlist = 16, degree = 4, crossDegree = 2,
                  levelFanout = 4, maxLevel = 2,
                  centroids = Some(cells)), batch), delIds)),
          GraphAnn.buildHnswIndex(surv, nlist = 16,
            degree = 4, crossDegree = 2, levelFanout = 4, maxLevel = 2,
            centroids = Some(cells)))
        val flat = compF.nodes
          .select(col("n_id"), col("neighbors").as("nb_c"))
          .join(rebF.nodes.select(col("n_id"),
            col("neighbors").as("nb_r")), Seq("n_id"), "full")
          .select(col("n_id"), (col("nb_c") === col("nb_r"))
            .as("flat_exact"))
        val layered = compH.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_c"))
          .join(rebH.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_r")), Seq("layer", "n_id"), "full")
          .groupBy("n_id")
          .agg((count(lit(1)) === sum(when(
            col("nb_c") === col("nb_r"), 1).otherwise(0)))
            .as("layered_exact"))
        flat.join(layered, Seq("n_id"), "full")
      },
      Some("""SELECT vec_id AS n_id, TRUE AS flat_exact,
             |  TRUE AS layered_exact
             |FROM embeddings
             |WHERE vec_id < 500
             |  AND NOT (vec_id % 10 = 3 AND vec_id >= 20)""".stripMargin)),

    // IVF-PQ sharded merge (n49): the FAISS merge_from shape — per-row
    // assign/encode against FROZEN shared artifacts is row-independent,
    // so merge(build(A), build(B)) is union-by-construction and the
    // probe-all serve over the merged index must reproduce the union
    // build's ranks row-for-row.
    QueryDef("n49_ivfpq_index_merge",
      (s, dir) => {
        val e = embs(s, dir)
        val union = Similarity.buildIvfPqIndex(e, nlist = 32, m = 16,
          ks = 64)
        def shard(c: org.apache.spark.sql.DataFrame) =
          Similarity.buildIvfPqIndex(c, nlist = 32, m = 16, ks = 64,
            centroids = Some(union.cells),
            codebook = Some(union.codebook))
        // the two shard builds only share FROZEN artifacts — overlap
        // them (par2 doc)
        val (shA, shB) = par2(
          shard(e.filter(col("vec_id") % 2 === 0)),
          shard(e.filter(col("vec_id") % 2 === 1)))
        val merged = Similarity.mergeIvfPqIndexes(shA, shB)
        val q = e.filter(col("vec_id") < 20)
        val base = Similarity.queryIvfPqIndex(q, union, 5, nprobe = 32)
          .select("q_id", "n_id", "rank")
        val got = Similarity.queryIvfPqIndex(q, merged, 5, nprobe = 32)
          .select("q_id", "n_id", "rank")
        base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_merged"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_merged"), 1).otherwise(0)))
            .as("merge_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS merge_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // HNSW-PQ + full-precision re-rank (n50): the DiskANN serve
    // completed — ADC navigates and prunes, the final k re-ranks in
    // exact float over a bounded |Q|·rerankK fetch. Saturated (one
    // cell, full out-degree, rerank over every visited candidate) the
    // composition must reproduce EXACT brute force row-for-row:
    // quantization error is confined to candidate recall, and a
    // saturated walk has perfect recall, so the float re-rank erases
    // the codes from the final answer entirely.
    QueryDef("n50_hnsw_pq_rerank",
      (s, dir) => {
        val e = embs(s, dir)
        val n = e.count().toInt
        val q = e.filter(col("vec_id") < 20)
        val idx = GraphAnn.buildHnswPqIndex(e, nlist = 1,
          degree = n - 1, crossDegree = 0, levelFanout = 8,
          maxLevel = 2, m = 16, ks = 64)
        val got = GraphAnn.queryHnswPqIndexReranked(q, idx, e, k = 5,
            rerankK = n, beam = 5, hops = 1, upperBeam = 1,
            upperHops = 1)
          .select("q_id", "n_id", "rank")
        val base = Similarity.bruteForceTopK(q, e, 5)
          .select("q_id", "n_id", "rank")
        base.withColumnRenamed("rank", "rank_base")
          .join(got.withColumnRenamed("rank", "rank_rr"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_rr"), 1).otherwise(0)))
            .as("rerank_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS rerank_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Compressed-tier lifecycle by projection (n51): the sharded
    // recipe for the PQ graph tiers is merge-at-the-float-tier, then
    // ONE row-independent encode — previously that last step routed
    // through buildHnswPqIndex, which re-runs the entire float build
    // on the union (the exact cost the merge verb avoids).
    // encodeHnswIndex is the missing pure projection; the gate pins
    // encode(mergeHnswIndexes(build(even), build(odd))) against the
    // one-shot compressed build under the union's frozen
    // codebook+cells — codes per node AND neighbor lists per
    // (layer, n_id). The flat tier (encodeGraphIndex) and the
    // append/delete/compact compositions are spec-pinned.
    QueryDef("n51_pq_encode_merge",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val cells = Similarity.firstVectors(e, 16)
        def shard(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildHnswIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, levelFanout = 4, maxLevel = 2,
            centroids = Some(cells))
        // the union oracle and the two float shard builds are
        // independent eager chains — overlap them (par2 doc); only the
        // final encode needs the union's codebook
        val (union, shEven, shOdd) = par3(
          GraphAnn.buildHnswPqIndex(e, nlist = 16,
            degree = 4, crossDegree = 2, levelFanout = 4, maxLevel = 2,
            m = 16, ks = 16, centroids = Some(cells)),
          shard(e.filter(col("vec_id") % 2 === 0)),
          shard(e.filter(col("vec_id") % 2 === 1)))
        val merged = GraphAnn.encodeHnswIndex(
          GraphAnn.mergeHnswIndexes(shEven, shOdd),
          m = 16, ks = 16, codebook = Some(union.codebook))
        val codesOk = merged.nodes
          .select(col("n_id"), col("codes").as("c_m"))
          .join(union.nodes.select(col("n_id"), col("codes").as("c_u")),
            Seq("n_id"), "full")
          .select(col("n_id"), (col("c_m") === col("c_u"))
            .as("codes_exact"))
        val adjOk = merged.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_m"))
          .join(union.adj.select(col("layer"), col("n_id"),
            col("neighbors").as("nb_u")), Seq("layer", "n_id"), "full")
          .groupBy("n_id")
          .agg((count(lit(1)) === sum(when(
            col("nb_m") === col("nb_u"), 1).otherwise(0)))
            .as("adj_exact"))
        codesOk.join(adjOk, Seq("n_id"), "full")
      },
      Some("""SELECT vec_id AS n_id, TRUE AS codes_exact,
             |  TRUE AS adj_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Cell-partitioned serving layout (n52): the on-disk analog of
    // FAISS's per-inverted-list storage — the code table PARTITIONED
    // BY cell, and the pruned serve pushes the probed-cell set to the
    // scan as a STATIC partition filter (the set is bounded by nlist,
    // a driver-held artifact, so collecting it is scale-free). At
    // 100 TB the serve reads nprobe/nlist of the code bytes instead
    // of the whole encoded corpus. Pins the pruned serve over the
    // reloaded partitioned layout to the exhaustive residual scan at
    // probe-all AND to the unpruned serve at partial probes; the
    // scan-level PartitionFilters pin is spec-side (IndexPersistSpec).
    QueryDef("n52_ivfpq_partitioned_serve",
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val idxDir = "/tmp/graft_gate_ivfpq_part_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        IndexIo.IvfPq.savePartitioned(
          Similarity.buildIvfPqIndex(e, nlist = 32, m = 16, ks = 64),
          idxDir)
        val loaded = IndexIo.IvfPq.load(s, idxDir)
        val all = Similarity.queryIvfPqIndexPruned(q, loaded, 5,
            nprobe = 32)
          .select("q_id", "n_id", "rank")
        val base = Similarity.pqResidualTopK(q, e, 5, nlist = 32,
            m = 16, ks = 64)
          .select("q_id", "n_id", "rank")
        val partPruned = Similarity.queryIvfPqIndexPruned(q, loaded, 5,
            nprobe = 4)
          .select("q_id", "n_id", "rank")
        val partPlain = Similarity.queryIvfPqIndex(q, loaded, 5,
            nprobe = 4)
          .select("q_id", "n_id", "rank")
        val j1 = base.withColumnRenamed("rank", "rank_base")
          .join(all.withColumnRenamed("rank", "rank_pruned"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_base") === col("rank_pruned"), 1).otherwise(0)))
            .as("probeall_exact"))
        val j2 = partPlain.withColumnRenamed("rank", "rank_plain")
          .join(partPruned.withColumnRenamed("rank", "rank_pruned"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("rank_plain") === col("rank_pruned"), 1).otherwise(0)))
            .as("partial_exact"))
        j1.join(j2, Seq("q_id"), "full")
      },
      Some("""SELECT vec_id AS q_id, TRUE AS probeall_exact,
             |  TRUE AS partial_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Bucketed graph persistence (n53): the d31/d35 layout discipline
    // applied to the graph tiers — nodes (flat) and nodes+adj
    // (layered) bucketBy(n_id), so the shuffle-hash serve regime's
    // per-hop expansion and scoring joins read PRE-PARTITIONED corpus
    // relations and exchange only the frontier (the plan property is
    // spec-pinned; per-layer filters preserve bucket partitioning).
    // The gate pins serve equality across layouts in the shuffle
    // regime, both tiers, against the in-memory index serve.
    QueryDef("n53_graph_bucketed_serve",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 600)
        val q = embs(s, dir).filter(col("vec_id") < 20)
        val cells = Similarity.firstVectors(e, 16)
        val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
        val hDir = s"/tmp/graft_gate_hnsw_bkt_$safe"
        val gDir = s"/tmp/graft_gate_graph_bkt_$safe"
        // the layered and flat build+save chains are independent eager
        // pipelines — overlap them (par2 doc)
        val (h, g) = par2(
          {
            val hi = GraphAnn.buildHnswIndex(e, nlist = 16, degree = 4,
              crossDegree = 2, levelFanout = 4, maxLevel = 2,
              centroids = Some(cells))
            IndexIo.Hnsw.saveBucketed(hi, hDir, "gate_n53_hnsw",
              buckets = 8)
            hi
          },
          {
            val gi = GraphAnn.buildGraphIndex(e, nlist = 16, degree = 4,
              crossDegree = 2, centroids = Some(cells))
            IndexIo.Graph.saveBucketed(gi, gDir, "gate_n53_graph",
              buckets = 8)
            gi
          })
        // ONE hop per layer: the pin is round-trip EQUALITY (mem vs
        // bucketed serve over identical adjacency/entries/levels), and
        // equality is hop-count-independent — every extra hop re-walks
        // the same loaded tables through another ~1 s shuffle-join
        // round ×4 serves (the round-14 suite-cost item; measured 20 s
        // → 11 s serve wall at hops 2→1 with the pin unchanged).
        def hServe(i: GraphAnn.HnswIndex) =
          GraphAnn.queryHnswIndex(q, i, k = 5, beam = 3, hops = 1,
            upperBeam = 1, upperHops = 1,
            broadcastFrontier = Some(false))
            .select("q_id", "n_id", "rank")
        def gServe(i: GraphAnn.GraphIndex) =
          GraphAnn.queryGraphIndex(q, i, k = 5, beam = 3, hops = 1,
            broadcastFrontier = Some(false))
            .select("q_id", "n_id", "rank")
        // the four serve walks (mem + bucketed, both tiers) are
        // independent eager chains — overlap them (par2 doc)
        val (hMem, hBkt, gMem, gBkt) = par4(
          hServe(h),
          hServe(IndexIo.Hnsw.loadBucketed(s, hDir, "gate_n53_hnsw")._1),
          gServe(g),
          gServe(IndexIo.Graph.loadBucketed(s, gDir, "gate_n53_graph")._1))
        val hOk = hMem.withColumnRenamed("rank", "r_mem")
          .join(hBkt.withColumnRenamed("rank", "r_bkt"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_mem") === col("r_bkt"), 1).otherwise(0)))
            .as("hnsw_exact"))
        val gOk = gMem.withColumnRenamed("rank", "r_mem")
          .join(gBkt.withColumnRenamed("rank", "r_bkt"),
            Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_mem") === col("r_bkt"), 1).otherwise(0)))
            .as("graph_exact"))
        hOk.join(gOk, Seq("q_id"), "full")
      },
      Some("""SELECT vec_id AS q_id, TRUE AS hnsw_exact,
             |  TRUE AS graph_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Spatial shard assignment (n54): the missing producer for the
    // merge verbs' cheap regime — shardByCells cuts the frozen
    // codebook into CONTIGUOUS cell ranges (occupancy-weighted, so
    // skewed codebooks still balance the build jobs), which confines
    // shard co-occupancy to probe spillover at the range boundaries
    // and makes the merge boundary-priced (the scale note the verbs
    // carry; measured on a clustered corpus, PLANS.md Round-13 "The
    // boundary-priced claim"). The gate pins: the assignment is
    // DETERMINISTIC (two invocations agree cell-for-cell), the ranges
    // are contiguous and non-decreasing with every shard represented,
    // every row lands in [0, nShards), and the sharded build + merge
    // reproduces the one-shot union build exactly (the n46 equality
    // under the PRODUCED shards instead of hand-written filters).
    QueryDef("n54_spatial_shard_merge",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val cells = Similarity.firstVectors(e, 16)
        val nShards = 3
        val map1 = Similarity.shardCellMap(e, cells, nShards)
        val map2 = Similarity.shardCellMap(e, cells, nShards)
        val deterministic = map1.sameElements(map2)
        val contiguous = map1.sliding(2).forall(p =>
          p.length < 2 || (p(1) == p(0) || p(1) == p(0) + 1))
        val allShards = map1.head == 0 && map1.last == nShards - 1
        val sharded = Similarity.shardByCells(e, cells, nShards)
          .localCheckpoint()
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c.drop("shard"), nlist = 16,
            degree = 4, crossDegree = 2, centroids = Some(cells))
        // shard builds + the union oracle are independent eager chains
        // over the checkpointed assignment — overlap them (par2 doc)
        val (shardIdx, union) = par2(
          parSeq((0 until nShards).map(k =>
            () => build(sharded.filter(col("shard") === k)))),
          build(sharded))
        val merged = shardIdx.reduce(GraphAnn.mergeGraphIndexes)
        merged.nodes.select(col("n_id"), col("neighbors").as("nb_m"))
          .join(union.nodes.select(col("n_id"),
            col("neighbors").as("nb_u")), Seq("n_id"), "full")
          .join(sharded.select(col("vec_id").as("n_id"), col("shard")),
            Seq("n_id"), "full")
          .select(col("n_id"),
            lit(deterministic).as("shard_det"),
            lit(contiguous).as("ranges_contiguous"),
            lit(allShards).as("all_shards_used"),
            (col("shard") >= 0 && col("shard") < nShards).as("in_range"),
            (col("nb_m") === col("nb_u")).as("nbrs_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS shard_det,
             |  TRUE AS ranges_contiguous, TRUE AS all_shards_used,
             |  TRUE AS in_range, TRUE AS nbrs_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Merge associativity (n55): the 100 TB recipe is a REDUCE over
    // many shard indexes, not one pair — so pairwise
    // rebuild-equivalence (n46) must COMPOSE. Pins
    // merge(merge(A, B), C) against the one-shot build over
    // A ∪ B ∪ C, per node (neighbor lists) AND per cell (entry picks
    // as a set), under id-interleaved shards — the worst-case
    // geometry where every cell is co-occupied at every step.
    QueryDef("n55_merge_associativity",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val cells = Similarity.firstVectors(e, 16)
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells))
        // three shard builds + the union oracle are independent eager
        // chains — overlap them (par2 doc); the merge steps stay the
        // associativity order under test
        val (b0, b1, b2, union) = par4(
          build(e.filter(col("vec_id") % 3 === 0)),
          build(e.filter(col("vec_id") % 3 === 1)),
          build(e.filter(col("vec_id") % 3 === 2)),
          build(e))
        val merged = GraphAnn.mergeGraphIndexes(
          GraphAnn.mergeGraphIndexes(b0, b1), b2)
        val entriesOk = setEqual(Seq((merged.entries, union.entries)))
        merged.nodes.select(col("n_id"), col("neighbors").as("nb_m"))
          .join(union.nodes.select(col("n_id"),
            col("neighbors").as("nb_u")), Seq("n_id"), "full")
          .select(col("n_id"),
            (col("nb_m") === col("nb_u")).as("nbrs_exact"),
            lit(entriesOk).as("entries_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS entries_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Scatter-gather IVF-PQ serve (n56): the OTHER half of the sharded
    // recipe — where n49/n54 stitch shards into one index, this serves
    // the shards UNMERGED (FAISS IndexShards / distributed-DiskANN
    // scatter-gather): per-shard top-k, one bounded |shards|·|Q|·k
    // gather. Exact for IVF-PQ because candidates are cell-confined.
    // The gate pins three claims: unrouted scatter ≡ the merged-index
    // serve (per (q_id, n_id, rank)); ROUTED scatter (cellShardMap
    // from shardByCells) ≡ unrouted at nprobe=1 where the queries'
    // home cells all live in one shard — so routing provably SKIPPED
    // shards (routing_skips pins touched < nShards) without changing
    // one row.
    QueryDef("n56_ivfpq_scatter_serve",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val full = Similarity.buildIvfPqIndex(e, nlist = 16, m = 16,
          ks = 16)
        val map = Similarity.shardCellMap(e, full.cells, 3)
        val sharded = Similarity.shardByCells(e, full.cells, 3)
          .localCheckpoint()
        // the three shard builds only share FROZEN artifacts — overlap
        // them (par2 doc)
        val shards = parSeq((0 until 3).map(i =>
          () => Similarity.buildIvfPqIndex(
            sharded.filter(col("shard") === i).drop("shard"),
            nlist = 16, m = 16, ks = 16,
            centroids = Some(full.cells),
            codebook = Some(full.codebook))))
        val q = e.filter(col("vec_id") < 20)
        val merged = Similarity.queryIvfPqIndex(q, full, 5, nprobe = 4)
          .select(col("q_id"), col("n_id"), col("rank").as("r_merged"))
        val scatter = Similarity.queryIvfPqIndexScatter(q, shards, 5,
            nprobe = 4)
          .select(col("q_id"), col("n_id"), col("rank").as("r_scatter"))
        val scatterOk = merged.join(scatter, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_merged") === col("r_scatter"), 1).otherwise(0)))
            .as("scatter_exact"))
        // routing: home-cell queries of shard 0 at nprobe=1 probe ONLY
        // cells shard 0 owns, so the router must serve exactly one
        // shard — and still answer identically to the full fan-out
        val qHome = sharded.filter(col("shard") === 0).drop("shard")
          .orderBy("vec_id").limit(20).localCheckpoint()
        val touched = qHome
          .select(graft.functions.Centroids.centroidAssign(
            col("embedding"), full.cells).as("cell"))
          .distinct().collect().map(r => map(r.getInt(0) - 1)).toSet
        val routingSkips = touched.size < 3
        val unrouted = Similarity.queryIvfPqIndexScatter(qHome, shards,
            5, nprobe = 1)
          .select(col("q_id"), col("n_id"), col("rank").as("r_unrouted"))
        val routed = Similarity.queryIvfPqIndexScatter(qHome, shards, 5,
            nprobe = 1, cellShardMap = Some(map))
          .select(col("q_id"), col("n_id"), col("rank").as("r_routed"))
        // fold the routed-equality check to ONE boolean (its q_ids are
        // the home-cell batch, not the reported one) so the gate's row
        // set stays the canonical 20 query ids
        val routedExactAll = unrouted
          .join(routed, Seq("q_id", "n_id"), "full")
          .agg(coalesce(min(when(col("r_unrouted") === col("r_routed"),
            1).otherwise(0)), lit(0)).as("ok"))
          .head().getInt(0) == 1
        scatterOk.select(col("q_id"), col("scatter_exact"),
          lit(routingSkips).as("routing_skips"),
          lit(routedExactAll).as("routed_exact_all"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS scatter_exact,
             |  TRUE AS routing_skips, TRUE AS routed_exact_all
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Scatter-gather exactness (n57): the gather fold itself, pinned
    // against ground truth — exhaustive per-shard top-k over three
    // id-sliced corpora, folded by gatherTopK, must equal the global
    // brute-force top-k row for row (rank AND neighbor). This is the
    // fold every sharded serve (n56, the graph/HNSW fan-outs) stands
    // on: per-shard top-k keeps every global winner, and the shared
    // (score, id) tie order makes the re-rank deterministic.
    QueryDef("n57_scatter_gather_bruteforce",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val q = e.filter(col("vec_id") < 20)
        val shardCorpora = (0 until 3).map(i =>
          e.filter(col("vec_id") % 3 === i))
        val scattered = Similarity.bruteForceTopKSharded(q, shardCorpora,
            5)
          .select(col("q_id"), col("n_id"), col("rank").as("r_scat"))
        val global = Similarity.bruteForceTopK(q, e, 5)
          .select(col("q_id"), col("n_id"), col("rank").as("r_glob"))
        global.join(scattered, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_glob") === col("r_scat"), 1).otherwise(0)))
            .as("gather_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS gather_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Shard rebalance (n58): the lifecycle verb between
    // build-per-shard (n54) and merge/serve — when occupancy drifts,
    // re-cut the cell→shard map and MOVE only the rows whose shard
    // changed (delete-movers ∘ append-movers over the rebuild-exact
    // incremental verbs; work ∝ moved rows, never the corpus). The
    // gate drifts the n54 cut by one boundary cell, rebalances two
    // flat-graph shards, and pins per-shard neighbor-list AND entry
    // equality against FRESH builds over the new slices, plus that
    // the move was genuinely partial (0 < moved < all).
    QueryDef("n58_shard_rebalance",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val cells = Similarity.firstVectors(e, 16)
        val assign = graft.functions.Centroids.centroidAssign(
          col("embedding"), cells)
        val map1 = Similarity.shardCellMap(e, cells, 2)
        // drifted cut: flip shard 1's first NON-EMPTY cell to shard 0
        // (non-empty so the move provably happens)
        val occ = e.select(assign.as("cell")).groupBy("cell").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val b = map1.indices
          .find(c => map1(c) == 1 && occ.getOrElse(c + 1, 0L) > 0)
          .getOrElse(sys.error(
            "n58: shard 1 owns no non-empty cell — cannot stage drift"))
        val map2 = map1.clone(); map2(b) = 0
        def slice(map: Array[Int], i: Int) = e.filter(
          element_at(lit(map), assign) === i)
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells))
        val moved = occ.getOrElse(b + 1, 0L)
        // the graph tier and the IVF-PQ tier exercise the SAME drift
        // on disjoint state — two independent eager chains, and inside
        // each the per-shard builds only share frozen inputs: overlap
        // them all (par2 doc); the equality checks fold to one action
        // per tier (setEqual doc)
        val ((rebalanced, fresh, movedPartial, entriesOk),
             (rebPq, ivfpqOk)) = par2(
          {
            val (shards1, freshB) = par2(
              parSeq((0 until 2).map(i => () => build(slice(map1, i)))),
              parSeq((0 until 2).map(i => () => build(slice(map2, i)))))
            val reb = GraphAnn.rebalanceGraphShards(shards1, map1, map2)
            val mp = moved > 0 && moved < e.count()
            val eq = setEqual((0 until 2).map(i =>
              (reb(i).entries, freshB(i).entries)))
            (reb, freshB, mp, eq)
          },
          {
            // the IVF-PQ tier under the SAME drift: rebalanced code
            // tables must equal fresh builds over the new slices
            // (per-row assign/encode is row-independent under the
            // shared frozen artifacts)
            val fullPq = Similarity.buildIvfPqIndex(e, nlist = 16,
              m = 16, ks = 16)
            def buildPq(c: org.apache.spark.sql.DataFrame) =
              Similarity.buildIvfPqIndex(c, nlist = 16, m = 16, ks = 16,
                centroids = Some(fullPq.cells),
                codebook = Some(fullPq.codebook))
            val assignPq = graft.functions.Centroids.centroidAssign(
              col("embedding"), fullPq.cells)
            val map1Pq = Similarity.shardCellMap(e, fullPq.cells, 2)
            // mirror the graph-tier pick: drift shard 1's first
            // NON-EMPTY cell, so the IVF-PQ move provably happens (an
            // empty-cell flip would pass the equality trivially
            // without exercising the rebalance verb at all)
            val occPq = e.select(assignPq.as("cell")).groupBy("cell")
              .count().collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap
            val bPq = map1Pq.indices
              .find(c =>
                map1Pq(c) == 1 && occPq.getOrElse(c + 1, 0L) > 0)
              .get
            val map2Pq = map1Pq.clone(); map2Pq(bPq) = 0
            def slicePq(map: Array[Int], i: Int) = e.filter(
              element_at(lit(map), assignPq) === i)
            val (shardsPq, freshPq) = par2(
              parSeq((0 until 2).map(i =>
                () => buildPq(slicePq(map1Pq, i)))),
              parSeq((0 until 2).map(i =>
                () => buildPq(slicePq(map2Pq, i)))))
            val reb = Similarity.rebalanceIvfPqShards(shardsPq,
              map1Pq, map2Pq)
            val ok = occPq.getOrElse(bPq + 1, 0L) > 0 &&
              setEqual((0 until 2).map(i =>
                (reb(i).codes, freshPq(i).codes)))
            (reb, ok)
          })
        (0 until 2).map { i =>
          rebalanced(i).nodes
            .select(col("n_id"), col("neighbors").as("nb_r"))
            .join(fresh(i).nodes
              .select(col("n_id"), col("neighbors").as("nb_f")),
              Seq("n_id"), "full")
            .select(col("n_id"),
              (col("nb_r") === col("nb_f")).as("ok"))
        }.reduce(_.unionByName(_))
          .groupBy("n_id")
          .agg((min(when(col("ok"), 1).otherwise(0)) === 1)
            .as("nbrs_exact"))
          .select(col("n_id"), col("nbrs_exact"),
            lit(movedPartial).as("moved_partial"),
            lit(entriesOk).as("entries_exact"),
            lit(ivfpqOk).as("ivfpq_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS moved_partial, TRUE AS entries_exact,
             |  TRUE AS ivfpq_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Stream-legal scatter serve (n59): the aggregate form of n56 —
    // per-shard candidates union into ONE bounded-heap top-k per
    // query, so the scatter-gather bound (≤ k rows per query per map
    // task) comes free from partial aggregation and the plan is legal
    // under a readStream of queries (no window, no driver collect;
    // StreamingScatterServeSpec runs it as |shards| stream-static
    // joins). The gate pins exact equality with the merged-index
    // window serve, rank for rank — same tie order through the heap's
    // (score desc, id asc) under score = −adc.
    QueryDef("n59_ivfpq_scatter_agg",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
        val full = Similarity.buildIvfPqIndex(e, nlist = 16, m = 16,
          ks = 16)
        val sharded = Similarity.shardByCells(e, full.cells, 3)
          .localCheckpoint()
        val shards = (0 until 3).map(i =>
          Similarity.buildIvfPqIndex(
            sharded.filter(col("shard") === i).drop("shard"),
            nlist = 16, m = 16, ks = 16,
            centroids = Some(full.cells),
            codebook = Some(full.codebook)))
        val q = e.filter(col("vec_id") < 20)
        val merged = Similarity.queryIvfPqIndex(q, full, 5, nprobe = 4)
          .select(col("q_id"), col("n_id"), col("rank").as("r_merged"))
        val agg = Similarity.queryIvfPqIndexScatterAgg(q, shards, 5,
            nprobe = 4)
          .select(col("q_id"), col("n_id"), col("rank").as("r_agg"))
        merged.join(agg, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_merged") === col("r_agg"), 1).otherwise(0)))
            .as("agg_exact"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS agg_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Stream-legal graph-tier scatter (n60): the n59 shape for the
    // graph/HNSW tiers. The beam walk cannot stream (a top-k pruning
    // aggregation per hop), so the stream-legal serve is the UNPRUNED
    // h-hop expansion — stateless stream-static joins feeding ONE
    // dedup bounded-heap fold (topKDistinct). Three pins: (1) the
    // aggregate scatter over shards equals the window-based gather
    // fold of the per-shard expansion serves, rank for rank (shards
    // partition ids, so the per-shard heaps keep every global winner
    // — the n57 argument); (2) saturated config (one cell, full
    // degree) reproduces brute force exactly — the expansion's
    // reach-everything degenerate case; (3) the layered tier's
    // stream serve equals the flat expansion over the same build
    // params (HNSW layer 0 IS the flat graph under the shared edge
    // rule, and its derived entries use the same hash rule).
    QueryDef("n60_graph_scatter_agg",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val cells = Similarity.firstVectors(e, 16)
        val sharded = Similarity.shardByCells(e, cells, 3)
          .localCheckpoint()
        // all six builds of this gate (three shards, the saturated
        // oracle, the layered + flat pair) are independent eager
        // chains — overlap them (par2 doc); the serves they feed are
        // stream-legal lazy plans
        val (gShards, sat, h, flat) = par4(
          parSeq((0 until 3).map(i => () => GraphAnn.buildGraphIndex(
            sharded.filter(col("shard") === i).drop("shard"),
            nlist = 16, degree = 4, crossDegree = 2,
            centroids = Some(cells)))),
          GraphAnn.buildGraphIndex(e, nlist = 1, degree = 999,
            crossDegree = 0),
          GraphAnn.buildHnswIndex(e, nlist = 16, degree = 4,
            crossDegree = 2, levelFanout = 8, maxLevel = 1,
            centroids = Some(cells)),
          GraphAnn.buildGraphIndex(e, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells)))
        val q = e.filter(col("vec_id") < 20)
        val agg = GraphAnn.queryGraphIndexShardedAgg(q, gShards, 5,
            hops = 2)
          .select(col("q_id"), col("n_id"), col("rank").as("r_agg"))
        val windowFold = Similarity.gatherTopK(
            gShards.map(sh => GraphAnn.queryGraphIndexExpand(q, sh, 5,
              hops = 2).drop("n_visited")),
            5, "sim", ascending = false)
          .select(col("q_id"), col("n_id"), col("rank").as("r_win"))
        val foldExact = agg.join(windowFold, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_agg") === col("r_win"), 1).otherwise(0)))
            .as("fold_exact"))
        val satServe = GraphAnn.queryGraphIndexExpand(q, sat, 5,
            hops = 1, entryProbes = 1)
          .select(col("q_id"), col("n_id"), col("rank").as("r_sat"))
        val brute = Similarity.bruteForceTopK(q, e, 5)
          .select(col("q_id"), col("n_id"), col("rank").as("r_bf"))
        val satExact = satServe.join(brute, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_sat") === col("r_bf"), 1).otherwise(0)))
            .as("sat_exact"))
        val hServe = GraphAnn.queryHnswIndexShardedAgg(q, Seq(h), 5,
            hops = 2)
          .select(col("q_id"), col("n_id"), col("rank").as("r_h"))
        val fServe = GraphAnn.queryGraphIndexExpand(q, flat, 5,
            hops = 2)
          .select(col("q_id"), col("n_id"), col("rank").as("r_f"))
        val l0Exact = hServe.join(fServe, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_h") === col("r_f"), 1).otherwise(0)))
            .as("hnsw_l0_exact"))
        foldExact.join(satExact, Seq("q_id"))
          .join(l0Exact, Seq("q_id"))
          .select("q_id", "fold_exact", "sat_exact", "hnsw_l0_exact")
      },
      Some("""SELECT vec_id AS q_id, TRUE AS fold_exact,
             |  TRUE AS sat_exact, TRUE AS hnsw_l0_exact
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Shard-routed append (n61): the nightly-ingest verb for a
    // sharded deployment — an arriving batch routes under the
    // deployment's FROZEN cell→shard map and each touched shard runs
    // its rebuild-exact append (one shared skeleton across tiers;
    // foreachBatch calls exactly this, StreamingShardedAppendSpec).
    // The gate pins, at the graph and code-table tiers: routed append
    // over a 2-shard deployment ≡ fresh builds over the grown
    // corpus's routed slices, per-node neighbor lists and per-row
    // codes, plus that routing is the frozen map (arrivals land by
    // map lookup, not a re-cut).
    QueryDef("n61_shard_routed_append",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val base = e.filter(col("vec_id") < 400)
        val batch = e.filter(col("vec_id") >= 400)
        val cells = Similarity.firstVectors(base, 16)
        val map = Similarity.shardCellMap(base, cells, 2)
        def slice(c: org.apache.spark.sql.DataFrame, i: Int) =
          Similarity.routeByCellMap(c, cells, map, 2)
            .filter(col("shard") === i).drop("shard")
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells))
        // the graph tier and the code-table tier are independent eager
        // chains over disjoint state; inside each the per-shard and
        // fresh-oracle builds only share frozen inputs — overlap them
        // all (par2 doc), and fold the code equality to one action
        // (setEqual doc)
        val ((grown, freshG), (grownPq, ivfpqOk)) = par2(
          {
            val (bShards, freshB) = par2(
              parSeq((0 until 2).map(i => () => build(slice(base, i)))),
              parSeq((0 until 2).map(i => () => build(slice(e, i)))))
            (GraphAnn.appendToGraphShards(bShards, batch, map), freshB)
          },
          {
            val fullPq = Similarity.buildIvfPqIndex(base, nlist = 16,
              m = 16, ks = 16)
            def buildPq(c: org.apache.spark.sql.DataFrame) =
              Similarity.buildIvfPqIndex(c, nlist = 16, m = 16, ks = 16,
                centroids = Some(fullPq.cells),
                codebook = Some(fullPq.codebook))
            // ONE routing map for the tier (it was recomputed — a full
            // corpus assign + aggregate — on every slicePq call)
            val mapPq = Similarity.shardCellMap(base, fullPq.cells, 2)
            def slicePq(c: org.apache.spark.sql.DataFrame, i: Int) =
              Similarity.routeByCellMap(c, fullPq.cells, mapPq, 2)
                .filter(col("shard") === i).drop("shard")
            val (bPq, freshPq) = par2(
              parSeq((0 until 2).map(i =>
                () => buildPq(slicePq(base, i)))),
              parSeq((0 until 2).map(i =>
                () => buildPq(slicePq(e, i)))))
            val gPq = Similarity.appendToIvfPqShards(bPq, batch, mapPq)
            val ok = setEqual((0 until 2).map(i =>
              (gPq(i).codes, freshPq(i).codes)))
            (gPq, ok)
          })
        (0 until 2).map { i =>
          grown(i).nodes
            .select(col("n_id"), col("neighbors").as("nb_g"))
            .join(freshG(i).nodes
              .select(col("n_id"), col("neighbors").as("nb_f")),
              Seq("n_id"), "full")
            .select(col("n_id"), (col("nb_g") === col("nb_f")).as("ok"))
        }.reduce(_.unionByName(_))
          .groupBy("n_id")
          .agg((min(when(col("ok"), 1).otherwise(0)) === 1)
            .as("nbrs_exact"))
          .select(col("n_id"), col("nbrs_exact"),
            lit(ivfpqOk).as("ivfpq_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS ivfpq_exact
             |FROM embeddings WHERE vec_id < 500""".stripMargin)),

    // Capstone deployment lifecycle (n62): the WHOLE sharded story
    // composed end-to-end on the code-table tier — fresh spatial cut →
    // per-shard builds → routed append of an arriving batch → drift
    // (one boundary cell re-homed) → state-derived rebalance → ROUTED
    // scatter serve — pinned EXACT, rank for rank, against ONE fresh
    // merged index built over the final corpus. Composes the n54/n56/
    // n58/n61 arguments: per-row assign/encode is row-independent
    // under the shared frozen artifacts (append and rebalance are
    // rebuild-exact), shards partition ids so per-shard top-k keeps
    // every global winner, and the cell-map routing only skips shards
    // that own none of a query's probed cells.
    QueryDef("n62_shard_lifecycle",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val base = e.filter(col("vec_id") < 400)
        val batch = e.filter(col("vec_id") >= 400)
        val full = Similarity.buildIvfPqIndex(base, nlist = 16, m = 16,
          ks = 16)
        def build(c: org.apache.spark.sql.DataFrame) =
          Similarity.buildIvfPqIndex(c, nlist = 16, m = 16, ks = 16,
            centroids = Some(full.cells),
            codebook = Some(full.codebook))
        def slice(c: org.apache.spark.sql.DataFrame, map: Array[Int],
                  i: Int) =
          Similarity.routeByCellMap(c, full.cells, map, 3)
            .filter(col("shard") === i).drop("shard")
        val map1 = Similarity.shardCellMap(base, full.cells, 3)
        // the three shard builds only share frozen artifacts — overlap
        // them (par2 doc)
        val grown = Similarity.appendToIvfPqShards(
          parSeq((0 until 3).map(i =>
            () => build(slice(base, map1, i)))), batch, map1)
        // drift: re-home shard 1's first NON-EMPTY cell (occupancy
        // over the FINAL corpus, so the move provably happens)
        val assign = graft.functions.Centroids.centroidAssign(
          col("embedding"), full.cells)
        val occ = e.select(assign.as("cell")).groupBy("cell").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val b = map1.indices
          .find(c => map1(c) == 1 && occ.getOrElse(c + 1, 0L) > 0)
          .getOrElse(sys.error(
            "n62: shard 1 owns no non-empty cell — cannot stage drift"))
        val map2 = map1.clone(); map2(b) = 0
        val reb = Similarity.rebalanceIvfPqShards(grown, map1, map2)
        // the fresh-slice oracles and the merged-serve oracle are
        // independent eager builds — overlap them (par2 doc); the
        // lifecycle state must equal fresh builds over the final
        // corpus's new slices (one action via setEqual)
        val (freshSlices, mergedIdx) = par2(
          parSeq((0 until 3).map(i => () => build(slice(e, map2, i)))),
          build(e))
        val stateOk = setEqual((0 until 3).map(i =>
          (reb(i).codes, freshSlices(i).codes)))
        // …and the ROUTED scatter serve over it equals the one-index
        // serve over the final corpus, rank for rank
        val q = e.filter(col("vec_id") < 20)
        val scatter = Similarity.queryIvfPqIndexScatter(q, reb, 5,
            nprobe = 4, cellShardMap = Some(map2))
          .select(col("q_id"), col("n_id"), col("rank").as("r_s"))
        val merged = Similarity.queryIvfPqIndex(q, mergedIdx, 5,
            nprobe = 4)
          .select(col("q_id"), col("n_id"), col("rank").as("r_m"))
        merged.join(scatter, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_m") === col("r_s"), 1).otherwise(0)))
            .as("serve_exact"))
          .select(col("q_id"), col("serve_exact"),
            lit(stateOk).as("state_exact"),
            lit(occ.getOrElse(b + 1, 0L) > 0).as("moved"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS serve_exact,
             |  TRUE AS state_exact, TRUE AS moved
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // State-derived re-cut (n63): the nightly drift loop with the
    // corpus NEVER read — occupancy from the shards' stored cell
    // columns (shardCellMapFromState), movers from state (the
    // rebalance verbs), one batched move. Pins: (1) the state-derived
    // map equals the corpus-derived map over exactly what the
    // deployment indexes (a stored cell IS its row's codebook
    // assignment); (2) the arriving batch is SKEWED into shard 0's
    // cells so the pro-rata boundary provably shifts (map_moved);
    // (3) rebalancing to the state-derived map equals fresh builds
    // over the new slices, neighbor list for neighbor list.
    QueryDef("n63_recut_from_state",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val base = e.filter(col("vec_id") < 400)
        val cells = Similarity.firstVectors(base, 16)
        val assign = graft.functions.Centroids.centroidAssign(
          col("embedding"), cells)
        val map1 = Similarity.shardCellMap(base, cells, 3)
        // drift: arrivals concentrated at the LOW end of the cell
        // order (home cell ≤ 5 — inside/near shard 0's contiguous
        // range), so the pro-rata boundaries shift left
        val batch = e.filter(col("vec_id") >= 400)
          .filter(assign <= 5)
        val indexedCorpus = base.unionByName(batch).localCheckpoint()
        def slice(c: org.apache.spark.sql.DataFrame, map: Array[Int],
                  i: Int) =
          Similarity.routeByCellMap(c, cells, map, 3)
            .filter(col("shard") === i).drop("shard")
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells))
        // the three shard builds only share frozen inputs — overlap
        // them (par2 doc)
        val grown = GraphAnn.appendToGraphShards(
          parSeq((0 until 3).map(i =>
            () => build(slice(base, map1, i)))), batch, map1)
        val map2 = Similarity.shardCellMapFromState(
          grown.map(_.nodes.select("cell")), 16, 3)
        val mapOk = map2.sameElements(
          Similarity.shardCellMap(indexedCorpus, cells, 3))
        val mapMoved = !map2.sameElements(map1)
        // the rebalance verb and the fresh-slice oracles are
        // independent eager chains — overlap them (par2 doc)
        val (reb, freshSlices) = par2(
          GraphAnn.rebalanceGraphShards(grown, map1, map2),
          parSeq((0 until 3).map(i =>
            () => build(slice(indexedCorpus, map2, i)))))
        (0 until 3).map { i =>
          reb(i).nodes
            .select(col("n_id"), col("neighbors").as("nb_r"))
            .join(freshSlices(i).nodes
              .select(col("n_id"), col("neighbors").as("nb_f")),
              Seq("n_id"), "full")
            .select(col("n_id"),
              (col("nb_r") === col("nb_f")).as("ok"))
        }.reduce(_.unionByName(_))
          .groupBy("n_id")
          .agg((min(when(col("ok"), 1).otherwise(0)) === 1)
            .as("nbrs_exact"))
          .select(col("n_id"), col("nbrs_exact"),
            lit(mapOk).as("map_from_state_exact"),
            lit(mapMoved).as("map_moved"))
      },
      Some(s"""WITH ${centSimsSql(16,
               where = " WHERE e.vec_id >= 400 AND e.vec_id < 500")},
             |home AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid, row_number() OVER (
             |      PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             |    FROM sims) WHERE rn = 1)
             |SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS map_from_state_exact, TRUE AS map_moved
             |FROM embeddings WHERE vec_id < 400
             |UNION ALL
             |SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS map_from_state_exact, TRUE AS map_moved
             |FROM home WHERE cid <= 4""".stripMargin)),

    // Routed sharded delete (n64): the last CRUD verb for a sharded
    // deployment — each id's owning shard comes from the shards' OWN
    // state (membership is ownership; no routing map, no corpus), and
    // the whole fleet's delete runs as one movers-out-only batched
    // move. Pins: delete ids that cross BOTH shards; the shrunk
    // shards equal fresh builds over the surviving slices (graph
    // neighbor lists + entries, IVF-PQ code tables).
    QueryDef("n64_shard_routed_delete",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val dels = e.filter(col("vec_id") % 7 === 0).select("vec_id")
        val surviving = e.filter(col("vec_id") % 7 =!= 0)
        val cells = Similarity.firstVectors(e, 16)
        val map = Similarity.shardCellMap(e, cells, 2)
        def slice(c: org.apache.spark.sql.DataFrame, i: Int) =
          Similarity.routeByCellMap(c, cells, map, 2)
            .filter(col("shard") === i).drop("shard")
        def build(c: org.apache.spark.sql.DataFrame) =
          GraphAnn.buildGraphIndex(c, nlist = 16, degree = 4,
            crossDegree = 2, centroids = Some(cells))
        // the graph tier and the code-table tier are independent eager
        // chains over disjoint state; inside each the per-shard and
        // fresh-survivor builds only share frozen inputs — overlap
        // them all (par2 doc). The fresh graph oracles are built ONCE
        // and reused by both the entry check and the neighbor-list
        // comparison (they were built twice); equality checks fold to
        // one action per tier (setEqual doc).
        val ((shrunk, freshG, entriesOk), (shrunkPq, ivfpqOk)) = par2(
          {
            val (bShards, freshB) = par2(
              parSeq((0 until 2).map(i => () => build(slice(e, i)))),
              parSeq((0 until 2).map(i =>
                () => build(slice(surviving, i)))))
            val shr = GraphAnn.deleteFromGraphShards(bShards, dels)
            val eq = setEqual((0 until 2).map(i =>
              (shr(i).entries, freshB(i).entries)))
            (shr, freshB, eq)
          },
          {
            val fullPq = Similarity.buildIvfPqIndex(e, nlist = 16,
              m = 16, ks = 16)
            def buildPq(c: org.apache.spark.sql.DataFrame) =
              Similarity.buildIvfPqIndex(c, nlist = 16, m = 16, ks = 16,
                centroids = Some(fullPq.cells),
                codebook = Some(fullPq.codebook))
            val mapPq = Similarity.shardCellMap(e, fullPq.cells, 2)
            def slicePq(c: org.apache.spark.sql.DataFrame, i: Int) =
              Similarity.routeByCellMap(c, fullPq.cells, mapPq, 2)
                .filter(col("shard") === i).drop("shard")
            val (bPq, freshPq) = par2(
              parSeq((0 until 2).map(i => () => buildPq(slicePq(e, i)))),
              parSeq((0 until 2).map(i =>
                () => buildPq(slicePq(surviving, i)))))
            val shrPq = Similarity.deleteFromIvfPqShards(bPq, dels)
            val ok = setEqual((0 until 2).map(i =>
              (shrPq(i).codes, freshPq(i).codes)))
            (shrPq, ok)
          })
        (0 until 2).map { i =>
          shrunk(i).nodes
            .select(col("n_id"), col("neighbors").as("nb_s"))
            .join(freshG(i).nodes
              .select(col("n_id"), col("neighbors").as("nb_f")),
              Seq("n_id"), "full")
            .select(col("n_id"),
              (col("nb_s") === col("nb_f")).as("ok"))
        }.reduce(_.unionByName(_))
          .groupBy("n_id")
          .agg((min(when(col("ok"), 1).otherwise(0)) === 1)
            .as("nbrs_exact"))
          .select(col("n_id"), col("nbrs_exact"),
            lit(entriesOk).as("entries_exact"),
            lit(ivfpqOk).as("ivfpq_exact"))
      },
      Some("""SELECT vec_id AS n_id, TRUE AS nbrs_exact,
             |  TRUE AS entries_exact, TRUE AS ivfpq_exact
             |FROM embeddings
             |WHERE vec_id < 500 AND vec_id % 7 <> 0""".stripMargin)),

    // Persisted-fleet drift loop (n65): the n62 lifecycle with DISK at
    // both ends — load a SAVED fleet, grow it with a routed append,
    // re-cut the map from index STATE (never the corpus), batch-
    // rebalance, save, RELOAD, and serve a routed scatter off the
    // reloaded shards. Pins: (a) the reloaded cell_map artifact is the
    // REBALANCED map (round-trip exact, and ≠ the original cut — the
    // artifact carries serving state a restart cannot re-derive);
    // (b) the scatter over the reloaded fleet is EXACT rank-for-rank
    // vs ONE fresh merged index over the final corpus. At 100 TB this
    // is the nightly loop: every hop is state-derived and
    // rebuild-exact, so restarts splice into the loop anywhere.
    QueryDef("n65_persisted_fleet_drift",
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 500)
          .localCheckpoint()
        val base = e.filter(col("vec_id") < 400)
        val batch = e.filter(col("vec_id") >= 400)
        val full = Similarity.buildIvfPqIndex(base, nlist = 16, m = 16,
          ks = 16)
        def build(c: org.apache.spark.sql.DataFrame) =
          Similarity.buildIvfPqIndex(c, nlist = 16, m = 16, ks = 16,
            centroids = Some(full.cells),
            codebook = Some(full.codebook))
        def slice(c: org.apache.spark.sql.DataFrame, map: Array[Int],
                  i: Int) =
          Similarity.routeByCellMap(c, full.cells, map, 3)
            .filter(col("shard") === i).drop("shard")
        val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
        val dirA = s"/tmp/graft_gate_fleetdrift_a_$safe"
        val dirB = s"/tmp/graft_gate_fleetdrift_b_$safe"
        val map1 = Similarity.shardCellMap(base, full.cells, 3)
        // the persisted drift loop and the fresh merged oracle are
        // independent eager chains — overlap them (par2 doc): the
        // oracle build below runs while the loop sequences its
        // save/load/append/rebalance actions. The three initial shard
        // builds also only share frozen artifacts (parSeq).
        val mergedOracle = par2({
        IndexIo.IvfPq.saveShards(
          parSeq((0 until 3).map(i =>
            () => build(slice(base, map1, i)))), map1, dirA)
        }, build(e))._2
        val (loadedA, mapA) = IndexIo.IvfPq.loadShards(s, dirA)
        val grown = Similarity.appendToIvfPqShards(loadedA, batch, mapA)
        // re-cut from STATE; if the append didn't shift the greedy
        // cut, stage the drift by re-homing the last shard's first
        // non-empty cell (occupancy from state too — corpus-free)
        val recut = Similarity.shardCellMapFromState(
          grown.map(_.codes), full.cells.length, 3)
        val map2 =
          if (!recut.sameElements(mapA)) recut
          else {
            val occ = grown.map(_.codes.select(col("cell")))
              .reduce(_.unionByName(_)).groupBy("cell").count()
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
            val b = recut.indices
              .find(c => recut(c) == 2 && occ.getOrElse(c + 1, 0L) > 0)
              .getOrElse(sys.error(
                "n65: shard 2 owns no non-empty cell — cannot stage drift"))
            val m = recut.clone(); m(b) = 1; m
          }
        IndexIo.IvfPq.saveShards(
          Similarity.rebalanceIvfPqShards(grown, mapA, map2), map2, dirB)
        val (loadedB, mapB) = IndexIo.IvfPq.loadShards(s, dirB)
        val mapOk = mapB.sameElements(map2) && !mapB.sameElements(map1)
        val q = e.filter(col("vec_id") < 20)
        val scatter = Similarity.queryIvfPqIndexScatter(q, loadedB, 5,
            nprobe = 4, cellShardMap = Some(mapB))
          .select(col("q_id"), col("n_id"), col("rank").as("r_s"))
        val merged = Similarity.queryIvfPqIndex(q, mergedOracle, 5,
            nprobe = 4)
          .select(col("q_id"), col("n_id"), col("rank").as("r_m"))
        merged.join(scatter, Seq("q_id", "n_id"), "full")
          .groupBy("q_id")
          .agg((count(lit(1)) === sum(when(
            col("r_m") === col("r_s"), 1).otherwise(0)))
            .as("scatter_exact"))
          .select(col("q_id"), col("scatter_exact"),
            lit(mapOk).as("map_roundtrip"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS scatter_exact,
             |  TRUE AS map_roundtrip
             |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // Interpolated Kneser-Ney bigram LM (t33): the principled
    // smoothing next to t15's stupid backoff — absolute discounting
    // plus the continuation-count backoff distribution. The gate pins
    // the exact integer skeleton (tier counts AND the four KN
    // statistic sums, full LEFT JOIN recompute in DuckDB); the float
    // avg_logscore is pinned closed-form in TextOpsSpec, the t15
    // recipe.
    QueryDef("t33_kneser_ney_lm",
      (s, dir) => TextOps.knBigramScore(docs(s, dir), "doc_id", "text",
          col("doc_id") % 2 === 0)
        .select("doc_id", "n_bigrams", "n_hit", "n_ctx", "n_cont",
          "n_oov", "sum_c12", "sum_c1", "sum_n1fw", "sum_n1bw"),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                x -> x <> '') AS toks FROM documents),
             |bg AS (SELECT doc_id, toks[u.j] AS w1, toks[u.j + 1] AS w2
             |  FROM t, unnest(range(1, len(toks))) AS u(j)),
             |bi AS (SELECT w1, w2, count(*) AS cb FROM bg
             |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
             |ctx AS (SELECT w1, sum(cb) AS c1, count(*) AS n1fw
             |  FROM bi GROUP BY 1),
             |cont AS (SELECT w2, count(*) AS n1bw FROM bi GROUP BY 1),
             |s AS (SELECT bg.doc_id, count(*) AS nb,
             |    sum(CASE WHEN bi.cb IS NOT NULL THEN 1 ELSE 0 END)
             |      AS nh,
             |    sum(CASE WHEN bi.cb IS NULL AND ctx.c1 IS NOT NULL
             |        THEN 1 ELSE 0 END) AS nc,
             |    sum(CASE WHEN ctx.c1 IS NULL AND cont.n1bw IS NOT NULL
             |        THEN 1 ELSE 0 END) AS nk,
             |    sum(CASE WHEN ctx.c1 IS NULL AND cont.n1bw IS NULL
             |        THEN 1 ELSE 0 END) AS nov,
             |    sum(coalesce(bi.cb, 0)) AS sc12,
             |    sum(coalesce(ctx.c1, 0)) AS sc1,
             |    sum(coalesce(ctx.n1fw, 0)) AS sfw,
             |    sum(coalesce(cont.n1bw, 0)) AS sbw
             |  FROM bg
             |  LEFT JOIN bi ON bg.w1 = bi.w1 AND bg.w2 = bi.w2
             |  LEFT JOIN ctx ON bg.w1 = ctx.w1
             |  LEFT JOIN cont ON bg.w2 = cont.w2
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |  cast(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
             |  cast(coalesce(s.nh, 0) AS BIGINT) AS n_hit,
             |  cast(coalesce(s.nc, 0) AS BIGINT) AS n_ctx,
             |  cast(coalesce(s.nk, 0) AS BIGINT) AS n_cont,
             |  cast(coalesce(s.nov, 0) AS BIGINT) AS n_oov,
             |  cast(coalesce(s.sc12, 0) AS BIGINT) AS sum_c12,
             |  cast(coalesce(s.sc1, 0) AS BIGINT) AS sum_c1,
             |  cast(coalesce(s.sfw, 0) AS BIGINT) AS sum_n1fw,
             |  cast(coalesce(s.sbw, 0) AS BIGINT) AS sum_n1bw
             |FROM (SELECT DISTINCT doc_id FROM documents) d
             |LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin))
  )
}
