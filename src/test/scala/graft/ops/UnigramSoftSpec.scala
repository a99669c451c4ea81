package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Soft-EM unigram machinery: closed-form lattice posteriors, the
  * per-position coverage identity, soft-vs-hard likelihood on an
  * ambiguous fixture, sampling encode posterior fidelity, and layout
  * determinism of the quantized M-step.
  */
class UnigramSoftSpec extends SparkSpec {
  import spark.implicits._

  // vocab {a:1, b:1, ab:2}: for word "ab", paths a·b (1/16) and ab
  // (1/2), Z = 9/16, posterior 1/9 vs 8/9
  private val toyPieces = Array("a", "ab", "b")
  private val toyCounts = Array(1L, 2L, 1L)

  private def toyExpect(word: String): Map[String, Double] =
    Seq(word).toDF("word")
      .select(graft.functions.UnigramExpectations.unigramExpect(col("word"),
        toyPieces, toyCounts, 2).as("x"))
      .selectExpr("explode(x) AS e").select("e.piece", "e.e")
      .as[(String, Double)].collect().toMap

  test("lattice expectations match the closed form on a 2-path toy") {
    val e = toyExpect("ab")
    e.keySet shouldBe Set("a", "ab", "b")
    e("ab") shouldBe (8.0 / 9.0 +- 1e-12)
    e("a") shouldBe (1.0 / 9.0 +- 1e-12)
    e("b") shouldBe (1.0 / 9.0 +- 1e-12)
  }

  test("expected piece lengths cover every position exactly once") {
    val e = toyExpect("ababab")
    e.map { case (p, v) => p.length * v }.sum shouldBe (6.0 +- 1e-9)
  }

  test("soft-EM reaches a higher marginal likelihood than hard-EM on ambiguous text") {
    // intrinsically ambiguous mirror fixture: "xyx" splits xy|x or
    // x|yx and "yxy" mirrors it, with standalone "xy"/"yx" supporting
    // both bigrams symmetrically — the marginal optimum keeps the
    // split MIXED (the mirror symmetry makes one-sided commits
    // strictly worse), which Viterbi's winner-take-all E-step cannot
    // represent: hard-EM's fixed point sits ~5 nats below soft-EM's
    // on this corpus (both converged at 6 iterations)
    val docs = Seq.tabulate(50) { i =>
      (i.toLong, "xy yx xyx yxy")
    }.toDF("doc_id", "text")
    val table = TextOps.bpeWordTable(docs, "text", 1000).drop("syms")
      .localCheckpoint()
    var hard = TextOps.unigramSeedModel(table, vocabSize = 6,
      maxPieceLen = 2)
    var soft = hard
    var lastSoftLl = Double.NegativeInfinity
    (1 to 6).foreach { _ =>
      hard = TextOps.unigramEmStep(table, hard)
      soft = TextOps.unigramSoftEmStep(table, soft)
      // EM's guarantee, checked along the way: soft-EM never descends
      // its own objective (the quantization grid is too fine to break
      // monotonicity at this scale)
      val ll = TextOps.unigramMarginalLogLik(table, soft)
      ll should be >= lastSoftLl
      lastSoftLl = ll
    }
    val llHard = TextOps.unigramMarginalLogLik(table, hard)
    lastSoftLl should be > llHard
  }

  test("sampling encode: deterministic per seed, valid splits, posterior-faithful") {
    val one = Seq("ab").toDF("w")
    def sample(seed: Long): Seq[String] =
      one.select(graft.functions.UnigramExpectations.unigramSample(col("w"),
          toyPieces, toyCounts, 2, seed).as("s"))
        .as[Seq[String]].head()
    sample(7L) shouldBe sample(7L)
    val draws = (1L to 300L).map(sample)
    draws.foreach(s => s.mkString shouldBe "ab") // always a valid split
    val fused = draws.count(_ == Seq("ab")).toDouble / draws.size
    fused shouldBe (8.0 / 9.0 +- 0.07)
  }

  test("unigram model artifact round-trips and segments identically") {
    val docs = Seq.tabulate(30)(i => (i.toLong, "xy yx xyx yxy xyxy"))
      .toDF("doc_id", "text")
    val table = TextOps.bpeWordTable(docs, "text", 1000).drop("syms")
      .localCheckpoint()
    val m1 = TextOps.unigramEmStep(table,
      TextOps.unigramSeedModel(table, 8, 2))
    val dir = java.nio.file.Files.createTempDirectory("unigram").toString
    IndexIo.Unigram.save(m1, dir)
    val m2 = IndexIo.Unigram.load(spark, dir)
    m2.maxPieceLen shouldBe m1.maxPieceLen
    m2.pieces.toSeq shouldBe m1.pieces.toSeq
    m2.counts.toSeq shouldBe m1.counts.toSeq
    m2.costInt.toSeq shouldBe m1.costInt.toSeq
    val a = TextOps.unigramSegmentWords(table, m1)
      .select("word", "pieces").as[(String, Seq[String])].collect().toMap
    val b = TextOps.unigramSegmentWords(table, m2)
      .select("word", "pieces").as[(String, Seq[String])].collect().toMap
    b shouldBe a
  }

  test("quantized soft M-step replays across layouts") {
    val docs = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(4)("ab" * (1 + i % 3)).mkString(" "))
    }.toDF("doc_id", "text")
    def counts(parts: Int): Seq[Long] = {
      val t = TextOps.bpeWordTable(docs.repartition(parts), "text", 1000)
        .drop("syms").localCheckpoint()
      val m0 = TextOps.unigramSeedModel(t, 10, 2)
      TextOps.unigramSoftEmStep(t, m0).counts.toSeq
    }
    counts(1) shouldBe counts(11)
  }

  // ---- phase-3 likelihood-loss pruning (t30 family) ----

  test("prune loss matches the closed form on the 2-path toy") {
    // vocab {a:1, ab:2, b:1}, total 4: cost(a)=cost(b)=−round(1e6·ln ¼),
    // cost(ab)=−round(1e6·ln ½). Word table = one "ab": E[ab]=8/9, so
    // e6 = round(1e6·8/9); the only alternative for "ab" is a·b, so
    // delta = cost(a)+cost(b)−cost(ab)
    val costs = Array(-math.round(1e6 * math.log(0.25)),
      -math.round(1e6 * math.log(0.5)), -math.round(1e6 * math.log(0.25)))
    val m = TextOps.UnigramModel(toyPieces, toyCounts, costs, 2)
    val table = Seq(("ab", 1L)).toDF("word", "freq")
    val losses = TextOps.unigramPruneLosses(table, m)
    losses.map(_._1) shouldBe Seq("ab")
    val (_, e6, delta) = losses.head
    e6 shouldBe math.round(1e6 * 8.0 / 9.0)
    delta shouldBe costs(0) + costs(2) - costs(1)
  }

  test("prune keeps every char, hits the target, drops exactly the lowest-loss multis") {
    val docs = Seq.tabulate(60) { i =>
      (i.toLong, s"alpha beta gamma delta ${"ab" * (1 + i % 3)} epsilon")
    }.toDF("doc_id", "text")
    val table = TextOps.bpeWordTable(docs, "text", 1000).drop("syms")
      .localCheckpoint()
    val m0 = TextOps.unigramSeedModel(table, 40, 3)
    val nChars = m0.pieces.count(_.length == 1)
    val target = nChars + 8
    val m1 = TextOps.unigramPruneStep(table, m0, target)
    m1.pieces.length shouldBe target
    // coverage: every single-char piece survives
    m0.pieces.filter(_.length == 1).toSet.subsetOf(
      m1.pieces.toSet) shouldBe true
    // the survivor set IS the top-loss set under the exact integer
    // ranking (loss desc, piece asc) — recomputed independently here
    val expected = TextOps.unigramPruneLosses(table, m0)
      .sortBy { case (p, e6, d) => (-(BigInt(e6) * BigInt(d)), p) }
      .take(8).map(_._1).toSet
    m1.pieces.filter(_.length > 1).toSet shouldBe expected
    // pieces stay sorted (the model's order invariant)
    m1.pieces.toSeq shouldBe m1.pieces.toSeq.sorted
    // re-estimate is the quantized-expectation M-step: integer counts,
    // all >= the Laplace floor
    all(m1.counts.toSeq) should be >= 1000000L
  }

  test("three-phase training reaches the target vocab and still segments everything") {
    val docs = Seq.tabulate(50) { i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog " +
        s"pack my box with five dozen liquor jugs ${i % 7}")
    }.toDF("doc_id", "text")
    val table = TextOps.bpeWordTable(docs, "text", 1000).drop("syms")
      .localCheckpoint()
    val nChars = TextOps.unigramSeedModel(table, 200, 3)
      .pieces.count(_.length == 1)
    val target = nChars + 20
    val m = TextOps.unigramTrainPruned(docs, "text", seedVocab = 200,
      targetVocab = target, maxPieceLen = 3, emIters = 1)
    m.pieces.length shouldBe target
    // coverage survives the prune chain: every word still segments
    val segged = TextOps.unigramSegmentWords(table, m)
      .select("word", "pieces").as[(String, Seq[String])].collect()
    segged.foreach { case (w, ps) =>
      withClue(s"word=$w: ") { ps.mkString shouldBe w }
    }
  }
}
