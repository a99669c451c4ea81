package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact substring spans: planted cross-doc and self repeats, equality
  * with a brute-force reference on randomized fixtures, span
  * maximality, short docs, and layout determinism.
  */
class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force truth: every offset's minLen-gram, counted, merged
    * into islands — O(n·L) strings, test-only.
    */
  private def bruteSpans(docs: Seq[(Long, String)], minLen: Int)
      : Set[(Long, Int, Int, Int)] = {
    val grams = docs.flatMap { case (id, t) =>
      (0 to t.length - minLen).map(i => (id, i, t.substring(i, i + minLen)))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val marked = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    marked.flatMap { case (id, offs) =>
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var start = offs.head
      var maxE = offs.head + minLen - 1
      for (o <- offs.tail) {
        if (o > maxE + 1) { spans += ((start, maxE + 1)); start = o }
        maxE = math.max(maxE, o + minLen - 1)
      }
      spans += ((start, maxE + 1))
      spans.map { case (s, e) => (id, s, e, e - s) }
    }.toSet
  }

  private def run(docs: Seq[(Long, String)], minLen: Int,
                  parts: Int = 5): Set[(Long, Int, Int, Int)] =
    SuffixArray.repeatedSpans(
        docs.toDF("doc_id", "text").repartition(parts), "text", "doc_id",
        minLen)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet

  test("planted cross-document repeat is found exactly, maximal, nothing else") {
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (0L, s"alpha alpha $shared omega end text one"),
      (1L, s"completely different preamble here $shared trailing bits"),
      (2L, "no repeats in this document at all zzz"))
    val got = run(docs, minLen = 20)
    // the shared region includes the flanking spaces both docs share:
    // " the quick … dog " — 45 chars at doc0 off 11, doc1 off 34
    got shouldBe Set((0L, 11, 11 + shared.length + 2, shared.length + 2),
      (1L, 34, 34 + shared.length + 2, shared.length + 2))
  }

  test("self-repeat within one document counts as a repeat") {
    val block = "abcdefghijklmnop" // 16 chars, repeated twice in doc 0
    val docs = Seq((0L, s"$block--filler--$block"),
      (1L, "unrelated text without any of that"))
    val got = run(docs, minLen = 16)
    got shouldBe Set((0L, 0, 16, 16),
      (0L, 26, 42, 16))
  }

  test("matches brute force on randomized small-alphabet fixtures") {
    val r = new scala.util.Random(73)
    for (trial <- 1 to 3) {
      val docs = (0L until 12L).map { id =>
        (id, (1 to 60 + r.nextInt(60)).map(_ => ('a' + r.nextInt(3)).toChar)
          .mkString)
      }
      for (minLen <- Seq(5, 8, 12)) {
        withClue(s"trial=$trial minLen=$minLen: ") {
          run(docs, minLen) shouldBe bruteSpans(docs, minLen)
        }
      }
    }
  }

  test("dense lead-widen (index) equals the range-widen one-shot on randomized fixtures") {
    // The index build widens via a per-doc `lead` window (dense
    // relation); the pruned one-shot path widens via the per-doc
    // RANGE-frame lookup (sparse relation). Random small-alphabet docs
    // exercise both off-end sentinels and deep repeat structure — the
    // two forms must produce identical spans.
    val r = new scala.util.Random(191)
    val docs = (0L until 10L).map { id =>
      (id, (1 to 50 + r.nextInt(50)).map(_ => ('a' + r.nextInt(3)).toChar)
        .mkString)
    }
    val df = docs.toDF("doc_id", "text").repartition(4)
    for (minLen <- Seq(5, 9)) withClue(s"minLen=$minLen: ") {
      val idx = SuffixArray.buildSubstrIndex(df, "text", "doc_id", minLen)
      SuffixArray.substrIndexSpans(idx, "doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet shouldBe
        SuffixArray.repeatedSpans(df, "text", "doc_id", minLen).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    }
  }

  test("docs shorter than minLen never mark; no spans on unique text") {
    val docs = Seq((0L, "tiny"), (1L, "abcdefghij"), (2L, "qrstuvwxyz"))
    run(docs, minLen = 8) shouldBe Set.empty
  }

  test("cutRepeatedSpans removes exactly the spans, keeps gaps in order") {
    val block = "0123456789abcdef" // 16 chars
    val docs = Seq(
      (0L, s"HEAD-$block-MID-$block-TAIL"), // self-repeat, two spans
      (1L, "completely unique text stays intact"),
      (2L, block * 2)) // fully covered → empty rebuild
      .toDF("doc_id", "text")
    val got = SuffixArray.cutRepeatedSpans(docs, "text", "doc_id",
        minLen = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    // doc 0: the repeat includes the shared flanks ("D-" before each
    // block — HEAD/MID both end in D — and "-" after), so the maximal
    // spans are [3,22) and [24,43): kept = "HEA" + "MI" + "TAIL"
    got(0L) shouldBe ((47, 2, 38, "HEAMITAIL"))
    got(1L) shouldBe ((35, 0, 0, "completely unique text stays intact"))
    // doc 2: "blockblock" is one maximal span covering everything
    got(2L) shouldBe ((32, 1, 32, ""))
  }

  test("contaminationSpans marks cross-corpus overlap only") {
    val leak = "this exact benchmark sentence leaked into training"
    val train = Seq(
      (0L, s"prefix text $leak suffix text"),
      // train-internal repeat — must NOT mark (both occurrences here)
      (1L, "zzrepeatedblockzz filler zzrepeatedblockzz"),
      (2L, "clean document with nothing shared")).toDF("doc_id", "text")
    val eval = Seq(
      (0L, s"eval question about $leak indeed"), // id collides with train 0
      // eval-internal repeat — must not cause train marks either
      (1L, "zqqq zqqq zqqq zqqq zqqq zqqq zqqq")).toDF("doc_id", "text")
    val got = SuffixArray.contaminationSpans(train, eval, "text",
        "doc_id", minLen = 20)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // only train doc 0's leaked region marks — including the shared
    // flanks "t " (both "text"/"about" end in t) and the trailing
    // space: "t " + leak + " " = 53 chars at offset 10
    got shouldBe Set((0L, 10, 10 + leak.length + 3))
  }

  test("spans replay identically across layouts") {
    val r = new scala.util.Random(79)
    val docs = (0L until 20L).map { id =>
      (id, (1 to 100).map(_ => ('a' + r.nextInt(4)).toChar).mkString)
    }
    run(docs, 10, parts = 1) shouldBe run(docs, 10, parts = 17)
  }

  test("singleton pruning collapses the refinement relation; unique text empties it") {
    // one planted 40-char repeat inside otherwise position-unique text
    // (distinct letters per position): only the repeat's neighborhoods
    // survive past the seed rounds
    val block = "x" * 40
    // random filler over an x-free alphabet: no 16-char window repeats
    // by chance (23^16), and no 'x' can extend the planted spans
    val r = new scala.util.Random(101)
    val uniq = (1 to 400).map(_ => ('a' + r.nextInt(23)).toChar).mkString
    val docs = Seq(
      (0L, uniq.substring(0, 100) + block + uniq.substring(100, 200)),
      (1L, uniq.substring(200, 300) + block + uniq.substring(300, 400)))
      .toDF("doc_id", "text")
    val curve = SuffixArray.refinementSurvivorCounts(docs, "text",
      "doc_id", minLen = 20)
    // widths start at the gram seed (8): the sub-8 rounds collapsed
    // into one direct gram grouping are exactly the rounds the
    // round-15 seed-width change eliminated
    curve.map(_._1) shouldBe Seq(8, 16)
    // monotone collapse, and the widest round carries only the
    // repeated block's windows (2 docs × (40 − 16 + 1) starts) plus
    // nothing from the unique filler
    curve.map(_._2) shouldBe curve.map(_._2).sorted.reverse
    curve.last._2 shouldBe 2L * (40 - 16 + 1)
    // fully unique corpus: the relation empties (every later round —
    // and the final marking — shuffles nothing)
    val clean = Seq((0L, uniq)).toDF("doc_id", "text")
    SuffixArray.refinementSurvivorCounts(clean, "text", "doc_id",
      minLen = 20).last._2 shouldBe 0L
    // and the pruned path still finds exactly the planted repeat
    val spans = SuffixArray.repeatedSpans(docs, "text", "doc_id",
        minLen = 20).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    spans shouldBe Set((0L, 100, 140), (1L, 100, 140))
  }

  // ---- incremental substring index (d28 family) ----

  /** Random small-alphabet corpus: repeats arise by chance, including
    * ones that only exist ACROSS the base/batch boundary — the case
    * the dictionary-refinement append exists for.
    */
  private def randomCorpus(n: Int, seed: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    (0L until n.toLong).map { id =>
      (id, (1 to 50 + r.nextInt(50)).map(_ => ('a' + r.nextInt(3)).toChar)
        .mkString)
    }
  }

  private def indexState(i: SuffixArray.SubstrIndex)
      : (Set[(String, Long)], Set[(Int, Long, Long, Long)],
         Set[(Long, Long, Long, Long)]) = (
    i.dictChars.collect().map(r => (r.getString(0), r.getLong(1))).toSet,
    // by NAME, so the comparison does not depend on column order
    i.dictPairs.select("__w", "__r1", "__r2", "__cls").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet,
    i.keys.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet)

  private def spansOf(i: SuffixArray.SubstrIndex): Set[(Long, Int, Int, Int)] =
    SuffixArray.substrIndexSpans(i, "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet

  test("append equals a from-scratch union build, state-for-state") {
    val all = randomCorpus(14, seed = 211)
    val maxLen = all.map(_._2.length).max
    val (base, batch) = all.partition(_._1 < 9)
    val minLen = 8
    // identical grid on both paths: the build-time maxDocLen IS the
    // index's lifetime grid, so the rebuild must size it the same way
    val grown = SuffixArray.appendToSubstrIndex(
      SuffixArray.buildSubstrIndex(base.toDF("doc_id", "text"), "text",
        "doc_id", minLen, maxDocLen = maxLen),
      batch.toDF("doc_id", "text"), "text", "doc_id")
    val rebuilt = SuffixArray.buildSubstrIndex(
      all.toDF("doc_id", "text"), "text", "doc_id", minLen,
      maxDocLen = maxLen)
    indexState(grown) shouldBe indexState(rebuilt)
    // and the read-off spans equal the one-shot oracle path
    spansOf(grown) shouldBe bruteSpans(all, minLen)
  }

  test("two successive appends still equal the union build") {
    val all = randomCorpus(15, seed = 223)
    val maxLen = all.map(_._2.length).max
    val minLen = 8
    val i0 = SuffixArray.buildSubstrIndex(
      all.filter(_._1 < 5).toDF("doc_id", "text"), "text", "doc_id",
      minLen, maxDocLen = maxLen)
    val i1 = SuffixArray.appendToSubstrIndex(i0,
      all.filter(d => d._1 >= 5 && d._1 < 10).toDF("doc_id", "text"),
      "text", "doc_id")
    val i2 = SuffixArray.appendToSubstrIndex(i1,
      all.filter(_._1 >= 10).toDF("doc_id", "text"), "text", "doc_id")
    val rebuilt = SuffixArray.buildSubstrIndex(
      all.toDF("doc_id", "text"), "text", "doc_id", minLen,
      maxDocLen = maxLen)
    indexState(i2) shouldBe indexState(rebuilt)
  }

  test("append finds repeats that exist only across the boundary") {
    val shared = "the shared block that straddles the corpus split"
    val base = Seq((0L, s"base preamble $shared base tail"),
      (1L, "nothing repeated in this one qqq"))
    val batch = Seq((5L, s"batch lead-in $shared batch outro"))
    val idx = SuffixArray.appendToSubstrIndex(
      SuffixArray.buildSubstrIndex(base.toDF("doc_id", "text"), "text",
        "doc_id", minLen = 20, maxDocLen = 100),
      batch.toDF("doc_id", "text"), "text", "doc_id")
    // before the append the base corpus has no repeats at all
    spansOf(SuffixArray.buildSubstrIndex(base.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 20, maxDocLen = 100)) shouldBe Set.empty
    spansOf(idx) shouldBe bruteSpans(base ++ batch, 20)
  }

  test("append guard rails: id ordering, over-grid doc, empty batch") {
    val base = randomCorpus(6, seed = 229)
    val idx = SuffixArray.buildSubstrIndex(base.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8, maxDocLen = 120)
    // batch ids must strictly exceed every indexed id (min-position
    // class ids are immutable only under that ordering)
    val clash = intercept[IllegalArgumentException] {
      SuffixArray.appendToSubstrIndex(idx,
        Seq((3L, "aabbccddeeffaabbccddeeff")).toDF("doc_id", "text"),
        "text", "doc_id")
    }
    clash.getMessage should include("batch ids must exceed")
    // a document longer than the build-time grid cannot append
    val tooLong = intercept[IllegalArgumentException] {
      SuffixArray.appendToSubstrIndex(idx,
        Seq((50L, "x" * 200)).toDF("doc_id", "text"), "text", "doc_id")
    }
    tooLong.getMessage should include("exceeds the index grid")
    // empty batch: the index comes back unchanged
    val same = SuffixArray.appendToSubstrIndex(idx,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    same.maxId shouldBe idx.maxId
    spansOf(same) shouldBe spansOf(idx)
  }

  test("broadcast-batch and shuffle append regimes produce identical state") {
    // the broadcast path (dictionary streams, batch pairs broadcast)
    // and the shuffle fallback must land on the same index exactly —
    // the regime only moves where rows meet, never which class wins
    val all = randomCorpus(12, seed = 241)
    val maxLen = all.map(_._2.length).max
    val (base, batch) = all.partition(_._1 < 8)
    def grow(limit: Long) = SuffixArray.appendToSubstrIndex(
      SuffixArray.buildSubstrIndex(base.toDF("doc_id", "text"), "text",
        "doc_id", minLen = 8, maxDocLen = maxLen),
      batch.toDF("doc_id", "text"), "text", "doc_id",
      batchBroadcastChars = limit)
    indexState(grow(Long.MaxValue)) shouldBe indexState(grow(0L))
  }

  test("index decontamination equals the one-shot pass; ids may overlap") {
    val r = new scala.util.Random(251)
    def corpus(n: Int): Seq[(Long, String)] = (0L until n.toLong).map { id =>
      (id, (1 to 60 + r.nextInt(40)).map(_ => ('a' + r.nextInt(3)).toChar)
        .mkString)
    }
    // train and eval deliberately share the SAME id range — the
    // one-shot contaminationSpans interleaves on parity, the index
    // path offsets internally; both must land on identical spans
    val train = corpus(10)
    val evalC = corpus(8)
    val minLen = 8
    def spans(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Int, Int, Int)] = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
      .toSet
    val oneShot = spans(SuffixArray.contaminationSpans(
      train.toDF("doc_id", "text"), evalC.toDF("doc_id", "text"),
      "text", "doc_id", minLen))
    val maxLen = (train ++ evalC).map(_._2.length).max
    val idx = SuffixArray.buildSubstrIndex(evalC.toDF("doc_id", "text"),
      "text", "doc_id", minLen, maxDocLen = maxLen)
    val viaIndex = spans(SuffixArray.substrIndexContamination(idx,
      train.toDF("doc_id", "text"), "text", "doc_id"))
    viaIndex shouldBe oneShot
    oneShot should not be empty // 3-letter alphabet: repeats guaranteed
    // read-only: screening must not grow the index
    SuffixArray.substrIndexSpans(idx, "doc_id") // still evaluable
    idx.keys.count() shouldBe SuffixArray.buildSubstrIndex(
      evalC.toDF("doc_id", "text"), "text", "doc_id", minLen,
      maxDocLen = maxLen).keys.count()
    // and it composes with appends: grow the eval index, re-screen
    val evalMore = (20L until 24L).map(id =>
      (id, train((id % 10).toInt)._2)) // duplicates of train docs
    val grown = SuffixArray.appendToSubstrIndex(idx,
      evalMore.toDF("doc_id", "text"), "text", "doc_id")
    spans(SuffixArray.substrIndexContamination(grown,
      train.toDF("doc_id", "text"), "text", "doc_id")) shouldBe
      spans(SuffixArray.contaminationSpans(train.toDF("doc_id", "text"),
        (evalC ++ evalMore).toDF("doc_id", "text"), "text", "doc_id",
        minLen))
  }

  test("index deletion: read paths equal the remaining-corpus build; appends still work") {
    val all = randomCorpus(14, seed = 257)
    val maxLen = all.map(_._2.length).max + 20
    val minLen = 8
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen, maxDocLen = maxLen)
    val delIds = Seq(2L, 5L, 11L)
    val remaining = all.filterNot(d => delIds.contains(d._1))
    val afterDel = SuffixArray.deleteFromSubstrIndex(idx,
      delIds.toDF("doc_id"))
    // spans over the shrunk index equal the brute force over remaining
    spansOf(afterDel) shouldBe bruteSpans(remaining, minLen)
    // contamination screens see only remaining occurrences: a train
    // window whose only indexed match was deleted must NOT mark
    def contam(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Int, Int, Int)] = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
      .toSet
    val onlyInDeleted = all.find(_._1 == 2L).get._2.substring(0, minLen)
    val train = Seq((0L, s"zzzz $onlyInDeleted zzzz"))
    contam(SuffixArray.substrIndexContamination(afterDel,
        train.toDF("doc_id", "text"), "text", "doc_id")) shouldBe
      contam(SuffixArray.substrIndexContamination(
        SuffixArray.buildSubstrIndex(remaining.toDF("doc_id", "text"),
          "text", "doc_id", minLen, maxDocLen = maxLen),
        train.toDF("doc_id", "text"), "text", "doc_id"))
    // non-member ids are a no-op
    spansOf(SuffixArray.deleteFromSubstrIndex(afterDel,
      Seq(900L).toDF("doc_id"))) shouldBe spansOf(afterDel)
    // appends after a delete stay exact (maxId stays burned: the
    // dictionaries were minted under the original id ordering)
    val batch = Seq((50L, all.head._2)) // duplicate of doc 0's text
    spansOf(SuffixArray.appendToSubstrIndex(afterDel,
        batch.toDF("doc_id", "text"), "text", "doc_id")) shouldBe
      bruteSpans(remaining ++ batch, minLen)
    // re-using a deleted id must still be rejected
    intercept[IllegalArgumentException] {
      SuffixArray.appendToSubstrIndex(afterDel,
        Seq((5L, "aabbccddeeff")).toDF("doc_id", "text"), "text",
        "doc_id")
    }
  }

  test("bucketed persistence: state round-trips and the spans readout never exchanges the keys") {
    val all = randomCorpus(10, seed = 263)
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8)
    val dir = java.nio.file.Files.createTempDirectory("substrbkt").toString
    IndexIo.Substr.saveBucketed(idx, dir, "substr_bucketed_spec",
      buckets = 8)
    val (loaded, _) = IndexIo.Substr.loadBucketed(spark, dir,
      "substr_bucketed_spec")
    indexState(loaded) shouldBe indexState(idx)
    spansOf(loaded) shouldBe spansOf(idx)
    // the point of the layout: aggregating the keys on the bucket
    // columns needs no Exchange — at 100 TB this is the difference
    // between a metadata-priced readout and re-shuffling the corpus
    val aggPlan = loaded.keys.groupBy("__r1", "__r2")
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    aggPlan should not include "Exchange hashpartitioning"
    // and the full spans pipeline exchanges only the (tiny) marked
    // relation for the per-document island merge, never the keys:
    // exactly one exchange, keyed by the document id
    val spansPlan = SuffixArray.substrIndexSpans(loaded, "doc_id")
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(spansPlan).size shouldBe 1
    spansPlan should include("Exchange hashpartitioning(__id")
    // an append on the loaded bucketed index still equals the
    // from-scratch union build
    val batch = Seq((500L, "zzqqzzqqzzqqzzqq")).toDF("doc_id", "text")
    val grown = SuffixArray.appendToSubstrIndex(loaded, batch, "text",
      "doc_id")
    val rebuilt = SuffixArray.buildSubstrIndex(
      all.toDF("doc_id", "text").unionByName(batch), "text", "doc_id",
      minLen = 8)
    spansOf(grown) shouldBe spansOf(rebuilt)
  }

  test("bucketed substr persistence survives catalog loss: load re-registers the external tables") {
    val all = randomCorpus(8, seed = 271)
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8)
    val dir = java.nio.file.Files.createTempDirectory("substrcat").toString
    IndexIo.Substr.saveBucketed(idx, dir, "substr_catalog_spec",
      buckets = 4)
    // simulate a fresh session: drop both catalog entries; the bucketed
    // files are durable (external tables)
    for (sfx <- Seq("dict_pairs", "keys"))
      spark.sql(s"DROP TABLE ${IndexIo.bucketedTableName(
        "substr_catalog_spec", sfx, dir)}")
    val (loaded, _) = IndexIo.Substr.loadBucketed(spark, dir,
      "substr_catalog_spec")
    indexState(loaded) shouldBe indexState(idx)
    spansOf(loaded) shouldBe spansOf(idx)
    // the re-registered layout keeps the exchange-free aggregate
    val aggPlan = loaded.keys.groupBy("__r1", "__r2")
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    aggPlan should not include "Exchange hashpartitioning"
  }

  test("singleton pruning is result-invisible: prune=false replays identical spans") {
    val df = randomCorpus(8, seed = 281).toDF("doc_id", "text")
    val on = SuffixArray.repeatedSpansPruneToggle(df, "text", "doc_id",
      minLen = 8, prune = true)
    val off = SuffixArray.repeatedSpansPruneToggle(df, "text", "doc_id",
      minLen = 8, prune = false)
    on.count() should be > 0L
    on.exceptAll(off).count() shouldBe 0
    off.exceptAll(on).count() shouldBe 0
    // and the toggled-on path IS the production path
    on.exceptAll(SuffixArray.repeatedSpans(df, "text", "doc_id",
      minLen = 8)).count() shouldBe 0
  }

  test("compact returns the from-scratch state and un-burns deleted ids") {
    val all = randomCorpus(10, seed = 307)
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8, maxDocLen = 200)
    val afterDel = SuffixArray.deleteFromSubstrIndex(idx,
      Seq(8L, 9L).toDF("doc_id"))
    val surviving = all.filter(_._1 < 8)
    val compacted = SuffixArray.compactSubstrIndex(afterDel,
      surviving.toDF("doc_id", "text"), "text", "doc_id")
    // state equality with the fresh build on the SAME lifetime grid
    val fresh = SuffixArray.buildSubstrIndex(
      surviving.toDF("doc_id", "text"), "text", "doc_id", minLen = 8,
      maxDocLen = 200)
    compacted.stride shouldBe idx.stride
    indexState(compacted) shouldBe indexState(fresh)
    spansOf(compacted) shouldBe spansOf(fresh)
    // ids 8/9 were burned in the incremental index (append rejects
    // them) but re-derive as appendable after compaction
    intercept[IllegalArgumentException] {
      SuffixArray.appendToSubstrIndex(afterDel,
        Seq((8L, all.head._2)).toDF("doc_id", "text"), "text", "doc_id")
    }
    val batch = Seq((8L, all.head._2))
    spansOf(SuffixArray.appendToSubstrIndex(compacted,
        batch.toDF("doc_id", "text"), "text", "doc_id")) shouldBe
      bruteSpans(surviving ++ batch, 8)
  }

  test("substr index save/load round-trips state and spans") {
    val all = randomCorpus(10, seed = 233)
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8, maxDocLen = 150)
    val dir = java.nio.file.Files.createTempDirectory("substridx").toString
    IndexIo.Substr.save(idx, dir)
    val loaded = IndexIo.Substr.load(spark, dir)
    loaded.minLen shouldBe idx.minLen
    loaded.targetW shouldBe idx.targetW
    loaded.stride shouldBe idx.stride
    loaded.maxId shouldBe idx.maxId
    indexState(loaded) shouldBe indexState(idx)
    spansOf(loaded) shouldBe spansOf(idx)
    // and a loaded index keeps accepting appends, rebuild-equivalent
    val batch = Seq((100L, all.head._2)) // duplicate of doc 0's text
    val grown = SuffixArray.appendToSubstrIndex(loaded,
      batch.toDF("doc_id", "text"), "text", "doc_id")
    spansOf(grown) shouldBe bruteSpans(all ++ batch, 8)
  }

  test("format_version 1 bucketed artifacts (pre-width-partitioning) load with a NON-empty dictionary") {
    val all = randomCorpus(8, seed = 281)
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8)
    val dir = java.nio.file.Files.createTempDirectory("substrv1").toString
    // hand-write the v1 layout the previous release produced:
    // dict_pairs bucketed but NOT partitioned by width. Registering it
    // with the v2 partition spec would discover zero partitions and
    // read a silently EMPTY dictionary — the loader must dispatch on
    // the version.
    Seq((1, idx.minLen, idx.targetW, idx.stride, idx.maxId, 4))
      .toDF("format_version", "min_len", "target_w", "stride", "max_id",
        "buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    idx.dictChars.write.mode("overwrite").parquet(s"$dir/dict_chars")
    idx.dictPairs.write.mode("overwrite")
      .bucketBy(4, "__r1", "__r2").sortBy("__r1", "__r2")
      .option("path", s"$dir/dict_pairs")
      .saveAsTable(IndexIo.bucketedTableName("substr_v1_spec",
        "dict_pairs", dir))
    idx.keys.write.mode("overwrite")
      .bucketBy(4, "__r1", "__r2").sortBy("__r1", "__r2")
      .option("path", s"$dir/keys")
      .saveAsTable(IndexIo.bucketedTableName("substr_v1_spec", "keys",
        dir))
    // fresh-session shape: catalog entries gone, files durable
    for (sfx <- Seq("dict_pairs", "keys"))
      spark.sql(s"DROP TABLE ${IndexIo.bucketedTableName(
        "substr_v1_spec", sfx, dir)}")
    val (loaded, _) = IndexIo.Substr.loadBucketed(spark, dir,
      "substr_v1_spec")
    loaded.dictPairs.count() shouldBe idx.dictPairs.count()
    indexState(loaded) shouldBe indexState(idx)
    spansOf(loaded) shouldBe spansOf(idx)
  }

  test("default bucketed save is the unpartitioned layout (v1) and round-trips") {
    // the explicit width partitions (the retired v2 layout) bought no
    // bytes on width-sorted writes (stats already prune) and cost ~1.4×
    // save wall: the bucketed save must stamp v1, skip the partition
    // directories, and read back whole
    val all = randomCorpus(8, seed = 293)
    val idx = SuffixArray.buildSubstrIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 8)
    val dir = java.nio.file.Files.createTempDirectory("substrdef").toString
    IndexIo.Substr.saveBucketed(idx, dir, "substr_default_spec",
      buckets = 4)
    spark.read.parquet(s"$dir/meta").head()
      .getAs[Int]("format_version") shouldBe 1
    // no __w=... partition directories on disk
    new java.io.File(s"$dir/dict_pairs").listFiles()
      .count(_.getName.startsWith("__w=")) shouldBe 0
    val (loaded, _) = IndexIo.Substr.loadBucketed(spark, dir,
      "substr_default_spec")
    indexState(loaded) shouldBe indexState(idx)
    spansOf(loaded) shouldBe spansOf(idx)
    // the exchange-free keys readout is layout-independent
    val aggPlan = loaded.keys.groupBy("__r1", "__r2")
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    aggPlan should not include "Exchange hashpartitioning"
  }

  test("an EMPTY index (no doubling rounds, no keys) survives the bucketed save/load cycle") {
    // minLen = 2 gives targetW = 1: the doubling loop never runs and
    // the pair dictionary is genuinely empty; a corpus of sub-minLen
    // docs empties the keys table too. The cross-session register
    // path must fall back to the canonical schema instead of failing
    // to infer one from a data-fileless directory.
    // maxDocLen sizes the grid for the later append; the build corpus
    // itself stays sub-minLen so BOTH persisted relations are empty
    val idx = SuffixArray.buildSubstrIndex(
      Seq((0L, "a"), (1L, "b")).toDF("doc_id", "text"), "text",
      "doc_id", minLen = 2, maxDocLen = 16)
    idx.dictPairs.count() shouldBe 0
    idx.keys.count() shouldBe 0
    val dir = java.nio.file.Files.createTempDirectory("substrmt").toString
    IndexIo.Substr.saveBucketed(idx, dir, "substr_empty_spec",
      buckets = 4)
    for (sfx <- Seq("dict_pairs", "keys")) {
      val t = IndexIo.bucketedTableName("substr_empty_spec", sfx, dir)
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
    }
    val (loaded, _) = IndexIo.Substr.loadBucketed(spark, dir,
      "substr_empty_spec")
    indexState(loaded) shouldBe indexState(idx)
    // both loaders agree on which artifacts are legal: the plain path
    // reads the same empty relations through the same fallback
    indexState(IndexIo.Substr.load(spark, dir)) shouldBe
      indexState(idx)
    // ... but a MISSING relation directory is a broken artifact, not
    // an empty one — fail loudly instead of loading an empty table
    // (the silent-empty-load class the format dispatch exists to kill)
    val broken = java.nio.file.Files
      .createTempDirectory("substrbrk").toString
    IndexIo.Substr.saveBucketed(idx, broken,
      "substr_broken_spec", buckets = 4)
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete()
    }
    rmr(new java.io.File(s"$broken/keys"))
    an[Exception] should be thrownBy
      IndexIo.Substr.load(spark, broken).keys.count()
    // the degenerate state still appends: the union build from an
    // empty start equals the one-shot
    val batch = Seq((2L, "xyxy"), (3L, "xyxy")).toDF("doc_id", "text")
    val grown = SuffixArray.appendToSubstrIndex(loaded, batch, "text",
      "doc_id")
    spansOf(grown) shouldBe bruteSpans(
      Seq((0L, "a"), (1L, "b"), (2L, "xyxy"), (3L, "xyxy")), 2)
  }
}
