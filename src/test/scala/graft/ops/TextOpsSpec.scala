package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("occurrences counts non-overlapping literal matches") {
    val out = Seq("a,b,,c").toDF("t")
      .select(TextOps.occurrences($"t", ",").as("n")).as[Int].collect()
    out(0) shouldBe 3
  }

  test("langId classifies stopword-marked texts") {
    val df = Seq(
      (1L, "the cat is on the mat and the dog is here"),
      (2L, "le chat est sur la table et les chiens"),
      (3L, "der hund und die katze das ist gut"),
      (4L, "el perro y los gatos es las casas")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextOps.langId($"text").as("l"))
      .orderBy("doc_id").as[(Long, String)].collect()
    out.map(_._2) shouldBe Array("en", "fr", "de", "es")
  }

  test("token counts: whitespace vs BPE-ish") {
    val out = Seq("Hello, world!  42 foo-bar", "", "   ").toDF("t")
      .select(TextOps.tokenCountWs($"t").as("ws"),
        TextOps.tokenCountBpe($"t").as("bpe")).collect()
    out(0).getInt(0) shouldBe 4
    // hello , world ! 42 foo - bar = 8
    out(0).getInt(1) shouldBe 8
    out(1).getInt(0) shouldBe 0
    out(2).getInt(0) shouldBe 0
  }

  test("unigramScore: exact counts, closed-form scores, quality ordering") {
    val docs = Seq(
      (1L, "the the the cat"),
      (2L, "zyx qwv unusual rarity"),
      (3L, "the cat"),
      (4L, "   ")).toDF("doc_id", "text")
    // counts: the=4 cat=2 zyx/qwv/unusual/rarity=1; total=10; vocab(2)={the,cat}
    val got = TextOps.unigramScore(docs, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").collect()
    // whitespace-only doc 4 is pinned with zeros, not dropped
    got.map(_.getAs[Long]("n_tokens")).toSeq shouldBe Seq(4L, 4L, 2L, 0L)
    got.map(_.getAs[Long]("n_oov")).toSeq shouldBe Seq(0L, 4L, 0L, 0L)
    got(3).isNullAt(got(3).fieldIndex("avg_logprob")) shouldBe true
    val s = got.map(_.getAs[Double]("avg_logprob"))
    s(0) shouldBe ((3 * math.log(4) + math.log(2)) / 4 - math.log(10)) +- 1e-12
    s(1) shouldBe (math.log(0.5) - math.log(10)) +- 1e-12
    s(2) shouldBe ((math.log(4) + math.log(2)) / 2 - math.log(10)) +- 1e-12
    // the filtering signal: common-vocab docs outrank rare-word docs —
    // and repeating the top word RAISES the unigram score (doc1 > doc3),
    // which is exactly why perplexity filters pair with repetition
    // filters (t09) in real curation stacks
    s(0) should be > s(2)
    s(2) should be > s(1)
  }

  test("tfidf ranks corpus-distinctive terms above common ones") {
    val df = Seq(
      (1L, "zebra zebra zebra common common"),
      (2L, "common filler words here zebra"),
      (3L, "common filler words here again"),
      (4L, "common filler words here again")).toDF("doc_id", "text")
    val out = TextOps.tfidf(df, "text", "doc_id", topN = 2)
    // doc 1's top term must be zebra: tf=3 and df=2 beats common (df=4,
    // idf=ln(1)=0).
    val top1 = out.filter($"doc_id" === 1L && $"rank" === 1)
      .select("term", "tf", "df").as[(String, Long, Long)].collect()
    top1 shouldBe Array(("zebra", 3L, 2L))
    // every doc emits at most topN rows, ranks are 1..k contiguous
    val byDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max($"rank").as("mx"))
      .as[(Long, Long, Int)].collect()
    byDoc.foreach { case (_, n, mx) => mx.toLong shouldBe n }
    byDoc.map(_._2).max should be <= 2L
    // df=N terms score exactly 0 (ln 1), still rankable but never
    // above a positive-idf term with any tf
    val commonScore = TextOps.tfidf(df, "text", "doc_id", topN = 5)
      .filter($"term" === "common" && $"doc_id" === 2L)
      .select("score").as[Double].collect()
    commonScore(0) shouldBe 0.0
  }

  test("quality metrics + keep flag") {
    val good = "the quick brown fox jumps over the lazy dog again"
    val short = "hi"
    val m = Seq(good, short).toDF("text")
    val withM = TextOps.qualityMetrics(col("text")).foldLeft(m) {
      case (df, (n, c)) => df.withColumn(n, c)
    }.collect()
    withM(0).getAs[Boolean]("keep") shouldBe true
    withM(0).getAs[Int]("n_words") shouldBe 10
    withM(1).getAs[Boolean]("keep") shouldBe false
  }

  test("winnowing: shared substrings of >= w+k-1 chars share a fingerprint") {
    val common = "the identical shared middle passage of text"
    val df = Seq(
      (1L, s"prefix one $common suffix alpha"),
      (2L, s"totally different opening $common and another ending"),
      (3L, "nothing in common with the others at all here"))
      .toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.winnowFingerprints($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (fps(1L) intersect fps(2L)).size should be > 0
    // identical input -> identical fingerprint set
    val again = df.filter($"doc_id" === 1)
      .select(TextOps.winnowFingerprints($"text")).collect()(0).getSeq[Long](0).toSet
    again shouldBe fps(1L)
    // fingerprints are sorted distinct
    val raw = df.filter($"doc_id" === 1)
      .select(TextOps.winnowFingerprints($"text")).collect()(0).getSeq[Long](0)
    raw shouldBe raw.distinct.sorted
  }

  test("fingerprint is whitespace/case-insensitive and distinct otherwise") {
    val out = Seq("Hello   World", "hello world", "hello worlds").toDF("t")
      .select(TextOps.fingerprint($"t").as("fp")).as[String].collect()
    out(0) shouldBe out(1)
    out(0) should not be out(2)
  }

  test("redactPii masks emails and phones, counts them, leaves clean text") {
    val rows = Seq(
      "reach me at jane.doe+spam@mail.example.org or +1 (415) 555-0123 now",
      "two mails a@b.co c.d@e.org and digits 12345 stay",
      "no pii here at all").toDF("t")
      .select(TextOps.redactPii($"t").as("r") +:
        TextOps.piiCounts($"t").map { case (n, c) => c.as(n) }: _*)
      .collect()
    rows(0).getString(0) shouldBe "reach me at <EMAIL> or <PHONE> now"
    rows(0).getInt(1) shouldBe 1 // n_emails
    rows(0).getInt(2) shouldBe 1 // n_phones
    rows(1).getString(0) shouldBe "two mails <EMAIL> <EMAIL> and digits 12345 stay"
    rows(1).getInt(1) shouldBe 2
    rows(1).getInt(2) shouldBe 0 // bare 5 digits under the 8-char floor
    rows(2).getString(0) shouldBe "no pii here at all"
    rows(2).getInt(1) + rows(2).getInt(2) shouldBe 0
  }

  test("qualityScore: bounded in (0,1), prose beats junk") {
    val rows = Seq(
      "The cat is on the mat and the dog is in the house of the king.",
      "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
      "").toDF("t")
      .select(TextOps.qualityScore($"t").as("s")).as[Double].collect()
    all(rows) should be > 0.0
    all(rows) should be < 1.0
    rows(0) should be > rows(1) // stopword-rich prose scores higher than a letter run
    rows(0) should be > 0.5
    rows(1) should be < 0.5 // 40-char letter run: word-length deviation sinks it
  }

  test("cleanLines applies every C4 rule and keeps first dup occurrence") {
    val text = Seq(
      "the good first line here",   // kept
      "too short",                  // < 3 tokens dropped
      "enable javascript to view",  // banned substring dropped
      "a repeated line body",       // kept (first occurrence)
      "another fine line survives", // kept
      "a repeated line body",       // duplicate dropped
      "JavaScript ALSO BANNED uppercase").mkString("\n") // case-insensitive
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val out = TextOps.cleanLines(df, "text", "doc_id").collect()(0)
    out.getAs[Int]("n_lines") shouldBe 7
    out.getAs[Int]("n_kept") shouldBe 3
    out.getAs[String]("clean_text") shouldBe Seq(
      "the good first line here", "a repeated line body",
      "another fine line survives").mkString("\n")
    // dedupLines=false keeps both copies of the repeated line
    val keepDups = TextOps.cleanLines(df, "text", "doc_id",
      dedupLines = false).collect()(0)
    keepDups.getAs[Int]("n_kept") shouldBe 4
    // all lines dropped -> empty doc survives as a row with empty text
    val gone = Seq((8L, "ha\nho")).toDF("doc_id", "text")
    val g = TextOps.cleanLines(gone, "text", "doc_id").collect()(0)
    g.getAs[Int]("n_kept") shouldBe 0
    g.getAs[String]("clean_text") shouldBe ""
  }

  test("trainBpe: classic greedy merge sequence, ties and early stop") {
    // Sennrich-style fixture: low×5 lower×2 newest×6 widest×3.
    // Hand-derived: (e,s,9) wins the 9-tie vs (s,t) on left order;
    // after es and est merge, (l,o,7) wins the 7-tie vs (o,w); then
    // (lo,w,7) — merges must be applied to symbol STATE, not substrings
    // (a naive replace would corrupt longer symbols).
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val m = TextOps.trainBpe(df, "text", numMerges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    m shouldBe Array((0, "e", "s", 9L), (1, "es", "t", 9L),
      (2, "l", "o", 7L), (3, "lo", "w", 7L))
    // no repeated pair anywhere -> training stops with an empty table
    val uniq = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    TextOps.trainBpe(uniq, "text", numMerges = 5).count() shouldBe 0L
    // left-to-right non-overlapping: aaaa merges to [aa, aa], so the
    // second merge is (aa, aa) — not (aa, a)
    val runs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val rm = TextOps.trainBpe(runs, "text", numMerges = 2).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    rm(0) shouldBe (("a", "a", 6L))  // 3 adjacent pairs per word x freq 2
    rm(1) shouldBe (("aa", "aa", 2L))
  }

  test("bpeTokenCount replays trained merges; boundaries never merge") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    // lowest -> [low, est]; newest -> [n, e, w, est]
    val out = Seq((1L, "lowest newest"), (2L, ""), (3L, "ow wl"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        TextOps.bpeTokenCount($"text", merges).as("n_tokens"))
      .orderBy("doc_id").as[(Long, Int)].collect()
    out(0)._2 shouldBe 6
    out(1)._2 shouldBe 0
    // "ow wl": the (l,o) and (lo,w) merges must NOT fire across the
    // word boundary (w|l adjacency) or inside reversed pairs
    out(2)._2 shouldBe 4
  }

  test("gopherRules: every signal closed-form, keep at the thresholds") {
    // 3 lines: bullet, ellipsis-terminated, plain. 9 words total, of
    // which "-" and "..." carry no letter.
    val text = "- the cat sat\nthe dog ran ...\nboth have fur"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val out = df.select(col("doc_id") +:
      TextOps.gopherRules(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    out.getAs[Int]("n_words") shouldBe 11
    // chars minus spaces (newlines count as chars, not spaces)
    val nChars = text.length - text.count(_ == ' ')
    out.getAs[Double]("mean_word_len") shouldBe nChars.toDouble / 11
    out.getAs[Double]("symbol_ratio") shouldBe 1.0 / 11   // one "..."
    out.getAs[Double]("bullet_frac") shouldBe 1.0 / 3
    out.getAs[Double]("ellipsis_frac") shouldBe 1.0 / 3
    out.getAs[Double]("alpha_frac") shouldBe 9.0 / 11
    // stopwords present: the, have -> 2 hits
    out.getAs[Int]("stop_hits") shouldBe 2
    // fails keep on n_words < 50 and ellipsis_frac 1/3 > 0.3
    out.getAs[Boolean]("keep") shouldBe false
    // a 60-word plain prose doc with >= 2 stopwords passes every rule
    val prose = (1 to 60).map(i => if (i % 7 == 0) "the" else s"word$i")
      .mkString(" ") + " and done"
    val ok = Seq((2L, prose)).toDF("doc_id", "text")
      .select(TextOps.gopherRules(col("text")).toMap.apply("keep").as("k"))
      .collect()(0).getAs[Boolean]("k")
    ok shouldBe true
  }

  test("bigramScore: held-out backoff tiers and closed-form score") {
    // train = doc 2 only (even ids): tokens [a b a b] -> uni a=2 b=2,
    // N=4; bigrams (a,b)=2? no: [a b, b a, a b] -> (a,b)=2, (b,a)=1.
    val df = Seq(
      (2L, "a b a b"),
      (1L, "a b c"),   // (a,b) hit; (b,c): c OOV
      (3L, "x")).toDF("doc_id", "text") // no bigrams -> pinned zeros
    val got = TextOps.bigramScore(df, "doc_id", "text",
        col("doc_id") % 2 === 0)
      .orderBy("doc_id").collect()
    // doc 1: 2 bigrams, 1 hit, 0 backoff, 1 oov
    got(0).getAs[Long]("n_bigrams") shouldBe 2L
    got(0).getAs[Long]("n_hit") shouldBe 1L
    got(0).getAs[Long]("n_backoff") shouldBe 0L
    got(0).getAs[Long]("n_oov") shouldBe 1L
    // S(b|a) = c(a b)/c(a) = 2/2 = 1; S(c|b) = 0.4*0.5/4 = 0.05
    got(0).getAs[Double]("avg_logscore") shouldBe
      ((math.log(1.0) + math.log(0.05)) / 2) +- 1e-12
    // doc 2 (the training doc): 3 bigrams all hits;
    // S(b|a)=1, S(a|b)=1/2, S(b|a)=1
    got(1).getAs[Long]("n_hit") shouldBe 3L
    got(1).getAs[Double]("avg_logscore") shouldBe
      (math.log(0.5) / 3) +- 1e-12
    // doc 3: zero bigrams pinned, null score
    got(2).getAs[Long]("n_bigrams") shouldBe 0L
    got(2).isNullAt(got(2).fieldIndex("avg_logscore")) shouldBe true
    // backoff tier: unseen bigram with a known continuation word
    val df2 = Seq((2L, "a b"), (1L, "b a")).toDF("doc_id", "text")
    val r = TextOps.bigramScore(df2, "doc_id", "text",
        col("doc_id") % 2 === 0)
      .filter(col("doc_id") === 1).collect()(0)
    r.getAs[Long]("n_backoff") shouldBe 1L
    // S(a|b) backoff = 0.4 * c(a)/N = 0.4 * 1/2 = 0.2
    r.getAs[Double]("avg_logscore") shouldBe math.log(0.2) +- 1e-12
  }

  test("bm25 state persistence: round-trip, sentinel, format fail-fast") {
    val docs = Seq(
      (1L, "spark engine scale"),
      (2L, "spark join shuffle join")).toDF("doc_id", "text")
    val state = TextOps.bm25State(docs, "text", "doc_id")
    val dir = java.nio.file.Files.createTempDirectory("bm25st").toString
    IndexIo.Bm25.save(state, dir)
    val loaded = IndexIo.Bm25.load(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    rows(loaded) shouldBe rows(state)
    // the doc-count sentinel survives the round trip
    loaded.filter(col("term") === "").collect()
      .map(r => (r.getLong(1), r.getLong(2))) shouldBe Array((2L, 0L))
    // merging a loaded state behaves exactly like merging a live one
    val more = TextOps.bm25State(
      Seq((3L, "scale out")).toDF("doc_id", "text"), "text", "doc_id")
    rows(TextOps.mergeBm25State(loaded, more)) shouldBe
      rows(TextOps.mergeBm25State(state, more))
    // a future format version fails fast instead of misreading
    spark.createDataFrame(Seq(Tuple1(7))).toDF("format_version")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val err = intercept[IllegalArgumentException] {
      IndexIo.Bm25.load(spark, dir)
    }
    err.getMessage should include("format_version")
  }

  test("knBigramScore: KN tiers, statistic sums, and closed-form score") {
    // train = doc 2 only: tokens [a b a b] -> bigrams (a,b)=2, (b,a)=1;
    // ctx: a -> c1=2 n1fw=1, b -> c1=1 n1fw=1; cont: a -> 1, b -> 1;
    // N1+(..) = 2 bigram types; D = 0.75
    val df = Seq(
      (2L, "a b a b"),
      (1L, "a b c"),   // (a,b) hit; (b,c): seen context, unseen cont
      (3L, "x")).toDF("doc_id", "text") // < 2 tokens -> pinned zeros
    val got = TextOps.knBigramScore(df, "doc_id", "text",
        col("doc_id") % 2 === 0)
      .orderBy("doc_id").collect()
    // doc 1: P(b|a) = (2-.75)/2 + .75*(1/2)*(1/2) = 0.8125
    //        P(c|b) = 0 + .75*(1/1)*(0.5/2)       = 0.1875
    got(0).getAs[Long]("n_bigrams") shouldBe 2L
    got(0).getAs[Long]("n_hit") shouldBe 1L
    got(0).getAs[Long]("n_ctx") shouldBe 1L
    got(0).getAs[Long]("n_cont") shouldBe 0L
    got(0).getAs[Long]("n_oov") shouldBe 0L
    got(0).getAs[Long]("sum_c12") shouldBe 2L
    got(0).getAs[Long]("sum_c1") shouldBe 3L
    got(0).getAs[Long]("sum_n1fw") shouldBe 2L
    got(0).getAs[Long]("sum_n1bw") shouldBe 1L
    got(0).getAs[Double]("avg_logscore") shouldBe
      ((math.log(0.8125) + math.log(0.1875)) / 2) +- 1e-12
    // doc 2 (training doc): (a,b) 0.8125 twice;
    // P(a|b) = (1-.75)/1 + .75*(1/1)*(1/2) = 0.625
    got(1).getAs[Long]("n_hit") shouldBe 3L
    got(1).getAs[Double]("avg_logscore") shouldBe
      ((2 * math.log(0.8125) + math.log(0.625)) / 3) +- 1e-12
    // doc 3: zero bigrams pinned, null score
    got(2).getAs[Long]("n_bigrams") shouldBe 0L
    got(2).isNullAt(got(2).fieldIndex("avg_logscore")) shouldBe true
    // unseen-context tiers: (c,a) falls to Pcont(a) = 1/2 alone;
    // (q,z) is fully OOV -> 0.5/2
    val df2 = Seq((2L, "a b a b"), (1L, "c a"), (3L, "q z"))
      .toDF("doc_id", "text")
    val r = TextOps.knBigramScore(df2, "doc_id", "text",
        col("doc_id") % 2 === 0)
      .filter(col("doc_id") =!= 2).orderBy("doc_id").collect()
    r(0).getAs[Long]("n_cont") shouldBe 1L
    r(0).getAs[Double]("avg_logscore") shouldBe math.log(0.5) +- 1e-12
    r(1).getAs[Long]("n_oov") shouldBe 1L
    r(1).getAs[Double]("avg_logscore") shouldBe math.log(0.25) +- 1e-12
  }

  test("trigramScore: all four tiers and closed-form score") {
    // train = doc 2 only: tokens [a b a b a] -> uni a=3 b=2, N=5;
    // bigrams (a,b)=2, (b,a)=2; trigrams (a,b,a)=2, (b,a,b)=1
    val df = Seq(
      (2L, "a b a b a"),
      (1L, "a b a c"),  // (a,b,a) hit; (b,a,c): c OOV
      (3L, "x a b"),    // (x,a,b): bigram-tier backoff via (a,b)
      (5L, "p q a"),    // (p,q,a): unigram-tier backoff via a
      (7L, "x y")).toDF("doc_id", "text") // < 3 tokens -> pinned zeros
    val got = TextOps.trigramScore(df, "doc_id", "text",
        col("doc_id") % 2 === 0)
      .orderBy("doc_id").collect()
    // doc 1: S(a|a b) = c(a,b,a)/c(a,b) = 2/2 = 1;
    // (b,a,c): no trigram, no bigram (a,c), c unknown -> 0.08/5
    got(0).getAs[Long]("n_trigrams") shouldBe 2L
    got(0).getAs[Long]("n_hit") shouldBe 1L
    got(0).getAs[Long]("n_back2") shouldBe 0L
    got(0).getAs[Long]("n_back1") shouldBe 0L
    got(0).getAs[Long]("n_oov") shouldBe 1L
    got(0).getAs[Double]("avg_logscore") shouldBe
      ((math.log(1.0) + math.log(0.08 / 5)) / 2) +- 1e-12
    // doc 2 (training doc): trigrams (a,b,a) S=2/2, (b,a,b) S=1/2,
    // (a,b,a) S=1 -> all hits
    got(1).getAs[Long]("n_hit") shouldBe 3L
    got(1).getAs[Double]("avg_logscore") shouldBe
      (math.log(0.5) / 3) +- 1e-12
    // doc 3: (x,a,b) falls to the bigram tier:
    // S = 0.4 * c(a,b)/c(a) = 0.4 * 2/3
    got(2).getAs[Long]("n_back2") shouldBe 1L
    got(2).getAs[Double]("avg_logscore") shouldBe
      math.log(0.4 * 2.0 / 3.0) +- 1e-12
    // doc 5: (p,q,a) falls to the unigram tier:
    // S = 0.16 * c(a)/N = 0.16 * 3/5
    got(3).getAs[Long]("n_back1") shouldBe 1L
    got(3).getAs[Double]("avg_logscore") shouldBe
      math.log(0.16 * 3.0 / 5.0) +- 1e-12
    // doc 7: zero trigrams pinned, null score
    got(4).getAs[Long]("n_trigrams") shouldBe 0L
    got(4).isNullAt(got(4).fieldIndex("avg_logscore")) shouldBe true
  }

  test("unigram Viterbi picks the minimum-cost split with deterministic ties") {
    import graft.functions.UnigramSegmenter
    // costs: cheap bigrams make ["ab","ab"] beat ["a","b","a","b"]
    val df = Seq("abab", "aba", "abq", "aab").toDF("word")
    val pieces = Array("a", "b", "ab", "aa")
    val costs = Array(100L, 100L, 50L, 100L)
    val got = df.select(UnigramSegmenter.unigramSegment(col("word"),
        pieces, costs, 2).as("p"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    got(0) shouldBe Seq("ab", "ab")
    // "aba": [ab,a]=150 beats [a,b,a]=300; a|ba is not a valid split
    got(1) shouldBe Seq("ab", "a")
    // 'q' is not in the vocab: unsegmentable -> null
    got(2) shouldBe null
    // exact integer TIE: [a,ab]=200 == [aa,b]=200 — the smallest
    // predecessor at the final position wins (longest final piece),
    // the rule a SQL oracle replays as ORDER BY cost, reversed bounds
    got(3) shouldBe Seq("a", "ab")
  }

  test("unigram seed counts, EM reweighting, and encode") {
    // corpus: "ab ab b" => word table: ab(freq 2), b(freq 1)
    val df = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val table = TextOps.bpeWordTable(df, "text").drop("syms")
    val seed = TextOps.unigramSeedModel(table, vocabSize = 10, maxPieceLen = 2)
    // substrings weighted by freq: from ab(2): a:2, b:2, ab:2; from b(1): b:1
    val seedMap = seed.pieces.zip(seed.counts).toMap
    seedMap shouldBe Map("a" -> 2L, "b" -> 3L, "ab" -> 2L)
    // total=7; cost check for one piece: -round(1e6*ln(2/7))
    val ci = seed.pieces.indexOf("ab")
    seed.costInt(ci) shouldBe -math.round(1e6 * math.log(2.0 / 7.0))
    // E-step: "ab" segments as [ab] (one piece beats two), "b" as [b]
    // hard counts: ab->2, b->1; Laplace+1 over vocab: a->1, b->2, ab->3
    val m1 = TextOps.unigramEmStep(table, seed)
    m1.pieces.zip(m1.counts).toMap shouldBe
      Map("a" -> 1L, "b" -> 2L, "ab" -> 3L)
    // encode rides the same model
    val enc = df.select(TextOps.unigramEncode(col("text"), m1).as("p"))
      .collect()(0).getSeq[String](0)
    enc shouldBe Seq("ab", "ab", "b")
    // train composes seed + EM deterministically
    val t = TextOps.unigramTrain(df, "text", vocabSize = 10,
      maxPieceLen = 2, emIters = 1)
    t.pieces.zip(t.counts).toMap shouldBe m1.pieces.zip(m1.counts).toMap
  }

  test("trained quality classifier recovers a separable planted labeling") {
    // Planted separable fixture: the positive class is long English
    // with heavy stopword mass (high f1/f2), the negative class short
    // gibberish — linearly separable in the quality features, so
    // full-batch GD must drive training accuracy to 100%.
    val good = (0 until 60).map { i =>
      (i.toLong,
        "the cat and a dog of the town is to run in the park and " * 3 +
          s"tail$i")
    }
    val bad = (60 until 120).map(i => (i.toLong, s"zxq$i qq"))
    val df = (good ++ bad).toDF("doc_id", "text")
    val label = col("doc_id") < 60
    val model = TextOps.trainQualityClassifier(df, "text", label,
      iters = 60, lr = 0.5)
    model.weights.length shouldBe 5
    val scored = df.select(col("doc_id"),
        TextOps.qualityScoreTrained(col("text"), model).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 60).foreach(i => scored(i.toLong) should be > 0.5)
    (60 until 120).foreach(i => scored(i.toLong) should be < 0.5)
  }

  test("bm25: closed-form score on a tiny corpus, set semantics, absent terms inert") {
    import spark.implicits._
    // 3 docs, hand-computable: N=3, tokens: d1=4, d2=2, d3=3 -> avgdl=3
    val docs = Seq(
      1L -> "apple banana apple cherry",
      2L -> "banana cherry",
      3L -> "date egg fig").toDF("doc_id", "text")
    // duplicate 'apple' in q1 must collapse (set semantics); 'zzz' absent
    val qt = Seq("q1" -> "apple", "q1" -> "apple", "q1" -> "banana",
      "q2" -> "zzz").toDF("query_id", "term")
    val out = TextOps.bm25(docs, "text", "doc_id", qt)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val k1 = 1.2; val b = 0.75
    def idf(df: Int): Double = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def w(tf: Long, dl: Long): Double =
      tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / 3.0))
    // d1: apple tf=2 (df=1), banana tf=1 (df=2); d2: banana tf=1
    val expD1 = idf(1) * w(2, 4) + idf(2) * w(1, 4)
    val expD2 = idf(2) * w(1, 2)
    out.keySet shouldBe Set("q1" -> 1L, "q1" -> 2L)
    out("q1" -> 1L)._1 shouldBe expD1 +- 1e-12
    out("q1" -> 1L)._2 shouldBe 2L
    out("q1" -> 2L)._1 shouldBe expD2 +- 1e-12
    out("q1" -> 2L)._2 shouldBe 1L
  }

  test("bm25State merges exactly: merged-state scoring equals one-shot bm25 over the union") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark caches hot data in memory"),
      (3L, "the planner prunes columns early"),
      (4L, "joins broadcast the small side"),
      (5L, "")).toDF("doc_id", "text")
    val qt = Seq("q1" -> "spark", "q1" -> "data", "q2" -> "broadcast")
      .toDF("query_id", "term")
    val merged = TextOps.mergeBm25State(
      TextOps.bm25State(d.filter($"doc_id" <= 2), "text", "doc_id"),
      TextOps.bm25State(d.filter($"doc_id" > 2), "text", "doc_id"))
    // sentinel carries the doc count; term rows carry exact df/tf
    val st = merged.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    st("") shouldBe ((5L, 0L))
    st("spark") shouldBe ((2L, 2L))
    st("the") shouldBe ((3L, 3L))
    val viaState = TextOps.bm25ScoreWithState(merged, d, "text", "doc_id", qt)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val oneShot = TextOps.bm25(d, "text", "doc_id", qt)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    viaState.keySet shouldBe oneShot.keySet
    viaState.foreach { case (k, (s, n)) =>
      s shouldBe oneShot(k)._1 +- 1e-12
      n shouldBe oneShot(k)._2
    }
  }

  test("subtractBm25State is the exact inverse merge; negatives fail fast") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark caches hot data in memory"),
      (3L, "the planner prunes columns early"),
      (4L, "joins broadcast the small side")).toDF("doc_id", "text")
    def stateMap(s: org.apache.spark.sql.DataFrame) = s.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = TextOps.bm25State(d.filter($"doc_id" <= 2), "text", "doc_id")
    val b = TextOps.bm25State(d.filter($"doc_id" > 2), "text", "doc_id")
    // subtract(merge(a, b), b) = a, row-for-row — terms df=0 dropped
    stateMap(TextOps.subtractBm25State(
      TextOps.mergeBm25State(a, b), b)) shouldBe stateMap(a)
    // scoring with the subtracted state equals a refit over remaining
    val qt = Seq("q1" -> "spark", "q1" -> "data").toDF("query_id", "term")
    val whole = TextOps.bm25State(d, "text", "doc_id")
    val afterDel = TextOps.subtractBm25State(whole, b)
    val viaState = TextOps.bm25ScoreWithState(afterDel,
        d.filter($"doc_id" <= 2), "text", "doc_id", qt)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val refit = TextOps.bm25(d.filter($"doc_id" <= 2), "text", "doc_id", qt)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    viaState.keySet shouldBe refit.keySet
    viaState.foreach { case (k, s) => s shouldBe refit(k) +- 1e-12 }
    // deleting the whole corpus leaves only the (zeroed) sentinel
    stateMap(TextOps.subtractBm25State(whole, whole)) shouldBe
      Map("" -> ((0L, 0L)))
    // a non-subset deletion fails fast instead of minting negative df
    val ex = intercept[IllegalArgumentException] {
      TextOps.subtractBm25State(a, b)
    }
    ex.getMessage should include("not a subset")
  }

  test("trainHashedSoftmax recovers planted class vocabularies; empty docs get the bias argmax") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val aa = (0L until 20L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta", "aa"))
    val bb = (20L until 40L).map(i =>
      (i, "uno dos tres cuatro cinco seis", "bb"))
    val cc = (40L until 60L).map(i =>
      (i, "eins zwei drei vier funf sechs", "cc"))
    val df = (aa ++ bb ++ cc).toDF("doc_id", "text", "lang")
    val m = TextOps.trainHashedSoftmax(df, "text", "doc_id", "lang",
      buckets = 64, iters = 25, lr = 1.0)
    m.classes shouldBe Array("aa", "bb", "cc")
    m.weights.length shouldBe 3
    m.weights.foreach(_.length shouldBe 65)
    val preds = TextOps.predictHashedSoftmax(df, "text", "doc_id", m)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (aa ++ bb ++ cc).foreach { case (id, _, lang) =>
      preds(id) shouldBe lang
    }
    // empty text: logits reduce to the class biases; winner is still
    // deterministic (rounded bias, then class order)
    val empty = Seq((99L, "", "aa")).toDF("doc_id", "text", "lang")
    TextOps.predictHashedSoftmax(empty, "text", "doc_id", m)
      .count() shouldBe 1L
  }

  test("trainHashedClassifier separates planted vocabularies; projection scoring equals the feature dot product") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pos = (0L until 30L).map(i =>
      (i, "good great excellent wonderful superb delightful", 1))
    val neg = (30L until 60L).map(i =>
      (i, "bad awful terrible horrid dreadful atrocious", 0))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val model = TextOps.trainHashedClassifier(df, "text", "doc_id",
      col("y") === 1, buckets = 64, iters = 30, lr = 1.0)
    model.weights.length shouldBe 65
    val scored = df.select(col("y"),
        TextOps.scoreHashedClassifier(col("text"), model).as("s"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    scored.foreach { case (y, s) =>
      if (y == 1) s should be > 0.5 else s should be < 0.5
    }
    // projection scoring == feature-relation dot product (same algebra,
    // different plan shape)
    val viaFeats = TextOps.hashedNgramFeatures(df, "text", "doc_id", 64)
      .withColumn("w", element_at(
        typedLit(model.weights.toSeq), col("bucket") + lit(2)))
      .groupBy("doc_id").agg(sum(col("x") * col("w")).as("z"))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("z")))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaProj = df.select(col("doc_id"),
        TextOps.scoreHashedClassifier(col("text"), model).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaFeats.foreach { case (id, s) => viaProj(id) shouldBe s +- 1e-12 }
    // empty text scores at the bias alone
    val bias = Seq((99L, "")).toDF("doc_id", "text")
      .select(TextOps.scoreHashedClassifier(col("text"), model))
      .as[Double].collect().head
    bias shouldBe 1.0 / (1.0 + math.exp(-model.weights.head)) +- 1e-12
  }

  test("predictHashedSoftmax (in-row fold) equals the relational window reference") {
    // pins the row-local predict plan (feature-map fold + comparator
    // sort) against the join + per-(doc, class) aggregate + window
    // formulation it replaced: same winner by (round(z, 6) desc,
    // class asc), same 4dp logit — including bias-only empty docs and
    // round(z, 6) ties (two classes with IDENTICAL zero weights tie
    // exactly and must resolve by class order)
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, "alpha beta gamma", "aa"), (2L, "uno dos tres", "bb"),
      (3L, "alpha dos", "aa"), (4L, "", "bb"),
      (5L, "eins zwei", "cc")).toDF("doc_id", "text", "lang")
    val m0 = TextOps.trainHashedSoftmax(df, "text", "doc_id", "lang",
      buckets = 8, iters = 3, lr = 1.0)
    // plant an exact tie: classes 0 and 1 share identical weights
    val m = m0.copy(weights = m0.weights.updated(1, m0.weights(0).clone()))
    val got = TextOps.predictHashedSoftmax(df, "text", "doc_id", m)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    val wDf = broadcast(
      (for { (c, ci) <- m.classes.zipWithIndex; j <- 0 to m.buckets }
        yield (c, j - 1, m.weights(ci)(j))).toSeq
        .toDF("__c", "bucket", "w"))
    val ref = TextOps.hashedNgramFeatures(df, "text", "doc_id", m.buckets)
      .select(col("doc_id").as("__id"), col("bucket"), col("x"))
      .join(wDf, "bucket")
      .groupBy("__id", "__c").agg(sum(col("x") * col("w")).as("__z"))
      .withColumn("__rn", row_number().over(Window.partitionBy("__id")
        .orderBy(round(col("__z"), 6).desc, col("__c"))))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__c"), round(col("__z"), 4))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    got.map(t => (t._1, t._2)) shouldBe ref.map(t => (t._1, t._2))
    got.zip(ref).foreach { case (g, r) => g._3 shouldBe r._3 +- 1e-9 }
  }
}
