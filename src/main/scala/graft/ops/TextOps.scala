package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All built from codegen'd `functions._` expressions — no UDFs — so
  * they stay inside WholeStageCodegen and scale linearly with input
  * splits (no shuffle at all for per-document scoring).
  */
object TextOps {

  /** Count non-overlapping occurrences of literal `marker` in `c`,
    * exactly and engine-portably: (len(x) - len(replace(x, m, ''))) / len(m).
    */
  def occurrences(c: Column, marker: String): Column =
    (length(c) - length(replace(c, lit(marker), lit(""))))
      ./(lit(marker.length)).cast("int")

  /** Language-ID by stopword-marker scoring (n-gram heuristic).
    * Wraps the text in spaces so markers match at boundaries; the
    * language with the highest marker count wins, ties broken in
    * (en, fr, de, es) order.
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def score(markers: Seq[String]): Column =
      markers.map(m => occurrences(padded, s" $m ")).reduce(_ + _)
    val en = score(Seq("the", "a", "and", "of", "is"))
    val fr = score(Seq("le", "la", "et", "les", "est"))
    val de = score(Seq("der", "die", "und", "das", "ist"))
    val es = score(Seq("el", "los", "las", "es", "y"))
    when(en >= fr && en >= de && en >= es, lit("en"))
      .when(fr >= de && fr >= es, lit("fr"))
      .when(de >= es, lit("de"))
      .otherwise(lit("es"))
  }

  /** Whitespace token count: single-space-separated word count, exact. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token.
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** The weighted word-frequency table BPE training runs on: one row
    * per DISTINCT word (Zipf-bounded — this is why BPE trainers never
    * touch the raw token stream) with its corpus frequency and the
    * word's symbol state, initially one character per symbol, kept as
    * a `\u0001`-separated string so every merge step is a codegen
    * string `replace`. Top `maxWords` words by (freq desc, word) —
    * deterministic, engine-replayable.
    */
  def bpeWordTable(df: org.apache.spark.sql.DataFrame, textCol: String,
                   maxWords: Int = 65536): org.apache.spark.sql.DataFrame = {
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val words = df.select(explode(filter(
      split(lower(trim(col(textCol))), "\\s+"), w => w =!= "")).as("word"))
    words.groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(maxWords)
      .withColumn("syms", array_join(split(col("word"), ""), BpeSep))
  }

  private[ops] val BpeSep = "\u0001"

  /** Frequency-weighted adjacent-symbol-pair counts over a word table —
    * the kernel of one BPE training iteration (and of pair-statistics
    * analyses generally). Pure column algebra: split the symbol state,
    * zip with its own tail, explode, weighted sum. The pair stream is
    * bounded by total symbols in the word TABLE (≤ maxWords · longest
    * word), never by corpus size.
    */
  def bpePairCounts(wordTable: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = split(col("syms"), BpeSep)
    wordTable
      .select(col("freq"), explode(when(size(s) >= 2,
          zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
            (a, b) => struct(a.as("left"), b.as("right"))))
        .otherwise(array().cast("array<struct<left:string,right:string>>")))
        .as("__p"))
      .groupBy(col("__p.left").as("left"), col("__p.right").as("right"))
      .agg(sum("freq").as("pair_count"))
  }

  /** BPE vocabulary training (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016): greedy
    * pair merges over the weighted word table. Returns the merge table
    * `(merge_rank, left, right, pair_count)` — the artifact a
    * tokenizer ships. Ties break (count desc, left, right):
    * deterministic across engines and layouts.
    *
    * Scale shape: the corpus is touched ONCE (the word-frequency
    * aggregate); every training iteration runs on the ≤`maxWords`-row
    * word table — a weighted pair aggregate (distributed) + a
    * SINGLE-ROW argmax collect (the k-means-sample precedent: bounded,
    * documented) + one codegen `replace` projection applying the merge
    * left-to-right non-overlapping, exactly BPE's convention. Stops
    * early when no pair repeats.
    */
  def trainBpe(df: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int, maxWords: Int = 65536)
      : org.apache.spark.sql.DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    var table = bpeWordTable(df, textCol, maxWords).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var rank = 0
    while (rank < numMerges) {
      val top = bpePairCounts(table)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("pair_count") < 2) {
        rank = numMerges // no repeated pair left — training is done
      } else {
        val l = top(0).getAs[String]("left")
        val r = top(0).getAs[String]("right")
        merges += ((merges.size, l, r, top(0).getAs[Long]("pair_count")))
        // boundary-anchored so a pair can only match FULL adjacent
        // symbols (never a substring inside a longer symbol), while
        // the un-consumed lookahead keeps left-to-right non-overlapping
        // application exactly BPE's convention (aaaa -> [aa, aa])
        val pat = "(?<=^|" + BpeSep + ")" +
          java.util.regex.Pattern.quote(l) + BpeSep +
          java.util.regex.Pattern.quote(r) + "(?=" + BpeSep + "|$)"
        table = table.withColumn("syms", regexp_replace(col("syms"),
            lit(pat),
            lit(java.util.regex.Matcher.quoteReplacement(l + r))))
          .localCheckpoint()
        rank += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("merge_rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("left",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("right",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pair_count",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(merges.toSeq.map { case (i, l, r, c) =>
      org.apache.spark.sql.Row(i, l, r, c) }.asJava, schema)
  }

  /** Apply a trained BPE merge sequence to text: per word, start from
    * character symbols and replay every merge in rank order, returning
    * the subword token count (`n_tokens`) and fertility driver
    * (`n_words`) per row. The whole encode is ONE projection — the
    * merge list folds into nested codegen `regexp_replace` calls
    * (plan size linear in the number of merges; fine for the
    * vocabulary sizes a fertility analysis uses), so encoding rides
    * the scan with zero shuffles, exactly how a tokenizer-fertility
    * filter runs over 100 TB.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    // words -> per-word char-symbol state joined by DOUBLE separator
    // (word boundaries must never merge), then replay the merges
    val words = filter(split(lower(trim(text)), "\\s+"), w => w =!= "")
    val sep2 = BpeSep + BpeSep
    val charState = array_join(transform(words,
      w => array_join(split(w, ""), BpeSep)), sep2)
    val encoded = merges.foldLeft(charState) { case (state, (l, r)) =>
      val pat = "(?<=^|" + BpeSep + ")" + java.util.regex.Pattern.quote(l) +
        BpeSep + java.util.regex.Pattern.quote(r) +
        "(?=" + BpeSep + "|$)"
      regexp_replace(state, lit(pat),
        lit(java.util.regex.Matcher.quoteReplacement(l + r)))
    }
    when(size(words) === 0, lit(0))
      .otherwise(size(split(encoded, BpeSep + "+")))
  }

  /** Unigram (SentencePiece-style) piece model: vocabulary pieces with
    * raw integer counts and FIXED-POINT integer costs
    * (−round(1e6·ln(count/total)) — log-probs on a 1e-6 grid), so
    * Viterbi path comparison is exact integer arithmetic in any
    * engine: the "integer skeleton" a SQL oracle can replay without
    * float-tie ambiguity. `maxPieceLen` bounds candidate pieces.
    */
  final case class UnigramModel(pieces: Array[String], counts: Array[Long],
                                costInt: Array[Long], maxPieceLen: Int)

  private def unigramCosts(counts: Array[Long]): Array[Long] = {
    val total = counts.sum.toDouble
    counts.map(c => -math.round(1e6 * math.log(c / total)))
  }

  /** Seed vocabulary for unigram training: every substring of length
    * 1..maxPieceLen of every word-table word, weighted by word
    * frequency (all start positions). ALL single-codepoint pieces are
    * kept (coverage — any word stays segmentable); multi-codepoint
    * pieces keep the top (vocabSize − #chars) by (count desc, piece).
    * One distributed substring-explosion aggregate over the
    * Zipf-bounded word table; the driver only collects the ≤vocabSize
    * result (codebook discipline).
    */
  def unigramSeedModel(wordTable: org.apache.spark.sql.DataFrame,
                       vocabSize: Int, maxPieceLen: Int): UnigramModel = {
    require(vocabSize >= 1 && maxPieceLen >= 1, "bad unigram params")
    val n = length(col("word"))
    val subs = wordTable.select(col("freq"), explode(flatten(
      transform(sequence(lit(1), n), i =>
        transform(sequence(lit(1), least(lit(maxPieceLen), n - i + lit(1))),
          l => col("word").substr(i, l))))).as("piece"))
    val counts = subs.groupBy("piece").agg(sum("freq").as("cnt"))
    val chars = counts.filter(length(col("piece")) === 1)
    val nChars = chars.count().toInt
    val multi = counts.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(math.max(0, vocabSize - nChars))
    val rows = chars.unionByName(multi)
      .orderBy(col("piece")).collect()
    val pieces = rows.map(_.getAs[String]("piece"))
    val cnts = rows.map(_.getAs[Long]("cnt"))
    UnigramModel(pieces, cnts, unigramCosts(cnts), maxPieceLen)
  }

  /** One hard-EM iteration: E-step segments every word-table word by
    * Viterbi under the current model ([[graft.functions.UnigramSegment]]
    * — ONE codegen node, vocab as a reference object) and aggregates
    * frequency-weighted piece counts DISTRIBUTED; the M-step is a
    * driver-side Laplace re-estimate (count+1 over the fixed
    * vocabulary, O(|vocab|) — pieces the E-step never used survive
    * with floor probability instead of ln(0)). Corpus rows are never
    * touched: EM runs entirely on the Zipf-bounded word table.
    */
  def unigramEmStep(wordTable: org.apache.spark.sql.DataFrame,
                    model: UnigramModel): UnigramModel = {
    val segged = unigramSegmentWords(wordTable, model)
    val hard = segged.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .collect().map(r => r.getAs[String]("piece") -> r.getAs[Long]("cnt"))
      .toMap
    val cnts = model.pieces.map(p => hard.getOrElse(p, 0L) + 1L)
    UnigramModel(model.pieces, cnts, unigramCosts(cnts), model.maxPieceLen)
  }

  /** Word table + `pieces` array column: the Viterbi split of each word
    * under the model.
    */
  def unigramSegmentWords(wordTable: org.apache.spark.sql.DataFrame,
                          model: UnigramModel): org.apache.spark.sql.DataFrame =
    wordTable.withColumn("pieces",
      graft.functions.UnigramSegmenter.unigramSegment(col("word"),
        model.pieces, model.costInt, model.maxPieceLen))

  /** Word table + posterior expected piece counts (the lattice
    * forward–backward E-step, [[graft.functions.UnigramExpectations]])
    * — one codegen node per row, vocab as a reference object, no
    * shuffle; `expect` is array<struct<piece,e>> sorted by piece.
    */
  def unigramExpectWords(wordTable: org.apache.spark.sql.DataFrame,
                         model: UnigramModel): org.apache.spark.sql.DataFrame =
    wordTable.withColumn("expect",
      graft.functions.UnigramExpectations.unigramExpect(col("word"),
        model.pieces, model.counts, model.maxPieceLen))

  /** One SOFT-EM iteration (SentencePiece's real E-step): expected
    * piece counts from the segmentation lattice instead of hard
    * Viterbi ones. The E-step is the distributed expectation node +
    * one freq-weighted piece aggregate; the M-step re-estimates on the
    * driver, with the expected counts quantized to the 1e-6 integer
    * lattice (math.round — HALF_UP for the positive values here,
    * the t23/t25 trained-model discipline) plus one full count of
    * Laplace smoothing, so the updated model is integers end-to-end
    * and a SQL engine replaying the same lattice lands on the same
    * model exactly. Probabilities inside the lattice are the exact
    * quotient count/total — no log/exp, so no libm drift either.
    */
  def unigramSoftEmStep(wordTable: org.apache.spark.sql.DataFrame,
                        model: UnigramModel): UnigramModel = {
    val soft = expectedCounts(wordTable, model)
    val cnts = model.pieces.map(p =>
      math.round(1e6 * soft.getOrElse(p, 0.0)) + 1000000L)
    UnigramModel(model.pieces, cnts, unigramCosts(cnts), model.maxPieceLen)
  }

  /** Freq-weighted marginal log-likelihood Σ freq·ln Z(word) — the
    * objective soft-EM ascends (hard-EM ascends only its Viterbi lower
    * bound). Words the vocab cannot cover contribute −∞ in theory;
    * they are excluded here (both models under comparison keep all
    * seed characters, so coverage is identical).
    */
  def unigramMarginalLogLik(wordTable: org.apache.spark.sql.DataFrame,
                            model: UnigramModel): Double =
    wordTable.select(col("freq"),
        graft.functions.UnigramExpectations.unigramMarginal(col("word"),
          model.pieces, model.counts, model.maxPieceLen).as("z"))
      .filter(col("z") > 0.0)
      // empty word table / nothing coverable: sum over zero rows is
      // null → a 0.0 log-likelihood (the empty product)
      .select(coalesce(sum(col("freq") * log(col("z"))), lit(0.0))
        .as("ll"))
      .head().getDouble(0)

  /** Min integer cost of segmenting `s` WITHOUT the full-span edge —
    * the "alternative segmentation" of SentencePiece's prune: since a
    * piece can never occur as a proper substring of itself, banning
    * the single edge that covers all of `s` is exactly banning the
    * piece from its own lattice. Plain Viterbi DP over the fixed-point
    * costs (integer min — no float ties), O(|s|·maxPieceLen) driver
    * work per piece. Always finite while every single codepoint stays
    * in the vocabulary (the seed/prune invariant).
    */
  private def altSegmentCost(s: String, costOf: Map[String, Long],
                             maxPieceLen: Int): Long = {
    val n = s.length
    val inf = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(inf)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      val lmax = math.min(maxPieceLen, i)
      var l = 1
      while (l <= lmax) {
        if (!(i == n && l == n)) { // the full-span edge IS the piece
          costOf.get(s.substring(i - l, i)).foreach { c =>
            if (dp(i - l) < inf && dp(i - l) + c < dp(i)) dp(i) = dp(i - l) + c
          }
        }
        l += 1
      }
      i += 1
    }
    dp(n)
  }

  /** SentencePiece phase-3 pruning losses, one row per MULTI-codepoint
    * piece: `(piece, e6, delta)` where `e6` is the freq-weighted
    * lattice-expected count of the piece quantized to the 1e-6 integer
    * grid (the soft-EM M-step quantization — what a SQL engine replays
    * exactly) and `delta = altCost − cost(piece) ≥ 0` is the
    * fixed-point extra cost of re-segmenting the piece's own surface
    * without it. The likelihood loss of dropping the piece is
    * `e6 · delta` (in 10⁻¹²-nat units): every expected use of the
    * piece pays the alternative's surcharge — Kudo 2018's prune
    * criterion on the model's integer skeleton, so the RANKING is
    * exact integer arithmetic in any engine (products go through
    * BigInt; no float anywhere). Single-codepoint pieces are never
    * candidates (coverage invariant).
    *
    * Scale shape: the E-step is the one distributed piece — the
    * [[unigramExpectWords]] codegen node + a freq-weighted aggregate
    * over the Zipf-bounded word table; the per-piece alternative
    * Viterbi is O(|vocab|·maxPieceLen²) driver work on the collected
    * vocabulary (codebook discipline — nothing corpus-sized).
    */
  def unigramPruneLosses(wordTable: org.apache.spark.sql.DataFrame,
                         model: UnigramModel): Seq[(String, Long, Long)] = {
    val soft = expectedCounts(wordTable, model)
    val costOf = model.pieces.zip(model.costInt).toMap
    model.pieces.toSeq.filter(_.length > 1).map { p =>
      val e6 = math.round(1e6 * soft.getOrElse(p, 0.0))
      (p, e6, altSegmentCost(p, costOf, model.maxPieceLen) - costOf(p))
    }
  }

  /** Freq-weighted lattice-expected piece counts (the soft E-step
    * aggregate shared by [[unigramSoftEmStep]] and the prune).
    */
  private def expectedCounts(wordTable: org.apache.spark.sql.DataFrame,
                             model: UnigramModel): Map[String, Double] =
    unigramExpectWords(wordTable, model)
      .select(col("freq"), explode(col("expect")).as("x"))
      .groupBy(col("x.piece").as("piece"))
      .agg(sum(col("freq") * col("x.e")).as("s"))
      .collect().map(r => r.getAs[String]("piece") -> r.getAs[Double]("s"))
      .toMap

  /** One phase-3 prune + re-estimate: keep every single-codepoint
    * piece (coverage) plus the `targetSize − #chars` multi-codepoint
    * pieces with the LARGEST likelihood loss `e6 · delta`
    * ([[unigramPruneLosses]]; exact-integer ranking, ties by piece),
    * then re-estimate the survivors from the same E-step's expected
    * counts — quantized + one full Laplace count, the
    * [[unigramSoftEmStep]] M-step — so the pruned model is integers
    * end-to-end and a SQL engine replaying the lattice lands on the
    * same model exactly (gate t30).
    */
  def unigramPruneStep(wordTable: org.apache.spark.sql.DataFrame,
                       model: UnigramModel, targetSize: Int): UnigramModel = {
    val nChars = model.pieces.count(_.length == 1)
    require(targetSize >= nChars,
      s"targetSize ($targetSize) must cover the $nChars single-char " +
        "pieces (they are never pruned — coverage)")
    val soft = expectedCounts(wordTable, model)
    val costOf = model.pieces.zip(model.costInt).toMap
    val keepMulti = model.pieces.toSeq.filter(_.length > 1)
      .map { p =>
        val e6 = math.round(1e6 * soft.getOrElse(p, 0.0))
        val delta = altSegmentCost(p, costOf, model.maxPieceLen) - costOf(p)
        (p, BigInt(e6) * BigInt(delta))
      }
      .sortBy { case (p, loss) => (-loss, p) }
      .take(targetSize - nChars).map(_._1).toSet
    val survivors = model.pieces.filter(p =>
      p.length == 1 || keepMulti(p)) // pieces are sorted; order survives
    val cnts = survivors.map(p =>
      math.round(1e6 * soft.getOrElse(p, 0.0)) + 1000000L)
    UnigramModel(survivors, cnts, unigramCosts(cnts), model.maxPieceLen)
  }

  /** Full three-phase unigram training (the SentencePiece pipeline):
    * seed a large candidate vocabulary, soft-EM it, then alternate
    * prune (drop the lowest-loss `1 − shrink` fraction, never below
    * `targetVocab`) with one soft-EM re-fit until the target size —
    * Kudo 2018 §3.2's outer loop.
    */
  def unigramTrainPruned(df: org.apache.spark.sql.DataFrame,
                         textCol: String, seedVocab: Int, targetVocab: Int,
                         maxPieceLen: Int = 4, emIters: Int = 2,
                         shrink: Double = 0.8,
                         maxWords: Int = 65536): UnigramModel = {
    require(seedVocab >= targetVocab,
      s"seedVocab ($seedVocab) must be >= targetVocab ($targetVocab)")
    require(shrink > 0.0 && shrink < 1.0, s"shrink must be in (0,1), got $shrink")
    val table = bpeWordTable(df, textCol, maxWords).drop("syms")
      .localCheckpoint()
    var m = unigramSeedModel(table, seedVocab, maxPieceLen)
    var i = 0
    while (i < emIters) { m = unigramSoftEmStep(table, m); i += 1 }
    while (m.pieces.length > targetVocab) {
      val next = math.max(targetVocab,
        math.ceil(shrink * m.pieces.length).toInt)
      m = unigramPruneStep(table, m, next)
      m = unigramSoftEmStep(table, m)
    }
    m
  }

  /** Train a unigram tokenizer: seed from substring statistics, then
    * `emIters` hard-EM refinements — the SentencePiece training shape
    * (seed → EM → prune) with the EM expectation distributed and every
    * driver step bounded by vocabSize. Pruning falls out of the seed
    * cap here; a production loop would interleave prune steps the same
    * way (drop lowest-count pieces, re-run EM).
    */
  def unigramTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
                   vocabSize: Int, maxPieceLen: Int = 4, emIters: Int = 2,
                   maxWords: Int = 65536): UnigramModel = {
    val table = bpeWordTable(df, textCol, maxWords).drop("syms")
      .localCheckpoint()
    var m = unigramSeedModel(table, vocabSize, maxPieceLen)
    var i = 0
    while (i < emIters) { m = unigramEmStep(table, m); i += 1 }
    m
  }

  /** Tokenize full text under a trained unigram model: per-word Viterbi
    * splits flattened to one piece stream — a zero-shuffle projection
    * (the scan-rider shape, like [[bpeTokenCount]]). Unsegmentable
    * words (codepoints outside the vocab) contribute no pieces.
    */
  def unigramEncode(text: Column, model: UnigramModel): Column = {
    val words = filter(split(lower(trim(text)), "\\s+"), w => w =!= "")
    flatten(filter(transform(words, w =>
      graft.functions.UnigramSegmenter.unigramSegment(w,
        model.pieces, model.costInt, model.maxPieceLen)),
      a => a.isNotNull))
  }

  /** Quality metrics: length, word count, average word length,
    * punctuation count, stopword ratio, and a composite keep/drop flag —
    * the usual pre-training heuristics (length + punct + stopword ratio).
    */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nWords = tokenCountWs(text)
    val nSpaces = occurrences(text, " ")
    val nPunct = occurrences(text, ".") + occurrences(text, ",") +
      occurrences(text, "!") + occurrences(text, "?")
    val padded = concat(lit(" "), lower(text), lit(" "))
    val nStop = Seq("the", "a", "and", "of", "is", "to", "in")
      .map(m => occurrences(padded, s" $m ")).reduce(_ + _)
    val avgWordLen = (nChars - nSpaces).cast("double") /
      when(nWords === 0, lit(1)).otherwise(nWords).cast("double")
    val stopRatio = nStop.cast("double") /
      when(nWords === 0, lit(1)).otherwise(nWords).cast("double")
    val keep = nChars >= 20 && nWords >= 5 && avgWordLen.between(1.5, 12.0)
    Seq("n_chars" -> nChars, "n_words" -> nWords, "n_punct" -> nPunct,
      "avg_word_len" -> avgWordLen, "stopword_ratio" -> stopRatio,
      "keep" -> keep)
  }

  /** Fixed-weight logistic quality classifier: the deterministic stand-in
    * for the fastText/linear "quality model" step of production curation
    * pipelines (CCNet, LLaMA's Wikipedia-reference classifier). Features
    * are the [[qualityMetrics]] heuristics; weights are fixed constants
    * (a real pipeline would train them offline — only the coefficient
    * literals change, never the plan shape).
    *
    * Pure per-row column algebra over codegen'd primitives — no shuffle,
    * no UDF; at 100 TB this is a free rider on whatever scan produces
    * the text. Emits the raw logistic score in [0,1] and the
    * `score >= 0.5` keep flag.
    */
  def qualityScore(text: Column): Column = {
    val m = qualityMetrics(text).toMap
    val z = lit(-1.0) +
      lit(0.35) * log(lit(1.0) + m("n_chars").cast("double")) +
      lit(5.0) * m("stopword_ratio") -
      lit(0.3) * abs(m("avg_word_len") - lit(5.0)) -
      lit(0.01) * m("n_punct").cast("double")
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Trained linear quality model: weights for [bias, ln(1+n_chars),
    * stopword_ratio, |avg_word_len−5|, n_punct] — the same feature set
    * as the fixed-weight [[qualityScore]], so a trained model drops in
    * where the constants were.
    */
  final case class LogisticModel(weights: Array[Double])

  /** The [[qualityScore]] feature vector as columns (bias excluded):
    * [ln(1+n_chars), stopword_ratio, |avg_word_len−5|, n_punct].
    */
  def qualityFeatures(text: Column): Seq[Column] = {
    val m = qualityMetrics(text).toMap
    Seq(log(lit(1.0) + m("n_chars").cast("double")),
      m("stopword_ratio"),
      abs(m("avg_word_len") - lit(5.0)),
      m("n_punct").cast("double"))
  }

  private def sigmoid(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-greatest(least(z, lit(30.0)), lit(-30.0))))

  /** TRAIN the logistic quality classifier with full-batch gradient
    * descent — the missing half of the fastText-style curation loop
    * ([[qualityScore]] scores with fixed constants; this learns them
    * from labels, e.g. a rule filter's keep flag distilled into a
    * linear model).
    *
    * Each iteration is ONE distributed aggregate: the per-row gradient
    * contribution (σ(w·x) − y)·x partial-sums map-side into d+1
    * doubles of state (`avg` — a codegen'd HashAggregate, the same
    * partial/final shape a TypedImperativeAggregate would give, with
    * no custom code at this dimensionality), and the DRIVER takes the
    * η-step on the d+1-vector — the k-means/codebook discipline:
    * driver work is O(d·iters), never O(rows). The feature projection
    * is persisted once so the `iters` scans read 5 doubles per row,
    * not the text.
    *
    * Deterministic up to float summation order (the t16 rule: gate
    * outputs round to 4dp); the sigmoid argument is clamped to ±30 in
    * BOTH engines so saturation never reaches exp overflow, which
    * DuckDB and the JVM disagree about.
    */
  def trainQualityClassifier(df: org.apache.spark.sql.DataFrame,
                             textCol: String, label: Column,
                             iters: Int = 10,
                             lr: Double = 0.5): LogisticModel = {
    val fcols = qualityFeatures(col(textCol)).zipWithIndex.map {
      case (c, i) => c.as(s"f${i + 1}")
    }
    val feats = df.select(fcols :+ label.cast("double").as("y"): _*).persist()
    try {
      val d = 4
      var w = new Array[Double](d + 1)
      var it = 0
      while (it < iters) {
        val z = w.zipWithIndex.map {
          case (wj, 0) => lit(wj)
          case (wj, j) => lit(wj) * col(s"f$j")
        }.reduce(_ + _)
        val diff = sigmoid(z) - col("y")
        val grads = feats.agg(avg(diff).as("g0"),
          avg(diff * col("f1")).as("g1"), avg(diff * col("f2")).as("g2"),
          avg(diff * col("f3")).as("g3"), avg(diff * col("f4")).as("g4"))
          .head()
        w = Array.tabulate(d + 1)(j => w(j) - lr * grads.getDouble(j))
        it += 1
      }
      LogisticModel(w)
    } finally { feats.unpersist() }
  }

  /** Score with a trained model: σ(w·x) over the [[qualityFeatures]] —
    * weights become plan literals, so this is the same zero-exchange
    * codegen projection as [[qualityScore]], a free rider on the scan
    * at 100 TB.
    */
  def qualityScoreTrained(text: Column, model: LogisticModel): Column = {
    val fs = qualityFeatures(text)
    sigmoid(fs.zip(model.weights.tail).map { case (f, wj) => lit(wj) * f }
      .foldLeft(lit(model.weights.head): Column)(_ + _))
  }

  /** Trained fastText-style HASHED-N-GRAM classifier model:
    * `weights(0)` is the bias, `weights(b + 1)` the weight of hash
    * bucket b. The feature space is [[Curation.dsirGrams]]'s hashed
    * unigram+bigram bag (the DSIR convention — md5-bucketed, so both
    * feature extraction and hashing replay in any engine), which is
    * what separates this from [[trainQualityClassifier]]'s 4
    * hand-picked surface features: the model reads the actual token
    * content, like fastText (Joulin et al., "Bag of Tricks for
    * Efficient Text Classification", 2016).
    */
  final case class HashedLogisticModel(buckets: Int, weights: Array[Double])

  /** Hashed n-gram feature relation: one row per (doc, bucket) with
    * x = bucket's gram count / doc's total gram count, PLUS a bias
    * pseudo-feature row (bucket −1, x = 1) per document. The bias row
    * makes training uniform: per-doc z is ONE sum(x·w) join (no
    * special empty-document path — docs with no grams still carry the
    * bias row), and every gradient, bias included, is the same
    * sum(δ·x)/N groupBy.
    */
  def hashedNgramFeatures(df: org.apache.spark.sql.DataFrame,
                          textCol: String, idCol: String,
                          buckets: Int): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val counts = Curation.dsirGrams(df, textCol, idCol, buckets)
      .groupBy(id, col("__b")).agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(id).agg(sum(col("__c")).as("__t"))
    val grams = counts.join(totals, Seq(idCol))
      .select(id, col("__b").as("bucket"),
        (col("__c").cast("double") / col("__t")).as("x"))
    val biasRows = df.select(id, lit(-1).as("bucket"), lit(1.0).as("x"))
    grams.unionByName(biasRows)
  }

  /** Per-doc FEATURE MAP form of [[hashedNgramFeatures]]: one row per
    * document carrying bucket→x as a ≤(buckets+1)-entry map (bias row
    * included). This is the training layout: per-doc z becomes a
    * ROW-LOCAL fold over the map against the weight vector as a plan
    * LITERAL — no per-iteration join, no per-doc shuffle — and the
    * softmax normalizer becomes in-row array arithmetic instead of a
    * per-doc window. Keys are unique by construction (the count
    * aggregate groups on (doc, bucket); the bias key −1 collides with
    * nothing).
    */
  private def hashedFeatureMap(df: org.apache.spark.sql.DataFrame,
                               textCol: String, idCol: String,
                               buckets: Int): org.apache.spark.sql.DataFrame =
    hashedNgramFeatures(df, textCol, idCol, buckets)
      .select(col(idCol).as("__id"), col("bucket"), col("x"))
      .groupBy("__id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("x"))))
        .as("fm"))

  /** Per-doc z = Σ x·w over the feature map against the weight vector
    * as a plan literal (weights(0) = bias at bucket −1, weights(b+1)
    * = bucket b) — one codegen fold per row, zero exchanges. A
    * broadcast-one-row-weights variant (constant plan text across GD
    * steps, betting on the codegen cache) was tried and MEASURED
    * SLOWER (t23 8.2 → 13.6 s, t25 14.7 → 21.3 s at sf0.1): the
    * nested-loop join and non-foldable array lookups cost more per
    * row than the per-step replanning they avoid. Literals stay.
    */
  private def zFromMap(fm: Column, wArr: Column): Column =
    aggregate(map_entries(fm), lit(0.0), (acc, e) =>
      acc + e.getField("value") *
        element_at(wArr, (e.getField("key") + lit(2)).cast("int")))

  /** Train the hashed-n-gram logistic classifier with full-batch GD —
    * the production fastText shape at corpus scale: ONE cached
    * relation of (label, per-doc feature map), and each iteration is
    * a SINGLE job — z, σ, δ are row-local folds against the weight
    * vector as a plan literal ([[zFromMap]]; the former per-iteration
    * broadcast-join + per-doc aggregate round is gone), and all
    * gradients (bias included, via the pseudo-feature entry) come
    * from one map-side-combined groupBy(bucket) over the exploded
    * entries. Raw tokens never shuffle — only ≤(buckets+1)-row
    * partial aggregates do. Weights quantize to the 1e-9 grid after
    * every step (`round(·, 9)`), putting the whole training
    * trajectory on a decimal lattice ~1e6× coarser than the
    * summation-order noise (~1e-16) — so an independent engine (or a
    * different fold order over the same entries) lands on
    * bit-identical weights every iteration instead of accumulating
    * last-bit drift (gate t23).
    */
  def trainHashedClassifier(df: org.apache.spark.sql.DataFrame,
                            textCol: String, idCol: String, label: Column,
                            buckets: Int = 16, iters: Int = 10,
                            lr: Double = 0.5): HashedLogisticModel = {
    val id = col(idCol)
    // NOT re-spread before the persist, unlike trainHashedSoftmax: the
    // binary trainer's per-iteration job is one fold + one ≤17-row
    // gradient aggregate per doc, and forcing the cache to session
    // parallelism was MEASURED slower at bench scale (t23 8.9 → 10.2 s
    // wall, task CPU 7.5 → 24.9 s — 10 iterations × 32 near-empty
    // tasks of fixed overhead outweigh the serial win). AQE sizes the
    // cached layout to the data, which is the correct call at every
    // scale for work this light per row.
    val base = df.select(id.as("__id"), label.cast("double").as("y"))
      .join(hashedFeatureMap(df, textCol, idCol, buckets), Seq("__id"))
      .persist()
    try {
      val n = base.count().toDouble
      def rnd9(v: Double): Double =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      // weights(0) = bias (bucket -1), weights(b+1) = bucket b
      var w = new Array[Double](buckets + 1)
      var it = 0
      while (it < iters) {
        val delta = sigmoid(zFromMap(col("fm"), typedLit(w.toSeq)))
          .minus(col("y"))
        val grads = base
          .select(delta.as("delta"),
            explode(map_entries(col("fm"))).as("e"))
          .groupBy(col("e.key").as("bucket"))
          .agg((sum(col("delta") * col("e.value")) / lit(n)).as("g"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        w = Array.tabulate(buckets + 1)(j =>
          rnd9(w(j) - lr * grads.getOrElse(j - 1, 0.0)))
        it += 1
      }
      HashedLogisticModel(buckets, w)
    } finally base.unpersist()
  }

  /** Multiclass sibling of [[HashedLogisticModel]]: softmax weights
    * over the same hashed feature space, one row vector per class —
    * `weights(c)(0)` the class bias, `weights(c)(b + 1)` bucket b.
    * Classes are sorted ascending, which fixes every tie-break.
    */
  final case class HashedSoftmaxModel(classes: Array[String], buckets: Int,
                                      weights: Array[Array[Double]])

  /** Per-doc logits for EVERY class as one in-row array: class ci's
    * z is the [[zFromMap]] fold against row ci of the weight-matrix
    * COLUMN (a broadcast one-row frame during training, a literal at
    * one-shot predict time — see zFromMap for why training must not
    * inline per-step literals). Row-local — the per-(doc, class)
    * join + aggregate + window round this replaces exchanged the
    * corpus C+1 times per use.
    */
  private def logitsFromMap(fm: Column, wMat: Column, nClasses: Int)
      : Column =
    transform(sequence(lit(0), lit(nClasses - 1)), ci =>
      aggregate(map_entries(fm), lit(0.0), (acc, e) =>
        acc + e.getField("value") *
          element_at(element_at(wMat, (ci + lit(1)).cast("int")),
            (e.getField("key") + lit(2)).cast("int"))))

  /** Train a hashed-n-gram SOFTMAX classifier — fastText's actual
    * shape (its flagship use case, language ID, is C-way): full-batch
    * GD on softmax cross-entropy over the per-doc feature maps
    * ([[hashedFeatureMap]], cached once with the labels). Each
    * iteration is a SINGLE job: per-doc logits for all C classes are
    * one in-row array fold against the weight matrix as a plan
    * literal ([[logitsFromMap]]), the softmax normalizer and δ are
    * in-row array arithmetic (the former per-doc window exchange is
    * gone along with the per-iteration broadcast join), and ONE
    * map-side-combined groupBy(class, bucket) yields every gradient —
    * biases included, via the pseudo-feature entry. Driver work is
    * O(C·buckets)/iter. Weights quantize to the 1e-9 grid per step
    * (the t23 discipline), so the whole trajectory — including the
    * softmax normalizer, whose C-term sums differ across engines (or
    * fold orders) only in last bits — replays bit-identically in an
    * independent engine (gate t25).
    */
  def trainHashedSoftmax(df: org.apache.spark.sql.DataFrame,
                         textCol: String, idCol: String, labelCol: String,
                         buckets: Int = 16, iters: Int = 10,
                         lr: Double = 0.5): HashedSoftmaxModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val id = col(idCol)
    val classes = df.select(col(labelCol).cast("string")).distinct()
      .as[String].collect().sorted
    val classesLit = typedLit(classes.toSeq)
    // re-spread to session parallelism BY DOC ID before the persist:
    // with AQE allowed to re-optimize cached plans, the per-doc
    // feature-map cache coalesces to ~1 partition at bench scale and
    // every GD iteration's softmax-gradient job — which explodes
    // C×entries rows per doc (posexplode × map_entries) — then runs
    // SERIALLY (measured: t25 quiet 9.0 → 13.5 s in round 15; this
    // re-spread restores 13.4 → ~10 s). defaultParallelism is the
    // scale knob, not a local constant. The binary trainer
    // (trainHashedClassifier) deliberately does NOT re-spread — its
    // per-row work is too light to pay 32 tasks × iterations of fixed
    // overhead (measured there, see its comment).
    val base = df.select(id.as("__id"),
        col(labelCol).cast("string").as("__y"))
      .join(hashedFeatureMap(df, textCol, idCol, buckets), Seq("__id"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
      .persist()
    try {
      val n = base.count().toDouble
      def rnd9(v: Double): Double =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      var w = Array.fill(classes.length, buckets + 1)(0.0)
      var it = 0
      while (it < iters) {
        val es = transform(
          logitsFromMap(col("fm"), typedLit(w.map(_.toSeq).toSeq),
            classes.length), z =>
            exp(greatest(least(z, lit(30.0)), lit(-30.0))))
        val sumE = aggregate(es, lit(0.0), (a, x) => a + x)
        val deltas = transform(
          sequence(lit(0), lit(classes.length - 1)), ci =>
            element_at(es, (ci + lit(1)).cast("int")) / sumE -
              when(element_at(classesLit, (ci + lit(1)).cast("int"))
                === col("__y"), 1.0).otherwise(0.0))
        val grads = base
          .select(col("fm"), posexplode(deltas).as(Seq("ci", "delta")))
          .select(col("ci"), col("delta"),
            explode(map_entries(col("fm"))).as("e"))
          .groupBy(col("ci"), col("e.key").as("bucket"))
          .agg((sum(col("delta") * col("e.value")) / lit(n)).as("g"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
        w = Array.tabulate(classes.length, buckets + 1) { (ci, j) =>
          rnd9(w(ci)(j) - lr * grads.getOrElse((ci, j - 1), 0.0))
        }
        it += 1
      }
      HashedSoftmaxModel(classes, buckets, w)
    } finally base.unpersist()
  }

  /** Predict with a trained softmax model: per-doc logits as ONE
    * in-row array fold against the weight matrix as a plan literal
    * ([[logitsFromMap]]), winner by (6dp-rounded logit, class) picked
    * with an in-row comparator sort — softmax preserves logit order,
    * and the rounding puts cross-engine last-bit noise (~1e-15) six
    * decades below the decision grid, so predictions replay exactly.
    * Returns (idCol, pred, logit) — `logit` is the winner's
    * 4dp-rounded raw score. The whole prediction is the feature-map
    * aggregate plus a zero-exchange projection; the former
    * broadcast-join + per-(doc, class) aggregate + per-doc window
    * exchanged the corpus three times.
    */
  def predictHashedSoftmax(df: org.apache.spark.sql.DataFrame,
                           textCol: String, idCol: String,
                           model: HashedSoftmaxModel): org.apache.spark.sql.DataFrame = {
    val classesLit = typedLit(model.classes.toSeq)
    val wMat = typedLit(model.weights.map(_.toSeq).toSeq)
    val ranked = array_sort(
      zip_with(classesLit,
        logitsFromMap(col("fm"), wMat, model.classes.length),
        (c, z) => struct(c.as("c"), z.as("z"))),
      (l, r) => when(round(l.getField("z"), 6) > round(r.getField("z"), 6),
          lit(-1))
        .when(round(l.getField("z"), 6) < round(r.getField("z"), 6), lit(1))
        .when(l.getField("c") < r.getField("c"), lit(-1))
        .when(l.getField("c") > r.getField("c"), lit(1))
        .otherwise(lit(0)))
    hashedFeatureMap(df, textCol, idCol, model.buckets)
      .select(col("__id").as(idCol),
        element_at(ranked, 1).getField("c").as("pred"),
        round(element_at(ranked, 1).getField("z"), 4).as("logit"))
  }

  /** Score with a trained hashed model as a ZERO-EXCHANGE projection:
    * the weight table becomes an array literal in the plan, each gram
    * looks its weight up by hashed bucket (`element_at`), and
    * z = bias + Σ w[bucket(gram)] / n_grams — algebraically the
    * feature-relation dot product, but free-riding on the scan: no
    * explode, no join, no shuffle at 100 TB.
    */
  def scoreHashedClassifier(text: Column, model: HashedLogisticModel): Column = {
    val words = filter(split(lower(trim(text)), "\\s+"), wd => wd =!= "")
    val grams = concat(words,
      when(size(words) >= 2,
          zip_with(slice(words, lit(1), size(words) - 1),
            slice(words, lit(2), size(words) - 1),
            (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>")))
    val wArr = typedLit(model.weights.drop(1).toSeq)
    val bucket = (g: Column) =>
      conv(substring(md5(g), 1, 4), 16, 10).cast("int") % model.buckets
    val gramSum = aggregate(
      transform(grams, g => element_at(wArr, bucket(g) + 1)),
      lit(0.0), _ + _)
    val z = lit(model.weights.head) +
      when(size(grams) === 0, lit(0.0))
        .otherwise(gramSum / size(grams).cast("double"))
    sigmoid(z)
  }

  /** The full Gopher document-quality rule set (Rae et al., "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", 2021, §A.1.1) — the standard rule filter applied before
    * model-based scoring in web-corpus curation. [[qualityMetrics]] is
    * the generic heuristic tier; this is the named, threshold-pinned
    * rule set, emitted signal-by-signal so downstream ablation can
    * re-cut on any rule:
    *
    *  - `n_words`, `mean_word_len` — in-bounds checks;
    *  - `symbol_ratio` — (# + "...") occurrences per word;
    *  - `bullet_frac` / `ellipsis_frac` — fraction of lines starting
    *    with a bullet / ending in an ellipsis;
    *  - `alpha_frac` — fraction of words containing a letter;
    *  - `stop_hits` — how many of Gopher's 8 required stopwords appear;
    *  - `keep` — the conjunction at Gopher's published thresholds.
    *
    * Every ratio is a SINGLE division of exact integers (IEEE-portable
    * bit-for-bit — no float sums), so the whole row hashes
    * engine-exact. Pure codegen'd projection: zero shuffles, a free
    * rider on the scan at 100 TB.
    */
  def gopherRules(text: Column): Seq[(String, Column)] = {
    val nWords = tokenCountWs(text)
    val wordsDen = when(nWords === 0, lit(1)).otherwise(nWords).cast("double")
    val meanWordLen = (length(text) - occurrences(text, " ")).cast("double") /
      wordsDen
    val symbolRatio = (occurrences(text, "#") + occurrences(text, "..."))
      .cast("double") / wordsDen
    val lines = split(text, "\n")
    val linesDen = when(size(lines) === 0, lit(1)).otherwise(size(lines))
      .cast("double")
    val bulletFrac = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* "))).cast("double") / linesDen
    val ellipsisFrac = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / linesDen
    val words = filter(split(lower(trim(text)), "\\s+"), w => w =!= "")
    val alphaFrac = size(filter(words, w => w.rlike("[a-z]")))
      .cast("double") / wordsDen
    val padded = concat(lit(" "), lower(text), lit(" "))
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(m => when(occurrences(padded, s" $m ") > 0, 1).otherwise(0))
      .reduce(_ + _)
    val keep = nWords.between(50, 100000) &&
      meanWordLen.between(3.0, 10.0) && symbolRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 && alphaFrac >= 0.8 &&
      stopHits >= 2
    Seq("n_words" -> nWords, "mean_word_len" -> meanWordLen,
      "symbol_ratio" -> symbolRatio, "bullet_frac" -> bulletFrac,
      "ellipsis_frac" -> ellipsisFrac, "alpha_frac" -> alphaFrac,
      "stop_hits" -> stopHits, "keep" -> keep)
  }

  /** Canonical text normalization for fingerprinting: lowercase,
    * collapse whitespace, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Document fingerprint = md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Winnowing fingerprint set (rolling-hash selection, Schleimer et al.
    * "Winnowing: Local Algorithms for Document Fingerprinting"): hash
    * every k-gram of the normalized text, then keep the minimum hash of
    * each window of w consecutive grams. Any shared substring of length
    * >= w + k - 1 between two documents is guaranteed to share a
    * fingerprint — the partial-overlap detector that whole-document
    * hashing (md5) can't provide.
    *
    * Backed by the custom single-pass expression
    * [[graft.functions.WinnowFingerprints]]: the earlier
    * sequence/transform/slice column algebra ran interpreted (HOFs skip
    * whole-stage codegen) and re-evaluated the normalize under every
    * gram lambda — O(len²) regex work per row. The expression evaluates
    * normalize once and rolls the grams in one byte pass.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.WinnowFingerprints.winnowFingerprints(normalize(text), k, w)

  /** PII patterns kept to the regex subset Java and RE2 agree on
    * (character classes + bounded quantifiers — no lookaround), so the
    * same redaction replays in any engine.
    */
  val emailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRegex = "\\+?[0-9][0-9() .-]{6,}[0-9]"

  /** Redact emails then phones (that order: an email's digits must not
    * be half-matched as a phone after partial replacement; `<EMAIL>` has
    * no digits so the phone pass can't touch redacted spans). Pure
    * codegen'd projection — no shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRegex, "<EMAIL>"),
      phoneRegex, "<PHONE>")

  /** Match counts for audit/reporting alongside the redaction. */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailRegex)),
    "n_phones" -> regexp_count(regexp_replace(text, emailRegex, "<EMAIL>"),
      lit(phoneRegex)))

  /** Gopher-style repetition signals per document — the quality filters
    * that catch boilerplate/spam which length ratios miss:
    *
    *  - `n_words`, `n_distinct_words` — the duplicate-word fraction is
    *    `1 - distinct/words` downstream;
    *  - `top_word_chars` — max over words of count·len(word): the
    *    characters attributable to the single most-repeated word
    *    (tie-free by construction — it maximizes the product, not "the"
    *    top word);
    *  - `top_bigram_count` — occurrences of the most frequent word
    *    bigram.
    *
    * Scale shape: per-word/bigram counts go through explode → groupBy
    * (map-side combined, shuffles only (doc_id, token) pairs keyed by
    * doc — NOT a Zipfian global token key, so no hot-partition risk);
    * the whole-array stats are single collection functions, not HOF
    * lambdas re-evaluating children per element. Integral outputs keep
    * the gate's hash compare engine-exact.
    */
  /** TF-IDF top terms per document — corpus-relative keyword salience,
    * the classic relevance signal (and the quality-classifier feature
    * that absolute counts can't provide).
    *
    * Scale shape: term frequencies via explode → groupBy(doc, term)
    * (map-side combined, keyed by doc — never a Zipfian global token
    * key); document frequencies via groupBy(term) over the already
    * collapsed one-row-per-(doc, term) relation, not the raw token
    * stream (same rewrite as d04's rare-gram index); the corpus size
    * joins in as a broadcast one-row aggregate, never a driver-side
    * action. The score is a single double expression over exact integer
    * counts, emitted rounded; ranking uses the raw score with a term
    * tie-break so the cut is total.
    */
  /** CCNet-style unigram language-model scoring — the
    * perplexity-filtering signal of web-corpus curation: each document
    * gets its mean log-probability under a unigram LM whose vocabulary
    * is the corpus' own top `vocabSize` words, plus the exact integer
    * skeleton (token count, OOV count) that drives coverage filters.
    *
    * Scale shape: the vocabulary is a bounded TakeOrderedAndProject
    * (count desc, word tie-break — deterministic) broadcast to the
    * scoring join, so the per-token lookup never shuffles the Zipfian
    * token stream; corpus total joins in as a broadcast one-row
    * aggregate. The float score is a per-doc aggregate of logs —
    * order-dependent in the last ULPs like any float sum, so the
    * cross-engine gate (t12) carries the exact integer columns and the
    * score's semantics are spec-pinned (`TextOpsSpec`).
    */
  def unigramScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, vocabSize: Int = 4096)
      : org.apache.spark.sql.DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val id = col(idCol)
    val words = df.select(id, explode(filter(
        split(lower(trim(col(textCol))), "\\s+"), w => w =!= "")).as("__word"))
    // ONE tokenization pass builds the LM: `counts` is materialized
    // (localCheckpoint — small: one row per distinct word) so the vocab
    // take and the corpus total both read it instead of re-tokenizing
    // the corpus; the scoring join below is then the only other scan of
    // the text column.
    val counts = words.groupBy("__word").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val vocab = org.apache.spark.sql.functions.broadcast(
      counts.orderBy(col("__c").desc, col("__word")).limit(vocabSize))
    val total = counts.agg(sum("__c").as("__total"))
    val scored = words.join(vocab, Seq("__word"), "left")
      .crossJoin(org.apache.spark.sql.functions.broadcast(total))
      .groupBy(id)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_oov"),
        // add-half smoothing for OOV; mean log P(w) = mean log c_w - log N
        (sum(log(coalesce(col("__c").cast("double"), lit(0.5)))) /
          count(lit(1)) - log(max(col("__total")).cast("double")))
          .as("avg_logprob"))
    // zero-token docs (empty/whitespace text) never reach the explode;
    // pin them with explicit zero counts (null score) instead of
    // silently dropping them from the output
    df.select(id).distinct().join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"), col("avg_logprob"))
  }

  /** Bigram LM scoring with stupid backoff (Brants et al., "Large
    * Language Models in Machine Translation", 2007) — the next tier
    * above [[unigramScore]] in a perplexity-filter stack. The LM is
    * trained on the `trainFilter` rows only and scores EVERY row, the
    * real held-out shape (CCNet-style: train on the reference corpus,
    * score the candidate corpus), which is also what makes backoff
    * non-degenerate: bigrams absent from the training half genuinely
    * fall back to the unigram tier.
    *
    * Per input row: `n_bigrams`, `n_hit` (bigram seen in training),
    * `n_backoff` (unseen bigram, known continuation word), `n_oov`
    * (unknown continuation word) — exact integers — plus
    * `avg_logscore` = mean log S where S(w2|w1) is c(w1 w2)/c(w1) on a
    * hit, 0.4·c(w2)/N on backoff, 0.4·0.5/N for OOV.
    *
    * Scale shape: the gram tables are Zipf-bounded (one row per
    * DISTINCT training gram, not per token) and localCheckpoint'd so
    * the training text is tokenized exactly once; the scoring side
    * shuffles the document bigram stream twice (once keyed on the
    * bigram, once on the continuation word) — the irreducible LM
    * lookup cost, with no window function and no driver-side state.
    * Zero-bigram docs (< 2 tokens) are pinned with explicit zero
    * counts and a null score rather than dropped.
    */
  def bigramScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, trainFilter: Column)
      : org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => w =!= "")
    val withToks = df.select(id, toks(col(textCol)).as("__w"))
    val bigrams = withToks.select(id,
      explode(when(size(col("__w")) >= 2,
          zip_with(slice(col("__w"), lit(1), size(col("__w")) - 1),
            slice(col("__w"), lit(2), size(col("__w")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("__b"))
      .select(id, col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val train = df.filter(trainFilter)
    val uni = train.select(explode(toks(col(textCol))).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__cu"))
      .localCheckpoint()
    val bi = bigrams.join(train.select(id), Seq(idCol), "left_semi")
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__cb"))
      .localCheckpoint()
    val total = uni.agg(sum("__cu").as("__total"))
    val u1 = uni.select(col("__word").as("__w1"), col("__cu").as("__cu1"))
    val u2 = uni.select(col("__word").as("__w2"), col("__cu").as("__cu2"))
    val score = when(col("__cb").isNotNull,
        col("__cb").cast("double") / col("__cu1").cast("double"))
      .when(col("__cu2").isNotNull,
        lit(0.4) * col("__cu2").cast("double") / col("__total").cast("double"))
      .otherwise(lit(0.2) / col("__total").cast("double"))
    val scored = bigrams
      .join(bi, Seq("__w1", "__w2"), "left")
      .join(u1, Seq("__w1"), "left")
      .join(u2, Seq("__w2"), "left")
      .crossJoin(org.apache.spark.sql.functions.broadcast(total))
      .groupBy(id)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__cb").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("__cb").isNull && col("__cu2").isNotNull, 1L)
          .otherwise(0L)).as("n_backoff"),
        sum(when(col("__cu2").isNull, 1L).otherwise(0L)).as("n_oov"),
        (sum(log(score)) / count(lit(1))).as("avg_logscore"))
    df.select(id).distinct().join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"), col("avg_logscore"))
  }

  /** Trigram LM scoring with stupid backoff — the top tier of the
    * perplexity-filter stack ([[unigramScore]] → [[bigramScore]] →
    * this). Same Brants et al. 2007 recipe, one more context word:
    * S(w3|w1 w2) is c(w1 w2 w3)/c(w1 w2) on a trigram hit,
    * 0.4 · c(w2 w3)/c(w2) on bigram backoff, 0.4² · c(w3)/N on unigram
    * backoff, 0.4² · 0.5/N for an unknown continuation word. Trained on
    * the `trainFilter` rows only, scores every row (the CCNet held-out
    * shape that keeps all three backoff tiers non-degenerate).
    *
    * Per input row: `n_trigrams`, `n_hit` (trigram seen in training),
    * `n_back2` (bigram-tier backoff), `n_back1` (unigram-tier), `n_oov`
    * — exact integers — plus `avg_logscore` = mean log S.
    *
    * Scale shape: gram tables are Zipf-bounded (one row per DISTINCT
    * training gram) and localCheckpoint'd — training text is tokenized
    * once; the scoring side shuffles the document trigram stream four
    * times (trigram key, context-bigram key, continuation-bigram key,
    * continuation word) — the irreducible lookup cost of a three-tier
    * LM, with no window function and no driver-side state. Docs with
    * < 3 tokens are pinned with explicit zero counts and a null score.
    */
  def trigramScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, trainFilter: Column)
      : org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => w =!= "")
    val withToks = df.select(id, toks(col(textCol)).as("__w"))
    val pairStruct = (a: Column, b: Column) =>
      struct(a.as("w1"), b.as("w2"))
    val trigrams = withToks.select(id,
      explode(when(size(col("__w")) >= 3,
          zip_with(
            zip_with(slice(col("__w"), lit(1), size(col("__w")) - 2),
              slice(col("__w"), lit(2), size(col("__w")) - 2), pairStruct),
            slice(col("__w"), lit(3), size(col("__w")) - 2),
            (p, c) => struct(p.getField("w1").as("w1"),
              p.getField("w2").as("w2"), c.as("w3"))))
        .otherwise(array().cast(
          "array<struct<w1:string,w2:string,w3:string>>")))
        .as("__t"))
      .select(id, col("__t.w1").as("__w1"), col("__t.w2").as("__w2"),
        col("__t.w3").as("__w3"))
    val train = df.filter(trainFilter)
    val trainToks = train.select(id, toks(col(textCol)).as("__w"))
    val uni = trainToks.select(explode(col("__w")).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__cu"))
      .localCheckpoint()
    val bi = trainToks.select(
        explode(when(size(col("__w")) >= 2,
            zip_with(slice(col("__w"), lit(1), size(col("__w")) - 1),
              slice(col("__w"), lit(2), size(col("__w")) - 1), pairStruct))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("__b"))
      .groupBy(col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
      .agg(count(lit(1)).as("__cb"))
      .localCheckpoint()
    val tri = trigrams.join(train.select(id), Seq(idCol), "left_semi")
      .groupBy("__w1", "__w2", "__w3").agg(count(lit(1)).as("__ct"))
      .localCheckpoint()
    val total = uni.agg(sum("__cu").as("__total"))
    val b12 = bi.select(col("__w1"), col("__w2"), col("__cb").as("__cb12"))
    val b23 = bi.select(col("__w1").as("__w2"), col("__w2").as("__w3"),
      col("__cb").as("__cb23"))
    val u2 = uni.select(col("__word").as("__w2"), col("__cu").as("__cu2"))
    val u3 = uni.select(col("__word").as("__w3"), col("__cu").as("__cu3"))
    val score = when(col("__ct").isNotNull,
        col("__ct").cast("double") / col("__cb12").cast("double"))
      .when(col("__cb23").isNotNull,
        lit(0.4) * col("__cb23").cast("double") / col("__cu2").cast("double"))
      .when(col("__cu3").isNotNull,
        lit(0.16) * col("__cu3").cast("double") /
          col("__total").cast("double"))
      .otherwise(lit(0.08) / col("__total").cast("double"))
    val scored = trigrams
      .join(tri, Seq("__w1", "__w2", "__w3"), "left")
      .join(b12, Seq("__w1", "__w2"), "left")
      .join(b23, Seq("__w2", "__w3"), "left")
      .join(u2, Seq("__w2"), "left")
      .join(u3, Seq("__w3"), "left")
      .crossJoin(org.apache.spark.sql.functions.broadcast(total))
      .groupBy(id)
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("__ct").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("__ct").isNull && col("__cb23").isNotNull, 1L)
          .otherwise(0L)).as("n_back2"),
        sum(when(col("__ct").isNull && col("__cb23").isNull &&
          col("__cu3").isNotNull, 1L).otherwise(0L)).as("n_back1"),
        sum(when(col("__ct").isNull && col("__cb23").isNull &&
          col("__cu3").isNull, 1L).otherwise(0L)).as("n_oov"),
        (sum(log(score)) / count(lit(1))).as("avg_logscore"))
    df.select(id).distinct().join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_back2"), lit(0L)).as("n_back2"),
        coalesce(col("n_back1"), lit(0L)).as("n_back1"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"), col("avg_logscore"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1998) — the principled
    * alternative to [[bigramScore]]'s stupid backoff, and the smoothing
    * every published n-gram perplexity filter actually ships. The two
    * ideas stupid backoff lacks:
    *  - ABSOLUTE DISCOUNTING: a fixed D is subtracted from every seen
    *    bigram count and the freed mass is redistributed, so
    *    singleton bigrams stop being treated as certainty;
    *  - CONTINUATION PROBABILITY: the backoff distribution is NOT the
    *    unigram frequency but N1+(·w2)/N1+(··) — how many DISTINCT
    *    contexts w2 follows — which is what stops high-frequency but
    *    context-locked words ("Francisco") from soaking up backoff
    *    mass.
    *
    *   P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1·)
    *              + D · N1+(w1·)/c(w1·) · Pcont(w2)
    *   Pcont(w2) = N1+(·w2)/N1+(··)   (seen w2; else 0.5/N1+(··))
    *
    * with D = 0.75 (the Chen–Goodman fixed-discount convention) and an
    * unseen CONTEXT (c(w1·) = 0) falling back to Pcont(w2) alone. The
    * LM is trained on the `trainFilter` rows only and scores EVERY row
    * (the CCNet held-out shape that keeps all tiers non-degenerate).
    *
    * Per input row, the exact-integer skeleton the gate replays:
    * `n_bigrams`, `n_hit` (bigram seen), `n_ctx` (unseen bigram, seen
    * context), `n_cont` (unseen context, seen continuation), `n_oov`
    * (both unseen), and the statistic sums `sum_c12` (Σ c(w1 w2)),
    * `sum_c1` (Σ c(w1·) over seen-context tokens), `sum_n1fw`
    * (Σ N1+(w1·)), `sum_n1bw` (Σ N1+(·w2)) — plus the float
    * `avg_logscore` = mean log P (closed-form-pinned in TextOpsSpec).
    *
    * Scale shape: all KN statistics derive from ONE Zipf-bounded table
    * (one row per DISTINCT training bigram, localCheckpoint'd — its
    * groupBys are distinct-gram-sized, not token-sized); the scoring
    * side shuffles the document bigram stream twice (bigram key,
    * continuation key) plus once on the context key — the same
    * irreducible LM-lookup cost as [[bigramScore]] with one extra
    * distinct-gram-sized join, no window function, no driver state.
    * Docs with < 2 tokens are pinned with explicit zero counts and a
    * null score.
    */
  def knBigramScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, trainFilter: Column,
                    discount: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val id = col(idCol)
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => w =!= "")
    val withToks = df.select(id, toks(col(textCol)).as("__w"))
    val bigrams = withToks.select(id,
      explode(when(size(col("__w")) >= 2,
          zip_with(slice(col("__w"), lit(1), size(col("__w")) - 1),
            slice(col("__w"), lit(2), size(col("__w")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("__b"))
      .select(id, col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    // every KN statistic is a view over the distinct-bigram table:
    // c(w1 w2) directly; c(w1·) and N1+(w1·) by context; N1+(·w2) by
    // continuation; N1+(··) its row count
    val bi = bigrams
      .join(df.filter(trainFilter).select(id), Seq(idCol), "left_semi")
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__cb"))
      .localCheckpoint()
    val ctx = bi.groupBy("__w1")
      .agg(sum("__cb").as("__c1"), count(lit(1)).as("__n1fw"))
    val cont = bi.groupBy("__w2").agg(count(lit(1)).as("__n1bw"))
    val types = bi.agg(count(lit(1)).as("__types"))
    val d = lit(discount)
    val pcont = when(col("__n1bw").isNotNull,
        col("__n1bw").cast("double") / col("__types").cast("double"))
      .otherwise(lit(0.5) / col("__types").cast("double"))
    val score = when(col("__c1").isNotNull,
        greatest(coalesce(col("__cb").cast("double"), lit(0.0)) - d,
            lit(0.0)) / col("__c1").cast("double") +
          d * col("__n1fw").cast("double") / col("__c1").cast("double") *
            pcont)
      .otherwise(pcont)
    val scored = bigrams
      .join(bi, Seq("__w1", "__w2"), "left")
      .join(ctx, Seq("__w1"), "left")
      .join(cont, Seq("__w2"), "left")
      .crossJoin(org.apache.spark.sql.functions.broadcast(types))
      .groupBy(id)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__cb").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("__cb").isNull && col("__c1").isNotNull, 1L)
          .otherwise(0L)).as("n_ctx"),
        sum(when(col("__c1").isNull && col("__n1bw").isNotNull, 1L)
          .otherwise(0L)).as("n_cont"),
        sum(when(col("__c1").isNull && col("__n1bw").isNull, 1L)
          .otherwise(0L)).as("n_oov"),
        sum(coalesce(col("__cb"), lit(0L))).as("sum_c12"),
        sum(coalesce(col("__c1"), lit(0L))).as("sum_c1"),
        sum(coalesce(col("__n1fw"), lit(0L))).as("sum_n1fw"),
        sum(coalesce(col("__n1bw"), lit(0L))).as("sum_n1bw"),
        (sum(log(score)) / count(lit(1))).as("avg_logscore"))
    df.select(id).distinct().join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_ctx"), lit(0L)).as("n_ctx"),
        coalesce(col("n_cont"), lit(0L)).as("n_cont"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("sum_c12"), lit(0L)).as("sum_c12"),
        coalesce(col("sum_c1"), lit(0L)).as("sum_c1"),
        coalesce(col("sum_n1fw"), lit(0L)).as("sum_n1fw"),
        coalesce(col("sum_n1bw"), lit(0L)).as("sum_n1bw"),
        col("avg_logscore"))
  }

  def tfidf(df: org.apache.spark.sql.DataFrame, textCol: String,
            idCol: String, topN: Int = 5): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val terms = df.select(id,
      explode(filter(split(normalize(col(textCol)), " "), w => w =!= ""))
        .as("term"))
    val tf = terms.groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count_distinct(id).as("__n_docs"))
    val scored = tf.join(dfq, "term")
      .crossJoin(org.apache.spark.sql.functions.broadcast(nDocs))
      .withColumn("__score",
        col("tf") * log(col("__n_docs").cast("double") / col("df").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy(col("__score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(id, col("term"), col("tf"), col("df"),
        round(col("__score"), 4).as("score"), col("rank"))
  }

  /** Okapi BM25 retrieval scoring (Robertson–Spärck Jones; the Lucene
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` idf variant, which is
    * non-negative for every df) — the lexical-retrieval companion to
    * [[tfidf]]: rank corpus documents against a query-term table, the
    * workhorse of hard-negative mining and retrieval-based curation.
    *
    * score(q, d) = Σ_{t ∈ q, t ∈ d} idf(t) · tf·(k1+1) /
    *               (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: term frequencies and document lengths come from ONE
    * explode → groupBy(doc, term) pass keyed by doc (map-side
    * combined, never a Zipfian global token key); document frequencies
    * aggregate the already-collapsed (doc, term) relation; N and avgdl
    * join in as a broadcast one-row aggregate (avgdl counts empty
    * documents — total tokens / total docs, not an average over docs
    * that happen to have terms); the query-term table broadcasts, so
    * the only shuffle of corpus-sized data is the (doc, term) combine.
    * Per-(query, doc) scores sum a handful of term contributions —
    * emit rounded (the t16 float rule); ranking composes with the
    * bounded [[graft.functions.TopK]] aggregate (n04) for top-k.
    *
    * @param queryTerms (query_id, term) rows; duplicate terms within a
    *                   query are collapsed (set semantics, the standard
    *                   probabilistic-model reading).
    */
  def bm25(df: org.apache.spark.sql.DataFrame, textCol: String,
           idCol: String, queryTerms: org.apache.spark.sql.DataFrame,
           k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val terms = df.select(id,
      explode(filter(split(normalize(col(textCol)), " "), w => w =!= ""))
        .as("term"))
    // CacheOnce: the (doc, term) combine feeds four consumers (scoring,
    // dl, df, avgdl) — cache the collapsed relation once instead of
    // re-tokenizing the corpus per consumer.
    val tf = graft.engine.CacheOnce(
      terms.groupBy(id, col("term")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(id).agg(sum(col("tf")).as("dl"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = df.agg(count(lit(1)).cast("double").as("__n_docs"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(
        tf.agg(sum(col("tf")).cast("double").as("__n_tokens"))))
      .select(col("__n_docs"), (col("__n_tokens") / col("__n_docs")).as("__avgdl"))
    val q = org.apache.spark.sql.functions.broadcast(
      queryTerms.select(col("query_id"), col("term")).distinct())
    tf.join(q, "term")
      .join(dfq, "term")
      .join(dl, Seq(idCol))
      .crossJoin(org.apache.spark.sql.functions.broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("__contrib",
        col("__idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col("query_id"), id)
      .agg(sum(col("__contrib")).as("score"), count(lit(1)).as("n_terms_hit"))
  }

  /** Mergeable BM25 CORPUS STATE — the incremental-index shape for the
    * retrieval tier (the [[Curation.dsirState]] pattern): one row per
    * term with its document frequency and corpus-wide term count, plus
    * ONE sentinel row (term = "", df = n_docs, tf = 0) carrying the
    * document count — tokens are never empty, so the sentinel cannot
    * collide, and it merges by the same full-outer sum as every other
    * row. All three statistics BM25 needs derive from the state alone:
    * df per term, N from the sentinel, avgdl = sum(tf)/N. Counts are
    * exact integers, so chained merges are bit-identical to a refit
    * over the union (gate t24) — no decay, no approximation.
    */
  def bm25State(df: org.apache.spark.sql.DataFrame, textCol: String,
                idCol: String): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val tf = df.select(id,
        explode(filter(split(normalize(col(textCol)), " "), w => w =!= ""))
          .as("term"))
      .groupBy(id, col("term")).agg(count(lit(1)).as("__tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("__tf")).as("tf"))
      .unionByName(df.agg(count(lit(1)).as("df"))
        .select(lit("").as("term"), col("df"), lit(0L).as("tf")))
  }

  /** Roll BM25 state forward over a new batch's state: df/tf add
    * term-wise (full-outer + coalesce); the sentinel document-count
    * row adds like any other term. Exact.
    */
  def mergeBm25State(a: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    a.select(col("term"), col("df").as("__ad"), col("tf").as("__at"))
      .join(b.select(col("term"), col("df").as("__bd"),
        col("tf").as("__bt")), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("__ad"), lit(0L)) + coalesce(col("__bd"), lit(0L)))
          .as("df"),
        (coalesce(col("__at"), lit(0L)) + coalesce(col("__bt"), lit(0L)))
          .as("tf"))

  /** Roll BM25 state BACKWARD: subtract a deleted batch's state — the
    * deletion half of the incremental lifecycle [[mergeBm25State]]
    * opens. All statistics are exact integer sums, so subtraction is
    * exact inverse merge: `subtract(merge(a, b), b) = a` row-for-row,
    * and scoring with the subtracted state equals a refit over the
    * remaining corpus (gate t31). Terms whose df hits zero leave the
    * state; the document-count sentinel row stays (an emptied corpus
    * is a valid state). `deleted` MUST be the state of a subset of
    * the corpus the state describes — subtracting anything else would
    * mint negative counts, which fail fast here (one aggregate over
    * the vocabulary-sized state) instead of silently corrupting every
    * later idf.
    */
  def subtractBm25State(state: org.apache.spark.sql.DataFrame,
                        deleted: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val out = state
      .select(col("term"), col("df").as("__ad"), col("tf").as("__at"))
      .join(deleted.select(col("term"), col("df").as("__bd"),
        col("tf").as("__bt")), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("__ad"), lit(0L)) - coalesce(col("__bd"), lit(0L)))
          .as("df"),
        (coalesce(col("__at"), lit(0L)) - coalesce(col("__bt"), lit(0L)))
          .as("tf"))
      .localCheckpoint()
    val bad = out.filter(col("df") < 0 || col("tf") < 0).count()
    require(bad == 0,
      s"deleted state is not a subset of the corpus state: $bad terms " +
        "would go negative")
    out.filter(col("term") === "" || col("df") > 0)
  }

  /** Score a batch of documents against an existing BM25 state WITHOUT
    * re-deriving corpus statistics: per-doc tf/dl come from the batch's
    * own text (exact, batch-local); df/N/avgdl come from the persisted
    * state. Because every statistic is an exact integer, scoring with
    * a merged state equals the one-shot [[bm25]] over the union —
    * that is the whole point of the state (index refresh touches only
    * the new batch). Same output contract as [[bm25]].
    */
  def bm25ScoreWithState(state: org.apache.spark.sql.DataFrame,
                         df: org.apache.spark.sql.DataFrame,
                         textCol: String, idCol: String,
                         queryTerms: org.apache.spark.sql.DataFrame,
                         k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val tf = df.select(id,
        explode(filter(split(normalize(col(textCol)), " "), w => w =!= ""))
          .as("term"))
      .groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(id).agg(sum(col("tf")).as("dl"))
    val stats = org.apache.spark.sql.functions.broadcast(
      state.agg(
        sum(when(col("term") === "", col("df")).otherwise(0L))
          .cast("double").as("__n_docs"),
        sum(col("tf")).cast("double").as("__n_tokens"))
      .select(col("__n_docs"),
        (col("__n_tokens") / col("__n_docs")).as("__avgdl")))
    val dfq = state.filter(col("term") =!= "").select(col("term"), col("df"))
    val q = org.apache.spark.sql.functions.broadcast(
      queryTerms.select(col("query_id"), col("term")).distinct())
    tf.join(q, "term")
      .join(dfq, "term")
      .join(dl, Seq(idCol))
      .crossJoin(stats)
      .withColumn("__idf",
        log(lit(1.0) + (col("__n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("__contrib",
        col("__idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col("query_id"), id)
      .agg(sum(col("__contrib")).as("score"), count(lit(1)).as("n_terms_hit"))
  }

  def repetition(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val words = df.select(id,
      filter(split(trim(col(textCol)), "\\s+"), w => w =!= "").as("__w"))
    val base = words.select(id, size(col("__w")).as("n_words"),
      size(array_distinct(col("__w"))).as("n_distinct_words"))
    val perWord = words.select(id, explode(col("__w")).as("__word"))
      .groupBy(id, col("__word")).agg(count(lit(1)).as("__c"))
    val topWord = perWord.groupBy(id)
      .agg(max(col("__c") * length(col("__word"))).cast("long").as("top_word_chars"))
    val bigrams = words.select(id,
      explode(when(size(col("__w")) >= 2,
          zip_with(slice(col("__w"), lit(1), size(col("__w")) - 1),
            slice(col("__w"), lit(2), size(col("__w")) - 1),
            (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>"))).as("__bigram"))
    val topBigram = bigrams.groupBy(id, col("__bigram"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(id).agg(max(col("__c")).as("top_bigram_count"))
    base.join(topWord, Seq(idCol), "left")
      .join(topBigram, Seq(idCol), "left")
      .na.fill(0L, Seq("top_word_chars", "top_bigram_count"))
  }

  /** C4-style LINE-level cleaning (Raffel et al., "Exploring the Limits
    * of Transfer Learning…", JMLR 2020, §2.2): filter each document's
    * lines by within-document rules and re-join the survivors —
    * boilerplate menus, cookie banners, and repeated headers die at the
    * line level while the document survives. Rules (conjunctive):
    *  - at least `minTokens` whitespace tokens on the line;
    *  - no banned substring (case-insensitive; C4 uses a bad-words
    *    list, "lorem ipsum", "javascript", braces);
    *  - if `dedupLines`, only the FIRST occurrence of a repeated line
    *    within the document survives (C4 dedups repeated spans
    *    corpus-wide; the corpus-wide variant here is [[Dedup.dedupSpans]]
    *    — this rule is the document-local complement).
    *
    * Returns `(idCol, n_lines, n_kept, clean_text)` with survivors
    * joined by newline.
    *
    * Scale notes: a PURE projection — the line array, per-line token
    * counts, banned-substring tests, and first-occurrence check
    * (`array_position(lines, line) == own index` — first index wins by
    * definition) all evaluate per row with zero shuffles and zero
    * explodes; at 100 TB this is the map stage of whatever consumes the
    * cleaned text. The first-occurrence check is O(lines²) per doc in
    * the worst case, bounded by per-document line counts (thousands),
    * never corpus size.
    */
  def cleanLines(df: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String, minTokens: Int = 3,
                 banned: Seq[String] = Seq("lorem ipsum", "javascript",
                   "cookie", "{"),
                 dedupLines: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(minTokens >= 0, s"minTokens must be >= 0, got $minTokens")
    val lc = (c: Column) => lower(c)
    df.withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept", filter(
        zip_with(col("__lines"), sequence(lit(1), size(col("__lines"))),
          (l, i) => struct(l.as("l"), i.as("i"))),
        p => {
          val line = p.getField("l")
          val base = (size(split(line, " ")) >= minTokens) &&
            banned.map(b => !lc(line).contains(b.toLowerCase))
              .reduceOption(_ && _).getOrElse(lit(true))
          if (dedupLines)
            base && (array_position(col("__lines"), line) === p.getField("i"))
          else base
        }))
      .select(col(idCol), size(col("__lines")).as("n_lines"),
        size(col("__kept")).as("n_kept"),
        array_join(transform(col("__kept"), _.getField("l")), "\n")
          .as("clean_text"))
  }
}
