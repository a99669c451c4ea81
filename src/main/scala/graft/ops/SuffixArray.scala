package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT substring dedup via distributed suffix-array bucket
  * refinement — the Lee et al. "Deduplicating Training Data" ExactSubstr
  * shape (arXiv:2107.06499): find every maximal span of ≥ `minLen`
  * CHARACTERS whose every window occurs elsewhere in the corpus.
  *
  * [[Dedup.dedupSpans]] (d15) approximates this at token grain with
  * fixed-width hashed grams; this module is the exact arbitrary-length
  * character-grain method. The engine core is Manber–Myers prefix
  * doubling, with one deliberate departure: repeat extraction needs
  * only suffix EQUALITY CLASSES (which suffixes share a length-w
  * prefix), never their lexicographic ORDER — so each doubling round
  * assigns the class id `min(position)` over the (rank_w(p),
  * rank_w(p+w)) pair via a groupBy + join-back (two hash shuffles),
  * instead of the global sort + dense-rank a full suffix-array build
  * pays. The refinement lattice is identical to the textbook
  * algorithm's bucket structure; only the ordering of bucket labels
  * differs. No hashing is involved anywhere: two positions land in the
  * same class iff their windows are CHARACTER-IDENTICAL, which is what
  * makes the result exact rather than d15's md5-gram approximation.
  *
  * The PRUNED one-shot refinement SEEDS at width [[seedWidth]]
  * (default 8) rather than width 1: the seed classes come from ONE
  * groupBy over the literal w₀-char windows, which is exactly what
  * ⌈log₂ w₀⌉ doubling rounds would compute (class id = min position
  * over positions whose w₀-char windows are identical — the doubling
  * lattice's width-w₀ level, reached directly). Those skipped rounds
  * are precisely the ones that run BEFORE singleton pruning can
  * collapse the relation (on natural text nearly every 1/2/4-char
  * window repeats, so rounds 1-3 shuffle the whole corpus; width-8
  * windows are where uniqueness bites), so seeding at 8 removes the
  * full-corpus-sized rounds and pays one gram-keyed aggregate whose
  * row weight (8 chars + a long) is comparable to the 16-byte
  * (pos, cls) rows the skipped rounds would have shuffled log₂(8) = 3
  * times each — measured 3-6× less task CPU on the d25/d26/d27 gates.
  * Positions whose w₀-window runs off the document end never enter
  * the seed relation; they could never head a full minLen-window key
  * (w₀ ≤ targetW < minLen) and any widening lookup that lands on one
  * resolves to the same unique-to-that-position sentinel class the
  * width-1 seed would have produced, so every surviving equality
  * class — and therefore every span — is identical (spec-pinned
  * against brute force and against the dense index path). The
  * UNPRUNED incremental-index path keeps the width-1 seed: its seed
  * dictionary must persist every distinct window, and at width 8 that
  * is a corpus-sized table of 8-char strings whose mint/probe cost
  * was measured to cancel the skipped rounds (see [[SubstrIndex]]).
  *
  * Length-`L` keys from width-`w` classes use the standard overlap
  * argument: for w ≥ L/2, s[i,i+L) = s[q,q+L) iff the width-w windows
  * at i and at i+L−w match those at q and q+L−w — so ⌈log₂ L⌉ − 1
  * rounds suffice for any L, and the final marking is ONE count over
  * composite class keys.
  *
  * Scale shape: the working relation is one row per corpus character
  * — (pos, class) longs, 16 bytes a row — and every round is two
  * hash-partitioned shuffles of it; log₂(minLen) rounds total,
  * localCheckpointed so the plan stays flat. Documents never
  * concatenate: positions live on a per-doc stride grid (stride >
  * maxLen + w guards every in-round shift), so cross-document
  * adjacency — the sentinel machinery of array-based builds — never
  * exists in the first place. The island merge runs per document over
  * marked positions only. At corpus scale the refinement is the cost
  * of ~2·log₂(L) shuffles of the character table — and the table
  * SHRINKS each round: positions whose class is already a singleton
  * are dropped (exact — see the pruning note in [[lengthKeys]]), so
  * on natural text later rounds shuffle only the small surviving
  * repeated core rather than the whole corpus
  * ([[refinementSurvivorCounts]] reports the collapse per round).
  */
object SuffixArray {

  /** Maximal repeated character spans, one row per span:
    * `(idCol, span_start, span_end, span_len)` — start inclusive, end
    * exclusive, 0-based character offsets. Coverage semantics (the
    * Lee et al. byte-coverage contract): every character in a span is
    * covered by at least one length-`minLen` window that occurs at
    * least `minOccurrences` times corpus-wide (occurrences in the
    * same document count — a self-repeat is a repeat). Islands merge
    * coverage-contiguous windows, so a span's INTERIOR windows need
    * not each be repeated — only enough of them to cover every
    * character.
    */
  def repeatedSpans(docs: DataFrame, textCol: String, idCol: String,
                    minLen: Int, minOccurrences: Int = 2): DataFrame = {
    require(minOccurrences >= 2,
      s"minOccurrences below 2 would mark every position, got $minOccurrences")
    val staged = stageDocs(docs, textCol, idCol)
    val keyed = lengthKeys(staged, minLen)
    islandSpans(markRepeated(keyed, minOccurrences), idCol, minLen)
  }

  /** Keep exactly the rows whose (__r1, __r2) composite key occurs at
    * least `minOccurrences` times — count-aggregate + join-back. A
    * one-window form (count over the pair key) was tried and MEASURED
    * worse (round 16: d27 task CPU +29%, d25 wall +20% at flat CPU):
    * the surviving repeated-key set is SMALL on real text, so the
    * aggregate's map-side combine plus a broadcast join-back never
    * re-exchanges the keyed relation, while the window pays a full
    * corpus-sized sort for the same marking.
    */
  private def markRepeated(keyed: DataFrame,
                           minOccurrences: Int): DataFrame = {
    val repeatedKeys = keyed.groupBy("__r1", "__r2")
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minOccurrences)
      .select("__r1", "__r2")
    keyed.join(repeatedKeys, Seq("__r1", "__r2"))
  }

  /** [[repeatedSpans]] with the singleton pruning toggleable —
    * MEASUREMENT ONLY (package-private): identical spans either way
    * (the pruning argument in [[lengthKeys]]; SuffixArraySpec pins it
    * against this unpruned reference). Timing both settings made the
    * pruning win a measured ratio, not an asserted one: CPU 0.64-0.71
    * of unpruned (PLANS.md, Round-12, "Singleton-pruning CPU claim
    * re-pinned").
    */
  private[graft] def repeatedSpansPruneToggle(docs: DataFrame,
      textCol: String, idCol: String, minLen: Int,
      prune: Boolean): DataFrame = {
    val staged = stageDocs(docs, textCol, idCol)
    val keyed = lengthKeys(staged, minLen, prune = prune)
    islandSpans(markRepeated(keyed, 2), idCol, minLen)
  }

  /** Per-round surviving candidate rows of the refinement — the
    * singleton-pruning collapse curve (one (width, rows) pair per
    * round, the first width = the gram-class seed). On natural text
    * the count
    * collapses within a few rounds: most windows go corpus-unique
    * fast, and pruned rounds shuffle only the repeated core.
    * Diagnostic companion to [[repeatedSpans]].
    */
  def refinementSurvivorCounts(docs: DataFrame, textCol: String,
                               idCol: String, minLen: Int)
      : Seq[(Int, Long)] = {
    val staged = docs.select(col(idCol).cast("long").as("__id"),
        col(textCol).as("__t"))
      .withColumn("__n", length(col("__t")))
    val buf = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    // localCheckpoint is eager, so the rounds execute inside this call
    // and each count reads the just-materialized checkpoint
    lengthKeys(staged, minLen, (w, df) => buf += ((w, df.count())))
    buf.toSeq
  }

  /** The refinement core shared by every span flavor: (id, off, r1,
    * r2) for each full-window position, where (r1, r2) is equal for
    * two positions iff their `minLen`-char windows are identical.
    * `onRound` observes each round's surviving checkpointed relation
    * (diagnostics only — the default no-op adds no work).
    */
  private def lengthKeys(staged: DataFrame, minLen: Int,
                         onRound: (Int, DataFrame) => Unit = (_, _) => (),
                         prune: Boolean = true)
      : DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // target class width: smallest power of two with 2·targetW ≥ minLen
    var targetW = 1
    while (targetW * 2 < minLen) targetW *= 2
    // one bounded pass for the grid bound AND the id-domain contract:
    // the stride grid and the −pos−1 off-end sentinel both assume
    // non-negative ids (a negative pos would let the sentinel collide
    // with real class ids — silently wrong spans), and a null id
    // (failed cast from a non-numeric idCol) would collapse documents
    // onto one corrupt grid row
    val bounds = staged.agg(max(col("__n")).as("mx"),
      min(col("__id")).as("mn"), max(col("__id")).as("mxid"),
      sum(when(col("__id").isNull, 1).otherwise(0)).as("nulls")).head()
    if (bounds.isNullAt(0)) {
      // empty corpus: no positions, no spans
      return staged.select(col("__id"), lit(0L).as("__off"),
        lit(0L).as("__r1"), lit(0L).as("__r2")).limit(0)
    }
    require(bounds.getLong(3) == 0,
      "id column must cast to a non-null long for the position grid " +
        "(nulls can also mean a caller's re-keying overflowed — see " +
        "contaminationSpans' parity interleave)")
    require(bounds.getLong(1) >= 0,
      s"ids must be non-negative for the position grid, " +
        s"got min ${bounds.getLong(1)}")
    val maxLen = bounds.getInt(0)
    val stride = maxLen.toLong + targetW + 1
    // upper bound of the id domain: `__id * stride + __off` must fit a
    // long (hash-derived ids near 1e18 at modest stride would
    // otherwise overflow — under Spark 4's ANSI mode that is a
    // mid-job abort with an arithmetic error, not a message). Fail
    // fast on the driver with the actual numbers instead.
    val maxId = bounds.getLong(2)
    require(maxId <= (Long.MaxValue - stride) / stride,
      s"id domain too large for the position grid: max id $maxId " +
        s"times stride $stride overflows long — re-key ids densely " +
        s"(e.g. zipWithIndex / row_number) before substring dedup")
    // one row per full-window position; class id seeds as min position
    // per distinct width-w0 gram (identical to what log2(w0) doubling
    // rounds would assign — see the seed-width note in the object doc).
    // The refinement relation carries ONLY (pos, cls) — two longs a
    // row: doc id and offset are pos arithmetic on the stride grid
    // (recovered once at the end), and every round's shuffle moves 16
    // bytes per surviving position, not a five-column row.
    val w0 = seedWidth(targetW)
    // SINGLETON PRUNING (the production constant-factor lever): a
    // position whose class is corpus-unique at width w heads a unique
    // window at EVERY wider width — it can neither seed a repeat nor
    // help another position match (two candidates with identical
    // wider windows have extension positions with identical width-w
    // windows, i.e. a class of size ≥ 2 that pruning keeps). Dropped
    // positions resurface only through widen's left-join sentinel
    // (−pos − 1), which assigns the looking-up candidate a class
    // unique to itself — EXACTLY the class the unpruned run would
    // have assigned it (the pair group would have been {candidate}
    // and min-position = candidate either way). So every surviving
    // class id is bit-identical to the unpruned run's, and on natural
    // text the shuffled relation collapses within 2-3 rounds (most
    // width-8 windows are already unique) instead of carrying dead
    // rows to the end.
    // prune=false: the measurement-only unpruned variant (identical
    // spans — see the correctness argument above; the toggle exists so
    // the win is measured instead of asserted, PLANS.md Round-12)
    def keepRepeated(df: DataFrame): DataFrame =
      if (prune) df.filter(col("__sz") >= 2) else df
    // checkpointed: the seed round reads this relation TWICE (class
    // minting + join-back), and the w₀-gram extraction (per-position
    // array slice + join) is the single most expensive projection in
    // the refinement — left lazy it ran twice inside the seed job.
    // (A one-window min+count form of this seed and the doubling
    // rounds below was tried in round 16 and MEASURED worse on this
    // pruned path — d26/d27 task CPU +17-44%: the pruned relation
    // collapses fast, so the mint aggregate's map-side combine plus a
    // small join-back beat a full corpus-sized sort of the surviving
    // rows. The UNPRUNED dense path keeps the window form — see
    // refineAgainst — where nothing collapses and the join-back side
    // is itself corpus-sized.)
    val chars = gramsOf(staged, stride, w0).localCheckpoint()
    var ranks = keepRepeated(chars
        .join(chars.groupBy("__c").agg(min("__pos").as("__cls"),
          count(lit(1)).as("__sz")), Seq("__c")))
      .select(col("__pos"), col("__cls"))
      .localCheckpoint()
    onRound(w0, ranks)
    // doubling rounds: classes of width `width` → width 2·width via the
    // (cls(p), cls(p+width)) pair, class id = min position in the pair
    // group; new singletons drop out each round
    var width = w0
    while (width < targetW) {
      // checkpointed: the round reads it twice (class minting +
      // join-back) — left lazy, the widen window ran twice per round
      val paired = widenSparse(ranks, width, stride).localCheckpoint()
      val newCls = paired.groupBy("__r1", "__r2")
        .agg(min("__pos").as("__cls"), count(lit(1)).as("__sz"))
      ranks = keepRepeated(paired.join(newCls, Seq("__r1", "__r2")))
        .select(col("__pos"), col("__cls"))
        .localCheckpoint()
      width *= 2
      onRound(width, ranks)
    }
    // composite key covering exactly minLen chars: width-`width`
    // classes at off and off + minLen − width (overlap argument:
    // 2·width ≥ minLen); only positions with a full window participate
    val lengths = staged.select(col("__id"), col("__n"))
    // checkpointed: every caller reads the keyed relation twice
    // (repeated-key counting + the join-back that marks positions) —
    // left lazy, the final widen ran twice
    widenSparse(ranks, minLen - width, stride)
      .select(expr(s"__pos div ${stride}L").as("__id"),
        pmod(col("__pos"), lit(stride)).as("__off"),
        col("__r1"), col("__r2"))
      .join(lengths, Seq("__id"))
      .filter(col("__off") <= col("__n") - minLen)
      .select("__id", "__off", "__r1", "__r2")
      .localCheckpoint()
  }

  /** One widening step for a SPARSE relation (the pruned one-shot
    * path): pair each position's class with the class of the window
    * `shift` to the right. A position whose extension runs off the
    * document end — or was pruned/never existed in `cur` — gets a
    * class unique to itself (−pos − 1: disjoint from min-position
    * ids, which are ≥ 0). The lookup is a per-doc RANGE-frame window
    * (`max(__cls)` over exactly the row at __pos + shift — the frame
    * holds one row or none, so max IS the lookup), which costs ONE
    * exchange + sort of the relation instead of the position
    * self-join's two corpus-sized shuffles per round; off-frame and
    * pruned positions surface as null → the sentinel, exactly the
    * left-join semantics this replaces. Window partitions are single
    * documents (bounded by the grid), never frequency-skewed.
    */
  private[graft] def widenSparse(cur: DataFrame, shift: Int,
                                 stride: Long): DataFrame = {
    val at = Window.partitionBy(expr(s"__pos div ${stride}L"))
      .orderBy(col("__pos")).rangeBetween(shift, shift)
    cur.select(col("__pos"), col("__cls").as("__r1"),
      coalesce(max(col("__cls")).over(at), -col("__pos") - 1)
        .as("__r2"))
  }

  /** Seed width w₀ for the refinement: the widest power of two ≤ 8
    * (and ≤ targetW). 8 balances the seed's shuffle row weight (an
    * 8-char gram + a long ≈ the 16-byte (pos, cls) rows the skipped
    * rounds shuffle) against the log₂(w₀) full-corpus-sized doubling
    * rounds it eliminates; beyond 8 the gram bytes grow linearly while
    * the saved rounds grow logarithmically, and on natural text width
    * 8 is where singleton pruning starts collapsing the relation
    * anyway.
    */
  private def seedWidth(targetW: Int): Int = math.min(8, targetW)

  /** [[widenSparse]] for a DENSE relation (the index paths, which
    * never prune): every position 0..n−1 of every doc has a row with
    * no holes, so "the class `shift` positions right" is
    * `lead(__cls, shift)` over a per-doc window — ONE exchange (by
    * doc) + sort, and the lead's row offset IS the position offset
    * (the round-14 substr constant-factor lever). Off-end rows get
    * the identical `−pos − 1` sentinel the sparse range-frame lookup
    * assigns, so the two forms are row-for-row equal on dense input
    * (spec-pinned); the pruned one-shot path needs [[widenSparse]] —
    * with rows dropped, row-offset ≠ position-offset. Window
    * partitions are single documents (bounded by the grid), never
    * frequency-skewed.
    */
  private[graft] def widenSeq(cur: DataFrame, shift: Int,
                              stride: Long): DataFrame = {
    val byDoc = Window
      .partitionBy(expr(s"__pos div ${stride}L")).orderBy("__pos")
    cur.select(col("__pos"), col("__cls").as("__r1"),
      coalesce(lead(col("__cls"), shift).over(byDoc),
        -col("__pos") - 1).as("__r2"))
  }

  /** Gap-and-island merge of marked (id, off) window starts into
    * maximal spans (the d15 cutSpans shape): a new span starts when a
    * window's first position clears the running max covered end by
    * more than one.
    */
  private def islandSpans(marked: DataFrame, idCol: String,
                          minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy("__id").orderBy("__off")
    val runPrev = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    marked
      .select(col("__id"), col("__off"),
        (col("__off") + minLen - 1).as("__e"))
      .withColumn("__brk",
        when(col("__off") > coalesce(max(col("__e")).over(runPrev),
          lit(-2L)) + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(byDoc))
      .groupBy(col("__id"), col("__isl"))
      .agg(min("__off").as("__ss"), (max("__off") + minLen).as("__se"))
      .select(col("__id").as(idCol),
        col("__ss").cast("int").as("span_start"),
        col("__se").cast("int").as("span_end"),
        (col("__se") - col("__ss")).cast("int").as("span_len"))
  }

  /** EXACT substring decontamination spans — the published eval-overlap
    * standard (GPT-3's 13-gram / PaLM's contamination sweeps, done
    * exactly at character grain): every maximal span of `train` text
    * whose EVERY `minLen`-char window also occurs somewhere in `eval`.
    * Train-internal and eval-internal repeats do NOT mark (unlike
    * [[repeatedSpans]]): the criterion is cross-corpus presence, so
    * the key filter keeps exactly the equality classes with at least
    * one member on each side. Both corpora flow through ONE shared
    * refinement (ids interleave on parity: train 2·id, eval 2·id+1 —
    * windows never span corpora because the stride grid separates
    * documents anyway), so the cost is one d25 pass over the union.
    * Returns train-side spans `(idCol, span_start, span_end,
    * span_len)`; compose with [[cutRepeatedSpans]]'s surgery or drop
    * whole documents above an overlap threshold.
    */
  def contaminationSpans(train: DataFrame, eval: DataFrame,
                         textCol: String, idCol: String,
                         minLen: Int): DataFrame = {
    // parity interleave with try_multiply: an id beyond the ×2
    // headroom degrades to null, which [[lengthKeys]]' id-domain
    // check turns into a fail-fast message instead of a mid-job ANSI
    // arithmetic abort
    def half(df: DataFrame, parity: Int): DataFrame =
      df.select((expr(s"try_multiply(cast($idCol as long), 2L)")
        + parity).as("__id"), col(textCol).as("__t"))
    val staged = spreadLowParallelism(
      half(train, 0).unionByName(half(eval, 1))
        .withColumn("__n", length(col("__t"))))
    val keyed = lengthKeys(staged, minLen)
    // aggregate + join-back, not a window — same measured reasoning
    // as [[markRepeated]]: the cross-corpus key set is small, so the
    // join-back broadcasts and the keyed relation exchanges once
    val crossKeys = keyed
      .groupBy("__r1", "__r2")
      .agg(sum(when(pmod(col("__id"), lit(2L)) === 1, 1).otherwise(0))
        .as("__nEval"))
      .filter(col("__nEval") >= 1)
      .select("__r1", "__r2")
    val markedTrain = keyed.join(crossKeys, Seq("__r1", "__r2"))
      .filter(pmod(col("__id"), lit(2L)) === 0)
      .select(expr("__id div 2L").as("__id"), col("__off"))
    islandSpans(markedTrain, idCol, minLen)
  }

  /** Cut the repeated spans OUT of each document — the "drop the
    * duplicated bytes" rebuild the spans exist for (Lee et al. §4).
    * One left join of the span sets back onto the docs and one
    * aggregate-HOF projection per row: the sorted span list folds
    * left-to-right, copying the kept gap before each span and the
    * tail after the last — no explode, no per-character rows, the
    * rebuild rides whatever scan produces the text. Returns
    * `(idCol, n_chars, n_spans, chars_removed, clean_text)` (the d15
    * output contract at character grain).
    */
  def cutRepeatedSpans(docs: DataFrame, textCol: String, idCol: String,
                       minLen: Int, minOccurrences: Int = 2): DataFrame =
    cutSpans(docs,
      repeatedSpans(docs, textCol, idCol, minLen, minOccurrences),
      textCol, idCol)

  /** Cut an arbitrary span set out of each document — the surgery
    * shared by [[cutRepeatedSpans]] (dedup) and the decontamination
    * composition (gate d32): one left join of the span sets back onto
    * the docs and one aggregate-HOF projection per row; the sorted
    * span list folds left-to-right, copying the kept gap before each
    * span and the tail after the last. `spans` carries
    * `(idCol, span_start, span_end)` — any producer in this module
    * qualifies. Returns `(idCol, n_chars, n_spans, chars_removed,
    * clean_text)`.
    */
  def cutSpans(docs: DataFrame, spans: DataFrame, textCol: String,
               idCol: String): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e")))).as("__spans"))
    docs.select(col(idCol), col(textCol).as("__t"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        expr("cast(array() as array<struct<s:int,e:int>>)")))
      .withColumn("__clean", expr(
        """aggregate(__spans,
          |  struct(cast('' as string) as t, 0 as p),
          |  (acc, sp) -> struct(
          |    concat(acc.t, substring(__t, acc.p + 1, sp.s - acc.p)),
          |    sp.e),
          |  acc -> concat(acc.t,
          |    substring(__t, acc.p + 1, length(__t) - acc.p)))"""
          .stripMargin))
      .select(col(idCol), length(col("__t")).as("n_chars"),
        size(col("__spans")).as("n_spans"),
        (length(col("__t")) - length(col("__clean")))
          .as("chars_removed"),
        col("__clean").as("clean_text"))
  }

  // ------------------------------------------------------------------
  // Incremental substring dedup: the persisted-rank-state lifecycle
  // (the d13/d14/d16 incremental discipline for the exact-substring
  // family). At corpus scale a full re-refinement per append is the
  // one remaining full-recompute story; this index removes it.
  //
  // What persists, and why it is EXACTLY append-composable:
  //  - per-width pair→class DICTIONARIES — (r1, r2) → class id for
  //    every distinct window the accumulated corpus has seen (width 1
  //    is the char→class dictionary). Class ids are min-positions, so
  //    with batch ids strictly above all prior ids (enforced), an old
  //    class's id can NEVER change when new members join — old state
  //    is immutable, appends only ADD dictionary rows.
  //  - the final per-position KEY relation (id, off, r1, r2) — the
  //    lengthKeys output for every full-window position, UNPRUNED: a
  //    window unique so far can be matched by any future batch, so
  //    the index (unlike the one-shot [[repeatedSpans]] fast path)
  //    must remember singletons.
  // An append refines ONLY its own characters: each round classifies
  // batch pairs against the dictionary (hit = the established class;
  // miss = provably no prior member, so min-batch-position is the
  // exact union class id) and appends the misses. No prior position
  // is ever re-refined — the log₂(L) doubling rounds run over batch
  // characters only, joined against persisted state. (At production
  // volume the dictionaries and keys would persist BUCKETED by their
  // join keys so these lookups co-locate without shuffling the large
  // side.)
  // ------------------------------------------------------------------

  /** Persisted refinement state for incremental exact-substring dedup.
    *
    * @param dictChars (__c, __cls) — char → class id. The index path
    *                  deliberately KEEPS the width-1 seed the one-shot
    *                  path replaced with width-8 grams: unpruned, the
    *                  gram dictionary would be corpus-sized rows of
    *                  8-char strings (nearly every window is distinct),
    *                  which costs as much to mint, checkpoint, and
    *                  probe as the doubling rounds it skips — measured
    *                  flat CPU on d28-d37 vs the 3-6× the pruned
    *                  one-shot gates gained. Content-keying here stays
    *                  split across the (long, long)-keyed pair
    *                  dictionaries instead.
    * @param dictPairs (__w, __r1, __r2, __cls) — width-w window-pair →
    *                  class id (sentinel pairs omitted: a batch can
    *                  never look one up)
    * @param keys      (__id, __off, __r1, __r2) — final composite key
    *                  per full-window position of the accumulated
    *                  corpus
    * @param stride    the FIXED position grid (set at build from
    *                  maxDocLen; every appended doc must fit)
    * @param maxId     largest doc id seen (appends must exceed it)
    */
  case class SubstrIndex(dictChars: DataFrame, dictPairs: DataFrame,
                         keys: DataFrame, minLen: Int, targetW: Int,
                         stride: Long, maxId: Long)

  private def targetWidth(minLen: Int): Int = {
    var targetW = 1
    while (targetW * 2 < minLen) targetW *= 2
    targetW
  }

  /** Re-hash a staged corpus by doc when its scan parallelism is
    * below the session's default: every per-position projection
    * downstream (gram extraction, the position grid) runs at the
    * SCAN's parallelism, so a corpus arriving as a handful of small
    * files serializes the most expensive map work in the build. At
    * production scale the scan already has enough splits and the
    * corpus-text exchange would be pure overhead — the re-hash only
    * fires below the threshold. (Deterministic hash partitioning —
    * results are partition-independent anyway.)
    */
  private def spreadLowParallelism(staged: DataFrame): DataFrame = {
    val sc = staged.sparkSession.sparkContext
    if (staged.rdd.getNumPartitions < sc.defaultParallelism)
      staged.repartition(col("__id"))
    else staged
  }

  private def stageDocs(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    spreadLowParallelism(
      docs.select(col(idCol).cast("long").as("__id"),
          col(textCol).as("__t"))
        .withColumn("__n", length(col("__t"))))

  /** One bounded aggregate over the staged corpus: (max doc length,
    * min id, max id, null-id count, total chars). Computed ONCE per
    * build/append — build derives its grid from the same row it
    * validates against; append reads total chars for the
    * broadcast-batch decision.
    */
  private def corpusBounds(staged: DataFrame): org.apache.spark.sql.Row =
    staged.agg(max(col("__n")).as("mx"),
      min(col("__id")).as("mn"), max(col("__id")).as("mxid"),
      sum(when(col("__id").isNull, 1).otherwise(0)).as("nulls"),
      sum(col("__n").cast("long")).as("chars")).head()

  /** Enforce the lengthKeys id-domain contract against a given stride. */
  private def validateBounds(bounds: org.apache.spark.sql.Row,
                             stride: Long, targetW: Int): Unit = {
    require(!bounds.isNullAt(0), "empty corpus: nothing to index")
    require(bounds.getLong(3) == 0,
      "id column must cast to a non-null long for the position grid")
    require(bounds.getLong(1) >= 0,
      s"ids must be non-negative for the position grid, " +
        s"got min ${bounds.getLong(1)}")
    require(bounds.getInt(0) <= stride - targetW - 1,
      s"document of ${bounds.getInt(0)} chars exceeds the index grid " +
        s"(stride $stride, width $targetW): rebuild with a larger " +
        s"maxDocLen")
    val maxId = bounds.getLong(2)
    require(maxId <= (Long.MaxValue - stride) / stride,
      s"id domain too large for the position grid: max id $maxId " +
        s"times stride $stride overflows long — re-key ids densely")
  }

  /** One row per full width-`w` window on the stride grid:
    * (__pos, __c) where __c is the literal w-char gram starting there.
    * w = 1 is the per-character relation (every position of every
    * doc); w > 1 stages the doc's char array once and re-slices it per
    * offset (linear in chars·w — `substring(__t, i, w)` per offset
    * would re-scan the string from its head each call, quadratic in
    * doc length).
    */
  private def gramsOf(staged: DataFrame, stride: Long,
                      w: Int): DataFrame =
    if (w == 1)
      staged
        .select(posexplode(split(col("__t"), "")).as(Seq("__off", "__c")),
          col("__id"))
        .select((col("__id") * stride + col("__off")).as("__pos"),
          col("__c"))
    else
      staged.filter(col("__n") >= w)
        .withColumn("__arr", split(col("__t"), ""))
        .select(col("__id"), posexplode(expr(
          s"transform(sequence(0, __n - $w), " +
            s"i -> array_join(slice(__arr, i + 1, $w), ''))"))
          .as(Seq("__off", "__c")))
        .select((col("__id") * stride + col("__off")).as("__pos"),
          col("__c"))

  /** Run the doubling rounds for a char relation against (possibly
    * empty) dictionaries, returning the final keys plus the grown
    * dictionaries. Shared verbatim by build (empty dictionaries) and
    * append (the persisted ones) — which is the append-exactness
    * argument in code: both paths ARE the same refinement.
    *
    * `bcastBatch` picks the dictionary-lookup orientation. The
    * persisted pair dictionary is CORPUS-sized (it keeps singletons —
    * any window can be matched by a future batch), so the default
    * outer join would shuffle the whole dictionary per round — an
    * append that costs as much as the rebuild it exists to avoid
    * (measured: ratio 1.1 at 3×-accumulated before this switch).
    * With `bcastBatch` the batch's pair relation broadcasts and the
    * dictionary STREAMS through a hash probe: zero dictionary
    * exchange, per-round cost = one dictionary scan + batch-sized
    * work. Build passes false (its dictionaries are empty — every
    * round's lookup width is minted only after the round runs);
    * append switches on batch size.
    */
  private def refineAgainst(chars: DataFrame, staged: DataFrame,
                            dictChars: DataFrame, dictPairs: DataFrame,
                            minLen: Int, targetW: Int, stride: Long,
                            bcastBatch: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    // width 1: dictionary hit keeps the established class (min
    // position over the accumulated corpus — immutable because batch
    // positions are larger); miss mints min-batch-position, exactly
    // the union build's id for a class with no prior member
    // checkpointed: read twice (miss minting + class assignment) — a
    // lazy plan probed the width-1 dictionary twice per build/append
    val withD = chars.join(
      dictChars.withColumnRenamed("__cls", "__dcls"), Seq("__c"), "left")
      .localCheckpoint()
    val newChars = withD.filter(col("__dcls").isNull)
      .groupBy("__c").agg(min("__pos").as("__cls"))
    val dictChars2 = dictChars
      .unionByName(newChars).localCheckpoint()
    var ranks = withD.join(newChars, Seq("__c"), "left")
      .select(col("__pos"),
        coalesce(col("__dcls"), col("__cls")).as("__cls"))
      .localCheckpoint()
    var dictPairs2 = dictPairs
    var width = 1
    while (width < targetW) {
      val w2 = width * 2
      val dw = dictPairs2.filter(col("__w") === w2)
        .select(col("__r1"), col("__r2"), col("__cls").as("__dcls"))
      // bcast branch: newPairs checkpointed at mint time — it is read
      // twice right there (class assignment + dictionary growth).
      // Shuffle branch: newPairs is a LAZY aggregate over the round's
      // checkpointed relation (see the comment inside) — evaluated
      // only by consumers that actually probe that width.
      val (ranksNext, newPairs) =
        if (bcastBatch) {
          // dictionary streams, batch broadcasts: hits pick up their
          // established class with no dictionary exchange; misses are
          // a batch-vs-batch anti join
          val paired = widenSeq(ranks, width, stride).localCheckpoint()
          val hits = dw.join(broadcast(paired), Seq("__r1", "__r2"))
            .select(col("__pos"), col("__dcls"))
            .localCheckpoint()
          val misses = paired.join(hits.select("__pos"), Seq("__pos"),
            "left_anti")
          val np = misses.groupBy("__r1", "__r2")
            .agg(min("__pos").as("__cls")).localCheckpoint()
          val r = hits.select(col("__pos"), col("__dcls").as("__cls"))
            .unionByName(misses.join(np, Seq("__r1", "__r2"))
              .select(col("__pos"), col("__cls")))
            .localCheckpoint()
          (r, np)
        } else {
          val paired = widenSeq(ranks, width, stride)
          // checkpointed: the round's ONE corpus-sized
          // materialization — the widen exchange + sort plus the
          // dictionary probe
          val joined = paired.join(dw, Seq("__r1", "__r2"), "left")
            .localCheckpoint()
          // class assignment as ONE window over the pair key instead
          // of the former mint-aggregate + corpus-sized join-back: a
          // pair group either hit the dictionary (every member row
          // carries the same __dcls — the dictionary is keyed on the
          // pair) or missed wholesale, in which case min(__pos) over
          // the group IS the minted class id. Same ids row-for-row,
          // one corpus exchange and one corpus materialization fewer
          // per doubling round (guide §2.3/§2.4). Skew note: the
          // window's hot pair groups are exactly the sort-merge
          // join-back's hot keys — the exposure is unchanged, the
          // pass count is not.
          val byPair = Window.partitionBy("__r1", "__r2")
          val r = joined.select(col("__pos"),
              coalesce(col("__dcls"), min(col("__pos")).over(byPair))
                .as("__cls"))
            .localCheckpoint()
          // dictionary growth stays LAZY over the checkpointed round
          // relation: spans-only consumers (build → spans / delete /
          // compact) never evaluate the mint aggregate at all; an
          // append or contamination probe evaluates exactly the
          // widths it looks up (the lit(__w) filter constant-folds
          // per union leg), reading this round's checkpoint — never
          // the whole union chain.
          val np = joined.filter(col("__dcls").isNull)
            .groupBy("__r1", "__r2").agg(min("__pos").as("__cls"))
          (r, np)
        }
      ranks = ranksNext
      // sentinel pairs (r2 < 0) never match a future lookup (each
      // batch mints its own −pos−1 sentinels), so they stay out of
      // the persisted dictionary
      dictPairs2 = dictPairs2.unionByName(
        newPairs.filter(col("__r2") >= 0)
          .select(lit(w2).as("__w"), col("__r1"), col("__r2"),
            col("__cls")))
      width *= 2
    }
    val lengths = staged.select(col("__id"), col("__n"))
    val keys = widenSeq(ranks, minLen - width, stride)
      .select(expr(s"__pos div ${stride}L").as("__id"),
        pmod(col("__pos"), lit(stride)).as("__off"),
        col("__r1"), col("__r2"))
      .join(lengths, Seq("__id"))
      .filter(col("__off") <= col("__n") - minLen)
      .select("__id", "__off", "__r1", "__r2")
      .localCheckpoint()
    // dictPairs2 is the persisted dictionary ∪ per-round CHECKPOINTED
    // additions — deliberately NOT re-checkpointed as a whole: that
    // would rewrite the accumulated (corpus-sized) dictionary on
    // every append; the union of materialized pieces scans flat
    (dictChars2, dictPairs2, keys)
  }

  /** Build the incremental index over a base corpus. `maxDocLen` sets
    * the position grid for the index's LIFETIME (0 = size to this
    * corpus; give headroom if future batches may carry longer docs).
    */
  def buildSubstrIndex(docs: DataFrame, textCol: String, idCol: String,
                       minLen: Int, maxDocLen: Int = 0): SubstrIndex = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val targetW = targetWidth(minLen)
    val staged = stageDocs(docs, textCol, idCol)
    // ONE bounded pass serves both the grid sizing and the id-domain
    // validation (maxDocLen = 0 sizes the grid to this corpus)
    val bounds = corpusBounds(staged)
    require(!bounds.isNullAt(0), "empty corpus: nothing to index")
    val cap = if (maxDocLen > 0) maxDocLen
      else bounds.getInt(0)
    val stride = cap.toLong + targetW + 1
    validateBounds(bounds, stride, targetW)
    val chars = gramsOf(staged, stride, 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val emptyChars = Seq.empty[(String, Long)].toDF("__c", "__cls")
    val emptyPairs = Seq.empty[(Int, Long, Long, Long)]
      .toDF("__w", "__r1", "__r2", "__cls")
    val (dc, dp, keys) = refineAgainst(chars, staged, emptyChars,
      emptyPairs, minLen, targetW, stride)
    SubstrIndex(dc, dp, keys, minLen, targetW, stride,
      bounds.getLong(2))
  }

  /** Append a batch: refine ONLY the batch's characters against the
    * persisted dictionaries. Batch doc ids must be strictly greater
    * than every id already indexed (the min-position class-id
    * invariant) and batch docs must fit the build-time grid. The
    * result is EXACTLY the index a from-scratch build over the union
    * would produce (gate d28 + spec pin structural equality).
    *
    * Batches up to `batchBroadcastChars` characters look up the
    * dictionaries with the batch side BROADCAST, so the corpus-sized
    * dictionary streams with zero exchange (the d19 asymmetric
    * shape); larger batches fall back to the shuffle join. Results
    * are identical either way (spec-pinned) — the switch only moves
    * where rows meet. On a real cluster the broadcast orientation is
    * the scale design: the shuffle path exchanges the accumulated
    * dictionary (∝ corpus) over the network every round, the
    * broadcast path ships only the batch. In local mode an exchange
    * is a memcpy, so the two time within ~25% of each other there
    * (PLANS.md, "Incremental substring index: gated (d28)") — the
    * threshold guards driver/broadcast memory, not local wall.
    */
  def appendToSubstrIndex(index: SubstrIndex, batch: DataFrame,
                          textCol: String, idCol: String,
                          batchBroadcastChars: Long = 1L << 20)
      : SubstrIndex = {
    val staged = stageDocs(batch, textCol, idCol)
    if (staged.limit(1).isEmpty) return index // nothing to append
    val bounds = corpusBounds(staged)
    validateBounds(bounds, index.stride, index.targetW)
    val chars = gramsOf(staged, index.stride, 1)
    require(bounds.getLong(1) > index.maxId,
      s"batch ids must exceed every indexed id (class ids are " +
        s"min-positions): batch min ${bounds.getLong(1)} vs indexed " +
        s"max ${index.maxId}")
    val (dc, dp, batchKeys) = refineAgainst(chars, staged,
      index.dictChars, index.dictPairs, index.minLen, index.targetW,
      index.stride,
      bcastBatch = bounds.getLong(4) <= batchBroadcastChars)
    // the keys union is NOT re-checkpointed: both sides are already
    // materialized, and rewriting the accumulated corpus-sized keys
    // per append would make append cost ∝ corpus by itself
    index.copy(dictChars = dc, dictPairs = dp,
      keys = index.keys.unionByName(batchKeys),
      maxId = bounds.getLong(2))
  }

  /** Maximal repeated spans over the ACCUMULATED corpus — the
    * [[repeatedSpans]] contract read off the persisted keys: one
    * count over composite keys + the island merge, no refinement
    * rounds at all (that is the index's point: log₂(L) rounds of
    * corpus-sized shuffles collapse to one keyed aggregate).
    */
  def substrIndexSpans(index: SubstrIndex, idCol: String,
                       minOccurrences: Int = 2): DataFrame = {
    require(minOccurrences >= 2,
      s"minOccurrences below 2 would mark every position, " +
        s"got $minOccurrences")
    islandSpans(markRepeated(index.keys, minOccurrences), idCol,
      index.minLen)
  }

  /** Delete documents from the index — one filter over the keys
    * relation, nothing else. Spans ([[substrIndexSpans]]) and
    * contamination screens ([[substrIndexContamination]]) derive ONLY
    * from the keys, so dropping a document's key rows removes every
    * trace of it from every read path. The dictionaries deliberately
    * keep entries minted by deleted documents: class ids are opaque
    * LABELS (equal label ⟺ identical window), and a label whose
    * minting position was deleted still labels correctly — a future
    * batch matching it gets a class that simply counts no deleted
    * occurrences, because counting happens over the filtered keys.
    * `maxId` is NOT lowered: deleted ids stay burned (re-adding a
    * doc under a deleted id would violate the min-position-immutable
    * invariant the dictionaries were built under).
    *
    * Read-path equivalence with a from-scratch build over the
    * remaining corpus is exact (gate d30) even though the STATE is
    * deliberately not identical (stale dictionary labels, different
    * class-id numbering): equality classes as PARTITIONS of the
    * remaining positions are the same either way.
    */
  def deleteFromSubstrIndex(index: SubstrIndex,
                            ids: DataFrame): SubstrIndex = {
    val del = ids.select(col(ids.columns.head).cast("long").as("__did"))
      .distinct()
    index.copy(keys = index.keys.join(
      del.withColumnRenamed("__did", "__id"), Seq("__id"), "left_anti"))
  }

  /** No merge verb for this family, by design rather than omission:
    * class ids are MIN-POSITIONS over the indexed corpus, so two
    * shard indexes label the same window with different ids (each
    * shard's own min position) and the persisted dictionaries cannot
    * be reconciled without re-refining one side's text — which is
    * exactly [[appendToSubstrIndex]] (shards with ordered id ranges
    * append in sequence) or a rebuild. The id-ordering invariant that
    * makes appends exactly rebuild-equivalent is the same one that
    * rules out state-only merging.
    */

  /** Compact the index after append/delete cycles: a from-scratch
    * refinement over the SURVIVING corpus text (the one verb that
    * needs the text back — keys alone cannot reconstruct the
    * dictionaries), on the SAME lifetime grid (stride/targetW frozen),
    * so readers and future appends see an unchanged position space.
    * What compaction buys back, in order of weight at production
    * volume: dead dictionary rows (labels minted by since-deleted
    * documents — kept by [[deleteFromSubstrIndex]] because counting
    * happens over keys, but they grow without bound under churn),
    * the accumulated union-of-pieces lineage (state returns as single
    * checkpointed relations), and the BURNED ids — maxId re-derives
    * from the surviving corpus, so id ranges deleted then compacted
    * away become appendable again. Gate d37 pins state equality with
    * the from-scratch build over the same corpus.
    */
  def compactSubstrIndex(index: SubstrIndex, docs: DataFrame,
                         textCol: String, idCol: String): SubstrIndex =
    buildSubstrIndex(docs, textCol, idCol, index.minLen,
      maxDocLen = (index.stride - index.targetW - 1).toInt)

  /** EXACT substring decontamination against the INDEXED corpus — the
    * [[contaminationSpans]] contract with the eval side replaced by a
    * persisted [[SubstrIndex]]: maximal spans of `train` text whose
    * every `minLen`-char window occurs somewhere in the corpus the
    * index accumulated. This is the streaming-decontamination shape a
    * pipeline actually runs: build the index over the benchmark suite
    * ONCE, then screen every crawl batch against it — the eval corpus
    * is never re-refined (d27 re-refines the union per call).
    *
    * Read-only: the train batch refines against the persisted
    * dictionaries like an append, except misses PRUNE out of the
    * refinement immediately instead of minting classes (nothing
    * grows, the index is untouched — see the miss-pruning argument
    * in the body). A train window is contaminated iff its final
    * composite key exists among the index's keys — a hit requires
    * every refinement level to have been a dictionary hit, i.e.
    * character-identical presence in the indexed corpus. Train ids are offset above `maxId` internally
    * (and restored in the output), so a freshly minted class id can
    * never collide numerically with an indexed one — train ids may
    * overlap indexed ids freely, unlike [[appendToSubstrIndex]].
    */
  def substrIndexContamination(index: SubstrIndex, train: DataFrame,
                               textCol: String, idCol: String,
                               batchBroadcastChars: Long = 1L << 20)
      : DataFrame = {
    val staged0 = stageDocs(train, textCol, idCol)
    val offset = index.maxId + 1
    val staged = staged0.withColumn("__id", col("__id") + offset)
    if (staged.limit(1).isEmpty)
      return staged.select(col("__id").as(idCol),
        lit(0).as("span_start"), lit(0).as("span_end"),
        lit(0).as("span_len")).limit(0)
    val bounds = corpusBounds(staged)
    validateBounds(bounds, index.stride, index.targetW)
    require(bounds.getLong(1) >= offset,
      "train ids must be non-negative") // offset preserved ⇒ id >= 0
    // MISS-PRUNED read-only refinement (round 16): a contamination hit
    // requires EVERY refinement level to have been a dictionary hit,
    // and a miss can never recover — a missed position's class is a
    // freshly minted id (a train position on the offset grid), which
    // is numerically disjoint from every indexed class id (indexed
    // positions — the id offset guarantees it), so any later pair
    // containing it can neither hit the pair dictionary nor match an
    // indexed key. Dropping misses at every level is therefore
    // result-invisible (the one-shot-equality gate d29 and the spec
    // pin it) and turns the screen into singleton-pruning's
    // cross-corpus twin: on real data the train relation COLLAPSES at
    // the width where its text stops matching the indexed corpus,
    // instead of refining every train character through all
    // log₂(targetW) rounds to discard it at the very end. Pruned
    // lookups surface through widenSparse's −pos−1 sentinel, which no
    // dictionary row matches (sentinel pairs are never persisted).
    // The grown-state plumbing is gone with the misses: this path
    // never mints classes at all.
    val chars = gramsOf(staged, index.stride, 1)
    // the batch side broadcasts below the caller's byte threshold so
    // the corpus-sized dictionaries stream with zero exchange (the
    // append path's orientation switch); above it the planner picks —
    // the pruned train side usually collapses under the broadcast
    // threshold after the first rounds anyway
    val bcast = bounds.getLong(4) <= batchBroadcastChars
    def trainSide(df: DataFrame): DataFrame =
      if (bcast) broadcast(df) else df
    var ranks = trainSide(chars)
      .join(index.dictChars, Seq("__c"))
      .select(col("__pos"), col("__cls"))
      .localCheckpoint()
    var width = 1
    while (width < index.targetW) {
      val w2 = width * 2
      val dw = index.dictPairs.filter(col("__w") === w2)
        .select(col("__r1"), col("__r2"), col("__cls"))
      ranks = trainSide(widenSparse(ranks, width, index.stride))
        .join(dw, Seq("__r1", "__r2"))
        .select(col("__pos"), col("__cls"))
        .localCheckpoint()
      width *= 2
    }
    val lengths = staged.select(col("__id"), col("__n"))
    val trainKeys = widenSparse(ranks, index.minLen - width,
        index.stride)
      .select(expr(s"__pos div ${index.stride}L").as("__id"),
        pmod(col("__pos"), lit(index.stride)).as("__off"),
        col("__r1"), col("__r2"))
      .join(lengths, Seq("__id"))
      .filter(col("__off") <= col("__n") - index.minLen)
    val marked = trainKeys
      .join(index.keys.select("__r1", "__r2"), Seq("__r1", "__r2"),
        "left_semi")
      .select((col("__id") - offset).as("__id"), col("__off"))
    islandSpans(marked, idCol, index.minLen)
  }

  /** Persist the index as four parquet tables under `dir` (the
    * t29/n32 layout discipline): meta (format_version + parameters,
    * read back BY NAME), dict_chars, dict_pairs, keys.
    *
    * Production-volume note: an append's dictionary lookups hash-join
    * the batch's pair relation against `dict_pairs` on (__r1, __r2),
    * and `substrIndexSpans` aggregates `keys` on the same pair — at
    * 100 TB both persisted relations should be written BUCKETED on
    * (__r1, __r2) (`bucketBy` into a catalog table, one bucket file
    * set per sort key) so those joins/aggregates co-locate and only
    * the small batch side shuffles. Plain parquet here because the
    * bucketed write path needs a table catalog (a metastore name, not
    * a directory), which a library save to an arbitrary `dir` cannot
    * assume; the layout and join keys are already bucketing-shaped.
    */
  def saveSubstrIndex(index: SubstrIndex, dir: String): Unit = {
    val spark = index.keys.sparkSession
    import spark.implicits._
    Seq((1, index.minLen, index.targetW, index.stride, index.maxId))
      .toDF("format_version", "min_len", "target_w", "stride", "max_id")
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.dictChars.write.mode("overwrite").parquet(s"$dir/dict_chars")
    index.dictPairs.write.mode("overwrite").parquet(s"$dir/dict_pairs")
    index.keys.write.mode("overwrite").parquet(s"$dir/keys")
  }

  def loadSubstrIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String): SubstrIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    // <= 2: a v2 (bucketed, width-partitioned) save reads fine through
    // the plain path — partition discovery restores __w as a column.
    // dict_pairs and keys may legally be EMPTY (minLen = 2 gives
    // targetW = 1, so NO doubling rounds; sub-minLen docs leave no
    // keys) — readOrEmpty keeps both loaders agreeing on which
    // artifacts are loadable.
    require(meta.getAs[Int]("format_version") <= 2,
      s"unsupported substr index format_version " +
        meta.getAs[Int]("format_version"))
    SubstrIndex(spark.read.parquet(s"$dir/dict_chars"),
      IndexIo.readOrEmpty(spark, s"$dir/dict_pairs",
        "__w INT, __r1 BIGINT, __r2 BIGINT, __cls BIGINT"),
      IndexIo.readOrEmpty(spark, s"$dir/keys",
        "__id BIGINT, __off BIGINT, __r1 BIGINT, __r2 BIGINT"),
      meta.getAs[Int]("min_len"), meta.getAs[Int]("target_w"),
      meta.getAs[Long]("stride"), meta.getAs[Long]("max_id"))
  }

  /** Persist with the two corpus-sized relations BUCKETED on their
    * join keys — the production-volume layout [[saveSubstrIndex]]'s
    * note promises: `keys` and `dict_pairs` write through
    * `bucketBy(buckets, __r1, __r2).sortBy(...)` into catalog tables
    * (data under `dir`, names `<tablePrefix>_keys` /
    * `<tablePrefix>_dict_pairs`), so a [[substrIndexSpans]] readout
    * aggregates and joins WITHOUT ANY EXCHANGE of the key relation
    * (spec-pinned plan), and an append's dictionary lookups co-locate
    * the same way. Needs a table catalog — with the default in-memory
    * catalog the bucketing metadata lives only for the session; a
    * shared metastore makes it durable (the data files themselves are
    * plain parquet either way).
    */
  def saveSubstrIndexBucketed(index: SubstrIndex, dir: String,
                              tablePrefix: String,
                              buckets: Int = 64,
                              partitionDictByWidth: Boolean = false)
      : Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = index.keys.sparkSession
    import spark.implicits._
    // format_version 2 = dict_pairs ALSO PARTITIONED BY (__w), so an
    // append's doubling rounds each read exactly one width's slice as
    // a GUARANTEED PartitionFilter (spec-pinned) instead of relying on
    // parquet row-group stats. OPT-IN (round-13 revisit of the
    // round-12 measurement): on today's width-sorted writes the stats
    // already prune (bytes ratio 0.99) while the explicit partitions
    // cost ~1.4× save wall in file-count/partition-resolution
    // overhead — so the default buys the cheap save and keeps the
    // stats-pruned reads, and a deployment that rewrites dictionaries
    // with MIXED widths per file (where stats pruning degrades) opts
    // into the guarantee. Version-1 artifacts are the unpartitioned
    // layout; the loader registers each version with its own layout —
    // registering a v1 save as partitioned would discover ZERO
    // partitions and read a silently empty dictionary.
    val fmt = if (partitionDictByWidth) 2 else 1
    Seq((fmt, index.minLen, index.targetW, index.stride, index.maxId,
        buckets))
      .toDF("format_version", "min_len", "target_w", "stride", "max_id",
        "buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.dictChars.write.mode("overwrite").parquet(s"$dir/dict_chars")
    // width is NOT a bucket column (bucketing keys stay the lookup
    // pair), and the spans-path keys table is untouched either way
    val dictWriter = index.dictPairs.write.mode("overwrite")
    (if (partitionDictByWidth) dictWriter.partitionBy("__w")
     else dictWriter)
      .bucketBy(buckets, "__r1", "__r2").sortBy("__r1", "__r2")
      .option("path", s"$dir/dict_pairs")
      .saveAsTable(IndexIo.bucketedTableName(tablePrefix, "dict_pairs",
        dir))
    index.keys.write.mode("overwrite")
      .bucketBy(buckets, "__r1", "__r2").sortBy("__r1", "__r2")
      .option("path", s"$dir/keys")
      .saveAsTable(IndexIo.bucketedTableName(tablePrefix, "keys", dir))
  }

  /** The catalog names are session-scoped under the default in-memory
    * catalog but the bucketed FILES are durable: a fresh session
    * re-registers the external tables from `dir` with the saved
    * bucket spec, so the cross-run readout works without a metastore.
    */
  def loadSubstrIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                              dir: String, tablePrefix: String)
      : SubstrIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val version = meta.getAs[Int]("format_version")
    require(version <= 2,
      s"unsupported substr index format_version $version")
    val buckets = meta.getAs[Int]("buckets")
    // v1 saves wrote dict_pairs UNpartitioned; registering them with
    // the v2 width-partition spec would discover zero partitions and
    // read an empty dictionary with no error
    val dictPartCols = if (version >= 2) Seq("__w") else Nil
    val dictFallback =
      if (version >= 2) "__r1 BIGINT, __r2 BIGINT, __cls BIGINT, __w INT"
      else "__w INT, __r1 BIGINT, __r2 BIGINT, __cls BIGINT"
    SubstrIndex(spark.read.parquet(s"$dir/dict_chars"),
      IndexIo.resolveBucketedTable(spark,
        IndexIo.bucketedTableName(tablePrefix, "dict_pairs", dir),
        s"$dir/dict_pairs", Seq("__r1", "__r2"), buckets,
        partitionCols = dictPartCols,
        fallbackSchema = Some(dictFallback)),
      IndexIo.resolveBucketedTable(spark,
        IndexIo.bucketedTableName(tablePrefix, "keys", dir),
        s"$dir/keys", Seq("__r1", "__r2"), buckets,
        fallbackSchema =
          Some("__id BIGINT, __off BIGINT, __r1 BIGINT, __r2 BIGINT")),
      meta.getAs[Int]("min_len"), meta.getAs[Int]("target_w"),
      meta.getAs[Long]("stride"), meta.getAs[Long]("max_id"))
  }
}
