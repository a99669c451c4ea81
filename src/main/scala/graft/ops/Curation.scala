package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: corpus
  * profiling, reproducible sampling, and token-budget shard packing.
  *
  * Everything here is deterministic across engines and cluster layouts —
  * sampling keys on md5 of a stable id (never `rand()`), shard packing
  * is a distributed prefix sum (never a global single-partition window) —
  * so the same inputs give the same sample / shards on local[32] and on
  * a 1000-executor cluster, and a DuckDB oracle can replay them exactly.
  */
object Curation {

  /** Per-column corpus profile: one row per profiled column with row /
    * null / exact-distinct counts, lexicographic min/max (as string), and
    * a self-check that `approx_count_distinct` (the 100 TB scale path —
    * HLL++ partial-aggregates with no Expand) lands within `rsdGate` of
    * the exact count.
    *
    * One aggregation job: Catalyst plans the multi-column
    * `count_distinct` via Expand (input ×C before partial agg), which is
    * the exact-answer cost at any scale; pipelines that only need the
    * approximate profile should flip `exact = false` and skip the Expand
    * entirely.
    */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     exact: Boolean = true,
                     rsdGate: Double = 0.10): DataFrame = {
    val aggs = cols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"__nn_$c"),
        approx_count_distinct(col(c)).as(s"__ad_$c"),
        min(col(c).cast("string")).as(s"__mn_$c"),
        max(col(c).cast("string")).as(s"__mx_$c"))
      if (exact) base :+ count_distinct(col(c)).as(s"__nd_$c") else base
    }
    val totals = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val stacked = cols.map { c =>
      val nd = if (exact) col(s"__nd_$c") else col(s"__ad_$c")
      struct(lit(c).as("column"), col("__rows").as("n_rows"),
        (col("__rows") - col(s"__nn_$c")).as("n_nulls"),
        nd.as("n_distinct"),
        (abs(col(s"__ad_$c") - nd).cast("double") <=
          nd.cast("double") * rsdGate).as("approx_distinct_ok"),
        col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
    }
    totals.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** Grouped quantiles of a numeric column, one output column per
    * requested quantile (`p25`, `p50`, ... — scalar columns, never an
    * array, so downstream sorts/hashes stay trivial).
    *
    * `exact = true` uses `percentile` (linear interpolation, matches
    * DuckDB `quantile_cont` bit-for-bit) — it buffers each group's
    * values, the exact-answer cost. At 100 TB flip to `exact = false`
    * for t-digest `approx_percentile` with `accuracy`, a constant-memory
    * sketch that partial-aggregates map-side like any other agg.
    */
  def quantiles(df: DataFrame, group: Seq[String], valueCol: String,
                qs: Seq[Double], exact: Boolean = true,
                accuracy: Int = 10000): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must lie in [0,1], got $qs")
    val aggs = count(lit(1)).as("n") +: qs.map { q =>
      val name = s"p${(q * 100).round}"
      if (exact) expr(s"percentile($valueCol, $q)").as(name)
      else expr(s"approx_percentile($valueCol, $q, $accuracy)").as(name)
    }
    df.groupBy(group.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Reproducible pct-sample keyed on md5 of `key`: a row is kept iff the
    * first 4 hex digits of `md5(cast(key as string))`, read as an
    * integer in [0, 65536), fall below `pct * 65536`.
    *
    * Pure filter — no shuffle, pushes through scans, independent of
    * partitioning and row order (unlike `df.sample`, whose output
    * depends on split layout), and replayable in any engine with md5.
    */
  def sampleByHash(df: DataFrame, key: Column, pct: Double): DataFrame = {
    require(pct > 0 && pct <= 1, s"pct must be in (0,1], got $pct")
    val bucket = conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int")
    df.filter(bucket < lit((pct * 65536).toInt))
  }

  /** Per-stratum FRACTION sampling (the deterministic `df.stat.sampleBy`
    * analog): each stratum gets its own md5-bucket threshold, unlisted
    * strata get `default`. Like [[sampleByHash]] this is a pure filter —
    * no shuffle, layout-independent, engine-replayable — unlike
    * `sampleBy`, whose Bernoulli draws change with partitioning.
    * Typical use: downsample over-represented languages/sources to a
    * target mix.
    */
  def sampleByHashStrata(df: DataFrame, stratum: Column, key: Column,
                         fractions: Map[String, Double],
                         default: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(default)).forall(f => f >= 0 && f <= 1),
      "fractions must lie in [0,1]")
    val bucket = conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int")
    val threshold = fractions.foldLeft(lit((default * 65536).toInt)) {
      case (acc, (s, f)) => when(stratum === s, lit((f * 65536).toInt))
        .otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Mixture sampling toward target domain weights under a global token
    * budget (the DoReMi / Pile-style "data mixture" step): each source
    * `s` should contribute ~`weights(s) * tokenBudget` tokens, so its
    * sampling rate is `min(1, weight*budget / available_tokens(s))` —
    * sources with fewer tokens than their target keep everything
    * (rate 1), over-represented sources are downsampled by the same
    * deterministic md5-bucket rule as [[sampleByHash]].
    *
    * Scale shape: the per-source token totals are a map-side-combined
    * groupBy producing one row per source (tiny), the computed rates
    * join back broadcast, and the filter itself is a pure per-row
    * predicate — no data-sized shuffle anywhere. Deterministic and
    * layout-independent, so the realized mixture is reproducible and
    * auditable in any engine with md5.
    *
    * Sources absent from `weights` get weight 0 (dropped). Rates are
    * quantized to 1/65536 buckets exactly as [[sampleByHash]], so the
    * realized token share tracks the target within bucket granularity
    * plus document-size variance.
    */
  def sampleMixture(df: DataFrame, source: Column, key: Column,
                    tokens: Column, weights: Map[String, Double],
                    tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    val avail = df.groupBy(source.as("__src"))
      .agg(sum(tokens).as("__avail"))
    val target = weights.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col("__src") === s, lit(w * tokenBudget)).otherwise(acc)
    }
    val rates = avail.select(col("__src"),
      floor(least(lit(1.0), target / col("__avail")) * 65536)
        .cast("int").as("__thr"))
    val bucket = conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int")
    df.join(broadcast(rates), source === col("__src"), "inner")
      .filter(bucket < col("__thr"))
      .drop("__src", "__thr")
  }

  /** TEMPERATURE-scaled mixture sampling (the multilingual-corpus
    * rebalancing rule, XLM-R §3.1 / mC4): target share of source s is
    * q_s ∝ (n_s/N)^α — α=1 keeps the natural distribution, α→0
    * flattens toward uniform, 0.3-0.7 up-samples rare sources without
    * letting any single one dominate. Per-source keep rate =
    * min(1, q_s·targetRows/n_s), drawn with the md5-bucket filter
    * (layout-independent, replayable — never `df.sample`).
    *
    * Scale shape: the count aggregate is map-side combined and
    * source-cardinality sized; totals and the normalizer are one-row
    * broadcast crosses (the documented broadcast-scalar idiom); the
    * corpus itself is touched by ONE pushed-down filter — no shuffle.
    * The α=0.5 gate is bit-exact cross-engine because pow(x, 0.5) is
    * specified as sqrt in both JVM fdlibm and libm.
    */
  def temperatureSample(df: DataFrame, source: Column, key: Column,
                        alpha: Double, targetRows: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    // totals/normalizer over the source-cardinality counts frame via a
    // whole-frame window (ordered so the tiny double sums fold in a
    // deterministic order); a crossJoin back onto an aggregate of the
    // same frame would be a self-join on shared lineage (ambiguous
    // references)
    // singlePartitionKey: the frame is single-partition EITHER WAY
    // (that's the point — it's the source-cardinality table, a few
    // hundred rows), but an empty partitionSpec makes WindowExec log a
    // performance warning on every execution, and a bare lit(0) gets
    // constant-folded OUT of the spec (re-emptying it); the
    // non-foldable constant key states the intent and keeps logs clean
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.engine.Windows.singlePartitionKey(col("__src")))
      .orderBy("__src")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // NB "__tot" not "__N": Spark resolves column names
    // case-insensitively by default, so withColumn("__N", ...) would
    // silently REPLACE "__n" and every downstream ratio becomes 1
    val rates = df.groupBy(source.as("__src")).agg(count(lit(1)).as("__n"))
      .withColumn("__tot", sum("__n").over(whole))
      .withColumn("__p", pow(col("__n").cast("double") / col("__tot"), lit(alpha)))
      .withColumn("__norm", sum("__p").over(whole))
      .select(col("__src"),
        floor(least(lit(1.0),
          col("__p") / col("__norm") * targetRows / col("__n")) * 65536)
          .cast("int").as("__thr"))
    val bucket = conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int")
    df.join(broadcast(rates), source === col("__src"), "inner")
      .filter(bucket < col("__thr"))
      .drop("__src", "__thr")
  }

  /** Exact-k per-stratum sample: within each stratum take the k rows
    * with the smallest md5(key) — deterministic, engine-replayable, and
    * one shuffle (the window partition). At scale the stratum count is
    * the parallelism; a skewed mega-stratum still only sorts its own
    * partition, and AQE skew-split covers the rest.
    */
  def sampleStratified(df: DataFrame, strata: Seq[String], key: Column,
                       k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(md5(key.cast("string")), key)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Leakage-safe train/eval split: assign every document to a split so
    * that NO near-duplicate group spans two splits. Random row-level
    * splits leak training data into eval whenever a document's near-dup
    * survives in the other split — the classic contaminated-benchmark
    * failure; splitting by GROUP (the connected component of the
    * near-dup graph, singletons being their own group) removes the
    * leak by construction.
    *
    * `pairs` is any near-dup pair relation (MinHash/LSH, SimHash,
    * embedding-cosine, …); its connected components become the split
    * unit via [[Dedup.connectedComponents]] (pointer jumping, O(log n)
    * rounds). The split draw is the [[sampleByHash]] rule on the GROUP
    * id — first 4 hex digits of md5 against cumulative 16-bit
    * thresholds — so the assignment is deterministic, layout-
    * independent, engine-replayable, and every member of a group lands
    * in the same split without any per-group shuffle beyond the
    * component join itself. `splits` maps split name → weight
    * (normalized internally; names keep their given order for the
    * threshold ladder).
    *
    * Scale shape: components are confined to documents that HAVE a
    * near-dup pair (at web scale a few percent); everything else
    * flows through the left join untouched with group = own doc id.
    */
  def groupAwareSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 > 0), s"split weights must be positive: $splits")
    val total = splits.map(_._2).sum
    // cumulative upper thresholds over the 16-bit md5 bucket space;
    // force the last to 65536 so rounding never drops the top bucket
    val cum = splits.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val uppers = cum.init.map(c => math.round(c * 65536).toInt) :+ 65536
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "__cid")
    val grouped = docs.join(comp, docs(idCol) === comp("__cid"), "left")
      .withColumn("split_group", coalesce(col("component"), docs(idCol)))
      .drop("__cid", "component")
    val bucket = conv(substring(md5(col("split_group").cast("string")), 1, 4),
      16, 10).cast("int")
    val assign = splits.map(_._1).zip(uppers).reverse
      .foldLeft(lit(null).cast("string")) { case (acc, (name, upper)) =>
        when(bucket < upper, lit(name)).otherwise(acc)
      }
    grouped.withColumn("split", assign)
  }

  /** Deterministic EPOCH shuffle + microbatch packing: the training-
    * order assignment step of a data pipeline. For every epoch
    * `0..epochs-1`, each row draws a fresh position from
    * md5(key # epoch); the global rank over (draw, key) — fully
    * reshuffled every epoch, reproducible from (key, epoch) alone —
    * packs into consecutive microbatches: `step = rank div batchSize`,
    * `pos_in_batch = rank mod batchSize`. A resumed or re-run job
    * reproduces the exact batch sequence with no stored permutation
    * and no RNG state.
    *
    * Scale notes: the global rank is the [[assignShards]] DISTRIBUTED
    * prefix sum (range-partition on the uniform md5 draw → per-
    * partition counts → broadcast offsets → per-partition row_number),
    * never a single-partition window; the md5 draw makes the range
    * partitioning skew-free by construction. Epochs explode ×`epochs`,
    * the intended semantics (each epoch is an independent pass over
    * the data).
    */
  def epochShuffle(df: DataFrame, key: Column, epochs: Int,
                   batchSize: Long): DataFrame = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val staged = graft.engine.CacheOnce(df
      .withColumn("__epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("__key", key.cast("string"))
      .withColumn("__u", md5(concat(col("__key"), lit("#"),
        col("__epoch").cast("string"))))
      .repartitionByRange(col("__epoch"), col("__u"), col("__key"))
      .withColumn("__pid", spark_partition_id()))
    val offsets = staged.groupBy("__epoch", "__pid")
      .agg(count(lit(1)).as("__pcnt"))
      .withColumn("__before",
        sum("__pcnt").over(Window.partitionBy("__epoch").orderBy("__pid"))
          - col("__pcnt"))
      .drop("__pcnt")
    val wIn = Window.partitionBy("__epoch", "__pid")
      .orderBy("__u", "__key")
    staged.join(broadcast(offsets), Seq("__epoch", "__pid"))
      .withColumn("__r", col("__before") + row_number().over(wIn) - 1)
      .withColumn("step", expr(s"__r div ${batchSize}L"))
      .withColumn("pos_in_batch", col("__r") % batchSize)
      .withColumnRenamed("__epoch", "epoch")
      .drop("__key", "__u", "__pid", "__before", "__r")
  }

  /** Token-budget shard assignment: documents ordered by `orderCol`
    * within each `group` are packed greedily into shards of at most
    * `budget` tokens (a document that crosses the boundary opens the
    * next shard: shard = floor(exclusive-prefix-sum / budget)). Also
    * emits `offset` = the document's first-token position WITHIN its
    * shard (exclusive-prefix-sum mod budget) — with `budget` = the
    * model context length this is sequence PACKING: each (shard,
    * offset) is a training sequence id and the position where the
    * document's tokens begin, computed without materializing a single
    * packed sequence.
    *
    * Implemented as a DISTRIBUTED prefix sum, not a global window (a
    * window over a whole-group partition funnels the group's share of
    * 100 TB through one task):
    *   1. range-partition by (group, orderCol) so physical partitions
    *      are order-contiguous;
    *   2. per-(group, partition) token subtotals — one tiny row per
    *      physical partition — and an exclusive prefix sum over THAT
    *      relation (a window whose partitions hold at most
    *      #spark-partitions rows, never data rows);
    *   3. broadcast the starting offsets back and finish with a window
    *      PER SPARK PARTITION, whose state never exceeds one physical
    *      partition's rows.
    *
    * The result is bit-identical to the global-window definition (the
    * DuckDB oracle computes exactly that), while every stage stays
    * bounded by a single partition's data. `orderCol` must be unique
    * within a group: the range partitioner may split ties across
    * partitions, which would make the tie-break order (and so the
    * prefix sum) layout-dependent.
    */
  def assignShards(df: DataFrame, group: Column, orderCol: Column,
                   tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // pin partition ids: both prefix-sum branches must see one layout.
    // CacheOnce so repeated invocations share one pinned entry without
    // a CacheManager warning per call.
    val staged = graft.engine.CacheOnce(df
      .withColumn("__grp", group).withColumn("__ord", orderCol)
      .withColumn("__tok", tokens.cast("long"))
      .repartitionByRange(col("__grp"), col("__ord"))
      .withColumn("__pid", spark_partition_id()))
    val subtotals = staged.groupBy("__grp", "__pid")
      .agg(sum("__tok").as("__ptok"))
    val wOff = Window.partitionBy("__grp").orderBy("__pid")
    val offsets = subtotals
      .withColumn("__before", sum("__ptok").over(wOff) - col("__ptok"))
      .drop("__ptok")
    val w = Window.partitionBy("__grp", "__pid").orderBy("__ord")
    staged.join(broadcast(offsets), Seq("__grp", "__pid"))
      .withColumn("__cum",
        col("__before") + sum("__tok").over(w) - col("__tok"))
      .withColumn("shard", expr(s"__cum div ${budget}L")) // exact int division, no double rounding
      .withColumn("offset", col("__cum") % budget)
      .drop("__grp", "__ord", "__tok", "__pid", "__before", "__cum")
  }

  /** Split documents into token-window chunks of `chunkTokens` words
    * every `stride` words (overlapping when stride < chunkTokens) — the
    * standard pre-tokenization chunking for long-document training.
    *
    * Pure projection + one explode: the normalized word array is
    * computed ONCE per row into a column, chunk starts explode from a
    * `sequence`, and each chunk row slices that array — no per-element
    * lambda ever re-evaluates the split (the interpreted-HOF trap).
    * Short documents yield one (possibly short) chunk; the final chunk
    * keeps the tail even when shorter than `chunkTokens`.
    */
  def chunkTokens(df: DataFrame, textCol: String, idCol: String,
                  chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0,
      s"chunkTokens ($chunkTokens) and stride ($stride) must be positive")
    df.withColumn("__words", split(TextOps.normalize(col(textCol)), " "))
      .withColumn("__nw", size(col("__words")))
      .withColumn("__nc",
        when(col("__nw") <= chunkTokens, lit(1)).otherwise(
          expr(s"(__nw - $chunkTokens + $stride - 1) div $stride") + 1))
      .select(col(idCol), col("__words"), col("__nw"),
        explode(sequence(lit(0), col("__nc").cast("int") - 1)).as("chunk_idx"))
      .withColumn("chunk_text", array_join(
        slice(col("__words"), col("chunk_idx") * stride + 1, lit(chunkTokens)), " "))
      .withColumn("n_tokens",
        least(lit(chunkTokens), col("__nw") - col("chunk_idx") * stride).cast("int"))
      .drop("__words", "__nw")
  }

  /** Drop training rows whose normalized-text fingerprint appears in
    * the evaluation set — benchmark decontamination. One hash join on
    * uniform md5 keys; the eval side is distinct-reduced first (and is
    * usually small enough that Catalyst broadcasts it).
    */
  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every
    * document by the log likelihood ratio of a TARGET-domain hashed
    * n-gram model against the RAW-pool model. Selecting the top-w
    * documents (or Gumbel-top-k over these weights) reshapes a web
    * crawl toward the target domain — the standard
    * domain-upsampling op between quality filtering and dedup.
    *
    * Features are word unigram+bigram OCCURRENCES (not distinct)
    * hashed into `buckets` via the engine-portable md5 idiom
    * ([[sampleByHash]]'s): bucket = first 4 md5 hex chars mod
    * `buckets`. Both bag-of-buckets models get Laplace +1 smoothing;
    * per doc, `log_weight` = Σ_occurrences [ln p̂_target(b) −
    * ln q̂_raw(b)] (rounded to 4 dp in the gate, the t10 float
    * pattern).
    *
    * Scale shape: ONE pass over the gram stream fits both models (a
    * single bucket-keyed aggregate with conditional sums — map-side
    * combined, ≤ `buckets` rows out), the weight table is `buckets`
    * rows and BROADCASTS to the scoring join, and the score is one
    * doc-keyed aggregate. Two shuffles of the gram stream total, no
    * driver-side state; zero-gram docs pin with explicit zeros and a
    * null weight.
    */
  def dsirWeights(df: DataFrame, textCol: String, idCol: String,
                  targetFilter: Column, buckets: Int = 1024): DataFrame =
    dsirScoreWithState(
      dsirState(df, textCol, idCol, targetFilter, buckets),
      df, textCol, idCol, buckets)

  /** (id, feature-bucket) occurrence stream: hashed word
    * unigram+bigram features, the shared front end of the DSIR fit and
    * score passes.
    */
  private[ops] def dsirGrams(df: DataFrame, textCol: String, idCol: String,
                             buckets: Int, carry: Seq[String] = Nil): DataFrame = {
    val id = col(idCol)
    val carried = carry.map(col)
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), w => w =!= "")
    df.select((id +: carried) :+ toks(col(textCol)).as("__w"): _*)
      .select((id +: carried) :+ explode(concat(col("__w"),
          when(size(col("__w")) >= 2,
              zip_with(slice(col("__w"), lit(1), size(col("__w")) - 1),
                slice(col("__w"), lit(2), size(col("__w")) - 1),
                (a, b) => concat_ws(" ", a, b)))
            .otherwise(array().cast("array<string>")))).as("__g"): _*)
      .withColumn("__b",
        conv(substring(md5(col("__g")), 1, 4), 16, 10).cast("int")
          % buckets)
      .drop("__g")
  }

  /** The materialized MODEL STATE of DSIR: one row per hashed feature
    * bucket with its target and raw occurrence counts — the analog of
    * the span-dedup gram-stats table ([[graft.ops.Dedup.spanGramStats]])
    * for the scoring tier. Batch pipelines persist it (≤ `buckets`
    * rows — trivially storable) and roll it forward with
    * [[mergeDsirState]]; because counts add exactly, the merged state
    * IS the from-scratch refit over the union, so incremental scoring
    * equals full-model scoring with no drift.
    */
  def dsirState(df: DataFrame, textCol: String, idCol: String,
                targetFilter: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    dsirGrams(df.withColumn("__t", targetFilter), textCol, idCol, buckets,
        carry = Seq("__t"))
      .groupBy("__b").agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("cr"))
      .select(col("__b").as("bucket"), col("ct"), col("cr"))
  }

  /** Roll the DSIR model state forward over a new batch's state:
    * counts add bucket-wise (full-outer + coalesce). Exact — no decay,
    * no approximation — so chained merges equal one refit.
    */
  def mergeDsirState(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("bucket"), col("ct").as("__ac"), col("cr").as("__ar"))
      .join(b.select(col("bucket"), col("ct").as("__bc"),
        col("cr").as("__br")), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("__ac"), lit(0L)) + coalesce(col("__bc"), lit(0L)))
          .as("ct"),
        (coalesce(col("__ar"), lit(0L)) + coalesce(col("__br"), lit(0L)))
          .as("cr"))

  /** Score documents against an existing DSIR model state WITHOUT
    * refitting: the incremental path — sign only the new batch, probe
    * the persisted bucket table. Same output contract as
    * [[dsirWeights]].
    */
  def dsirScoreWithState(state: DataFrame, df: DataFrame, textCol: String,
                         idCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val id = col(idCol)
    val totals = state.agg(sum("ct").as("__tt"), sum("cr").as("__tr"))
    val weightTable = broadcast(state.crossJoin(broadcast(totals))
      .select(col("bucket").as("__b"),
        (log((col("ct") + 1).cast("double") /
            (col("__tt") + buckets).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("__tr") + buckets).cast("double"))).as("__lw")))
    val grams = dsirGrams(df, textCol, idCol, buckets)
    val scored = grams.join(weightTable, Seq("__b"))
      .groupBy(id).agg(count(lit(1)).as("n_grams"),
        sum(col("__lw")).as("log_weight"))
    df.select(id).distinct().join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("log_weight"))
  }

  /** Gumbel-top-k selection — the RESAMPLING half of DSIR (select k
    * documents ∝ exp(log_weight) without replacement): add an
    * independent Gumbel draw to each log weight and take the global
    * top k, the standard trick (Vieira 2014; Kim et al. 2016) that
    * turns weighted sampling-without-replacement into one
    * `TakeOrderedAndProject`. The Gumbel is seeded and engine-
    * replayable — u = (md5-bucket(id#seed)+0.5)/65536, g = −ln(−ln u)
    * — the same md5 idiom as [[sampleByHash]], so reruns and the
    * DuckDB oracle draw identical noise. Null weights (zero-gram
    * docs) are excluded before the draw.
    *
    * Scale shape: a pure projection plus one global top-k (Spark
    * plans `orderBy(...).limit(k)` as TakeOrderedAndProject: per-
    * partition k-heaps, never a full sort) — safe at any corpus size
    * for the k a training mixture actually takes.
    */
  def gumbelTopK(weights: DataFrame, idCol: String, weightCol: String,
                 k: Int, seed: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
        lit("#"), lit(seed.toString))), 1, 4), 16, 10).cast("double")
      + 0.5) / 65536.0
    weights.filter(col(weightCol).isNotNull)
      .withColumn("__key", col(weightCol) - log(-log(u)))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .select(col(idCol))
  }

  /** Corpus-overlap diagnostics: for each shingle size n, how many
    * DISTINCT word n-grams each corpus side holds and how many they
    * share (Jaccard over the distinct-gram sets). This is the
    * measurement companion to [[decontaminate]] — before cutting, a
    * curation pipeline quantifies train/eval (or old-crawl/new-crawl)
    * contamination per gram size, the standard contamination report
    * (e.g. GPT-3 appendix C's n-gram overlap tables).
    *
    * `sideA` labels each row's corpus; n-grams come from the codegen'd
    * [[graft.functions.WordNGrams]] (distinct per doc, one pass, with
    * its short-text whole-string fallback). The plan is one explode +
    * one gram-keyed aggregate per n: `bool_or` on each side flag per
    * distinct gram, then a single-row count — the gram table is
    * Zipf-bounded (distinct grams, not tokens) and never hits the
    * driver. Jaccard is a single division of exact longs, so the gate
    * compares bit-for-bit.
    */
  def corpusOverlap(df: DataFrame, textCol: String, sideA: Column,
                    ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    import graft.functions.WordNGrams.wordNGrams
    val frames = ns.map { n =>
      val grams = df.select(sideA.as("__a"),
        explode(wordNGrams(TextOps.normalize(col(textCol)), n)).as("__gram"))
      val perGram = grams.groupBy("__gram")
        .agg(max(when(col("__a"), 1).otherwise(0)).as("__in_a"),
          max(when(!col("__a"), 1).otherwise(0)).as("__in_b"))
      perGram.agg(
        lit(n).as("n"),
        sum(col("__in_a")).cast("long").as("grams_a"),
        sum(col("__in_b")).cast("long").as("grams_b"),
        sum(col("__in_a") * col("__in_b")).cast("long").as("grams_both"))
    }
    frames.reduce(_.union(_))
      .withColumn("jaccard", col("grams_both").cast("double") /
        (col("grams_a") + col("grams_b") - col("grams_both")).cast("double"))
  }

  def decontaminate(train: DataFrame, eval: DataFrame,
                    textCol: String): DataFrame = {
    val evalFps = eval
      .select(TextOps.fingerprint(col(textCol)).as("__fp")).distinct()
    train.join(evalFps,
      TextOps.fingerprint(train(textCol)) === evalFps("__fp"), "left_anti")
  }

  /** Bloom-prefiltered decontamination — same result as
    * [[decontaminate]], different scale shape. The eval fingerprints
    * aggregate into ONE binary Bloom sketch (functions/Bloom: fixed-size
    * word-array partials, bitwise-OR merge, never collected to the
    * driver) that broadcasts to the train side; only the tiny
    * bloom-positive candidate slice pays the exact confirm join. At
    * 100 TB train × small eval this replaces a full shuffle of train
    * fingerprints with a map-side scalar probe: the definitely-clean
    * 99.9% short-circuits in WholeStageCodegen, and the no-false-
    * negatives guarantee means the result is exactly `decontaminate`'s
    * output (the gate proves it).
    */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, textCol: String,
                         expectedEvalItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    import graft.functions.Bloom
    val sketch = eval
      .select(xxhash64(TextOps.fingerprint(col(textCol))).as("__h"))
      .agg(Bloom.bloomBuild(col("__h"), expectedEvalItems, fpp).as("__sketch"))
    val evalFps = eval
      .select(TextOps.fingerprint(col(textCol)).as("__fp")).distinct()
    // ONE scan of train: a single anti-join whose condition is
    // (bloom-hit AND exact fingerprint match). A row with no bloom hit
    // can't match any eval row (no false negatives), so it survives the
    // anti-join without the union-of-two-filters shape that scanned the
    // full train relation twice and evaluated the fingerprint per row in
    // each branch. Both the sketch (fixed-size) and the exact fp set are
    // broadcast — eval benchmarks are tiny next to a training corpus —
    // so no train row ever shuffles. If eval ever outgrew broadcast, the
    // right shape flips to bloom-filterING first over a cached train so
    // only the candidate slice pays a shuffle join; at that point revisit
    // this one-pass form.
    val probed = train.crossJoin(broadcast(sketch))
    val hit = Bloom.bloomMightContain(col("__sketch"),
      xxhash64(TextOps.fingerprint(col(textCol))))
    probed.join(broadcast(evalFps),
      hit && TextOps.fingerprint(probed(textCol)) === evalFps("__fp"),
      "left_anti")
      .drop("__sketch")
  }

  /** FUZZY contamination detection — MinHash near-duplicate matches of
    * training documents against an eval benchmark, the fuzzy sibling of
    * [[decontaminate]]'s exact-fingerprint cut (the standard
    * train/test-leak sweep: paraphrased or lightly-edited benchmark
    * items that survive exact hashing; e.g. the Llama / GPT-4 style
    * "near-dedup against evals" pass). Emits (train_id, eval_id,
    * est_jaccard) candidate matches at `threshold`.
    *
    * Scale shape — deliberately ASYMMETRIC, unlike the self-join in
    * [[Dedup.minhashLsh]]: both sides sign with the same shingle/hash
    * scheme ([[Dedup.minhashSignatures]] — one codegen projection, no
    * shuffle), but only the EVAL side's banded table (tiny: benchmarks
    * are thousands of rows against a corpus of billions) crosses the
    * wire, broadcast to every task. The train side's bands join
    * map-side, so NO train row ever shuffles and no train×train pair is
    * ever enumerated — per-batch cost is one scan of train plus
    * |candidates|. The candidate dedup keys on (train_id, eval_id),
    * bounded by true matches, not by corpus size.
    */
  def fuzzyContamination(train: DataFrame, eval: DataFrame, textCol: String,
                         idCol: String, k: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7, shingleN: Int = 3,
                         seed: Long = 42L): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    def banded(df: DataFrame, side: String) =
      Dedup.minhashSignatures(df, textCol, idCol, k, shingleN, seed)
        .select(col("doc_id").as(s"${side}_id"), col("sig").as(s"${side}_sig"),
          posexplode(graft.functions.BandHashes.bandHashes(col("sig"), bands))
            .as(Seq("band_idx", "band_hash")))
    val evalBands = broadcast(banded(eval, "eval"))
    banded(train, "train")
      .join(evalBands, Seq("band_idx", "band_hash"))
      .select(col("train_id"), col("eval_id"),
        col("train_sig").as("sig_a"), col("eval_sig").as("sig_b"))
      .dropDuplicates("train_id", "eval_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select("train_id", "eval_id", "est_jaccard")
  }

  /** Drop fuzzy-contaminated training documents: [[fuzzyContamination]]
    * matches anti-joined out of train. The flagged-id set is bounded by
    * contamination (tiny), so it broadcasts and the cut costs no train
    * shuffle either.
    */
  def fuzzyDecontaminate(train: DataFrame, eval: DataFrame, textCol: String,
                         idCol: String, k: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7, shingleN: Int = 3,
                         seed: Long = 42L): DataFrame = {
    val flagged = fuzzyContamination(train, eval, textCol, idCol, k, bands,
      threshold, shingleN, seed).select(col("train_id")).distinct()
    train.join(broadcast(flagged), train(idCol) === flagged("train_id"),
      "left_anti")
  }

  /** Per-group row cap — the per-domain document cap in web-corpus
    * curation: bound each group's (domain's, source's) contribution so
    * megasites can't dominate the training mix. Keeps the first `n`
    * rows per group under `order`; callers must make the ordering total
    * (end with a unique key) or the survivors are layout-dependent.
    *
    * One Exchange+Sort keyed by the group columns; group cardinality is
    * typically millions of domains, so the window parallelizes evenly.
    * For a tiny cap over huge groups, the bounded-heap `top_k`
    * aggregate ([[graft.functions.TopK]], n04) computes the same cut
    * without sorting whole groups; this form keeps the full row without
    * a re-join, which is the right trade until a single group's rows
    * overflow one executor's sort spill budget.
    */
  def capPerGroup(df: DataFrame, group: Seq[Column], order: Seq[Column],
                  n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val w = Window.partitionBy(group: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Per-group top-fraction selection — the FineWeb-style adaptive
    * quality cut: instead of one global score threshold (which lets a
    * high-scoring domain crowd out everything else), keep the best
    * `frac` of EACH group (domain / dump / source) by score. Rank-
    * based rather than value-based: the kept count is ceil(frac·n)
    * per group, so the cut is exact, deterministic (ties break by id),
    * and insensitive to score calibration drift across groups.
    *
    * Scale shape: one shuffle on the group key serves both the
    * per-group count and the rank (same window partitioning). The
    * per-group sort is the cost at 100 TB when one group dominates —
    * for such corpora compute an approximate per-group score quantile
    * (sketch aggregate, broadcast thresholds, map-side filter) and
    * accept a value-based cut instead; this exact form is for the
    * many-moderate-groups regime (domains, dumps), where each
    * partition sort is bounded.
    */
  def topFractionPerGroup(df: DataFrame, groupCol: String, score: Column,
                          idCol: String, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    val w = Window.partitionBy(groupCol)
    df.withColumn("__score", score)
      .withColumn("rank", row_number().over(
        w.orderBy(col("__score").desc, col(idCol))))
      .withColumn("n_group", count(lit(1)).over(w))
      .filter(col("rank") <= ceil(lit(frac) * col("n_group")))
      .drop("__score")
  }

  /** Per-group quality cut via a HISTOGRAM SKETCH — the giant-group
    * scale path [[topFractionPerGroup]]'s scaladoc points at: instead
    * of ranking rows inside each group (a per-group sort a single
    * dominant group can blow up), bin scores into a fixed integer
    * histogram, pick each group's threshold bin from the top-down
    * cumulative counts (smallest bin set whose population reaches
    * ceil(frac·n)), broadcast the |groups|-row threshold table, and
    * keep rows map-side. The ONLY shuffles move (group, bin) counts —
    * bounded by |groups|·bins regardless of corpus size; no row-level
    * sort or window anywhere. The cut is bin-granular (keeps at least
    * the target count, possibly a whole boundary bin more — that is
    * the sketch trade) but fully deterministic: binning is one IEEE
    * floor both engines compute identically and everything after is
    * exact integers (gate p21).
    */
  def groupThresholdSketch(df: DataFrame, groupCol: String, score: Column,
                           frac: Double, bins: Int = 64,
                           lo: Double = 0.0, hi: Double = 1.0): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    require(bins > 0 && hi > lo, s"bad sketch params bins=$bins [$lo,$hi]")
    val bin = least(greatest(
        floor((score - lit(lo)) / lit(hi - lo) * lit(bins.toDouble)), lit(0.0)),
      lit(bins - 1.0)).cast("int")
    val binned = df.withColumn("__bin", bin)
    val hist = binned.groupBy(col(groupCol), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(groupCol).orderBy(col("__bin").desc)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(groupCol)))
    val thresholds = cum
      .filter(col("__cum") >= ceil(lit(frac) * col("__n")))
      .groupBy(col(groupCol)).agg(max(col("__bin")).as("__bstar"))
    binned.join(broadcast(thresholds), Seq(groupCol))
      .filter(col("__bin") >= col("__bstar"))
      .withColumnRenamed("__bin", "bin").drop("__bstar")
  }

  /** Exact heavy hitters via sketch-then-recount — every distinct value
    * of `itemCol` whose row count is ≥ `minCount`, with its EXACT count.
    *
    * Two passes over the big table, neither with a wide shuffle:
    *  1. one [[graft.functions.FrequentItems.mgSketch]] aggregate (plus
    *     a total row count in the same job) produces a bounded candidate
    *     summary — by the Misra–Gries guarantee the summary contains
    *     every item with true count > N/(capacity+1), so when
    *     minCount clears that bound the candidate set is provably
    *     complete (asserted at runtime, never silently approximate);
    *  2. an exact recount confined to the candidates: the ≤ capacity
    *     candidate items broadcast-join against the table (map-side
    *     semi filter — no shuffle of the non-candidate mass), and only
    *     the surviving rows aggregate.
    * Versus `groupBy(item).count().filter(...)`: that shuffles every
    * distinct item; this shuffles ≤ capacity×tasks summary entries plus
    * the candidates' own rows. Output is exact and deterministic — the
    * merge-order-dependent sketch residuals never reach it (any true
    * sub-threshold candidate the sketch happened to keep is recounted
    * exactly and then filtered out).
    *
    * Output: (item, n_occurrences), the exact count ≥ minCount rows.
    */
  def heavyHitters(df: DataFrame, itemCol: String, minCount: Long,
                   capacity: Int = 4096): DataFrame = {
    require(minCount > 0, s"minCount must be positive, got $minCount")
    import graft.functions.FrequentItems.mgSketch
    val spark = df.sparkSession
    val summary = df.agg(
      mgSketch(col(itemCol), capacity).as("sketch"),
      count(col(itemCol)).as("n")).head()
    val n = summary.getLong(1)
    require(minCount > n / (capacity + 1L),
      s"minCount=$minCount is inside the sketch error band " +
        s"N/(capacity+1)=${n / (capacity + 1L)}; raise capacity " +
        s"so the candidate set is provably complete")
    val cand = summary.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val candDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cand.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cand",
          org.apache.spark.sql.types.StringType, nullable = false))))
    df.join(broadcast(candDf), col(itemCol) === col("__cand"), "left_semi")
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
  }

  /** Boilerplate-line removal — strip every line that appears verbatim
    * in ≥ `minDocs` DISTINCT documents (headers, footers, nav chrome,
    * license banners: the dominant residual duplication in web corpora
    * after document-level dedup).
    *
    * Doc-frequency, not occurrence count: each document contributes a
    * line at most once (`array_distinct` before the explode), so a page
    * that repeats its own footer 50× cannot promote it alone. Candidate
    * lines come from [[heavyHitters]] over the exploded distinct lines
    * (sketch + exact recount — the line table is corpus-sized, the
    * boilerplate set is tiny); the ≤ capacity surviving lines come back
    * to the driver as a broadcast-able literal set and the rewrite is a
    * zero-shuffle projection: split → filter(¬ boilerplate) → rejoin.
    * Blank lines are never candidates and are always kept — removing
    * them is a formatting choice, not dedup.
    *
    * Output: documents with `textCol` rewritten in place plus
    * `n_lines_removed`; line order inside each doc is preserved.
    */
  def stripBoilerplateLines(docs: DataFrame, textCol: String, idCol: String,
                            minDocs: Long, capacity: Int = 4096): DataFrame = {
    val lines = docs.select(
        explode(array_distinct(split(col(textCol), "\n"))).as("line"))
      .filter(length(trim(col("line"))) > 0)
    val frequent = heavyHitters(lines, "line", minDocs, capacity)
      .collect().map(_.getString(0)).sorted
    val boiler = lit(frequent)
    val kept = filter(split(col(textCol), "\n"),
      l => !(array_contains(boiler, l) && length(trim(l)) > 0))
    docs
      .withColumn("n_lines_removed",
        (size(split(col(textCol), "\n")) - size(kept)).cast("long"))
      .withColumn(textCol, array_join(kept, "\n"))
  }

  /** Systematic PPS sampling — draw `n` of the corpus with inclusion
    * probability proportional to an integer weight (token count, byte
    * size), the standard way a token-budgeted mixture takes "b tokens
    * from this source" without biasing toward many-small or few-large
    * documents.
    *
    * Mechanics: rows order by md5(id) (deterministic, decorrelated
    * from any natural ordering), a distributed prefix sum lays the
    * weights end to end on [0, W), and `n` equally-spaced points
    * (step = W div n, phase = step div 2) select every row whose
    * weight interval they hit; `n_draws` is the hit count (a row with
    * weight > step can be drawn more than once — that IS PPS
    * semantics; callers wanting at-most-once should cap weights at
    * step). Everything is int64 — md5 ordering, prefix sums, one
    * shifted truncating division per row — so the draw replays exactly
    * engine-for-engine (gate p22) and run-for-run; Σ n_draws = n by
    * construction.
    *
    * Scale: the prefix sum is the [[assignShards]] machinery (per-
    * partition subtotals broadcast back — no global single-partition
    * window); selection is a map-side projection. One pass, one
    * bounded shuffle of subtotals.
    */
  def ppsSample(df: DataFrame, idCol: String, weight: Column,
                n: Long): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val staged = graft.engine.CacheOnce(df
      .withColumn("__ord", md5(col(idCol).cast("string")))
      .withColumn("__w", weight.cast("long"))
      .repartitionByRange(col("__ord"), col(idCol))
      .withColumn("__pid", spark_partition_id()))
    val subtotals = staged.groupBy("__pid").agg(sum("__w").as("__ptok"))
    val offsets = subtotals
      .withColumn("__before",
        coalesce(sum("__ptok").over(
          Window.partitionBy(
            graft.engine.Windows.singlePartitionKey(col("__pid")))
            .orderBy("__pid")) - col("__ptok"),
          lit(0L)))
      .withColumn("__wtot", sum("__ptok").over(Window.partitionBy(
        graft.engine.Windows.singlePartitionKey(col("__pid")))))
      .drop("__ptok")
    val w = Window.partitionBy("__pid").orderBy(col("__ord"), col(idCol))
    staged.join(broadcast(offsets), Seq("__pid"))
      .withColumn("__cum", col("__before") + sum("__w").over(w) - col("__w"))
      .withColumn("__step", expr(s"__wtot div ${n}L"))
      // total weight must cover n unit-spaced points (step >= 1) or the
      // draw is ill-posed; fail loudly, not with a null-div empty result
      .withColumn("__step", when(col("__step") >= 1, col("__step"))
        .otherwise(raise_error(concat(
          lit(s"ppsSample: n=$n exceeds total weight "), col("__wtot")))))
      // shift so the point lattice (phase = step div 2) becomes the
      // positive multiples of step, then count multiples in the row's
      // interval with one truncating div pair — clamped to the first n
      // (when W mod n > phase an (n+1)-th multiple lands inside [0,W))
      .withColumn("__c1", col("__cum") + col("__step") - expr("__step div 2"))
      .withColumn("n_draws",
        expr(s"least((__c1 + __w - 1) div __step, ${n}L)" +
          s" - least((__c1 - 1) div __step, ${n}L)"))
      .filter(col("n_draws") > 0)
      .drop("__ord", "__w", "__pid", "__before", "__wtot", "__cum",
        "__step", "__c1")
  }

  /** Mixture-weighted PPS draw — the training-recipe op: "totalDraws
    * documents, 50% from web, 30% from code, 20% from books, each
    * source sampled proportional to token count". Per-source draw
    * counts come from largest-remainder apportionment of
    * `shares` (exact: Σ n_s = totalDraws whenever shares sum to ~1;
    * deterministic tie-break by largest fractional remainder then
    * source name), then each source runs its own [[ppsSample]]
    * lattice. The loop is over the bounded share table (a training
    * mixture names a handful of sources), not the data — each
    * source's pass is the ppsSample plan, and sources evaluate
    * independently so Spark schedules their jobs back to back on the
    * shared corpus scan.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
                    weight: Column, shares: Map[String, Double],
                    totalDraws: Long): DataFrame = {
    require(shares.nonEmpty, "shares must name at least one source")
    require(shares.valuesIterator.forall(_ > 0), "shares must be positive")
    val norm = shares.valuesIterator.sum
    val quotas = shares.toSeq.map { case (s, w) =>
      (s, totalDraws * w / norm)
    }
    val floors = quotas.map { case (s, q) => (s, q.toLong, q - q.toLong) }
    val remainder = (totalDraws - floors.map(_._2).sum).toInt
    val bumped = floors.sortBy { case (s, _, frac) => (-frac, s) }
      .zipWithIndex
      .map { case ((s, fl, _), i) => (s, fl + (if (i < remainder) 1L else 0L)) }
    bumped.filter(_._2 > 0).map { case (s, nS) =>
      ppsSample(df.filter(col(sourceCol) === s), idCol, weight, nS)
    }.reduce(_.unionByName(_))
  }

  /** Token-budget quota fill — "take B tokens from each source": rows
    * are laid out in md5(id) order per source (deterministic,
    * order-decorrelated) and kept while the tokens BEFORE them stay
    * under the source's budget, so the straddling document is included
    * and every source fills to at least its budget (never silently
    * under). The recipe-building dual of [[mixtureSample]]: that draws
    * a document COUNT with PPS inclusion; this fills a TOKEN quota
    * with certainty inclusion — the usual way published data recipes
    * state source mixes ("300B web tokens, 50B code tokens").
    *
    * One pass on the [[assignShards]] grouped-prefix-sum machinery
    * (budget=1 turns its shard id into the raw cumulative count);
    * budgets broadcast. Exact integers throughout (gate p24).
    */
  def takeTokenBudget(df: DataFrame, sourceCol: String, idCol: String,
                      weight: Column,
                      budgets: Map[String, Long]): DataFrame = {
    require(budgets.valuesIterator.forall(_ > 0), "budgets must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val b = broadcast(budgets.toSeq.toDF(sourceCol, "__budget"))
    assignShards(
        df.join(b, sourceCol), col(sourceCol),
        md5(col(idCol).cast("string")), weight, 1L)
      .filter(col("shard") < col("__budget"))
      .withColumnRenamed("shard", "tokens_before").drop("offset", "__budget")
  }

  /** Corpus snapshot diff — the versioning primitive for iterative
    * dataset curation: classify every document id across two corpus
    * versions as added / removed / changed / unchanged, comparing
    * CONTENT by fingerprint (md5 of the text), not object identity.
    * One full outer join on the id; fingerprints computed in the scan
    * projection, so at 100 TB the shuffle carries (id, 32-byte hash),
    * never the documents. The summary view (`groupBy("status")`) is
    * the regression gate a production pipeline runs between releases
    * ("this rebuild changed 0.3% of docs, added 2%, removed 1%").
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val a = v1.select(col(idCol).as("__id"),
      md5(col(textCol)).as("__fp1"))
    val b = v2.select(col(idCol).as("__id"),
      md5(col(textCol)).as("__fp2"))
    a.join(b, Seq("__id"), "full")
      .select(col("__id").as(idCol),
        when(col("__fp1").isNull, "added")
          .when(col("__fp2").isNull, "removed")
          .when(col("__fp1") === col("__fp2"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Write packed training shards: co-locate each shard in one file
    * chain (`repartition(shard)`), keep document order inside the file
    * (`sortWithinPartitions`), and bound file size with
    * `maxRecordsPerFile` — the standard layout for sequential training
    * readers.
    */
  def writeShards(df: DataFrame, path: String, orderCols: Seq[String],
                  maxRecordsPerFile: Long = 1000000L): Unit =
    df.repartition(col("shard"))
      .sortWithinPartitions(col("shard") +: orderCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)
}
