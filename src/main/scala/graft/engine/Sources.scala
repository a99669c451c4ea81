package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File sources (SURVEY §2.1 S1-S6).
  *
  * All readers take an explicit schema — the reference never infers
  * (tpcdi.py:192-535), and at 100 TB schema inference would mean an extra
  * full pass over the data.
  */
object Sources {

  /** S1: delimited text with declared schema; delimiter auto-picked by
    * suffix like the reference (`.csv` => ',', else '|'; tpcdi.py:102-106).
    */
  def delimited(spark: SparkSession, path: String, schema: StructType,
                sep: Option[String] = None): DataFrame = {
    val d = sep.getOrElse(if (path.endsWith(".csv")) "," else "|")
    spark.read.schema(schema).option("sep", d).csv(path)
  }

  /** S4+S5: fixed-width file scan — whole lines (optionally globbed, e.g.
    * `FINWIRE??????`, tpcdi.py:95-96) plus `substring` projection. The
    * scan stays a single narrow stage: no shuffle, column pruning is
    * irrelevant (one string column), and the substring projection is
    * whole-stage-codegen'd.
    *
    * @param fields (name, start (1-based), length, cast/transform)
    */
  def fixedWidth(spark: SparkSession, pathGlob: String,
                 fields: Seq[(String, Int, Int, Column => Column)]): DataFrame = {
    val raw = spark.read.text(pathGlob)
    val cols = fields.map { case (name, start, len, f) =>
      f(substring(col("value"), start, len)).as(name)
    }
    raw.select(cols: _*)
  }

  /** Identity transform for fixedWidth fields. */
  val asIs: Column => Column = identity

  /** S3: XML document source. Spark 4 native XML: `rowTag` plays the role
    * of the reference's STRIP_OUTER_ELEMENT (tpcdi.py:271-275) — each
    * matching element becomes one row; attributes surface as `_attr`
    * fields and mixed-content text as `_VALUE`.
    */
  def xml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.option("rowTag", rowTag).xml(path)

  /** JSONL corpus source — the de-facto LLM training-data interchange
    * format (one JSON document per line). Explicit schema (same
    * no-inference rule as every reader here) + PERMISSIVE mode with a
    * `_corrupt_record` column: at corpus scale some lines ARE broken,
    * and the pipeline must count/quarantine them rather than abort
    * (FAILFAST) or silently null them out (the default DROPMALFORMED
    * trap). Returns rows for every input line; callers split on
    * `_corrupt_record IS NULL` — see [[jsonlSplitManaged]].
    */
  def jsonl(spark: SparkSession, path: String,
            schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** Split a [[jsonl]] read into (clean rows, quarantine rows, release).
    * The quarantine keeps the raw offending line for repair/audit.
    *
    * The cache is REQUIRED, not an optimization: on an uncached raw
    * JSON scan Spark refuses a query whose referenced columns are only
    * the internal corrupt-record column (AnalysisException), so the
    * quarantine side is unreadable without materializing first. One
    * cached scan then serves both sides; call the release thunk once
    * both sides are consumed to free the materialized parse.
    * MEMORY_AND_DISK explicitly (also the `cache()` default, pinned
    * here so a Spark default change can't turn an over-memory parse
    * into recomputation-per-side): a parsed corpus larger than
    * storage memory spills to disk instead of evicting.
    */
  def jsonlSplitManaged(df: DataFrame)
      : (DataFrame, DataFrame, () => Unit) = {
    val cached = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (cached.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      cached.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw_line")),
      () => { cached.unpersist(); () })
  }
}
