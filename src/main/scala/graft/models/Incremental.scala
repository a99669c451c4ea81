package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Scd2

/** Incremental (Batch2/3-style) maintenance of an SCD2 dimension — the
  * path the reference leaves unimplemented (README.md:54-55, SURVEY
  * §7.6): apply a new changelog batch to an existing versioned dimension
  * without recomputing untouched entities.
  *
  * Merge plan: entities present in the batch are rebuilt from their
  * (history rows ∪ new changes) through the same Scd2 kernel; everyone
  * else passes through untouched via a left-anti join. Work and shuffle
  * volume scale with the AFFECTED entity set, not the dimension size —
  * at 100 TB this is the difference between touching a few million
  * changed keys and rewriting the whole dimension. Result is exactly
  * `Scd2.scd2(fullLog)` (oracle-checked: q27).
  */
object Incremental {

  /** @param existing current SCD2 dimension (payload cols +
    *                 effective_timestamp/end_timestamp/is_current)
    * @param changes  new raw change rows: payload cols + tsCol, same
    *                 schema as the original change log
    * @param idCols   entity identity
    * @param tsCol    change-timestamp column name in `changes`
    * @param tieBreak deterministic ordering columns (as in Scd2.scd2)
    */
  def mergeScd2Batch(existing: DataFrame, changes: DataFrame,
                     idCols: Seq[String], tsCol: String,
                     tieBreak: Seq[String] = Nil): DataFrame = {
    val affected = changes.select(idCols.map(col): _*).distinct()
    val untouched = existing.join(affected, idCols, "left_anti")
    // reconstruct the original change rows of affected entities from
    // their versions (effective_timestamp IS the original change ts)
    val touchedLog = existing.join(affected, idCols, "left_semi")
      .drop("end_timestamp", "is_current")
      .withColumnRenamed("effective_timestamp", tsCol)
    val rebuilt = Scd2.scd2(
      touchedLog.unionByName(changes.select(touchedLog.columns.map(col): _*)),
      idCols, tsCol, tieBreak)
    untouched.unionByName(rebuilt.select(untouched.columns.map(col): _*))
  }

  /** Incremental fact maintenance at a grain key: fact rows of keys
    * touched by a new batch are replaced by `rebuilt` (the normal fact
    * pipeline run over the touched keys' FULL input history); everyone
    * else passes through via a left-anti join. Valid whenever the fact
    * pipeline is per-key local (every model in the chain partitions or
    * joins by the grain key — true for the trades→fact_trade chain:
    * SCD2 windows by trade_id, trades windows by trade_id, the dim
    * lookups are row-local). Work scales with the affected key set;
    * result equals the full recompute (oracle-checked: q32).
    *
    * @param existingFact current fact rows, carrying the grain key
    * @param affected     distinct grain keys touched by the new batch
    * @param rebuilt      recomputed fact rows for the affected keys
    * @param keyCols      grain key columns present in all three frames
    */
  def mergeFactBatch(existingFact: DataFrame, affected: DataFrame,
                     rebuilt: DataFrame, keyCols: Seq[String]): DataFrame =
    existingFact.join(affected.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
      .unionByName(rebuilt.select(existingFact.columns.map(col): _*))
}
