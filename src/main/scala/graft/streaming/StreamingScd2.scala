package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Streaming counterpart of the SCD2 kernel: maintain versioned
  * dimension rows incrementally from an append-only change stream.
  *
  * The reference has no record-at-a-time streaming — its Dynamic Tables
  * re-run the SCD2 SELECT on a target_lag schedule (dbt_project.yml:
  * 35-47, SURVEY §2.9). This module is the Spark-native upgrade:
  * `flatMapGroupsWithState` keeps the latest open version per entity;
  * each incoming change closes it (end = new eff − 1 ms, matching
  * models/silver/accounts.sql:35-47) and opens a new current one.
  *
  * Scale: state is one small record per entity key, hash-partitioned by
  * the key — the same shuffle a batch SCD2 window would do, but
  * incremental: each micro-batch touches only changed entities.
  *
  * The dynamic-table refresh of whole models on arrival of new files is
  * the batch path, `graft.models.Warehouse.applyBatchDirs`.
  */
object StreamingScd2 {

  val SentinelEnd: Timestamp = Timestamp.valueOf("9999-12-31 23:59:59.999")

  /** One SCD2 version row (payload kept simple: callers project their
    * payload to a single string column).
    */
  case class Version(id: Long, payload: String,
                     effective_timestamp: Timestamp,
                     end_timestamp: Timestamp,
                     is_current: Boolean)

  case class Change(id: Long, ts: Timestamp, payload: String)

  /** Per-entity state: the open (current) version. */
  case class Open(ts: Timestamp, payload: String)

  /** Incremental SCD2 over a typed change stream. Emits, per
    * micro-batch: a closed row for each superseded version and the new
    * current row. Downstream sinks upsert on (id, effective_timestamp).
    *
    * Late/duplicate guard: changes at-or-before the open version's
    * timestamp are ignored (documented limitation — true bitemporal
    * repair needs a batch rebuild, same as the reference's full
    * refresh).
    */
  def scd2Stream(changes: Dataset[Change]): Dataset[Version] = {
    implicit val verEnc: Encoder[Version] = Encoders.product[Version]
    implicit val openEnc: Encoder[Open] = Encoders.product[Open]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    changes
      .groupByKey(_.id)
      .flatMapGroupsWithState[Open, Version](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[Change], state: GroupState[Open]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var open = state.getOption
          val out = Seq.newBuilder[Version]
          sorted.foreach { c =>
            open match {
              case Some(o) if c.ts.getTime <= o.ts.getTime => // stale; skip
              case Some(o) =>
                out += Version(id, o.payload, o.ts,
                  new Timestamp(c.ts.getTime - 1), is_current = false)
                open = Some(Open(c.ts, c.payload))
              case None =>
                open = Some(Open(c.ts, c.payload))
            }
          }
          open.foreach { o =>
            state.update(o)
            out += Version(id, o.payload, o.ts, SentinelEnd, is_current = true)
          }
          out.result().iterator
      }
  }
}
