package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingScd2Spec extends SparkSpec {
  import StreamingScd2._

  test("incremental SCD2: versions close at -1ms across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Change]
    val q = scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode(OutputMode.Append()).start()

    // batch 1: two entities, one change each
    input.addData(
      Change(1L, ts("2020-01-01 00:00:00"), "v1"),
      Change(2L, ts("2020-02-01 00:00:00"), "w1"))
    q.processAllAvailable()
    // batch 2: entity 1 changes twice in one batch, entity 2 stale event
    input.addData(
      Change(1L, ts("2020-06-01 12:00:00"), "v2"),
      Change(1L, ts("2021-01-01 00:00:00"), "v3"),
      Change(2L, ts("2020-01-15 00:00:00"), "stale"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("scd2_out").as[Version].collect()

    // entity 1: the final state of the chain must be three versions
    // (closed v1, closed v2, current v3) — batch 1 also emitted a
    // provisional current v1 (sentinel end), superseded by batch 2's
    // closed re-emit. Upsert rule = keep the smallest end_timestamp per
    // (id, effective_timestamp): a close always wins over the sentinel.
    val latest = out.groupBy(v => (v.id, v.effective_timestamp))
      .map { case (_, vs) => vs.minBy(_.end_timestamp.getTime) }.toSeq
    val e1 = latest.filter(_.id == 1L).sortBy(_.effective_timestamp.getTime)
    e1.map(_.payload) shouldBe Seq("v1", "v2", "v3")
    e1(0).end_timestamp shouldBe ts("2020-06-01 11:59:59.999")
    e1(1).end_timestamp shouldBe ts("2020-12-31 23:59:59.999")
    e1(2).end_timestamp shouldBe SentinelEnd
    e1.map(_.is_current) shouldBe Seq(false, false, true)

    // entity 2: stale event ignored; single current version
    val e2 = latest.filter(_.id == 2L)
    e2.map(_.payload) shouldBe Seq("w1")
    e2.head.is_current shouldBe true
  }
}
