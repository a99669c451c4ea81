package graft.models

import graft.SparkSpec
import graft.engine.Scd2
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def log = Seq(
    (1L, ts("2020-01-01 00:00:00"), "v1"),
    (1L, ts("2020-06-01 00:00:00"), "v2"),
    (2L, ts("2020-02-01 00:00:00"), "w1"),
    (3L, ts("2020-03-01 00:00:00"), "x1"),
    // batch 2 below the cutoff line
    (1L, ts("2021-01-01 00:00:00"), "v3"),
    (4L, ts("2021-02-01 00:00:00"), "y1"))
    .toDF("id", "change_ts", "payload")

  test("merge(batch1, batch2) == scd2(full log), untouched entities byte-equal") {
    val cutoff = ts("2020-12-31 00:00:00")
    val b1 = log.filter($"change_ts" < cutoff)
    val b2 = log.filter($"change_ts" >= cutoff)
    val existing = Scd2.scd2(b1, Seq("id"), "change_ts").drop("change_ts")
    val merged = Incremental.mergeScd2Batch(existing, b2, Seq("id"), "change_ts")
      .orderBy("id", "effective_timestamp")
    val full = Scd2.scd2(log, Seq("id"), "change_ts").drop("change_ts")
      .select(merged.columns.map(col): _*)
      .orderBy("id", "effective_timestamp")
    merged.collect() shouldBe full.collect()
    // entity 1 now has 3 versions, v2 closed at v3-1ms
    val e1 = merged.filter($"id" === 1).collect()
    e1.length shouldBe 3
    e1(1).getAs[java.sql.Timestamp]("end_timestamp") shouldBe
      ts("2020-12-31 23:59:59.999")
    // brand-new entity 4 appears with a single current version
    merged.filter($"id" === 4).collect()
      .map(_.getAs[Boolean]("is_current")) shouldBe Array(true)
  }

  test("empty batch is a no-op") {
    val existing = Scd2.scd2(log, Seq("id"), "change_ts").drop("change_ts")
    val merged = Incremental.mergeScd2Batch(existing,
      log.filter(lit(false)), Seq("id"), "change_ts")
    merged.count() shouldBe existing.count()
  }

  test("only affected entities flow through the rebuild path") {
    val b2 = log.filter($"id" === 1 && $"payload" === "v3")
    val existing = Scd2.scd2(log.filter($"payload" =!= "v3").filter($"id" =!= 4L),
      Seq("id"), "change_ts").drop("change_ts")
    val merged = Incremental.mergeScd2Batch(existing, b2, Seq("id"), "change_ts")
    // untouched entity versions are identical objects of the anti-join side:
    // assert counts per entity and is_current invariant
    merged.groupBy("id").agg(sum(when($"is_current", 1).otherwise(0)).as("n"))
      .collect().foreach(_.getLong(1) shouldBe 1L)
    merged.filter($"id" === 1).count() shouldBe 3
  }
}
