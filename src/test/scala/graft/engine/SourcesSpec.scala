package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("amt", DoubleType)))

  test("delimited picks '|' for .txt and ',' for .csv like the reference") {
    val dir = Files.createTempDirectory("src")
    Files.writeString(dir.resolve("t.txt"), "1|alpha|2.5\n2|beta|3.5\n")
    Files.writeString(dir.resolve("t.csv"), "1,alpha,2.5\n2,beta,3.5\n")
    for (f <- Seq("t.txt", "t.csv")) {
      val out = Sources.delimited(spark, dir.resolve(f).toString, schema)
        .orderBy("id").collect()
      out.map(_.getInt(0)) shouldBe Array(1, 2)
      out.map(_.getString(1)) shouldBe Array("alpha", "beta")
      out.map(_.getDouble(2)) shouldBe Array(2.5, 3.5)
    }
  }

  test("fixedWidth slices 1-based positions with per-field transforms") {
    val dir = Files.createTempDirectory("fw")
    Files.writeString(dir.resolve("F202001"), "AAA12320200101\nBBB45620200202\n")
    val out = Sources.fixedWidth(spark, dir.resolve("F202001").toString, Seq(
      ("tag", 1, 3, Sources.asIs),
      ("num", 4, 3, (c: org.apache.spark.sql.Column) => c.cast("int")),
      ("dt", 7, 8, (c: org.apache.spark.sql.Column) => to_date(c, "yyyyMMdd"))))
      .orderBy("tag").collect()
    out.map(_.getString(0)) shouldBe Array("AAA", "BBB")
    out.map(_.getInt(1)) shouldBe Array(123, 456)
    out(1).getDate(2) shouldBe d("2020-02-02")
  }

  test("glob unions multiple quarter files in one scan") {
    val dir = Files.createTempDirectory("glob")
    Files.writeString(dir.resolve("FINWIRE2020Q1"), "a\nb\n")
    Files.writeString(dir.resolve("FINWIRE2020Q2"), "c\n")
    Files.writeString(dir.resolve("OTHER"), "zz\n")
    spark.read.text(dir.toString + "/FINWIRE??????").count() shouldBe 3L
  }

  test("ORC round-trips with predicate pushdown reaching the scan") {
    val dir = Files.createTempDirectory("orc").toString + "/t"
    import spark.implicits._
    (1 to 500).map(i => (i.toLong, s"name$i", i * 1.5))
      .toDF("id", "name", "amt")
      .write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).filter(col("id") > 490)
    back.count() shouldBe 10L
    // ORC scans support filter pushdown — the plan must carry it
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,490)]"),
      plan.take(600))
  }

  test("jsonl reads clean lines, quarantines corrupt ones with the raw text") {
    val dir = Files.createTempDirectory("jsonl")
    Files.writeString(dir.resolve("docs.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": 2 "text": "broken-no-comma"}
        |{"doc_id": 3, "text": "gamma"}
        |not json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val raw = Sources.jsonl(spark, dir.resolve("docs.jsonl").toString,
      schema).cache()
    val (clean, bad, release) = Sources.jsonlSplitManaged(raw)
    clean.orderBy("doc_id").collect().map(r =>
      (r.getLong(0), r.getString(1))) shouldBe
      Array((1L, "alpha"), (3L, "gamma"))
    val badLines = bad.collect().map(_.getString(0))
    badLines.length shouldBe 2
    badLines.exists(_.contains("broken-no-comma")) shouldBe true
    badLines.exists(_.contains("not json at all")) shouldBe true
    release()
  }
}
