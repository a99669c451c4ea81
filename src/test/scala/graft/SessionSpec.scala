package graft

/** Pins the one session factory: the `SPARK_GRAFT_CPUS` parse and the
  * engine settings every main and spec runs under.
  */
class SessionSpec extends SparkSpec {

  test("cpus defaults to 4 and reads a positive integer") {
    Session.cpus(None) shouldBe 4
    Session.cpus(Some("8")) shouldBe 8
  }

  test("cpus rejects a value that is not a positive integer, naming it") {
    Seq("0", "-1", "x", "").foreach { v =>
      val e = intercept[RuntimeException](Session.cpus(Some(v)))
      e.getMessage shouldBe
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"
    }
  }

  test("the shared test session runs under the engine settings") {
    val conf = spark.conf
    conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") shouldBe
      "true"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.sparkContext.master shouldBe "local[4]"
  }
}
