package graft

import org.apache.spark.graftbridge.CoreBridge

/** Pins the one run-metrics listener: attached once per context, and
  * the difference of two snapshots counts the interval's jobs, its
  * no-job gap and its task CPU.
  */
class MetricsSpec extends SparkSpec {

  test("Metrics(spark) attaches one listener however often it is called") {
    val m = Metrics(spark)
    Metrics(spark) should be theSameInstanceAs m
    CoreBridge.listeners[Metrics](spark.sparkContext) should have size 1
  }

  test("a snapshot difference counts jobs, the no-job gap and task CPU") {
    val metrics = Metrics(spark)
    val m0 = metrics.snapshot()
    spark.sparkContext.parallelize(1 to 10, 2).count()
    Thread.sleep(300)
    spark.sparkContext.parallelize(1 to 10, 2).count()
    val d = metrics.snapshot() - m0
    d.jobs shouldBe 2
    d.gapS should be >= 0.3
    d.cpuS should be > 0.0
  }
}
