package graft

/** Dev smoke runner for SparkEntry.entry (the driver's t1 check). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
