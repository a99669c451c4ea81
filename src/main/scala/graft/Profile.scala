package graft
import org.apache.spark.sql.functions._

/** Scratch profiling main (not part of the driver contract): run named
  * gates with a job-level listener and report where the WALL goes —
  * how many Spark jobs the gate launches, how much wall they cover,
  * and the gaps (driver-side planning / collect / commit time). The
  * cpu/wall < 1 gate class is driver-sequenced by construction; this
  * tool shows which verbs pay for it.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = Session()

    case class Job(id: Int, start: Long, var end: Long = 0L,
                   var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(e.jobId, Job(e.jobId, e.time, desc = d))
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val j = jobs.get(e.jobId); if (j != null) j.end = e.time
        }
      })

    // same warmup as Bench so first-gate JIT does not pollute the
    // attribution
    graft.engine.Tables.all.foreach { t =>
      try graft.engine.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => }
    }

    val selected = SparkEntry.queries.filter { case (n, _) =>
      args.contains(n) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      jobs.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
      val t1 = System.nanoTime()
      org.apache.spark.graftbridge.CoreBridge
        .drainListenerBus(spark.sparkContext)
      val js = jobs.values().toArray(Array.empty[Job])
        .filter(_.end > 0).sortBy(_.start)
      val jobWall = js.map(j => j.end - j.start).sum / 1e3
      // wall the scheduler saw NO job running (driver-side work):
      // listener times are epoch millis, so anchor the cursor to the
      // first job's start and charge the pre-first-job build wall
      // separately (it is the `build` figure above)
      var gap = 0L
      var cursor = js.headOption.map(_.start).getOrElse(0L)
      js.foreach { j =>
        if (j.start > cursor) gap += j.start - cursor
        cursor = math.max(cursor, j.end)
      }
      println(f"[prof] $name: wall ${(t1 - t0) / 1e9}%.2f s " +
        f"(build ${(tPlan - t0) / 1e9}%.2f), jobs ${js.length}, " +
        f"job-covered ${jobWall}%.2f s, no-job gaps ${gap / 1e3}%.2f s")
      js.sortBy(j => j.start - j.end).take(8).foreach { j =>
        println(f"[prof]   job ${j.id}: ${(j.end - j.start) / 1e3}%.2f s " +
          s"${j.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
