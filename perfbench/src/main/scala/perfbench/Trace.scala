package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Task-level counters summed over an interval. */
final case class Counters(cpuS: Double = 0, taskS: Double = 0, gcS: Double = 0,
                          shuffleMb: Double = 0, spillMb: Double = 0,
                          inputMb: Double = 0, recordsRead: Double = 0,
                          recordsWritten: Double = 0, bytesWrittenMb: Double = 0) {
  def +(o: Counters): Counters = Counters(cpuS + o.cpuS, taskS + o.taskS,
    gcS + o.gcS, shuffleMb + o.shuffleMb, spillMb + o.spillMb,
    inputMb + o.inputMb, recordsRead + o.recordsRead,
    recordsWritten + o.recordsWritten, bytesWrittenMb + o.bytesWrittenMb)
}

/** A timed region the benchmark opened around one public call. Times are
  * milliseconds on the same clock as Spark's listener events.
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      layer: String, startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** One Spark job: when it ran and what its tasks did. */
final case class Job(id: Int, startMs: Double, endMs: Double, c: Counters)

/** Span recorder plus SparkListener. The listener always sums task
  * counters (the end-to-end `task_cpu_s` needs them); with `detailed` it
  * also keeps one record per job and per block-storage change, so spans
  * can be broken down into jobs after the run. Everything stays in
  * memory until [[Trace.write]].
  */
final class Trace(sc: SparkContext, val detailed: Boolean) extends SparkListener {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val cpuNs = new AtomicLong()
  private val stageOfJob = new ConcurrentHashMap[Int, Int]()
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  private val jobStarts = new ConcurrentHashMap[Int, (Double, Seq[Int])]()
  private val jobsDone = ArrayBuffer.empty[Job]
  // (time, rdd id, bytes held by that rdd after the update)
  private val blockEvents = ArrayBuffer.empty[(Double, Int, Long)]
  private val blockBytes = new ConcurrentHashMap[(Int, Int), Long]()

  private val spansDone = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private val open = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile var traceId = 0

  sc.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    cpuNs.addAndGet(m.executorCpuTime)
    if (!detailed) return
    val c = Counters(m.executorCpuTime / 1e9, e.taskInfo.duration / 1e3,
      m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten / 1e6,
      (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
      m.inputMetrics.bytesRead / 1e6, m.inputMetrics.recordsRead.toDouble,
      m.outputMetrics.recordsWritten.toDouble, m.outputMetrics.bytesWritten / 1e6)
    stageCounters.merge(e.stageId, c, (a: Counters, b: Counters) => a + b)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    jobStarts.put(e.jobId, (e.time.toDouble, e.stageIds))
    e.stageIds.foreach(s => stageOfJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) {
    val (start, stages) = jobStarts.remove(e.jobId)
    val c = stages.filter(s => stageOfJob.get(s) == e.jobId)
      .flatMap(s => Option(stageCounters.remove(s))).foldLeft(Counters())(_ + _)
    synchronized { jobsDone += Job(e.jobId, start, e.time.toDouble, c) }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (detailed) {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, part) =>
        val bytes = info.memSize + info.diskSize
        if (bytes > 0) blockBytes.put((rdd, part), bytes) else blockBytes.remove((rdd, part))
        val held = blockBytes.asScala.iterator.filter(_._1._1 == rdd).map(_._2).sum
        synchronized { blockEvents += ((System.currentTimeMillis().toDouble, rdd, held)) }
      case _ =>
    }
  }

  /** Executor CPU seconds since the listener was registered. */
  def cpuS: Double = cpuNs.get() / 1e9

  /** Block-manager storage held by cached and checkpointed RDDs, in MB. */
  def storageMb: Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  /** Run `body` inside a span; nesting follows the calling thread. */
  def span[T](name: String, layer: String = "")(body: => T): T = {
    val stack = open.get()
    val parent = stack.headOption.map(_.id).getOrElse(0)
    val s = Span(nextId.getAndIncrement().toInt, parent, traceId, name, layer, nowMs, 0)
    open.set(s :: stack)
    try body finally {
      open.set(stack)
      val done = s.copy(endMs = nowMs)
      synchronized { spansDone += done }
    }
  }

  def spans: Seq[Span] = synchronized(spansDone.toList)
  def jobs: Seq[Job] = synchronized(jobsDone.toList)

  /** Jobs that started inside `s`. */
  def jobsIn(s: Span): Seq[Job] = jobs.filter(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs)

  /** Counters of the jobs that started inside `s`. */
  def countersIn(s: Span): Counters = jobsIn(s).map(_.c).foldLeft(Counters())(_ + _)

  /** Seconds of `s` during which no Spark job was running. */
  def gapS(s: Span): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    (s.endMs - s.startMs - covered) / 1e3
  }

  /** Distinct RDDs that stored blocks inside `s`, and the peak storage
    * (MB, all RDDs) reached inside it above the level held when it began.
    */
  def storageIn(s: Span): (Int, Double) = {
    val ev = synchronized(blockEvents.toList)
    val held = scala.collection.mutable.Map.empty[Int, Long]
    val stored = scala.collection.mutable.Set.empty[Int]
    var base = -1L; var peak = 0L
    ev.foreach { case (t, rdd, bytes) =>
      if (t >= s.startMs && base < 0) { base = held.values.sum; peak = base }
      val before = held.getOrElse(rdd, 0L)
      held(rdd) = bytes
      if (t >= s.startMs && t <= s.endMs) {
        if (bytes > before) stored += rdd
        peak = math.max(peak, held.values.sum)
      }
    }
    (stored.size, (peak - math.max(base, 0L)) / 1e6)
  }

  /** Write all spans and jobs as one JSON document. */
  def write(path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.sortBy(_.startMs).map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${q(s.name)},"layer":${q(s.layer)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      .mkString(",\n")
    sb ++= "],\"jobs\":["
    sb ++= jobs.sortBy(_.id).map(j =>
      f"""{"id":${j.id},"start_ms":${j.startMs}%.0f,"end_ms":${j.endMs}%.0f,"cpu_s":${j.c.cpuS}%.4f,"task_s":${j.c.taskS}%.4f,"gc_s":${j.c.gcS}%.4f,"shuffle_mb":${j.c.shuffleMb}%.4f,"spill_mb":${j.c.spillMb}%.4f,"input_mb":${j.c.inputMb}%.4f,"records_read":${j.c.recordsRead}%.0f,"records_written":${j.c.recordsWritten}%.0f,"written_mb":${j.c.bytesWrittenMb}%.4f}""")
      .mkString(",\n")
    sb ++= "]}\n"
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
  }
}
