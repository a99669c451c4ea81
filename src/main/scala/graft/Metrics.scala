package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one run-metrics listener: Bench, the specs and any probe read
  * their task counters and job counts from it.
  *
  * Per task it sums executor CPU, JVM GC and spill (memory + disk)
  * bytes; per job it counts starts and accumulates the milliseconds in
  * which at least one job was running. A [[Metrics.Snapshot]] drains the
  * listener bus first, so every event posted before it is counted; the
  * difference of two snapshots is one measured interval. CPU is the
  * contention-robust column, GC and spill tell host pressure from a
  * memory regression (PLANS.md interpretation guide), and the job count
  * and no-job gap show how much of a driver-sequenced gate's wall is
  * per-job fixed cost.
  */
final class Metrics private (sc: SparkContext) extends SparkListener {
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val spillBytes = new AtomicLong
  // guarded by `this`: jobs started, jobs running, ms covered by at
  // least one job up to `since`, and when `running` last rose from 0
  private var jobs = 0L
  private var running = 0
  private var busyMs = 0L
  private var since = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (running == 0) since = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (running > 0) {
      running -= 1
      if (running == 0) busyMs += math.max(0L, e.time - since)
    }
  }

  /** Counters as of now. Job event times are driver epoch milliseconds,
    * so the snapshot takes its own time on that clock before draining.
    */
  def snapshot(): Metrics.Snapshot = {
    val at = System.currentTimeMillis()
    CoreBridge.drainListenerBus(sc)
    val (started, busy) = synchronized {
      (jobs, busyMs + (if (running > 0) math.max(0L, at - since) else 0L))
    }
    Metrics.Snapshot(at, cpuNs.get(), gcMs.get(), spillBytes.get(),
      started, busy)
  }
}

object Metrics {

  /** The listener attached to `spark`'s context, attaching it on the
    * first call only.
    */
  def apply(spark: SparkSession): Metrics = synchronized {
    val sc = spark.sparkContext
    CoreBridge.listeners[Metrics](sc).headOption.getOrElse {
      val m = new Metrics(sc)
      sc.addSparkListener(m)
      m
    }
  }

  final case class Snapshot(atMs: Long, cpuNs: Long, gcMs: Long,
                            spillBytes: Long, jobs: Long, busyMs: Long) {
    def -(from: Snapshot): Delta = Delta(
      cpuS = (cpuNs - from.cpuNs) / 1e9,
      gcS = (gcMs - from.gcMs) / 1e3,
      spillBytes = spillBytes - from.spillBytes,
      jobs = jobs - from.jobs,
      gapS = math.max(0L, atMs - from.atMs - (busyMs - from.busyMs)) / 1e3)
  }

  /** One interval: task CPU, GC and spill, the jobs started in it and
    * the seconds of it in which no job ran.
    */
  final case class Delta(cpuS: Double, gcS: Double, spillBytes: Long,
                         jobs: Long, gapS: Double)
}
