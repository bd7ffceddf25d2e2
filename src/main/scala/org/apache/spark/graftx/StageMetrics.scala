package org.apache.spark.graftx

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The measurement mains' one meter: per-query IO accounting (input
  * rows, shuffle read/write bytes, spill, task time) from task metrics,
  * plus one row per Spark job. The meter never evicts (unlike the
  * UI status store, whose retained-stage cap would silently corrupt
  * cumulative deltas over a long bench); the only `private[spark]`
  * surface touched is the listener-bus drain, which is why this file
  * lives under `org.apache.spark` — same technique as the `sql.graftx`
  * expressions, public APIs otherwise.
  *
  * Usage: `install` once, snapshot `totals` before and after a query
  * (each snapshot drains the bus so async task-end events land); the
  * delta is that query's IO. `clearJobs` before the query and `jobs`
  * after it give the query's job table. This turns "is there a shuffle
  * here that becomes the bottleneck at scale" from a guess into a
  * measurement.
  */
object StageMetrics {

  final case class Totals(inputRows: Long, shuffleRead: Long,
      shuffleWrite: Long, spillMem: Long = 0L, spillDisk: Long = 0L,
      taskMs: Long = 0L) {
    def -(o: Totals): Totals =
      Totals(inputRows - o.inputRows, shuffleRead - o.shuffleRead,
        shuffleWrite - o.shuffleWrite, spillMem - o.spillMem,
        spillDisk - o.spillDisk, taskMs - o.taskMs)
  }

  /** One Spark job: start and end (epoch ms, `end` -1 while running),
    * the tasks and executor task time of its completed stages, and its
    * `spark.job.description`. */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int,
      taskMs: Long, desc: String)

  final class Meter extends SparkListener {
    private[StageMetrics] val input = new AtomicLong
    private[StageMetrics] val shuffleRead = new AtomicLong
    private[StageMetrics] val shuffleWrite = new AtomicLong
    private[StageMetrics] val spillMem = new AtomicLong
    private[StageMetrics] val spillDisk = new AtomicLong
    private[StageMetrics] val taskMs = new AtomicLong
    private[StageMetrics] val jobs = TrieMap.empty[Int, Job]
    private val stageToJob = TrieMap.empty[Int, Int]

    /** Forget the job rows recorded so far. */
    def clearJobs(): Unit = { jobs.clear(); stageToJob.clear() }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        // rows, not bytes: the local-file vectorized parquet path
        // bypasses the FS byte statistics (reads report ~0), while
        // recordsRead is exact — and scan width is the comparable
        // quantity across plans anyway
        input.addAndGet(m.inputMetrics.recordsRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        // spill accounting for the constrained-memory evidence
        // (graft.MemStress): spill-not-OOM is the proof that no
        // operator hides an executor-sized materialization
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        // executor task time: the scaling evidence (PERF r12
        // "suspect_cpus_ignored") — a core-ratio ≈ 1 with a task-time
        // total far below wall × cores proves the cost is per-query
        // fixed machinery (planning/scheduling), not env-ignoring
        taskMs.addAndGet(m.executorRunTime)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, 0, 0L,
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageToJob.get(e.stageInfo.stageId).flatMap(id => jobs.get(id))
        .foreach(j => jobs(j.id) = j.copy(
          tasks = j.tasks + e.stageInfo.numTasks,
          taskMs = j.taskMs + e.stageInfo.taskMetrics.executorRunTime))
  }

  def install(sc: SparkContext): Meter = {
    val meter = new Meter
    sc.addSparkListener(meter)
    meter
  }

  /** Snapshot after draining the listener bus, so every completed
    * task's metrics are counted. */
  def totals(sc: SparkContext, meter: Meter): Totals = {
    sc.listenerBus.waitUntilEmpty(10000)
    Totals(meter.input.get(), meter.shuffleRead.get(),
      meter.shuffleWrite.get(), meter.spillMem.get(), meter.spillDisk.get(),
      meter.taskMs.get())
  }

  /** The job rows recorded since the last `clearJobs`, by start time,
    * after draining the listener bus. */
  def jobs(sc: SparkContext, meter: Meter): Seq[Job] = {
    sc.listenerBus.waitUntilEmpty(10000)
    meter.jobs.values.toSeq.sortBy(j => (j.start, j.id))
  }
}
