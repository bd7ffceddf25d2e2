package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call: a layer call made by the harness, or a cycle /
  * request / query that groups such calls. Times are epoch nanoseconds
  * so they line up with listener event times (epoch milliseconds). */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    op: String, thread: String, startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var failed: Boolean = false
  /** Rows the call produced, when the harness knows them (-1 if not). */
  @volatile var rows: Long = -1L
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** A Spark job and what it cost, keyed to the span that launched it. */
final class JobRec(val id: Int, val span: Long, val pool: String,
    val execId: Long, val startMs: Long) {
  @volatile var endMs: Long = 0L
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val scanRows = new AtomicLong
}

/** Span recorder plus the two listeners that attribute Spark work to
  * spans.
  *
  * Before each layer call the harness tags its own calling thread with
  * the span id (`SparkContext.setLocalProperty`); every job submitted
  * from that thread, or from threads it starts, carries the id in its
  * start properties. Task metrics attribute through the job's stages;
  * Catalyst phase times (`QueryExecution.tracker`) attribute through
  * the SQL execution id the same jobs carry. Jobs that HttpFront's
  * server threads launch carry no span id; they attribute to their
  * scheduler pool instead.
  *
  * With `enabled = false` the recorder does nothing and installs no
  * listener, so untraced runs pay no tracing cost. Spans stay in
  * memory until [[spanRecords]] writes them out. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val wallBaseNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = wallBaseNs + (System.nanoTime() - nanoBase)

  private val ids = new AtomicLong
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id -> (analysis + optimization + planning ms). */
  val planMs = new ConcurrentHashMap[Long, java.lang.Double]()

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val j = new JobRec(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.scheduler.pool").getOrElse("default"),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs.addAndGet(m.executorRunTime)
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.scanRows.addAndGet(m.inputMetrics.recordsRead)
        }
      }
  }

  if (enabled) {
    sc.addSparkListener(JobListener)
    sc.addSparkListener(new org.apache.spark.sql.perfbench.PlanPhases(
      (exec, ms) => planMs.put(exec, ms)))
  }

  /** Run `f` inside a span. The calling thread's Spark jobs carry the
    * span id while `f` runs; the previous tag is restored after. */
  def span[T](name: String, layer: String, op: String)(f: => T): T = {
    if (!enabled) return f
    val outer = current.get
    val parent = if (outer == null) 0L else outer.id
    val s = Span(ids.incrementAndGet(), name, layer, parent, op,
      Thread.currentThread.getName, nowNs)
    spans.add(s)
    val prev = sc.getLocalProperty(SpanKey)
    current.set(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = nowNs
      if (outer == null) current.remove() else current.set(outer)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** A client thread's timed window: from its loop's first op to the end
    * of its last, timed by the loop itself. The traced run checks that
    * the thread's top-level spans tile this window. */
  def threadWindow(startNs: Long, ops: Int): Map[String, Any] =
    Map("thread" -> Thread.currentThread.getName, "start_ms" -> startNs / 1e6,
      "end_ms" -> nowNs / 1e6, "ops" -> ops)

  /** Forget everything recorded so far (the warm-up's spans and jobs). */
  def reset(): Unit = if (enabled) {
    drain()
    spans.clear(); jobs.clear(); stageJob.clear(); planMs.clear()
  }

  /** Record the row count of the innermost open span on this thread. */
  def rows(n: Long): Unit = Option(current.get).foreach(_.rows = n)

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.sql.perfbench.PlanPhases.drain(sc)

  // ---- aggregation -------------------------------------------------------

  /** Per-span inclusive cost: the span's own jobs plus its descendants'. */
  final case class Cost(wallMs: Double, selfMs: Double, jobs: Int,
      stages: Long, tasks: Long, taskMs: Long, planMs: Double,
      idleMs: Double, shuffleBytes: Long, scanRows: Long)

  def costs(): Map[Long, Cost] = {
    drain()
    val all = spans.asScala.toVector.filter(_.endNs > 0)
    val children = all.groupBy(_.parent)
    val jobsBySpan = jobs.values.asScala.toVector.groupBy(_.span)
    def subtree(s: Span): Vector[Span] =
      s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)
    all.map { s =>
      val tree = subtree(s)
      val js = tree.flatMap(t => jobsBySpan.getOrElse(t.id, Vector.empty))
      val kids = children.getOrElse(s.id, Vector.empty)
      val self = math.max(0.0, s.wallMs - kids.map(_.wallMs).sum)
      val covered = unionMs(js.map(j => (j.startMs, math.max(j.startMs,
        if (j.endMs > 0) j.endMs else j.startMs))),
        s.startNs / 1000000L, s.endNs / 1000000L)
      val execs = js.map(_.execId).filter(_ >= 0).distinct
      s.id -> Cost(s.wallMs, self, js.size, js.map(_.stages.get).sum,
        js.map(_.tasks.get).sum, js.map(_.taskMs.get).sum,
        execs.map(e => Option(planMs.get(e)).map(_.doubleValue).getOrElse(0.0)).sum,
        math.max(0.0, s.wallMs - covered), js.map(_.shuffleBytes.get).sum,
        js.map(_.scanRows.get).sum)
    }.toMap
  }

  def spanRecords(): Vector[Map[String, Any]] = {
    val c = costs()
    spans.asScala.toVector.filter(_.endNs > 0).sortBy(_.startNs).map { s =>
      val k = c(s.id)
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op, "thread" -> s.thread,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "wall_ms" -> k.wallMs, "self_ms" -> k.selfMs, "jobs" -> k.jobs,
        "task_ms" -> k.taskMs, "plan_ms" -> k.planMs, "idle_ms" -> k.idleMs,
        "shuffle_bytes" -> k.shuffleBytes, "scan_rows" -> k.scanRows,
        "rows" -> s.rows, "failed" -> s.failed)
    }
  }

  /** Jobs launched between `fromNs` and `toNs` (epoch ns), whoever
    * launched them, summed; plus the wall time no job covered. */
  def window(fromNs: Long, toNs: Long): Map[String, Double] = {
    drain()
    val js = jobs.values.asScala.toVector
      .filter(j => j.startMs * 1000000L >= fromNs && j.startMs * 1000000L <= toNs)
    val wallMs = (toNs - fromNs) / 1e6
    val covered = unionMs(js.map(j => (j.startMs,
      math.max(j.startMs, if (j.endMs > 0) j.endMs else j.startMs))),
      fromNs / 1000000L, toNs / 1000000L)
    val execs = js.map(_.execId).filter(_ >= 0).distinct
    Map("wall_ms" -> wallMs, "jobs" -> js.size.toDouble,
      "stages" -> js.map(_.stages.get).sum.toDouble,
      "tasks" -> js.map(_.tasks.get).sum.toDouble,
      "task_ms" -> js.map(_.taskMs.get).sum.toDouble,
      "plan_ms" -> execs.map(e =>
        Option(planMs.get(e)).map(_.doubleValue).getOrElse(0.0)).sum,
      "idle_ms" -> math.max(0.0, wallMs - covered),
      "shuffle_bytes" -> js.map(_.shuffleBytes.get).sum.toDouble,
      "scan_rows" -> js.map(_.scanRows.get).sum.toDouble)
  }

  /** Per-pool totals of jobs no span claimed (HttpFront's own threads). */
  def poolTotals(fromNs: Long, toNs: Long): Map[String, Map[String, Double]] = {
    drain()
    jobs.values.asScala.toVector
      .filter(j => j.span == 0L && j.startMs * 1000000L >= fromNs &&
        j.startMs * 1000000L <= toNs)
      .groupBy(_.pool).map { case (pool, js) =>
        val execs = js.map(_.execId).filter(_ >= 0).distinct
        pool -> Map("jobs" -> js.size.toDouble,
          "task_ms" -> js.map(_.taskMs.get).sum.toDouble,
          "plan_ms" -> execs.map(e =>
            Option(planMs.get(e)).map(_.doubleValue).getOrElse(0.0)).sum,
          "scan_rows" -> js.map(_.scanRows.get).sum.toDouble)
      }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of [start, end] intervals (ms) clipped to
    * [from, to]. */
  def unionMs(iv: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total.toDouble
  }
}
