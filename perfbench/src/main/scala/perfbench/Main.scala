package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Json._

/** One workload inside the harness JVM: an untimed warm-up, then a
  * timed loop that returns raw samples (run.py turns them into metrics
  * and checks the outputs). */
trait Workload {
  def warmup(): Unit
  def run(seconds: Double): Map[String, Any]
}

/** Run independent thunks on their own threads; rethrow the first
  * failure on the caller's thread. */
object Parallel {
  def all[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, tasks.size))
    try tasks.map(t => pool.submit(() => t())).map { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
    finally { pool.shutdown(); () }
  }
}

/** Aggregate CPU ticks from /proc/stat. On a shared host the hypervisor
  * gives some of this machine's CPU time to other tenants ("steal");
  * every op records the share stolen while it ran, so run.py can tell
  * interference from the program's own cost. */
object Cpu {
  /** (all ticks, stolen ticks) over all CPUs since boot. */
  def ticks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (t.take(8).sum, if (t.length > 7) t(7) else 0L)
    } finally f.close()
  }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    (to._2 - from._2).toDouble / math.max(1L, to._1 - from._1)
}

/** Harness entry point: `Main <spec.json>`.
  *
  * The spec (written by `run.py`) names the workload, seed, timed
  * seconds, trace flag, core count, work directory and the generator's
  * manifests. The harness builds the session once, warms up, runs the
  * timed loop and writes one result JSON to `spec.out`. */
object Main {
  /** The deployment settings of `graft.service.ServeMain`, with the
    * scratch, shuffle and warehouse directories inside the work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftx.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU time of this JVM (all threads), ns. Time the hypervisor
    * steals from the machine is not in it. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def env(spark: SparkSession, cpus: Int, spec: Map[String, Any]) =
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores_used" -> cpus,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.vm.version")),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filterNot(_.startsWith("--add-opens")).toVector,
      "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "seed" -> spec("seed"))

  def main(args: Array[String]): Unit = {
    val mainEnterMs = System.currentTimeMillis()
    val spec = Json.read(args(0))
    val workload = spec.str("workload")
    val cpus = spec.long("cpus").toInt
    val work = spec.str("work")

    // set-up: one cold session build plus the workload's preparation
    // (e.g. HttpFront bind), the first in this JVM, as a deployment pays it
    val t0s = System.nanoTime()
    val spark = session(cpus, work)
    val tracer = new Tracer(spark, spec("trace") == true)
    val prepared: Workload = workload match {
      case "etl_hourly" => new EtlWorkload(spark, tracer, spec)
      case "serve_mixed" => new ServeWorkload(spark, tracer, spec)
      case "lake_queries" => new LakeWorkload(spark, tracer, spec)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val sessionS = (System.nanoTime() - t0s) / 1e9
    val t0 = System.nanoTime()
    prepared.warmup()
    val warmS = (System.nanoTime() - t0) / 1e9

    tracer.reset()
    val gc0 = gcMs()
    val ticks0 = Cpu.ticks()
    val cpu0 = cpuNs()
    val result = prepared.run(spec("seconds").toString.toDouble)
    val gc = gcMs() - gc0
    val cpuMs = (cpuNs() - cpu0) / 1e6
    val stealShare = Cpu.stealShare(ticks0, Cpu.ticks())
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / (1024.0 * 1024.0)

    Json.writeFile(spec.str("out"), Map(
      "env" -> env(spark, cpus, spec),
      "main_enter_ms" -> mainEnterMs,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS),
      "gc_ms" -> gc,
      "cpu_steal_share" -> stealShare,
      "cpu_ms" -> cpuMs,
      "peak_rss_mb" -> peakRssMb(),
      "heap_live_mb" -> heapLiveMb,
      "result" -> result))
    prepared match { case s: ServeWorkload => s.close(); case _ => }
    spark.stop()
  }
}
