package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.transform.FieldRule

/** Small utility surfaces rounding out the reference's helper layer
  * (SURVEY.md §2.10): single-file writers (incl. YAML), config
  * load/merge, schema compatibility, timing.
  */
object Utils {

  /** The [[writeSingleFile]] driver-side contract, ENFORCED: this
    * writer collects the whole frame onto the driver, which is correct
    * ONLY for config-export / small-report frames. Above this many
    * rows it fails loudly instead of quietly OOMing the driver — bulk
    * data belongs in `Sinks.load`'s partition-parallel writers. */
  val SingleFileMaxRows: Long = 100000L

  private def capError(path: String, maxRows: Long): Nothing =
    throw new IllegalStateException(
      s"[graft.etl.Utils] writeSingleFile($path): frame exceeds the " +
        s"driver-side single-file cap of $maxRows rows. This writer is " +
        "for config exports and small reports; write bulk data through " +
        "Sinks.load (partition-parallel). Pass maxRows explicitly only " +
        "if the driver is provisioned for it.")

  /** `FileUtils.write_file` (common_utils.py:141-171): write a (small)
    * DataFrame as ONE file in json/jsonl/csv/parquet/yaml. Driver-side
    * single-file semantics are the point here (config exports, reports);
    * bulk data goes through `Sinks.load`'s partition-parallel writers —
    * a cap ([[SingleFileMaxRows]] by default) ENFORCES that split. */
  def writeSingleFile(df: DataFrame, path: String,
      format: Option[String] = None,
      maxRows: Long = SingleFileMaxRows): Unit = {
    require(maxRows >= 1 && maxRows < Int.MaxValue,
      s"maxRows must be in [1, ${Int.MaxValue}): $maxRows")
    val fmt = format.getOrElse(path.replaceAll(".*\\.", "")).toLowerCase
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    // the cap guard rides the SAME collect the writer needs: collect
    // max+1 rows and reject on overflow — one upstream execution, not
    // a count probe followed by a second full run of the plan. When
    // the frame fits, limit(max+1) contains every row (row order is
    // whatever the plan yields, same contract as the plain collect).
    val capped = df.limit((maxRows + 1).toInt)
    def guard[T](rows: Array[T]): Array[T] =
      if (rows.length > maxRows) capError(path, maxRows) else rows
    fmt match {
      case "json" => // pretty array, like json.dump(indent=2)
        val rows = guard(capped.toJSON.collect())
        Files.writeString(p, rows.mkString("[\n  ", ",\n  ", "\n]"))
      case "jsonl" | "ndjson" =>
        Files.writeString(p,
          guard(capped.toJSON.collect()).mkString("", "\n", "\n"))
      case "csv" =>
        val cols = df.columns
        val body = guard(capped
            .select(cols.map(c => col(c).cast("string")): _*)
            .collect())
          .map(r => cols.indices.map(i =>
            Option(r.getString(i)).getOrElse("")).mkString(","))
        Files.writeString(p,
          (cols.mkString(",") +: body).mkString("", "\n", "\n"))
      case "yaml" | "yml" =>
        val cols = df.columns
        val body = guard(capped
            .select(cols.map(c => col(c).cast("string")): _*)
            .collect())
          .map { r =>
            cols.indices.map { i =>
              val prefix = if (i == 0) "- " else "  "
              s"$prefix${cols(i)}: ${Option(r.getString(i)).getOrElse("null")}"
            }.mkString("\n")
          }
        Files.writeString(p, body.mkString("", "\n", "\n"))
      case "parquet" =>
        // no collect path exists here, so the guard is a bounded count
        // probe (limit(max+1) scans at most that many rows)
        if (capped.count() > maxRows) capError(path, maxRows)
        df.coalesce(1).write.mode("overwrite").parquet(path)
      case other => throw new IllegalArgumentException(
        s"Unsupported file type: $other")
    }
  }

  /** Recursively delete a directory tree, children first (no-op when
    * absent). The one recursive delete of the engine. */
  def rmTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val all = scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toList)
      all.reverse.foreach(Files.deleteIfExists)
    }

  /** The entries of directory `p`, read with the listing stream closed:
    * an unclosed `Files.list` holds its descriptor for the life of the
    * JVM, even once fully consumed. */
  def listDir(p: java.nio.file.Path): List[java.nio.file.Path] =
    scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList)

  /** The volume scratch lives on: `SPARK_GRAFT_SCRATCH` →
    * `/dev/shm` when writable → `java.io.tmpdir`. Exposed so session
    * builders (Bench/Verify) can point `spark.local.dir` — shuffle
    * files, block-manager store, disk-spill — at the same fast volume;
    * mains that deliberately measure disk behavior (MemStress) must NOT
    * use it. */
  lazy val scratchBase: java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    base
  }

  /** One process-wide scratch root, removed recursively by a SINGLE
    * shutdown hook (registered on first use).
    *
    * PLACEMENT (optimization guide §6, I/O and file layout): everything
    * under this root is per-invocation scratch — staged micro-batch
    * files, streaming checkpoints + state stores, per-query sink
    * outputs, index build dirs — i.e. fsync-heavy SMALL-file I/O whose
    * durability ends when the query returns. That traffic belongs on
    * the fastest local volume, not on the lake's disk: Structured
    * Streaming's HDFSBackedStateStore commits one delta file per state
    * partition per micro-batch, and this host's /tmp sits on a shared
    * ext4 disk whose sync latency is the documented interference source
    * (see Bench.calibrateIo). Resolution order: `SPARK_GRAFT_SCRATCH`
    * (production: point it at node-local NVMe) → RAM-backed `/dev/shm`
    * when writable (Linux default here) → `java.io.tmpdir`. Results are
    * unchanged — scratch holds only intermediates recomputed from the
    * parquet inputs on every invocation; nothing is reused across runs
    * (every tempDir/scratchDir call returns a fresh or wiped dir). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = Files.createTempDirectory(scratchBase, "graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root)))
    root
  }

  /** Fresh, unique scratch directory on the fast volume (see
    * [[scratchRoot]]). Unlike [[scratchDir]], every call returns a NEW
    * sibling — the drop-in replacement for the query surface's
    * `Files.createTempDirectory(prefix)` calls, whose default
    * `java.io.tmpdir` placement put every stream checkpoint, staged
    * file and sink output on the slow disk. */
  def tempDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(scratchRoot, prefix)

  /** Scratch directory for queries that materialize per-prefix
    * artifacts (e.g. the IVF index's corpus-sized postings). Calls with
    * the SAME prefix replace the previous directory instead of creating
    * a sibling, so repeated bench/verify passes in one process hold at
    * most ONE copy per prefix under /tmp (the prior round's files are
    * deleted here, before the rebuild) — and the whole root goes away
    * at JVM exit via one shutdown hook, not one hook per call. Callers
    * must be done reading the previous index before asking for a fresh
    * dir under the same prefix; the query surface rebuilds and reads
    * within a single invocation, which satisfies that. */
  def scratchDir(prefix: String): String = synchronized {
    val p = scratchRoot.resolve(prefix)
    rmTree(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Run INDEPENDENT Spark actions concurrently from driver threads
    * (optimization guide §2.6: overlap independent jobs — the scheduler
    * happily runs several jobs at once; actions are only sequential
    * because driver code calls them sequentially). For setup jobs whose
    * serialized sum leaves most cores idle: staged micro-batch writes,
    * bounds probes, index builds. Each call gets a private pool sized
    * to its task count, so nesting can't starve a shared pool. Every
    * task runs to its end before the call returns, so a failure never
    * leaves a sibling still writing; then the first failing task (in
    * argument order) rethrows its ORIGINAL exception on the caller's
    * thread. Only pass tasks with no ordering contract between them
    * (never two writes a Failpoint or crash-recovery contract orders).
    * The pool's threads start on the caller's thread, so each inherits
    * the caller's Spark local properties (scheduler pool, job
    * description, job group). */
  def inParallel[A](tasks: (() => A)*): Seq[A] = {
    if (tasks.sizeIs <= 1) return tasks.map(t => t())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try
      tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = t()
      })).map(f => scala.util.Try(f.get())).map {
        case scala.util.Success(a) => a
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw e.getCause
        case scala.util.Failure(e) => throw e
      }
    finally { pool.shutdownNow(); () }
  }

  /** Run `f` with the Spark local property `key` (read at job submit,
    * inherited by threads `f` starts) set to `value`, then restore the
    * caller's value, `null` included. The engine sets the job label
    * `graft.Bench <names>` prints and the FAIR scheduler pool. */
  def withLocalProperty[A](sc: org.apache.spark.SparkContext, key: String,
      value: String)(f: => A): A = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try f finally sc.setLocalProperty(key, prev)
  }

  val JobDescription = "spark.job.description"
  val SchedulerPool = "spark.scheduler.pool"

  /** `ConfigUtils.merge_configs` (common_utils.py:354-365): deep merge,
    * later maps win, nested maps merge recursively. */
  def mergeConfigs(configs: Map[String, Any]*): Map[String, Any] =
    configs.foldLeft(Map.empty[String, Any]) { (acc, cfg) =>
      cfg.foldLeft(acc) { case (m, (k, v)) =>
        (m.get(k), v) match {
          case (Some(a: Map[String @unchecked, Any @unchecked]),
              b: Map[String @unchecked, Any @unchecked]) =>
            m.updated(k, mergeConfigs(a, b))
          case _ => m.updated(k, v)
        }
      }
    }

  /** `ValidationUtils.validate_schema_compatibility`
    * (common_utils.py:431-438): every required field of the rule schema
    * must exist in the target schema. */
  def schemaCompatible(rules: Map[String, FieldRule],
      target: StructType): Boolean =
    rules.forall { case (field, r) =>
      !r.required || target.fieldNames.contains(field)
    }

  /** `PerformanceUtils.timer` (common_utils.py:232-243): wall-clock a
    * block, returning (result, seconds). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
