package graft

import java.math.RoundingMode
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE, READ, TRUNCATE_EXISTING, WRITE}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftx.{Blocks, StageMetrics}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every judged query against
  * `SPARK_GRAFT_SF_DIR`, executing the FULL plan through the noop sink
  * (a bare `.count()` would let Catalyst prune most of the measured
  * work).
  *
  * Measurement protocol: `SPARK_GRAFT_REPS` (default 3) full passes
  * over the whole query set, interleaved pass-by-pass — not
  * back-to-back reps of one query — so first-touch effects (JIT,
  * classloading, page-cache fill, shuffle-dir creation) land on pass 1
  * for every query and the per-query MEDIAN reflects steady state.
  * Single-pass numbers rotate which query pays those costs, which is
  * exactly the round-over-round noise a median kills.
  *
  * Output contract: the consumer's stdout tail window is small, so the
  * full per-query median + IO map goes to `BENCH_FULL.json` in the
  * working directory, and stdout gets ONE compact JSON line — total,
  * pass count, total shuffle, and the slowest queries that fit a fixed
  * byte budget — guaranteed to survive a 2000-char tail and parse.
  *
  * SCALING SLOPES (`SPARK_GRAFT_SLOPE`, default on): after the timing
  * passes, every query is re-timed at the sibling scale factors
  * (sf0.001 / sf0.01 next to `SPARK_GRAFT_SF_DIR`, two passes each,
  * min wins — the JVM is hot by then, so the min isolates data-size
  * effects from first-touch noise) and the per-query growth exponent
  * over the top decade — `log10(t_main / t_mid)` — lands in
  * `BENCH_FULL.json` as `slopes`, with `superlinear` listing queries
  * whose exponent exceeds 1.15 (time growing faster than data). That
  * turns "survives 100×" from plan inspection into a measured number:
  * a linear-scan query shows ≤ 1.0, fixed-cost queries ~0, and
  * anything above 1 is either quadratic-in-a-bucket by design (a
  * documented candidate-pair stage) or a regression to chase. Small-SF
  * times are overhead-dominated (fixed planning cost inflates the
  * denominator), so the exponent UNDERSTATES asymptotic growth — which
  * makes the >1.15 flag conservative in the right direction: anything
  * it catches is really super-linear.
  *
  * IO REGRESSION GATE: pass-1 shuffle accounting (`io_pass1`) is the
  * input to [[IoGate]], which compares each query against the
  * committed `IO_BUDGET.json` — see its scaladoc.
  *
  * GENERATED CODE: `codegen_compiles` maps each query to the classes
  * Spark compiled while it ran in the last (warm) pass; a warm compile
  * means its code was evicted from the codegen cache.
  *
  * CALIBRATION SENTINEL: a fixed, plan-trivial probe is timed at the
  * start of every pass (main / slope / sf1) and recorded in
  * `BENCH_FULL.json` as `calibration` / `calibration_slope` /
  * `calibration_sf1`, so machine interference — which inflates a
  * whole run uniformly — is self-diagnosing rather than inferred from
  * cross-run ratio analysis. See the inline comment at `calibrate()`
  * and BASELINE.md "calibration" for the normalization rule.
  *
  * BURST DISCOUNTING (mechanical): mid-pass probes bracket every query
  * (pass start, every [[CalEvery]] queries, pass end); a query whose
  * bracketing probes exceed 2× the run-median probe in a MAJORITY of
  * passes lands in `burst_flagged` — its median is contaminated by a
  * machine burst, and pin/regression comparisons exclude it
  * automatically (`tools/pin_compare.py`). Per-pass detail is in
  * `burst_pass_counts`. This encodes the timeline reading rule that
  * was previously applied by hand (BASELINE.md "burst adjudication").
  * THREE probe kinds bracket each query — CPU (codegen'd sum), fsync
  * WRITE (8 forced small files), and page-cache READ (32 MB re-read
  * from the lake's volume, see `calibrateRead`) — because this host's
  * interference comes in all three flavors and each is invisible to
  * the other two probes.
  *
  * NAMES MODE (`runMain graft.Bench q1_agg graph_scc …`): runs only the
  * named queries for `SPARK_GRAFT_REPS` passes and, per query, prints
  * its formatted physical plan once and then the per-job table of the
  * warm pass (see `profile`). It writes no `BENCH_FULL.json` and no
  * `BENCH_PIN_PREV.json`.
  *
  * ONE MEASURED RUN: the passes, both slope decades, names mode and
  * [[MemStress]] all time a query through [[Runner]], and read the one
  * meter, [[StageMetrics]].
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Queries between two mid-pass calibration probes. */
  val CalEvery = 25

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // shuffle files / block store / spill on the fast scratch volume
    // (same SPARK_GRAFT_SCRATCH → /dev/shm → tmpdir resolution as the
    // query-surface scratch; guide §6). MemStress deliberately does
    // NOT do this — its evidence is disk-spill behavior.
    val spark = Session("graft-bench", Map("spark.local.dir" ->
      graft.etl.Utils.tempDir("graft_local").toString))
    val runner = new Runner(spark, "bench")
    if (args.nonEmpty) profile(runner, sfDir, reps, args.toSeq)
    else {
      // PIN HYGIENE: every run overwrites BENCH_FULL.json, so a noisy or
      // subset run would silently destroy the committed pin's
      // working-tree twin (observed round 10: a contended boundary run
      // clobbered a clean 3-pass pin). Snapshot
      // the existing artifact aside ONCE per run before the first
      // overwrite — pin_compare and the next round always have the
      // previous artifact to re-derive from.
      val full = Paths.get("BENCH_FULL.json")
      if (Files.exists(full))
        Files.copy(full, Paths.get("BENCH_PIN_PREV.json"),
          StandardCopyOption.REPLACE_EXISTING)
      // DOCUMENTED LOG FILTER (VERDICT r11 #6): WindowExec's "No
      // Partition Defined … moving all data to a single partition"
      // warning is demoted to ERROR for THIS benchmark JVM only. Every
      // remaining empty-partition window in the tree is a by-design-tiny
      // frame — Scale.prefixSum/rankedPrefixSum/globalNtile offset
      // windows over ≤ shuffle-partition-count rows, and the
      // aggregate-cardinality windows in q_cumulative_distinct/q_skyline
      // — and the warning was drowning real signals in the bench tail.
      // The PLANS are deliberately unchanged: a constant partitionBy
      // (lit(0) is folded away by EliminateWindowPartitions; a
      // non-foldable pmod(hash, 1) survives) was measured to ADD a hash
      // exchange + a follow-on range exchange on 4 judged plans
      // (PlanGate: shuffles 2→4 on q_cumulative_distinct), which is the
      // wrong trade for silencing a cosmetic log line. Real global-
      // window regressions stay caught by graft.PlanGate (its
      // global-window flag and per-query window/shuffle-count budget).
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      warmUp(spark)
      val battery = new Battery(runner, sfDir, selected(), full)
      battery.passes(reps)
      if (sys.env.getOrElse("SPARK_GRAFT_SLOPE", "1") != "0")
        battery.siblingSlope()
      sys.env.get("SPARK_GRAFT_SF1_DIR")
        .filter(d => Files.isDirectory(Paths.get(d)))
        .foreach(battery.bigDecade)
    }
    spark.stop()
    // a run with any thrown query is NOT a clean benchmark: the JSON
    // carries the names, the exit code makes the harness notice
    if (runner.failed.nonEmpty) {
      System.err.println(s"[bench] ${runner.failed.size} queries failed: " +
        runner.failed.mkString(", "))
      sys.exit(2)
    }
  }

  /** The judged queries by name, narrowed to `SPARK_GRAFT_ONLY`
    * (comma-separated names: a dev-only subset, unset in real runs). */
  def selected(): Seq[(String, Query)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
  }

  /** JVM/codegen warm-up on the smallest SF, so per-query timings
    * measure the plan, not first-call JIT and classloading. */
  def warmUp(spark: SparkSession): Unit =
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `doc` as one line of JSON; Scala maps keep their iteration order. */
  def json(doc: Any): String = mapper.writeValueAsString(doc)

  /** `v` rounded half-up to `scale` decimals, and written with them. */
  def round(v: Double, scale: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(scale, RoundingMode.HALF_UP)

  /** Generated classes Spark has compiled in this JVM so far. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One measured run: wall seconds into the noop sink (None when the
    * query threw), the meter's delta and job rows (metered runs only),
    * and the classes Spark compiled while it ran. */
  final case class Run(secs: Option[Double], io: Option[StageMetrics.Totals],
      jobs: Seq[StageMetrics.Job], compiles: Long)

  /** The measured run every measurement main shares, over one session
    * and its one meter. A run writes the query's full plan into the
    * noop sink and times it. A query that throws is recorded in
    * `failed` and gets no time: a quick throw at a big SF (an OOM, the
    * exact blow-up a slope hunts) would otherwise read as a benign
    * time. A metered run drains the listener bus before and after the
    * timed section, never inside it. */
  final class Runner(val spark: SparkSession, tag: String) {
    val meter: StageMetrics.Meter =
      StageMetrics.install(spark.sparkContext)
    /** Queries that threw in any run, in the order they first failed. */
    val failed = mutable.LinkedHashSet.empty[String]

    def apply(name: String, where: String, metered: Boolean = false)(
        query: => DataFrame): Run = {
      val sc = spark.sparkContext
      val before = if (metered) Some(StageMetrics.totals(sc, meter)) else None
      meter.clearJobs()
      val c0 = compiles()
      val t0 = System.nanoTime()
      val secs =
        try {
          query.write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[$tag] $name $where failed: ${e.getMessage}")
          None
        }
      val compiled = compiles() - c0
      val io = before.map(StageMetrics.totals(sc, meter) - _)
      val jobs = if (metered) StageMetrics.jobs(sc, meter) else Nil
      // Release persisted state OUTSIDE the timed section: iterative
      // operators (pagerank/CC/reachability) localCheckpoint their
      // loop invariants, and those blocks outlive the query until
      // GC — 268 queries × 3 passes of accumulation inflates LATER
      // queries' timings (measured: a mid-alphabet cluster read 2-4×
      // its isolated cost in the full run). Each query now starts
      // from the same cold-store state its isolated run sees.
      Blocks.dropAll(spark)
      Run(secs, io, jobs, compiled)
    }
  }

  /** One reading of the three calibration probes, in seconds. */
  final case class Probe(cpu: Double, io: Double, read: Double)

  // ---- calibration sentinel ----------------------------------------
  // A fixed, data-independent, plan-trivial probe (codegen'd sum over
  // a 64M range, one partial-agg exchange of 32 rows) timed at the
  // START OF EVERY PASS — main, small-SF slope, and sf1 alike. Its
  // cost depends only on machine conditions, never on the query set,
  // so machine interference is SELF-DIAGNOSING: a run whose query
  // times read 1.3× the committed pin while its calibration also
  // reads 1.3× the pin's calibration is interference; the same query
  // inflation over a FLAT calibration is a real engine regression.
  // Normalization rule (BASELINE.md "calibration"): comparable time =
  // measured time × (pin calibration median / run calibration median).
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64000000L, 1L, 32)
      .selectExpr("sum(id * 2 + 1) AS s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
  // I/O sentinel: CPU probes CANNOT see disk interference (measured
  // on this host: flat 0.3s CPU probes while the whole streaming
  // family ran 3-8x slow — state-store commits are fsync/small-file
  // bound, and the shared disk's sync latency had degraded; large
  // sequential writes were unaffected). This probe times the
  // streaming-shaped pattern: 8 small files, each force()d to disk.
  private def calibrateIo(): Double = {
    val dir = Files.createTempDirectory("graft_iocal")
    val buf = ByteBuffer.wrap(Array.fill(262144)(7: Byte))
    val t0 = System.nanoTime()
    (0 until 8).foreach { i =>
      val ch = FileChannel.open(dir.resolve(s"p$i"), CREATE, WRITE)
      try { buf.rewind(); ch.write(buf); ch.force(true) }
      finally ch.close()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    (0 until 8).foreach(i => Files.delete(dir.resolve(s"p$i")))
    Files.delete(dir)
    dt
  }
  // READ sentinel: the CPU and fsync-WRITE probes cannot see
  // PAGE-CACHE EVICTION + disk-READ contention (measured round 12: a
  // ~35 s interference window inflated the documents-scanning family
  // 4-5× across two consecutive passes while the bracketing CPU
  // probes read a flat ~0.2 s and the write probes ~0.02 s — the
  // burst discounting was blind to it). This probe re-reads a fixed
  // 32 MB file created once on java.io.tmpdir — the LAKE's volume,
  // NOT the /dev/shm scratch: on a quiet machine the file stays
  // page-cached (~ms read); interference heavy enough to evict the
  // cache and contend the disk turns the next probe into a real
  // contended read (0.1 s+), which is exactly the burst class the
  // per-query bracketing must catch. Probing re-warms the file, so
  // a flagged probe means the machine evicted it SINCE the previous
  // probe — the right granularity for per-query attribution.
  private lazy val readProbePath: Path = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_readprobe.bin")
    if (!Files.exists(p) || Files.size(p) != (32L << 20)) {
      val chunk = Array.tabulate(1 << 20)(i => (i * 31 + 7).toByte)
      val ch = FileChannel.open(p, CREATE, WRITE, TRUNCATE_EXISTING)
      try (0 until 32).foreach { _ => ch.write(ByteBuffer.wrap(chunk)); () }
      finally ch.close()
    }
    p
  }
  private def calibrateRead(): Double = {
    val buf = ByteBuffer.allocate(1 << 20)
    val t0 = System.nanoTime()
    val ch = FileChannel.open(readProbePath, READ)
    try { while (ch.read(buf) > 0) buf.clear() } finally ch.close()
    (System.nanoTime() - t0) / 1e9
  }
  private def probe(spark: SparkSession): Probe =
    Probe(calibrate(spark), calibrateIo(), calibrateRead())

  // ---- mechanical burst discounting -------------------------------
  /** The timeline reading rule, encoded (it used to be applied by a
    * human): a query's pass is BURST-BRACKETED when either of the two
    * probes bracketing it (the nearest at-or-before and the nearest
    * after) exceeds, in any of its three kinds, 2× the run-median probe
    * of that kind + 0.1 s. A query whose MAJORITY of passes are
    * burst-bracketed has a contaminated median and lands in
    * `burst_flagged` — pin/regression comparisons must exclude it
    * (tools/pin_compare.py does). Probes fire at pass start
    * (`starts`, one per pass), every [[CalEvery]] queries and at pass
    * end (`timeline`: pass, query index, probe), so every query is
    * bracketed. The +0.1 s absolute floor keeps millisecond-scale
    * probe jitter from flagging — the bursts this hunts are 5–30× and
    * seconds-scale (BASELINE.md). Returns each query's burst-bracketed
    * pass count and the flagged queries. */
  def burstFlags(names: Seq[String], starts: Seq[Probe],
      timeline: Seq[(Int, Int, Probe)]): (Map[String, Int], Seq[String]) =
    if (starts.isEmpty) (Map.empty, Seq.empty)
    else {
      val all = starts ++ timeline.map(_._3)
      def med(kind: Probe => Double) = {
        val s = all.map(kind).sorted; s(s.length / 2)
      }
      val (cpuMed, ioMed, readMed) = (med(_.cpu), med(_.io), med(_.read))
      def spiked(p: Probe) = p.cpu > 2 * cpuMed + 0.1 ||
        p.io > 2 * ioMed + 0.1 || p.read > 2 * readMed + 0.1
      val bracketed = for {
        (start, i) <- starts.zipWithIndex
        probes = ((0, start) +: timeline.collect {
          case (pass, qi, p) if pass == i + 1 => (qi, p) }).sortBy(_._1)
        (name, qi) <- names.zipWithIndex
        if (probes.filter(_._1 <= qi).lastOption ++ probes.find(_._1 > qi))
          .exists(b => spiked(b._2))
      } yield name
      val counts = bracketed.groupMapReduce(identity)(_ => 1)(_ + _)
      (counts, names.filter(n => counts.getOrElse(n, 0) * 2 > starts.length))
    }

  /** A query's growth exponent over one decade of data:
    * `log10(tHigh / tLow) / decade`. */
  def exponent(tLow: Double, tHigh: Double, decade: Double): Double =
    math.log10(tHigh / tLow) / decade

  /** Exponent above which time grows faster than data. */
  private val Superlinear = 1.15

  private val SfOf = raw"sf([0-9.]+)/?$$".r
  private def sfOf(dir: String): Option[Double] =
    SfOf.findFirstMatchIn(dir).map(_.group(1).toDouble)

  /** One benchmark run's measurements over `names` at `sfDir` and the
    * document they make, rewritten at `out` after every pass and slope
    * block (one map, so a partial run still leaves parseable JSON). */
  final class Battery(runner: Runner, sfDir: String,
      names: Seq[(String, Query)], out: Path) {
    private val spark = runner.spark
    private val starts = mutable.ListBuffer.empty[Probe]
    private val timeline = mutable.ListBuffer.empty[(Int, Int, Probe)]
    private val calSlope = mutable.ListBuffer.empty[Double]
    private val calSf1 = mutable.ListBuffer.empty[Double]
    private val raw = mutable.Map.empty[String, List[Double]]
    private val io = mutable.Map.empty[String, StageMetrics.Totals]
    private val compiled = mutable.Map.empty[String, Long]
    private val doc = mutable.LinkedHashMap.empty[String, Any]
    // the last compact total line — re-printed after each slope block
    // so the stdout tail's LAST metric line is always the total
    private var lastCompact = ""

    private def median(n: String): Option[Double] =
      raw.get(n).filter(_.nonEmpty).map(vs => vs.sorted.apply(vs.length / 2))
    private def secs(kvs: Seq[(String, Double)]) =
      ListMap.from(kvs.map { case (k, v) => k -> round(v) })
    private def mb(bytes: Long) = round(bytes / 1048576.0, 1)

    /** `reps` passes over every query. Per-query IO (input rows,
      * shuffle, task time) is metered on pass 1 only: the plan's IO is
      * deterministic across passes, and the meter's bus drain would
      * perturb the timing passes. */
    def passes(reps: Int): Unit = {
      probe(spark) // first-touch warm-up of the sentinels themselves
      for (pass <- 1 to reps) {
        starts += probe(spark)
        for (((name, fn), qi) <- names.zipWithIndex) {
          // MID-PASS probes: per-pass sentinels cannot see interference
          // BURSTS (measured on this host: windows of ~5x slowdown
          // lasting minutes inside an otherwise-quiet pass, which
          // inflated a handful of queries 9-31x while the pass-start
          // sentinel read clean both before and after)
          if (qi > 0 && qi % CalEvery == 0)
            timeline += ((pass, qi, probe(spark)))
          val r = runner(name, s"pass $pass", metered = pass == 1)(
            fn(spark, sfDir))
          r.secs.foreach(s => raw(name) = raw.getOrElse(name, Nil) :+ s)
          r.io.foreach(io(name) = _)
          compiled(name) = r.compiles
        }
        // pass-END probe: the last timeline segment must be bracketed
        // too, or the tail queries of a pass would be un-adjudicable
        timeline += ((pass, names.length, probe(spark)))
        emit(pass)
      }
    }

    // written after EVERY completed pass — medians over passes so far —
    // so a consumer-side timeout mid-run still finds a complete,
    // parseable line in the stdout tail (the last one printed wins)
    private def emit(passesDone: Int): Unit = {
      val medians = names.flatMap { case (n, _) => median(n).map(n -> _) }
      val total = medians.map(_._2).sum
      val (burstCounts, burstFlagged) =
        burstFlags(names.map(_._1), starts.toSeq, timeline.toSeq)
      // effective core count, printed in BOTH artifacts (PERF r12
      // flagged suspect_cpus_ignored; the env IS honored — prove it)
      val head = Seq("metric" -> "total", "value" -> round(total),
        "unit" -> "sec", "reps" -> passesDone,
        "cpus" -> Session.cores(spark.sparkContext.master),
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "task_ms_total" -> io.values.map(_.taskMs).sum,
        "n_queries" -> medians.length)
      val shuffle = "shuffle_write_total_mb" ->
        round(io.values.map(_.shuffleWrite).sum / 1048576.0, 1)
      val calibration = "calibration" -> starts.map(p => round(p.cpu)).toSeq
      val failures = Seq("n_failed" -> runner.failed.size,
        "failures" -> runner.failed.toSeq)
      doc ++= head ++ Seq(
        "queries" -> secs(medians),
        "raw_passes" -> ListMap.from(names.map { case (n, _) =>
          n -> raw.getOrElse(n, Nil).map(round(_)) }),
        // task_ms: pass-1 executor task-time total — the scaling
        // evidence (PERF r12 suspect_cpus_ignored): wall ≈ task_ms/1000
        // means serial machinery; wall ≪ task_ms/1000 means parallel
        // data work that WOULD separate the c8/c32 runs
        "io_pass1" -> ListMap.from(names.map { case (n, _) =>
          val t = io.getOrElse(n, StageMetrics.Totals(0, 0, 0))
          n -> ListMap("in_rows" -> t.inputRows,
            "shuffle_r_mb" -> mb(t.shuffleRead),
            "shuffle_w_mb" -> mb(t.shuffleWrite), "task_ms" -> t.taskMs)
        }),
        "codegen_compiles" -> ListMap.from(names.map { case (n, _) =>
          n -> compiled.getOrElse(n, 0L) }),
        shuffle, calibration,
        "calibration_io" -> starts.map(p => round(p.io)).toSeq,
        "calibration_read" -> starts.map(p => round(p.read)).toSeq,
        "calibration_timeline" -> timeline.map { case (p, i, pr) =>
          Seq(p, i, round(pr.cpu), round(pr.io), round(pr.read)) }.toSeq,
        "burst_flagged" -> burstFlagged,
        "burst_pass_counts" -> ListMap.from(burstCounts.toSeq.sortBy(_._1))) ++
        failures :+ ("sf" -> sfDir)
      write()
      // the slowest queries that fit the stdout tail's byte budget
      val budget = 1300
      val kept = mutable.ListBuffer.empty[(String, Double)]
      var used = 0
      for (kv <- medians.sortBy(-_._2) if used + kv._1.length + 12 < budget) {
        kept += kv; used += kv._1.length + 12
      }
      lastCompact = json(ListMap.from(head ++ Seq(shuffle, calibration,
        "burst_flagged_n" -> burstFlagged.length) ++ failures ++ Seq(
        "queries" -> secs(kept.toSeq),
        "full" -> out.getFileName.toString, "sf" -> sfDir)))
      println(lastCompact)
    }

    private def write(): Unit = Files.writeString(out, json(doc) + "\n")

    /** The slope decades' one timing loop: two passes, each opened by a
      * CPU probe into `cal`, that run every query at each of `dirs`; a
      * query's time at a dir is the min of its runs there — the JVM is
      * hot by then, so the min isolates data-size effects from
      * first-touch noise. */
    private def minOf2(qs: Seq[(String, Query)], dirs: Seq[String],
        cal: mutable.ListBuffer[Double]): Map[(String, String), Double] = {
      val best = mutable.Map.empty[(String, String), Double]
      for (_ <- 1 to 2) {
        cal += calibrate(spark)
        for ((name, fn) <- qs; dir <- dirs;
             s <- runner(name, s"slope@$dir")(fn(spark, dir)).secs)
          best((name, dir)) = best.get((name, dir)).fold(s)(math.min(_, s))
      }
      best.toMap
    }

    /** One decade's exponents over `qs` (a query missing a time at
      * either end has none), and the super-linear queries among them. */
    private def slopes(qs: Seq[String], decade: Double)(
        low: String => Option[Double], high: String => Option[Double])
        : (Seq[(String, Double)], Seq[String]) = {
      val ss = qs.flatMap(n => for {
        lo <- low(n) if lo > 0
        hi <- high(n) if hi > 0
      } yield n -> exponent(lo, hi, decade))
      (ss, ss.filter(_._2 > Superlinear).map(_._1))
    }

    /** Merge one slope block into the document and print its stdout
      * line, then the total line again so it stays last. */
    private def publish(keys: Seq[(String, Any)], line: Seq[(String, Any)],
        superlinear: Seq[String]): Unit = {
      doc ++= keys
      write()
      println(json(ListMap.from(line ++ Seq(
        "superlinear_n" -> superlinear.length, "superlinear" -> superlinear,
        "full" -> out.getFileName.toString))))
      if (lastCompact.nonEmpty) println(lastCompact)
    }

    /** The sibling decade (see the scaladoc): every query re-timed at
      * the sf0.001 / sf0.01 siblings of `sfDir`; its exponent sets the
      * main run's median against the nearer sibling's min of 2. */
    def siblingSlope(): Unit = {
      val main = Paths.get(sfDir).toAbsolutePath
      val siblings = Seq("sf0.001", "sf0.01").map(main.getParent.resolve(_))
        .filter(p => Files.isDirectory(p) && p != main).map(_.toString)
      for (mainSf <- sfOf(sfDir) if siblings.nonEmpty) {
        val times = minOf2(names, siblings, calSlope)
        val mid = siblings.last // ascending by SF: the nearer decade
        val (ss, superlinear) =
          slopes(names.map(_._1), math.log10(mainSf / sfOf(mid).get))(
            n => times.get((n, mid)), median)
        publish(Seq("slopes" -> secs(ss),
          "small_sf_secs" -> ListMap.from(names.flatMap { case (n, _) =>
            val bySf = siblings.flatMap(d => times.get((n, d))
              .map(Paths.get(d).getFileName.toString -> round(_)))
            if (bySf.isEmpty) None else Some(n -> ListMap.from(bySf))
          }),
          "calibration_slope" -> calSlope.map(round(_)).toSeq,
          "superlinear" -> superlinear), Seq("metric" -> "slope"), superlinear)
      }
    }

    /** The optional BIG decade (`SPARK_GRAFT_SF1_DIR`): re-time the
      * top-N most expensive queries at a LARGER scale factor (a 10×
      * key-shifted scale-up lives outside the read-only testdata tree,
      * e.g. /tmp/sf1 — see BASELINE.md "sf1 decade"). Small-SF slopes
      * understate asymptotic growth because fixed costs inflate the
      * denominator; the big decade measures growth where data
      * dominates, which is what catches quadratic-in-a-block shapes
      * empirically. */
    def bigDecade(bigDir: String): Unit =
      for (m <- sfOf(sfDir); b <- sfOf(bigDir) if b > m) {
        val topN = sys.env.getOrElse("SPARK_GRAFT_SF1_TOP", "20").toInt
        // selection: the top-N most expensive by full-run median,
        // UNIONed with any names pinned via SPARK_GRAFT_SF1_QUERIES
        // (comma-separated) — so family representatives can join the
        // decade regardless of where they rank by cost
        val pinned = sys.env.get("SPARK_GRAFT_SF1_QUERIES")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty)
        val byCost = names.flatMap { case (n, fn) =>
          median(n).map(t => (n, fn, t)) }.sortBy(-_._3)
        val top = (byCost.take(topN) ++ byCost.filter(t => pinned(t._1)))
          .distinctBy(_._1).map(t => (t._1, t._2))
        // BOTH ends of the decade are timed in ONE loop with the SAME
        // statistic (min of 2 isolated runs): the full-run median
        // carries inter-query interference the isolated big-SF min
        // does not, which biased a tBig/median(tMain) slope DOWNWARD —
        // under-detecting exactly the blow-ups this gate exists to
        // catch. Ranking above still uses the median (selection bias
        // is harmless); the slope never does.
        val times = minOf2(top, Seq(bigDir, sfDir), calSf1)
        def at(dir: String) = top.flatMap { case (n, _) =>
          times.get((n, dir)).map(n -> _) }.sortBy(_._1)
        val (ss, superlinear) = slopes(top.map(_._1), math.log10(b / m))(
          n => times.get((n, sfDir)), n => times.get((n, bigDir)))
        publish(Seq("slopes_sf1" -> secs(ss), "sf1_secs" -> secs(at(bigDir)),
          "sf1_main_secs" -> secs(at(sfDir)),
          "calibration_sf1" -> calSf1.map(round(_)).toSeq,
          "sf1_dir" -> bigDir, "superlinear_sf1" -> superlinear),
          Seq("metric" -> "slope_sf1", "top_n" -> top.length), superlinear)
      }
  }

  /** Names mode: for each query, its formatted physical plan once, then
    * every Spark job of the warm (last) of `reps` passes into the noop
    * sink — start offset, duration, gap since the previous job, stage
    * task totals and job description — so serialized driver actions
    * and their relative weight are visible without the UI; the header
    * counts the pass's compiled classes. Every pass starts from an
    * empty cache, and a query that throws leaves the others running. */
  private def profile(runner: Runner, sfDir: String, reps: Int,
      names: Seq[String]): Unit = {
    val spark = runner.spark
    names.foreach { name =>
      def query = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      try query.explain("formatted")
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name plan failed: ${e.getMessage}")
      }
      Blocks.dropAll(spark)
      for (rep <- 1 to reps) {
        val r = runner(name, s"pass $rep", metered = rep == reps)(query)
        for (wall <- r.secs if rep == reps) { // print the warm pass only
          println(f"\n===== $name pass$rep wall=$wall%.3f s " +
            s"jobs=${r.jobs.size} compiles=${r.compiles} =====")
          val t0ms = r.jobs.map(_.start).minOption.getOrElse(0L)
          var lastEnd = 0L
          r.jobs.foreach { j =>
            val gap = j.start - t0ms - lastEnd
            println(f"  job ${j.id}%3d +${(j.start - t0ms) / 1000.0}%6.2fs " +
              f"dur=${(j.end - j.start) / 1000.0}%6.3fs gap=${gap / 1000.0}%6.3fs " +
              f"tasks=${j.tasks}%4d taskTime=${j.taskMs / 1000.0}%7.3fs ${j.desc.take(60)}")
            lastEnd = j.end - t0ms
          }
        }
      }
    }
  }
}
