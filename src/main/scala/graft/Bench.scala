package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

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
  * (pass start, every `calEvery` queries, pass end); a query whose
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
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // shuffle files / block store / spill on the fast scratch volume
    // (same SPARK_GRAFT_SCRATCH → /dev/shm → tmpdir resolution as the
    // query-surface scratch; guide §6). MemStress deliberately does
    // NOT do this — its evidence is disk-spill behavior.
    val spark = Session("graft-bench", Map("spark.local.dir" ->
      graft.etl.Utils.tempDir("graft_local").toString))
    if (args.nonEmpty) {
      profile(spark, sfDir, reps, args.toSeq)
      spark.stop()
      return
    }
    val cpus = Session.cores(spark.sparkContext.master)
    // PIN HYGIENE: every run overwrites BENCH_FULL.json, so a noisy or
    // subset run would silently destroy the committed pin's
    // working-tree twin (observed round 10: the driver's contended
    // boundary run clobbered the builder's clean 3-pass pin). Snapshot
    // the existing artifact aside ONCE per run before the first
    // overwrite — pin_compare and the next round always have the
    // previous artifact to re-derive from.
    locally {
      val full = java.nio.file.Paths.get("BENCH_FULL.json")
      if (java.nio.file.Files.exists(full)) {
        java.nio.file.Files.copy(full,
          java.nio.file.Paths.get("BENCH_PIN_PREV.json"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }
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

    // JVM/codegen warmup on the smallest SF so per-query timings measure
    // the plan, not first-call JIT + classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

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
    def calibrate(): Double = {
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
    def calibrateIo(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft_iocal")
      val buf = java.nio.ByteBuffer.wrap(Array.fill(262144)(7: Byte))
      val t0 = System.nanoTime()
      (0 until 8).foreach { i =>
        val ch = java.nio.channels.FileChannel.open(
          dir.resolve(s"p$i"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try { buf.rewind(); ch.write(buf); ch.force(true) }
        finally ch.close()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      (0 until 8).foreach(i =>
        java.nio.file.Files.delete(dir.resolve(s"p$i")))
      java.nio.file.Files.delete(dir)
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
    val readProbePath = {
      val p = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_readprobe.bin")
      if (!java.nio.file.Files.exists(p) ||
          java.nio.file.Files.size(p) != (32L << 20)) {
        val chunk = Array.tabulate(1 << 20)(i => (i * 31 + 7).toByte)
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try (0 until 32).foreach { _ =>
          ch.write(java.nio.ByteBuffer.wrap(chunk)); ()
        } finally ch.close()
      }
      p
    }
    def calibrateRead(): Double = {
      val buf = java.nio.ByteBuffer.allocate(1 << 20)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(readProbePath,
        java.nio.file.StandardOpenOption.READ)
      try { while (ch.read(buf) > 0) buf.clear() } finally ch.close()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // first-touch warmup of the sentinels themselves
    calibrateIo()
    calibrateRead()
    val calMainIo = scala.collection.mutable.ListBuffer.empty[Double]
    val calMainRead = scala.collection.mutable.ListBuffer.empty[Double]
    val calMain = scala.collection.mutable.ListBuffer.empty[Double]
    val calSlope = scala.collection.mutable.ListBuffer.empty[Double]
    val calSf1 = scala.collection.mutable.ListBuffer.empty[Double]
    // MID-PASS probes every `calEvery` queries: per-pass sentinels
    // cannot see interference BURSTS (measured on this host: windows
    // of ~5x slowdown lasting minutes inside an otherwise-quiet pass,
    // which inflated a handful of queries 9-31x while the pass-start
    // sentinel read clean both before and after). The timeline
    // [pass, query_index, secs] brackets every query between two
    // probes, so a per-query blow-up is attributable: probes flat ->
    // engine regression; probes spiked -> machine burst.
    val calEvery = sys.env.getOrElse("SPARK_GRAFT_CAL_EVERY", "25").toInt
    // timeline entries: (pass, query_index, cpu_secs, io_secs, read_secs)
    val calTimeline = scala.collection.mutable.ListBuffer
      .empty[(Int, Int, Double, Double, Double)]
    def calJson(vs: Seq[Double]): String =
      vs.map(v => f"$v%.3f").mkString("[", ",", "]")

    // ---- mechanical burst discounting -------------------------------
    // The timeline reading rule, encoded (it used to be applied by a
    // human): a query's pass is BURST-BRACKETED when either of the two
    // probes bracketing it (the nearest at-or-before and the nearest
    // after, CPU or I/O) exceeds 2× the run-median probe of its kind.
    // A query whose MAJORITY of passes are burst-bracketed has a
    // contaminated median and lands in `burst_flagged` — pin/regression
    // comparisons must exclude it (tools/pin_compare.py does). Probes
    // fire at pass start, every `calEvery` queries, and pass end, so
    // every query is bracketed. A +0.1 s absolute floor on top of the
    // 2× ratio keeps millisecond-scale probe jitter from flagging —
    // the bursts this hunts are 5–30× and seconds-scale (BASELINE.md).
    def burstFlags(names: Seq[String])
        : (Map[String, Int], Seq[String]) = {
      val cpuProbes = calMain.toSeq ++ calTimeline.map(_._3)
      val ioProbes = calMainIo.toSeq ++ calTimeline.map(_._4)
      val readProbes = calMainRead.toSeq ++ calTimeline.map(_._5)
      if (cpuProbes.isEmpty || calMain.isEmpty)
        return (Map.empty, Seq.empty)
      def med(vs: Seq[Double]) = { val s = vs.sorted; s(s.length / 2) }
      val (cpuMed, ioMed, readMed) =
        (med(cpuProbes), med(ioProbes), med(readProbes))
      val passes = calMain.length
      val counts = scala.collection.mutable.Map.empty[String, Int]
      for (p <- 1 to passes) {
        val probes = ((0, calMain(p - 1), calMainIo(p - 1),
            calMainRead(p - 1)) +:
          calTimeline.filter(_._1 == p).map(t => (t._2, t._3, t._4, t._5)))
          .sortBy(_._1)
        for ((name, qi) <- names.zipWithIndex) {
          val brackets = probes.filter(_._1 <= qi).lastOption.toSeq ++
            probes.find(_._1 > qi).toSeq
          if (brackets.exists(pr =>
            pr._2 > 2 * cpuMed + 0.1 || pr._3 > 2 * ioMed + 0.1 ||
              pr._4 > 2 * readMed + 0.1))
            counts(name) = counts.getOrElse(name, 0) + 1
        }
      }
      val flagged = names.filter(n => counts.getOrElse(n, 0) * 2 > passes)
      (counts.toMap, flagged)
    }

    // dev-only subset filter (comma-separated names); driver leaves unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // per-query IO (input rows, shuffle read/write bytes) is measured
    // on pass 1 only — the plan's IO is deterministic across passes,
    // and the snapshot's listener-bus drain would perturb the timing
    // passes
    val ioAcc = org.apache.spark.graftx.StageMetrics
      .install(spark.sparkContext)
    val io = scala.collection.mutable.Map
      .empty[String, org.apache.spark.graftx.StageMetrics.Totals]
    val raw = scala.collection.mutable.Map.empty[String, List[Double]]
    val compiled = scala.collection.mutable.Map.empty[String, Long]
    // queries that threw on any pass: recorded in BOTH JSON outputs and
    // turned into a non-zero exit, so a partially-failed run can never
    // read as clean from its timing totals alone
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]

    def fmt(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    def rawFmt(kvs: Seq[(String, List[Double])]): String =
      kvs.map { case (k, vs) =>
        "\"" + k + "\":[" + vs.map(v => f"$v%.3f").mkString(",") + "]"
      }.mkString("{", ",", "}")
    def mb(v: Long): String = f"${v / 1048576.0}%.1f"

    // the last compact total line — re-printed after the slope block so
    // the stdout tail's LAST metric line is always the total
    var lastCompact = ""

    // emit after EVERY completed pass — medians over passes so far — so
    // a consumer-side timeout mid-run still finds a complete, parseable
    // line in the stdout tail (the last one printed wins the window)
    def emit(passesDone: Int): Unit = {
      val medians = names.map { case (name, _) =>
        val ts = raw(name).sorted
        name -> ts(ts.length / 2)
      }
      val total = medians.map(_._2).sum
      val ioJson = names.map { case (n, _) =>
        val t = io.getOrElse(n,
          org.apache.spark.graftx.StageMetrics.Totals(0, 0, 0))
        // task_ms: pass-1 executor task-time total — the scaling
        // evidence (PERF r12 suspect_cpus_ignored): wall ≈ task_ms/1000
        // means serial machinery; wall ≪ task_ms/1000 means parallel
        // data work that WOULD separate the c8/c32 runs
        "\"" + n + s"""\":{"in_rows":${t.inputRows},""" +
          s""""shuffle_r_mb":${mb(t.shuffleRead)},""" +
          s""""shuffle_w_mb":${mb(t.shuffleWrite)},""" +
          s""""task_ms":${t.taskMs}}"""
      }.mkString("{", ",", "}")
      val shuffleTotalMb = io.values.map(_.shuffleWrite).sum / 1048576.0
      val failJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val (burstCounts, burstFlagged) = burstFlags(names.map(_._1))
      val burstJson = burstFlagged.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val burstCountJson = burstCounts.toSeq.filter(_._2 > 0).sortBy(_._1)
        .map { case (n, c) => "\"" + n + s"""\":$c""" }
        .mkString("{", ",", "}")
      // effective core count, printed in BOTH artifacts (PERF r12
      // flagged suspect_cpus_ignored; the env IS honored — prove it)
      val taskMsTotal = io.values.map(_.taskMs).sum
      val fullJson =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$passesDone,""" +
          f""""cpus":$cpus,""" +
          f""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
          f""""task_ms_total":$taskMsTotal,""" +
          f""""n_queries":${medians.length},"queries":${fmt(medians)},""" +
          f""""raw_passes":${rawFmt(names.map { case (n, _) => n -> raw(n) })},""" +
          f""""io_pass1":$ioJson,""" +
          f""""codegen_compiles":${names.map { case (n, _) =>
            "\"" + n + "\":" + compiled.getOrElse(n, 0L) }
            .mkString("{", ",", "}")},""" +
          f""""shuffle_write_total_mb":$shuffleTotalMb%.1f,""" +
          f""""calibration":${calJson(calMain.toSeq)},""" +
          f""""calibration_io":${calJson(calMainIo.toSeq)},""" +
          f""""calibration_read":${calJson(calMainRead.toSeq)},""" +
          f""""calibration_timeline":${calTimeline.toSeq
            .map { case (p, i, s, io, rd) =>
              f"[$p,$i,$s%.3f,$io%.3f,$rd%.3f]" }
            .mkString("[", ",", "]")},""" +
          f""""burst_flagged":$burstJson,""" +
          f""""burst_pass_counts":$burstCountJson,""" +
          f""""n_failed":${failed.size},"failures":$failJson,""" +
          f""""sf":"$sfDir"}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), fullJson + "\n")
      val budget = 1300
      val kept = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      var used = 0
      for (kv <- medians.sortBy(-_._2) if used + kv._1.length + 12 < budget) {
        kept += kv; used += kv._1.length + 12
      }
      lastCompact =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$passesDone,""" +
          f""""cpus":$cpus,""" +
          f""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
          f""""task_ms_total":$taskMsTotal,""" +
          f""""n_queries":${medians.length},""" +
          f""""shuffle_write_total_mb":$shuffleTotalMb%.1f,""" +
          f""""calibration":${calJson(calMain.toSeq)},""" +
          f""""burst_flagged_n":${burstFlagged.length},""" +
          f""""n_failed":${failed.size},"failures":$failJson,""" +
          f""""queries":${fmt(kept.toSeq)},""" +
          f""""full":"BENCH_FULL.json","sf":"$sfDir"}"""
      println(lastCompact)
    }

    for (pass <- 1 to reps) {
      calMain += calibrate()
      calMainIo += calibrateIo()
      calMainRead += calibrateRead()
      for (((name, fn), qi) <- names.zipWithIndex) {
        if (calEvery > 0 && qi > 0 && qi % calEvery == 0)
          calTimeline += ((pass, qi, calibrate(), calibrateIo(),
            calibrateRead()))
        val before =
          if (pass == 1) Some(org.apache.spark.graftx.StageMetrics
            .totals(spark.sparkContext, ioAcc))
          else None
        val c0 = compiles()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(
            s"[bench] $name pass $pass failed: ${e.getMessage}")
        }
        raw(name) = raw.getOrElse(name, Nil) :+ (System.nanoTime() - t0) / 1e9
        compiled(name) = compiles() - c0
        before.foreach { b =>
          io(name) = org.apache.spark.graftx.StageMetrics
            .totals(spark.sparkContext, ioAcc) - b
        }
        // Release persisted state OUTSIDE the timed section: iterative
        // operators (pagerank/CC/reachability) localCheckpoint their
        // loop invariants, and those blocks outlive the query until
        // GC — 268 queries × 3 passes of accumulation inflates LATER
        // queries' timings (measured: a mid-alphabet cluster read 2-4×
        // its isolated cost in the full run). Each query now starts
        // from the same cold-store state its isolated run sees.
        org.apache.spark.graftx.Blocks.dropAll(spark)
      }
      // pass-END probe: the last timeline segment must be bracketed too,
      // or the tail queries of a pass would be un-adjudicable
      calTimeline += ((pass, names.length, calibrate(), calibrateIo(),
        calibrateRead()))
      emit(pass)
    }

    // ---- scaling slopes: re-time at the sibling SFs (see scaladoc) ----
    if (sys.env.getOrElse("SPARK_GRAFT_SLOPE", "1") != "0") {
      val sfOf = raw"sf([0-9.]+)$$".r
      val mainSf = sfOf.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
      val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      val siblings = Seq("sf0.001", "sf0.01")
        .map(n => parent.resolve(n))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.toString != java.nio.file.Paths.get(sfDir).toAbsolutePath.toString)
        .map(_.toString)
      if (mainSf.nonEmpty && siblings.nonEmpty) {
        val small = scala.collection.mutable
          .Map.empty[String, Map[String, Double]] // name -> sf -> secs
        for (dir <- siblings; p <- 1 to 2) {
          calSlope += calibrate()
          for ((name, fn) <- names) {
            val t0 = System.nanoTime()
            try fn(spark, dir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              failed += name
              System.err.println(s"[bench] $name slope@$dir failed: " +
                e.getMessage)
            }
            val secs = (System.nanoTime() - t0) / 1e9
            val cur = small.getOrElse(name, Map.empty)
            val key = dir.split('/').last
            small(name) = cur.updated(key,
              math.min(cur.getOrElse(key, Double.MaxValue), secs))
          }
        }
        val midKey = siblings.map(_.split('/').last)
          .sortBy(k => k.stripPrefix("sf").toDouble).last
        val midSf = midKey.stripPrefix("sf").toDouble
        val decade = math.log10(mainSf.get / midSf)
        val slopes = names.flatMap { case (name, _) =>
          for {
            tMid <- small.get(name).flatMap(_.get(midKey))
            tMain = raw(name).sorted.apply(raw(name).length / 2)
            if tMid > 0 && tMain > 0
          } yield name -> math.log10(tMain / tMid) / decade
        }
        val superlinear = slopes.filter(_._2 > 1.15).map(_._1)
        val slopeJson = slopes.map { case (n, s) =>
          "\"" + n + f"""\":$s%.3f""" }.mkString("{", ",", "}")
        val smallJson = small.toSeq.sortBy(_._1).map { case (n, m) =>
          "\"" + n + "\":" + m.toSeq.sortBy(_._1).map { case (k, v) =>
            "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
        }.mkString("{", ",", "}")
        // splice the slope block into BENCH_FULL.json (keep it one doc)
        val path = java.nio.file.Paths.get("BENCH_FULL.json")
        val base = java.nio.file.Files.readString(path).trim.stripSuffix("}")
        java.nio.file.Files.writeString(path,
          base + s""","slopes":$slopeJson,"small_sf_secs":$smallJson,""" +
            s""""calibration_slope":${calJson(calSlope.toSeq)},""" +
            s""""superlinear":${superlinear.map("\"" + _ + "\"")
              .mkString("[", ",", "]")}}\n""")
        println(s"""{"metric":"slope","superlinear_n":${superlinear.length},""" +
          s""""superlinear":${superlinear.map("\"" + _ + "\"")
            .mkString("[", ",", "]")},"full":"BENCH_FULL.json"}""")
        // keep the total line last in the tail window
        if (lastCompact.nonEmpty) println(lastCompact)
      }
    }
    // ---- optional BIG decade (`SPARK_GRAFT_SF1_DIR`): re-time the
    // top-N most expensive queries at a LARGER scale factor (a 10×
    // key-shifted scale-up lives outside the read-only testdata tree,
    // e.g. /tmp/sf1 — see BASELINE.md "sf1 decade"). Small-SF slopes
    // understate asymptotic growth because fixed costs inflate the
    // denominator; the big decade measures growth where data dominates,
    // which is what catches quadratic-in-a-block shapes empirically.
    sys.env.get("SPARK_GRAFT_SF1_DIR")
      .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
      .foreach { bigDir =>
        val sfOf = raw"sf([0-9.]+)/?$$".r
        val mainSf = sfOf.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
        val bigSf = sfOf.findFirstMatchIn(bigDir).map(_.group(1).toDouble)
        for (m <- mainSf; b <- bigSf if b > m) {
          val topN = sys.env.getOrElse("SPARK_GRAFT_SF1_TOP", "20").toInt
          val medianOf = (n: String) =>
            raw.get(n).filter(_.nonEmpty)
              .map(vs => vs.sorted.apply(vs.length / 2))
          // selection: the top-N most expensive by full-run median,
          // UNIONed with any names pinned via SPARK_GRAFT_SF1_QUERIES
          // (comma-separated) — so family representatives can join the
          // decade regardless of where they rank by cost
          val pinned = sys.env.get("SPARK_GRAFT_SF1_QUERIES")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
            .getOrElse(Set.empty)
          val byCost = names.flatMap { case (n, fn) =>
            medianOf(n).map(t => (n, fn, t)) }.sortBy(-_._3)
          val top = (byCost.take(topN) ++
            byCost.filter(t => pinned.contains(t._1))).distinctBy(_._1)
          // BOTH ends of the decade are timed in THIS loop with the
          // SAME statistic (min of 2 isolated reps): the full-run
          // median carries inter-query interference the isolated big-SF
          // min does not, which biased the old tBig/median(tMain) slope
          // DOWNWARD — under-detecting exactly the blow-ups this gate
          // exists to catch. Ranking above still uses the median
          // (selection bias is harmless); the slope never does.
          val big = scala.collection.mutable.Map.empty[String, Double]
          val mainIso = scala.collection.mutable.Map.empty[String, Double]
          for (p <- 1 to 2) {
            calSf1 += calibrate()
            for ((name, fn, _) <- top; (dir, acc) <-
                Seq((bigDir, big), (sfDir, mainIso))) {
              val t0 = System.nanoTime()
              // a FAILED run must not record a time: a query that throws
              // quickly at the big SF (OOM, the exact blow-up this gate
              // hunts) would otherwise yield a bogus sublinear slope and
              // read as benign — it stays out of `big`, lands in
              // `failed`, and the run exits non-zero instead
              val ok =
                try {
                  fn(spark, dir).write.format("noop").mode("overwrite")
                    .save()
                  true
                } catch { case e: Throwable =>
                  failed += name
                  System.err.println(s"[bench] $name slope@$dir failed: " +
                    e.getMessage)
                  false
                }
              if (ok) {
                val secs = (System.nanoTime() - t0) / 1e9
                acc(name) = math.min(acc.getOrElse(name, Double.MaxValue),
                  secs)
              }
              org.apache.spark.graftx.Blocks.dropAll(spark)
            }
          }
          val decade = math.log10(b / m)
          val slopes = top.flatMap { case (name, _, _) =>
            for {
              tMain <- mainIso.get(name) if tMain > 0
              tBig <- big.get(name) if tBig > 0
            } yield name -> math.log10(tBig / tMain) / decade
          }
          val superlinear = slopes.filter(_._2 > 1.15).map(_._1)
          val slopeJson = slopes.map { case (n, s) =>
            "\"" + n + f"""\":$s%.3f""" }.mkString("{", ",", "}")
          val bigJson = big.toSeq.sortBy(_._1).map { case (n, v) =>
            "\"" + n + f"""\":$v%.3f""" }.mkString("{", ",", "}")
          val mainJson = mainIso.toSeq.sortBy(_._1).map { case (n, v) =>
            "\"" + n + f"""\":$v%.3f""" }.mkString("{", ",", "}")
          val path = java.nio.file.Paths.get("BENCH_FULL.json")
          val base = java.nio.file.Files.readString(path).trim
            .stripSuffix("}")
          java.nio.file.Files.writeString(path,
            base + s""","slopes_sf1":$slopeJson,"sf1_secs":$bigJson,""" +
              s""""sf1_main_secs":$mainJson,""" +
              s""""calibration_sf1":${calJson(calSf1.toSeq)},""" +
              s""""sf1_dir":"$bigDir","superlinear_sf1":${superlinear
                .map("\"" + _ + "\"").mkString("[", ",", "]")}}\n""")
          println(s"""{"metric":"slope_sf1","top_n":${top.length},""" +
            s""""superlinear_n":${superlinear.length},""" +
            s""""superlinear":${superlinear.map("\"" + _ + "\"")
              .mkString("[", ",", "]")},"full":"BENCH_FULL.json"}""")
          if (lastCompact.nonEmpty) println(lastCompact)
        }
      }

    spark.stop()
    // a run with any thrown query is NOT a clean benchmark: the JSON
    // carries the names, the exit code makes the harness notice
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(2)
    }
  }

  /** Generated classes Spark has compiled in this JVM so far. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Names mode: for each query, its formatted physical plan once, then
    * every Spark job of the warm (last) of `reps` passes into the noop
    * sink — start offset, duration, gap since the previous job, stage
    * task totals and job description — so serialized driver actions
    * and their relative weight are visible without the UI; the header
    * counts the pass's compiled classes. Every pass starts from an
    * empty cache. */
  private def profile(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit = {
    case class Job(id: Int, start: Long, var end: Long = -1L,
      var tasks: Int = 0, var taskMs: Long = 0L, desc: String = "")
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs(e.jobId) = Job(e.jobId, e.time,
          desc = Option(e.properties.getProperty("spark.job.description"))
            .getOrElse(""))
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += e.stageInfo.numTasks
          j.taskMs += e.stageInfo.taskMetrics.executorRunTime
        }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
      (1 to reps).foreach { rep =>
        jobs.clear(); stageToJob.clear()
        org.apache.spark.graftx.Blocks.dropAll(spark)
        val c0 = compiles()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val compiled = compiles() - c0
        Thread.sleep(300) // let the listener bus drain
        if (rep == reps) { // print the warm pass only
          println(f"\n===== $name pass$rep wall=$wall%.3f s jobs=${jobs.size} " +
            s"compiles=$compiled =====")
          val t0ms = jobs.values.map(_.start).minOption.getOrElse(0L)
          var lastEnd = 0L
          jobs.values.toSeq.sortBy(_.start).foreach { j =>
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
