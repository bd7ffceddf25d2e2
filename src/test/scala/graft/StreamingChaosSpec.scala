package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.Ann
import graft.streaming.Streaming

/** CHAOS property suite for the at-least-once lifecycle streams: a
  * kill is injected at EVERY failpoint between side-effect pairs
  * ([[graft.Failpoints]] — lake-swap windows, index-append windows,
  * JDBC mid-transaction and between-commit windows, the
  * effect-done-but-checkpoint-uncommitted window), the stream is
  * restarted from its real checkpoint after each kill, and the final
  * state must CONVERGE to the answer of a run that never crashed.
  * This is the end-to-end form of the per-mechanism heal specs: the
  * engine's own replay machinery drives recovery, not the test.
  *
  * Covered streams: `stream_upsert` (lake CDC merge), `stream_near_dedup`
  * (MinHash index lifecycle), `stream_ann_ingest` (IVF increment log),
  * `stream_jdbc_upsert` (live Derby CDC merge), `stream_mv_merge` (the
  * NON-idempotent additive fold — exactly-once via the atomic
  * applied-batch marker), `stream_scd2` (history re-apply), and the
  * audited-append gate and routed fan-out (per-batch overwrite). Plus
  * seeded-random multi-kill schedules over the two richest window
  * sets (the lake swap and the exactly-once fold). */
class StreamingChaosSpec extends SparkSpec {
  import spark.implicits._

  private final class ChaosKill(tag: String)
    extends RuntimeException(s"chaos kill at $tag")

  private def isChaos(e: Throwable): Boolean = {
    var t = e
    while (t != null) {
      if (t.isInstanceOf[ChaosKill] ||
        (t.getMessage != null && t.getMessage.contains("chaos kill")))
        return true
      t = t.getCause
    }
    false
  }

  /** Run `mk` under each kill in `schedule` (tag, nth firing) — each
    * run must die by ITS chaos kill — then run once unarmed, which
    * must succeed: the convergence run. */
  private def runKillSchedule(mk: () => StreamingQuery,
      schedule: Seq[(String, Int)]): Unit = {
    schedule.foreach { case (tag, nth) =>
      val hits = new AtomicInteger(0)
      val thrown = intercept[Exception] {
        Failpoints.withHook(t =>
          if (t == tag && hits.incrementAndGet() == nth)
            throw new ChaosKill(tag)) {
          val q = mk()
          q.awaitTermination()
        }
      }
      assert(isChaos(thrown),
        s"expected the chaos kill at $tag to surface, got: $thrown")
    }
    val q = mk() // recovery: replay from the checkpoint, no kills
    q.awaitTermination()
  }

  private def stage(df: DataFrame, dst: Path, mtime: Long): Unit = {
    val gen = Files.createTempDirectory("graft_chaos_gen")
    df.coalesce(1).write.mode("overwrite").parquet(gen.toString)
    val part = Files.list(gen).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    ()
  }

  // ── stream_upsert: lake CDC merge through the swap windows ─────────

  private val upsertInit = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L),
    (4L, "d", 0L), (5L, "e", 0L))
  private val upsertBatches = Seq(
    Seq((1L, "a1", 1L), (2L, "b1", 1L), (6L, "f", 1L)),
    Seq((2L, "b2", 2L), (4L, "d2", 2L), (7L, "g", 2L)))

  private def upsertSetup(tmp: Path): (Path, String) = {
    val target = tmp.resolve("target").toString
    upsertInit.toDF("id", "v", "ts").write.parquet(target)
    val stageDir = Files.createDirectory(tmp.resolve("stage"))
    upsertBatches.zipWithIndex.foreach { case (rows, i) =>
      stage(rows.toDF("id", "v", "ts"),
        stageDir.resolve(s"b$i.parquet"), 1000000L + i * 1000L)
    }
    (stageDir, target)
  }

  private def upsertStream(stageDir: Path, target: String,
      ckpt: String): StreamingQuery = {
    val stream = spark.readStream
      .schema(upsertBatches.head.toDF("id", "v", "ts").schema)
      .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
    Streaming.upsertStream(stream, target, "id", Seq("ts"), ckpt).start()
  }

  private def upsertState(target: String): Set[(Long, String, Long)] =
    spark.read.parquet(target).as[(Long, String, Long)].collect().toSet

  test("stream_upsert converges through a kill in EVERY lake-swap " +
      "window (staged / live-removed / swapped / pre-checkpoint)") {
    val clean = Files.createTempDirectory("graft_chaos_up0")
    val (s0, t0) = upsertSetup(clean)
    upsertStream(s0, t0, clean.resolve("ckpt").toString)
      .awaitTermination()
    val want = upsertState(t0)
    assert(want.map(_._1) === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))

    val tmp = Files.createTempDirectory("graft_chaos_up1")
    val (stageDir, target) = upsertSetup(tmp)
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => upsertStream(stageDir, target, ckpt), Seq(
      ("sinks.swap.staged", 1),
      ("sinks.swap.live_removed", 1), // live table GONE mid-crash
      ("sinks.swap.swapped", 1), // stale .__old__ left behind
      ("stream.upsert.merged", 1))) // merged but checkpoint uncommitted
    assert(upsertState(target) === want)
  }

  test("stream_upsert converges under seeded-random multi-kill " +
      "schedules (property form)") {
    val points = Seq("sinks.swap.staged", "sinks.swap.live_removed",
      "sinks.swap.swapped", "stream.upsert.merged")
    val clean = Files.createTempDirectory("graft_chaos_upr0")
    val (s0, t0) = upsertSetup(clean)
    upsertStream(s0, t0, clean.resolve("ckpt").toString)
      .awaitTermination()
    val want = upsertState(t0)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val schedule = Seq.fill(1 + rnd.nextInt(4))(
        (points(rnd.nextInt(points.length)), 1 + rnd.nextInt(2)))
      val tmp = Files.createTempDirectory(s"graft_chaos_upr$seed")
      val (stageDir, target) = upsertSetup(tmp)
      val ckpt = tmp.resolve("ckpt").toString
      // a random (tag, nth) may never fire (nth=2 of a window the
      // replay only crosses once) — tolerate a clean pass for those
      schedule.foreach { case (tag, nth) =>
        val hits = new AtomicInteger(0)
        try Failpoints.withHook(t =>
          if (t == tag && hits.incrementAndGet() == nth)
            throw new ChaosKill(tag)) {
          upsertStream(stageDir, target, ckpt).awaitTermination()
        } catch { case e: Exception => assert(isChaos(e), e.toString) }
      }
      upsertStream(stageDir, target, ckpt).awaitTermination()
      assert(upsertState(target) === want, s"seed=$seed $schedule")
    }
  }

  // ── stream_near_dedup: MinHash index lifecycle windows ─────────────

  private val ndHist = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"))
  private val ndFresh = Seq(
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota omega")),
    Seq((11L, "alpha beta gamma delta epsilon zeta eta theta iota omega"),
      (12L, "un deux trois quatre cinq six sept huit neuf dix")))

  private def ndSetup(tmp: Path): (Path, String, String) = {
    val idx = tmp.resolve("idx").toString
    graft.dedup.Dedup.buildMinhashIndex(ndHist.toDF("doc_id", "text"),
      "text", "doc_id", idx, n = 1, numHashes = 32, bands = 8,
      portableHash = true)
    val stageDir = Files.createDirectory(tmp.resolve("stage"))
    ndFresh.zipWithIndex.foreach { case (rows, i) =>
      stage(rows.toDF("doc_id", "text"),
        stageDir.resolve(s"b$i.parquet"), 2000000L + i * 1000L)
    }
    (stageDir, idx, tmp.resolve("res").toString)
  }

  private def ndStream(stageDir: Path, idx: String, res: String,
      ckpt: String): StreamingQuery = {
    val stream = spark.readStream
      .schema(ndFresh.head.toDF("doc_id", "text").schema)
      .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
    Streaming.nearDupStream(stream, "text", "doc_id", idx, res, ckpt,
      n = 1, numHashes = 32, bands = 8, verifyThreshold = 0.8,
      portableHash = true).start()
  }

  private def ndPairs(res: String): Set[(Long, Long)] =
    spark.read.parquet(res).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet

  private def ndProbe(idx: String): Set[(Long, Long)] =
    graft.dedup.Dedup.incrementalDupes(spark,
        Seq((99L, "alpha beta gamma delta epsilon zeta eta theta iota " +
          "omega")).toDF("doc_id", "text"),
        "text", "doc_id", idx, n = 1, numHashes = 32, bands = 8,
        verifyThreshold = 0.8, portableHash = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("stream_near_dedup converges through kills in every index-" +
      "lifecycle window (results / buckets-only / pre-checkpoint)") {
    val clean = Files.createTempDirectory("graft_chaos_nd0")
    val (s0, idx0, res0) = ndSetup(clean)
    ndStream(s0, idx0, res0, clean.resolve("ckpt").toString)
      .awaitTermination()
    val wantPairs = ndPairs(res0)
    val wantProbe = ndProbe(idx0)
    assert(wantPairs.nonEmpty && wantProbe.nonEmpty)

    val tmp = Files.createTempDirectory("graft_chaos_nd1")
    val (stageDir, idx, res) = ndSetup(tmp)
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => ndStream(stageDir, idx, res, ckpt), Seq(
      ("stream.neardup.results_written", 1), // results out, index not
      ("minhash.append.buckets_done", 1), // buckets appended, tokens not
      ("stream.neardup.appended", 1))) // all out, checkpoint uncommitted
    assert(ndPairs(res) === wantPairs)
    // the index must serve identical probes despite the duplicate
    // sketch rows the replays appended (collapsed by the probe's
    // distinct — and physically by the next compaction)
    assert(ndProbe(idx) === wantProbe)
  }

  // ── stream_ann_ingest: IVF increment-log window ────────────────────

  test("stream_ann_ingest converges through kills in the increment-" +
      "log window (dynamic overwrite = exactly-once under replay)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def setup(tmp: Path): (Path, String) = {
      val idx = tmp.resolve("idx").toString
      Ann.buildIvfIndex(emb.filter(col("vec_id") < 300), "embedding",
        "vec_id", idx, nlist = 8)
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      Seq((300L, 360L), (360L, 420L)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          stage(emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .select(col("vec_id"), col("embedding")),
            stageDir.resolve(s"b$i.parquet"), 3000000L + i * 1000L)
      }
      (stageDir, idx)
    }
    def mk(stageDir: Path, idx: String, ckpt: String): StreamingQuery = {
      val fresh = emb.filter(col("vec_id") >= 300)
        .select(col("vec_id"), col("embedding"))
      val stream = spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      Streaming.ivfIngestStream(stream, "embedding", "vec_id", idx,
        ckpt).start()
    }
    def probe(idx: String): Seq[Seq[Any]] =
      Ann.ivfIndexTopK(spark, emb.filter(col("vec_id") < 5), "embedding",
          "vec_id", idx, k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
        .collect().map(_.toSeq).toSeq

    val clean = Files.createTempDirectory("graft_chaos_ivf0")
    val (s0, idx0) = setup(clean)
    mk(s0, idx0, clean.resolve("ckpt").toString).awaitTermination()
    val want = probe(idx0)

    val tmp = Files.createTempDirectory("graft_chaos_ivf1")
    val (stageDir, idx) = setup(tmp)
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => mk(stageDir, idx, ckpt), Seq(
      ("stream.ivf.appended", 1), // batch 0 landed, checkpoint not
      ("stream.ivf.appended", 2))) // replayed b0 + fresh b1, kill again
    assert(probe(idx) === want)
    // no duplicated postings from the replays
    val dup = spark.read.parquet(s"$idx/increments")
      .groupBy(col("corpus_id")).count().filter(col("count") > 1).count()
    assert(dup === 0L)
  }

  // ── stream_mv_merge: the NON-idempotent fold, made exactly-once ────

  test("stream_mv_merge converges through every swap window and the " +
      "pre-checkpoint window (additive fold must never double-count)") {
    def setup(tmp: Path): Path = {
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      upsertBatches.zipWithIndex.foreach { case (rows, i) =>
        stage(rows.toDF("id", "v", "ts"),
          stageDir.resolve(s"b$i.parquet"), 5000000L + i * 1000L)
      }
      stageDir
    }
    def mk(stageDir: Path, rollup: String, ckpt: String): StreamingQuery = {
      val stream = spark.readStream
        .schema(upsertBatches.head.toDF("id", "v", "ts").schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      Streaming.mvMergeStream(stream, rollup,
        b => b.groupBy(col("v")).agg(
          count(lit(1)).as("n"), max(col("ts")).as("max_ts")),
        keys = Seq("v"), merges = Seq(("n", "sum"), ("max_ts", "max")),
        ckpt).start()
    }
    def state(rollup: String): Set[(String, Long, Long)] =
      spark.read.parquet(rollup).as[(String, Long, Long)].collect().toSet

    val clean = Files.createTempDirectory("graft_chaos_mv0")
    val r0 = clean.resolve("rollup").toString
    mk(setup(clean), r0, clean.resolve("ckpt").toString).awaitTermination()
    val want = state(r0)
    assert(want.toSeq.map(_._2).sum === upsertBatches.map(_.size).sum)

    val tmp = Files.createTempDirectory("graft_chaos_mv1")
    val stageDir = setup(tmp)
    val rollup = tmp.resolve("rollup").toString
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => mk(stageDir, rollup, ckpt), Seq(
      ("stream.mv.merged", 1), // batch 0 FOLDED, checkpoint uncommitted:
      // the replay must see the atomic applied-batch marker and skip —
      // a plain refold would double batch 0's counts
      ("sinks.swap.staged", 1), // batch 1's fold dies before the swap
      ("sinks.swap.live_removed", 1), // rollup GONE mid-swap
      ("stream.mv.merged", 1))) // batch 1 folded, checkpoint uncommitted
    assert(state(rollup) === want)
  }

  test("stream_mv_merge converges under seeded-random multi-kill " +
      "schedules (property form of the exactly-once fold)") {
    val points = Seq("stream.mv.merged", "sinks.swap.staged",
      "sinks.swap.live_removed", "sinks.swap.swapped")
    def setup(tmp: Path): Path = {
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      upsertBatches.zipWithIndex.foreach { case (rows, i) =>
        stage(rows.toDF("id", "v", "ts"),
          stageDir.resolve(s"b$i.parquet"), 5500000L + i * 1000L)
      }
      stageDir
    }
    def mk(stageDir: Path, rollup: String, ckpt: String): StreamingQuery = {
      val stream = spark.readStream
        .schema(upsertBatches.head.toDF("id", "v", "ts").schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      Streaming.mvMergeStream(stream, rollup,
        b => b.groupBy(col("v")).agg(
          count(lit(1)).as("n"), max(col("ts")).as("max_ts")),
        keys = Seq("v"), merges = Seq(("n", "sum"), ("max_ts", "max")),
        ckpt).start()
    }
    def state(rollup: String): Set[(String, Long, Long)] =
      spark.read.parquet(rollup).as[(String, Long, Long)].collect().toSet

    val clean = Files.createTempDirectory("graft_chaos_mvr0")
    val r0 = clean.resolve("rollup").toString
    mk(setup(clean), r0, clean.resolve("ckpt").toString).awaitTermination()
    val want = state(r0)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val schedule = Seq.fill(1 + rnd.nextInt(4))(
        (points(rnd.nextInt(points.length)), 1 + rnd.nextInt(2)))
      val tmp = Files.createTempDirectory(s"graft_chaos_mvr$seed")
      val stageDir = setup(tmp)
      val rollup = tmp.resolve("rollup").toString
      val ckpt = tmp.resolve("ckpt").toString
      schedule.foreach { case (tag, nth) =>
        val hits = new AtomicInteger(0)
        try Failpoints.withHook(t =>
          if (t == tag && hits.incrementAndGet() == nth)
            throw new ChaosKill(tag)) {
          mk(stageDir, rollup, ckpt).awaitTermination()
        } catch { case e: Exception => assert(isChaos(e), e.toString) }
      }
      mk(stageDir, rollup, ckpt).awaitTermination()
      assert(state(rollup) === want, s"seed=$seed $schedule")
    }
  }

  // ── stream_scd2: history apply through the swap windows ────────────

  test("stream_scd2 converges through the swap windows (idempotent " +
      "history re-apply)") {
    val scd2Batches = Seq(
      Seq((1L, "2024-01-01 00:00:00", 0L, "a"),
        (2L, "2024-01-01 00:00:00", 0L, "x")),
      Seq((1L, "2024-01-02 00:00:00", 0L, "b"),
        (2L, "2024-01-02 00:00:00", 0L, "x"),
        (3L, "2024-01-02 00:00:00", 0L, "q")))
    def scdDf(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("id", "ts0", "tie", "attr")
        .select(col("id"), col("ts0").cast("timestamp").as("ts"),
          col("tie"), col("attr"))
    def setup(tmp: Path): Path = {
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      scd2Batches.zipWithIndex.foreach { case (rows, i) =>
        stage(scdDf(rows),
          stageDir.resolve(s"b$i.parquet"), 6000000L + i * 1000L)
      }
      stageDir
    }
    def mk(stageDir: Path, hist: String, ckpt: String): StreamingQuery = {
      val stream = spark.readStream
        .schema(scdDf(scd2Batches.head).schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      Streaming.scd2Stream(stream, hist, "id", "ts", "tie",
        Seq("attr"), ckpt).start()
    }
    def state(hist: String): Set[Seq[Any]] =
      spark.read.parquet(hist).collect().map(_.toSeq).toSet

    val clean = Files.createTempDirectory("graft_chaos_sc0")
    val h0 = clean.resolve("hist").toString
    mk(setup(clean), h0, clean.resolve("ckpt").toString).awaitTermination()
    val want = state(h0)
    assert(want.nonEmpty)

    val tmp = Files.createTempDirectory("graft_chaos_sc1")
    val stageDir = setup(tmp)
    val hist = tmp.resolve("hist").toString
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => mk(stageDir, hist, ckpt), Seq(
      ("sinks.swap.staged", 1),
      ("sinks.swap.live_removed", 1),
      ("stream.scd2.applied", 1))) // applied, checkpoint uncommitted
    assert(state(hist) === want)
  }

  // ── stream_quality_gate: audited append through replay ─────────────

  test("audited-append stream converges through a pre-checkpoint kill " +
      "(per-batch overwrite: replay never duplicates rows)") {
    def setup(tmp: Path): Path = {
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      // batch 0 clean, batch 1 dirty (negative ts => vetoed)
      stage(Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "v", "ts"),
        stageDir.resolve("b0.parquet"), 7000000L)
      stage(Seq((3L, "c", -1L)).toDF("id", "v", "ts"),
        stageDir.resolve("b1.parquet"), 7001000L)
      stageDir
    }
    def mk(stageDir: Path, target: String, quarantine: String,
        ckpt: String): StreamingQuery = {
      val stream = spark.readStream
        .schema(Seq((1L, "a", 5L)).toDF("id", "v", "ts").schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      Streaming.auditedAppendStream(stream, target, quarantine,
        b => if (b.filter(col("ts") < 0).count() > 0)
          Some("negative ts") else None,
        ckpt).start()
    }
    val clean = Files.createTempDirectory("graft_chaos_aa0")
    val (t0, q0) = (clean.resolve("t").toString, clean.resolve("q").toString)
    mk(setup(clean), t0, q0, clean.resolve("ckpt").toString)
      .awaitTermination()
    val wantT = spark.read.parquet(t0).select("id", "v", "ts")
      .as[(Long, String, Long)].collect().toSet
    val wantQn = spark.read.parquet(q0).count()
    assert(wantT.size === 2 && wantQn === 1L)

    val tmp = Files.createTempDirectory("graft_chaos_aa1")
    val stageDir = setup(tmp)
    val (target, quarantine) =
      (tmp.resolve("t").toString, tmp.resolve("q").toString)
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => mk(stageDir, target, quarantine, ckpt), Seq(
      ("stream.audit.landed", 1), // batch 0 landed, checkpoint not:
      // replay must overwrite batch=0, not append a duplicate copy
      ("stream.audit.landed", 2))) // ...and again for the dirty batch
    val gotT = spark.read.parquet(target).select("id", "v", "ts")
      .as[(Long, String, Long)].collect().toSet
    assert(gotT === wantT)
    assert(spark.read.parquet(quarantine).count() === wantQn)
  }

  // ── stream_routing: routed fan-out through replay ──────────────────

  test("routed stream converges through a pre-checkpoint kill (per-" +
      "batch overwrite in every route: replay never duplicates)") {
    def evDf(rows: Seq[(Long, String, Double)]) =
      rows.toDF("event_id", "event_type", "value")
    def setup(tmp: Path): Path = {
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      stage(evDf(Seq((1L, "user_update", 1.0), (2L, "log_line", 2.0))),
        stageDir.resolve("b0.parquet"), 8000000L)
      stage(evDf(Seq((3L, "order_placed", 3.0), (4L, "user_update", 4.0))),
        stageDir.resolve("b1.parquet"), 8001000L)
      stageDir
    }
    def mk(stageDir: Path, base: String): StreamingQuery = {
      val stream = spark.readStream
        .schema(evDf(Seq((1L, "x", 1.0))).schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      graft.streaming.Streaming.routeStream(stream, base).start()
    }
    def archive(base: String): Set[(Long, String)] =
      spark.read.parquet(s"$base/archive")
        .select(col("event_id"), col("event_type"))
        .as[(Long, String)].collect().toSet

    val clean = Files.createTempDirectory("graft_chaos_rt0")
    val b0 = clean.resolve("lake").toString
    mk(setup(clean), b0).awaitTermination()
    val want = archive(b0)
    assert(want.size === 4)

    val tmp = Files.createTempDirectory("graft_chaos_rt1")
    val stageDir = setup(tmp)
    val base = tmp.resolve("lake").toString
    runKillSchedule(() => mk(stageDir, base), Seq(
      ("sinks.route.published", 1), // batch 0's first route published,
      // the other four not: replay rewrites batch=0 in every route
      ("stream.route.landed", 1), // batch 0 fanned out, checkpoint not:
      // replay overwrites batch=0 in every route, never appends a copy
      ("stream.route.landed", 2)))
    assert(archive(base) === want)
    // the user route saw both user_update rows exactly once
    val users = spark.read.parquet(s"$base/user_data_wh")
      .select(col("event_id")).as[Long].collect().toSet
    assert(users === Set(1L, 4L))
  }

  // ── stream_jdbc_upsert: live-database CDC windows ──────────────────

  test("stream_jdbc_upsert converges through mid-transaction, " +
      "between-commit, and pre-checkpoint kills") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_chaos;create=true"
    val drv = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(drv)
    def freshTable(name: String): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.execute(s"DROP TABLE $name")
        catch { case _: java.sql.SQLException => () }
        st.execute(s"CREATE TABLE $name (id BIGINT PRIMARY KEY, " +
          "v VARCHAR(32), ts BIGINT)")
      } finally conn.close()
    }
    def tableState(name: String): Set[(Long, String, Long)] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT id, v, ts FROM $name")
        val buf = Set.newBuilder[(Long, String, Long)]
        while (rs.next()) buf += ((rs.getLong(1), rs.getString(2),
          rs.getLong(3)))
        buf.result()
      } finally conn.close()
    }
    def mk(stageDir: Path, table: String, ckpt: String): StreamingQuery = {
      val stream = spark.readStream
        .schema(upsertBatches.head.toDF("id", "v", "ts").schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir.toString)
      Streaming.jdbcUpsertStream(stream, url, drv, table, "id",
        Seq("ts"), ckpt).start()
    }
    def setupStage(tmp: Path): Path = {
      val stageDir = Files.createDirectory(tmp.resolve("stage"))
      upsertBatches.zipWithIndex.foreach { case (rows, i) =>
        stage(rows.toDF("id", "v", "ts"),
          stageDir.resolve(s"b$i.parquet"), 4000000L + i * 1000L)
      }
      stageDir
    }

    val clean = Files.createTempDirectory("graft_chaos_jdbc0")
    freshTable("chaos_clean")
    mk(setupStage(clean), "chaos_clean",
      clean.resolve("ckpt").toString).awaitTermination()
    val want = tableState("chaos_clean")
    assert(want.map(_._1) === Set(1L, 2L, 4L, 6L, 7L))

    val tmp = Files.createTempDirectory("graft_chaos_jdbc1")
    freshTable("chaos_kill")
    val stageDir = setupStage(tmp)
    val ckpt = tmp.resolve("ckpt").toString
    runKillSchedule(() => mk(stageDir, "chaos_kill", ckpt), Seq(
      ("jdbc.upsert.updates_staged", 1), // mid-transaction, uncommitted
      ("jdbc.upsert.group_committed", 1), // first group durable, rest not
      ("stream.jdbc.upserted", 1))) // all durable, checkpoint not
    assert(tableState("chaos_kill") === want)
  }

  // ── wire-ingest streams: restart boundary, no duplicated batch ─────

  test("wire-ingest streams (line protocol + Extended JSON) converge " +
    "across a restart boundary: a batch landed before the crash is " +
    "never duplicated, a batch staged after it still lands") {
    import graft.sources.{ExtendedJson, LineProtocol}
    val rows = Seq(
      (1L, "alpha", 1.5, java.sql.Timestamp.valueOf("2024-02-01 00:00:01")),
      (2L, "beta", 2.5, java.sql.Timestamp.valueOf("2024-02-01 00:00:02")),
      (3L, "gamma", 3.5, java.sql.Timestamp.valueOf("2024-02-01 00:00:03")),
      (4L, "delta", 4.5, java.sql.Timestamp.valueOf("2024-02-01 00:00:04")))
    val df = rows.toDF("id", "s", "v", "ts")
    def lineWire(d: DataFrame) = LineProtocol.serialize(d, "m", "ts", Nil)
    def ejsonWire(d: DataFrame) = ExtendedJson.serialize(d)
    for ((name, wire, parse) <- Seq[(String,
        DataFrame => org.apache.spark.sql.Dataset[String],
        org.apache.spark.sql.Dataset[String] => DataFrame)](
      ("line", lineWire _, (l: org.apache.spark.sql.Dataset[String]) =>
        LineProtocol.parse(l)
          .select(col("fields_long")("id").as("id"))),
      ("ejson", ejsonWire _, (l: org.apache.spark.sql.Dataset[String]) =>
        ExtendedJson.parse(l, df.schema).select(col("id"))))) {
      val tmp = Files.createTempDirectory(s"graft_chaos_wire_$name")
      val stageDir = tmp.resolve("stage").toString
      val res = tmp.resolve("res").toString
      val ckpt = tmp.resolve("ckpt").toString
      def run(): Unit = {
        val lines = spark.readStream.option("maxFilesPerTrigger", 1)
          .text(stageDir)
          .as(org.apache.spark.sql.Encoders.STRING)
        parse(lines).writeStream.format("parquet")
          .option("path", res).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      // batch 0 lands, then the process "dies" (stream fully stops)
      wire(df.filter(col("id") <= 2)).write.mode("append").text(stageDir)
      run()
      assert(spark.read.parquet(res).count() === 2L, name)
      // restart from the same checkpoint with a new batch staged: the
      // replayed source must NOT re-land batch 0, and batch 1 must land
      wire(df.filter(col("id") > 2)).write.mode("append").text(stageDir)
      run()
      val got = spark.read.parquet(res).select(col("id"))
        .as[Long].collect().sorted.toSeq
      assert(got === Seq(1L, 2L, 3L, 4L), name)
      // a third restart with nothing new is a no-op (idempotent)
      run()
      assert(spark.read.parquet(res).count() === 4L, name)
    }
  }
}
