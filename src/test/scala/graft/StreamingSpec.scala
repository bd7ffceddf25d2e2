package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Stage the events table as a streaming source directory. */
  private def stageEvents(): String = {
    val dir = Files.createTempDirectory("graft_stream").toString
    Tables.load(spark, sf0001, "events")
      .write.mode("overwrite").parquet(s"$dir/events")
    s"$dir/events"
  }

  test("windowed counts over a file stream match the batch computation") {
    val src = stageEvents()
    val agg = Streaming.windowedCounts(Streaming.readEvents(spark, src),
      window_ = "6 hours", watermark = "1 minute")
    val streamed = Streaming.replay(agg)
      .agg(sum($"n")).head().getLong(0)
    // watermark drops nothing on a finite replay except the last window,
    // which stays open in append mode — compare against batch minus the
    // final (incomplete) window
    val batch = Tables.load(spark, sf0001, "events")
      .groupBy(window($"ts", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val lastWindow = batch.agg(max($"window.start")).head().getTimestamp(0)
    val expected = batch.filter($"window.start" < lastWindow)
      .agg(sum($"n")).head().getLong(0)
    assert(streamed == expected)
  }

  test("streaming dedup removes planted duplicate events (bounded state)") {
    val src = stageEvents()
    // duplicate the whole source: same rows land twice in one batch
    val dupDir = Files.createTempDirectory("graft_dedup_stream").toString
    val once = Tables.load(spark, sf0001, "events")
    once.union(once).write.mode("overwrite").parquet(s"$dupDir/events")
    val deduped = Streaming.dedupStream(
      Streaming.readEvents(spark, s"$dupDir/events"),
      Seq("event_id"), watermark = "1 minute")
    val ids = Streaming.replay(deduped.select($"event_id"))
      .as[Long].collect()
    assert(ids.length === ids.distinct.length, "duplicates survived")
    assert(ids.length === once.count(), "dedup dropped unique events")
  }

  test("sessionization emits bounded user sessions") {
    val src = stageEvents()
    val sess = Streaming.sessionize(Streaming.readEvents(spark, src),
      gap = "10 minutes", watermark = "1 minute")
    val out = Streaming.replay(sess)
    assert(out.count() > 0)
    assert(out.columns.contains("session_window"))
    // every session belongs to one user and has ≥1 event
    assert(out.filter($"n_events" < 1).count() == 0)
  }

  test("stream routes through the batch routing sink (foreachBatch K8)") {
    val src = stageEvents()
    val base = Files.createTempDirectory("graft_route").toString
    val q = Streaming.routeStream(Streaming.readEvents(spark, src), base)
      .start()
    q.awaitTermination()
    val archived = spark.read.parquet(s"$base/archive")
    assert(archived.count() ==
      Tables.load(spark, sf0001, "events").count())
    assert(archived.columns.contains("_source"))
    // no stream_* source matches the warehouse routes (empty write)
    assert(spark.read.parquet(s"$base/financial_data").count() == 0)
  }

  test("flatMapGroupsWithState keeps per-user state across restarts") {
    val dir = Files.createTempDirectory("graft_state").toString
    val ckpt = s"$dir/ckpt"
    val events = Tables.load(spark, sf0001, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val (first, second) = (events.filter($"event_id" % 2 === 0),
      events.filter($"event_id" % 2 === 1))

    def runBatch(): Unit = {
      val q = Streaming
        .statefulUserTotals(Streaming.readEvents(spark, s"$dir/in"))
        .writeStream.outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.UserTotals],
              id: Long) =>
            b.write.mode("append").parquet(s"$dir/out"); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    first.write.mode("append").parquet(s"$dir/in")
    runBatch()
    second.write.mode("append").parquet(s"$dir/in")
    runBatch() // same checkpoint: state must carry over, not reset

    // latest emitted row per user == full-batch totals over BOTH halves
    val latest = spark.read.parquet(s"$dir/out")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"n_events".desc)))
      .filter($"__rn" === 1).drop("__rn")
    val expected = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("total_value"))
    val mismatches = latest.alias("a").join(expected.alias("b"), "user_id")
      .filter($"a.n_events" =!= $"b.n_events" ||
        abs($"a.total_value" - $"b.total_value") > 0.01)
    assert(mismatches.count() === 0)
    assert(latest.count() === expected.count())
  }

  test("statefulSessions: both emission paths reproduce batch sessions") {
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_fmgws_spec").toString
    val events = Tables.load(spark, sf0001, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    // batch 1: all real events; batches 2+3: same-far-future sentinels
    // that walk the watermark past every real session's timeout bound
    events.coalesce(1).write.parquet(s"$dir/in")
    // the real batch must be FIRST in mtime order or the sentinels'
    // watermark drops every real row as late
    locally {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(s"$dir/in")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(Files.setLastModifiedTime(_, FileTime.fromMillis(1000000L)))
    }
    val flushTs = new java.sql.Timestamp(
      events.agg(max($"ts")).head().getTimestamp(0).getTime
        + 3L * 24 * 3600 * 1000)
    var mtime = 2000000L
    Seq(-1L, -2L).foreach { u =>
      val gen = Files.createTempDirectory("graft_fmgws_gen").toString
      Seq((u, flushTs, u, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(gen)
      import scala.jdk.CollectionConverters._
      val part = Files.list(java.nio.file.Paths.get(gen)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$dir/in/z_flush$u.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
      mtime += 1000000L
    }
    val sessions = Streaming.statefulSessions(
      Streaming.readEvents(spark, s"$dir/in", maxFilesPerTrigger = Some(1)),
      gapMinutes = 30, watermark = "1 minute")
    val got = Streaming.replay(sessions.toDF()).filter($"user_id" >= 0)
    // batch truth: gap-split on the same 30-minute rule
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val expected = events
      .withColumn("brk", when(unix_micros($"ts") -
        unix_micros(lag($"ts", 1).over(w)) > 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum($"brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min(unix_micros($"ts")).as("session_start_us"),
        max(unix_micros($"ts")).as("session_end_us"),
        count(lit(1)).as("n_events"))
    assert(got.count() === expected.count(),
      "every real session must emit exactly once (data path or timeout)")
    val joined = got.join(expected,
      Seq("user_id", "session_start_us", "session_end_us", "n_events"),
      "left_anti")
    assert(joined.count() === 0, "session bounds/counts must match batch")
  }

  test("stream-static broadcast join enriches every matchable event") {
    import org.apache.spark.sql.functions.broadcast
    val src = stageEvents()
    val events = Streaming.readEvents(spark, src)
    val dim = Tables.load(spark, sf0001, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val enriched = events.join(broadcast(dim),
      events("user_id") === dim("c_custkey"), "inner")
    val got = Streaming.replay(enriched)
      .groupBy($"c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Tables.load(spark, sf0001, "events")
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("stream-stream join emits exactly the batch join pairs") {
    val src = stageEvents()
    val events = Streaming.readEvents(spark, src)
    val joined = Streaming.streamStreamJoin(
      events.filter($"event_type" === "view"),
      events.filter($"event_type" === "purchase"),
      watermark = "1 minute", horizon = "1 hour")
    val streamed = Streaming.replay(joined)
      .select($"l_id", $"r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Tables.load(spark, sf0001, "events")
    val v = batch.filter($"event_type" === "view")
      .select($"event_id".as("l_id"), $"user_id", $"ts".as("l_ts"))
    val p = batch.filter($"event_type" === "purchase")
      .select($"event_id".as("r_id"), $"user_id".as("r_user"),
        $"ts".as("r_ts"))
    val expected = v.join(p,
        $"user_id" === $"r_user" && $"r_ts" >= $"l_ts" &&
          $"r_ts" <= $"l_ts" + expr("INTERVAL 1 HOUR"))
      .select($"l_id", $"r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    assert(streamed === expected)
  }

  test("left-outer stream-stream join: unmatched rows emit on eviction only") {
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_ssjo_unit")
    def writeBatch(name: String, mtime: Long,
        rows: Seq[(Long, String, Long, String)]): Unit = {
      val gen = Files.createTempDirectory("graft_ssjo_gen")
      rows.map { case (id, ts, uid, typ) =>
        (id, java.sql.Timestamp.valueOf(ts), uid, typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(gen.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(gen).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = dir.resolve(name)
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    // u1's view matches; u2's view has NO purchase in the horizon
    writeBatch("a_data.parquet", 1000L, Seq(
      (1L, "2024-03-01 10:00:00", 1L, "view"),
      (2L, "2024-03-01 10:30:00", 1L, "purchase"),
      (3L, "2024-03-01 11:00:00", 2L, "view")))
    // flush batch: sentinels far past every eviction bound
    writeBatch("b_flush.parquet", 2000L, Seq(
      (-1L, "2024-03-05 00:00:00", -1L, "view"),
      (-2L, "2024-03-05 00:00:00", -2L, "purchase")))
    val events = Streaming.readEvents(spark, dir.toString,
      maxFilesPerTrigger = Some(1))
    val joined = Streaming.streamStreamJoin(
      events.filter($"event_type" === "view"),
      events.filter($"event_type" === "purchase"),
      watermark = "1 minute", horizon = "1 hour",
      joinType = "left_outer")
    val out = Streaming.replay(joined).filter($"user_id" >= 0)
      .select($"l_id", $"r_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    // matched pair emits; the unmatched view emits exactly once with a
    // null right side (flushed by the sentinel watermark advance); the
    // sentinel view itself stays in state and never emits
    assert(out === Set((1L, Some(2L)), (3L, None)))
  }

  test("scd2ApplyBatch: out-of-order incremental folds equal the one-shot") {
    val dir = Files.createTempDirectory("graft_scd2_unit").toString + "/h"
    def log(rows: (Long, String, Long, String)*) =
      rows.map { case (id, ts, uid, st) =>
        (id, java.sql.Timestamp.valueOf(ts), uid, st)
      }.toDF("event_id", "ts", "user_id", "state")
    val early = log(
      (1L, "2024-01-01 00:00:00", 1L, "a"),
      (2L, "2024-01-02 00:00:00", 1L, "b"),
      (3L, "2024-01-01 00:00:00", 2L, "x"))
    val late = log(
      (4L, "2024-01-03 00:00:00", 1L, "b"), // duplicate state: no version
      (5L, "2024-01-04 00:00:00", 1L, "c"),
      (6L, "2024-01-05 00:00:00", 2L, "y"))
    // LATE batch applied FIRST: the rebuild must still converge because
    // the builder re-sorts each affected key's replayed log
    Streaming.scd2ApplyBatch(spark, dir, late,
      "user_id", "ts", "event_id", Seq("state"))
    Streaming.scd2ApplyBatch(spark, dir, early,
      "user_id", "ts", "event_id", Seq("state"))
    val oneShot = graft.operators.Scd2.fromChangeLog(
      early.unionByName(late), "user_id", "ts", "event_id", Seq("state"))
    val got = spark.read.parquet(dir)
      .select($"user_id", $"state", $"version", $"valid_from", $"valid_to",
        $"is_current")
      .orderBy($"user_id", $"version").collect().toSeq
    val want = oneShot
      .select($"user_id", $"state", $"version", $"valid_from", $"valid_to",
        $"is_current")
      .orderBy($"user_id", $"version").collect().toSeq
    assert(got === want)
    // user 1: a, b, c (the duplicate b collapsed); user 2: x, y
    assert(got.count(_.getLong(0) == 1L) == 3)
    assert(got.count(_.getLong(0) == 2L) == 2)
  }

  test("dynamic-gap sessions: a purchase holds its session open longer") {
    val dir = Files.createTempDirectory("graft_swd_unit")
    // u1: view at 10:00 (30 min extent → closes 10:30), next event
    //     10:40 → TWO sessions.
    // u2: purchase at 10:00 (60 min extent → open till 11:00), next
    //     event 10:40 falls inside → ONE merged session.
    // u3: far-future row that only pushes the watermark past everything.
    Seq(
      (1L, "2024-03-01 10:00:00", 1L, "view"),
      (2L, "2024-03-01 10:40:00", 1L, "view"),
      (3L, "2024-03-01 10:00:00", 2L, "purchase"),
      (4L, "2024-03-01 10:40:00", 2L, "view"),
      (5L, "2024-03-09 00:00:00", 3L, "view"))
      .map { case (id, ts, uid, typ) =>
        (id, java.sql.Timestamp.valueOf(ts), uid, typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir.resolve("events").toString)
    val gap = when($"event_type" === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    val sess = Streaming.sessionizeDynamic(
      Streaming.readEvents(spark, dir.resolve("events").toString),
      gap, watermark = "1 minute")
    val out = Streaming.replay(sess).filter($"user_id" < 3L)
      .select($"user_id", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out === Seq((1L, 1L), (1L, 1L), (2L, 2L)))
  }

  test("semi stream-stream join: one emission per matched left, ever") {
    val dir = Files.createTempDirectory("graft_ssjs_unit")
    // u1's view has TWO in-horizon purchases (must emit ONCE);
    // u2's view has none (must not emit at all)
    Seq(
      (1L, "2024-03-01 10:00:00", 1L, "view"),
      (2L, "2024-03-01 10:10:00", 1L, "purchase"),
      (3L, "2024-03-01 10:30:00", 1L, "purchase"),
      (4L, "2024-03-01 11:00:00", 2L, "view"))
      .map { case (id, ts, uid, typ) =>
        (id, java.sql.Timestamp.valueOf(ts), uid, typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir.resolve("events").toString)
    val events = Streaming.readEvents(spark, dir.resolve("events").toString)
    val joined = Streaming.streamStreamJoin(
      events.filter($"event_type" === "view"),
      events.filter($"event_type" === "purchase"),
      watermark = "1 minute", horizon = "1 hour",
      joinType = "left_semi")
    val semi = Streaming.replay(joined)
    val out = semi.select($"l_id").as[Long].collect()
    assert(out.toSeq === Seq(1L), "exactly one row, for the matched view")
    // semi output carries LEFT columns only
    assert(semi.columns.toSet ===
      Set("l_id", "user_id", "l_ts"))
  }

  private def events(rows: (Long, String, Long, String)*) =
    rows.map { case (id, ts, uid, typ) =>
      (id, java.sql.Timestamp.valueOf(ts), uid, typ, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("replay: update mode yields every emission of each key") {
    // u1 lands in both micro-batches, u2 only in the first
    val staged = Streaming.stage(spark,
      () => events((1L, "2024-03-01 10:00:00", 1L, "view"),
        (2L, "2024-03-01 10:05:00", 2L, "view")),
      () => events((3L, "2024-03-01 11:00:00", 1L, "view")))
    val out = Streaming.replay(
      Streaming.statefulUserTotals(staged).toDF(), "update")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted
    assert(out.toSeq === Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("replay: no temp view, and the result is a file scan") {
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val out = Streaming.replay(Streaming.readEvents(spark, stageEvents())
      .select($"event_id"))
    assert(spark.catalog.listTables().collect().map(_.name).toSet === before)
    assert(out.columns.toSeq === Seq("event_id"), "no batch column")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), plan)
    assert(out.count() === Tables.load(spark, sf0001, "events").count())
  }

  test("replay: a failing stream throws and restores shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val boom = udf { (id: Long) =>
      if (id == 2L) throw new IllegalStateException("boom on row 2"); id }
    val staged = Streaming.stage(spark,
      () => events((1L, "2024-03-01 10:00:00", 1L, "view"),
        (2L, "2024-03-01 10:05:00", 2L, "view")))
    val err = intercept[Exception] {
      Streaming.replay(staged.select(boom($"event_id").as("id")),
        statePartitions = Some(prior.toInt + 1))
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(chain.contains("boom on row 2"), chain)
    assert(spark.conf.get(key) === prior)
  }

  test("replay: a stream that emits nothing returns an empty typed frame") {
    // every event sits in one 6-hour window the watermark never closes
    val agg = Streaming.windowedCounts(Streaming.stage(spark,
      () => events((1L, "2024-03-01 10:00:00", 1L, "view"),
        (2L, "2024-03-01 10:05:00", 2L, "view"))),
      window_ = "6 hours", watermark = "1 minute")
    val out = Streaming.replay(agg)
    assert(out.count() === 0)
    assert(out.schema.map(f => f.name -> f.dataType) ===
      agg.schema.map(f => f.name -> f.dataType))
  }
}
