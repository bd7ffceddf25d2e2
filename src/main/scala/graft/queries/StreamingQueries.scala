package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Judged STREAMING queries: each runs as a real Structured Streaming
  * job through [[Streaming]]'s bounded-replay harness (staged or live
  * file source → `Trigger.AvailableNow` → per-batch parquet output read
  * back as a scan) and its emitted result is hash-compared against
  * DuckDB computing the same answer batch-wise.
  *
  * Append-mode emission is replicated exactly in the oracle: a window
  * is emitted iff `window.end <= max(ts) - watermark`. The testdata
  * events table is a single parquet file, so streaming it directly is
  * one micro-batch and the final watermark is `max(ts) - 1 minute`
  * deterministically (no staging copy needed — and even under a
  * multi-batch split the emitted-window set is the same: emission
  * depends only on the final watermark).
  *
  * State-store partitions: 4 for the stateful queries (a handful of
  * state stores beats one per core on a single node), 8 for the two
  * session_window queries, the session's own for stateless ones.
  */
object StreamingQueries extends QuerySection {
  import Catalog.Q

  /** [[Streaming.stage]]'s TEXT twin: stage a serialized-wire
    * Dataset[String] as `stage/<name>-NNN.txt` file(s) with pinned
    * mtimes. Writing into a private gen dir and copying (instead of
    * `.mode("append")` into the live stage dir) is what makes
    * concurrent stagings safe — two write jobs appending to ONE output
    * path race on the committer's shared `_temporary` dir — and the
    * pinned mtimes make the micro-batch order deterministic, where
    * back-to-back appends could tie within the filesystem's mtime
    * resolution. */
  private def stageText(half: org.apache.spark.sql.Dataset[String],
      stage: java.nio.file.Path, name: String, mtime: Long): Unit = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val gen = graft.etl.Utils.tempDir("graft_stage_txt")
    half.write.mode("overwrite").text(gen.toString) // tempDir pre-creates gen
    graft.etl.Utils.listDir(gen)
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString).zipWithIndex
      .foreach { case (p, i) =>
        val dst = stage.resolve(f"$name-$i%03d.txt")
        Files.copy(p, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime + i)): Unit
      }
  }

  /** (min, max) event time of the normalized events table — replay
    * cutoffs and flush sentinels derive from these two scalars, so the
    * harnesses track whatever time range the testdata generator used. */
  private def eventTimeBounds(s: SparkSession,
      dir: String): (java.sql.Timestamp, java.sql.Timestamp) = {
    val row = graft.Tables.load(s, dir, "events")
      .agg(min(col("ts")), max(col("ts"))).collect()(0)
    (row.getTimestamp(0), row.getTimestamp(1))
  }

  /** Far past every real event: flush sentinels sit 3 days after
    * `max(ts)`. */
  private def flushTs(s: SparkSession, dir: String): java.sql.Timestamp =
    new java.sql.Timestamp(eventTimeBounds(s, dir)._2.getTime +
      3L * 24 * 3600 * 1000)

  /** The events table's columns as the change-log stagings carry them. */
  private def changeLog(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))

  /** A two-batch time-split change log: early half, then late half. */
  private def twoBatchLog(s: SparkSession, dir: String): DataFrame = {
    val ev = changeLog(s, dir)
    val mid = "2024-01-16 00:00:00"
    Streaming.stage(s, () => ev.filter(col("ts") < lit(mid)),
      () => ev.filter(col("ts") >= lit(mid)))
  }

  private def streamWindowCounts(s: SparkSession, dir: String): DataFrame = {
    val agg = Streaming.windowedCounts(
      Streaming.readEventsAuto(s, Streaming.liveEvents(dir)),
      window_ = "6 hours", watermark = "1 minute")
    Streaming.replay(agg, statePartitions = Some(4))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), round(col("total_value"), 2).as("total_value"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Streaming APPROXIMATE DISTINCT: per-window unique users via
    * HLL++ (`approx_count_distinct`) — the only distinct aggregate
    * Structured Streaming supports (exact `countDistinct` is
    * unsupported in streaming, and at 100 TB the sketch is the right
    * answer anyway: fixed-size register state per window, mergeable
    * across partitions, order-independent and therefore
    * deterministic). Judged like `q_approx_distinct`: the output
    * carries the BATCH-exact count and the in-bound boolean, so the
    * oracle needs no sketch replay. */
  private def streamApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val approx = Streaming.readEventsAuto(s, Streaming.liveEvents(dir))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
    val exact = graft.Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    Streaming.replay(approx, statePartitions = Some(4))
      .join(exact, Seq("window"))
      .select(col("window.start").as("w_start"), col("exact_users"),
        // 2% rsd sketch: 3σ ≈ 6% + a small-count floor
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(col("exact_users") * 0.06, lit(3.0))).as("within_bound"))
      .orderBy(col("w_start"))
  }

  /** Streaming SpaceSaving top-k — the native mergeable aggregate
    * ([[org.apache.spark.sql.graftx.SpaceSavingTopK]]) running INSIDE
    * Structured Streaming: its serialize/merge contract is exactly
    * what the state store exercises between micro-batches, so the
    * same summary that bounds batch shuffle state here bounds
    * STREAMING state (capacity counters per window × type, not one
    * state row per distinct user). Judged in the exact regime
    * (capacity ≫ per-window distinct users ⇒ merge-order free), so
    * the appended windows must equal the batch top-3 per
    * (window, type), replayed with the same watermark-cutoff rule as
    * `stream_approx_distinct`. */
  private def streamTopkUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.SpaceSavingTopK
    val top = Streaming.readEventsAuto(s, Streaming.liveEvents(dir))
      .filter(col("user_id").isNotNull)
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(SpaceSavingTopK.topk(col("user_id").cast("string"), 8192, 3)
        .as("__top"))
    Streaming.replay(top, statePartitions = Some(4))
      .select(col("window.start").as("w_start"), col("event_type"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("w_start"), col("event_type"),
        (col("__i") + 1).as("rk"), col("__e.item").as("item"),
        col("__e.cnt").as("cnt"))
      .orderBy(col("w_start"), col("event_type"), col("rk"))
  }

  /** Streaming DEDUP under a planted 2× duplication: the same events
    * file is linked twice into the stream directory, so every event
    * arrives exactly twice; `dropDuplicatesWithinWatermark` on event_id
    * must collapse the copies, making the downstream windowed counts
    * equal the batch aggregate over UNIQUE events (the oracle). Without
    * the dedup every n/total_value would be exactly doubled — the
    * comparison proves the stateful dedup, not just the window math. */
  private def streamDedupCounts(s: SparkSession, dir: String): DataFrame = {
    val deduped = Streaming.dedupStream(
      Streaming.readEventsAuto(s, Streaming.liveEvents(dir, copies = 2)),
      Seq("event_id"), watermark = "1 minute")
    val agg = Streaming.windowAgg(deduped, window_ = "6 hours")
    Streaming.replay(agg, statePartitions = Some(4))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), round(col("total_value"), 2).as("total_value"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** WATERMARK LATE-DATA DROP, proven end to end. Three files, one
    * micro-batch each (`maxFilesPerTrigger=1`, ordered by mtime):
    * (1) the full events table — its max event time will become the
    * watermark; (2) a replay of only the final never-emitted window's
    * events — carries the watermark forward a batch, because Spark's
    * late-event filter for batch N uses the PRE-update watermark (one
    * batch behind eviction); (3) a replay of only the OLDEST events
    * (windows long closed) — by now strictly below the late-event
    * watermark and DROPPED. The judged output equals the single-copy
    * window counts: if the drop failed, every early window's n/total
    * would double. */
  private def streamLateDrop(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(s, dir, "events")
    // only batches 2/3 need the bounds scalar: one probe, shared
    lazy val (mn, mx) = eventTimeBounds(s, dir)
    val sixH = 6L * 3600 * 1000
    val staged = Streaming.stage(s,
      () => ev,
      // final-window rows only (tumbling 6h windows are epoch-aligned,
      // so the last window starts at max(ts) floored to the 6h grid;
      // that window never emits, making the duplication invisible) —
      // advances the late-event watermark one batch
      () => ev.filter(col("ts") >=
        lit(new java.sql.Timestamp(mx.getTime / sixH * sixH))),
      // the pure-late replay that must vanish — the first day's events,
      // far below the late-event watermark (max(ts) − 1 minute)
      () => ev.filter(col("ts") <
        lit(new java.sql.Timestamp(mn.getTime + 24L * 3600 * 1000))))
    val agg = Streaming.windowedCounts(staged,
      window_ = "6 hours", watermark = "1 minute")
    Streaming.replay(agg, statePartitions = Some(4))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), round(col("total_value"), 2).as("total_value"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Stream-stream join (view→purchase attribution within 1 hour, per
    * user): BOTH sides are streams over the events file; the judged
    * output is every attributed pair with its lag in microseconds,
    * hash-compared against DuckDB's batch join — inner stream-stream
    * joins emit exactly the batch result once the input is exhausted. */
  private def streamStreamAttribution(s: SparkSession, dir: String): DataFrame = {
    val events = Streaming.readEventsAuto(s, Streaming.liveEvents(dir))
    val joined = Streaming.streamStreamJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "purchase"),
      watermark = "1 minute", horizon = "1 hour")
    Streaming.replay(joined, statePartitions = Some(4))
      .select(col("l_id").as("view_id"), col("r_id").as("purchase_id"),
        col("user_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("lag_us"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** SEMI stream-stream join — the existence-probe form of attribution:
    * each view emits ONCE iff some purchase by the same user lands
    * within the horizon, with no purchase columns in the output (the
    * streaming twin of `j2_semi`). State-wise this is cheaper than the
    * inner join: a view is dropped from state at its FIRST match (no
    * further matches can re-emit it), and the right side buffers only
    * within the watermark. A matched row emits when its match arrives,
    * so the completed bounded replay equals the batch EXISTS — no flush
    * sentinel needed. */
  private def streamSemiAttribution(s: SparkSession, dir: String): DataFrame = {
    val events = Streaming.readEventsAuto(s, Streaming.liveEvents(dir))
    val joined = Streaming.streamStreamJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "purchase"),
      watermark = "1 minute", horizon = "1 hour", joinType = "left_semi")
    Streaming.replay(joined, statePartitions = Some(4))
      .select(col("l_id").as("view_id"), col("user_id"),
        unix_micros(col("l_ts")).as("view_us"))
      .orderBy(col("view_id"))
  }

  /** The two-batch replay of the outer stream-stream joins: the full
    * events table, then one flush file with a view and a purchase
    * sentinel whose only job is to push both sides' watermarks past
    * every real row's eviction bound. */
  private def attributionReplay(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val ev = graft.Tables.load(s, dir, "events")
    val events = Streaming.stage(s, () => ev,
      () => Streaming.flushSentinels(ev, flushTs(s, dir), "view", "purchase"))
    Streaming.replay(Streaming.streamStreamJoin(
        events.filter(col("event_type") === "view"),
        events.filter(col("event_type") === "purchase"),
        watermark = "1 minute", horizon = "1 hour", joinType = joinType),
      statePartitions = Some(4))
  }

  /** LEFT-OUTER stream-stream join: attribution where views with NO
    * purchase inside the horizon must ALSO emit (null purchase) — the
    * semantics inner joins silently drop. Unmatched-left emission rides
    * state EVICTION, which only happens when the watermark passes
    * `l_ts + horizon`; a bounded replay would strand the whole tail in
    * state, so the input is staged as two micro-batches (mtime-ordered,
    * one file per trigger): the full events table, then a flush batch
    * of two sentinel rows (one per side, far-future ts, user ids that
    * exist nowhere) whose only job is to push both sides' watermarks
    * past every real view's eviction bound. The judged output is the
    * complete batch LEFT JOIN — matched pairs AND every unmatched view
    * — proving no row was stranded and no null-row emitted twice. */
  private def streamAttributionOuter(s: SparkSession, dir: String): DataFrame =
    attributionReplay(s, dir, "left_outer")
      .filter(col("user_id") >= 0) // drop the flush sentinels
      .select(col("l_id").as("view_id"), col("r_id").as("purchase_id"),
        col("user_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("lag_us"))
      .orderBy(col("view_id"), col("purchase_id").asc_nulls_first)

  /** FULL-OUTER stream-stream join — the complete eviction matrix:
    * unmatched VIEWS flush when the watermark passes their join
    * horizon (as in the left-outer form) AND unmatched PURCHASES flush
    * when the watermark passes their own event time — both sides hold
    * state, both sides must evict exactly once. Same sentinel harness
    * as stream_attribution_outer (one real file, one far-future flush
    * file with non-matching sentinel users on BOTH sides, mtime-
    * ordered micro-batches); the sentinels surface as unmatched rows
    * themselves and are filtered by their negative user ids. Judged
    * against the batch FULL JOIN with the identical time-range
    * condition. */
  private def streamAttributionFull(s: SparkSession, dir: String): DataFrame =
    attributionReplay(s, dir, "full_outer")
      .withColumn("uid", coalesce(col("user_id"), col("r_user")))
      .filter(col("uid") >= 0) // drop both flush sentinels
      .select(col("l_id").as("view_id"), col("r_id").as("purchase_id"),
        col("uid").as("user_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("lag_us"))
      .orderBy(col("view_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)

  /** CUSTOM-STATE sessionization (`Streaming.statefulSessions`):
    * `flatMapGroupsWithState` + event-time TIMEOUT eviction, judged
    * against the batch gap-sessionization oracle (same sessions
    * `w6_sessions` computes with windows). Eviction needs the
    * watermark to pass every real session's `last + gap`, and the
    * watermark that gates batch N's timeouts is the PRE-batch one, so
    * the bounded replay stages THREE mtime-ordered micro-batches:
    * (1) the full events table (watermark still 0 — only data-path
    * closes fire); (2) a far-future sentinel row — its batch runs with
    * watermark `max(ts) − 1 min`, firing timeouts for all but the
    * tail sessions; (3) a second sentinel at the SAME far-future ts —
    * its batch runs with the sentinel-high watermark, firing every
    * remaining real session. The sentinels' own open session never
    * emits (the watermark never passes its bound) and is filtered by
    * its negative user id regardless. */
  private def streamStatefulSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(s, dir, "events")
    lazy val flush = Streaming.flushSentinels(ev, flushTs(s, dir), "view")
    val sessions = Streaming.statefulSessions(
      Streaming.stage(s, () => ev, () => flush, () => flush),
      gapMinutes = 30, watermark = "1 minute")
    Streaming.replay(sessions.toDF(), statePartitions = Some(4))
      .filter(col("user_id") >= 0) // drop the sentinels' own sessions
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"),
        round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** Stream-static enrichment join: the events STREAM joins the static
    * customer dim (broadcast — no stream-side state at all, the
    * canonical dimension-enrichment shape), then the enriched rows are
    * aggregated batch-side per segment × event_type. Stateless, so no
    * watermark is needed and the completed output equals the batch
    * join exactly. */
  private def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val events = Streaming.readEventsAuto(s, Streaming.liveEvents(dir))
    val dim = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = events.join(broadcast(dim),
        events("user_id") === dim("c_custkey"), "inner")
      // project to the judged columns BEFORE the replay: every
      // micro-batch writes its rows out and the read-back scans them,
      // so width is the cost that matters
      .select(col("c_mktsegment"), col("event_type"), col("value"))
    Streaming.replay(enriched)
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** STREAMING POINT-IN-TIME (SCD2) ENRICHMENT — the PIT-correct form
    * of stream_static_enrich: the dimension is VERSIONED (two validity
    * windows per customer, cut at Jan 15) and each event joins the
    * version valid AT ITS EVENT TIME — `user_id = k AND vf <= ts < vt`
    * — not the current one. This is the join that makes streaming
    * features reproducible: replaying last week's events yields last
    * week's attributes. Stream-static inner joins allow the range
    * predicate, the versioned dim broadcasts (2 rows/key), and no
    * state store is involved — at 100 TB/day the cost stays one
    * broadcast hash probe per event. Judged: per (versioned-segment,
    * event_type) counts/sums vs the batch replay. */
  private def streamPitEnrich(s: SparkSession, dir: String): DataFrame = {
    val events = Streaming.readEventsAuto(s, Streaming.liveEvents(dir))
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
    val c = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val dim = c.select(col("c_custkey").as("k"),
        lit("1970-01-01 00:00:00").cast("timestamp").as("vf"),
        cutoff.as("vt"), concat(col("c_mktsegment"), lit("#v1")).as("seg"))
      .unionByName(c.select(col("c_custkey").as("k"), cutoff.as("vf"),
        lit("2100-01-01 00:00:00").cast("timestamp").as("vt"),
        concat(col("c_mktsegment"), lit("#v2")).as("seg")))
    val enriched = events.join(broadcast(dim),
        events("user_id") === col("k") &&
          events("ts") >= col("vf") && events("ts") < col("vt"))
      .select(col("seg"), col("event_type"), col("value"))
    Streaming.replay(enriched)
      .groupBy(col("seg"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("seg"), col("event_type"))
  }

  /** STREAMING CDC APPLY (`Streaming.upsertStream` → `Sinks.upsert`,
    * the plain-Parquet twin of a Delta streaming MERGE): the events
    * table is staged as a time-ordered two-file change log (early
    * half, then late half, mtime-ordered, one micro-batch each), each
    * batch reduced to its latest change per user and upserted into a
    * lake target. The final target must hold exactly each user's
    * overall-latest event — the oracle's global row_number — which
    * only happens if batch 2's merge both UPDATES users it shares with
    * batch 1 and preserves users it doesn't. */
  private def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_cdc")
    val target = tmp.resolve("target").toString
    Streaming.drain(Streaming.upsertStream(twoBatchLog(s, dir),
      target, "user_id", Seq("ts", "event_id"),
      checkpoint = tmp.resolve("ckpt").toString))
    s.read.parquet(target)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"),
        unix_millis(col("ts")).as("ts_ms"))
      .orderBy(col("user_id"))
  }

  /** STREAMING LINE-PROTOCOL INGEST judged: the events table
    * serializes to Influx line-protocol TEXT
    * ([[graft.sources.LineProtocol]]) staged as two micro-batch files;
    * a text file stream parses each line back into a typed point
    * frame (stateless per-line flatMap — the streaming form costs
    * exactly the batch form per row) and lands it through the replay's
    * per-batch parquet output; the reconstruction over the landed
    * points must equal the source table — the same identity contract
    * as `s18_line_protocol`, now across the wire AND the micro-batch
    * boundary. The tag column and every field survive with their
    * types; timestamps ride as nanoseconds (µs exact). */
  private def streamLineIngest(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.LineProtocol
    val tmp = graft.etl.Utils.tempDir("graft_slp")
    val ev = graft.Tables.load(s, dir, "events")
    val stage = Files.createDirectory(tmp.resolve("stage"))
    // two micro-batches of serialized lines (split by event id parity),
    // staged concurrently — the halves are independent scan+serialize
    // jobs (guide §2.6) and stageText's gen-dir copy makes the overlap
    // committer-safe
    graft.etl.Utils.inParallel(
      () => stageText(LineProtocol.serialize(
          ev.filter(col("event_id") % 2 === 0),
          "events", "ts", Seq("event_type")),
        stage, "b0", 1000000L),
      () => stageText(LineProtocol.serialize(
          ev.filter(col("event_id") % 2 === 1),
          "events", "ts", Seq("event_type")),
        stage, "b1", 2000000L))
    val lines = s.readStream.option("maxFilesPerTrigger", 1)
      .text(stage.toString).as(org.apache.spark.sql.Encoders.STRING)
    Streaming.replay(LineProtocol.parse(lines))
      .select(
        col("fields_long")("event_id").as("event_id"),
        col("time").as("ts"),
        col("fields_long")("user_id").as("user_id"),
        col("tags")("event_type").as("event_type"),
        col("fields_double")("value").as("value"),
        col("fields_str")("props").as("props"))
      .orderBy(col("event_id"))
  }

  /** STREAMING EXTENDED-JSON INGEST judged — the Mongo wire's
    * streaming twin, as `stream_line_ingest` is the Influx wire's:
    * the events table serializes to canonical Extended JSON
    * ([[graft.sources.ExtendedJson]]) staged as two micro-batch text
    * files; a text file stream parses each document back into the
    * typed frame (stateless per-line Jackson pass — the streaming
    * form costs exactly the batch form per row) and lands through the
    * replay's per-batch parquet output. The reconstruction must equal
    * the source table at BSON's ms date fidelity — `s19_extended_json`'s
    * identity contract, now across the wire AND the micro-batch
    * boundary. */
  private def streamEjsonIngest(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.ExtendedJson
    val tmp = graft.etl.Utils.tempDir("graft_sej")
    val ev = graft.Tables.load(s, dir, "events")
    val stage = Files.createDirectory(tmp.resolve("stage"))
    // two micro-batches of serialized documents (split by id parity),
    // staged concurrently (guide §2.6; see stream_line_ingest)
    graft.etl.Utils.inParallel(
      () => stageText(
        ExtendedJson.serialize(ev.filter(col("event_id") % 2 === 0)),
        stage, "b0", 1000000L),
      () => stageText(
        ExtendedJson.serialize(ev.filter(col("event_id") % 2 === 1)),
        stage, "b1", 2000000L))
    val lines = s.readStream.option("maxFilesPerTrigger", 1)
      .text(stage.toString).as(org.apache.spark.sql.Encoders.STRING)
    Streaming.replay(ExtendedJson.parse(lines, ev.schema))
      .orderBy(col("event_id"))
  }

  /** STREAMING NEAR-DUP AT INGEST ([[Streaming.nearDupStream]]): the
    * historical corpus (doc_id % 5 ≠ 0, id < 200) is indexed once;
    * the new docs arrive as TWO micro-batches (id < 100, id ≥ 100).
    * Each batch checks itself against the index + itself, emits
    * verified pairs, and appends its sketch — so batch 2 catches
    * cross-batch near-dups against batch 1 WITHOUT rescanning anything.
    * The emitted set is batch-split invariant, which is exactly what
    * the oracle exploits: it replays the whole sketch batch-wise
    * blind, with the pair condition (history×new) ∪ (new×new ordered).
    */
  private def streamNearDedup(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_sndd")
    val d = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val hist = d.filter(col("doc_id") % 5 =!= 0)
    val fresh = d.filter(col("doc_id") % 5 === 0)
    val idx = tmp.resolve("idx").toString
    // history index build ∥ the two fresh-batch stagings: all three
    // are independent jobs (the stream only starts afterwards), and
    // the index build keeps its INTERNAL buckets→tokens write order
    // (guide §2.6; the crash-ordering contract is within the build,
    // never between build and staging)
    lazy val stream = Streaming.stage(s,
      () => fresh.filter(col("doc_id") < 100),
      () => fresh.filter(col("doc_id") >= 100))
    graft.etl.Utils.inParallel(
      () => graft.dedup.Dedup.buildMinhashIndex(hist, "text", "doc_id",
        idx, n = 1, numHashes = 32, bands = 8, portableHash = true),
      () => stream)
    val res = tmp.resolve("res").toString
    Streaming.drain(Streaming.nearDupStream(stream, "text", "doc_id",
        idx, res, tmp.resolve("ckpt").toString,
        n = 1, numHashes = 32, bands = 8, verifyThreshold = 0.8,
        portableHash = true), Some(4))
    s.read.parquet(res)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** STREAMING ANN INGEST judged: the IVF index is built from the
    * historical slice (vec_id < 300, which contains the 8 seed vectors,
    * so the codebook equals the full-corpus one), the rest of the
    * corpus arrives as TWO micro-batches through
    * [[graft.streaming.Streaming.ivfIngestStream]] (each landing as an
    * exactly-once increment-log partition), and the probe over
    * base + increments ([[graft.similarity.Ann.ivfIndexTopK]]) must
    * equal the one-shot inline IVF route — judged against the SAME
    * oracle SQL as `ann_ivf`. Cell assignment is per-row against the
    * frozen stored codebook, so the emitted index is batch-split
    * INVARIANT: 1 file or N files, base ∪ increments is the same
    * posting set the one-shot build writes. */
  private def streamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_sann")
    val e = graft.Tables.load(s, dir, "embeddings")
    val idx = tmp.resolve("idx").toString
    val fresh = e.filter(col("vec_id") >= 300)
      .select(col("vec_id"), col("embedding"))
    // base-index build ∥ the two increment stagings (guide §2.6) — the
    // stream consumes both only after all three land
    lazy val stream = Streaming.stage(s,
      () => fresh.filter(col("vec_id") < 400),
      () => fresh.filter(col("vec_id") >= 400))
    graft.etl.Utils.inParallel(
      () => graft.similarity.Ann.buildIvfIndex(
        e.filter(col("vec_id") < 300), "embedding", "vec_id", idx,
        nlist = 8),
      () => stream)
    Streaming.drain(Streaming.ivfIngestStream(stream, "embedding",
      "vec_id", idx, tmp.resolve("ckpt").toString), Some(4))
    graft.similarity.Ann.ivfIndexTopK(s, e.filter(col("vec_id") < 10),
        "embedding", "vec_id", idx, k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** STREAMING DSIR GATE judged: the log-ratio artifact trains on the
    * historical slice (doc_id < 250, target = English), freezes to
    * parquet, and the rest of the corpus streams through
    * [[graft.streaming.Streaming.dsirGateStream]] in two micro-batches
    * — per-doc weights and the constant selection threshold must equal
    * the one-shot replay (history-trained histograms, stream-side
    * scoring, unseen buckets resolving to the pure smoothing ratio). */
  private def streamDsirGate(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_sdsir")
    val d = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val tablePath = tmp.resolve("table").toString
    val fresh = d.filter(col("doc_id") >= 250)
      .select(col("doc_id"), col("text"))
    // artifact train+freeze ∥ the two fresh-batch stagings (guide §2.6)
    lazy val stream = Streaming.stage(s,
      () => fresh.filter(col("doc_id") < 375),
      () => fresh.filter(col("doc_id") >= 375))
    graft.etl.Utils.inParallel(
      () => graft.curation.Curation.dsirTable(
          d.filter(col("doc_id") < 250), "doc_id", "text",
          col("lang") === "en")
        .write.mode("overwrite").parquet(tablePath),
      () => stream)
    val res = tmp.resolve("res").toString
    Streaming.drain(Streaming.dsirGateStream(stream, "text", "doc_id",
      tablePath, res, tmp.resolve("ckpt").toString), Some(4))
    s.read.parquet(res)
      .select(col("id").as("doc_id"), col("n_tokens"), col("logw"),
        col("selected"))
      .orderBy(col("doc_id"))
  }

  /** STREAMING CDC UPSERT INTO A LIVE DATABASE
    * (`Streaming.jdbcUpsertStream` + `sinks/JdbcSink`): the same
    * two-batch change-log replay as `stream_upsert`, but the target is
    * a REAL embedded-Derby table reached over the JDBC wire — the
    * reference's PostgreSQL loader upsert (`base_loaders.py:80-118`)
    * as a stream. Batch 2's merge must UPDATE users it shares with
    * batch 1 (real UPDATE statements against the database) and
    * preserve the rest; the judged rows are read BACK through the
    * [[graft.sources.JdbcSource]] seam, so write-wire, merge, and
    * read-wire are all under the oracle. Table reset per invocation
    * keeps bench re-runs deterministic. */
  private def streamJdbcUpsert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_stream;create=true"
    val drv = "org.apache.derby.jdbc.EmbeddedDriver"
    val tmp = graft.etl.Utils.tempDir("graft_jdbc_cdc")
    val table = "EVENTS_STATE"
    val stateSchema = StructType(Seq(
      StructField("USER_ID", LongType),
      StructField("EVENT_ID", LongType),
      StructField("EVENT_TYPE", StringType),
      StructField("VALUE", DoubleType),
      StructField("TS_MS", LongType)))
    graft.sinks.JdbcSink.ensureTable(url, drv, table, stateSchema,
      keyCols = Seq("USER_ID"), reset = true)
    val changes = twoBatchLog(s, dir)
      .select(col("user_id").as("USER_ID"),
        col("event_id").as("EVENT_ID"),
        col("event_type").as("EVENT_TYPE"),
        col("value").as("VALUE"),
        unix_millis(col("ts")).as("TS_MS"))
    Streaming.drain(Streaming.jdbcUpsertStream(changes, url, drv, table,
      key = "USER_ID", orderCols = Seq("TS_MS", "EVENT_ID"),
      checkpoint = tmp.resolve("ckpt").toString))
    graft.sources.JdbcSource(url, table, driver = Some(drv))
      .load(s)
      .select(col("USER_ID").as("user_id"),
        col("EVENT_ID").as("event_id"),
        col("EVENT_TYPE").as("event_type"),
        round(col("VALUE"), 2).as("value"),
        col("TS_MS").as("ts_ms"))
      .orderBy(col("user_id"))
  }

  /** STREAMING SCD2 (`Streaming.scd2Stream`): the events stream is
    * staged as a two-batch time-split change log; each batch folds
    * into a Type-2 history of every user's event_type — batch 2 must
    * CLOSE versions batch 1 left open (valid_to stamped, is_current
    * flipped) and append the new ones. Judged against the one-shot
    * SCD2 SQL over all events: the incremental stream and the batch
    * rebuild must produce byte-identical history. */
  private def streamScd2(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_sscd")
    val hist = tmp.resolve("history").toString
    Streaming.drain(Streaming.scd2Stream(twoBatchLog(s, dir),
      hist, key = "user_id", ts = "ts", tie = "event_id",
      attrs = Seq("event_type"),
      checkpoint = tmp.resolve("ckpt").toString))
    s.read.parquet(hist)
      .select(col("user_id"), col("event_type"),
        col("version").cast("long").as("version"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** STREAMING QUALITY GATE (`Streaming.auditedAppendStream`): three
    * staged micro-batches — clean early slice, a CORRUPTED middle
    * slice (values flipped negative), clean late slice. The corrupted
    * batch must divert to quarantine wholesale; the judged read-back
    * aggregates target AND quarantine (diverted/kept row counts per
    * event_type), proving nothing was silently dropped and nothing
    * dirty landed. */
  private def streamQualityGate(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_sqg")
    val ev = changeLog(s, dir)
    val cut1 = "2024-01-11 00:00:00"
    val cut2 = "2024-01-21 00:00:00"
    val staged = Streaming.stage(s,
      () => ev.filter(col("ts") < lit(cut1)),
      () => ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2))
        .withColumn("value", -abs(col("value")) - lit(1.0)),
      () => ev.filter(col("ts") >= lit(cut2)))
    val target = tmp.resolve("target").toString
    val quarantine = tmp.resolve("quarantine").toString
    def audit(batch: DataFrame): Option[String] = {
      val bad = batch.filter(col("value") < 0).count()
      if (bad > 0) Some(s"$bad negative-value rows") else None
    }
    Streaming.drain(Streaming.auditedAppendStream(staged,
      target, quarantine, audit,
      checkpoint = tmp.resolve("ckpt").toString))
    val kept = s.read.parquet(target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col("value")), 2).as("kept_total"))
    val held = s.read.parquet(quarantine)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_quarantined"))
    kept.join(held, Seq("event_type"), "left")
      .select(col("event_type"), col("n_kept"), col("kept_total"),
        coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))
      .orderBy(col("event_type"))
  }

  /** STREAMING INCREMENTAL MV (`Streaming.mvMergeStream`): the
    * events stream folds per-batch (event_type) partials — count,
    * sum, min, max — into a maintained rollup; avg derives at read.
    * Two time-split batches; the judged rollup must equal the
    * one-shot aggregate over all events (the streaming twin of
    * `o5_mv_merge`). */
  private def streamMvMerge(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.etl.Utils.tempDir("graft_smvm")
    val rollup = tmp.resolve("rollup").toString
    Streaming.drain(Streaming.mvMergeStream(twoBatchLog(s, dir),
      rollup,
      partialOf = b => b.filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"),
          min(col("value")).as("lo"), max(col("value")).as("hi")),
      keys = Seq("event_type"),
      merges = Seq("n" -> "sum", "total" -> "sum",
        "lo" -> "min", "hi" -> "max"),
      checkpoint = tmp.resolve("ckpt").toString))
    s.read.parquet(rollup)
      .select(col("event_type"), col("n"),
        round(col("total"), 2).as("total"),
        round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"),
        round(col("total") / col("n"), 4).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Custom keyed state (`flatMapGroupsWithState`): running per-user
    * event counts/value totals emitted in update mode. The judged
    * output takes each user's LAST emission — selected by max n_events,
    * which is monotone in the update sequence, so the reduction is
    * correct under any micro-batch split — and must equal the batch
    * group-by over the same events. */
  private def streamUserTotals(s: SparkSession, dir: String): DataFrame = {
    val totals = Streaming.statefulUserTotals(
      Streaming.readEventsAuto(s, Streaming.liveEvents(dir)))
    Streaming.replay(totals.toDF(), "update", Some(4))
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("total_value"), col("n_events")).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** Streaming sessionization (`session_window`, gap 30 min): sessions
    * whose end (last event + gap) the final watermark passed are
    * emitted in append mode. The oracle replays gap-based
    * sessionization batch-wise — new session at diff >= gap, matching
    * session_window's half-open [ts, ts+gap) merge rule — plus the
    * same emission cutoff. */
  private def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val sess = Streaming.sessionize(
      Streaming.readEventsAuto(s, Streaming.liveEvents(dir)),
      gap = "30 minutes", watermark = "1 hour")
    // 8 state partitions, not the surface-wide 4: this query carries
    // ~1 session PER EVENT in state (sparse per-user activity), so the
    // state store commit dominates and halving the per-partition state
    // beats the extra per-partition fixed cost (measured: 2.25 s @4 →
    // 1.7-1.9 s @8; 16+ regresses on fixed cost).
    Streaming.replay(sess, statePartitions = Some(8))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** DYNAMIC-GAP streaming sessionization
    * (`Streaming.sessionizeDynamic`): purchases hold a session open
    * for 60 minutes, every other event for 30 — the engagement-model
    * nuance a fixed gap can't express. `session_window(ts, gapExpr)`
    * merges overlapping per-event extents `[ts, ts+gap)`; the oracle
    * replays that merge batch-wise as running-max island detection
    * (new session iff ts ≥ max of all previous events' extent ends —
    * prior sessions' ends can never exceed a later session's start,
    * so the GLOBAL running max is safe) plus the same append-mode
    * emission cutoff (session end ≤ final watermark). */
  private def streamSessionsDynamic(s: SparkSession, dir: String): DataFrame = {
    // interval STRINGS, not INTERVAL literals: the dynamic-gap overload
    // wants CalendarIntervalType (or a castable string), and a typed
    // INTERVAL literal parses to DayTimeIntervalType, which it rejects
    val gap = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    val sess = Streaming.sessionizeDynamic(
      Streaming.readEventsAuto(s, Streaming.liveEvents(dir)),
      gap, watermark = "1 hour")
    // same state-heavy regime as stream_sessions
    Streaming.replay(sess, statePartitions = Some(8))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** End-to-end stream → routed lake load (foreachBatch reusing the K8
    * batch routing fan-out): every event lands in the archive route; the
    * judged output aggregates the read-back archive table and must equal
    * the batch aggregate over the source events. */
  private def streamRouting(s: SparkSession, dir: String): DataFrame = {
    val base = graft.etl.Utils.tempDir("graft_srt_lake").toString
    Streaming.drain(Streaming.routeStream(
      Streaming.readEventsAuto(s, Streaming.liveEvents(dir)), base))
    s.read.parquet(s"$base/archive")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))
  }

  def queries: Map[String, Q] = Map(
    "stream_late_drop" -> (streamLateDrop _),
    "stream_routing" -> (streamRouting _),
    "stream_sessions" -> (streamSessions _),
    "stream_sessions_dynamic" -> (streamSessionsDynamic _),
    "stream_user_totals" -> (streamUserTotals _),
    "stream_window_counts" -> (streamWindowCounts _),
    "stream_dedup_counts" -> (streamDedupCounts _),
    "stream_attribution" -> (streamStreamAttribution _),
    "stream_semi_attribution" -> (streamSemiAttribution _),
    "stream_attribution_outer" -> (streamAttributionOuter _),
    "stream_static_enrich" -> (streamStaticEnrich _),
    "stream_pit_enrich" -> (streamPitEnrich _),
    "stream_attribution_full" -> (streamAttributionFull _),
    "stream_stateful_sessions" -> (streamStatefulSessions _),
    "stream_approx_distinct" -> (streamApproxDistinct _),
    "stream_topk_users" -> (streamTopkUsers _),
    "stream_upsert" -> (streamUpsert _),
    "stream_near_dedup" -> (streamNearDedup _),
    "stream_line_ingest" -> (streamLineIngest _),
    "stream_ejson_ingest" -> (streamEjsonIngest _),
    "stream_ann_ingest" -> (streamAnnIngest _),
    "stream_dsir_gate" -> (streamDsirGate _),
    "stream_jdbc_upsert" -> (streamJdbcUpsert _),
    "stream_scd2" -> (streamScd2 _),
    "stream_quality_gate" -> (streamQualityGate _),
    "stream_mv_merge" -> (streamMvMerge _)
  )

  def oracleSql: Map[String, String] = Map(
    // batch-split invariance makes the streamed set equal the one-shot
    // sketch replay: (history × new) ∪ (new × new, id-ordered)
    // wire + micro-batch round trip ≡ identity on the source table
    "stream_line_ingest" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    // wire + micro-batch round trip ≡ identity at BSON's ms date
    // fidelity (the streaming twin of s19_extended_json)
    "stream_ejson_ingest" ->
      """SELECT event_id, date_trunc('milliseconds', ts) AS ts, user_id,
        |  event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_near_dedup" -> DedupQueries.minhashOracleWith(
      "((a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0) OR " +
        "(a.doc_id % 5 = 0 AND b.doc_id % 5 = 0 AND a.doc_id < b.doc_id))"),
    // batch-split invariance of the streamed index: base ∪ increments
    // equals the one-shot posting set, so the probe answers the same
    // replica that judges the inline IVF route
    "stream_ann_ingest" -> SimilarityQueries.ivfOracle,
    // frozen-artifact scoring is per-row, so the streamed verdicts
    // equal the one-shot replay: history-trained histograms (doc_id <
    // 250, target = en), stream-side scoring (doc_id >= 250), unseen
    // buckets resolving to the pure smoothing ratio via the
    // all-buckets generate_series
    "stream_dsir_gate" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |b AS (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 256 AS bkt
        |  FROM tok),
        |bh AS (SELECT * FROM b WHERE doc_id < 250),
        |raw AS (SELECT bkt, count(*) AS c_r FROM bh GROUP BY 1),
        |tgt AS (SELECT bkt, count(*) AS c_t FROM bh WHERE lang = 'en'
        |  GROUP BY 1),
        |tot AS (SELECT
        |    (SELECT CAST(coalesce(sum(c_r), 0) AS DOUBLE) FROM raw) AS n_r,
        |    (SELECT CAST(coalesce(sum(c_t), 0) AS DOUBLE) FROM tgt) AS n_t),
        |lr AS (SELECT g.bkt,
        |    ln(((coalesce(c_t, 0) + 1) / (n_t + 256.0)) /
        |       ((coalesce(c_r, 0) + 1) / (n_r + 256.0))) AS llr
        |  FROM (SELECT unnest(generate_series(0, 255)) AS bkt) g
        |  LEFT JOIN raw USING (bkt) LEFT JOIN tgt USING (bkt)
        |  CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(llr), 6) AS logw,
        |  (round(sum(llr), 6) > 0) AS selected
        |FROM b JOIN lr USING (bkt)
        |WHERE doc_id >= 250
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ms-grain ordering: the JDBC state table stores epoch millis, so
    // the tie-break is (ts_ms, event_id) on BOTH sides by construction
    "stream_jdbc_upsert" ->
      """WITH latest AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type,
        |  round(value, 2) AS value, ts_ms
        |FROM latest WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // epoch_us ordering matches Spark's µs-truncated timestamps exactly
    "stream_upsert" ->
      """WITH latest AS (
        |  SELECT user_id, event_id, event_type, value, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type,
        |  round(value, 2) AS value, epoch_ms(ts) AS ts_ms
        |FROM latest WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // corrupted middle slice diverted wholesale; clean slices kept
    "stream_quality_gate" ->
      """WITH kept AS (
        |  SELECT event_type, count(*) AS n_kept,
        |    round(sum(value), 2) AS kept_total
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
        |     OR ts >= TIMESTAMP '2024-01-21 00:00:00'
        |  GROUP BY 1),
        |held AS (
        |  SELECT event_type, count(*) AS n_quarantined FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-21 00:00:00'
        |  GROUP BY 1)
        |SELECT k.event_type, n_kept, kept_total,
        |  coalesce(n_quarantined, 0) AS n_quarantined
        |FROM kept k LEFT JOIN held h ON k.event_type = h.event_type
        |ORDER BY k.event_type""".stripMargin,
    // per-batch partials folded into the MV must equal the one-shot
    "stream_mv_merge" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS total,
        |  round(min(value), 2) AS lo, round(max(value), 2) AS hi,
        |  round(sum(value) / count(*), 4) AS avg_value
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // the incremental two-batch stream must equal the one-shot SCD2
    "stream_scd2" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (
        |  SELECT * FROM ordered WHERE prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  row_number() OVER w AS version,
        |  epoch_us(ts) AS from_us,
        |  epoch_us(coalesce(lead(ts) OVER w,
        |           TIMESTAMP '9999-12-31 00:00:00')) AS to_us,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // single-copy counts: the pure-late replay batch must vanish
    "stream_late_drop" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS w_start, event_type,
        |    count(*) AS n, round(sum(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT w_start, event_type, n, total_value FROM w
        |WHERE w_start + INTERVAL 6 HOUR <=
        |  (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
        |ORDER BY w_start, event_type""".stripMargin,
    "stream_routing" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch(ts) -
        |      epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |      >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid,
        |    min(ts) AS session_start,
        |    count(*) AS n_events,
        |    round(sum(value), 2) AS session_value,
        |    max(ts) + INTERVAL 30 MINUTE AS s_end
        |  FROM sess GROUP BY user_id, sid)
        |SELECT user_id, session_start, n_events, session_value FROM agg
        |WHERE s_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    // dynamic-gap merge replayed as running-max island detection;
    // emission = session end (max event extent) past the final watermark
    "stream_sessions_dynamic" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN event_type = 'purchase' THEN 3600000000
        |      ELSE 1800000000 END AS gap_us
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts, value, gap_us,
        |    max(epoch_us(ts) + gap_us) OVER (PARTITION BY user_id
        |      ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
        |  FROM g),
        |f AS (
        |  SELECT *, CASE WHEN run_end IS NULL OR epoch_us(ts) >= run_end
        |    THEN 1 ELSE 0 END AS new_s FROM r),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        |agg AS (
        |  SELECT user_id, sid, min(ts) AS session_start,
        |    count(*) AS n_events, round(sum(value), 2) AS session_value,
        |    max(epoch_us(ts) + gap_us) AS s_end_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start, n_events, session_value FROM agg
        |WHERE s_end_us <=
        |  (SELECT epoch_us(max(ts)) - 3600000000 FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_user_totals" ->
      """SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_window_counts" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS w_start, event_type,
        |    count(*) AS n, round(sum(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT w_start, event_type, n, total_value FROM w
        |WHERE w_start + INTERVAL 6 HOUR <=
        |  (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
        |ORDER BY w_start, event_type""".stripMargin,
    "stream_attribution" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |ORDER BY view_id, purchase_id""".stripMargin,
    "stream_semi_attribution" ->
      """SELECT v.event_id AS view_id, v.user_id,
        |  epoch_us(v.ts) AS view_us
        |FROM events v
        |WHERE v.event_type = 'view' AND EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |ORDER BY view_id""".stripMargin,
    // the flush batch pushes the watermark past every view's eviction
    // bound, so the completed stream equals the full batch LEFT JOIN
    "stream_attribution_outer" ->
      """WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM v LEFT JOIN p
        |  ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin,
    "stream_attribution_full" ->
      """WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  COALESCE(v.user_id, p.user_id) AS user_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM v FULL JOIN p
        |  ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,
    "stream_static_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "stream_pit_enrich" ->
      """SELECT c_mktsegment ||
        |    CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN '#v1' ELSE '#v2' END AS seg,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2
        |ORDER BY seg, event_type""".stripMargin,
    // unique events only — the planted 2× duplication must vanish
    "stream_dedup_counts" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS w_start, event_type,
        |    count(*) AS n, round(sum(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT w_start, event_type, n, total_value FROM w
        |WHERE w_start + INTERVAL 6 HOUR <=
        |  (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
        |ORDER BY w_start, event_type""".stripMargin,
    // every gap-session, closed via data path or timeout eviction —
    // the flush sentinels guarantee the full set emits
    "stream_stateful_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, epoch_us(ts) AS us, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(us) AS session_start_us,
        |  max(us) AS session_end_us, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // append-mode emission: only watermark-closed windows surface
    "stream_topk_users" ->
      """WITH f AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS w_start,
        |    event_type, CAST(user_id AS VARCHAR) AS item
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (
        |  SELECT w_start, event_type, item, count(*) AS cnt
        |  FROM f GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT w_start, event_type, item, cnt,
        |    row_number() OVER (PARTITION BY w_start, event_type
        |      ORDER BY cnt DESC, item) AS rk
        |  FROM c)
        |SELECT w_start, event_type, CAST(rk AS INT) AS rk, item, cnt
        |FROM r
        |WHERE rk <= 3 AND w_start + INTERVAL 6 HOUR <=
        |  (SELECT max(ts) - INTERVAL 1 MINUTE FROM events
        |   WHERE user_id IS NOT NULL)
        |ORDER BY w_start, event_type, rk""".stripMargin,
    "stream_approx_distinct" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS w_start,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        |  FROM events GROUP BY 1)
        |SELECT w_start, exact_users, TRUE AS within_bound FROM w
        |WHERE w_start + INTERVAL 6 HOUR <=
        |  (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
        |ORDER BY w_start""".stripMargin
  )
}
