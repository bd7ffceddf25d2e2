package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import org.apache.spark.sql.Row

/** Output row of [[Streaming.statefulUserTotals]]. */
final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Closed session emitted by [[Streaming.statefulSessions]] (bounds in
  * epoch µs — the hash-stable export, same convention as SCD2's
  * validity bounds). */
final case class SessionAgg(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Long, session_value: Double)

/** Keyed state of one OPEN session in [[Streaming.statefulSessions]]. */
private[streaming] final case class SessState(startUs: Long, lastUs: Long,
    n: Long, sum: Double)

/** Structured Streaming slice (SURVEY.md §2.11).
  *
  * The reference has no streaming engine — MQTT/OPC-UA exist only as
  * config (`config/settings.py:94-103`), the real-time flag defaults to
  * False (`settings.py:191`), and the hourly DAG is a micro-batch
  * (`multi_source_ingestion_dag.py:47-48`). This module covers that
  * aspirational surface Spark-first: file-source streams over the lake
  * directory, watermarked event-time windows, and `foreachBatch` reuse
  * of the batch routing sink (K8), so the same code path serves hourly
  * batch and continuous ingestion.
  *
  * Scale: state is bounded by the watermark; windows aggregate with
  * partial aggregation per micro-batch; `Trigger.AvailableNow` gives the
  * DAG-equivalent catch-up-then-stop semantics.
  */
object Streaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a lake directory of event parquet files
    * (µs-timestamp layout, i.e. files the engine itself wrote). */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(eventSchema)
    maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(dir)
  }

  /** [[readEvents]] over RAW lake files whose ts layout is a generator
    * detail (TIMESTAMP(NANOS) → long ns, µs-NTZ, or µs-LTZ — the
    * layouts [[graft.Tables]] documents): the parquet FOOTER of the
    * currently-present files is probed once with a batch reader (no
    * data scan), the stream schema is pinned to what the scanner will
    * actually produce, and the column is normalized to session-UTC
    * `TimestampType` with the same rules as the batch path. A stream
    * must declare its schema up front, so hardcoding any one layout
    * silently corrupts event time when the lake's writer changes —
    * probing is the only stable contract. */
  def readEventsAuto(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(dir).schema.fields
      .find(_.name == "ts").map(_.dataType).getOrElse(TimestampType)
    val probedSchema = StructType(eventSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val reader = spark.readStream.schema(probedSchema)
    val paced = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTime(paced.parquet(dir), "ts")
  }

  /** Tumbling/sliding watermarked window aggregate — the streaming form
    * of the DAG's hourly rollup. Late data beyond the watermark drops. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      slide: Option[String] = None, watermark: String = "30 minutes"): DataFrame =
    windowAgg(events.withWatermark("ts", watermark), window_, slide)

  /** The window aggregate alone, for streams that already carry a
    * watermark (e.g. downstream of [[dedupStream]] — redefining a
    * watermark between stateful operators is disallowed). */
  def windowAgg(events: DataFrame, window_ : String = "1 hour",
      slide: Option[String] = None): DataFrame = {
    val w = slide.map(sl => window(col("ts"), window_, sl))
      .getOrElse(window(col("ts"), window_))
    events.groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
  }

  /** Sessionization by user with a gap timeout — `session_window`
    * (state bounded by watermark + gap). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))

  /** [[sessionize]] with a PER-EVENT gap expression — `session_window`'s
    * dynamic-gap form: each event extends its session to `[ts,
    * ts + gap(event))` and overlapping extents merge, so e.g. a
    * purchase can hold a session open longer than a view. Same state
    * bound (watermark + max gap); the merge rule means the emitted
    * session set depends only on event times and gaps, never on
    * micro-batch layout — what keeps the dynamic form batch-judgeable
    * (the oracle replays the merge as a running-max island detection). */
  def sessionizeDynamic(events: DataFrame, gapExpr: Column,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gapExpr), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))

  /** Streaming exact deduplication on key columns (the training-data
    * dedup primitive in streaming form). State keeps one entry per key
    * only until the watermark passes its event time
    * (`dropDuplicatesWithinWatermark`) — bounded state for an unbounded
    * stream, unlike plain `dropDuplicates` whose keyed state grows
    * forever. Duplicates arriving within the watermark delay (including
    * same-batch copies) are removed; a duplicate later than the
    * watermark is by contract late data and may pass. */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream INNER join: attribute each `right` event
    * to `left` events of the same user that precede it by at most
    * `horizon` (the view→purchase attribution shape). Both inputs are
    * streams — neither side is a static table — so the join buffers
    * keyed state on BOTH sides; the watermark plus the event-time range
    * condition is what lets Spark evict a buffered row once no future
    * match can arrive, keeping state bounded on an unbounded stream.
    * Inner-join rows emit as soon as both sides are present (no
    * watermark wait), so the completed output equals the batch join.
    *
    * `left_outer` adds the unmatched-left rows (right columns null) —
    * but those can only emit when the left row's state is EVICTED,
    * i.e. once the watermark proves no in-horizon match can still
    * arrive. On an unbounded stream that's automatic; on a bounded
    * replay the caller must push the watermark past `last l_ts +
    * horizon` with a final sentinel batch, or tail-of-stream unmatched
    * rows stay buffered forever (see `stream_attribution_outer`). */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      watermark: String = "1 minute", horizon: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val l = left.select(col("event_id").as("l_id"),
      col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("event_id").as("r_id"),
      col("user_id").as("r_user"), col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"),
      joinType)
  }

  /** Stream → routed lake load: every micro-batch goes through the same
    * content-based routing fan-out as the batch path (K8), in one write
    * job. Routes land as per-batch REPLACE targets
    * ([[graft.sinks.Sinks.standardRoutes]] with the batch id), so a
    * replayed batch rewrites exactly itself — a plain append would
    * duplicate every row in every
    * matching route when a crash lands between the fan-out and the
    * checkpoint commit (the chaos suite's window). */
  def routeStream(events: DataFrame, base: String): DataStreamWriter[Row] = {
    val tagged = events.withColumn("_source",
      concat(lit("stream_"), col("event_type")))
    tagged.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.Sinks.routeAndLoad(batch,
          graft.sinks.Sinks.standardRoutes(base, Some(batchId)))
        graft.Failpoints.point("stream.route.landed")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/_checkpoints/route")
  }

  /** Per-user cumulative totals with explicit keyed state
    * (`flatMapGroupsWithState`) — the custom-state extension point the
    * built-in window/session aggregates can't express (arbitrary
    * per-key accumulators surviving across micro-batches via the
    * checkpoint). Output mode Update: one refreshed row per user per
    * batch.
    *
    * Scale: state is one (count, sum) pair per user key, partitioned by
    * the groupByKey shuffle and checkpointed incrementally (RocksDB
    * state store in production confs). */
  def statefulUserTotals(events: DataFrame): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)],
            state: GroupState[(Long, Double)]) =>
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update((n, total))
          Iterator.single(UserTotals(user, n,
            math.rint(total * 100) / 100))
      }
  }

  /** Sessionization with EXPLICIT keyed state and EVENT-TIME TIMEOUT
    * eviction — the `flatMapGroupsWithState` twin of [[sessionize]]'s
    * `session_window`, for when the per-session logic outgrows what a
    * declarative aggregate can say (custom merge rules, emit-on-close
    * side effects, multi-metric accumulators). Closed sessions emit on
    * two paths with identical rows: (a) DATA path — a new event
    * arrives more than `gapMinutes` after the open session's last
    * event, closing it; (b) TIMEOUT path — the watermark passes
    * `last event + gap`, proving no extender can still arrive, so the
    * state-store entry is evicted and the final session emits. On a
    * bounded replay the caller must push the watermark past the tail
    * sessions' timeout bound with sentinel batches (same contract as
    * the outer stream-stream joins; see `stream_stateful_sessions`).
    *
    * Scale: state is ONE open-session tuple per active user key —
    * bounded by concurrent users, not history — partitioned by the
    * groupByKey shuffle and evicted by the timeout; per-batch per-key
    * rows are sorted in memory (bounded by a user's events within one
    * micro-batch, not the stream). Session splits depend only on
    * event-time gaps, so the emitted set is independent of the
    * micro-batch layout — what makes the query judgeable against a
    * batch oracle. */
  def statefulSessions(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 minute"): Dataset[SessionAgg] = {
    require(gapMinutes > 0, "session gap must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    def close(user: Long, st: SessState): SessionAgg =
      SessionAgg(user, st.startUs, st.lastUs, st.n,
        math.rint(st.sum * 100) / 100)
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
            state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val closed = close(user, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val sorted = rows.map(r => (r._3, r._4)).toArray.sortBy(_._1)
            var open = state.getOption
            val out = Seq.newBuilder[SessionAgg]
            sorted.foreach { case (us, v) =>
              open match {
                case Some(st) if us - st.lastUs <= gapUs =>
                  open = Some(SessState(st.startUs, math.max(st.lastUs, us),
                    st.n + 1, st.sum + v))
                case Some(st) =>
                  out += close(user, st)
                  open = Some(SessState(us, us, 1L, v))
                case None =>
                  open = Some(SessState(us, us, 1L, v))
              }
            }
            open.foreach { st =>
              state.update(st)
              // strictly after the close bound; never behind the
              // current watermark (setTimeoutTimestamp rejects that)
              state.setTimeoutTimestamp(math.max(st.lastUs / 1000L + gapMs + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** CDC apply — streaming upsert: each micro-batch is reduced to its
    * latest change per key (deterministic by `orderCols` descending)
    * and merged into the lake target through the SAME
    * read-merge-overwrite as batch K4 (`Sinks.upsert`) — the plain-
    * Parquet twin of a Delta streaming MERGE. Correct for time-ordered
    * change streams (commit order), where later batches only ever
    * carry later versions of a key; `updated_at` stamping is off so
    * replayed applies are byte-identical (idempotent re-apply).
    *
    * Scale: per micro-batch one keyed merge join against the target —
    * with the target key-bucketed (K11) it degrades to a co-located
    * join; on Delta it becomes file-pruned MERGE. State is zero: the
    * target itself is the state. */
  def upsertStream(changes: DataFrame, targetPath: String, key: String,
      orderCols: Seq[String], checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(orderCols.map(c => col(c).desc): _*)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        graft.sinks.Sinks.upsert(batch.sparkSession, targetPath, latest,
          key, stampUpdatedAt = false)
        graft.Failpoints.point("stream.upsert.merged")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** STREAMING NEAR-DUP AT INGEST — the MinHash-LSH index lifecycle
    * running as a stream, the shape a 100 TB corpus actually wants
    * (dedup WHILE data lands, not as a nightly rescan). Per
    * micro-batch: (1) sketch ONLY the batch's docs; (2) band-join the
    * batch's buckets against the stored index — history plus every
    * EARLIER batch, never rescanning a byte of either; (3) find
    * in-batch pairs among the batch's own docs; (4) write the verified
    * pairs to `resultPath/batch=<id>` (per-batch OVERWRITE, so a
    * replayed batch rewrites the same partition — exactly-once
    * results); (5) append the batch's sketch to the index
    * ([[graft.dedup.Dedup.appendToMinhashIndex]] — idempotent-by-
    * construction under replay, see its doc).
    *
    * The emitted pair SET is batch-split INVARIANT: a pair lands in
    * the batch that sees its second member, and each batch sees all
    * earlier docs through the index — so 1 file or N files, the union
    * is the same set the one-shot batch pipeline computes (judged:
    * `stream_near_dedup`; spec-pinned both-splits-equal). */
  def nearDupStream(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, resultPath: String, checkpoint: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      verifyThreshold: Double = 0.5,
      portableHash: Boolean = false): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // The probe (2), in-batch pairs (3), and index append (5) all
        // consume the batch's SKETCH (band buckets + token sets).
        // Sketch once and pin the two sketch frames — the wrapper
        // forms would re-shingle and re-hash the batch three times
        // (guide §1.2). Same plans downstream of the pin, same pairs.
        val (buckets, toks) = graft.dedup.Dedup.minhashSketch(batch,
          textCol, idCol, n, numHashes, bands, portableHash)
        val bk = buckets.persist(); val tk = toks.persist()
        try {
          val incr = graft.dedup.Dedup.incrementalDupesFromSketch(spark,
            bk, tk, indexPath, verifyThreshold)
          val inBatch = graft.dedup.Dedup.minhashLshPairsFromSketch(bk,
            tk, verifyThreshold)
          incr.unionByName(inBatch).write.mode("overwrite")
            .parquet(s"$resultPath/batch=$batchId")
          graft.Failpoints.point("stream.neardup.results_written")
          graft.dedup.Dedup.appendSketchToMinhashIndex(bk, tk, indexPath)
          graft.Failpoints.point("stream.neardup.appended")
        } finally { bk.unpersist(); tk.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** STREAMING ANN INGEST — the IVF-index LIFECYCLE as a stream, the
    * embedding twin of [[nearDupStream]]: embeddings land continuously
    * and each micro-batch assigns itself to the index's STORED codebook
    * and lands as one increment-log partition
    * ([[graft.similarity.Ann.appendIvfBatch]] — dynamic overwrite on
    * (batch, cell), so a replayed batch overwrites exactly itself:
    * exactly-once index maintenance from an at-least-once engine,
    * where a plain append would duplicate postings and shift ranks).
    * History is never re-read or rewritten — per-batch work ∝ batch,
    * never ∝ corpus — and a probe served mid-stream
    * ([[graft.similarity.Ann.ivfIndexTopK]]) still prunes to its probe
    * cells across base + all landed increments. State store: NONE; the
    * index IS the state, the same 100 TB argument as the near-dup
    * lifecycle. Batch-split invariance (cell assignment is per-row
    * against a frozen codebook) is what lets the one-shot SQL replica
    * judge a multi-batch stream (`stream_ann_ingest`). */
  def ivfIngestStream(vecs: DataFrame, vecCol: String, idCol: String,
      indexPath: String, checkpoint: String): DataStreamWriter[Row] =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.similarity.Ann.appendIvfBatch(batch.sparkSession, batch,
          vecCol, idCol, indexPath, batchId)
        graft.Failpoints.point("stream.ivf.appended")
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** STREAMING DATA SELECTION AT INGEST — the LEARNED sibling of the
    * rule-based quality gate: every micro-batch of documents is scored
    * against a FROZEN DSIR log-ratio artifact
    * ([[graft.curation.Curation.dsirTable]], trained once over a
    * reference period and read back per batch — ≤ buckets rows, the
    * same frozen-artifact contract as the IVF codebook) and its
    * verdicts land as a per-batch OVERWRITE partition (exactly-once
    * results under replay). Scoring is per-row against frozen state,
    * so the verdict set is batch-split INVARIANT — a one-shot SQL
    * replica judges the multi-batch stream (`stream_dsir_gate`) — and
    * per-batch work is ∝ batch, never ∝ reference corpus. */
  def dsirGateStream(docs: DataFrame, textCol: String, idCol: String,
      tablePath: String, resultPath: String, checkpoint: String,
      buckets: Int = 256): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val table = batch.sparkSession.read.parquet(tablePath)
        graft.curation.Curation.dsirScore(batch, idCol, textCol,
            table, buckets)
          .write.mode("overwrite").parquet(s"$resultPath/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** STREAMING CDC UPSERT INTO A LIVE DATABASE — [[upsertStream]]'s
    * twin with a real JDBC target instead of a lake path: every
    * micro-batch reduces to its latest change per key and MERGEs into
    * the database through [[graft.sinks.JdbcSink.upsert]] (distributed
    * per-partition batched UPDATE-then-INSERT — Spark's own JDBC
    * writer has no keyed merge). Exactly-once to the reader's
    * checkpoint: a replayed batch re-upserts the same latest-per-key
    * state, and the sink is idempotent by contract. This is the
    * reference's loader semantics (`base_loaders.py:80-118` upsert to
    * PostgreSQL) running as a stream; live-judged against embedded
    * Derby (`stream_jdbc_upsert`). */
  def jdbcUpsertStream(changes: DataFrame, url: String, driver: String,
      table: String, key: String, orderCols: Seq[String],
      checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(orderCols.map(c => col(c).desc): _*)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        graft.sinks.JdbcSink.upsert(latest, url, driver, table, Seq(key))
        graft.Failpoints.point("stream.jdbc.upserted")
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** STREAMING SCD2 APPLY — full change HISTORY maintained from a
    * stream, where [[upsertStream]] keeps only each key's latest row:
    * every micro-batch folds into a Type-2 dimension via
    * [[graft.operators.Scd2.fromChangeLog]]. The incremental trick:
    * history rows ARE a minimal changelog (each version's original
    * (ts, tie, attrs) is retained, and consecutive duplicate states
    * were already collapsed), so the apply replays ONLY the affected
    * keys' version rows + the batch through the one-pass builder and
    * splices untouched keys back — correct even for out-of-order
    * batches, because the builder re-sorts per key.
    *
    * Scale: per batch one semi/anti join pair on affected keys + one
    * keyed window over affected logs. The plain-parquet swap rewrites
    * the table like K4's upsert; bucket the history by key (K11) and
    * the rewrite degrades to the touched buckets only. */
  def scd2Stream(changes: DataFrame, historyPath: String, key: String,
      ts: String, tie: String, attrs: Seq[String],
      checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scd2ApplyBatch(batch.sparkSession, historyPath, batch,
          key, ts, tie, attrs)
        graft.Failpoints.point("stream.scd2.applied")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  private[graft] def scd2ApplyBatch(spark: SparkSession, path: String,
      batch: DataFrame, key: String, ts: String, tie: String,
      attrs: Seq[String]): Unit = {
    val cols = (Seq(key, ts, tie) ++ attrs).map(col)
    val incoming = batch.select(cols: _*)
    graft.sinks.Sinks.healSwap(path)
    val history =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        val hist = spark.read.parquet(path)
        val affected = incoming.select(col(key)).distinct()
        val untouched = hist.join(affected, Seq(key), "left_anti")
        val replayed = hist.join(affected, Seq(key), "left_semi")
          .select(cols: _*)
        untouched.unionByName(
          graft.operators.Scd2.fromChangeLog(
            replayed.unionByName(incoming), key, ts, tie, attrs))
      } else {
        graft.operators.Scd2.fromChangeLog(incoming, key, ts, tie, attrs)
      }
    graft.sinks.Sinks.writeSwap(history, path)
  }

  /** STREAMING QUALITY GATE — audited append: every micro-batch is
    * audited BEFORE it can land; a passing batch appends to the
    * target, a failing batch lands in the quarantine directory (with
    * the veto reason stamped on every row) and the target never sees
    * it. This is the streaming form of [[graft.sinks.Sinks
    * .writeAuditPublish]] + the S11 quarantine contract: bad data is
    * never dropped silently and never pollutes the serving table —
    * the two failure modes a naive `writeStream.parquet` has to pick
    * between. Audit functions are the same pluggable
    * `DataFrame => Option[String]` as the batch WAP. */
  def auditedAppendStream(changes: DataFrame, targetPath: String,
      quarantinePath: String, audit: DataFrame => Option[String],
      checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val verdict =
          try audit(batch)
          catch { case e: Exception => Some(s"audit threw: ${e.getMessage}") }
        // per-batch OVERWRITE dirs, not append: a replayed batch
        // (crash between the landing and the checkpoint commit)
        // rewrites exactly its own partition instead of duplicating
        // rows — same exactly-once shape as nearDupStream's results
        verdict match {
          case None =>
            batch.write.mode("overwrite")
              .parquet(s"$targetPath/batch=$batchId")
          case Some(reason) =>
            batch
              .withColumn("_quarantine_reason", lit(reason))
              .withColumn("_batch_id", lit(batchId))
              .write.mode("overwrite")
              .parquet(s"$quarantinePath/batch=$batchId")
        }
        graft.Failpoints.point("stream.audit.landed")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** STREAMING INCREMENTAL MV — the streaming twin of the O5 mergeable
    * rollup: each micro-batch reduces to its additive/semilattice
    * partial and folds into the maintained aggregate via
    * [[graft.etl.Incremental.mergeMergeable]]; the MV is always
    * batch-consistent and history is never rescanned. `partialOf`
    * computes the batch partial (same schema every batch), `merges`
    * names each value column's combine fn. */
  def mvMergeStream(changes: DataFrame, rollupPath: String,
      partialOf: DataFrame => DataFrame, keys: Seq[String],
      merges: Seq[(String, String)], checkpoint: String)
      : DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the EXACTLY-ONCE fold: additive merges are not idempotent,
        // so the applied-batch marker publishes atomically with the
        // folded data (see mergeMergeableOnce) and a replayed batch
        // is a no-op instead of a double-count
        graft.etl.Incremental.mergeMergeableOnce(batch.sparkSession,
          rollupPath, partialOf(batch), keys, merges, batchId)
        graft.Failpoints.point("stream.mv.merged")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)

  /** A live stream directory over the raw events file: `copies`
    * symlinks to `<dir>/events.parquet` (the file source wants a
    * directory; linking beats rewriting every event row). Two copies
    * plant an exact 2× duplication of every event. */
  def liveEvents(dir: String, copies: Int = 1): String = {
    import java.nio.file.{Files, Paths}
    val tmp = graft.etl.Utils.tempDir("graft_live")
    val src = Paths.get(dir, "events.parquet").toAbsolutePath
    (0 until copies).foreach(i =>
      Files.createSymbolicLink(tmp.resolve(s"events_$i.parquet"), src))
    tmp.toString
  }

  /** Stage each batch frame as ONE parquet file with a pinned mtime and
    * return a stream that reads them one file per trigger: the file
    * source orders files by mtime, so batch i is micro-batch i — a
    * deterministic schedule. Frames are written through Spark
    * (canonical µs-UTC timestamp layout), never byte-copied from the
    * raw lake, so every staged stream has ONE schema whichever
    * generator wrote the source — see [[graft.Tables]] on layout drift.
    * Batches are thunks staged concurrently from driver threads (mtimes
    * are pinned, so staging order is free; guide §2.6): a batch that
    * needs a driver probe first (bounds, sentinels) overlaps the
    * others' writes. All frames share the first frame's schema. */
  def stage(spark: SparkSession, batches: (() => DataFrame)*): DataFrame = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val dir = graft.etl.Utils.tempDir("graft_stage")
    val schemas = graft.etl.Utils.inParallel(batches.zipWithIndex.map {
      case (batch, i) => () =>
        val df = batch()
        val gen = graft.etl.Utils.tempDir("graft_stage_gen")
        // repartition(1), NOT coalesce(1): coalesce collapses the
        // upstream scan+filter into the single write task (serializing
        // the whole staging job), while repartition keeps them parallel
        // and only the final write runs on one task (guide §2.4). Row
        // order inside the staged file changes (round-robin exchange),
        // which is safe: every consumer of a staged batch keys on
        // explicit columns, never on file position.
        df.repartition(1).write.mode("overwrite").parquet(gen.toString)
        val part = graft.etl.Utils.listDir(gen)
          .find(_.toString.endsWith(".parquet")).get
        val dst = dir.resolve(f"b$i%03d.parquet")
        Files.copy(part, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis((i + 1) * 1000000L))
        df.schema
    }: _*)
    spark.readStream.schema(schemas.head)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
  }

  /** Flush rows for a bounded replay, in `events`' column order: one
    * event per `kinds` entry at `ts`, with negative event and user ids
    * that match no real row. A replay stages them after the real
    * events so the watermark passes every real row's eviction bound
    * (outer-join nulls, session timeouts); readers drop them by
    * `user_id < 0`. */
  def flushSentinels(events: DataFrame, ts: java.sql.Timestamp,
      kinds: String*): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    kinds.zipWithIndex.map { case (k, i) => (-1L - i, ts, -1L - i, k) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .select(events.columns.map(col): _*)
  }

  /** Run `writer` to completion against the currently-available input
    * (the hourly-DAG equivalent). `statePartitions` sets
    * `spark.sql.shuffle.partitions` only around `start()`: the stream
    * clones the session conf at start, and that value becomes its
    * state-store partition count for the query's LIFETIME. A
    * micro-batch pays per-partition state commit I/O on every trigger,
    * so for these single-node runs a handful of state stores beats one
    * per core (a cluster sizes it to state volume instead). `None`
    * keeps the session's own. */
  def drain(writer: DataStreamWriter[_],
      statePartitions: Option[Int] = None): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val spark = SparkSession.active
    val saved = spark.conf.get(key)
    statePartitions.foreach(n => spark.conf.set(key, n.toString))
    val q = try writer.start() finally spark.conf.set(key, saved)
    q.awaitTermination()
  }

  /** Bounded replay: run `df` to completion and read its output back.
    * Each micro-batch is OVERWRITTEN into `<fresh dir>/batch=<id>` (the
    * per-batch form of an idempotent write: a replayed batch rewrites
    * exactly itself), which also takes update-mode output — the
    * built-in file sink is append-only. The result is a parquet scan
    * with `df`'s schema; nothing is collected to the driver.
    *
    * The checkpoint is placed EXPLICITLY on the fast scratch volume
    * ([[graft.etl.Utils.tempDir]]): without the option, Spark allocates
    * its implicit temp checkpoint under `java.io.tmpdir` and every
    * micro-batch pays its state and log commits there (optimization
    * guide §6). Fresh dirs per call keep runs independent: no offsets
    * or state survive into the next invocation. */
  def replay(df: DataFrame, outputMode: String = "append",
      statePartitions: Option[Int] = None): DataFrame = {
    val out = graft.etl.Utils.tempDir("graft_replay").toString
    drain(df.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        graft.etl.Utils.tempDir("graft_ckpt").toString),
      statePartitions)
    // recursive lookup reads every batch dir without partition
    // discovery, so no `batch` column joins the given schema
    df.sparkSession.read.schema(df.schema)
      .option("recursiveFileLookup", "true").parquet(out)
  }
}
