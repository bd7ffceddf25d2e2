package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregate tables — the production shape of
  * the reference's hourly DAG (`multi_source_ingestion_dag.py`): each
  * pull reads only rows past the bookmark (S9), aggregates the BATCH,
  * and folds the partial into the rollup table, so the aggregate over
  * all history is maintained without ever rescanning history.
  *
  * The combine is union + re-aggregate over ADDITIVE partials (count,
  * sum — avg is sum/count at read time; distinct counts ride the HLL
  * sketch union instead, see `q_hll_union`). Additivity is what makes
  * the fold correct under any batch split: partials commute and
  * associate, so N increments in any order equal the one-shot
  * aggregate. At 100 TB the increment touches one day's partitions and
  * the rollup table is aggregate-cardinality — both sides tiny next to
  * the history that never gets rescanned.
  */
object Incremental {

  /** Fold an additive partial aggregate into the rollup at `path`.
    * Every non-key column must be an additive partial (count/sum). */
  def mergeAdditive(spark: SparkSession, path: String, partial: DataFrame,
      keys: Seq[String]): Unit =
    mergeMergeable(spark, path, partial, keys,
      partial.columns.filterNot(keys.contains).map(_ -> "sum").toSeq)

  /** [[mergeAdditive]] generalized to the full MERGEABLE-aggregate
    * algebra: each value column carries its own combine function —
    * `sum` (counts/sums), `min`, `max` — and the fold stays correct
    * under any batch split because all three commute and associate.
    * This is the algebra every incremental MV engine settles on:
    * additive partials for sum/count, semilattice partials for
    * min/max, ratios (avg) derived at READ time from the stored
    * sum+count, and distinct counts riding sketch union
    * (`q_hll_union`) — the non-mergeable aggregates (median, exact
    * distinct) are exactly the ones such systems decline to maintain.
    * At 100 TB the increment is batch-sized and the rollup is
    * aggregate-cardinality; history is never rescanned. The first fold
    * creates the rollup through the same swap as every later one, so
    * a crash inside it never leaves a partial rollup behind. */
  def mergeMergeable(spark: SparkSession, path: String, partial: DataFrame,
      keys: Seq[String], merges: Seq[(String, String)]): Unit = {
    graft.sinks.Sinks.healSwap(path)
    graft.sinks.Sinks.writeSwap(folded(spark, path, partial, keys, merges),
      path)
  }

  /** The rollup at `path` with `partial` folded in (just `partial` when
    * there is no rollup yet). The caller has healed `path`. */
  private def folded(spark: SparkSession, path: String, partial: DataFrame,
      keys: Seq[String], merges: Seq[(String, String)]): DataFrame = {
    val mergeFn: Map[String, org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] =
      Map("sum" -> sum _, "min" -> min _, "max" -> max _)
    val bad = merges.collect { case (c, f) if !mergeFn.contains(f) => s"$c:$f" }
    require(bad.isEmpty, s"unsupported merge fns: ${bad.mkString(",")}")
    if (!Files.exists(Paths.get(path))) return partial
    val target = spark.read.parquet(path)
    require(target.columns.sorted.sameElements(partial.columns.sorted),
      s"rollup schema drift: table ${target.columns.mkString(",")} vs " +
        s"partial ${partial.columns.mkString(",")}")
    val aggs = merges.map { case (c, f) => mergeFn(f)(col(c)).as(c) }
    target.unionByName(partial)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** EXACTLY-ONCE form of [[mergeMergeable]] for at-least-once callers
    * (Structured Streaming's foreachBatch): additive folds are NOT
    * idempotent — a crash between the fold and the checkpoint commit
    * would double-count the batch on replay (found by the chaos
    * suite). The applied-batch marker is an empty `_applied_batch_<id>`
    * file (no `=` in the name — Spark's hidden-file filter keeps
    * underscore names containing `=`) INSIDE the rollup directory,
    * written by the swap's staging step beside the folded data and
    * published by the SAME atomic swap — so marker and fold cannot
    * diverge across any crash window: died before the swap → live
    * table untouched, no marker, replay refolds from unchanged state;
    * died inside the swap → heal finishes it with the marker already
    * in place, replay skips. (A side ledger à la
    * [[graft.sinks.Sinks.exactlyOnce]] cannot give this: its marker
    * commits in a separate step from the effect, which is exactly the
    * window that bites a non-idempotent fold.) Markers are one empty
    * `_`-prefixed file per batch (Spark ignores them on read); prune
    * ones older than the checkpoint horizon during compaction.
    * Returns false when the batch was already applied. */
  def mergeMergeableOnce(spark: SparkSession, path: String,
      partial: DataFrame, keys: Seq[String],
      merges: Seq[(String, String)], batchId: Long): Boolean = {
    graft.sinks.Sinks.healSwap(path)
    val markerName = f"_applied_batch_$batchId%d"
    val live = Paths.get(path)
    if (Files.exists(live.resolve(markerName))) return false
    val combined = folded(spark, path, partial, keys, merges)
    graft.sinks.Sinks.swap(path) { tmp =>
      combined.write.mode(SaveMode.Overwrite).parquet(tmp)
      // carry earlier batches' markers forward, then add this one
      val staged = Paths.get(tmp)
      if (Files.exists(live))
        Utils.listDir(live)
          .filter(_.getFileName.toString.startsWith("_applied_batch_"))
          .foreach(m => Files.createFile(staged.resolve(m.getFileName)))
      Files.createFile(staged.resolve(markerName))
      true
    }
  }

  /** Backfill — the repair tool incremental maintenance needs: when a
    * range of days is wrong (a double-applied batch, a late source
    * correction), recompute exactly `[fromDay, toDay]` from source and
    * splice it into the rollup, leaving every other day untouched.
    * Read-filter-union-swap on the aggregate-cardinality rollup (the
    * same shape as the K9 time-range delete); on a day-partitioned
    * rollup layout this becomes dynamic partition overwrite of just
    * those partitions. Source-side the day predicate prunes to the
    * backfilled partitions — history outside the range is never read. */
  def backfillDailyRollup(spark: SparkSession, events: DataFrame,
      rollupPath: String, fromDay: String, toDay: String): Unit = {
    val inRange = col("day").between(fromDay, toDay)
    graft.sinks.Sinks.healSwap(rollupPath)
    val kept = spark.read.parquet(rollupPath).filter(!inRange)
    val recomputed = events
      .filter(date_format(col("ts"), "yyyy-MM-dd").between(fromDay, toDay))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    graft.sinks.Sinks.writeSwap(kept.unionByName(recomputed), rollupPath)
  }

  /** Append-only incremental maintenance of a two-table JOIN
    * materialized view — the delta-join algebra behind every
    * denormalized serving table: with inserts ΔA, ΔB landing on A, B,
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * so the maintained MV appends three delta joins instead of
    * re-joining two full tables. Append-only is the contract (lake
    * fact tables): updates/deletes need retraction streams, which is
    * `Streaming.scd2Stream`'s territory — this path REJECTS nothing
    * silently, it is simply defined over inserts.
    *
    * Scale shape: the big joins of the full recompute never run —
    * each delta term joins a SMALL frame against one big one, and
    * ΔA ⋈ ΔB is delta-sized on both sides. Cost per batch is
    * Θ(|Δ| · join fan-out), independent of |A ⋈ B|. Join strategy is
    * deliberately LEFT TO THE OPTIMIZER: a typical delta lands under
    * `autoBroadcastJoinThreshold` and broadcasts on its own, while a
    * backfill-sized delta degrades to a shuffle join — a forced
    * `broadcast()` hint would bypass that sizing and fail outright
    * past the 8 GB broadcast limit. The oracle for the judged query
    * recomputes the full join and must hash-match the incrementally
    * maintained result.
    */
  def mergeJoinMv(mv: DataFrame, aOld: DataFrame, bOld: DataFrame,
      aDelta: DataFrame, bDelta: DataFrame,
      joinCols: Seq[String]): DataFrame = {
    require(joinCols.nonEmpty, "need at least one join column")
    mv.unionByName(aDelta.join(bOld, joinCols))
      .unionByName(aOld.join(bDelta, joinCols))
      .unionByName(aDelta.join(bDelta, joinCols))
  }

  /** One incremental cycle for a daily event rollup: bookmark-filter
    * the source (strictly-past pull, S9), aggregate the batch, fold it
    * in. Returns the next bookmark (None on an empty pull — keep the
    * previous one). */
  def dailyEventRollup(spark: SparkSession, events: DataFrame,
      rollupPath: String, bookmark: Option[java.sql.Timestamp])
      : Option[java.sql.Timestamp] = {
    val batch = graft.sources.Sources.incremental(events, "ts",
      bookmark.map(b => lit(b)))
    val partial = batch
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    mergeAdditive(spark, rollupPath, partial, Seq("day", "event_type"))
    graft.sources.Sources.nextBookmark(batch, "ts")
  }
}
