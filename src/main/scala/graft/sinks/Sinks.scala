package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.etl.Utils
import graft.etl.Utils.rmTree

/** Sink layer (SURVEY.md §2.2 K1–K10).
  *
  * Plain-Parquet lake (no Delta/Iceberg jars in this environment), so
  * every rewrite of a lake directory — merge, delete, compaction, the
  * rollup folds, WAP and the index vacuums — stages the new state
  * beside the live directory and publishes it through ONE protocol,
  * [[swap]]: a reader never sees a partial directory, only the old or
  * the new one or, for the instant between two renames, none; one
  * writer per path. On a real deployment these become Delta
  * `MERGE`/`DELETE`.
  *
  * All writers are partition-parallel `df.write` paths; per-batch
  * chunking from the reference (`base_loaders.py:74-98`) is subsumed by
  * partition-level batched writes. A routed load ([[routeAndLoad]])
  * writes all its data-target routes in ONE such write, partitioned by
  * route into a hidden staging directory, then publishes each route's
  * files into that route's own path with `java.nio` moves.
  */
object Sinks {

  /** Per-loader statistics registry (K10, `base_loaders.py:438-451`). */
  final case class LoadResult(target: String, status: String, count: Long,
    error: Option[String] = None)

  final class LoadStats {
    private val buf = scala.collection.mutable.Buffer.empty[LoadResult]
    def record(r: LoadResult): Unit = synchronized { buf += r }
    def history: Seq[LoadResult] = synchronized { buf.toSeq }
    def loaded: Long = history.filter(_.status == "success").map(_.count).sum
    def failed: Long = history.count(_.status == "error")
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      history.map(r => (r.target, r.status, r.count, r.error.getOrElse("")))
        .toDF("target", "status", "count", "error")
    }
  }

  /** K1/K6 — append/replace load to a lake path in the given format
    * (`base_loaders.py:46-72,281-315`; `if_exists` append|replace).
    * `codec` overrides the session compression (parquet: snappy is the
    * low-CPU default; zstd buys ~25-35% smaller files — at 100 TB that
    * is tens of TB of storage and scan IO, usually worth the encode
    * cost for write-once-read-many lake tables). */
  def load(df: DataFrame, path: String, format: String = "parquet",
      ifExists: String = "append", codec: Option[String] = None): Long = {
    val mode =
      if (ifExists == "replace") SaveMode.Overwrite else SaveMode.Append
    // loaded-row count observed during the write itself (no re-scan)
    val obs = new org.apache.spark.sql.Observation()
    var w = df.observe(obs, count(lit(1)).as("n")).write.mode(mode)
    codec.foreach(c => w = w.option("compression", c))
    format match {
      case "parquet" => w.parquet(path)
      case "json"    => w.json(path)
      case "csv"     => w.option("header", "true").csv(path)
      case other => throw new IllegalArgumentException(
        s"Unsupported format: $other")
    }
    obs.get("n").asInstanceOf[Long]
  }

  /** K4 — upsert without Delta: full-outer read-merge-overwrite keyed on
    * `keyField` (`base_loaders.py:149-181`, `mongo_connector.py:132-150`).
    * Updates win column-wise (`$set` semantics); `updated_at` stamped on
    * updated rows. Returns (inserted, updated) — computed from the same
    * join, not extra scans. An absent table is created from `updates`
    * (all inserted) through the same swap.
    *
    * Scale note: the merge is one shuffle join on the key; with a
    * key-bucketed table layout it degrades gracefully to a co-located
    * join. The overwrite rewrites the table — exactly what Delta MERGE
    * does per touched file, minus the transaction log.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keyField: String, stampUpdatedAt: Boolean = true): (Long, Long) = {
    healSwap(path) // a swap-window crash must not read as "no table"
    val merged =
      if (Files.exists(Paths.get(path)))
        mergeFrames(spark.read.parquet(path), updates, keyField,
          stampUpdatedAt)
      else updates.select(col("*"), lit(true).as("__is_insert"),
        lit(false).as("__is_update"))
    // inserted/updated counts observed DURING the write — the merge join
    // executes once (the earlier agg-then-write form ran it twice)
    val obs = new org.apache.spark.sql.Observation("upsert_metrics")
    val out = merged.observe(obs,
        sum(when(col("__is_insert"), 1L).otherwise(0L)).as("inserted"),
        sum(when(col("__is_update"), 1L).otherwise(0L)).as("updated"))
      .drop("__is_insert", "__is_update")
    writeSwap(out, path)
    (obs.get("inserted").asInstanceOf[Long],
      obs.get("updated").asInstanceOf[Long])
  }

  /** The merge plan: full outer on key; update columns take precedence
    * (`{**existing, **update}` i.e. `$set`). Exposed for SQL-oracle
    * verification of the merge semantics. */
  def mergeFrames(target: DataFrame, updates: DataFrame, keyField: String,
      stampUpdatedAt: Boolean = false): DataFrame = {
    val t = target.alias("t")
    val u = updates.alias("u")
    val tKey = col(s"t.$keyField")
    val uKey = col(s"u.$keyField")
    val joined = t.join(u, tKey === uKey, "full_outer")
    val tCols = target.columns.toSet
    val uCols = updates.columns.toSet
    val outCols = target.columns ++ updates.columns.filterNot(tCols.contains)
    val sel = outCols.map {
      case k if k == keyField => coalesce(uKey, tKey).as(k)
      case c if tCols.contains(c) && uCols.contains(c) =>
        when(uKey.isNotNull, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)
      case c if uCols.contains(c) => col(s"u.$c").as(c)
      case c => col(s"t.$c").as(c)
    } :+ tKey.isNull.as("__is_insert") :+
      (tKey.isNotNull && uKey.isNotNull).as("__is_update")
    val base = joined.select(sel.toIndexedSeq: _*)
    if (stampUpdatedAt)
      base.withColumn("updated_at",
        when(col("__is_update"), current_timestamp().cast("string"))
          .otherwise(if (tCols.contains("updated_at")) col("updated_at")
            else lit(null).cast("string")))
    else base
  }

  /** K9 — time-range delete as read-filter-overwrite
    * (`influx_connector.py:274-291`); on a date-partitioned layout this
    * becomes partition-overwrite of only the touched partitions. */
  def deleteTimeRange(spark: SparkSession, path: String, tsCol: String,
      start: String, stop: String): Long = {
    healSwap(path)
    val df = spark.read.parquet(path)
    // both row counts observed inside the single rewrite pass (the
    // count-then-count form scanned the table twice before writing)
    val obsAll = new org.apache.spark.sql.Observation("delete_total")
    val obsKeep = new org.apache.spark.sql.Observation("delete_kept")
    val keep = df.observe(obsAll, count(lit(1)).as("n"))
      .where(!(col(tsCol) >= lit(start) && col(tsCol) < lit(stop)))
      .observe(obsKeep, count(lit(1)).as("n"))
    writeSwap(keep, path)
    obsAll.get("n").asInstanceOf[Long] - obsKeep.get("n").asInstanceOf[Long]
  }

  /** K9 twin for KEY LISTS — the right-to-be-forgotten delete: remove
    * every row whose key appears in `keys` (typically a small erasure
    * list → Catalyst broadcasts the anti-join side, so the rewrite is
    * one scan + broadcast anti, no shuffle of the table). Returns the
    * number of rows removed. On a key-partitioned or bucketed layout
    * the rewrite touches only matching partitions/buckets; the Delta
    * form is `DELETE WHERE key IN (...)` with the same plan. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): Long = {
    healSwap(path)
    val df = spark.read.parquet(path)
    val keySide = broadcast(
      keys.select(col(keys.columns.head).as(keyCol)).distinct())
    val obsAll = new org.apache.spark.sql.Observation("delkeys_total")
    val obsKeep = new org.apache.spark.sql.Observation("delkeys_kept")
    val keep = df.observe(obsAll, count(lit(1)).as("n"))
      .join(keySide, Seq(keyCol), "left_anti")
      .observe(obsKeep, count(lit(1)).as("n"))
    writeSwap(keep, path)
    obsAll.get("n").asInstanceOf[Long] - obsKeep.get("n").asInstanceOf[Long]
  }

  /** Exactly-once adapter for `foreachBatch` sinks: Structured
    * Streaming replays an uncommitted micro-batch after restart
    * (at-least-once delivery), so a non-idempotent batch writer
    * duplicates. This wraps the writer with a per-batchId ledger
    * marker (written AFTER the write succeeds) under `ledgerDir`; a
    * replayed batchId whose marker exists is skipped. Combined with a
    * write that is atomic per batch (e.g. overwrite of a
    * batch-partition directory, or the K4 merge, which is idempotent
    * by content), the observable result is exactly-once — the manual
    * form of what Delta's txn-log `txnAppId`/`txnVersion` records.
    * The ledger is one empty file per batch: no scan cost, prunable
    * by retention.
    *
    * LIMIT: the marker commits in a SEPARATE step from the effect, so
    * a crash between them replays the write — fine for idempotent or
    * per-batch-atomic writers (the combination above), WRONG for a
    * non-idempotent accumulation like an additive fold, where that
    * window double-counts. Those need the marker published atomically
    * WITH the effect: see `etl.Incremental.mergeMergeableOnce`, which
    * stages the applied-batch marker inside the swapped directory. */
  def exactlyOnce(ledgerDir: String)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val marker = Paths.get(ledgerDir, f"batch-$batchId%020d")
      if (!Files.exists(marker)) {
        write(batch, batchId)
        Files.createDirectories(marker.getParent)
        Files.createFile(marker)
      }
  }

  /** Lake maintenance — order-independent content checksum: row count
    * plus the sum of bounded per-row hashes (md5-derived 60-bit value,
    * reduced mod 1e9+7 so terms are < 2^30). Sum is commutative, so
    * the fingerprint is invariant under partitioning, file order, and
    * cluster layout — equal checksums across two replicas of a table
    * (post-migration, post-compaction, cross-engine) mean equal
    * content without moving either copy. One partial+final aggregate,
    * no shuffle of data rows. The mod keeps the sum exact (no silent
    * ANSI overflow) up to ~9 billion rows; beyond that, checksum per
    * date partition and compare the lists. NULLs are encoded with an
    * explicit sentinel before concatenation: concat_ws alone SKIPS null
    * columns (no separator emitted), so rows differing only in which
    * column is null would otherwise collide. */
  def contentChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val canonical = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("<NULL>"))): _*)
    val h = graft.dedup.Dedup.md5Hash64(canonical)
    df.agg(count(lit(1)).as("n_rows"),
      sum(pmod(h, lit(1000000007L))).as("checksum"))
  }

  /** Lake maintenance — small-file compaction: rewrite a parquet
    * directory into ~`targetBytes`-sized files and atomically swap it
    * in. Streaming appends (one file per micro-batch per partition) and
    * fine-grained routing both accrete small files; scan cost at 100 TB
    * is dominated by file-open/footer overhead once files fall below a
    * row group, so compaction is the standard maintenance pass (what
    * Delta OPTIMIZE does transactionally). Returns (filesBefore,
    * filesAfter). */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    def parquetFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      Files.walk(p).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
        .toSeq
    healSwap(path)
    val root = Paths.get(path)
    val before = parquetFiles(root)
    val totalBytes = before.map(Files.size).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    writeSwap(df.repartition(n), path)
    (before.size, parquetFiles(root).size)
  }

  /** Per-file statistics manifest — the Delta `stats` twin on plain
    * Parquet: for each file, its row count and each named column's
    * min/max. This is what makes data-skipping auditable: a scan with
    * a predicate on a clustered column should prune every file whose
    * [min, max] misses the predicate box (the property `ZOrderSpec`
    * asserts; this surfaces the same numbers as a queryable table).
    * One scan, grouped by `input_file_name` — aggregate-cardinality
    * output (one row per file). */
  def fileManifest(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(path)
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max")))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Versioned lake writes — Delta-lite time travel on plain Parquet.
    * Every commit lands in its own `<path>/v=<n>` directory; a commit
    * is visible only once Spark's `_SUCCESS` marker exists, so readers
    * never see a half-written version and a crashed writer leaves the
    * previous version current (same guarantee Delta gets from its log,
    * scoped to single-writer). Old versions stay readable for audits /
    * reproducible training runs ("the corpus exactly as sampled last
    * month") until [[vacuumVersions]] reclaims them. Version listing is
    * driver-side directory metadata — no data scan. */
  object Versioned {
    private def committed(path: String): Seq[Long] = {
      val root = Paths.get(path)
      if (!Files.exists(root)) Seq.empty
      else graft.etl.Utils.listDir(root)
        .filter(p => p.getFileName.toString.startsWith("v=") &&
          Files.exists(p.resolve("_SUCCESS")))
        .map(_.getFileName.toString.stripPrefix("v=").toLong)
        .toSeq.sorted
    }

    /** Every `v=*` directory, committed or not — a crashed writer's
      * uncommitted directory must still claim its version number, or
      * the next writer would target the same `v=N` and fail forever
      * on ErrorIfExists. */
    private def allVersions(path: String): Seq[Long] = {
      val root = Paths.get(path)
      if (!Files.exists(root)) Seq.empty
      else graft.etl.Utils.listDir(root)
        .map(_.getFileName.toString)
        .filter(_.startsWith("v="))
        .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)
        .toSeq.sorted
    }

    /** Commit `df` as the next version; returns the version number.
      * `next` is allocated past ALL existing version directories —
      * including uncommitted ones left by a crashed writer — so a
      * crash is genuinely harmless: readers skip the `_SUCCESS`-less
      * directory, and the next write lands beside it, never on it. */
    def write(df: DataFrame, path: String): Long = {
      val next = allVersions(path).lastOption.fold(0L)(_ + 1)
      df.write.mode(SaveMode.ErrorIfExists).parquet(s"$path/v=$next")
      next
    }

    /** Read a specific committed version, or the latest. */
    def read(spark: SparkSession, path: String,
        version: Option[Long] = None): DataFrame = {
      val vs = committed(path)
      require(vs.nonEmpty, s"no committed versions under $path")
      val v = version.getOrElse(vs.last)
      require(vs.contains(v),
        s"version $v not committed under $path (have ${vs.mkString(",")})")
      spark.read.parquet(s"$path/v=$v")
    }

    def versions(path: String): Seq[Long] = committed(path)

    /** Row-level diff between two committed versions — the audit
      * behind "what changed in the corpus since the last training
      * run": keyed full-outer compare classifying every key as
      * `added` / `removed` / `changed`; unchanged keys drop out.
      * Rows reduce to (key, canonical-content hash) BEFORE the join —
      * the full-outer shuffle carries two hash columns, never the
      * row bodies, so diffing two 100 TB versions moves key+digest
      * only. Content canonicalization uses the [[contentChecksum]]
      * NULL sentinel, so rows differing only in WHICH column is NULL
      * classify as changed. */
    def diff(spark: SparkSession, path: String, keyCol: String,
        vFrom: Long, vTo: Long): DataFrame = {
      val a = read(spark, path, Some(vFrom))
      val b = read(spark, path, Some(vTo))
      require(a.columns.sameElements(b.columns),
        s"schema drift between v=$vFrom ${a.columns.mkString(",")} and " +
          s"v=$vTo ${b.columns.mkString(",")}")
      def hashed(df: DataFrame, as: String): DataFrame = {
        val cols = df.columns.filterNot(_ == keyCol).sorted.toSeq
        df.select(col(keyCol), md5(concat_ws("|",
          cols.map(c => coalesce(col(c).cast("string"), lit("<NULL>")))
            : _*)).as(as))
      }
      hashed(a, "__ha").join(hashed(b, "__hb"), Seq(keyCol), "full_outer")
        .withColumn("change",
          when(col("__ha").isNull, "added")
            .when(col("__hb").isNull, "removed")
            .when(col("__ha") =!= col("__hb"), "changed"))
        .filter(col("change").isNotNull)
        .select(col(keyCol), col("change"))
    }

    /** Retention: drop all but the newest `keep` committed versions.
      * Returns the versions removed. */
    def vacuum(path: String, keep: Int): Seq[Long] = {
      require(keep >= 1, "must keep at least the current version")
      val doomed = committed(path).dropRight(keep)
      doomed.foreach(v => rmTree(Paths.get(s"$path/v=$v")))
      doomed
    }
  }

  /** THE stage-and-publish protocol of the lake. Every rewrite of a
    * directory goes through here: upsert, the deletes, compaction, the
    * rollup folds, SCD2 history, write-audit-publish and both index
    * families' vacuums.
    *
    * After [[healSwap]], `stage` writes the complete new state into
    * the directory it is given (`<path>.__tmp__`): the data plus any
    * sidecar files, such as applied-batch markers or an audit over the
    * staged files. A `stage` that returns false (a veto) or throws
    * discards the staged directory and leaves live untouched.
    * Otherwise two atomic renames publish it, live → `.__old__` and
    * staged → live, and `.__old__` is dropped.
    *
    * Guarantee: a reader of `path` never sees a partial directory. It
    * sees the old one, the new one, or, between the two renames,
    * none. One writer per path at a time. A crash between any two
    * steps is healed by the next [[swap]] or [[healSwap]]. Returns
    * whether the staged state was published. */
  def swap(path: String)(stage: String => Boolean): Boolean = {
    healSwap(path)
    val live = Paths.get(path)
    val tmp = Paths.get(path + ".__tmp__")
    val old = Paths.get(path + ".__old__")
    val publish =
      try stage(tmp.toString)
      catch { case e: Throwable => rmTree(tmp); throw e }
    if (!publish) { rmTree(tmp); return false }
    graft.Failpoints.point("sinks.swap.staged")
    if (Files.exists(live)) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    graft.Failpoints.point("sinks.swap.live_removed")
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    graft.Failpoints.point("sinks.swap.swapped")
    rmTree(old)
    true
  }

  /** [[swap]] in its common form: `df` is the whole new table. */
  def writeSwap(df: DataFrame, path: String): Unit = {
    swap(path) { tmp => df.write.mode(SaveMode.Overwrite).parquet(tmp); true }
    ()
  }

  /** Finish or roll back a crashed [[swap]] of `path`. A caller that
    * tests whether the table exists or reads it before its swap calls
    * this first; [[swap]] runs it itself. `.__old__` is the commit
    * mark; Spark's `_SUCCESS` is not trusted, because sidecar files
    * land after it:
    *  - live missing, `.__old__` present: the swap had started, so
    *    the staged directory is complete — publish it, or restore
    *    `.__old__` if the staged directory is gone;
    *  - live missing, no `.__old__`: nothing was published — the
    *    staged directory is discarded and the at-least-once caller
    *    replays;
    *  - `.__old__`/`.__tmp__` beside a live table are removed, else
    *    the next swap's rename onto `.__old__` would throw.
    * Without this a crash inside the swap window turned the next
    * upsert into an insert-only write that silently dropped every
    * other key of the target (found by the chaos suite). */
  def healSwap(path: String): Unit = {
    val live = Paths.get(path)
    val tmp = Paths.get(path + ".__tmp__")
    val old = Paths.get(path + ".__old__")
    if (!Files.exists(live) && Files.exists(old))
      Files.move(if (Files.exists(tmp)) tmp else old, live,
        StandardCopyOption.ATOMIC_MOVE)
    rmTree(old); rmTree(tmp)
  }

  /** WRITE-AUDIT-PUBLISH: the lakehouse promotion protocol — `df` is
    * staged beside the live table, the audit runs against the STAGED
    * files (what readers would actually see, not the in-memory frame
    * that produced them), and only a passing audit publishes them
    * through [[swap]]. A vetoing or throwing audit leaves the live
    * table untouched and returns the reason; the staged files are
    * removed either way.
    *
    * `audit` returns None to approve or Some(reason) to veto — the
    * caller plugs in the engine's validators (`validate.Validators`,
    * row-count deltas, [[contentChecksum]]). At 100 TB this is the
    * same protocol Iceberg/Delta WAP branches implement with snapshot
    * refs; on plain parquet the staged directory plays the branch. */
  def writeAuditPublish(spark: SparkSession, df: DataFrame, path: String,
      audit: DataFrame => Option[String]): Either[String, Long] = {
    var result: Either[String, Long] = null
    swap(path) { tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp)
      val staged = spark.read.parquet(tmp)
      val verdict =
        try audit(staged)
        catch { case e: Exception => Some(s"audit threw: ${e.getMessage}") }
      result = verdict.toLeft(staged.count())
      result.isRight
    }
    result
  }

  /** K5 — points frame: declared tag columns (stringified) + field
    * columns + time column; when no field list is given, every numeric
    * non-tag non-time column becomes a field
    * (`base_loaders.py:207-256`, `influx_connector.py:82-111`). Output is
    * long-format, one row per (time, measurement, tags, field). */
  def pointsFrame(df: DataFrame, measurement: String, timeField: String,
      tagFields: Seq[String], fieldFields: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq
    val fields =
      if (fieldFields.nonEmpty) fieldFields
      else numeric.filterNot(tagFields.contains).filterNot(_ == timeField)
    val tagged = df.select(
      (col(timeField).as("time") +:
        lit(measurement).as("measurement") +:
        tagFields.map(t => col(t).cast("string").as(s"tag_$t"))) ++
        fields.map(col): _*)
    graft.sources.Sources.toLong(tagged, "time",
      "measurement" +: tagFields.map(t => s"tag_$t"), fields)
  }

  /** Date/source-partitioned lake layout (SURVEY.md §7.4 #6): the
    * write-side half of partition pruning. Rows land under
    * `_date=YYYY-MM-DD[/_source=...]/` directories, so any reader with a
    * date (or source) predicate scans only the matching directories —
    * at 100 TB this is the difference between a full-lake scan and a
    * one-day scan. Static pruning shows as PartitionFilters in the read
    * plan (asserted in SinksSpec); dynamic partition pruning applies on
    * join keys for free. */
  def loadPartitionedByDate(df: DataFrame, path: String, tsCol: String,
      sourceCol: Option[String] = None,
      mode: SaveMode = SaveMode.Append): Long = {
    val dated = df.withColumn("_date", to_date(col(tsCol)))
    val (out, parts) = sourceCol match {
      case Some(s) => (dated.withColumn("_source_part", col(s)),
        Seq("_date", "_source_part"))
      case None => (dated, Seq("_date"))
    }
    // loaded-row count observed during the partitioned write itself — a
    // trailing df.count() would re-execute the whole upstream, a second
    // full pass at the 100 TB scale this layout exists for
    val obs = new org.apache.spark.sql.Observation()
    out.observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).partitionBy(parts: _*).parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** K7 — multi-target load: same data to N sinks with one upstream
    * computation (`base_loaders.py:326-373` `asyncio.gather`): every
    * target is a [[routeAndLoad]] route that takes all rows. */
  def multiTarget(df: DataFrame, targets: Seq[(String, DataFrame => Long)],
      stats: Option[LoadStats] = None): Map[String, LoadResult] =
    routeAndLoad(df, targets.map { case (n, f) => Route(n, lit(true), f) },
      stats)

  /** A route's data target: a local parquet directory (a plain path or
    * a `file:` URI) that each load appends to or, with `replace`,
    * replaces. Its files are published with `java.nio`, so a target on
    * another file system (`hdfs:`, `s3a:`) is rejected here; load those
    * through a closure route. */
  final case class Target(path: String, replace: Boolean = false) {
    private val uri = new org.apache.hadoop.fs.Path(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"a data target must be a local directory: $path")
    def local: java.nio.file.Path =
      Paths.get(uri.getPath).toAbsolutePath.normalize
  }

  /** K8 — content-based routing (`base_loaders.py:395-436`; routing
    * rules `multi_source_ingestion_dag.py:267-305`): route by source
    * name — transaction/order→warehouse, event/log→documents,
    * user/profile→both, everything→archive.
    *
    * A route takes the rows its `predicate` holds for, in one of two
    * forms: a [[Route.Closure]] hands them to its own `sink`
    * (`Route(name, predicate, sink)`), a [[Route.Data]] lands them in
    * its [[Target]]. [[routeAndLoad]] writes all data routes of a call
    * in one job. */
  sealed trait Route {
    def name: String
    def predicate: Column
  }

  object Route {
    final case class Closure(name: String, predicate: Column,
        sink: DataFrame => Long) extends Route
    final case class Data(name: String, predicate: Column, target: Target)
      extends Route

    def apply(name: String, predicate: Column,
        sink: DataFrame => Long): Closure = Closure(name, predicate, sink)
  }

  /** Load each route's rows; results keyed by route name, so names must
    * be distinct, and each route must target its own path.
    *
    * The data routes land in ONE Spark job ([[loadFused]]); every
    * closure route runs its own. A call with a single job runs it on
    * the caller's thread, straight from `df`. With more jobs, `df` is
    * persisted (whichever job reaches a partition first fills the
    * cache, so the source is computed once) and the jobs run side by
    * side, one thread each, inheriting the caller's Spark local
    * properties (scheduler pool, job group). Every job is labelled
    * `route:<name>,<name>,…` with the routes it writes. A failing route
    * is isolated as an `error` result; `stats` records the results in
    * route order. */
  def routeAndLoad(df: DataFrame, routes: Seq[Route],
      stats: Option[LoadStats] = None): Map[String, LoadResult] = {
    val names = routes.map(_.name)
    require(names.distinct.sizeIs == names.size,
      s"duplicate route names in: ${names.mkString(", ")}")
    val (data, closures) = routes.partitionMap {
      case d: Route.Data => Left(d)
      case c: Route.Closure => Right(c)
    }
    val jobs: Seq[DataFrame => Seq[LoadResult]] =
      Option.when(data.nonEmpty)((src: DataFrame) => loadFused(src, data))
        .toSeq ++ closures.map(r => (src: DataFrame) => Seq(attempt(r.name)(
          labelled(src, Seq(r))(r.sink(src.where(r.predicate))))))
    val landed =
      if (jobs.sizeIs <= 1) jobs.flatMap(_(df))
      else {
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        try Utils.inParallel(jobs.map(j => () => j(cached)): _*).flatten
        finally cached.unpersist()
      }
    val byName = landed.map(r => r.target -> r).toMap
    stats.foreach(s => names.foreach(n => s.record(byName(n))))
    byName
  }

  private def labelled[A](df: DataFrame, routes: Seq[Route])(f: => A): A =
    Utils.withLocalProperty(df.sparkSession.sparkContext,
      Utils.JobDescription, routes.map(_.name).mkString("route:", ",", ""))(f)

  private def attempt(name: String)(n: => Long): LoadResult =
    scala.util.Try(n) match {
      case scala.util.Success(v) => LoadResult(name, "success", v)
      case scala.util.Failure(e) =>
        LoadResult(name, "error", 0L, Some(e.getMessage))
    }

  /** The data routes of one [[routeAndLoad]] call in one write job.
    * Each row is tagged with the ordinals of the routes it matches (one
    * row per match), the tagged frame is written once, partitioned by
    * the tag, into a staging directory under the targets' common
    * ancestor (hidden from readers, and on the targets' file store),
    * and one `observe` on that write counts every route. The write
    * plans a sort on the tag in each task, over the tagged rows (a route
    * that takes every row, such as `archive`, doubles them): the price
    * of one job instead of one per route. The job runs one task per
    * partition of `df`, so a large frame held in fewer partitions than
    * there are cores writes on fewer cores than one job per route
    * would. Each route's staged files are then published into its own
    * path with `java.nio`, in route order:
    *  - append: the files move into the target, under the names a
    *    plain Spark write gives them;
    *  - replace: the target is removed and the staged directory moved
    *    onto it (one atomic rename).
    * A route that received no row still reads as an empty frame with
    * `df`'s schema: it gets one schema-only file (see [[writeSchemaOnly]])
    * when it is replaced, or when it is appended to and holds no data
    * file yet. Neither form leaves a `_SUCCESS` marker.
    *
    * A failing write makes every route an `error`; a failing publish
    * (the target is a regular file, or on another file store) makes
    * its own route one. The staging directory is named after the
    * call's targets (`_routes_<uuid of the sorted target paths>`), so a
    * call removes it before writing as well as after: a replay
    * reclaims what a process that died mid-call left there, as Spark's
    * committer reclaims a dead job's `_temporary`. As with that
    * committer, two concurrent calls must not share their targets.
    * Appends are at-least-once: a crash after some publishes leaves
    * those routes' rows in place, and a replay appends them again. */
  private def loadFused(df: DataFrame, routes: Seq[Route.Data]): Seq[LoadResult] = {
    val targets = routes.map(_.target.local)
    val staging = targets.map(_.getParent)
      .reduce((a, b) => Iterator.iterate(a)(_.getParent).find(b.startsWith).get)
      .resolve("_routes_" + java.util.UUID.nameUUIDFromBytes(
        targets.map(_.toString).sorted.mkString("\n").getBytes("UTF-8")))
    val tag = Iterator.iterate("_route")("_" + _)
      .find(t => !df.columns.exists(_.equalsIgnoreCase(t))).get
    val matches = routes.indices.map(i => when(routes(i).predicate, lit(i)))
    val counts = routes.indices.map(i => count(when(col(tag) === i, 1)).as(s"n$i"))
    val obs = new org.apache.spark.sql.Observation()
    val tagged = df.select(col("*"), explode(array(matches: _*)).as(tag))
      .where(col(tag).isNotNull)
      .observe(obs, counts.head, counts.tail: _*)
    try {
      val written = scala.util.Try {
        rmTree(staging)
        labelled(df, routes)(
          tagged.write.partitionBy(tag).parquet(staging.toUri.toString))
        obs.get
      }
      routes.zip(targets).zipWithIndex.map { case ((r, target), i) =>
        written match {
          case scala.util.Failure(e) =>
            LoadResult(r.name, "error", 0L, Some(e.getMessage))
          case scala.util.Success(m) =>
            val res = attempt(r.name) {
              publish(df.schema, staging.resolve(s"$tag=$i"), target,
                r.target.replace)
              m(s"n$i").asInstanceOf[Long]
            }
            graft.Failpoints.point("sinks.route.published")
            res
        }
      }
    } finally rmTree(staging)
  }

  private def publish(schema: StructType, staged: java.nio.file.Path,
      target: java.nio.file.Path, replace: Boolean): Unit = {
    def visible(p: java.nio.file.Path) = {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }
    // a partitioned write names its files `part-…<uuid>.c000…`, a plain
    // write `part-…<uuid>-c000…`: routes keep the plain names (a
    // `.part-….crc` checksum file is renamed with its data file)
    def plainName(f: java.nio.file.Path) =
      f.getFileName.toString.replaceFirst("""\.(c\d{3}\.)""", "-$1")
    if (replace) {
      if (Files.exists(staged))
        Utils.listDir(staged).foreach(f =>
          Files.move(f, f.resolveSibling(plainName(f))))
      else {
        Files.createDirectories(staged)
        writeSchemaOnly(schema, staged)
      }
      rmTree(target)
      Files.createDirectories(target.getParent)
      Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
    } else {
      Files.createDirectories(target)
      if (Files.exists(staged))
        Utils.listDir(staged).foreach(f => Files.move(f,
          target.resolve(plainName(f)), StandardCopyOption.ATOMIC_MOVE))
      else if (!Utils.listDir(target).exists(visible))
        writeSchemaOnly(schema, target)
    }
  }

  /** One parquet file in `dir` with `schema` and no row group,
    * written on the driver: no Spark job, no Hadoop file system. The
    * footer carries the Spark schema under the key Spark's own writer
    * uses, so `spark.read.parquet` restores names and types exactly;
    * the name follows Spark's `part-…-c000.<codec>.parquet`. */
  private def writeSchemaOnly(schema: StructType,
      dir: java.nio.file.Path): Unit = {
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetReadSupport, SparkToParquetSchemaConverter}
    import org.apache.spark.sql.internal.SQLConf
    val conf = SQLConf.get
    val ext = CompressionCodecName.fromConf(conf.parquetCompressionCodec)
      .getExtension
    val file = dir.resolve(
      s"part-00000-${java.util.UUID.randomUUID()}-c000$ext.parquet")
    val writer = new ParquetFileWriter(
      new org.apache.parquet.io.LocalOutputFile(file),
      new SparkToParquetSchemaConverter(conf).convert(schema),
      ParquetFileWriter.Mode.CREATE, 0L, 0, null,
      org.apache.parquet.column.ParquetProperties.builder().build())
    writer.start()
    writer.end(java.util.Map.of(
      ParquetReadSupport.SPARK_METADATA_KEY, schema.json))
  }

  /** The DAG's routing patterns over the `_source` metadata column
    * (`multi_source_ingestion_dag.py:267-305`): transactions/orders to
    * the warehouse, events/logs to the document store, users/profiles to
    * both, everything archived. */
  val routePatterns: Seq[(String, String)] = Seq(
    "financial_data" -> "transaction|order",
    "processed_events" -> "event|log",
    "user_data_wh" -> "user|profile",
    "user_data_doc" -> "user|profile")

  /** The DAG's five routes ([[routePatterns]] plus `archive`) as data
    * targets under `base`. Without a batch id each appends to
    * `<base>/<route>`. With one, each REPLACES `<base>/<route>/batch=<id>`:
    * the exactly-once per-batch form for at-least-once callers
    * ([[graft.streaming.Streaming.routeStream]]), where a replayed batch
    * (crash between the fan-out and the checkpoint commit) rewrites its
    * own directories instead of appending a second copy of every row.
    * Readers of `<base>/<route>` then see `batch` as a partition column
    * and ignore it by projecting their own columns. */
  def standardRoutes(base: String, batchId: Option[Long] = None): Seq[Route] =
    (routePatterns.map { case (name, pat) => name -> col("_source").rlike(pat) }
      :+ ("archive" -> lit(true))).map { case (name, pred) =>
      Route.Data(name, pred, batchId.fold(Target(s"$base/$name"))(id =>
        Target(s"$base/$name/batch=$id", replace = true)))
    }
}
