package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sink layer (SURVEY.md §2.2 K1–K10).
  *
  * Plain-Parquet lake (no Delta/Iceberg jars in this environment), so
  * merge/delete are read-merge-overwrite with a temp-dir swap —
  * atomicity across readers is documented as a non-goal (SURVEY §7.3);
  * on a real deployment these become Delta `MERGE`/`DELETE`.
  *
  * All writers are partition-parallel `df.write` paths; per-batch
  * chunking from the reference (`base_loaders.py:74-98`) is subsumed by
  * partition-level batched writes.
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
    def lastN(n: Int): Seq[LoadResult] = history.takeRight(n)
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

  /** K3 — document-store insert with `created_at` stamping
    * (`base_loaders.py:124-147`, `mongo_connector.py:80-93`). */
  def insertWithCreatedAt(df: DataFrame, path: String): Long =
    load(df.withColumn("created_at", current_timestamp()), path)

  /** K4 — upsert without Delta: full-outer read-merge-overwrite keyed on
    * `keyField` (`base_loaders.py:149-181`, `mongo_connector.py:132-150`).
    * Updates win column-wise (`$set` semantics); `updated_at` stamped on
    * updated rows. Returns (inserted, updated) — computed from the same
    * join, not extra scans.
    *
    * Scale note: the merge is one shuffle join on the key; with a
    * key-bucketed table layout it degrades gracefully to a co-located
    * join. The overwrite rewrites the table — exactly what Delta MERGE
    * does per touched file, minus the transaction log.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keyField: String, stampUpdatedAt: Boolean = true): (Long, Long) = {
    healSwap(path) // a swap-window crash must not read as "no table"
    val exists = Files.exists(Paths.get(path))
    if (!exists) {
      val obs = new org.apache.spark.sql.Observation("upsert_insert_only")
      updates.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(path)
      return (obs.get("n").asInstanceOf[Long], 0L)
    }
    val target = spark.read.parquet(path)
    val merged = mergeFrames(target, updates, keyField, stampUpdatedAt)
    // inserted/updated counts observed DURING the write — the merge join
    // executes once (the earlier agg-then-write form ran it twice)
    val obs = new org.apache.spark.sql.Observation("upsert_metrics")
    val out = merged.observe(obs,
        sum(when(col("__is_insert"), 1L).otherwise(0L)).as("inserted"),
        sum(when(col("__is_update"), 1L).otherwise(0L)).as("updated"))
      .drop("__is_insert", "__is_update")
    writeSwap(spark, out, path)
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
    writeSwap(spark, keep, path)
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
    writeSwap(spark, keep, path)
    obsAll.get("n").asInstanceOf[Long] - obsKeep.get("n").asInstanceOf[Long]
  }

  /** Overwriting a path we are also reading requires materializing away
    * from it first: write temp dir, swap atomically at the directory
    * level. */
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
    writeSwap(spark, df.repartition(n), path)
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
      import scala.jdk.CollectionConverters._
      val root = Paths.get(path)
      if (!Files.exists(root)) Seq.empty
      else Files.list(root).iterator().asScala
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
      import scala.jdk.CollectionConverters._
      val root = Paths.get(path)
      if (!Files.exists(root)) Seq.empty
      else Files.list(root).iterator().asScala
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
      import scala.jdk.CollectionConverters._
      val doomed = committed(path).dropRight(keep)
      doomed.foreach { v =>
        val d = Paths.get(s"$path/v=$v")
        Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
      }
      doomed
    }
  }

  /** Heal [[writeSwap]]'s crash windows before touching `path` — MUST
    * run before a read-modify-write op reads the target or tests its
    * existence (every such op here calls it first):
    *  - live missing + staged complete (`_SUCCESS`): the crash hit
    *    between the two moves — finish the swap (the staged table is
    *    the later state; an at-least-once caller re-applies its batch
    *    idempotently on top);
    *  - live missing + only `.__old__` present: the staged write never
    *    completed — restore the old table;
    *  - stale `.__old__`/`.__tmp__` from a crash after the swap (or a
    *    failed staged write): removed, else the NEXT swap's
    *    ATOMIC_MOVE onto the existing `.__old__` would throw.
    * Without this, a crash inside the swap window turned the next
    * upsert into an insert-only write that silently dropped every
    * other key of the target (found by the chaos suite). */
  def healSwap(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(path)
    val tmp = Paths.get(path + ".__tmp__")
    val del = Paths.get(path + ".__old__")
    def rm(d: java.nio.file.Path): Unit = {
      if (Files.exists(d))
        Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
      ()
    }
    if (!Files.exists(p)) {
      if (Files.exists(tmp.resolve("_SUCCESS")))
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      else if (Files.exists(del))
        Files.move(del, p, StandardCopyOption.ATOMIC_MOVE)
    }
    rm(del); rm(tmp)
  }

  /** Stage-then-swap table rewrite: readers racing the swap see the
    * old or the new complete table. Crash windows between the
    * failpoints are healed by [[healSwap]] on the next op. */
  def writeSwap(spark: SparkSession, df: DataFrame, path: String): Unit =
    writeSwapWith(spark, df, path)(_ => ())

  /** [[writeSwap]] with a post-stage hook: `afterStage` runs on the
    * COMPLETE staged directory before any destructive step, so sidecar
    * files it adds (e.g. applied-batch markers — see
    * `Incremental.mergeMergeableOnce`) publish ATOMICALLY with the
    * data: a crash during the hook leaves the live table untouched
    * (the stale staged dir is discarded on the next op), and once the
    * swap starts the staged dir already carries everything. */
  def writeSwapWith(spark: SparkSession, df: DataFrame, path: String)(
      afterStage: java.nio.file.Path => Unit): Unit = {
    healSwap(path)
    val tmp = path + ".__tmp__"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    afterStage(Paths.get(tmp))
    graft.Failpoints.point("sinks.swap.staged")
    val p = Paths.get(path)
    val del = Paths.get(path + ".__old__")
    if (Files.exists(p)) Files.move(p, del, StandardCopyOption.ATOMIC_MOVE)
    graft.Failpoints.point("sinks.swap.live_removed")
    Files.move(Paths.get(tmp), p, StandardCopyOption.ATOMIC_MOVE)
    graft.Failpoints.point("sinks.swap.swapped")
    if (Files.exists(del)) {
      import scala.jdk.CollectionConverters._
      Files.walk(del).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    }
  }

  /** WRITE-AUDIT-PUBLISH: the lakehouse promotion protocol — data is
    * staged beside the live table, the audit runs against the STAGED
    * files (what readers would actually see, not the in-memory frame
    * that produced them), and only a passing audit swaps staging into
    * the live path ([[writeSwap]] — readers never observe a partial
    * table). A failing audit leaves the live table untouched and
    * returns the reason; staging is removed either way.
    *
    * `audit` returns None to approve or Some(reason) to veto — the
    * caller plugs in the engine's validators (`validate.Validators`,
    * row-count deltas, [[contentChecksum]]). At 100 TB this is the
    * same protocol Iceberg/Delta WAP branches implement with snapshot
    * refs; on plain parquet the staged directory plays the branch. */
  def writeAuditPublish(spark: SparkSession, df: DataFrame, path: String,
      audit: DataFrame => Option[String]): Either[String, Long] = {
    // heal a prior crashed swap first (WAP's promote shares the
    // .__old__ suffix with writeSwap): a stale .__old__ would make
    // this promote's ATOMIC_MOVE throw, and a live table lost between
    // a crashed promote's two moves must be restored before we stage
    healSwap(path)
    val staging = path + ".__staging__"
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    val staged = spark.read.parquet(staging)
    val verdict =
      try audit(staged)
      catch { case e: Exception => Some(s"audit threw: ${e.getMessage}") }
    val result = verdict match {
      case Some(reason) => Left(reason)
      case None => Right(staged.count())
    }
    result match {
      case Right(_) =>
        // promote the already-written staged files; no second write
        val p = Paths.get(path)
        val del = Paths.get(path + ".__old__")
        if (Files.exists(p)) Files.move(p, del, StandardCopyOption.ATOMIC_MOVE)
        Files.move(Paths.get(staging), p, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(del)) {
          import scala.jdk.CollectionConverters._
          Files.walk(del).iterator().asScala.toSeq.reverse
            .foreach(f => Files.deleteIfExists(f))
        }
      case Left(_) =>
        import scala.jdk.CollectionConverters._
        Files.walk(Paths.get(staging)).iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
    }
    result
  }

  /** K5 — points load: declared tag columns (stringified) + field
    * columns + time column; when no field list is given, every numeric
    * non-tag non-time column becomes a field
    * (`base_loaders.py:207-256`, `influx_connector.py:82-111`). Output is
    * long-format partitioned by measurement. */
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

  def loadPoints(df: DataFrame, path: String, measurement: String,
      timeField: String, tagFields: Seq[String],
      fieldFields: Seq[String] = Nil): Long = {
    val pts = pointsFrame(df, measurement, timeField, tagFields, fieldFields)
    // point count observed during the write (no second pass over the
    // long-format explode)
    val obs = new org.apache.spark.sql.Observation()
    pts.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).partitionBy("measurement").parquet(path)
    obs.get("n").asInstanceOf[Long]
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

  /** K8 — content-based routing (`base_loaders.py:395-436`; routing
    * rules `multi_source_ingestion_dag.py:267-305`): route by source
    * name — transaction/order→warehouse, event/log→documents,
    * user/profile→both, everything→archive. */
  final case class Route(name: String, predicate: Column,
    sink: DataFrame => Long)

  /** Load each route's filtered rows through its sink; results keyed by
    * route name, so names must be distinct.
    *
    * The writes run concurrently, one thread per route started inside
    * this call: each route must target its own path. The threads
    * inherit the caller's Spark local properties (scheduler pool, job
    * group), and each write's jobs are labelled `route:<name>`. The
    * frame is persisted and whichever write reaches a partition first
    * fills the cache, so the source is scanned once, not once per
    * route; a single route writes directly on the caller's thread. A
    * failing route is isolated as an `error` result; `stats` records
    * the results in route order. */
  def routeAndLoad(df: DataFrame, routes: Seq[Route],
      stats: Option[LoadStats] = None): Map[String, LoadResult] = {
    val names = routes.map(_.name)
    require(names.distinct.sizeIs == names.size,
      s"duplicate route names in: ${names.mkString(", ")}")
    val sc = df.sparkSession.sparkContext
    def write(src: DataFrame, r: Route): LoadResult = scala.util.Try(
        graft.etl.Utils.withJobDescription(sc, s"route:${r.name}")(
          r.sink(src.where(r.predicate)))) match {
      case scala.util.Success(n) => LoadResult(r.name, "success", n)
      case scala.util.Failure(e) =>
        LoadResult(r.name, "error", 0L, Some(e.getMessage))
    }
    val results =
      if (routes.sizeIs <= 1) routes.map(write(df, _))
      else {
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        try graft.etl.Utils.inParallel(
          routes.map(r => () => write(cached, r)): _*)
        finally cached.unpersist()
      }
    results.foreach(r => stats.foreach(_.record(r)))
    results.map(r => r.target -> r).toMap
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

  def standardRoutes(base: String): Seq[Route] =
    routePatterns.map { case (name, pat) =>
      Route(name, col("_source").rlike(pat), d => load(d, s"$base/$name"))
    } :+ Route("archive", lit(true), d => load(d, s"$base/archive"))

  /** [[standardRoutes]] in its EXACTLY-ONCE per-batch form for
    * at-least-once callers ([[graft.streaming.Streaming.routeStream]]):
    * each route lands the batch as `<base>/<route>/batch=<id>` with
    * OVERWRITE, so a replayed batch (crash between the route fan-out
    * and the checkpoint commit) rewrites exactly its own partition
    * directories instead of appending a duplicate copy of every row to
    * every matching route — the same per-batch-overwrite shape as the
    * near-dup results and the audited-append gate. Readers of
    * `<base>/<route>` see `batch` as a partition column and ignore it
    * by projecting their own columns. */
  def standardRoutesOnce(base: String, batchId: Long): Seq[Route] =
    routePatterns.map { case (name, pat) =>
      Route(name, col("_source").rlike(pat),
        d => load(d, s"$base/$name/batch=$batchId", ifExists = "replace"))
    } :+ Route("archive", lit(true),
      d => load(d, s"$base/archive/batch=$batchId", ifExists = "replace"))
}
