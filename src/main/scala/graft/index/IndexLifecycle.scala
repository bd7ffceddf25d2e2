package graft.index

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared kernel of the two on-disk index lifecycles (MinHash-LSH in
  * `graft.dedup.Dedup`, IVF in `graft.similarity.Ann`). Both families
  * grew the same maintenance machinery independently — tombstone
  * append, mask-at-probe anti-join, snapshot-scoped cleanup — and an
  * exactly-once fix had to land twice. This module is the single
  * implementation both delegate to. Their rewrites publish through
  * the lake's one swap protocol, `graft.sinks.Sinks.swap`.
  *
  * Correctness properties the kernel pins (each has a direct spec in
  * `IndexLifecycleSpec`, plus the end-to-end purge≡never-indexed
  * property suites of both families):
  *
  *  - **Type-preserving tombstones.** [[appendTombstones]] keeps the id
  *    column's ORIGINAL type (no silent `cast("long")`): a string-id
  *    corpus's takedown must anti-join against the postings' string
  *    ids, not produce null tombstones that match nothing and silently
  *    no-op a right-to-be-forgotten delete.
  *  - **Snapshot-scoped maintenance.** A vacuum/compact pass lists the
  *    tombstone (and increment) FILES at entry, reads exactly those,
  *    and at the end deletes exactly those. Files appended by a
  *    concurrent `delete*`/`append*` between the scan and the cleanup
  *    survive untouched for the next pass — the lost-takedown race
  *    (tombstone destroyed without ever being applied) cannot happen,
  *    and one snapshot feeds every sub-swap of a pass so a mid-run
  *    tombstone can never be applied to one half of an index (buckets)
  *    but not the other (tokens).
  *  - **Idempotent maintenance.** A vacuum/compact rewrite publishes
  *    through `Sinks.swap` (never a partial directory; healed on the
  *    next pass). Increments/tombstones left over by a crash AFTER the
  *    swap but before the cleanup are not healed here — the caller's
  *    rewrite must be idempotent against re-applied inputs (dedup the
  *    union, anti-join already-purged ids), which both families'
  *    vacuum paths are.
  *
  * Single-writer contract: maintenance ops (vacuum/compact) assume one
  * writer at a time against one index. A concurrent PROBE sees the old
  * or the new directory, or none for the instant between the swap's
  * two renames; concurrent tombstone/increment APPENDS are safe by the
  * snapshot rule above.
  */
object IndexLifecycle {

  /** Append takedown ids to `dir` as an append-only tombstone file set,
    * PRESERVING the id column's type (a cast-to-long would turn a
    * string-id corpus's tombstones into nulls whose anti-join matches
    * nothing — the takedown would silently no-op). O(ids): no posting
    * file is touched; masking happens at probe time
    * ([[maskTombstoned]]), purging at the next vacuum/compact.
    * Idempotent under at-least-once callers: duplicate tombstone rows
    * collapse in the probe-side distinct. */
  def appendTombstones(ids: DataFrame, idCol: String, keyName: String,
      dir: String): Unit =
    ids.select(col(idCol).as(keyName)).distinct()
      .write.mode("append").parquet(dir)

  /** Mask tombstoned rows out of a probe's view: anti-join `df` against
    * the tombstone set if one exists. A takedown-sized set anti-joins
    * cheaply (AQE broadcasts it); a purge-sized one is what vacuum is
    * for. */
  def maskTombstoned(df: DataFrame, keyName: String,
      dir: String): DataFrame = {
    if (!Files.isDirectory(Paths.get(dir))) df
    else df.join(
      df.sparkSession.read.parquet(dir).distinct(),
      Seq(keyName), "left_anti")
  }

  /** Snapshot the data files currently under `dir` (recursive,
    * `part-*` parquet files only — markers and late-arriving files are
    * excluded). The maintenance contract: read exactly these, delete
    * exactly these ([[deleteSnapshot]]); anything appended after the
    * snapshot belongs to the next pass. */
  def snapshotFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      .toSeq
  }

  /** Read exactly the snapshotted files (None when the snapshot is
    * empty). `basePath` recovers partition-directory columns
    * (`cell=…`, `batch=…`) that a bare file-list read would drop. */
  def readSnapshot(spark: SparkSession, basePath: String,
      files: Seq[Path]): Option[DataFrame] =
    if (files.isEmpty) None
    else Some(spark.read.option("basePath", basePath)
      .parquet(files.map(_.toString): _*))

  /** Delete exactly the snapshotted files, then prune now-empty
    * directories under `root` (best-effort, children first). Files that
    * arrived after the snapshot — and the directories holding them —
    * survive for the next maintenance pass. */
  def deleteSnapshot(root: String, files: Seq[Path]): Unit = {
    if (files.isEmpty) return
    files.foreach(Files.deleteIfExists(_))
    val r = Paths.get(root)
    if (Files.isDirectory(r)) {
      // longest paths first = children before parents; a non-empty dir
      // simply fails the delete attempt and stays
      Files.walk(r).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach { p =>
          if (Files.isDirectory(p) ||
            !p.getFileName.toString.startsWith("part-")) {
            try {
              if (Files.isDirectory(p)) {
                if (!Files.list(p).iterator().hasNext) Files.delete(p)
              } else Files.delete(p) // stale markers (_SUCCESS, .crc)
            } catch { case _: java.io.IOException => () }
          }
        }
      try {
        if (Files.isDirectory(r) && !Files.list(r).iterator().hasNext)
          Files.delete(r)
      } catch { case _: java.io.IOException => () }
    }
  }
}
