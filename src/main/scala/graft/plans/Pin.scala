package graft.plans

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** A materialized [[Pin]]: the frame, its serialized footprint (measured,
  * or the caller's hint) and its row count. */
final case class Pinned[T](df: Dataset[T], bytes: Long, rows: Long)

/** Spill-safe lineage pin for loop-invariant and per-round frames,
  * with a MEASURED storage-level tier.
  *
  * `df.localCheckpoint()` defaults to a DESERIALIZED storage level:
  * the memory store copies every `UnsafeRow` into on-heap objects, and
  * the unroll accounting lags real allocation enough under 32
  * concurrent tasks that a big frame OOMs the JVM instead of degrading
  * (measured: `graph_pagerank` at sf10 — 117M-edge loop invariant —
  * killed a 32 GiB heap with `OutOfMemoryError` inside
  * `MemoryStore.putIteratorAsValues`, Spark exit 52, while the sf1 run
  * was comfortable; the second scale decade exists to catch exactly
  * this). MEMORY_AND_DISK_SER stores the serialized bytes through the
  * byte-buffer unroll path instead — bounded build-up, spills to disk
  * when memory runs out, never a row-object explosion — but it taxes
  * every RE-READ with a deserialization pass, and the iterative graph
  * operators re-read their pins once per superstep: measured 15–45%
  * on the whole family at sf0.1 (`graph_pagerank` 3.55 → 5.05 s,
  * `graph_kcore` 1.51 → 2.22 s, driver-to-driver under faster probes).
  *
  * So the level is TIERED BY MEASURED SIZE, not guessed: every frame
  * first pins serialized (always safe — the unroll path is bounded
  * regardless of the frame's true size, which is unknowable before
  * materialization; a Catalyst estimate would be a guess that joins
  * inflate multiplicatively and compression deflates), then the ACTUAL
  * cached bytes are read from the block managers that store them. A
  * frame under the small-frame budget re-pins DESERIALIZED from the
  * serialized copy (one cheap in-memory pass — by construction only
  * ever paid on small frames) and the serialized copy is dropped;
  * supersteps then re-read row objects at zero decode cost. A frame
  * over the budget stays serialized — the sf10 OOM fix intact.
  *
  * Budget: min(heap/32, 1 GiB) — at the bench's 32 GiB heap every
  * sf0.1/sf1 graph frame (≤ ~300 MB serialized) tiers deserialized
  * while the sf10 117M-edge frame (multi-GB serialized) stays SER; at
  * the 4 GiB MemStress heap the budget shrinks to 128 MB, so
  * constrained heaps keep the spill-safe form for everything that
  * matters.
  *
  * A THIRD tier (round 12) covers the memory-HOSTILE end: frames
  * whose serialized footprint reaches heap/8 re-pin DISK_ONLY, because
  * the SER form's disk-spilled blocks are re-INFLATED wholesale on
  * every re-read (`maybeCacheDiskBytesInMemory`) and 32 concurrent
  * readers of a multi-GB pin OOM a constrained heap — see
  * [[diskOnlyBytes]] for the measured failure.
  *
  * Two calls: [[apply]] materializes (one job, like an eager
  * checkpoint, plus the tier re-pin when it measures) and returns the
  * frame with its bytes and row count; [[deferred]] truncates the plan
  * at once and leaves the blocks to its first reader. Every iterative
  * operator (PageRank, HITS, CC, SCC, k-core, label-prop,
  * Bellman–Ford, reachability, temporal reach) and every
  * boundary-pinning materialization in `plans.Scale` pins through
  * here, so the storage-level decision lives in one place. */
object Pin {

  private def smallBytes: Long =
    math.min(Runtime.getRuntime.maxMemory / 32, 1L << 30)

  /** Threshold above which a pin drops the MEMORY half entirely
    * (DISK_ONLY). Measured failure mode (round 12, sf10 under an
    * 8 GiB heap): a MEMORY_AND_DISK_SER block that spilled to disk is
    * RE-INFLATED on every re-read — `BlockManager.
    * maybeCacheDiskBytesInMemory` materializes the whole serialized
    * partition as one ChunkedByteBuffer per reading task before the
    * memory store accepts or rejects it, so 32 concurrent tasks
    * re-reading a multi-GB pin allocate 32 × partition-bytes of
    * transient heap on top of execution memory → task
    * `OutOfMemoryError` (graph_pagerank died exactly there; stack:
    * DiskBlockData.toChunkedByteBuffer ← maybeCacheDiskBytesInMemory
    * ← getLocalValues). A DISK_ONLY level never re-caches — re-reads
    * STREAM from disk with bounded buffers — so a frame big enough
    * to have spilled anyway (> heap/8 serialized) serves strictly
    * safer from disk, at sequential-read cost the superstep loop
    * already paid once per round under SER. */
  private def diskOnlyBytes: Long = Runtime.getRuntime.maxMemory / 8

  private def levelFor(bytes: Long): StorageLevel =
    if (bytes <= smallBytes) StorageLevel.MEMORY_AND_DISK
    else if (bytes >= diskOnlyBytes) StorageLevel.DISK_ONLY
    else StorageLevel.MEMORY_AND_DISK_SER

  /** The RDD behind a locally checkpointed Dataset: its plan is a
    * `LogicalRDD` leaf over the marked RDD. */
  private def checkpointed(d: Dataset[_]): RDD[_] =
    d.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get

  /** Materializing pin. Counting the checkpointed RDD fills its blocks
    * in one job — the job an eager `localCheckpoint` runs internally —
    * and keeps the row count, where a `Dataset.count()` would plan its
    * own aggregate exchange on top (one more job).
    *
    * With a `hintBytes` ≥ 0 the frame pins once at the level a frame
    * of that serialized size warrants — for frames BOUNDED by an
    * already-measured sibling: every per-round frame of an iterative
    * operator is at most nodes ⊆ edges, so the root edge frame's
    * measurement prices the whole loop. The hint errs conservative at
    * scale (a multi-GB edge frame keeps every loop frame serialized —
    * the sf10-OOM-safe form); under the budget it recovers the
    * zero-decode re-reads the superstep family lives on.
    *
    * Without one (the default; any negative value) the frame pins
    * serialized, and the same job sums its real footprint (memory plus
    * any spilled disk bytes): each task reads the size of the block it
    * just stored from its own block manager. The driver's
    * `getRDDStorageInfo` cannot serve here — the listener bus feeds it
    * asynchronously, so right after the job it may not list the blocks
    * yet, and it omits an RDD with no cached bytes (an empty frame);
    * either way a small frame would price as unreadable and re-pin
    * DISK_ONLY. A frame outside the SER tier re-pins at its level in
    * one more pass. */
  def apply[T](df: Dataset[T], hintBytes: Long = -1L): Pinned[T] =
    if (hintBytes >= 0) {
      val d = deferred(df, hintBytes)
      Pinned(d, hintBytes, checkpointed(d).count())
    } else {
      val ser = df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
      val rdd = checkpointed(ser)
      val id = rdd.id
      val parts = ser.sparkSession.sparkContext.runJob(rdd,
        (ctx: TaskContext, it: Iterator[_]) => {
          val rows = it.size.toLong
          val stored = SparkEnv.get.blockManager
            .getStatus(RDDBlockId(id, ctx.partitionId()))
          (rows, stored.map(s => s.memSize + s.diskSize).getOrElse(0L))
        })
      val rows = parts.map(_._1).sum
      val bytes = parts.map(_._2).sum
      val level = levelFor(bytes)
      if (level == StorageLevel.MEMORY_AND_DISK_SER) Pinned(ser, bytes, rows)
      else {
        val repinned = ser.localCheckpoint(true, level)
        org.apache.spark.graftx.Blocks.drop(rdd)
        Pinned(repinned, bytes, rows)
      }
    }

  /** LAZY pin at the level a frame of `hintBytes` serialized size
    * warrants: plan truncation is immediate (the returned plan is the
    * same `LogicalRDD` leaf [[apply]] yields) but the blocks
    * materialize inside the FIRST consuming job instead of a dedicated
    * driver action. (Exchanges below the frame still run at the call:
    * adaptive execution materializes them when the pin is planned.)
    *
    * Contract — a SINGLE FIRST READER: the first consumer must compute
    * every partition before any sibling reads it (a broadcast subtree
    * feeding the other readers, a count, the single join probe of the
    * next superstep). Two genuinely CONCURRENT first readers
    * (independent AQE stages, two broadcast futures fired at plan
    * construction) each recompute the untruncated subtree, and nested
    * across loop rounds that recompute grows exponentially — the HITS
    * storm of round 13. Use [[apply]] there (SCC's per-round flag pins,
    * whose two round-k+1 references are independent exchange stages). */
  def deferred[T](df: Dataset[T], hintBytes: Long): Dataset[T] =
    df.localCheckpoint(false, levelFor(hintBytes))
}
