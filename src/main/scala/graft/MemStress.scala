package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Constrained-memory evidence: run the heaviest queries under a
  * DELIBERATELY small heap and record per-query spill, proving the
  * engine degrades to disk instead of dying. Every scale claim the
  * bench makes is time-based; this is the memory-based half — "no
  * driver-side bottleneck at 100 TB" also means no hidden
  * executor-sized materialization, and SPILL-NOT-OOM is the proof: an
  * operator that buffers an unbounded structure in task memory OOMs
  * under a 4 GiB heap at sf1, while a sort/agg/join that degrades
  * through Spark's UnsafeExternalSorter spills and finishes.
  *
  * Run (heap via the build's SPARK_DRIVER_MEM knob; 4g is the
  * BASELINE.md protocol — 32 executor threads sharing 4 GiB at sf1 is
  * ~100× less memory-per-row than the comfortable 32 GiB default):
  *
  *   SPARK_DRIVER_MEM=4g SPARK_GRAFT_SF_DIR=/tmp/sf1 \
  *     SPARK_GRAFT_ONLY="<top-10 names>" \
  *     sbt -batch "runMain graft.MemStress"
  *
  * Output: one JSON line per run — per-query secs + memory/disk spill
  * bytes, `n_failed` (an OOM lands there or kills the JVM, either way
  * loud; a failed query gets no `queries` entry) — also written to
  * MEMSTRESS.json. Each query runs once through [[Bench.Runner]].
  * Uses default `spark.memory.fraction` and [[Session]]'s shuffle
  * partitions (one per core) so the partition sizing claim ("fits in
  * executor memory at the target SF") is tested, not tuned around. */
object MemStress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    // no spark.local.dir override: the evidence is disk-spill behavior
    val spark = Session("graft-memstress")
    val heapMb = Runtime.getRuntime.maxMemory() / 1048576
    // Bench's warm-up so secs aren't JIT noise; the spill numbers are
    // unaffected either way
    Bench.warmUp(spark)
    val runner = new Bench.Runner(spark, "memstress")
    val names = Bench.selected()
    val queries = names.flatMap { case (name, fn) =>
      val r = runner(name, s"at $sfDir", metered = true)(fn(spark, sfDir))
      val d = r.io.get
      r.secs.map(secs => name -> ListMap("secs" -> Bench.round(secs),
        "spill_mem_mb" -> Bench.round(d.spillMem / 1048576.0, 1),
        "spill_disk_mb" -> Bench.round(d.spillDisk / 1048576.0, 1)))
    }
    val line = Bench.json(ListMap("metric" -> "memstress",
      "heap_mb" -> heapMb, "sf" -> sfDir, "n_queries" -> names.length,
      "n_failed" -> runner.failed.size, "failures" -> runner.failed.toSeq,
      "queries" -> ListMap.from(queries)))
    Files.writeString(Paths.get("MEMSTRESS.json"), line + "\n")
    println(line)
    spark.stop()
    if (runner.failed.nonEmpty) sys.exit(2)
  }
}
