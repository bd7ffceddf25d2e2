package graft

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
  * loud) — also written to MEMSTRESS.json. Uses default
  * `spark.memory.fraction` and [[Session]]'s shuffle partitions (one
  * per core) so the partition sizing claim ("fits in executor memory
  * at the target SF") is tested, not tuned around. */
object MemStress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    // no spark.local.dir override: the evidence is disk-spill behavior
    val spark = Session("graft-memstress")
    val heapMb = Runtime.getRuntime.maxMemory() / 1048576
    // JVM/codegen warmup (Bench's protocol) so secs aren't JIT-noise;
    // the spill numbers are unaffected either way
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val acc = org.apache.spark.graftx.StageMetrics
      .install(spark.sparkContext)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val out = scala.collection.mutable.ListBuffer
      .empty[(String, Double, Long, Long)]
    for ((name, fn) <- names) {
      val before = org.apache.spark.graftx.StageMetrics
        .totals(spark.sparkContext, acc)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[memstress] $name failed: ${e.getMessage}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val d = org.apache.spark.graftx.StageMetrics
        .totals(spark.sparkContext, acc) - before
      out += ((name, secs, d.spillMem, d.spillDisk))
      org.apache.spark.graftx.Blocks.dropAll(spark)
    }
    val qJson = out.map { case (n, s, sm, sd) =>
      "\"" + n + f"""\":{"secs":$s%.3f,"spill_mem_mb":${sm / 1048576.0}%.1f,""" +
        f""""spill_disk_mb":${sd / 1048576.0}%.1f}"""
    }.mkString("{", ",", "}")
    val line =
      f"""{"metric":"memstress","heap_mb":$heapMb,"sf":"$sfDir",""" +
        f""""n_queries":${out.length},"n_failed":${failed.size},""" +
        f""""failures":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        f""""queries":$qJson}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("MEMSTRESS.json"), line + "\n")
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
