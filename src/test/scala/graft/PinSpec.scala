package graft

import org.apache.spark.graftx.JobProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators._
import graft.plans.Pin

/** Spark jobs per pin call, and per-operator job budgets: a pin that
  * costs an extra driver action, or a deferred pin switched to an
  * eager one, fails here and not only in the bench. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private def jobs[A](body: => A): (A, Int) = {
    val (a, probe) = JobProbe(spark.sparkContext)(body)
    (a, probe.jobs.size)
  }

  // one exchange below the final stage: 97 groups out of 4 partitions
  private def shuffled: DataFrame =
    spark.range(0, 1000, 1, 4).groupBy((col("id") % 97).as("k"))
      .agg(count(lit(1)).as("n"))

  private def levelOf(d: DataFrame): StorageLevel =
    d.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .get.getStorageLevel

  private def rows(d: DataFrame): Set[(Long, Long)] =
    d.as[(Long, Long)].collect().toSet

  private val ser = StorageLevel.MEMORY_AND_DISK_SER

  test("Pin(df, h) runs the jobs of an eager localCheckpoint and counts") {
    val (_, eager) = jobs(shuffled.localCheckpoint(true, ser))
    val (p, hinted) = jobs(Pin(shuffled, 0L))
    assert(hinted <= eager, s"Pin(df, h) ran $hinted jobs, eager $eager")
    // a Dataset.count() over the pin plans its own aggregate exchange:
    // one job more
    val (_, datasetCount) =
      jobs(shuffled.localCheckpoint(false, ser).count())
    assert(hinted < datasetCount)
    assert(p.rows === 97L && p.bytes === 0L)
    assert(rows(p.df) === rows(shuffled))
    assert(levelOf(p.df) === StorageLevel.MEMORY_AND_DISK)
    assert(levelOf(Pin(shuffled, Long.MaxValue).df) === StorageLevel.DISK_ONLY)
  }

  test("Pin(df) measures in the jobs of an eager SER checkpoint plus its tier re-pin") {
    val (_, eagerPair) = jobs(shuffled.localCheckpoint(true, ser)
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK))
    val (p, measured) = jobs(Pin(shuffled))
    assert(measured <= eagerPair, s"Pin(df) ran $measured jobs, eager $eagerPair")
    assert(p.rows === 97L && p.bytes > 0L)
    assert(rows(p.df) === rows(shuffled))
    // a few KB is far under the small-frame budget: re-pinned deserialized
    assert(levelOf(p.df) === StorageLevel.MEMORY_AND_DISK)
  }

  test("Pin.deferred runs no materializing job; its first reader fills it") {
    val (_, narrow) = jobs(Pin.deferred(spark.range(0, 100, 1, 4).toDF, 0L))
    assert(narrow === 0)
    // planning a shuffled frame runs its upstream exchange, nothing more
    val (_, eager) = jobs(shuffled.localCheckpoint(true, ser))
    val (d, deferred) = jobs(Pin.deferred(shuffled, 0L))
    assert(deferred < eager)
    val (first, firstRead) = jobs(rows(d))
    val (_, secondRead) = jobs(rows(d))
    assert(firstRead === secondRead)
    assert(first === rows(shuffled))
  }

  test("a frame with no rows is priced at 0 bytes, not as a DISK_ONLY giant") {
    // the driver's storage info omits an RDD without cached bytes; the
    // pin must still price it at 0, not as an unreadable giant
    Seq(spark.range(0, 0).toDF, spark.emptyDataFrame).foreach { df =>
      val p = Pin(df)
      assert(p.rows === 0L && p.bytes === 0L)
      assert(levelOf(p.df) === StorageLevel.MEMORY_AND_DISK)
      assert(p.df.collect().isEmpty)
    }
  }

  test("iterative graph operators stay within their job budgets") {
    // two directed 3-cycles joined by a bridge, with a tail
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 7L), (7L, 8L)).toDF("src", "dst")
    val sym = g.union(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val weighted = g.withColumn("w", (col("src") + col("dst")) % 3 + 1)
    val src = Seq(1L).toDF("node")
    // counted warm, each call plus the action that reads its result;
    // the bound is the count today, so one more job fails
    def budget(name: String, max: Int)(run: => DataFrame): Unit = {
      run.collect()
      val (_, n) = jobs(run.collect())
      assert(n <= max, s"$name ran $n jobs, budget $max")
    }
    budget("pageRank", 17)(PageRank.pageRank(g, iters = 3))
    budget("hits", 27)(Hits.hits(g, iters = 2))
    budget("colorScc", 27)(Scc.colorScc(g, rounds = 3))
    budget("propagate", 12)(LabelProp.propagate(sym, rounds = 3))
    budget("cheapestPaths", 21)(
      CheapestPath.cheapestPaths(weighted, src, rounds = 4))
    budget("hopDistances", 20)(
      Reachability.hopDistances(g, src, maxDepth = 4))
    budget("kCore", 14)(KCore.kCore(sym, k = 2, rounds = 4))
  }
}
