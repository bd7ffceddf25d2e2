package graft

import org.apache.spark.graftx.JobProbe
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
import org.apache.spark.sql.functions._

import graft.service.QueryService

/** A service response is one bounded page: `records` collects it once and
  * `count` is its size, so reading both costs the jobs of one collect and
  * reading the page again costs none. Every entry point's `data` carries
  * the page limit, including the ones that take no `limit` argument. */
class ServicePageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val svc = new QueryService(spark, sf0001)

  private def jobs[A](body: => A): Int =
    JobProbe(spark.sparkContext)(body)._2.jobs.size

  private def pageLimit(r: svc.Response): Option[Int] =
    r.data.queryExecution.analyzed match {
      case GlobalLimit(IntegerLiteral(n), _) => Some(n)
      case _ => None
    }

  // the read shapes of the serve workload, on keys present at sf0.001
  private val reads: Seq[(String, () => svc.Response)] = Seq(
    "point" -> (() => svc.query("orders", Some("o_orderkey = 7"), 10)),
    "range" -> (() => svc.query("lineitem",
      Some("l_orderkey BETWEEN 1 AND 5"), 200)),
    "collection" -> (() =>
      svc.queryCollectionJson("events", """{"user_id": 3}""", 1000)),
    "timerange" -> (() => svc.queryRange("events", "ts",
      "2024-01-02 00:00:00", "2024-01-02 12:00:00",
      Seq("user_id", "event_type", "value"))),
    "sql aggregate" -> (() => svc.sql(
      "SELECT o_orderpriority, count(*) AS n FROM orders " +
        "WHERE o_custkey BETWEEN 1 AND 50 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority", 1000)))

  for ((name, read) <- reads)
    test(s"$name read: count adds no job, a second records call none") {
      read().records // first touch: file listing, view registration
      val alone = read()
      val recordsJobs = jobs(alone.records)
      val r = read()
      val bothJobs = jobs { r.records; r.count }
      assert(recordsJobs >= 1 && bothJobs <= recordsJobs,
        s"records alone: $recordsJobs jobs, records + count: $bothJobs")
      assert(r.count == r.records.size.toLong && r.count > 0)
      assert(jobs(r.records) == 0)
    }

  test("entry points without a limit argument page at DefaultLimit") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val idxPath = graft.etl.Utils.scratchDir("graft_pageidx") + "/idx"
    graft.similarity.Ann.buildIvfIndex(e, "embedding", "vec_id",
      idxPath, nlist = 4)
    val events = Tables.load(spark, sf0001, "events")
    val media = graft.multimodal.SyntheticImages.mp4Table(spark, sf0001,
      n = 4)
    val asciiMedia = graft.multimodal.SyntheticImages
      .mp4AsciiTable(spark, sf0001, n = 4)
    val unbounded = Seq(
      "vectorSearch" -> svc.vectorSearch(e.filter(col("vec_id") < 2),
        idxPath, k = 3),
      "graphHits" -> svc.graphHits(
        Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")),
      "mp4TrackStats" -> svc.mp4TrackStats(media),
      "mp4Samples" -> svc.mp4Samples(asciiMedia),
      "ingestLineProtocol" -> svc.ingestLineProtocol(
        graft.sources.LineProtocol.serialize(events, "events", "ts",
          Seq("event_type"))),
      "ingestExtendedJson" -> svc.ingestExtendedJson(
        graft.sources.ExtendedJson.serialize(events), events.schema))
    for ((name, r) <- unbounded)
      assert(pageLimit(r).contains(QueryService.DefaultLimit), name)
  }
}
