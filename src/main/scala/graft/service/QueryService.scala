package graft.service

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.etl.{EtlJob, EtlResult, Utils}
import graft.sinks.Sinks
import graft.sources.Sources

/** Interactive query/upload/ETL service surface — the engine-side
  * binding of the reference's API endpoints (`src/api/main.py`:
  * query 154-221, upload 224-280, ETL trigger + health 63-91). The
  * HTTP frame itself is deployment plumbing (FastAPI there, whatever
  * gateway hosts the driver here); everything the handlers DO —
  * parameter handling, query construction, response envelope — lives
  * in this class so a user of the reference's API has a 1:1 callable
  * surface.
  *
  * Scale stance: every query method returns a LAZY DataFrame wrapped
  * in the response envelope, and every envelope is built by one helper
  * that bounds it to one page (`limit`, else [[QueryService.DefaultLimit]]).
  * Nothing runs until the caller first asks for `records`, which
  * collects that page once; `count` is its size. A 100 TB table behind
  * `query(...)` costs one pruned scan of whatever the predicate
  * selects, driver memory only for the page returned.
  */
final class QueryService(spark: SparkSession, sfDir: String) {

  /** Response envelope (`main.py:168-173`): status + page + count.
    * `data` is the lazy, limit-bounded page; `records` collects it once,
    * on first use, in the request-class scheduler `pool` (so 100+
    * concurrent callers, `docs/README.md:264`, share the cluster FAIRly),
    * and `count` is the page size, as the reference's `len(results)`. */
  final case class Response(status: String, source: String, data: DataFrame,
      pool: String = QueryService.InteractivePool) {
    lazy val records: Seq[Map[String, Any]] = inPool(pool) {
      val cols = data.columns
      // insertion-ordered: JSON keys keep the SELECT's column order
      data.collect().toSeq.map(r => cols.zipWithIndex
        .map { case (c, i) => c -> r.get(i) }.to(VectorMap))
    }
    def count: Long = records.size.toLong
  }

  /** The one place a [[Response]] is built: `df` bounded to one page. */
  private def page(source: String, df: DataFrame,
      limit: Int = QueryService.DefaultLimit,
      pool: String = QueryService.InteractivePool): Response =
    Response("success", source, df.limit(limit), pool)

  /** Run `f`'s Spark jobs in the named scheduler pool: a thread-local
    * property read at job submit, so each concurrent caller tags its own
    * jobs, and under `spark.scheduler.mode=FAIR` pools share by weight. */
  private def inPool[T](pool: String)(f: => T): T =
    Utils.withLocalProperty(spark.sparkContext, Utils.SchedulerPool, pool)(f)

  /** GET /health (`main.py:63-70`) — can the lake be planned against? */
  def health: Map[String, String] = Map(
    "status" -> (if (Sources.validateSource(
      Tables.load(spark, sfDir, Tables.all.head))) "healthy" else "degraded"),
    "engine" -> s"spark-${spark.version}")

  /** GET /api/v1/status (`main.py:72-91`) — per-table availability in
    * place of the reference's per-database connection blocks. */
  def status: Map[String, Boolean] =
    Tables.all.map(t => t -> Sources.validateSource(
      Tables.load(spark, sfDir, t))).toMap

  /** GET /api/v1/query/postgres (`main.py:154-178`): relational scan
    * with raw ANSI WHERE and limit. The reference interpolates the
    * WHERE string into source SQL; here Spark SQL parses the same
    * predicate and Catalyst pushes it into the parquet scan. */
  def query(table: String, where: Option[String] = None,
      limit: Int = 100): Response =
    page(table, Sources.table(spark, sfDir, table, where), limit)

  /** GET /api/v1/query/mongodb (`main.py:180-201`): filter-dict
    * equality conjunction over a collection-style table. */
  def queryCollection(collection: String,
      filter: Map[String, Any] = Map.empty, limit: Int = 100): Response =
    page(collection, Sources.collection(spark, sfDir, collection, filter),
      limit)

  /** String-filter convenience: the reference's endpoint takes the
    * filter as a JSON document (`main.py:187` `json.loads(filter)`). */
  def queryCollectionJson(collection: String, filterJson: String,
      limit: Int = 100): Response = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = mapper
      .readValue(filterJson, classOf[java.util.LinkedHashMap[String, Object]])
      .asScala.toMap[String, Any]
    queryCollection(collection, parsed, limit)
  }

  /** GET /api/v1/query/influxdb (`main.py:203-221`): relative/absolute
    * time-range scan with optional field projection. `now` injectable
    * for determinism, as in `Sources.timeRange`. */
  def queryRange(measurement: String, tsCol: String, start: String = "-1h",
      stop: String = "now()", fields: Seq[String] = Nil,
      now: Column = org.apache.spark.sql.functions.current_timestamp(),
      limit: Int = QueryService.DefaultLimit): Response = {
    val ranged = Sources.timeRange(spark, sfDir, measurement, tsCol,
      start, stop, now = now)
    val projected =
      if (fields.isEmpty) ranged
      else ranged.select((tsCol +: fields).distinct
        .map(org.apache.spark.sql.functions.col): _*)
    page(measurement, projected, limit)
  }

  /** Interactive SQL over the whole lake — the surface a reference user
    * reaches for when the canned endpoints don't fit; every table is a
    * temp view, Catalyst owns the plan. `limit` caps the RESPONSE page;
    * it sits above the user's own LIMIT/aggregation and is a no-op when
    * the query already returns fewer rows. */
  def sql(text: String, limit: Int = QueryService.DefaultLimit): Response = {
    Tables.registerAll(spark, sfDir)
    page("sql", spark.sql(text), limit)
  }

  /** Engine extension the reference cannot offer: the optimized plan
    * for any service query, for pushdown/pruning/broadcast inspection
    * before paying for execution at lake scale. */
  def explain(sqlText: String): String = {
    Tables.registerAll(spark, sfDir)
    spark.sql(sqlText).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** POST /api/v1/data/upload (`main.py:224-280`): load a batch into a
    * lake target. Returns the observed row count, like the reference's
    * per-loader result dict. */
  def upload(data: DataFrame, targetPath: String,
      format: String = "parquet", ifExists: String = "append")
      : Map[String, Any] = inPool(QueryService.BatchPool) {
    val n = Sinks.load(data, targetPath, format, ifExists)
    Map("status" -> "success", "records_loaded" -> n, "target" -> targetPath)
  }

  /** POST /api/v1/etl/run (`main.py:224-271`): trigger an ETL job;
    * response mirrors the endpoint's `{status, extracted_count,
    * transformation_stats, load_results}`. */
  def runEtl(job: EtlJob): (String, EtlResult) =
    inPool(QueryService.BatchPool)(("success", job.run(spark)))

  // ---- vector / graph / multimodal entry points ---------------------
  // The operator families the engine adds beyond the reference's API;
  // same envelope + pool discipline as the canned endpoints, so a
  // serving deployment exposes them as peers of /query/* rather than
  // as library-only calls.

  /** Vector search over a STORED IVF index
    * ([[graft.similarity.Ann.buildIvfIndex]]) with optional attribute
    * filtering and the k-guarantee escalation: a starved query widens
    * its probe rather than silently returning short lists. Vectors
    * streamed in since the build
    * ([[graft.streaming.Streaming.ivfIngestStream]]) are visible
    * before any vacuum: the probe reads base ∪ increment log. */
  def vectorSearch(queries: DataFrame, indexPath: String, k: Int = 10,
      nprobe: Int = 2, where: Option[Column] = None,
      vecCol: String = "embedding", idCol: String = "vec_id"): Response =
    page(indexPath, graft.similarity.Ann.ivfIndexTopKEscalating(spark,
      queries, vecCol, idCol, indexPath, k, nprobe, where))

  /** HITS hub/authority centrality over an edge frame
    * ([[graft.operators.Hits]]) — long-running: batch pool. */
  def graphHits(edges: DataFrame, iters: Int = 2): Response =
    inPool(QueryService.BatchPool)(page("hits",
      graft.operators.Hits.hits(edges, iters), pool = QueryService.BatchPool))

  /** Per-track MP4 sample-table stats
    * ([[graft.multimodal.Multimodal.probeMp4Tracks]]): fps / bitrate /
    * keyframe density, no codec. */
  def mp4TrackStats(media: DataFrame): Response =
    page("mp4_tracks", graft.multimodal.Multimodal.probeMp4Tracks(media))

  /** MP4 video-sample extraction
    * ([[graft.multimodal.Multimodal.probeMp4Samples]]):
    * `stsz`/`stsc`/`stco`/`co64` resolved into exact payload bytes —
    * the codec-free sample grain below [[mp4TrackStats]]. */
  def mp4Samples(media: DataFrame): Response =
    page("mp4_samples", graft.multimodal.Multimodal.probeMp4Samples(media))

  /** Influx line-protocol ingest ([[graft.sources.LineProtocol]]):
    * text lines → typed point frame, malformed lines skipped. */
  def ingestLineProtocol(lines: org.apache.spark.sql.Dataset[String])
      : Response =
    page("line_protocol", graft.sources.LineProtocol.parse(lines))

  /** MongoDB Extended JSON ingest ([[graft.sources.ExtendedJson]]):
    * one canonical-v2 document per line → `schema`-typed frame,
    * malformed lines skipped. */
  def ingestExtendedJson(lines: org.apache.spark.sql.Dataset[String],
      schema: org.apache.spark.sql.types.StructType): Response =
    page("extended_json", graft.sources.ExtendedJson.parse(lines, schema))
}

object QueryService {
  /** Response-page cap for every entry point that takes no explicit
    * `limit` (`sql` and `queryRange` default to it; the vector, graph,
    * multimodal and ingest entry points always use it), so
    * `Response.records` is bounded on every path. */
  val DefaultLimit: Int = 10000

  /** Request-class scheduler pools (deploy with
    * `spark.scheduler.mode=FAIR`): short interactive queries must not
    * queue behind long ETL/upload jobs. Pools are created on first
    * use; weights/minShare come from the deployment's fair-scheduler
    * allocation file when one is configured. */
  val InteractivePool = "graft-interactive"
  val BatchPool = "graft-batch"
}
